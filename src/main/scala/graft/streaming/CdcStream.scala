package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.functions.BatchConstant
import graft.operators.{CdcWindow, Merge, SystemColumns}
import graft.sinks.DeltaSegments
import graft.state.StateStore

/** Structured-Streaming CDC pipeline: a replayable change log in, an
  * upserted table + committed position out.
  *
  * Reference shape: `drivers/abstract/cdc.go:100-164` consumes an
  * ordered change stream, stamps system columns (op type via the
  * per-stream insert-dedup window), pushes to writers, and on commit
  * persists the CDC position + the closed dedup window in the sink's
  * 2PC metadata (`types/metadata_state.go:9-16`,
  * `IcebergTableOperator.java:83`). Replays after a crash re-deliver
  * changes at or below the committed LSN and must be dropped
  * (`drivers/postgres/internal/cdc.go:160-202`).
  *
  * Spark-first mapping:
  *  - the change log is a streaming source (file JSON here; Kafka in
  *    production — same plan);
  *  - per-key replay dedup is `flatMapGroupsWithState` keyed on
  *    `_olake_id` with the last-applied LSN as state — Structured
  *    Streaming's state store persists it in the checkpoint, which is
  *    the reference's `state.json` made durable for free;
  *  - apply/merge runs in `foreachBatch` (dedup-keep-latest + MERGE
  *    semantics from operators.Merge), and the position commit rides
  *    the same batch via an idempotent batchId check — the 2PC analog.
  */
object CdcStream {

  /** Streaming read of a JSON change log directory. `maxFilesPerTrigger`
    * bounds each micro-batch like the reference's 10k-record writer
    * buffers (`protocol/root.go:144`). */
  def readChangeLog(spark: SparkSession, dir: String, schema: StructType,
                    maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Per-key replay dedup: drop any change whose LSN is not strictly
    * greater than the last LSN applied for that key; state = last LSN
    * per `_olake_id`, persisted in the streaming checkpoint.
    *
    * NOT in the default pipeline: the reference's replay contract is
    * POSITION-based, not per-key (`drivers/postgres/internal/
    * cdc.go:160-202` — replays re-deliver everything at or below the
    * committed LSN), and `applyBatch` enforces exactly that with the
    * committed-LSN lower bound, which needs zero streaming state. This
    * operator exists for sources WITHOUT a total position order; for
    * those, pass `ttl` so state is evicted after the source's replay
    * horizon — per-key `NoTimeout` state grows to corpus-key
    * cardinality (billions of entries at 100 TB) and is never safe to
    * keep unbounded. Within a batch, changes apply in LSN order. */
  def dedupReplays(changes: DataFrame, idCol: String, lsnCol: String,
                   ttl: Option[java.time.Duration] = None): DataFrame = {
    val schema = changes.schema
    val idIdx = schema.fieldIndex(idCol)
    val lsnIdx = schema.fieldIndex(lsnCol)
    import org.apache.spark.sql.Encoders
    implicit val rowEnc = Encoders.row(schema)
    implicit val longEnc = Encoders.scalaLong
    implicit val strEnc = Encoders.STRING
    val timeout = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    changes.groupByKey(r => r.getString(idIdx))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        (key: String, rows: Iterator[Row], state: GroupState[Long]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val last = state.getOption.getOrElse(Long.MinValue)
            val fresh = rows.filter(_.getLong(lsnIdx) > last).toSeq
              .sortBy(_.getLong(lsnIdx))
            if (fresh.nonEmpty) {
              state.update(fresh.last.getLong(lsnIdx))
              ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
            }
            fresh.iterator
          }
        })
  }

  /** One micro-batch apply, O(batch) bytes written: stamp op types
    * (honoring the insert-dedup window), drop position replays
    * (committed-LSN lower bound — the reference's position-based replay
    * contract, `drivers/postgres/internal/cdc.go:160-202`),
    * dedup-keep-latest within the batch, then write the survivors as
    * ONE delta segment (the eq-delete-file analog — see
    * `DeltaSegments`). The base snapshot is only rewritten when
    * compaction triggers, amortizing write amplification over
    * `maxDeltaRatio` of the base size. Position commit is keyed on
    * batchId so replayed batches are no-ops; a replay that crashed
    * before the commit rewrites the same deterministic segment path.
    *
    * Up to the compaction, the segment write is the batch's only Spark
    * action: the decode, replay filter and dedup run inside it, and it
    * observes the max LSN to commit; the segment it leaves carries the
    * `_unique_keys` marker (see `DeltaSegments`), so the publish writes
    * its equality deletes without a shuffle. A batch with no row above
    * the committed LSN leaves no segment. */
  def applyBatch(batch: DataFrame, batchId: Long, tablePath: String,
                 statePath: String, stream: String,
                 policy: DeltaSegments.CompactionPolicy =
                   DeltaSegments.CompactionPolicy(),
                 icebergDir: Option[String] = None,
                 partitionRegex: Option[String] = None,
                 maintainEvery: Int = 0,
                 maintainTargetBytes: Long = 128L << 20): Unit = {
    val spark = batch.sparkSession
    val st = StateStore.load(statePath).getOrElse(StateStore.State())
    val ss = st.streams.getOrElse(stream, StateStore.StreamState())
    val lastBatch = ss.offsets.getOrElse("batchId", Long.MinValue)
    if (batchId <= lastBatch) { // replayed batch: already applied
      // a crash between the state commit and the publish left the
      // table's olake_2pc batchId behind the state's: publish now
      icebergDir.filter(d => graft.sinks.IcebergMetadata.commitState(d)
          .forall(j => new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(j).path("batchId").asLong(Long.MinValue) < lastBatch))
        .foreach { dir =>
          DeltaSegments.recoverSwap(tablePath)
          publish(spark, dir, tablePath, stream, lastBatch,
            ss.offsets.get("lsn"), ss.dedupInserts, partitionRegex)
        }
      return
    }
    DeltaSegments.recoverSwap(tablePath)

    // global replay filter: everything at or below the committed LSN
    // was already applied — no per-key state needed for this guarantee.
    // The bound is a BatchConstant, so the stage compiles once: below it
    // sit a decode or a JSON change-log scan, neither of which prunes
    // I/O on it, and a literal would recompile the stage every batch
    val fresh = ss.offsets.get("lsn")
      .fold(batch)(l => batch.where(col("lsn") > BatchConstant.of(l)))
    val stamped = fresh
      .withColumn(SystemColumns.OpType,
        CdcWindow.opType(col("kind"), dedupInserts = ss.dedupInserts))
      .drop("kind")
    // aggregate form: partial-combines hot keys map-side (SCALING.md);
    // its plan proves one row per key, so the segment gets the
    // `_unique_keys` marker and publishes without a shuffle
    val deduped = Merge.dedupKeepLatestAgg(stamped,
      orderCols = Seq(col(SystemColumns.CdcTimestamp),
        Merge.opPriority(col(SystemColumns.OpType)), col("lsn")))
    // the position to commit is observed on the segment write itself:
    // one job runs the dedup and the write, nothing is cached or probed
    val maxLsn = DeltaSegments.writeSegment(deduped, tablePath, batchId,
      maxOf = Some("lsn"))
    // no row survived the replay filter: the batch leaves no segment
    if (maxLsn.isEmpty) DeltaSegments.dropSegment(tablePath, batchId)

    val committed = StateStore.closeDedupWindow(ss.copy(
      offsets = ss.offsets + ("batchId" -> batchId) ++
        maxLsn.map("lsn" -> _)))
    // update, not save: only this stream's writer touches `stream`'s
    // entry (batches are serialized per query), but concurrent streams
    // share the map — writing back the batch-start snapshot `st` would
    // erase their commits
    StateStore.update(statePath)(cur =>
      cur.copy(streams = cur.streams.updated(stream, committed)))
    // compaction AFTER the commit: it is a pure layout optimization —
    // a crash anywhere inside it loses no data (recoverSwap + the
    // idempotence of re-folding segments)
    DeltaSegments.maybeCompact(spark, tablePath, policy, partitionRegex)
    // optional continuous Iceberg publish: every committed batch
    // becomes a v2 merge-on-read snapshot whose summary carries the
    // position state — the reference's per-commit `olake_2pc` property
    // (iceberg.go:521-545), recoverable via IcebergMetadata.commitState.
    // Publish cost is O(current delta set), bounded by the compaction
    // policy, not O(base).
    icebergDir.foreach { dir =>
      publish(spark, dir, tablePath, stream, batchId, maxLsn,
        committed.dedupInserts, partitionRegex)
      // LIVE TABLE SERVICE (production runs maintenance on a cadence,
      // not as an out-of-band CLI): every `maintainEvery` committed
      // batches the composed autoMaintain pass runs against the
      // published table. The current `olake_2pc` fence RE-ANCHORS on
      // each maintenance commit's summary, so a restart recovering
      // from the current snapshot still finds its position whether the
      // last commit was a publish or a compaction. graceMs = 0 is safe
      // HERE (and only here): publishes are serialized per stream
      // inside this very method, so no concurrent in-flight writer can
      // have staged files.
      if (maintainEvery > 0 && batchId % maintainEvery == 0) {
        val fence = graft.sinks.IcebergMetadata.commitState(dir)
        graft.sinks.IcebergMetadata.autoMaintain(spark, dir,
          maintainTargetBytes, graceMs = 0L,
          summary = fence.map("olake_2pc" -> _).toMap): Unit
      }
    }
  }

  /** Publish `tablePath` as `dir`'s next MoR snapshot. Its `olake_2pc`
    * summary mirrors the committed StreamState, like the reference's
    * MetadataState JSON {id, state, dedup_inserts}
    * (types/metadata_state.go:9-16); `partitionRegex` is the reference's
    * per-stream `partition_regex` (iceberg.go:521-545). */
  private def publish(spark: SparkSession, dir: String, tablePath: String,
                      stream: String, batchId: Long, lsn: Option[Long],
                      dedupInserts: Boolean,
                      partitionRegex: Option[String]): Unit = {
    val lsnPart = lsn.map(l => s""","lsn":$l""").getOrElse("")
    val stateJson = s"""{"stream":"$stream","batchId":$batchId$lsnPart""" +
      s""","dedup_inserts":$dedupInserts}"""
    graft.sinks.IcebergMetadata.publishMoR(spark, dir, tablePath,
      summary = Map("olake_2pc" -> stateJson),
      partitionRegex = partitionRegex): Unit
  }

  /** The merged (merge-on-read) view of a CDC table. */
  def readTable(spark: SparkSession, tablePath: String): DataFrame =
    DeltaSegments.read(spark, tablePath)

  /** See `DeltaSegments.recoverSwap` (kept as the streaming-facing
    * entry point). */
  private[graft] def recoverSwap(tablePath: String): Unit =
    DeltaSegments.recoverSwap(tablePath)

  /** Wire the full pipeline: change log dir → per-batch segment write +
    * position commit into `tablePath`/`statePath`. Replay safety is
    * position-based inside `applyBatch` (committed-LSN bound +
    * batchId-idempotent commit), so the stream itself is STATELESS —
    * no per-key state store growing with corpus cardinality. */
  def run(spark: SparkSession, changeDir: String, schema: StructType,
          tablePath: String, statePath: String, checkpoint: String,
          stream: String = "events",
          filter: Option[String] = None,
          selectedColumns: Option[Seq[String]] = None,
          syncNewColumns: Boolean = false,
          icebergDir: Option[String] = None,
          partitionRegex: Option[String] = None,
          maintainEvery: Int = 0,
          maintainTargetBytes: Long = 128L << 20): StreamingQuery = {
    // the stream's record filter applies to CDC records too — the
    // reference's CDC writers are constructed WithApplyFilter(true)
    // (abstract/cdc.go:123) and run the stream filter over every
    // change before writing (parquet.go:426-435). A filtered-out
    // update/delete is simply not applied, same as there.
    val filtered = filter.map(f => graft.spec.FilterSpec.parse(f).toColumn)
    // column selection prunes each change's payload
    // (RetainSelectedColumns, types/stream_configured.go:80-118):
    // keep-list mode emits only selected columns; syncNewColumns mode
    // drops only the EXPLICITLY-unselected set (so columns unknown at
    // selection time flow through — the reference's
    // new-columns-selected-by-default rule). System columns always
    // survive; the filter sees the record BEFORE pruning, like the
    // reference (filter runs in the writer, selection at the callback).
    val sysCols = Set(SystemColumns.OlakeId, "lsn", "kind",
      SystemColumns.CdcTimestamp)
    def prune(df: Dataset[Row]): Dataset[Row] = selectedColumns match {
      case None => df
      case Some(sel) if !syncNewColumns =>
        df.select(df.columns.filter(c =>
          sysCols.contains(c) || sel.contains(c)).map(col): _*)
      case Some(sel) =>
        val dropList = schema.fieldNames
          .filterNot(c => sysCols.contains(c) || sel.contains(c))
        df.drop(dropList: _*)
    }
    readChangeLog(spark, changeDir, schema).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((df: Dataset[Row], id: Long) =>
        applyBatch(prune(filtered.fold(df.toDF)(df.where)), id, tablePath,
          statePath, stream,
          icebergDir = icebergDir, partitionRegex = partitionRegex,
          maintainEvery = maintainEvery,
          maintainTargetBytes = maintainTargetBytes))
      .start()
  }

  /** The LIVE pipeline: replication socket → pgoutput decode →
    * per-batch delta-segment apply + position commit — the end-to-end
    * shape of the reference's `StreamChanges` → writer → 2PC loop
    * (`pkg/waljs/pgoutput.go:33-106` feeding
    * `drivers/abstract/cdc.go:100-164`).
    *
    * `project` maps the decoder's normalized change columns
    * (kind/lsn/commit_ts_micros/names/values) to the apply shape:
    * `_olake_id`, `lsn`, `kind`, `_cdc_timestamp`, payload columns.
    * The trigger is continuous (the socket is live); the source's
    * `commit` sends the standby ack, and `applyBatch` keeps its own
    * position commit so a crash between the two replays safely. */
  def runSocket(spark: SparkSession, host: String, port: Int, startLsn: Long,
                project: DataFrame => DataFrame,
                tablePath: String, statePath: String, checkpoint: String,
                stream: String = "events",
                triggerMillis: Long = 100): StreamingQuery = {
    val raw = spark.readStream.format("graft-pgoutput-socket")
      .option("host", host).option("port", port.toString)
      .option("startLsn", startLsn.toString).load()
    val changes = project(graft.cdc.PgOutput.decode(raw, "lsn", "msg"))
    changes.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMillis))
      .foreachBatch((df: Dataset[Row], id: Long) =>
        applyBatch(df, id, tablePath, statePath, stream))
      .start()
  }
}
