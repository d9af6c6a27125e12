package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ChunkPlanner, Flatten, Incremental, SystemColumns}
import graft.sinks.{ParquetSink, PartitionTransforms}
import graft.sources.Discover
import graft.spec.FilterSpec
import graft.state.StateStore

/** The CLI lifecycle verbs (§3): spec / check / discover / sync / clear
  * — the reference's `protocol/{spec,check,discover,sync,clear}.go`
  * command surface, re-expressed over the Spark engine pieces.
  *
  * `sync` is the composition the whole library exists for
  * (`protocol/sync.go:84-154`): plan chunks → backfill with system
  * columns under a frozen snapshot threshold → commit chunk state as
  * each lands → subsequent runs read only the cursor delta — all
  * resumable through `StateStore`.
  */
object Protocol {

  /** Per-stream sync configuration (StreamMetadata,
    * `types/catalog.go:49-62`). */
  case class StreamConfig(name: String,
                          syncMode: String = "full_refresh",
                          cursor: Option[String] = None,
                          primaryKeys: Seq[String] = Nil,
                          filter: Option[String] = None,
                          chunkColumn: Option[String] = None,
                          partitionRegex: Option[String] = None,
                          normalization: Boolean = true,
                          selectedColumns: Option[Seq[String]] = None,
                          syncNewColumns: Boolean = false)

  /** `spec`: the config surface as JSON schema (spec.go analog). */
  def spec(): String =
    """{"type":"object","properties":{
      |"source_dir":{"type":"string"},
      |"destination_dir":{"type":"string"},
      |"streams":{"type":"array","items":{"type":"object","properties":{
      |"name":{"type":"string"},
      |"sync_mode":{"enum":["full_refresh","incremental","cdc"]},
      |"cursor":{"type":"string"},
      |"primary_keys":{"type":"array","items":{"type":"string"}},
      |"filter":{"type":"string"},
      |"chunk_column":{"type":"string"},
      |"partition_regex":{"type":"string"},
      |"normalization":{"type":"boolean"}}}}}}""".stripMargin.replace("\n", "")

  /** `check`: source readable + streams present (check.go analog). */
  def check(spark: SparkSession, sourceDir: String,
            streams: Seq[String]): Either[String, Unit] = {
    val missing = streams.filterNot(s =>
      new java.io.File(s"$sourceDir/$s.parquet").exists)
    if (missing.nonEmpty) Left(s"streams not found: ${missing.mkString(", ")}")
    else
      try { streams.foreach(s => Tables.load(spark, sourceDir, s).schema); Right(()) }
      catch { case e: Exception => Left(s"unreadable: ${e.getMessage}") }
  }

  /** `check --destination` analog (reference check.go:39-41: the
    * writer-pool construction IS the connectivity probe): write a probe
    * record to the destination, read it back, clean up. With a catalog
    * probe attached, the catalog's own handshake runs too — the shape
    * real deployments need before a 12-hour sync starts, not after. */
  def checkDestination(spark: SparkSession, destDir: String,
                       catalogProbe: Option[() => Unit] = None)
      : Either[String, Unit] =
    try {
      import spark.implicits._
      val probe = s"$destDir/.graft_check_${java.util.UUID.randomUUID()}"
      Seq((1L, "probe")).toDF("id", "v").write.parquet(probe)
      val n = spark.read.parquet(probe).count()
      graft.sinks.ParquetSink.clear(spark, probe)
      if (n != 1L) Left(s"probe wrote 1 row, read $n")
      else {
        catalogProbe.foreach(p => p())
        Right(())
      }
    } catch { case e: Exception =>
      Left(s"destination check failed: ${e.getMessage}")
    }

  /** The pre-sync classification result (`protocol/sync.go:157-262`). */
  case class StreamClassification(selected: Seq[StreamConfig],
                                  fullLoad: Seq[StreamConfig],
                                  incremental: Seq[StreamConfig],
                                  cdc: Seq[StreamConfig],
                                  skipped: Map[String, String])

  /** Pre-sync stream classification + validation — the reference's
    * classifyStreams (`protocol/sync.go:157-262`): a stream missing
    * from the source is SKIPPED with a warning (not an error), a
    * structured filter is validated up front (≤ 2 conditions, the
    * column must exist in the stream schema with a value parseable to
    * its type) and an invalid one skips the stream, survivors are
    * bucketed by sync mode, and saved state belonging to streams NOT
    * selected this run is pruned (sync.go:257-259). */
  def classifyStreams(spark: SparkSession, sourceDir: String,
                      configs: Seq[StreamConfig],
                      statePath: String): StreamClassification = {
    import org.apache.spark.sql.types._
    val results: Seq[(StreamConfig, Option[String])] = configs.map { cfg =>
      if (!new java.io.File(s"$sourceDir/${cfg.name}.parquet").exists)
        cfg -> Some("not found in source")
      else cfg.filter match {
        case None => cfg -> None
        case Some(f) =>
          try {
            val filt = FilterSpec.parse(f)
            FilterSpec.validateStrict(filt) match {
              case Left(msg) => cfg -> Some(msg)
              case Right(_) =>
                val schema = Tables.load(spark, sourceDir, cfg.name).schema
                val bad = filt.conditions.find { c =>
                  if (!schema.fieldNames.contains(c.column)) true
                  else {
                    val ok = (schema(c.column).dataType, c.value) match {
                      case (_, FilterSpec.SNull) => true
                      case (_: NumericType,
                        FilterSpec.SNum(_) | FilterSpec.SInt(_)) => true
                      case (StringType, FilterSpec.SStr(_)) => true
                      case (BooleanType, FilterSpec.SBool(_)) => true
                      case (TimestampType | DateType,
                        FilterSpec.STimestamp(_)) => true
                      case _ => false
                    }
                    !ok
                  }
                }
                cfg -> bad.map(c =>
                  s"invalid filter condition on '${c.column}'")
            }
          } catch { case e: Exception =>
            cfg -> Some(s"cannot parse filter: ${e.getMessage}")
          }
      }
    }
    val selected = results.collect { case (c, None) => c }
    val skipped = results.collect { case (c, Some(r)) => c.name -> r }.toMap
    // prune state of non-selected streams, never during clear
    stateLock.synchronized {
      StateStore.load(statePath).foreach { st =>
        val keep = selected.map(_.name).toSet
        StateStore.save(statePath,
          st.copy(streams = st.streams.view.filterKeys(keep).toMap))
      }
    }
    StreamClassification(selected,
      selected.filter(_.syncMode == "full_refresh"),
      selected.filter(_.syncMode == "incremental"),
      selected.filter(c =>
        c.syncMode == "cdc" || c.syncMode == "strict_cdc"),
      skipped)
  }

  /** `discover`: catalog JSON for every stream in the source dir. */
  def discover(spark: SparkSession, sourceDir: String,
               names: Seq[String]): String =
    Discover.catalogJson(names.map(Discover.discoverStream(spark, sourceDir, _)))

  /** `sync` one stream: chunked backfill (first run) or cursor delta
    * (subsequent), system columns attached, state committed per phase.
    * Returns rows synced.
    *
    * Idempotent per attempt (so `syncAll`'s retry wrapper is safe): the
    * batch lands in a per-stream STAGING path first (overwrite mode —
    * a retry obliterates any partial prior attempt instead of
    * re-appending it), then one atomic state write commits the cursor
    * together with a promote-pending marker, then the staged files move
    * into the table. A crash in any window either re-stages cleanly
    * (before the state commit) or completes the recorded promotion on
    * the next attempt (after it) — the delta can never append twice. */
  def syncStream(spark: SparkSession, sourceDir: String, destDir: String,
                 cfg: StreamConfig, statePath: String): Long = {
    val stagePath = s"$destDir/.stage_${cfg.name}"
    val tablePath = s"$destDir/${cfg.name}"
    // finish a promotion a previous attempt committed but never
    // completed (files move one by one; re-promotion only sees the
    // not-yet-moved remainder, so this is safe to repeat)
    val recovered = stateLock.synchronized {
      val cur = StateStore.load(statePath).getOrElse(StateStore.State())
      val curSs = cur.streams.getOrElse(cfg.name, StateStore.StreamState())
      if (curSs.offsets.getOrElse("promote_pending", 0L) == 1L) {
        promoteStage(spark, stagePath, tablePath)
        StateStore.save(statePath, cur.copy(streams = cur.streams.updated(
          cfg.name, curSs.copy(
            offsets = curSs.offsets - "promote_pending" - "promote_rows"))))
        curSs.offsets.getOrElse("promote_rows", 0L)
      } else 0L
    }
    val src0 = Tables.load(spark, sourceDir, cfg.name)
    val filtered = cfg.filter.map(f => src0.where(FilterSpec.parse(f).toColumn))
      .getOrElse(src0)
    // normalized mode flattens FIRST (nested→JSON text, names
    // normalized) so cursor/PK references use destination names — the
    // shape the reference's state stores; raw mode keeps source names.
    val src = if (cfg.normalization) Flatten.flatten(filtered) else filtered
    val st = StateStore.load(statePath).getOrElse(StateStore.State())
    val ss = st.streams.getOrElse(cfg.name, StateStore.StreamState())
    val firstRun = ss.cursor.isEmpty

    val cursorParsed = cfg.cursor.map(Incremental.Cursor.parse)
    // previous committed cursor as a typed literal (shared between the
    // delta predicate and the cursor-max observation); a literal, not a
    // BatchConstant, because the scan takes the delta predicate as a
    // pushed filter (parquet row groups, the JDBC query)
    def lastColOf(c: Incremental.Cursor): Option[Column] =
      ss.cursor.get(c.primary).map { last =>
        src.schema(c.primary).dataType match {
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType |
               org.apache.spark.sql.types.DateType => to_timestamp(lit(last))
          case _ => lit(last.toLong)
        }
      }

    val batch = (cfg.syncMode, firstRun, cursorParsed) match {
      case (_, true, _) | (_, _, None) => src // full backfill
      case (_, false, Some(c)) =>
        Incremental.deltaScan(src, c, lastColOf(c).get, None)
    }
    val out = if (cfg.normalization)
      SystemColumns.attach(batch, cfg.primaryKeys, SystemColumns.OpRead)
    else SystemColumns.rawMode(batch, cfg.primaryKeys, SystemColumns.OpRead)
    val fields = cfg.partitionRegex.map(PartitionTransforms.parseRegex)
      .getOrElse(Nil)
    // the next cursor rides the write via observe (one source scan per
    // sync — the reference tracks the max while streaming,
    // incremental.go:182-192; a second max() query would re-scan the
    // source, a full-table query on JDBC). Folding the previous cursor
    // in per row keeps the max from regressing when a dual-cursor delta
    // legitimately contains rows older than the committed primary.
    val cursorMetric = cursorParsed.toSeq.map { c =>
      max(lastColOf(c).fold(col(c.primary))(l => greatest(col(c.primary), l)))
        .as("cursor_max")
    }
    // 1. stage: overwrite mode makes the attempt restartable — a retry
    //    replaces a partial prior stage instead of appending beside it
    val stats = ParquetSink.writeWithStats(out, stagePath,
      fields, append = false, extraMetrics = cursorMetric)
    val rows = stats("records_written").asInstanceOf[Long]
    // full refresh replaces the table; clearing BEFORE the cursor
    // commit keeps the recovery story simple (a crash here re-stages
    // and re-clears — both idempotent)
    if (firstRun) ParquetSink.clear(spark, tablePath)
    // 2. advance the cursor AFTER the staged write lands (commit order,
    // sync.go), atomically WITH the promote-pending marker — from this
    // point the staged delta is owed to the table and any later attempt
    // completes the move instead of recomputing the delta.
    // An empty delta observes null — the committed cursor stays put.
    // The commit RE-READS the state under the lock: concurrent stream
    // syncs share one state file, and a stale read-modify-write would
    // drop a sibling stream's commit.
    val newCursor = cursorParsed.flatMap(c =>
      Option(stats.getOrElse("cursor_max", null))
        .map(mx => Map(c.primary -> StateStore.formatCursor(mx))))
      .getOrElse(Map.empty)
    stateLock.synchronized {
      val cur = StateStore.load(statePath).getOrElse(StateStore.State())
      val curSs = cur.streams.getOrElse(cfg.name, StateStore.StreamState())
      StateStore.save(statePath, cur.copy(streams = cur.streams.updated(
        cfg.name, curSs.copy(cursor = curSs.cursor ++ newCursor,
          offsets = curSs.offsets +
            ("promote_pending" -> 1L) + ("promote_rows" -> rows)))))
    }
    // 3. promote, then clear the marker
    promoteStage(spark, stagePath, tablePath)
    stateLock.synchronized {
      val cur = StateStore.load(statePath).getOrElse(StateStore.State())
      val curSs = cur.streams.getOrElse(cfg.name, StateStore.StreamState())
      StateStore.save(statePath, cur.copy(streams = cur.streams.updated(
        cfg.name, curSs.copy(
          offsets = curSs.offsets - "promote_pending" - "promote_rows"))))
    }
    recovered + rows
  }

  /** Move every staged data file into the table directory (partition
    * subpaths preserved). File-by-file renames: each is atomic, already
    * -moved files vanish from the stage, so repeating a half-done
    * promotion finishes it — never doubles it. Hidden/underscore files
    * (_SUCCESS, .crc) stay behind and die with the stage dir. */
  private def promoteStage(spark: SparkSession, stage: String,
                           dest: String): Unit = {
    val sp = new org.apache.hadoop.fs.Path(stage)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sp)) return
    def walk(dir: org.apache.hadoop.fs.Path, rel: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath, s"$rel/$name")
          else {
            val target = new org.apache.hadoop.fs.Path(s"$dest$rel/$name")
            fs.mkdirs(target.getParent)
            fs.rename(st.getPath, target)
          }
        }
      }
    walk(sp, "")
    fs.delete(sp, true)
  }

  // read-decide-write regions share StateStore's own I/O lock, so a
  // region here can never interleave with a bare StateStore.update
  // elsewhere (same monitor, reentrant for the nested saves inside)
  private def stateLock: Object = StateStore.lock

  /** The reference's periodic monitoring line (`logger.StatsLogger`,
    * `utils/logger`): a daemon ticker prints running streams, synced
    * records, records/s and an ETA as one JSON line per interval until
    * closed. Counters are updated by `syncAll` as streams start and
    * finish. */
  class StatsMonitor(totalToSync: Long, intervalMillis: Long = 2000,
                     out: String => Unit = println) extends AutoCloseable {
    private[graft] val running = new java.util.concurrent.atomic.AtomicLong
    private[graft] val synced = new java.util.concurrent.atomic.AtomicLong
    val linesEmitted = new java.util.concurrent.atomic.AtomicLong
    private val start = System.nanoTime()
    @volatile private var closed = false
    private def line(): String = {
      val elapsed = (System.nanoTime() - start) / 1e9
      val s = synced.get()
      val speed = if (elapsed > 0) s / elapsed else 0.0
      val remaining = math.max(0L, totalToSync - s)
      val eta = if (speed > 0) f"${remaining / speed}%.1f" else "unknown"
      f"""{"running_streams":${running.get()},"synced_records":$s,""" +
        f""""records_per_sec":$speed%.0f,"eta_sec":"$eta","elapsed_sec":$elapsed%.1f}"""
    }
    private val ticker = new Thread(() => {
      var interrupted = false
      while (!closed && !interrupted) {
        try Thread.sleep(intervalMillis) catch {
          case _: InterruptedException => interrupted = true
        }
        if (!closed && !interrupted) {
          out(line()); linesEmitted.incrementAndGet(): Unit
        }
      }
    })
    ticker.setDaemon(true); ticker.start()
    override def close(): Unit = {
      closed = true; ticker.interrupt()
      out(line()); linesEmitted.incrementAndGet(): Unit // final snapshot
    }
  }

  /** `sync` ALL selected streams concurrently through a bounded pool
    * with retry — the reference's connection-group execution
    * (`drivers/abstract/abstract.go:86`,
    * `utils.ConcurrentInGroupWithRetry` bounded by MaxConnections).
    * One SparkSession schedules the per-stream jobs in parallel;
    * per-stream state entries are disjoint and commits serialize
    * through `stateLock`. Returns rows synced per stream; the first
    * stream failure (after retries) aborts the sync like the
    * reference's group error, and the await is BOUNDED: a hung stream
    * fails the whole sync after `timeoutMillis` with the pool
    * interrupted (`shutdownNow`), mirroring the reference's context
    * cancellation — never an indefinite block. `runStream` is the
    * per-stream body (overridable for fault-injection tests). */
  def syncAll(spark: SparkSession, sourceDir: String, destDir: String,
              cfgs: Seq[StreamConfig], statePath: String,
              parallelism: Int = 4, attempts: Int = 3,
              timeoutMillis: Long = 30L * 60 * 1000,
              runStream: (SparkSession, String, String, StreamConfig,
                String) => Long = syncStream,
              monitor: Option[StatsMonitor] = None): Map[String, Long] = {
    import java.util.concurrent.{Executors, TimeoutException}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(math.max(1, parallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = cfgs.map { cfg =>
        Future(cfg.name -> {
          monitor.foreach(_.running.incrementAndGet())
          try {
            val n = Retry.withBackoff(attempts, baseDelayMs = 100L)(
              runStream(spark, sourceDir, destDir, cfg, statePath))
            monitor.foreach(_.synced.addAndGet(n))
            n
          } finally monitor.foreach(_.running.decrementAndGet())
        })
      }
      // fails fast on the FIRST stream failure (Future.sequence) and on
      // timeout; either way the in-flight streams are interrupted below
      Await.result(Future.sequence(futures), timeoutMillis.millis).toMap
    } catch {
      case e: TimeoutException =>
        pool.shutdownNow()
        throw new IllegalStateException(
          s"syncAll timed out after ${timeoutMillis} ms with " +
            s"${cfgs.size} stream(s) configured; pool cancelled", e)
      case scala.util.control.NonFatal(e) =>
        pool.shutdownNow() // first failure cancels the remaining streams
        throw e
    } finally pool.shutdown()
  }

  /** Chunk-level resumable backfill — the reference's actual full-load
    * loop (`drivers/abstract/backfill.go:38-75` + `types/state.go`):
    * plan the chunk set once, persist it, commit each chunk out of the
    * remaining set as its scan lands, and on restart scan ONLY what
    * never committed. `failAfterChunks` injects a crash for tests.
    * Returns rows written this invocation.
    */
  def syncChunkedResumable(spark: SparkSession, sourceDir: String,
                           destDir: String, cfg: StreamConfig,
                           statePath: String, chunkStride: Long,
                           failAfterChunks: Int = Int.MaxValue,
                           targetOverride: Option[String] = None): Long = {
    import graft.operators.ChunkPlanner
    val chunkCol = cfg.chunkColumn.getOrElse(
      throw new IllegalArgumentException("chunk_column required"))
    val src = Tables.load(spark, sourceDir, cfg.name)
    val st0 = StateStore.load(statePath).getOrElse(StateStore.State())
    val ss0 = st0.streams.getOrElse(cfg.name, StateStore.StreamState())
    // plan once; afterwards the persisted remaining set is authoritative
    val remaining: Seq[StateStore.ChunkState] =
      if (ss0.remainingChunks.nonEmpty || ss0.offsets.contains("planned"))
        ss0.remainingChunks
      else {
        val planned = ChunkPlanner.planByStride(src, chunkCol, chunkStride)
          .map(c => StateStore.ChunkState(c.min, c.max))
        StateStore.update(statePath) { st =>
          val ss = st.streams.getOrElse(cfg.name, StateStore.StreamState())
          st.copy(streams = st.streams.updated(cfg.name,
            ss.copy(remainingChunks = planned,
              offsets = ss.offsets + ("planned" -> 1L))))
        }
        planned
      }
    var written = 0L
    var done = 0
    remaining.foreach { ch =>
      if (done >= failAfterChunks)
        throw new RuntimeException("injected crash after " + done + " chunks")
      val chunk = ChunkPlanner.Chunk(ch.min, ch.max)
      val rows = SystemColumns.attach(
        src.where(chunk.toColumn(chunkCol)), cfg.primaryKeys,
        SystemColumns.OpRead)
      val stats = ParquetSink.writeWithStats(rows,
        targetOverride.getOrElse(s"$destDir/${cfg.name}"), Nil,
        append = true)
      written += stats("records_written").asInstanceOf[Long]
      // commit AFTER the write lands (backfill.go:61-64 ordering);
      // atomic vs the pool's other streams committing into the same map
      StateStore.update(statePath)(st => st.copy(streams =
        st.streams.updated(cfg.name,
          StateStore.commitChunk(st.streams(cfg.name), ch))))
      done += 1
    }
    written
  }

  /** `sync` in CDC mode: drive the Structured-Streaming pipeline over a
    * change-log directory (wal2json-shaped JSON or the graft-changelog
    * segment layout) into a merged table, with replay-safe position
    * commits — the reference's `sync` with a CDC stream
    * (`protocol/sync.go` + `drivers/abstract/cdc.go`). Blocks until the
    * available log is drained (AvailableNow). */
  def syncCdc(spark: SparkSession, changeDir: String,
              schema: org.apache.spark.sql.types.StructType,
              destDir: String, cfg: StreamConfig, statePath: String): Unit =
    graft.streaming.CdcStream.run(spark, changeDir, schema,
      s"$destDir/${cfg.name}", statePath, s"$destDir/.ckpt_${cfg.name}",
      cfg.name, filter = cfg.filter,
      selectedColumns = cfg.selectedColumns,
      syncNewColumns = cfg.syncNewColumns).awaitTermination()

  /** The reference's change-stream orchestration
    * (`drivers/abstract/cdc.go:24-95` `RunChangeStream`):
    *
    *  1. PRE-CDC — record every stream's change-log position BEFORE any
    *     snapshot read (the slot-creation/resume-token analog). The
    *     floor seeds the committed-LSN replay filter, so nothing at or
    *     below it is ever applied by CDC;
    *  2. BACKFILL — chunked resumable snapshot into the CDC table's
    *     base, skipped when state says it already completed (and on
    *     "strict_cdc" sync mode, like the reference's STRICTCDC);
    *  3. CDC — apply the change log from the recorded floor. Changes
    *     that landed between the floor and the snapshot read exist on
    *     BOTH sides; keyed upsert apply + the insert-dedup window make
    *     the overlap converge instead of duplicating — the same
    *     overlap contract the reference's dedup_inserts flag covers.
    *
    * `mode` = "sequential" (each stream backfills then CDCs in turn) or
    * "concurrent" (a stream's CDC starts the moment its OWN backfill
    * completes — the reference's concurrent mode), both through the
    * bounded pool + bounded await of `syncAll`. Returns rows in each
    * stream's merged table. */
  /** One stream's verdict from [[recoverState]]: the state-file
    * position, the destination-committed position, and whether the
    * destination won the arbitration. */
  case class RecoveredStream(stream: String, stateLsn: Option[Long],
                             destLsn: Option[Long], recovered: Boolean)

  /** Crash-recovery state arbitration before a CDC run — the
    * reference's "metadata ahead of state" path
    * (`drivers/mysql/internal/cdc.go:86-140`,
    * `drivers/postgres/internal/cdc.go:62-127`). Each stream's
    * DESTINATION-committed position (the `olake_2pc` snapshot-summary
    * state the sink publishes per commit, `types/metadata_state.go:9-16`)
    * is compared with the state file's position for that stream:
    *
    *  - destination STRICTLY ahead → the crash landed after the sink
    *    commit but before the state save. The stream is fenced to the
    *    destination's `{lsn, batchId, dedup_inserts}`: a checkpoint
    *    replay of the committed batch is a no-op (batchId fence) and
    *    nothing at or below the committed LSN can re-apply (LSN fence).
    *    This is the reference's `finishedStreams` exclusion — a stream
    *    already committed through the window must not see it again;
    *  - state at-or-ahead → "blank sync scenario — stream forward
    *    normally" (the reference's comment, verbatim semantics): the
    *    state file stands, nothing changes;
    *  - no destination metadata → fresh stream, nothing to arbitrate.
    *
    * Streams left behind replay exactly their own (state, destination]
    * window on the next run. The reference must pick ONE global
    * recovery LSN (its binlog/WAL position is shared) and so subscribes
    * only the remaining streams for the bounded window; our positions
    * are per-stream, so the "remaining streams only" subscription falls
    * out of each stream's own fence — same observable results, no
    * global arbitration (the reference's map-iteration-order choice of
    * `metadataCommittedLSN` is nondeterministic when several streams
    * are ahead; per-stream fencing removes that ambiguity).
    *
    * Scale: O(#streams) driver-side metadata reads; no data moves.
    *
    * @param streams (stream name, its Iceberg table dir) pairs
    * @return per-stream arbitration report, in input order
    */
  def recoverState(statePath: String,
                   streams: Seq[(String, String)]): Seq[RecoveredStream] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    stateLock.synchronized {
      val st0 = StateStore.load(statePath).getOrElse(StateStore.State())
      var st = st0
      val report = streams.map { case (name, iceDir) =>
        val ss = st.streams.getOrElse(name, StateStore.StreamState())
        val stateLsn = ss.offsets.get("lsn")
        val meta = graft.sinks.IcebergMetadata.commitState(iceDir)
          .map(mapper.readTree)
          // the summary is per-table; a foreign stream's state never
          // fences this one (defensive — one table per stream here)
          .filter(j => Option(j.get("stream")).forall(_.asText == name))
        val destLsn = meta.flatMap(j => Option(j.get("lsn")).map(_.asLong))
        val ahead = destLsn.exists(d => stateLsn.forall(_ < d))
        if (ahead) {
          val destBatch = meta.flatMap(j =>
            Option(j.get("batchId")).map(_.asLong))
          val destDedup = meta.flatMap(j =>
            Option(j.get("dedup_inserts")).map(_.asBoolean))
          st = st.copy(streams = st.streams.updated(name, ss.copy(
            offsets = ss.offsets + ("lsn" -> destLsn.get) ++
              destBatch.map("batchId" -> _),
            dedupInserts = destDedup.getOrElse(ss.dedupInserts))))
        }
        RecoveredStream(name, stateLsn, destLsn, ahead)
      }
      if (st != st0) StateStore.save(statePath, st)
      report
    }
  }

  def runChangeStream(spark: SparkSession, sourceDir: String,
                      destDir: String,
                      streams: Seq[(StreamConfig, String)],
                      schema: org.apache.spark.sql.types.StructType,
                      statePath: String, chunkStride: Long = 1000L,
                      mode: String = "concurrent",
                      parallelism: Int = 4,
                      timeoutMillis: Long = 30L * 60 * 1000): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, max => smax}
    // phase 1: every floor is recorded before ANY backfill reads — the
    // reference runs PreCDC across the board first
    streams.foreach { case (cfg, changeDir) =>
      stateLock.synchronized {
        val st = StateStore.load(statePath).getOrElse(StateStore.State())
        val ss = st.streams.getOrElse(cfg.name, StateStore.StreamState())
        if (!ss.offsets.contains("cdc_floor")) {
          val floor = Option(spark.read.schema(schema).json(changeDir)
              .agg(smax(col("lsn"))).head.get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          StateStore.save(statePath, st.copy(streams = st.streams.updated(
            cfg.name, ss.copy(offsets = ss.offsets +
              ("cdc_floor" -> floor) + ("lsn" -> floor)))))
        }
      }
    }
    def one(cfg: StreamConfig, changeDir: String): Long = {
      val tablePath = s"$destDir/${cfg.name}"
      val strict = cfg.syncMode == "strict_cdc"
      val backfilled = stateLock.synchronized {
        StateStore.load(statePath).exists(
          _.streams.get(cfg.name).exists(
            _.offsets.getOrElse("backfill_done", 0L) == 1L))
      }
      if (!strict && !backfilled) {
        syncChunkedResumable(spark, sourceDir, destDir, cfg, statePath,
          chunkStride, targetOverride = Some(s"$tablePath/base"))
        stateLock.synchronized {
          val st = StateStore.load(statePath).get
          val ss = st.streams(cfg.name)
          StateStore.save(statePath, st.copy(streams = st.streams.updated(
            cfg.name,
            ss.copy(offsets = ss.offsets + ("backfill_done" -> 1L)))))
        }
      }
      graft.streaming.CdcStream.run(spark, changeDir, schema, tablePath,
        statePath, s"$destDir/.ckpt_${cfg.name}", cfg.name)
        .awaitTermination()
      graft.streaming.CdcStream.readTable(spark, tablePath).count()
    }
    mode match {
      case "sequential" =>
        streams.map { case (cfg, d) => cfg.name -> one(cfg, d) }.toMap
      case "concurrent" =>
        syncAll(spark, sourceDir, destDir, streams.map(_._1), statePath,
          parallelism, attempts = 1, timeoutMillis,
          runStream = (_, _, _, cfg, _) =>
            one(cfg, streams.find(_._1.name == cfg.name).get._2))
      case other =>
        throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  /** `clear`: drop destinations + per-stream state (clear.go analog). */
  def clear(spark: SparkSession, destDir: String, statePath: String,
            streams: Seq[String]): Unit = {
    streams.foreach(s => ParquetSink.clear(spark, s"$destDir/$s"))
    stateLock.synchronized {
      StateStore.load(statePath).foreach { st =>
        StateStore.save(statePath,
          st.copy(streams = st.streams -- streams))
      }
    }
  }
}
