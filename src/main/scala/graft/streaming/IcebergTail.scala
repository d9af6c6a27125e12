package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.{IcebergMetadata, ParquetFooters, TableIO}

/** STREAMING TABLE TAIL — the consumption half of the Iceberg sink:
  * a downstream pipeline (training-data curation, a feature store, a
  * replica) tails a table the engine itself publishes, one microbatch
  * per poll, resuming from a checkpoint across restarts. This is the
  * shape of Iceberg's own Spark streaming read (`spark.readStream
  * .format("iceberg")`): the OFFSET is the snapshot id, a microbatch
  * is the incremental append scan between two offsets, and the
  * checkpoint advances only after the batch function returns — with
  * an idempotent sink that is exactly-once, the same at-least-once ×
  * replay-filter contract [[CdcStream.applyBatch]] uses on the write
  * side.
  *
  * Overwrites follow Iceberg's streaming rules: by default a
  * replace/overwrite in the range FAILS the poll (an append-only
  * consumer crossing one would double-count — resync from a full
  * read); `skipOverwrites = true` mirrors
  * `streaming-skip-overwrite-snapshots`, delivering only the appended
  * files and skipping replace/overwrite commits. Planning cost per
  * poll is O(new manifests) — list rows filter by `added_snapshot_id`
  * before any manifest opens — and the batch reads as ONE scan,
  * whatever the number of commits it spans.
  *
  * Reference analog: consumers of the reference's Iceberg destination
  * tail tables through the Iceberg library's incremental scans
  * (`destination/iceberg/`); here it is a first-class engine op.
  */
object IcebergTail {

  /** Checkpoint: last-delivered snapshot + the batch counter. */
  case class TailState(snapshotId: Long, batchId: Long)

  private val mapper = new ObjectMapper()

  def readState(statePath: String): Option[TailState] = {
    val p = TableIO(statePath)
    if (!p.exists) None
    else {
      val n = mapper.readTree(p.readString)
      Some(TailState(n.get("snapshotId").asLong, n.get("batchId").asLong))
    }
  }

  private def writeState(statePath: String, st: TailState): Unit =
    TableIO(statePath).writeAtomic(
      s"""{"snapshotId":${st.snapshotId},"batchId":${st.batchId}}""")

  /** Head this tail follows: main by default, or a named BRANCH — the
    * WAP-auditor shape (tail the audit branch BEFORE publish). A
    * dropped ref REFUSES loudly: silently falling back to main would
    * hand the consumer a different history than it checkpointed. */
  private def headOf(meta: com.fasterxml.jackson.databind.JsonNode,
                     tableDir: String, ref: Option[String]): Long =
    ref match {
      case None => meta.get("current-snapshot-id").asLong
      case Some(r) =>
        Option(meta.path("refs").get(r))
          .map(_.get("snapshot-id").asLong).getOrElse(
            throw new IllegalArgumentException(
              s"ref '$r' does not exist at $tableDir (dropped after " +
                "publish?) — tail a live ref, or resync from main"))
    }

  /** One poll: deliver everything committed since the checkpoint as a
    * single microbatch, advance the checkpoint, return the new state —
    * or None when the table has not moved (a no-op tick costs one
    * metadata read, zero data IO). First poll with no checkpoint
    * delivers the FULL current table as batch 0 (the backfill), like
    * a stream started from `earliest`. */
  def poll(spark: SparkSession, tableDir: String, statePath: String,
           skipOverwrites: Boolean = false,
           ref: Option[String] = None)
          (fn: (DataFrame, Long) => Unit): Option[TailState] = {
    val (_, meta) = IcebergMetadata.currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val curId = headOf(meta, tableDir, ref)
    readState(statePath) match {
      case None =>
        // the merged view, not raw data files — a MoR table's live
        // deletes must apply to the backfill too; pinned at curId so a
        // commit racing the poll is NOT delivered in batch 0 and then
        // re-delivered by the next poll (the checkpoint records curId)
        fn(IcebergMetadata.readTable(spark, tableDir,
          asOfSnapshotId = Some(curId)), 0L)
        val st = TailState(curId, 0L)
        writeState(statePath, st)
        Some(st)
      case Some(prev) if prev.snapshotId == curId => None
      case Some(prev) =>
        // bounded at the curId read above: a commit racing the poll is
        // delivered whole by the NEXT poll, never split across two
        // batch ids (the idempotent-sink fence keys on batchId)
        val files = IcebergMetadata.appendedFilesSince(tableDir,
          prev.snapshotId, failOnOverwrite = !skipOverwrites,
          toSnapshotId = Some(curId))
        if (files.isEmpty) {
          // only replaces (or skipped overwrites) landed: nothing to
          // deliver, but the checkpoint still advances past them so
          // the next poll plans from here
          val st = TailState(curId, prev.batchId)
          writeState(statePath, st)
          Some(st)
        } else {
          val batch = ParquetFooters.read(spark, files, merge = true)
          val batchId = prev.batchId + 1
          fn(batch, batchId)
          val st = TailState(curId, batchId)
          writeState(statePath, st)
          Some(st)
        }
    }
  }

  /** UPDATE PAIRING over a changelog batch — the analog of Iceberg's
    * `create_changelog_view(compute_updates => identifier_columns)`:
    *
    *  1. CARRYOVER REMOVAL: an overwrite that rewrites a row verbatim
    *     emits a (delete, insert) pair with identical values — pairs
    *     net bag-wise per (all columns, ordinal), exactly Iceberg's
    *     remove-carryovers;
    *  2. UPDATE PAIRING: a surviving delete + insert sharing the key
    *     within ONE commit ordinal pair into `update_before` /
    *     `update_after`; unpaired rows keep `delete`/`insert`.
    *
    * Lives on the poll/batch path where a shuffle is acceptable (two
    * keyed exchanges over commit-sized changelog rows) — the per-file
    * DSv2 streaming source deliberately does NOT net carryovers
    * (that would force a shuffle into a file-partition source). */
  def changelogUpdates(changes: DataFrame,
                       keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // commit_snapshot_id (a changelogScan frame's extra column) is
    // bookkeeping, not row identity: grouping by it would stop
    // carryovers from netting across commits — drop it up front
    val changes0 = changes.drop("commit_snapshot_id")
    val metaCols = Set("change_type", "change_ordinal")
    val dataCols = changes0.columns.filterNot(c => metaCols.contains(c))
      .toSeq
    require(keyCols.forall(dataCols.contains), s"keys $keyCols missing")
    // 1. bag-wise carryover netting per (values, ordinal)
    val counted = changes0
      .groupBy((dataCols :+ "change_ordinal").map(col): _*)
      .agg(
        sum(when(col("change_type") === "delete", 1).otherwise(0))
          .as("__nd"),
        sum(when(col("change_type") === "insert", 1).otherwise(0))
          .as("__ni"))
    val survivors = counted.select(
      (dataCols :+ "change_ordinal").map(col) :+ explode(concat(
        array_repeat(lit("delete"),
          (col("__nd") - least(col("__nd"), col("__ni"))).cast("int")),
        array_repeat(lit("insert"),
          (col("__ni") - least(col("__nd"), col("__ni"))).cast("int"))))
        .as("change_type"): _*)
    // 2. pair delete+insert on (key, ordinal); rn disambiguates
    // multiplicities deterministically
    val ordKeys = keyCols :+ "change_ordinal"
    val nonKey = dataCols.filterNot(ordKeys.contains)
    val w = Window.partitionBy(ordKeys.map(col): _*)
      .orderBy(dataCols.map(col): _*)
    def side(tp: String, prefix: String) = survivors
      .where(col("change_type") === tp)
      .withColumn("__rn", row_number().over(w))
      .select(ordKeys.map(col) ++ Seq(col("__rn"),
        lit(1).as(s"${prefix}present")) ++
        nonKey.map(c => col(c).as(s"$prefix$c")): _*)
    val joined = side("delete", "__d_")
      .join(side("insert", "__i_"), ordKeys :+ "__rn", "full_outer")
    val hasD = col("__d_present").isNotNull
    val hasI = col("__i_present").isNotNull
    // a paired row explodes into before/after; a lone side keeps its
    // own type
    val tagged = joined.withColumn("__tags",
      when(hasD && hasI, array(lit("update_before"), lit("update_after")))
        .when(hasD, array(lit("delete")))
        .otherwise(array(lit("insert"))))
      .select(col("*"), explode(col("__tags")).as("change_type"))
    val out = dataCols.map { c =>
      if (ordKeys.contains(c)) col(c)
      else when(col("change_type").isin("update_before", "delete"),
          col(s"__d_$c"))
        .otherwise(col(s"__i_$c")).as(c)
    } :+ col("change_type") :+ col("change_ordinal")
    tagged.select(out: _*)
  }

  /** NET CHANGES over a DELIVERED changelog frame — the analog of
    * Iceberg's `ChangelogIterator.removeNetCarryovers` (the row-level
    * half of `create_changelog_view(net_changes => true)`): only the
    * window's net effect per row value survives. A row inserted then
    * deleted inside the window vanishes; a row rewritten N times
    * shows one transition; untouched carryovers net away.
    *
    * Complement, not duplicate, of
    * [[IcebergMetadata.changelogScan]]`(netChanges = true)`: that one
    * nets at PLAN time (two endpoint state reads, no per-commit rows
    * — the cheapest path when you hold the TABLE). This one nets rows
    * you already HAVE — a poll batch, a collected DSv2 changelog
    * microbatch — where re-planning the table is not an option. The
    * two agree on the surviving row values (spec-pinned).
    *
    * Bag semantics over the full row values (no keys needed —
    * Iceberg's shape): net multiplicity = inserts − deletes per value
    * across ALL ordinals; positive → that many `insert` rows,
    * negative → `delete` rows, stamped with the LAST ordinal that
    * touched the value. One keyed aggregation —
    * commit-window-sized, the poll/batch path's shuffle budget. */
  def changelogNet(changes: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // commit_snapshot_id is bookkeeping, not row identity — grouping
    // by it would defeat the cross-commit netting this exists for
    val changes0 = changes.drop("commit_snapshot_id")
    val metaCols = Set("change_type", "change_ordinal")
    val dataCols = changes0.columns.filterNot(metaCols.contains).toSeq
    changes0
      .groupBy(dataCols.map(col): _*)
      .agg(
        sum(when(col("change_type") === "insert", 1).otherwise(-1))
          .as("__net"),
        max("change_ordinal").as("change_ordinal"))
      .where(col("__net") =!= 0)
      .select(dataCols.map(col) :+ explode(array_repeat(
        when(col("__net") > 0, "insert").otherwise("delete"),
        abs(col("__net")).cast("int"))).as("change_type") :+
        col("change_ordinal"): _*)
  }

  /** The CDC variant: each poll delivers the row-level CHANGELOG
    * (insert AND delete rows, `change_type` column) since the
    * checkpoint via [[IcebergMetadata.changelogScan]] — the consumer
    * for replicating a table that takes upserts, where the append
    * tail would refuse. First poll backfills the current state as
    * batch 0 of pure inserts. Same checkpoint/restart contract as
    * [[poll]]. */
  def pollChangelog(spark: SparkSession, tableDir: String,
                    statePath: String,
                    ref: Option[String] = None)
                   (fn: (DataFrame, Long) => Unit): Option[TailState] = {
    import org.apache.spark.sql.functions.lit
    val (_, meta) = IcebergMetadata.currentMetadata(tableDir).getOrElse(
      throw new IllegalStateException(s"no committed version at $tableDir"))
    val curId = headOf(meta, tableDir, ref)
    readState(statePath) match {
      case None =>
        // merged view as inserts — raw data files would resurrect
        // rows the live deletes killed and the replica could never
        // converge (no delete event will ever name them); pinned at
        // curId so a racing commit is never split across batch 0 and
        // the next poll's changelog
        val full = IcebergMetadata.readTable(spark, tableDir,
          asOfSnapshotId = Some(curId))
          .withColumn("change_type", lit("insert"))
        fn(full, 0L)
        val st = TailState(curId, 0L)
        writeState(statePath, st)
        Some(st)
      case Some(prev) if prev.snapshotId == curId => None
      case Some(prev) =>
        // bounded at curId: same no-split-across-batches contract as
        // the append tail
        val log = IcebergMetadata
          .changelogScan(spark, tableDir, prev.snapshotId,
            toSnapshotId = Some(curId))
          .drop("change_ordinal", "commit_snapshot_id")
        val batchId = prev.batchId + 1
        fn(log, batchId)
        val st = TailState(curId, batchId)
        writeState(statePath, st)
        Some(st)
    }
  }
}
