package graft.sinks

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.BatchConstant
import graft.operators.{Merge, SystemColumns}

/** Merge-on-read delta-segment table layout — the parquet-sink analog of
  * the reference's Iceberg equality-delete path
  * (`destination/iceberg/arrow-writer/writer.go:155-271` emits eq/pos
  * delete files per batch; `IcebergTableOperator.java:83-227` commits
  * them; the base data files are never rewritten by a CDC batch).
  *
  * Layout under `tablePath`:
  * {{{
  *   base/                 // compacted snapshot (plain parquet)
  *   delta/seg-<batchId>/  // one deduped change segment per micro-batch
  * }}}
  *
  * A segment is whatever frame `writeSegment` is given — upserts and
  * delete tombstones (`_op_type = 'd'`), stamped with a monotone
  * `_delta_seq` (the micro-batch id). `CdcStream.applyBatch` hands it
  * the batch's dedup-keep-latest survivors, so its segments hold one
  * row per key. Nothing here enforces that: a frame that repeats a key
  * is written as given. `read` orders changes by `_delta_seq` alone,
  * so which of a key's occurrences inside one segment it keeps is
  * unspecified; `IcebergMetadata.publishMoR` keeps the last-written
  * one through positional deletes. A CDC micro-batch therefore writes
  * O(batch) bytes — never O(base).
  *
  * The `_unique_keys` marker: `writeSegment` writes this zero-byte
  * file into a segment after its parquet write succeeds, and only when
  * the frame's optimized plan proves `_olake_id` unique (a distinct-key
  * set of the plan lies within `{_olake_id}`; `applyBatch`'s
  * `Merge.dedupKeepLatestAgg` is such a plan). It records a proof, not
  * a setting: a segment without it (a frame whose plan proves nothing,
  * or a crash between the write and the marker) may repeat keys, and
  * `publishMoR` then finds out from footer row counts, as it always
  * did. A marked segment publishes its equality deletes as a map-only
  * projection, with no shuffle and no positional pass. Spark's file
  * index skips `_`-prefixed names, so no reader sees the marker.
  *
  * Read side (`read`): the newest row per key across segments is
  * resolved with a skew-resistant `max_by` aggregate over the (small)
  * delta set, then applied to base as a left-anti join (against every
  * key the segments hold) + union. The delta side is tiny relative to
  * base, so AQE broadcasts the key set — the base table is never
  * shuffled to serve a read. The view's
  * schema is read from the segment and base parquet footers on the
  * driver ([[ParquetFooters]]), so building it starts no Spark job.
  *
  * Compaction (`compact`): when the delta set exceeds `maxSegments` or
  * `maxDeltaRatio` × base bytes, the merged view is rewritten as the
  * new base (write-new-then-swap, crash-safe via `recoverSwap`) and the
  * folded segments are dropped. Write amplification is thus amortized:
  * the base is rewritten once per `maxDeltaRatio` of its size in
  * deltas, not once per batch. Re-folding a segment after a crash
  * mid-compaction is idempotent (the segment's survivors already equal
  * the base rows; tombstones re-delete absent keys).
  */
object DeltaSegments {

  val SeqCol = "_delta_seq"

  case class CompactionPolicy(maxSegments: Int = 8,
                              maxDeltaRatio: Double = 0.25)

  def baseDir(tablePath: String): File = new File(tablePath, "base")
  private def deltaDir(tablePath: String): File = new File(tablePath, "delta")
  def segDir(tablePath: String, batchId: Long): File =
    new File(deltaDir(tablePath), f"seg-$batchId%012d")

  def listSegments(tablePath: String): Seq[File] = {
    val d = deltaDir(tablePath)
    if (!d.exists) Seq.empty
    else d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("seg-"))
      .sortBy(_.getName).toSeq
  }

  /** Name of the zero-byte file a segment carries when its rows are
    * proven unique on `_olake_id` (see the object doc). */
  val UniqueKeysMarker = "_unique_keys"

  /** Write one deduped micro-batch as a delta segment. The path is
    * deterministic in `batchId` and the write is mode=overwrite, so a
    * replayed batch (crash before the position commit) rewrites the
    * same segment instead of duplicating it (and drops a marker the
    * earlier write left).
    *
    * With `maxOf`, the maximum of that column over the written rows is
    * taken by an `Observation` on the write job itself, with no second
    * pass over the frame; None when the frame has no row (the segment
    * is still written). After the write succeeds, the segment gets
    * its `_unique_keys` marker iff the frame's optimized plan proves
    * `_olake_id` unique. */
  def writeSegment(deduped: DataFrame, tablePath: String, batchId: Long,
                   maxOf: Option[String] = None): Option[Long] = {
    val dir = segDir(tablePath, batchId)
    val seg = deduped.withColumn(SeqCol, BatchConstant.of(batchId))
    // decided before the observation is attached: Spark's distinct-key
    // analysis sees nothing below a CollectMetrics node
    val unique = provenKeyUnique(seg)
    val obs = Observation()
    maxOf.fold(seg)(c => seg.observe(obs, max(col(c)).as("max")))
      .write.mode("overwrite").parquet(dir.getPath)
    if (unique) new File(dir, UniqueKeysMarker).createNewFile(): Unit
    maxOf.flatMap(_ => Option(obs.get("max"))).map(_.toString.toLong)
  }

  /** Whether `df`'s optimized plan proves at most one row per
    * `_olake_id`: some distinct-key set of the plan lies within
    * `{_olake_id}` (the grouping key of a dedup aggregate qualifies). */
  private def provenKeyUnique(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.output.find(_.name == SystemColumns.OlakeId).exists { k =>
      plan.distinctKeys.exists(_.forall(_.semanticEquals(k)))
    }
  }

  /** Whether segment `seg` carries the `_unique_keys` marker. */
  def markedKeyUnique(seg: File): Boolean =
    new File(seg, UniqueKeysMarker).isFile

  /** Remove segment `batchId`, if it exists. */
  def dropSegment(tablePath: String, batchId: Long): Unit =
    deleteRecursive(segDir(tablePath, batchId))

  /** Every delta segment's rows. The segments' footer schemas are
    * merged, so segments can carry EVOLVED schemas (a source ALTER
    * TABLE mid-stream adds a column in later segments — the reference
    * renders the matching sink ALTER, `IcebergSql`/`utils/typeutils`
    * evolution): earlier segments read the new column as null. */
  private def deltaRows(spark: SparkSession, tablePath: String): Option[DataFrame] = {
    val segs = listSegments(tablePath)
    if (segs.isEmpty) None
    else Some(ParquetFooters.read(spark, segs.map(_.getPath), merge = true))
  }

  /** The merged (merge-on-read) view of the table: base with all delta
    * segments applied. The newest change per key comes from a `max_by`
    * aggregate over the delta set: within a segment keys are already
    * unique, so `_delta_seq` alone is a total order per key. Plan shape:
    * base is scanned once, never shuffled; the segments' key column
    * (small) is broadcast into a left-anti join. */
  def read(spark: SparkSession, tablePath: String): DataFrame = {
    val base = baseDir(tablePath)
    // a partition-aware-compacted base is hive-laid-out; its `__p_*`
    // discovery columns are layout metadata, not data columns
    val baseDf =
      if (base.exists) Some {
        val raw = ParquetFooters.read(spark, Seq(base.getPath))
        raw.drop(raw.columns.filter(_.startsWith("__p_")).toIndexedSeq: _*)
      } else None
    deltaRows(spark, tablePath) match {
      case None =>
        baseDf.getOrElse(
          throw new IllegalStateException(s"no base or delta under $tablePath"))
      case Some(rows) =>
        val latest = Merge.dedupKeepLatestAgg(rows, orderCols = Seq(col(SeqCol)))
        // data columns = union of base's and the (possibly evolved)
        // segments' — a column added mid-stream surfaces with nulls for
        // rows that predate it (the reference's add-column evolution)
        val deltaCols = latest.columns.filterNot(c =>
          c == SystemColumns.OpType || c == SystemColumns.CdcTimestamp ||
          c == SeqCol)
        val dataCols = baseDf.map(b =>
          b.columns ++ deltaCols.filterNot(b.columns.contains)
        ).getOrElse(deltaCols)
        // symmetric projection: a column the deltas never saw (e.g. a
        // key inserted before the ALTER) reads as null on their side too
        def proj(df: DataFrame): DataFrame = df.select(dataCols.map(c =>
          if (df.columns.contains(c)) col(c)
          else lit(null).as(c)).toIndexedSeq: _*)
        val survivors = proj(latest
          .where(col(SystemColumns.OpType) =!= SystemColumns.OpDelete))
        // every key a segment touched leaves the base, whatever its
        // newest change: the anti join's build side is the segments'
        // raw key column, broadcast without a shuffle or a dedup
        baseDf match {
          case Some(b) =>
            proj(b.join(rows.select(col(SystemColumns.OlakeId)),
              Seq(SystemColumns.OlakeId), "left_anti"))
              .unionByName(survivors)
          case None => survivors
        }
    }
  }

  private def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else f.listFiles().map(dirBytes).sum

  /** Fold every current delta segment into a new base snapshot
    * (write-new-then-swap; old snapshot moved aside first — see
    * `recoverSwap`), then drop the folded segments. */
  def compact(spark: SparkSession, tablePath: String,
              partitionRegex: Option[String] = None): Unit = {
    val segs = listSegments(tablePath)
    if (segs.isEmpty) return
    val base = baseDir(tablePath)
    val next = new File(base.getPath + ".next")
    val old = new File(base.getPath + ".old")
    // partition-aware fold: the new base lands hive-partitioned under
    // the same `__p_<field>` layout the Iceberg publish uses, so after
    // compaction the spec-0 "base is always kept" caveat disappears —
    // the whole table prunes by partition value
    partitionRegex match {
      case None =>
        read(spark, tablePath).write.mode("overwrite").parquet(next.getPath)
      case Some(rx) => IcebergMetadata.writePartitionedForCompaction(
        read(spark, tablePath), rx, next.getPath)
    }
    if (base.exists && !base.renameTo(old))
      throw new java.io.IOException(s"could not move $base aside to $old")
    if (!next.renameTo(base)) {
      if (old.exists) old.renameTo(base)
      throw new java.io.IOException(s"could not publish $next as $base")
    }
    deleteRecursive(old)
    segs.foreach(deleteRecursive)
  }

  /** Compact iff the delta set is big enough for the fold to pay off:
    * segment count ≥ `maxSegments`, delta bytes > `maxDeltaRatio` ×
    * base bytes, or no base yet (bootstrap fold — costs O(delta)). */
  def maybeCompact(spark: SparkSession, tablePath: String,
                   policy: CompactionPolicy = CompactionPolicy(),
                   partitionRegex: Option[String] = None): Unit = {
    val segs = listSegments(tablePath)
    if (segs.isEmpty) return
    val baseB = dirBytes(baseDir(tablePath))
    val deltaB = segs.map(dirBytes).sum
    if (baseB == 0L || segs.size >= policy.maxSegments ||
        deltaB > (policy.maxDeltaRatio * baseB).toLong)
      compact(spark, tablePath, partitionRegex)
  }

  /** Recover from a crash mid-compaction before touching the table: if
    * the base dir is missing, an interrupted swap left it as `.old`
    * (moved aside) or only as `.next` — restore whichever exists,
    * preferring the old snapshot (leftover segments then re-fold, which
    * is idempotent). Stale `.next`/`.old` beside a live base are
    * discarded. */
  def recoverSwap(tablePath: String): Unit = {
    val cur = baseDir(tablePath)
    val old = new File(cur.getPath + ".old")
    val next = new File(cur.getPath + ".next")
    if (!cur.exists) {
      if (old.exists) { if (!old.renameTo(cur))
        throw new java.io.IOException(s"could not restore $old as $cur") }
      else if (next.exists) { if (!next.renameTo(cur))
        throw new java.io.IOException(s"could not restore $next as $cur") }
    }
    if (old.exists) deleteRecursive(old)
    if (next.exists) deleteRecursive(next)
  }

  private def deleteRecursive(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursive)
    f.delete(); ()
  }
}
