package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert / merge-on-read semantics (the sink's write-side core).
  *
  * Reference behaviour (Iceberg writer):
  *  - Within a batch, records sharing an `_olake_id` collapse to ONE
  *    surviving row: the latest by `_cdc_timestamp`, ties broken by op
  *    priority `d(4) > u(3) > r(2) > i/c(1)`
  *    (`destination/iceberg/olake-iceberg-java-writer/.../
  *    IcebergTableOperator.java:78-79` CDC_OPERATION_PRIORITY;
  *    `destination/iceberg/arrow-writer/writer.go:155-203` keep-last with
  *    positional deletes for intra-batch dupes).
  *  - The surviving row is applied to the base table: `d` deletes the
  *    matching key, `u`/`i` replace it (equality delete + insert), `r`/`c`
  *    insert (`BaseDeltaTaskWriter.java`, `Operation.java:22-26`).
  *
  * Spark mapping: this IS `MERGE INTO` over Iceberg; with no Iceberg jar
  * in the container the semantics run over plain DataFrames —
  * dedup-keep-latest is one window (single shuffle on `_olake_id`), the
  * apply step is a left-anti join + union.
  *
  * Scale notes: both steps shuffle on `_olake_id` — inherent to keyed
  * merge. The changes side of a CDC batch is typically tiny vs the base
  * table, so the anti-join broadcasts the deduped keys under AQE
  * (spark.sql.autoBroadcastJoinThreshold); on Iceberg, MERGE with
  * merge-on-read produces delete files instead of rewriting the base —
  * the reference's eq/pos-delete path — so nothing here scales with base
  * table size except the (broadcastable) join.
  */
object Merge {

  /** Reference CDC_OPERATION_PRIORITY: INSERT/CREATE=1, READ=2, UPDATE=3,
    * DELETE=4 — higher wins when `_cdc_timestamp` ties. */
  def opPriority(op: Column): Column =
    when(op === SystemColumns.OpDelete, 4)
      .when(op === SystemColumns.OpUpdate, 3)
      .when(op === SystemColumns.OpRead, 2)
      .otherwise(1)

  /** Collapse a change batch to one row per key: latest `orderCol`
    * (usually `_cdc_timestamp`) wins, ties broken by op priority, then by
    * nothing — the reference's arrow writer keeps the LAST record in
    * arrival order for full ties; a DataFrame has no arrival order, so the
    * tie-break must be deterministic: callers should pass a total order.
    */
  def dedupKeepLatest(changes: DataFrame,
                      keyCol: String = SystemColumns.OlakeId,
                      orderCol: String = SystemColumns.CdcTimestamp,
                      extraOrder: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy((Seq(col(orderCol).desc_nulls_last,
        opPriority(col(SystemColumns.OpType)).desc) ++ extraOrder): _*)
    changes.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** Skew-resistant dedup-keep-latest: `max_by(row, order)` instead of
    * a window. Same survivor per key when `orderCols` is a total order,
    * but expressed as an AGGREGATE — Spark runs a partial aggregation
    * before the shuffle, so a hot key ships one pre-combined row per
    * map partition instead of funneling every duplicate through one
    * reducer. This is the 100 TB form; the window variant above stays
    * for order-spec parity with the oracle queries.
    *
    * `orderCols` must be non-null, max-wins (e.g. `_cdc_timestamp`,
    * `opPriority(_op_type)`, arrival id).
    *
    * The key column is emitted as the grouping key `_k` itself, not as
    * the packed row's copy of it: the value is the same, but only the
    * grouping key lets the optimizer prove the output unique on
    * `keyCol` (`optimizedPlan.distinctKeys`), which is how
    * `DeltaSegments.writeSegment` earns a segment's `_unique_keys`
    * marker.
    */
  def dedupKeepLatestAgg(changes: DataFrame,
                         keyCol: String = SystemColumns.OlakeId,
                         orderCols: Seq[Column] = Nil): DataFrame = {
    val ord = if (orderCols.nonEmpty) orderCols
      else Seq(col(SystemColumns.CdcTimestamp),
        opPriority(col(SystemColumns.OpType)))
    val cols = changes.columns
    val packed = changes.groupBy(col(keyCol).as("_k"))
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*),
        struct(ord: _*)).as("_row"))
    packed.select(cols.map(c =>
      if (c == keyCol) col("_k").as(c) else col(s"_row.$c")).toIndexedSeq: _*)
  }

  /** Apply a deduped change batch to a base table (the MERGE semantic):
    * delete `d`, upsert `u`/`i`, insert `c`/`r`. `base` must carry
    * `keyCol`; change rows must carry `keyCol` + `_op_type` + the base's
    * data columns.
    */
  def applyChanges(base: DataFrame, changes: DataFrame,
                   keyCol: String = SystemColumns.OlakeId,
                   orderCol: String = SystemColumns.CdcTimestamp): DataFrame = {
    val latest = dedupKeepLatest(changes, keyCol, orderCol)
    val survivors = latest.where(col(SystemColumns.OpType) =!= SystemColumns.OpDelete)
      .select(base.columns.map(col).toIndexedSeq: _*)
    // keys touched by ANY change (including deletes) leave the base side
    val touched = latest.select(col(keyCol))
    base.join(touched, Seq(keyCol), "left_anti").unionByName(survivors)
  }

  /** Append mode (K4): backfill/Kafka streams write pure inserts — no
    * dedup, no deletes (reference `iceberg.go:671-673`). Exposed for API
    * parity; it is the identity on the frame.
    */
  def appendOnly(changes: DataFrame): DataFrame = changes
}
