package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BatchConstant

/** The destination system columns every synced row carries.
  *
  * Reference: `drivers/abstract/abstract.go:30-35` (column set),
  * `utils/utils.go:265-287` (`_olake_id` derivation),
  * `drivers/abstract/cdc.go:167-179` (op types).
  *
  * `_olake_id`:
  *   - single primary key  → the PK value rendered as a string
  *   - composite key       → md5 of the values of the PK columns, sorted
  *                           by column name, joined
  *   - no key              → md5 of the whole record (JSON)
  */
object SystemColumns {
  val OlakeId        = "_olake_id"
  val OpType         = "_op_type"
  val OlakeTimestamp = "_olake_timestamp"
  val CdcTimestamp   = "_cdc_timestamp"

  /** Op codes: r=backfill read, c=steady-state insert, i=insert during the
    * backfill-overlap dedup window (forces an equality delete first),
    * u=update, d=delete.
    */
  val OpRead   = "r"
  val OpCreate = "c"
  val OpInsertDedup = "i"
  val OpUpdate = "u"
  val OpDelete = "d"

  /** md5 of every value rendered to string and followed by `'|'` —
    * including after the last value — over columns sorted by name. This is
    * byte-compatible with reference `GetKeysHash` (`utils/utils.go:265-287`:
    * `str.WriteString(fmt.Sprint(m[k])); str.WriteRune('|')` per key).
    * Nulls render as `"<nil>"` because Go's `fmt.Sprint(nil)` does.
    * Deviation note: non-primitive values (timestamps, floats) render via
    * Spark's string cast, which differs from Go's `fmt.Sprint` for
    * `time.Time`; integer/string keys — the overwhelmingly common PK case —
    * are byte-identical (pinned in SystemColumnsSpec).
    */
  def keysHash(columns: Seq[String]): Column =
    md5(concat(columns.sorted.flatMap(c =>
      Seq(coalesce(col(c).cast("string"), lit("<nil>")), lit("|"))).toIndexedSeq: _*))

  /** Build the `_olake_id` column for a frame with the given PK columns. */
  def olakeId(df: DataFrame, primaryKeys: Seq[String]): Column =
    primaryKeys match {
      case Seq(single) => col(single).cast("string")
      case Nil =>
        // No PK: reference GetHash = GetKeysHash over ALL columns.
        keysHash(df.columns.toIndexedSeq)
      case many => keysHash(many)
    }

  /** Append the system columns for a batch with a single op type.
    * `cdcTimestamp` is only attached in CDC mode (None ⇒ column omitted,
    * matching the reference where `_cdc_timestamp` exists only for CDC
    * streams).
    *
    * The default `_olake_timestamp` of a batch frame is the time `attach`
    * builds the plan, one value for every row, bound as a
    * [[graft.functions.BatchConstant]] so each sync reuses the compiled
    * code of the last. A streaming frame keeps `current_timestamp()`,
    * which each micro-batch evaluates anew.
    */
  def attach(df: DataFrame,
             primaryKeys: Seq[String],
             opType: String,
             cdcTimestamp: Option[Column] = None,
             ingestTimestamp: Option[Column] = None): DataFrame = {
    val base = df
      .withColumn(OlakeId, olakeId(df, primaryKeys))
      .withColumn(OpType, lit(opType))
      .withColumn(OlakeTimestamp,
        ingestTimestamp.getOrElse(
          if (df.isStreaming) current_timestamp()
          else BatchConstant.of(java.time.Instant.now())))
    cdcTimestamp.fold(base)(c => base.withColumn(CdcTimestamp, c))
  }

  /** Raw (non-normalized) mode: the whole source record collapses to one
    * JSON `data` column plus system columns
    * (reference `destination/iceberg/iceberg.go:389-417`).
    */
  def rawMode(df: DataFrame,
              primaryKeys: Seq[String],
              opType: String,
              partitionCols: Seq[String] = Nil): DataFrame = {
    val id = olakeId(df, primaryKeys)
    val dataCols = df.columns.filterNot(partitionCols.contains)
    df.select(
      (Seq(
        to_json(struct(dataCols.map(col).toIndexedSeq: _*)).as("data"),
        id.as(OlakeId),
        lit(opType).as(OpType)
      ) ++ partitionCols.map(col)): _*)
  }
}
