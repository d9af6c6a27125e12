package graft.sinks

import org.apache.spark.sql.DataFrame
import graft.sinks.PartitionTransforms.PartitionField

/** The parquet destination (K7/K4/K8/K9).
  *
  * Reference `destination/parquet/parquet.go:125-707`: partitioned output
  * paths from the partition regex, per-partition rolling files (~256 MB
  * target, `constants/constants.go:32-33`), append vs overwrite, clear
  * destination, and writer stats counters.
  *
  * Spark mapping: `df.write.partitionBy(...).parquet(path)` — the
  * FileFormatWriter already rolls files by `maxRecordsPerFile` /
  * partition and parallelizes per task, so the reference's hand-rolled
  * writer pipeline (buffer → flatten → evolve → flush,
  * `destination/writers.go:202-297`) collapses into the task commit
  * protocol. Stats (K9) use `observe()` — one pass, no extra job.
  */
object ParquetSink {

  /** Rows-to-sync / synced counters via `observe` — the K9 analog of the
    * reference's atomic writer counters (`destination/writers.go:34-39`).
    * Read the metric from the QueryExecutionListener or, for batch jobs,
    * from `df.observe`'s registered observation.
    */
  def withStats(df: DataFrame, name: String = "graft_stats"): DataFrame =
    df.observe(name, org.apache.spark.sql.functions.count(
      org.apache.spark.sql.functions.lit(1)).as("records_written"))

  /** Write with observed stats returned: the records-written counter
    * rides the write job itself (`observe` aggregates task-side, no
    * second pass over the data — the Spark analog of the reference's
    * atomic counters incremented per pushed record). */
  def writeWithStats(df: DataFrame, path: String,
                     fields: Seq[PartitionField] = Nil,
                     append: Boolean = true,
                     extraMetrics: Seq[org.apache.spark.sql.Column] = Nil)
      : Map[String, Any] = {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val obs = Observation()
    val withCols = PartitionTransforms.withPartitionColumns(df, fields)
    var w = withCols.observe(obs, count(lit(1)).as("records_written"),
        extraMetrics: _*).write
      .mode(if (append) "append" else "overwrite")
    if (fields.nonEmpty) w = w.partitionBy(fields.map(_.outputName): _*)
    w.parquet(path)
    obs.get
  }

  /** Write a batch as partitioned parquet. `fields` come from
    * `PartitionTransforms.parseRegex`; transform columns are appended and
    * used as the physical layout — identity transforms partition on the
    * source column directly, like the reference's `{col,identity}`.
    */
  def write(df: DataFrame, path: String, fields: Seq[PartitionField] = Nil,
            append: Boolean = true,
            targetFileRows: Option[Long] = None): Unit = {
    val withCols = PartitionTransforms.withPartitionColumns(df, fields)
    var w = withStats(withCols).write
      .mode(if (append) "append" else "overwrite")
    targetFileRows.foreach(n => w = w.option("maxRecordsPerFile", n))
    if (fields.nonEmpty) w = w.partitionBy(fields.map(_.outputName): _*)
    w.parquet(path)
  }

  /** Append with schema evolution by rewrite (K7: the parquet
    * destination has no metadata layer, so widening a column type means
    * rewriting the files — reference `destination/parquet/parquet.go`
    * evolve path; promotion rules are the same lattice the Iceberg path
    * uses). New columns append without a rewrite (parquet schema
    * merging covers missing columns); only an incompatible widening
    * (int→long, float→double, →string) triggers the rewrite.
    */
  def appendEvolving(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dest)) { df.write.parquet(path); return }
    val existing = spark.read.option("mergeSchema", "true").parquet(path)
    val widened = graft.operators.Evolve.evolveAll(Seq(existing, df))
    val sameTypes = existing.schema.fields.map(f => f.name -> f.dataType).toMap
    val needRewrite = widened.schema.fields.exists(f =>
      sameTypes.get(f.name).exists(_ != f.dataType))
    if (needRewrite) {
      // rewrite-widen: land the union beside the old data, then swap
      val tmp = path + ".evolve"
      widened.write.mode("overwrite").parquet(tmp)
      fs.delete(dest, true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), dest)
    } else {
      // align to the widened shape (adds missing columns as nulls)
      val aligned = widened.schema.fields.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType))
      }
      aligned.select(widened.columns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*).write.mode("append").parquet(path)
    }
  }

  /** Clear destination (K8): drop the output path for full-refresh
    * streams (reference `destination/writers.go:299-316`).
    */
  def clear(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) || fs.delete(p, true)
  }
}
