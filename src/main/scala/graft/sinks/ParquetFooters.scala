package graft.sinks

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SchemaMerge
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet footers read on the driver, so that opening a parquet path
  * starts no Spark job.
  *
  * A schemaless `spark.read.parquet` infers its schema with
  * `mergeSchemasInParallel`: one Spark job (plus a serialized Hadoop
  * conf) to read one footer. Spark writes its row schema into every
  * footer it produces (`org.apache.spark.sql.parquet.row.metadata`),
  * and for such a file that key IS the inferred schema, so [[read]]
  * reads it here and hands it to `spark.read.schema(...)`. Spark still
  * lists the paths and discovers hive partitions (`__p_*`) itself.
  *
  * The files read are the ones Spark's inference reads: the data files
  * its file index lists under the paths (hidden `_`/`.` names skipped,
  * `k=v` directories entered), sorted by qualified path; the first one,
  * or with `mergeSchema` all of them merged in that order with Spark's
  * own `StructType.merge`. When any file read lacks the key (pyarrow
  * and other foreign writers), a footer cannot be read, a path is
  * missing or a glob, or no data file exists, the read falls back to
  * Spark's inference, which then behaves (and fails) exactly as
  * before. */
object ParquetFooters {

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** Open `path`'s footer with the session's Hadoop conf.
    * `ParquetFileReader.open(InputFile)` alone builds its read options on
    * a fresh `Configuration`, which re-reads its resources from the
    * classpath on every call. */
  def open(spark: SparkSession, path: String): ParquetFileReader = {
    val conf = spark.sparkContext.hadoopConfiguration
    ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf),
      HadoopReadOptions.builder(conf).build())
  }

  /** `spark.read.parquet(paths: _*)` (with `merge`, under
    * `mergeSchema`), with the schema taken from footers. */
  def read(spark: SparkSession, paths: Seq[String],
           merge: Boolean = false): DataFrame =
    schema(spark, paths, merge) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None =>
        val r = spark.read
        (if (merge) r.option("mergeSchema", "true") else r).parquet(paths: _*)
    }

  /** The data schema Spark's inference gives `paths`, or None where it
    * must be left to Spark (see the object doc). */
  private def schema(spark: SparkSession, paths: Seq[String],
                     merge: Boolean): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val merging = merge ||
      spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    dataFiles(conf, paths).filter(_.nonEmpty).flatMap { files =>
      val schemas = (if (merging) files else files.take(1))
        .map(f => footerSchema(spark, f))
      if (schemas.contains(None)) None
      else {
        val caseSensitive =
          spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
        Some(schemas.flatten.reduceLeft(SchemaMerge.merge(_, _, caseSensitive)))
      }
    }
  }

  private def footerSchema(spark: SparkSession, file: String): Option[StructType] =
    Try {
      val r = open(spark, file)
      try Option(r.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      finally r.close()
    }.toOption.flatten.flatMap(json => Try(DataType.fromJson(json)).toOption)
      .collect { case s: StructType => s }

  /** The data files Spark's file index lists under `paths`, sorted by
    * qualified path as its schema inference sorts them; None when a
    * path is a glob or does not exist. */
  private def dataFiles(conf: Configuration, paths: Seq[String])
      : Option[Seq[String]] = {
    val roots = paths.map { p =>
      if (p.exists("{}[]*?\\".contains(_))) None
      else Try {
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        fs -> fs.getFileStatus(fs.makeQualified(path))
      }.toOption
    }
    if (roots.contains(None)) None
    else Some(roots.flatten.flatMap { case (fs, st) =>
      if (st.isFile) Seq(st).filterNot(f => hidden(f.getPath.getName))
      else leaves(fs, st)
    }.map(_.getPath.toString).sorted)
  }

  private def leaves(fs: FileSystem, dir: FileStatus): Seq[FileStatus] = {
    val (dirs, files) = fs.listStatus(dir.getPath).toSeq
      .filterNot(s => hidden(s.getPath.getName)).partition(_.isDirectory)
    files ++ dirs.flatMap(leaves(fs, _))
  }

  // the names Spark's file index leaves out of a listing's data files
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")
}
