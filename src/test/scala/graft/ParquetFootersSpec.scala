package graft

import java.io.File
import java.nio.file.Files

import scala.io.Source

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.ParquetFooters

/** `ParquetFooters.read` gives every input the schema Spark's own
  * inference gives it (or fails as Spark fails), and the ELT paths open
  * parquet through it. */
class ParquetFootersSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_footers_$name").toString + "/t"

  private def inferred(paths: Seq[String], merge: Boolean): DataFrame = {
    val r = spark.read
    (if (merge) r.option("mergeSchema", "true") else r).parquet(paths: _*)
  }

  private def assertSameSchema(paths: Seq[String], merge: Boolean = false) =
    assert(ParquetFooters.read(spark, paths, merge).schema ==
      inferred(paths, merge).schema)

  private def assertSameFailure(paths: Seq[String], merge: Boolean = false) = {
    val want = intercept[Exception](inferred(paths, merge).schema)
    val got = intercept[Exception](ParquetFooters.read(spark, paths, merge).schema)
    assert(got.getClass == want.getClass, got)
    (got, want) match {
      case (g: org.apache.spark.SparkThrowable, w: org.apache.spark.SparkThrowable) =>
        assert(g.getCondition == w.getCondition, got)
      case _ =>
    }
  }

  private def partFiles(dir: String): Seq[String] =
    new File(dir).listFiles.map(_.getPath).filter(_.endsWith(".parquet"))
      .sorted.toSeq

  test("a Spark-written directory, explicit file lists and a hive-" +
    "partitioned base read with the schema Spark infers") {
    val dir = tmp("dir")
    spark.range(40).select(
        col("id"), col("id").cast("int").as("i"), col("id").cast("string").as("s"),
        (col("id") / 7).cast("decimal(18,2)").as("d"),
        timestamp_micros(col("id")).as("ts"), current_date().as("day"),
        array(col("id"), lit(1L)).as("arr"),
        struct(col("id").as("a"), lit("x").as("b")).as("st"),
        map(lit("k"), col("id")).as("m"), lit(null).cast("double").as("n"))
      .repartition(3).write.parquet(dir)
    assertSameSchema(Seq(dir))
    assert(ParquetFooters.read(spark, Seq(dir)).count() == 40)
    assertSameSchema(partFiles(dir))

    // files of two schemas: Spark reads the first by path, not the
    // first given
    val a = tmp("a"); val b = tmp("b")
    spark.range(5).select(col("id"), lit("v").as("v")).write.parquet(a)
    spark.range(5).select(col("id"), lit(1).as("w"), lit("v").as("v"))
      .write.parquet(b)
    assertSameSchema(partFiles(b) ++ partFiles(a))
    assertSameSchema(partFiles(a) ++ partFiles(b))
    assertSameSchema(Seq(b, a), merge = true)

    // a partition-aware compacted base: `__p_*` columns come from the
    // directory names, typed as Spark types them
    val base = tmp("base")
    spark.range(30).select(col("id"), (col("id") % 3).cast("int").as("__p_k"),
        (col("id") % 2 === 0).as("__p_even"))
      .write.partitionBy("__p_k", "__p_even").parquet(base)
    assertSameSchema(Seq(base))
    assert(ParquetFooters.read(spark, Seq(base)).columns.toSeq ==
      Seq("id", "__p_k", "__p_even"))
  }

  test("merged segments: a later segment's added column merges as " +
    "Spark merges it; conflicting types fail with Spark's exception") {
    val t = tmp("segs")
    spark.range(10).select(col("id"), col("id").as("v"))
      .write.parquet(s"$t/seg-1")
    spark.range(10).select(col("id"), col("id").as("v"), lit("n").as("note"))
      .write.parquet(s"$t/seg-2")
    assertSameSchema(Seq(s"$t/seg-1", s"$t/seg-2"), merge = true)
    assertSameSchema(Seq(s"$t/seg-2", s"$t/seg-1"), merge = true)
    assert(ParquetFooters.read(spark, Seq(s"$t/seg-1", s"$t/seg-2"),
      merge = true).columns.toSeq == Seq("id", "v", "note"))

    spark.range(10).select(col("id"), col("id").cast("string").as("v"))
      .write.parquet(s"$t/seg-3")
    assertSameFailure(Seq(s"$t/seg-1", s"$t/seg-3"), merge = true)
  }

  test("foreign footers, empty and missing paths fall back to Spark's " +
    "inference") {
    // pyarrow-written, `ts` as INT64 TIMESTAMP(NANOS) (TESTDATA.md)
    val events = "/root/testdata/sf0.001/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try assertSameSchema(Seq(events))
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    val empty = Files.createTempDirectory("graft_footers_empty").toString
    assertSameFailure(Seq(empty))
    assertSameFailure(Seq(s"$empty/missing"))
    assertSameFailure(Seq(s"$empty/missing"), merge = true)
  }

  /** Schema-inferring reads left outside `ParquetFooters`, by file and
    * enclosing top-level def: each is off the sync, commit, publish
    * and read paths. */
  private val coldReads: Map[String, (Int, String)] = Map(
    "Protocol.scala checkDestination" ->
      (1, "check --destination reads back its one-row probe"),
    "sinks/IcebergMetadata.scala rewritePositionDeletes" ->
      (1, "maintenance rewrite: scans every row it rewrites"),
    "sinks/IcebergMetadata.scala rewriteEqualityDeletes" ->
      (1, "maintenance rewrite: scans every row it rewrites"),
    "sinks/IcebergMetadata.scala binpackRewrite" ->
      (1, "maintenance rewrite: scans every row it rewrites"),
    "sinks/IcebergMetadata.scala sortRewrite" ->
      (1, "maintenance rewrite: scans every row it rewrites"),
    "sinks/ParquetSink.scala appendEvolving" ->
      (1, "schema-evolving append: merges the existing schema to widen it"),
    "sinks/ZOrder.scala fileAssign" ->
      (1, "reads back its own scratch write to assign file ids"),
    "streaming/DedupStream.scala registerIndex" ->
      (2, "curated-ingest dedup index views"),
    "streaming/DedupStream.scala currentBlooms" ->
      (2, "curated-ingest dedup bloom snapshot"),
    "streaming/DedupStream.scala registerMinhashIndex" ->
      (2, "curated-ingest near-dup index views"),
    "streaming/DedupStream.scala registerCosineIndex" ->
      (2, "curated-ingest embedding index views"),
    "streaming/ProfileStream.scala currentRegisters" ->
      (1, "profiling sketch state"),
    "streaming/ProfileStream.scala applyBatch" ->
      (1, "profiling sketch state"),
    "streaming/ProfileStream.scala currentCms" ->
      (1, "profiling sketch state"),
    "streaming/ProfileStream.scala applyCmsBatch" ->
      (1, "profiling sketch state"),
    "streaming/ScdStream.scala applyBatch" ->
      (1, "SCD-2 dimension buckets touched by a batch"))

  test("no new schema-inferring parquet read on the ELT paths outside " +
    "ParquetFooters") {
    val root = new File("src/main/scala/graft")
    val files = (Seq("sinks", "streaming").flatMap(d =>
        new File(root, d).listFiles.filter(_.getName.endsWith(".scala")).toSeq) ++
      Seq(new File(root, "Protocol.scala"), new File(root, "Tables.scala")))
      .filterNot(_.getName == "ParquetFooters.scala")
    assert(files.size > 10, s"sources not found under ${root.getAbsolutePath}")
    val TopDef = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r.unanchored
    val found = files.flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val src = Source.fromFile(f, "UTF-8")
      try {
        var fn = "<none>"
        src.getLines().flatMap { line =>
          line match { case TopDef(n) => fn = n; case _ => }
          if (line.contains("spark.read.parquet(") ||
              line.contains("option(\"mergeSchema\"")) Some(s"$rel $fn")
          else None
        }.toList
      } finally src.close()
    }.groupBy(identity).map { case (k, v) => k -> v.size }
    val allowed = coldReads.map { case (k, (n, _)) => k -> n }
    val added = found.filter { case (k, n) => allowed.getOrElse(k, 0) < n }
    val stale = allowed.filter { case (k, n) => found.getOrElse(k, 0) < n }
    assert(added.isEmpty, s": read parquet through ParquetFooters.read " +
      s"(or list a cold path with its reason): $added")
    assert(stale.isEmpty, s": allow-list entries no longer needed: $stale")
  }
}
