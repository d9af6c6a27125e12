package graft

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.CurrentTimestamp
import org.apache.spark.sql.functions._

import graft.functions.BatchConstant
import graft.operators.SystemColumns

/** [[BatchConstant]]: the value of a literal, the generated code of
  * none. Interpreted and codegen'd evaluation agree, a new value reuses
  * the compiled classes, and `SystemColumns.attach` stamps a batch with
  * one such constant while a streaming frame keeps its per-micro-batch
  * `current_timestamp()`. */
class BatchConstantSpec extends AnyFunSuite with BeforeAndAfterAll
    with SparkJobCounting {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val ts = Instant.parse("2026-01-02T03:04:05.123456Z")

  private def probe(off: Long, at: Instant): DataFrame =
    spark.range(5).where(col("id") =!= BatchConstant.of(off - 6)).select(
      (col("id") + BatchConstant.of(off)).as("plus"),
      BatchConstant.of(at).as("at"),
      (col("id") > BatchConstant.of(off - 5)).as("gt"))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("BatchConstant: long and timestamp values agree interpreted and " +
    "codegen'd, and constant folding keeps the expression") {
    val want = (0L until 5L).filter(_ != 1L).map(i =>
      Row(i + 7L, java.sql.Timestamp.from(ts), i > 2L))
    val got = for {
      wholeStage <- Seq("true", "false")
      mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")
    } yield withConf("spark.sql.codegen.wholeStage" -> wholeStage,
        "spark.sql.codegen.factoryMode" -> mode) {
      probe(7L, ts).collect().toSeq
    }
    got.foreach(rows => assert(rows == want))
    val optimized = probe(7L, ts).queryExecution.optimizedPlan
    assert(optimized.flatMap(_.expressions.flatMap(_.collect {
      case b: BatchConstant => b })).size == 4)
  }

  test("BatchConstant: a new value reuses the compiled classes") {
    probe(7L, ts).collect(): Unit
    val (rows, compiles) = codegenCompilesOf(
      probe(9L, ts.plusSeconds(60)).collect())
    assert(compiles == 0, s"a new value compiled $compiles classes")
    assert(rows.head == Row(9L, java.sql.Timestamp.from(ts.plusSeconds(60)),
      false))
  }

  test("attach: a batch frame gets one _olake_timestamp for every row, " +
    "taken between the wall clock before and after the write") {
    val out = java.nio.file.Files.createTempDirectory("graft_stamp").toString
    val before = Instant.now().truncatedTo(ChronoUnit.MICROS)
    SystemColumns.attach(spark.range(1000).toDF("k"), Seq("k"),
      SystemColumns.OpRead).write.mode("overwrite").parquet(out)
    val after = Instant.now()
    val stamps = spark.read.parquet(out)
      .select(SystemColumns.OlakeTimestamp).distinct().collect()
      .map(_.getTimestamp(0).toInstant)
    assert(stamps.length == 1, stamps.mkString(", "))
    assert(!stamps.head.isBefore(before) && !stamps.head.isAfter(after),
      s"${stamps.head} not within [$before, $after]")
  }

  test("attach: a streaming frame keeps current_timestamp()") {
    val stream = spark.readStream.format("rate").load()
      .select(col("value").as("k"))
    val plan = SystemColumns.attach(stream, Seq("k"), SystemColumns.OpRead)
      .queryExecution.analyzed
    def has(p: PartialFunction[Any, Unit]) =
      plan.exists(_.expressions.exists(_.find(p.isDefinedAt).isDefined))
    assert(has { case _: CurrentTimestamp => })
    assert(!has { case _: BatchConstant => })
  }
}
