package graft

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.CdcStream
import graft.state.StateStore

/** Structured-Streaming CDC pipeline: change log in, merged table out,
  * with replay-safe commits (reference cdc.go:117-179 + postgres
  * cdc.go:160-202 recovery semantics). */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll
    with SparkJobCounting {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // the session contract of every entry point: native kernels
    // (graft_dot in the cosine micro-batch path) resolve via extensions
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val schema = StructType(Seq(
    StructField("_olake_id", StringType),
    StructField("lsn", LongType),
    StructField("kind", StringType),
    StructField("_cdc_timestamp", TimestampType),
    StructField("v", LongType)))

  private def tmp(): String =
    Files.createTempDirectory("graft_stream").toString

  private def writeLog(dir: String, name: String, lines: Seq[String]): Unit =
    Files.write(java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes)

  private def line(id: String, lsn: Long, kind: String, v: Long): String =
    s"""{"_olake_id":"$id","lsn":$lsn,"kind":"$kind","_cdc_timestamp":"2024-01-01 00:00:0$lsn","v":$v}"""

  test("cdc stream: insert/update/delete merge into table; dedup window closes") {
    val (logDir, table, state, ckpt) = (tmp(), tmp() + "/t", tmp() + "/s.json", tmp())
    writeLog(logDir, "b1.json", Seq(
      line("a", 1, "insert", 10),
      line("b", 2, "insert", 20),
      line("a", 3, "update", 11)))
    CdcStream.run(spark, logDir, schema, table, state, ckpt).awaitTermination()

    val t1 = CdcStream.readTable(spark, table).orderBy("_olake_id").collect()
    assert(t1.map(r => (r.getAs[String]("_olake_id"), r.getAs[Long]("v"))).toSeq ==
      Seq(("a", 11L), ("b", 20L)))
    val st1 = StateStore.load(state).get.streams("events")
    assert(!st1.dedupInserts) // window closed after first committed pass
    assert(st1.offsets("lsn") == 3L)

    // second pass: delete b, insert c; replay of lsn<=3 must be dropped
    writeLog(logDir, "b2.json", Seq(
      line("a", 3, "update", 999), // exact replay (same lsn): dropped
      line("b", 4, "delete", 0),
      line("c", 5, "insert", 30)))
    CdcStream.run(spark, logDir, schema, table, state, ckpt).awaitTermination()

    val t2 = CdcStream.readTable(spark, table).orderBy("_olake_id").collect()
    assert(t2.map(r => (r.getAs[String]("_olake_id"), r.getAs[Long]("v"))).toSeq ==
      Seq(("a", 11L), ("c", 30L)))
    assert(StateStore.load(state).get.streams("events").offsets("lsn") == 5L)
  }

  test("cdc stream: replayed batch is a no-op (idempotent commit)") {
    val (logDir, table, state, ckpt) = (tmp(), tmp() + "/t", tmp() + "/s.json", tmp())
    writeLog(logDir, "b1.json", Seq(line("x", 1, "insert", 1)))
    CdcStream.run(spark, logDir, schema, table, state, ckpt).awaitTermination()

    // simulate a crash after the state commit but before the streaming
    // checkpoint advanced: re-deliver batch 0 by hand
    val batch = spark.read.schema(schema).json(s"$logDir/b1.json")
    CdcStream.applyBatch(batch, 0L, table, state, "events")
    assert(CdcStream.readTable(spark, table).count() == 1)
    assert(StateStore.load(state).get.streams("events")
      .offsets("batchId") == 0L)
  }

  test("cdc stream: crash mid-swap recovers the base snapshot") {
    val (logDir, table, state, ckpt) = (tmp(), tmp() + "/t", tmp() + "/s.json", tmp())
    writeLog(logDir, "b1.json", Seq(
      line("a", 1, "insert", 10), line("b", 2, "insert", 20)))
    CdcStream.run(spark, logDir, schema, table, state, ckpt).awaitTermination()
    assert(CdcStream.readTable(spark, table).count() == 2)

    // crash window 1: old moved aside, .next not yet published during a
    // compaction — recovery restores the old base; any leftover
    // segments re-fold idempotently
    val cur = new java.io.File(table + "/base")
    val old = new java.io.File(table + "/base.old")
    assert(cur.renameTo(old))
    CdcStream.recoverSwap(table)
    assert(cur.exists && !old.exists)
    assert(CdcStream.readTable(spark, table).count() == 2)

    // crash window 2: swap fully interrupted — base missing, only .next
    // (the new snapshot) on disk; roll forward
    val next = new java.io.File(table + "/base.next")
    assert(cur.renameTo(next))
    CdcStream.recoverSwap(table)
    assert(cur.exists && !next.exists)
    assert(CdcStream.readTable(spark, table).count() == 2)

    // stale leftovers beside a live base are discarded, base untouched
    java.nio.file.Files.createDirectory(next.toPath)
    CdcStream.recoverSwap(table)
    assert(cur.exists && !next.exists)

    // and the pipeline keeps working after recovery
    writeLog(logDir, "b2.json", Seq(line("c", 3, "insert", 30)))
    CdcStream.run(spark, logDir, schema, table, state, ckpt).awaitTermination()
    assert(CdcStream.readTable(spark, table).count() == 3)
  }

  test("cdc micro-batch writes O(batch) bytes: base untouched, one small segment") {
    import graft.sinks.DeltaSegments
    val (logDir, table, state, ckpt) = (tmp(), tmp() + "/t", tmp() + "/s.json", tmp())
    // fixed timestamp: the shared `line` helper only renders lsn 0-9
    def bigLine(id: String, lsn: Long, kind: String, v: Long): String =
      s"""{"_olake_id":"$id","lsn":$lsn,"kind":"$kind","_cdc_timestamp":"2024-01-01 00:00:00","v":$v}"""
    // seed: a sizable base via the bootstrap fold
    writeLog(logDir, "b1.json",
      (1 to 20000).map(i => bigLine(s"k$i", i.toLong, "insert", i.toLong)))
    CdcStream.run(spark, logDir, schema, table, state, ckpt).awaitTermination()
    val baseDir = DeltaSegments.baseDir(table)
    assert(baseDir.exists && DeltaSegments.listSegments(table).isEmpty)
    def snapshot(d: java.io.File): Map[String, Long] =
      d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    def bytes(d: java.io.File): Long =
      d.listFiles().map(f => if (f.isFile) f.length else bytes(f)).sum
    val baseBefore = snapshot(baseDir)
    val baseBytes = bytes(baseDir)

    // a tiny CDC batch must not rewrite the base
    writeLog(logDir, "b2.json", Seq(
      bigLine("k1", 30001, "update", 999), bigLine("k2", 30002, "delete", 0),
      bigLine("x", 30003, "insert", 7)))
    CdcStream.run(spark, logDir, schema, table, state, ckpt).awaitTermination()
    assert(snapshot(baseDir) == baseBefore, "base files were rewritten")
    val segs = DeltaSegments.listSegments(table)
    assert(segs.size == 1)
    assert(bytes(segs.head) < baseBytes / 5,
      s"segment ${bytes(segs.head)}B not O(batch) vs base ${baseBytes}B")
    // and the merged view reflects the batch
    val t = CdcStream.readTable(spark, table)
    assert(t.count() == 20000) // +1 insert, -1 delete
    assert(t.where(col("_olake_id") === "k1").head.getAs[Long]("v") == 999L)
    assert(t.where(col("_olake_id") === "k2").count() == 0)
  }

  test("compaction folds segments into base once the policy triggers") {
    import graft.sinks.DeltaSegments
    val (table, state) = (tmp() + "/t", tmp() + "/s.json")
    val policy = DeltaSegments.CompactionPolicy(maxSegments = 3,
      maxDeltaRatio = 1e9) // only the count trigger fires
    def batch(rows: Seq[String]): org.apache.spark.sql.DataFrame = {
      val p = java.nio.file.Files.createTempFile("seg", ".json")
      java.nio.file.Files.write(p, rows.mkString("\n").getBytes)
      spark.read.schema(schema).json(p.toString)
    }
    CdcStream.applyBatch(batch(Seq(line("a", 1, "insert", 1),
      line("b", 2, "insert", 2))), 0L, table, state, "ev", policy)
    assert(DeltaSegments.listSegments(table).isEmpty) // bootstrap fold
    CdcStream.applyBatch(batch(Seq(line("c", 3, "insert", 3))),
      1L, table, state, "ev", policy)
    CdcStream.applyBatch(batch(Seq(line("a", 4, "update", 10))),
      2L, table, state, "ev", policy)
    assert(DeltaSegments.listSegments(table).size == 2)
    CdcStream.applyBatch(batch(Seq(line("b", 5, "delete", 0))),
      3L, table, state, "ev", policy) // 3rd segment → fold
    assert(DeltaSegments.listSegments(table).isEmpty)
    val t = CdcStream.readTable(spark, table).orderBy("_olake_id").collect()
    assert(t.map(r => (r.getAs[String]("_olake_id"), r.getAs[Long]("v"))).toSeq ==
      Seq(("a", 10L), ("c", 3L)))
  }

  /** A batch frame over a JSON change-log file holding `rows`. */
  private def jsonBatch(rows: Seq[String]): org.apache.spark.sql.DataFrame = {
    val p = java.nio.file.Files.createTempFile("seg", ".json")
    java.nio.file.Files.write(p, rows.mkString("\n").getBytes)
    spark.read.schema(schema).json(p.toString)
  }

  // fixed timestamp: `line` only renders lsn 0-9; lsn breaks the ties
  private def lsnLine(id: String, lsn: Long, kind: String, v: Long): String =
    s"""{"_olake_id":"$id","lsn":$lsn,"kind":"$kind","_cdc_timestamp":"2024-01-01 00:00:00","v":$v}"""

  test("applyBatch with an Iceberg publish runs at most 4 Spark jobs on " +
    "a batch that does not compact and 5 on one that does; its segment " +
    "carries _unique_keys") {
    import graft.sinks.{DeltaSegments, IcebergMetadata}
    val (table, state, ice) = (tmp() + "/t", tmp() + "/s.json", tmp())
    // folds only at the second live segment (and at the bootstrap)
    val policy = DeltaSegments.CompactionPolicy(maxSegments = 2,
      maxDeltaRatio = 1e9)
    def apply(id: Long, rows: Seq[String]): Int = jobsOf(
      CdcStream.applyBatch(jsonBatch(rows), id, table, state, "ev", policy,
        icebergDir = Some(ice)))._2
    apply(0L, (1 to 200).map(i => lsnLine(s"k$i", i, "insert", i)))
    assert(DeltaSegments.listSegments(table).isEmpty) // bootstrap fold
    // every batch repeats keys: the dedup, not the input, makes the
    // segment key-unique
    def changes(lsn0: Long): Seq[String] = (0 until 60).map { j =>
      val lsn = lsn0 + j
      val k = s"k${1 + j % 30}"
      if (j % 7 == 0) lsnLine(k, lsn, "delete", 0)
      else lsnLine(k, lsn, "update", lsn)
    } :+ lsnLine(s"n$lsn0", lsn0 + 60, "insert", 1)
    val jobs1 = apply(1L, changes(1000))
    val segs = DeltaSegments.listSegments(table)
    assert(segs.size == 1 && DeltaSegments.markedKeyUnique(segs.head),
      s"segment not marked _unique_keys: ${segs.map(_.list.toSeq)}")
    assert(jobs1 <= 4, s"non-compacting batch ran $jobs1 Spark jobs")
    val jobs2 = apply(2L, changes(2000))
    assert(DeltaSegments.listSegments(table).isEmpty) // folded
    assert(jobs2 <= 5, s"compacting batch ran $jobs2 Spark jobs")
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("_olake_id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val t = snap(CdcStream.readTable(spark, table))
    assert(snap(IcebergMetadata.readMoR(spark, ice)) == t)
    // one timestamp: a key with a delete in the batch ends deleted (op
    // priority), the others at their later update (lsn)
    val deleted = Set(1, 6, 8, 13, 15, 20, 22, 27, 29).map(i => s"k$i")
    assert(t.contains(("k30", 2059L)) && t.contains(("n2000", 1L)) &&
      t.contains(("n1000", 1L)) && t.size == 193 &&
      !t.exists(r => deleted(r._1)))
    assert(StateStore.load(state).get.streams("ev").offsets("lsn") == 2060L)
  }

  test("writeSegment marks only a frame whose plan proves unique keys " +
    "and observes the max of a column on the write") {
    import graft.operators.Merge
    import graft.sinks.DeltaSegments
    import spark.implicits._
    val table = tmp()
    val dup = Seq(("a", 1L, "u"), ("a", 2L, "u"), ("b", 3L, "u"))
      .toDF("_olake_id", "lsn", "_op_type")
    def marked(id: Long) =
      DeltaSegments.markedKeyUnique(DeltaSegments.segDir(table, id))
    assert(DeltaSegments.writeSegment(dup, table, 1L,
      maxOf = Some("lsn")) == Some(3L))
    assert(!marked(1L), "a frame that repeats a key was marked")
    // unique rows, but nothing in the plan proves it
    DeltaSegments.writeSegment(dup.where($"lsn" > 1), table, 2L): Unit
    assert(!marked(2L))
    val deduped = Merge.dedupKeepLatestAgg(dup, orderCols = Seq($"lsn"))
    assert(DeltaSegments.writeSegment(deduped, table, 3L) == None)
    assert(marked(3L))
    assert(deduped.orderBy("_olake_id").as[(String, Long, String)]
      .collect().toSeq == Seq(("a", 2L, "u"), ("b", 3L, "u")))
    // a replay that proves nothing overwrites the marker away
    DeltaSegments.writeSegment(dup, table, 3L): Unit
    assert(!marked(3L))
    // no row: the observed max is None
    assert(DeltaSegments.writeSegment(deduped.where($"lsn" > 9), table, 4L,
      maxOf = Some("lsn")).isEmpty)
  }

  test("a crash between the state commit and the publish: the replayed " +
    "batch id publishes what the state holds") {
    import graft.sinks.{DeltaSegments, IcebergMetadata}
    val (table, state, ice) = (tmp() + "/t", tmp() + "/s.json", tmp())
    val policy = DeltaSegments.CompactionPolicy(maxSegments = 100,
      maxDeltaRatio = 1e9)
    val b0 = Seq(lsnLine("a", 10, "insert", 1), lsnLine("b", 11, "insert", 2),
      lsnLine("c", 12, "insert", 3))
    val b1 = Seq(lsnLine("a", 13, "update", 4), lsnLine("b", 14, "delete", 0),
      lsnLine("d", 15, "insert", 5))
    CdcStream.applyBatch(jsonBatch(b0), 0L, table, state, "ev", policy,
      icebergDir = Some(ice))
    // batch 1 commits its state, then the process dies before the publish
    CdcStream.applyBatch(jsonBatch(b1), 1L, table, state, "ev", policy)
    def snap(df: org.apache.spark.sql.DataFrame) = df
      .select("_olake_id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val lastPerKey = Set(("a", 4L), ("c", 3L), ("d", 5L))
    assert(snap(IcebergMetadata.readMoR(spark, ice)) != lastPerKey)
    // the restarted stream re-delivers batch 1
    CdcStream.applyBatch(jsonBatch(b1), 1L, table, state, "ev", policy,
      icebergDir = Some(ice))
    assert(snap(IcebergMetadata.readMoR(spark, ice)) == lastPerKey)
    assert(IcebergMetadata.commitState(ice).exists(_.contains("\"batchId\":1")))
    // a second replay finds the table current and commits nothing
    val version = IcebergMetadata.currentMetadata(ice).map(_._1)
    CdcStream.applyBatch(jsonBatch(b1), 1L, table, state, "ev", policy,
      icebergDir = Some(ice))
    assert(IcebergMetadata.currentMetadata(ice).map(_._1) == version)
  }

  test("a batch with no change above the committed LSN leaves no " +
    "segment, advances batchId and keeps lsn") {
    import graft.sinks.DeltaSegments
    val (table, state) = (tmp() + "/t", tmp() + "/s.json")
    val policy = DeltaSegments.CompactionPolicy(maxSegments = 100,
      maxDeltaRatio = 1e9)
    def offsets = StateStore.load(state).get.streams("ev").offsets
    CdcStream.applyBatch(jsonBatch(Seq(lsnLine("a", 10, "insert", 1),
      lsnLine("b", 11, "insert", 2))), 0L, table, state, "ev", policy)
    CdcStream.applyBatch(jsonBatch(Seq(lsnLine("a", 12, "update", 3))),
      1L, table, state, "ev", policy)
    assert(DeltaSegments.listSegments(table).size == 1)
    // a replay of lsn 11-12 only
    CdcStream.applyBatch(jsonBatch(Seq(lsnLine("a", 12, "update", 99),
      lsnLine("b", 11, "insert", 99))), 2L, table, state, "ev", policy)
    assert(!DeltaSegments.segDir(table, 2L).exists)
    assert(offsets("batchId") == 2L && offsets("lsn") == 12L)
    // a batch frame with no partition at all
    CdcStream.applyBatch(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      3L, table, state, "ev", policy)
    assert(DeltaSegments.listSegments(table).map(_.getName) ==
      Seq(DeltaSegments.segDir(table, 1L).getName))
    assert(offsets("batchId") == 3L && offsets("lsn") == 12L)
    val t = CdcStream.readTable(spark, table).orderBy("_olake_id").collect()
    assert(t.map(r => (r.getAs[String]("_olake_id"), r.getAs[Long]("v"))).toSeq ==
      Seq(("a", 3L), ("b", 2L)))
  }

  test("schema evolution through delta segments: column added mid-stream reads as null for older rows") {
    import graft.sinks.DeltaSegments
    val (table, state) = (tmp() + "/t", tmp() + "/s.json")
    val policy = DeltaSegments.CompactionPolicy(maxSegments = 100,
      maxDeltaRatio = 1e9) // never fold mid-test
    def batch(sch: StructType, rows: Seq[String]): org.apache.spark.sql.DataFrame = {
      val p = java.nio.file.Files.createTempFile("seg", ".json")
      java.nio.file.Files.write(p, rows.mkString("\n").getBytes)
      spark.read.schema(sch).json(p.toString)
    }
    val evolved = StructType(schema.fields :+ StructField("w", StringType))
    // batch 0 (old schema): a, b — lands as the base (bootstrap fold)
    CdcStream.applyBatch(batch(schema, Seq(
      line("a", 1, "insert", 1), line("b", 2, "insert", 2))),
      0L, table, state, "ev", policy)
    // batch 1 (evolved): update a with the new column, insert c
    CdcStream.applyBatch(batch(evolved, Seq(
      s"""{"_olake_id":"a","lsn":3,"kind":"update","_cdc_timestamp":"2024-01-01 00:00:03","v":10,"w":"x"}""",
      s"""{"_olake_id":"c","lsn":4,"kind":"insert","_cdc_timestamp":"2024-01-01 00:00:04","v":3,"w":"y"}""")),
      1L, table, state, "ev", policy)
    val t = CdcStream.readTable(spark, table).orderBy("_olake_id").collect()
    assert(t.map(r => (r.getAs[String]("_olake_id"), r.getAs[Long]("v"),
      Option(r.getAs[String]("w")))).toSeq ==
      Seq(("a", 10L, Some("x")), ("b", 2L, None), ("c", 3L, Some("y"))))
    // compaction folds the evolved schema into the new base
    DeltaSegments.compact(spark, table)
    val folded = CdcStream.readTable(spark, table).orderBy("_olake_id").collect()
    assert(folded.map(r => (r.getAs[String]("_olake_id"),
      Option(r.getAs[String]("w")))).toSeq ==
      Seq(("a", Some("x")), ("b", None), ("c", Some("y"))))
  }

  test("pipeline is stateless: no streaming state across batches with disjoint keys") {
    val (logDir, table, state, ckpt) = (tmp(), tmp() + "/t", tmp() + "/s.json", tmp())
    writeLog(logDir, "b1.json", Seq(line("a", 1, "insert", 1)))
    val q1 = CdcStream.run(spark, logDir, schema, table, state, ckpt)
    q1.awaitTermination()
    writeLog(logDir, "b2.json", Seq(line("b", 2, "insert", 2)))
    val q2 = CdcStream.run(spark, logDir, schema, table, state, ckpt)
    q2.awaitTermination()
    // replay safety is position-based (committed LSN + batchId), so the
    // stream itself carries NO keyed state — state size cannot grow
    // with key cardinality
    val progress = (q1.recentProgress ++ q2.recentProgress).toSeq
    assert(progress.nonEmpty)
    assert(progress.forall(_.stateOperators.isEmpty),
      "expected a stateless streaming plan")
    assert(CdcStream.readTable(spark, table).count() == 2)
  }

  test("windowed event rates aggregate per event-time window on a stream") {
    import graft.streaming.WindowedStats
    val (logDir, ckpt, out) = (tmp(), tmp(), tmp())
    writeLog(logDir, "b1.json", Seq(
      line("a", 1, "insert", 1), line("b", 2, "insert", 1),
      line("a", 8, "insert", 1)))
    val q = WindowedStats.eventRates(
        CdcStream.readChangeLog(spark, logDir, schema),
        "_cdc_timestamp", "_olake_id", "5 seconds")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // windows [0,5) and [5,10): 'a' appears in both, 'b' in the first.
    // append mode emits only watermark-closed windows; AvailableNow with
    // a 10m delay closes nothing, so assert via the batch path instead:
    val batch = WindowedStats.eventRates(
      spark.read.schema(schema).json(logDir), "_cdc_timestamp", "_olake_id",
      "5 seconds").collect()
    assert(batch.map(r => (r.getAs[String]("_olake_id"),
      r.getAs[Long]("n"))).toSet == Set(("a", 1L), ("b", 1L), ("a", 1L)))
    assert(batch.length == 3)
  }

  test("late rows drop at the committed watermark across checkpoint-resumed runs") {
    import graft.streaming.WindowedStats
    import org.apache.spark.sql.streaming.Trigger
    val (logDir, ckpt, out) = (tmp(), tmp(), tmp())
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("ts", TimestampType)))
    def runOnce(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = WindowedStats.eventRates(
          spark.readStream.schema(sch).json(logDir), "ts", "k",
          "1 hour", "30 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    def j(k: String, ts: String) = s"""{"k":"$k","ts":"$ts"}"""
    // run 1: watermark commits at 11:10 - 30m = 10:40
    writeLog(logDir, "b1.json", Seq(
      j("a", "2024-01-01 10:05:00"), j("b", "2024-01-01 11:10:00")))
    runOnce()
    // run 2: 09:30 (window end 10:00 ≤ 10:40) must DROP; 10:30 (end
    // 11:00 > 10:40) must merge into a's 10:00 window
    writeLog(logDir, "b2.json", Seq(
      j("a", "2024-01-01 09:30:00"), j("a", "2024-01-01 10:30:00")))
    val q2 = runOnce()
    val dropped = q2.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    assert(dropped == 1L, s"expected exactly the 09:30 straggler dropped, got $dropped")
    // run 3: sentinel closes all real windows
    writeLog(logDir, "b3.json", Seq(j("z", "2024-01-02 09:00:00")))
    runOnce()
    val res = spark.read.schema(StructType(Seq(
        StructField("window_start", TimestampType),
        StructField("k", StringType), StructField("n", LongType))))
      .parquet(out).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      .toSet
    // a's 10:00 window counts 10:05 + 10:30 but NOT the dropped 09:30;
    // no 09:00 window exists; sentinel window never emits
    assert(res == Set(("2024-01-01 10:00:00.0", "a", 2L),
      ("2024-01-01 11:00:00.0", "b", 1L)))
  }

  test("stream-stream interval join: on-time pairs emit; a post-watermark " +
       "straggler is dropped and its click state evicted") {
    import graft.streaming.StreamJoin
    import org.apache.spark.sql.streaming.Trigger
    val (clickDir, buyDir, ckpt, out) = (tmp(), tmp(), tmp(), tmp())
    val cSch = StructType(Seq(StructField("click_id", LongType),
      StructField("cuser", LongType), StructField("cts", TimestampType)))
    val bSch = StructType(Seq(StructField("buy_id", LongType),
      StructField("buser", LongType), StructField("bts", TimestampType)))
    def runOnce(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = StreamJoin.interval(
          spark.readStream.schema(cSch).json(clickDir),
          spark.readStream.schema(bSch).json(buyDir),
          "cuser", "buser", "cts", "bts", "1 hour", "10 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(); q
    }
    def c(id: Long, u: Long, ts: String) =
      s"""{"click_id":$id,"cuser":$u,"cts":"$ts"}"""
    def b(id: Long, u: Long, ts: String) =
      s"""{"buy_id":$id,"buser":$u,"bts":"$ts"}"""
    // run 1: user 1's on-time pair; disjoint users 8/9 push the global
    // watermark to 20:00 − 10 min = 19:50 on BOTH sides (the join's
    // watermark is the min over inputs)
    writeLog(clickDir, "b0.json", Seq(
      c(100, 1, "2024-01-01 10:00:00"), c(108, 8, "2024-01-01 20:00:00")))
    writeLog(buyDir, "b0.json", Seq(
      b(200, 1, "2024-01-01 10:30:00"), b(209, 9, "2024-01-01 20:00:00")))
    runOnce()
    // run 2: user 1 "buys" again at 10:40 — behind the committed 19:50
    // watermark: the row drops at input and click 100's state is long
    // evicted (watermark > cts + 1 h), so no pair may appear even
    // though a batch join would match it. An on-time pair (user 2 at
    // 19:55/19:58) still joins — the stream is live, not wedged.
    writeLog(clickDir, "b1.json", Seq(c(102, 2, "2024-01-01 19:55:00")))
    writeLog(buyDir, "b1.json", Seq(
      b(201, 1, "2024-01-01 10:40:00"), b(202, 2, "2024-01-01 19:58:00")))
    runOnce()
    val res = spark.read.schema(StructType(cSch.fields ++ bSch.fields))
      .parquet(out).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("buy_id")))
      .toSet
    assert(res == Set((100L, 200L), (102L, 202L)), res.toString)
  }

  test("stream-stream LEFT-OUTER interval join: null rows are " +
       "watermark-gated — emitted only once a match can no longer arrive") {
    import graft.streaming.StreamJoin
    import org.apache.spark.sql.streaming.Trigger
    val (clickDir, buyDir, ckpt, out) = (tmp(), tmp(), tmp(), tmp())
    val cSch = StructType(Seq(StructField("click_id", LongType),
      StructField("cuser", LongType), StructField("cts", TimestampType)))
    val bSch = StructType(Seq(StructField("buy_id", LongType),
      StructField("buser", LongType), StructField("bts", TimestampType)))
    def runOnce(): Unit = {
      val q = StreamJoin.intervalLeftOuter(
          spark.readStream.schema(cSch).json(clickDir),
          spark.readStream.schema(bSch).json(buyDir),
          "cuser", "buser", "cts", "bts", "1 hour", "10 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def c(id: Long, u: Long, ts: String) =
      s"""{"click_id":$id,"cuser":$u,"cts":"$ts"}"""
    def b(id: Long, u: Long, ts: String) =
      s"""{"buy_id":$id,"buser":$u,"bts":"$ts"}"""
    def pairs(): Set[(Long, Option[Long])] =
      spark.read.schema(StructType(cSch.fields ++ bSch.fields))
        .parquet(out).collect()
        .map(r => (r.getAs[Long]("click_id"),
          Option(r.getAs[java.lang.Long]("buy_id")).map(_.longValue)))
        .toSet
    // run 1: unconverted click at 10:00 (window closes 11:00); pushers
    // on disjoint users move the watermark to 19:50 — PAST the window,
    // so the null row emits within this run. Pusher click 108 (window
    // end 21:00 > 19:50) must NOT emit yet.
    writeLog(clickDir, "b0.json", Seq(
      c(300, 3, "2024-01-01 10:00:00"), c(108, 8, "2024-01-01 20:00:00")))
    writeLog(buyDir, "b0.json", Seq(b(209, 9, "2024-01-01 20:00:00")))
    runOnce()
    assert(pairs() == Set((300L, None)), pairs().toString)
    // run 2: a late purchase for user 3 cannot retro-pair (the null
    // verdict is final); pushing the watermark to 22:50 releases click
    // 108's held null row
    writeLog(clickDir, "b1.json", Seq(c(109, 8, "2024-01-01 23:00:00")))
    writeLog(buyDir, "b1.json", Seq(
      b(301, 3, "2024-01-01 10:30:00"), b(210, 9, "2024-01-01 23:00:00")))
    runOnce()
    assert(pairs() == Set((300L, None), (108L, None)), pairs().toString)
  }

  test("sessionize merges gap-joined events across micro-batch runs") {
    import graft.streaming.WindowedStats
    import org.apache.spark.sql.streaming.Trigger
    val (logDir, ckpt, out) = (tmp(), tmp(), tmp())
    val sch = StructType(Seq(StructField("k", StringType),
      StructField("ts", TimestampType)))
    def runOnce(): Unit = {
      val q = WindowedStats.sessionize(
          spark.readStream.schema(sch).json(logDir), "ts", "k",
          "30 minutes", "30 minutes")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def j(k: String, ts: String) = s"""{"k":"$k","ts":"$ts"}"""
    writeLog(logDir, "b1.json", Seq(
      j("a", "2024-01-01 10:00:00"), j("a", "2024-01-01 10:20:00")))
    runOnce()
    // extends a's open session (10:20 + 30m = 10:50 > 10:40); a later
    // event at 11:30 (≥ 10:40 + 30m) opens a second session
    writeLog(logDir, "b2.json", Seq(
      j("a", "2024-01-01 10:40:00"), j("a", "2024-01-01 11:30:00")))
    runOnce()
    writeLog(logDir, "b3.json", Seq(j("z", "2024-01-02 09:00:00")))
    runOnce()
    val res = spark.read.schema(StructType(Seq(
        StructField("k", StringType),
        StructField("session_start", TimestampType),
        StructField("n", LongType)))).parquet(out).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString, r.getLong(2)))
      .toSet
    assert(res == Set(("a", "2024-01-01 10:00:00.0", 3L),
      ("a", "2024-01-01 11:30:00.0", 1L)))
  }

  test("dedupWithinWatermark drops in-horizon duplicate keys") {
    import graft.streaming.WindowedStats
    val (logDir, ckpt, out) = (tmp(), tmp(), tmp())
    writeLog(logDir, "b1.json", Seq(
      line("k", 1, "insert", 1), line("k", 2, "insert", 2),
      line("m", 3, "insert", 3)))
    val q = WindowedStats.dedupWithinWatermark(
        CdcStream.readChangeLog(spark, logDir, schema),
        "_cdc_timestamp", Seq("_olake_id"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.read.schema(schema).parquet(out)
    assert(rows.count() == 2)
    assert(rows.select("_olake_id").distinct().count() == 2)
  }

  test("dedupReplays keeps per-key max-lsn state across micro-batches") {
    val (logDir, ckpt) = (tmp(), tmp())
    writeLog(logDir, "b1.json", Seq(
      line("k", 5, "insert", 1), line("k", 4, "update", 2)))
    val out = tmp()
    val q1 = CdcStream.dedupReplays(
        CdcStream.readChangeLog(spark, logDir, schema), "_olake_id", "lsn")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q1.awaitTermination()
    assert(spark.read.schema(schema).parquet(out).count() == 2) // both fresh

    writeLog(logDir, "b2.json", Seq(
      line("k", 5, "insert", 3),   // stale: <= committed max 5
      line("k", 6, "update", 4)))  // fresh
    val q2 = CdcStream.dedupReplays(
        CdcStream.readChangeLog(spark, logDir, schema), "_olake_id", "lsn")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val rows = spark.read.schema(schema).parquet(out)
    assert(rows.count() == 3)
    assert(rows.agg(max("lsn")).head.getLong(0) == 6L)
  }

  test("DedupStream near-dup: drops near-dups of the index and of lower " +
       "batch ids; torn-batch replay reaches the same survivors") {
    import spark.implicits._
    import graft.streaming.DedupStream
    import graft.llm.Dedup
    val root = tmp()
    val idx = s"$root/idx"; val corpus = s"$root/corpus"
    val state = s"$root/state.json"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val init = Seq((1L, base), (2L, "one two three four five six seven " +
      "eight nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    init.write.mode("overwrite").parquet(s"$corpus/base")
    Dedup.minhashIndexStore(init, "text", "doc_id", "graft_nd_spec", idx,
      buckets = 2)
    val b0 = Seq(
      (10L, base + " appended"),          // near-dup of indexed doc 1
      (11L, "completely different words entirely unrelated content " +
        "seventeen distinct tokens here making an independent document " +
        "for survival"),                  // new
      (12L, "completely different words entirely unrelated content " +
        "seventeen distinct tokens here making an independent document " +
        "for survival plus")              // near-dup of LOWER batch id 11
    ).toDF("doc_id", "text")
    DedupStream.applyBatchNearDup(b0, 0L, "graft_nd_spec", idx, corpus,
      state, threshold = 0.9)
    def ids() = DedupStream.readCorpus(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(ids() == Set(1L, 2L, 11L))
    // torn-batch replay: survivors are already indexed — the self-pair
    // and partner-in-batch rules must reach the identical set
    new java.io.File(state).delete()
    DedupStream.applyBatchNearDup(b0, 0L, "graft_nd_spec", idx, corpus,
      state, threshold = 0.9)
    assert(ids() == Set(1L, 2L, 11L))
    // next batch dedups against batch-0's survivor via the deltas
    val b1 = Seq((20L, "completely different words entirely unrelated " +
      "content seventeen distinct tokens here making an independent " +
      "document for survival also"), (21L, "fresh prose with enough " +
      "running length that a single appended token keeps jaccard above " +
      "nine tenths easily")).toDF("doc_id", "text")
    DedupStream.applyBatchNearDup(b1, 1L, "graft_nd_spec", idx, corpus,
      state, threshold = 0.9)
    assert(ids() == Set(1L, 2L, 11L, 21L))
    // compaction folds deltas; probing still sees everything
    DedupStream.compactMinhashIndex(spark, "graft_nd_spec", idx,
      buckets = 2)
    assert(!new java.io.File(s"$idx/bands_delta").exists)
    val b2 = Seq((30L, "fresh prose with enough running length that a " +
      "single appended token keeps jaccard above nine tenths easily plus"),
      (31L, "another genuinely novel piece of writing with plenty of " +
        "unique vocabulary spread across twenty tokens or so for margin"))
      .toDF("doc_id", "text")
    DedupStream.applyBatchNearDup(b2, 2L, "graft_nd_spec", idx, corpus,
      state, threshold = 0.9)
    assert(ids().contains(31L) && !ids().contains(30L))
  }

  test("DedupStream cosine: drops embedding dups vs index and lower batch " +
       "ids; torn-batch replay reaches the same survivors") {
    import spark.implicits._
    import graft.streaming.DedupStream
    import graft.llm.Dedup
    val root = tmp()
    val idx = s"$root/idx"; val corpus = s"$root/corpus"
    val state = s"$root/state.json"
    val init = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    init.write.mode("overwrite").parquet(s"$corpus/base")
    Dedup.cosineIndexStore(init, "vec_id", "embedding", "graft_cs_spec",
      idx, buckets = 2)
    val b0 = Seq(
      (10L, Array(1f, 0f)),   // identical to indexed vec 1 → dropped
      (11L, Array(1f, -1f)),  // cos .707 / -.707 vs index → kept
      (12L, Array(1f, -1f))   // identical to LOWER batch id 11 → dropped
    ).toDF("vec_id", "embedding")
    DedupStream.applyBatchCosine(b0, 0L, "graft_cs_spec", idx, corpus,
      state, threshold = 0.9)
    def ids() = DedupStream.readCorpus(spark, corpus)
      .select("vec_id").as[Long].collect().toSet
    assert(ids() == Set(1L, 2L, 11L))
    // torn replay: survivor 11's stored copy must not delete it
    new java.io.File(state).delete()
    DedupStream.applyBatchCosine(b0, 0L, "graft_cs_spec", idx, corpus,
      state, threshold = 0.9)
    assert(ids() == Set(1L, 2L, 11L))
    // next batch dedups against the batch-0 survivor via the deltas
    val b1 = Seq((20L, Array(1f, -1f)), (21L, Array(-3f, -1f)))
      .toDF("vec_id", "embedding")
    DedupStream.applyBatchCosine(b1, 1L, "graft_cs_spec", idx, corpus,
      state, threshold = 0.9)
    assert(ids() == Set(1L, 2L, 11L, 21L))
  }

  test("DedupStream: torn-batch re-apply overwrites identically; " +
       "compactIndex folds deltas without changing probe results") {
    import spark.implicits._
    import graft.streaming.DedupStream
    import graft.llm.Dedup
    val root = tmp()
    val idx = s"$root/idx"; val corpus = s"$root/corpus"
    val state = s"$root/state.json"
    val init = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    init.write.mode("overwrite").parquet(s"$corpus/base")
    Dedup.exactIndexStore(init, "text", "doc_id", "graft_ds_spec",
      idx, slots = 4)
    val b0 = Seq((10L, "beta"), (11L, "delta")).toDF("doc_id", "text")
    DedupStream.applyBatch(b0, 0L, "graft_ds_spec", idx, corpus, state, 4)
    def corpusIds() = DedupStream.readCorpus(spark, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(corpusIds() == Set(1L, 2L, 3L, 11L))
    // torn-batch semantics: wind the state back (as if the crash hit
    // before the commit line) and re-apply — same dirs overwritten,
    // corpus unchanged
    new java.io.File(state).delete()
    DedupStream.applyBatch(b0, 0L, "graft_ds_spec", idx, corpus, state, 4)
    assert(corpusIds() == Set(1L, 2L, 3L, 11L))
    // committed replay: no-op even with different content
    DedupStream.applyBatch(Seq((99L, "omega")).toDF("doc_id", "text"),
      0L, "graft_ds_spec", idx, corpus, state, 4)
    assert(corpusIds() == Set(1L, 2L, 3L, 11L))
    // next batch dedups against the batch-0 survivor via the delta
    val b1 = Seq((20L, "delta"), (21L, "epsilon")).toDF("doc_id", "text")
    DedupStream.applyBatch(b1, 1L, "graft_ds_spec", idx, corpus, state, 4)
    assert(corpusIds() == Set(1L, 2L, 3L, 11L, 21L))
    // compaction folds the deltas into the slot-partitioned base;
    // probe answers are unchanged and the delta dir is gone
    DedupStream.compactIndex(spark, "graft_ds_spec", idx)
    assert(!new java.io.File(s"$idx/digests_delta").exists)
    val b2 = Seq((30L, "epsilon"), (31L, "zeta")).toDF("doc_id", "text")
    DedupStream.applyBatch(b2, 2L, "graft_ds_spec", idx, corpus, state, 4)
    assert(corpusIds() == Set(1L, 2L, 3L, 11L, 21L, 31L))
  }

  test("syncNewColumns: only the explicitly-unselected set is dropped; unknown columns flow") {
    import org.apache.spark.sql.types._
    import graft.streaming.CdcStream
    val root = tmp()
    val logDir = s"$root/log"; val dest = s"$root/t"
    new java.io.File(logDir).mkdirs()
    // catalog knew a,b,c at selection time; selected = a. A NEW column
    // d (absent from the configured schema... but present in the data)
    // — model the reference's rule with the configured schema carrying
    // all four and d arriving "new": drop-list = {b, c} only.
    val schema = StructType(Seq(
      StructField("_olake_id", StringType), StructField("lsn", LongType),
      StructField("kind", StringType),
      StructField("_cdc_timestamp", TimestampType),
      StructField("a", LongType), StructField("b", LongType),
      StructField("c", LongType)))
    java.nio.file.Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      Seq(
        """{"_olake_id":"1","lsn":1,"kind":"insert","_cdc_timestamp":"2024-01-01 00:00:00","a":1,"b":2,"c":3}""",
        """{"_olake_id":"2","lsn":2,"kind":"insert","_cdc_timestamp":"2024-01-01 00:00:00","a":4,"b":5,"c":6}"""
      ).mkString("\n").getBytes)
    CdcStream.run(spark, logDir, schema, dest, s"$root/state.json",
      s"$root/ckpt", "t", selectedColumns = Some(Seq("a")),
      syncNewColumns = true).awaitTermination()
    val cols = CdcStream.readTable(spark, dest).columns.toSet
    assert(cols.contains("a") && !cols.contains("b") && !cols.contains("c"),
      cols.mkString(","))
    // keep-list mode on the same log: identical here (no new columns),
    // pinning that both modes agree on the known set
    val dest2 = s"$root/t2"
    CdcStream.run(spark, logDir, schema, dest2, s"$root/state2.json",
      s"$root/ckpt2", "t2", selectedColumns = Some(Seq("a")))
      .awaitTermination()
    val cols2 = CdcStream.readTable(spark, dest2).columns.toSet
    assert(cols2.contains("a") && !cols2.contains("b"))
  }

  test("maxFilesPerTrigger bounds each micro-batch: 3 staged files → 3 batch segments") {
    import spark.implicits._
    import graft.streaming.DedupStream
    import graft.llm.Dedup
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    val root = tmp()
    val src = s"$root/src"; new java.io.File(src).mkdirs()
    val idx = s"$root/idx"; val corpus = s"$root/corpus"
    val state = s"$root/state.json"; val ckpt = s"$root/ckpt"
    val init = Seq((1L, "seed document for the index"))
      .toDF("doc_id", "text")
    init.write.parquet(s"$corpus/base")
    Dedup.exactIndexStore(init, "text", "doc_id", "graft_mft_spec",
      idx, slots = 4)
    val schema = ST(Seq(SF("doc_id", LongType), SF("text", StringType)))
    (0 until 3).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(src, s"f$i.json"),
        s"""{"doc_id":${10 + i},"text":"fresh content number $i"}"""
          .getBytes)
    }
    DedupStream.run(spark, src, schema, "graft_mft_spec", idx, corpus,
      state, ckpt, slots = 4, maxFilesPerTrigger = 1).awaitTermination()
    // rate control: one file per trigger → three per-batchId segments
    val segs = new java.io.File(corpus).listFiles
      .filter(_.getName.matches("b\\d+")).map(_.getName).sorted
    assert(segs.toSeq == Seq("b0", "b1", "b2"), segs.mkString(","))
    val ids = DedupStream.readCorpus(spark, corpus)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 10L, 11L, 12L))
  }

  test("ProfileStream: incremental register folds equal the one-shot sketch; " +
       "torn-batch re-apply is a no-op on the final state") {
    import spark.implicits._
    import graft.sources.Discover
    import graft.streaming.ProfileStream
    val root = tmp()
    val regs = s"$root/regs"
    val rows = (1L to 400L).map(i => (i, s"v${i % 37}"))
    val df = rows.toDF("id", "cat")
    def regsAt(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val oneShot = regsAt(Discover.hllRegisters(df, Seq("id", "cat")))
    // two incremental batches
    ProfileStream.applyBatch(df.where($"id" % 2 === 0), 0L,
      Seq("id", "cat"), regs)
    ProfileStream.applyBatch(df.where($"id" % 2 =!= 0), 1L,
      Seq("id", "cat"), regs)
    assert(regsAt(ProfileStream.currentRegisters(spark, regs)) === oneShot)
    // stale re-delivery of batch 0: rewrites regs_v0 from the
    // pre-batch base (nothing), leaving the newest version unchanged
    ProfileStream.applyBatch(df.where($"id" % 2 === 0), 0L,
      Seq("id", "cat"), regs)
    assert(regsAt(ProfileStream.currentRegisters(spark, regs)) === oneShot)
    // a THIRD batch folding a subset already seen cannot change anything
    ProfileStream.applyBatch(df.limit(50), 2L, Seq("id", "cat"), regs)
    assert(regsAt(ProfileStream.currentRegisters(spark, regs)) === oneShot)
  }

  test("ProfileStream CMS: incremental sum-folds equal the one-shot sketch; " +
       "version scoping makes the replay rewrite, not double-count") {
    import spark.implicits._
    import graft.sources.Discover
    import graft.streaming.ProfileStream
    val root = tmp()
    val dir = s"$root/cms"
    val rows = (1L to 500L).map(i => (i, i % 41))
    val df = rows.toDF("id", "v")
    def cells(p: org.apache.spark.sql.DataFrame) = p.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val oneShot = cells(Discover.cmsSketch(df, "v"))
    val b0 = df.where($"id" % 2 === 0)
    ProfileStream.applyCmsBatch(b0, 0L, "v", dir)
    ProfileStream.applyCmsBatch(df.where($"id" % 2 =!= 0), 1L, "v", dir)
    assert(cells(ProfileStream.currentCms(spark, dir)) === oneShot)
    // stale re-delivery of batch 0: a SUM-fold would double-count if it
    // folded into the newest state — the version scoping must instead
    // rewrite cms_v0 from the (empty) pre-batch base
    ProfileStream.applyCmsBatch(b0, 0L, "v", dir)
    assert(cells(ProfileStream.currentCms(spark, dir)) === oneShot)
  }

  test("ScdStream: checkpoint resume folds a late segment; only touched buckets rewrite") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StringType, StructField => SF, StructType => ST}
    import graft.streaming.ScdStream
    val root = java.nio.file.Files.createTempDirectory("graft_scds").toString
    val logDir = s"$root/log"; val store = s"$root/dim"
    new java.io.File(logDir).mkdirs()
    val schema = ST(Seq(SF("k", LongType), SF("lsn", LongType),
      SF("kind", StringType), SF("v", StringType)))
    def stage(rows: Seq[(Long, Long, String, String)], f: String): Unit = {
      val stg = s"$root/stg_$f"
      rows.toDF("k", "lsn", "kind", "v").coalesce(1).write.json(stg)
      val part = new java.io.File(stg).listFiles
        .find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(logDir, f)): Unit
    }
    stage(Seq((1L, 10L, "insert", "a1"), (2L, 11L, "insert", "b1")), "s0.json")
    ScdStream.run(spark, logDir, schema, store, s"$root/ckpt",
      "k", "lsn", "kind", buckets = 4).awaitTermination()
    val bucketOf = (k: Long) => spark.range(1).select(
      pmod(xxhash64(lit(k)), lit(4))).head.getLong(0)
    val untouchedBucket = new java.io.File(store, s"kb=${bucketOf(2L)}")
    val before = untouchedBucket.lastModified
    Thread.sleep(1100)
    // a later segment updates only key 1: resume from the checkpoint
    stage(Seq((1L, 20L, "update", "a2")), "s1.json")
    ScdStream.run(spark, logDir, schema, store, s"$root/ckpt",
      "k", "lsn", "kind", buckets = 4).awaitTermination()
    val dim = ScdStream.readDim(spark, store)
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    assert(dim == Set((1L, "a1", 10L, Some(20L), false),
      (1L, "a2", 20L, None, true), (2L, "b1", 11L, None, true)))
    // key 2's bucket was not rewritten by the second run (O(batch))
    if (bucketOf(2L) != bucketOf(1L))
      assert(untouchedBucket.lastModified == before,
        "untouched bucket rewritten")
  }

  test("ScdStream: partial-swap crash replay is idempotent (no zero-width versions)") {
    // Crash model: applyBatch swaps every bucket, then dies BEFORE the
    // _scd_batch commit. The Structured Streaming checkpoint replays the
    // batch against a store that ALREADY contains it; applyIncrement's
    // (key, position) dedupe must make the re-fold a no-op instead of
    // chaining duplicate changes into zero-width versions.
    import spark.implicits._
    import graft.streaming.ScdStream
    val root = java.nio.file.Files.createTempDirectory("graft_scdr").toString
    val store = s"$root/dim"
    def batch(rows: Seq[(Long, Long, String, String)]) =
      rows.toDF("k", "lsn", "kind", "v")
    ScdStream.applyBatch(batch(Seq((1L, 10L, "insert", "a1"),
      (2L, 11L, "insert", "b1"), (3L, 12L, "insert", "c1"))),
      0L, store, "k", "lsn", "kind", buckets = 4)
    val b1 = batch(Seq((1L, 20L, "update", "a2"), (2L, 21L, "delete", ""),
      (4L, 22L, "insert", "d1")))
    ScdStream.applyBatch(b1, 1L, store, "k", "lsn", "kind", buckets = 4)
    def dim() = ScdStream.readDim(spark, store)
      .select("k", "v", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Option[Long], Boolean)].collect().toSet
    val expected = dim()
    assert(expected == Set(
      (1L, "a1", 10L, Some(20L), false), (1L, "a2", 20L, None, true),
      (2L, "b1", 11L, Some(21L), false), (3L, "c1", 12L, None, true),
      (4L, "d1", 22L, None, true)))
    // simulate the crash: roll the commit marker back to batch 0 so the
    // replayed batch 1 passes the fence and re-folds into swapped buckets
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(store, "_scd_batch"), "0")
    ScdStream.applyBatch(b1, 1L, store, "k", "lsn", "kind", buckets = 4)
    assert(dim() == expected, "replay corrupted the dimension")
    // twice more — arbitrary replay depth stays a fixpoint
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(store, "_scd_batch"), "0")
    ScdStream.applyBatch(b1, 1L, store, "k", "lsn", "kind", buckets = 4)
    assert(dim() == expected)
  }
}
