package graft

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.state.StateStore

/** Lifecycle verbs end-to-end: check → discover → sync (backfill, then
  * cursor delta) → clear, all resumable through StateStore. */
class ProtocolSpec extends AnyFunSuite with BeforeAndAfterAll
    with SparkJobCounting {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val src = "/root/testdata/sf0.001"

  test("check: ok for real streams, error lists missing ones") {
    assert(Protocol.check(spark, src, Seq("nation", "orders")).isRight)
    val bad = Protocol.check(spark, src, Seq("nation", "nope"))
    assert(bad.left.exists(_.contains("nope")))
  }

  test("check-dest: probe write/read/clean succeeds; catalog probe failure surfaces; unwritable path errors") {
    val dest = Files.createTempDirectory("graft_chkd").toString
    assert(Protocol.checkDestination(spark, dest).isRight)
    // the probe cleaned up after itself
    assert(new java.io.File(dest).listFiles.forall(
      !_.getName.startsWith(".graft_check_")))
    val failing = Protocol.checkDestination(spark, dest,
      catalogProbe = Some(() =>
        throw new RuntimeException("catalog unreachable")))
    assert(failing.left.exists(_.contains("catalog unreachable")))
    // a FILE in the parent path makes the destination unwritable
    val blocker = Files.createTempFile("graft_blocker", ".txt")
    assert(Protocol.checkDestination(spark,
      s"$blocker/sub").isLeft)
  }

  test("classifyStreams: missing streams + invalid filters skip with reasons; state of unselected streams prunes") {
    import graft.state.StateStore
    val state = Files.createTempDirectory("graft_cls").toString + "/s.json"
    StateStore.save(state, StateStore.State(streams = Map(
      "nation" -> StateStore.StreamState(offsets = Map("lsn" -> 5L)),
      "ghost" -> StateStore.StreamState(offsets = Map("lsn" -> 9L)))))
    val cls = Protocol.classifyStreams(spark, src, Seq(
      Protocol.StreamConfig("nation"),                       // ok, full
      Protocol.StreamConfig("orders", syncMode = "incremental",
        cursor = Some("o_orderkey")),                        // ok, incr
      Protocol.StreamConfig("events", syncMode = "cdc",
        filter = Some("value > 10")),                        // ok, cdc
      Protocol.StreamConfig("nope"),                         // missing
      Protocol.StreamConfig("region",
        filter = Some("no_such_col = 1")),                   // bad column
      Protocol.StreamConfig("region",
        filter = Some("r_name > 5")),                        // type clash
      Protocol.StreamConfig("region", filter =
        Some("r_regionkey > 0 and r_regionkey < 9 and r_name != 'x'"))
      ), state)                                              // 3 conds
    assert(cls.selected.map(_.name) == Seq("nation", "orders", "events"))
    assert(cls.fullLoad.map(_.name) == Seq("nation"))
    assert(cls.incremental.map(_.name) == Seq("orders"))
    assert(cls.cdc.map(_.name) == Seq("events"))
    assert(cls.skipped.keySet == Set("nope", "region"))
    assert(cls.skipped("nope").contains("not found"))
    // saved state for the unselected 'ghost' stream was pruned, the
    // selected stream's survived
    val st = StateStore.load(state).get
    assert(st.streams.keySet == Set("nation"))
  }

  test("state versioning: new files stamp latest, legacy files read as version 0 and keep it") {
    import graft.state.StateStore
    val dir = Files.createTempDirectory("graft_stv").toString
    StateStore.save(s"$dir/new.json", StateStore.State())
    assert(StateStore.load(s"$dir/new.json").get.version ==
      StateStore.LatestStateVersion)
    // a legacy file with no version field is version 0 (the
    // reference's backward-compat rule) and KEEPS that version across
    // a re-save — version-gated behavior must stay consistent for the
    // life of the state (sync.go:66-77)
    Files.writeString(java.nio.file.Paths.get(s"$dir/legacy.json"),
      """{"streams":{"s":{"cursor":{},"remainingChunks":[],
        |"offsets":{"lsn":5},"dedupInserts":true}},"cdcPosition":null}"""
        .stripMargin)
    val legacy = StateStore.load(s"$dir/legacy.json").get
    assert(legacy.version == 0)
    assert(legacy.streams("s").offsets("lsn") == 5L)
    StateStore.save(s"$dir/legacy.json", legacy)
    assert(StateStore.load(s"$dir/legacy.json").get.version == 0)
  }

  test("StatsMonitor: periodic JSON lines while syncAll runs, counters reach the totals") {
    val dest = Files.createTempDirectory("graft_stats").toString
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val mon = new Protocol.StatsMonitor(totalToSync = 30L,
      intervalMillis = 50, out = lines.add(_): Unit)
    try {
      val r = Protocol.syncAll(spark, src, dest,
        Seq(Protocol.StreamConfig("nation"),
          Protocol.StreamConfig("region")),
        s"$dest/state.json", parallelism = 2, monitor = Some(mon))
      assert(r == Map("nation" -> 25L, "region" -> 5L))
    } finally mon.close()
    import scala.jdk.CollectionConverters._
    val all = lines.asScala.toSeq
    assert(all.nonEmpty, "no monitoring lines emitted")
    // every line is parseable JSON with the expected fields; the final
    // snapshot carries the full totals and zero running streams
    all.foreach(l => assert(l.contains("\"records_per_sec\"") &&
      l.contains("\"eta_sec\""), l))
    val last = all.last
    assert(last.contains("\"synced_records\":30") &&
      last.contains("\"running_streams\":0"), last)
  }

  test("discover emits a parseable catalog with canonical types and PKs") {
    val cat = Protocol.discover(spark, src, Seq("nation", "events"))
    assert(cat.contains(""""name": "nation""""))
    assert(cat.contains(""""n_nationkey": "integer_small""""))
    assert(cat.contains(""""ts": "timestamp_micro""""))
    assert(cat.contains(""""event_id""""))
    assert(Protocol.spec().contains("full_refresh"))
  }

  test("sync: backfill then cursor delta, state advances, rows land") {
    val dest = Files.createTempDirectory("graft_sync").toString
    val state = s"$dest/state.json"
    val cfg = Protocol.StreamConfig("orders",
      syncMode = "incremental", cursor = Some("o_orderdate"),
      primaryKeys = Seq("o_orderkey"),
      partitionRegex = Some("/{o_orderdate, year}"))
    val n1 = Protocol.syncStream(spark, src, dest, cfg, state)
    assert(n1 == Tables.load(spark, src, "orders").count())
    val st1 = StateStore.load(state).get.streams("orders")
    assert(st1.cursor.contains("o_orderdate"))
    // second run: nothing newer than the stored max cursor → 0 rows
    val n2 = Protocol.syncStream(spark, src, dest, cfg, state)
    assert(n2 == 0)
    // partition transform applied to the layout
    assert(new java.io.File(s"$dest/orders").listFiles()
      .exists(_.getName.startsWith("o_orderdate_year=")))
    // destination still holds exactly one backfill worth of rows
    assert(spark.read.parquet(s"$dest/orders").count() == n1)
    Protocol.clear(spark, dest, state, Seq("orders"))
    assert(!new java.io.File(s"$dest/orders").exists)
    assert(!StateStore.load(state).get.streams.contains("orders"))
  }

  test("sync: a second full sync of a stream compiles no generated " +
    "class (its _olake_timestamp is a reference, not source text)") {
    val dest = Files.createTempDirectory("graft_sync_codegen").toString
    val state = s"$dest/state.json"
    val cfg = Protocol.StreamConfig("nation", primaryKeys = Seq("n_nationkey"))
    Protocol.syncStream(spark, src, dest, cfg, state): Unit
    val (rows, compiles) = codegenCompilesOf(
      Protocol.syncStream(spark, src, dest, cfg, state))
    assert(rows == 25)
    assert(compiles == 0, s"the second sync compiled $compiles classes")
  }

  test("sync attempt is idempotent: stale staged data is discarded, a committed promote completes once") {
    val dest = Files.createTempDirectory("graft_idem").toString
    val state = s"$dest/state.json"
    val cfg = Protocol.StreamConfig("orders",
      syncMode = "incremental", cursor = Some("o_orderdate"),
      primaryKeys = Seq("o_orderkey"))
    val n1 = Protocol.syncStream(spark, src, dest, cfg, state)
    assert(spark.read.parquet(s"$dest/orders").count() == n1)

    // crash window A — attempt died AFTER its staged write landed but
    // BEFORE the cursor commit: the leftover stage must be overwritten
    // by the retry, never appended to the table
    spark.read.parquet(s"$dest/orders").limit(7)
      .write.mode("overwrite").parquet(s"$dest/.stage_orders")
    val n2 = Protocol.syncStream(spark, src, dest, cfg, state)
    assert(n2 == 0)
    assert(spark.read.parquet(s"$dest/orders").count() == n1,
      "stale staged rows must not be promoted")
    assert(!new java.io.File(s"$dest/.stage_orders").exists)

    // crash window B — attempt died AFTER the cursor+marker commit but
    // BEFORE the promotion: the next attempt completes the move exactly
    // once and clears the marker
    spark.read.parquet(s"$dest/orders").limit(5)
      .write.mode("overwrite").parquet(s"$dest/.stage_orders")
    val st = StateStore.load(state).get
    val ss = st.streams("orders")
    StateStore.save(state, st.copy(streams = st.streams.updated("orders",
      ss.copy(offsets = ss.offsets +
        ("promote_pending" -> 1L) + ("promote_rows" -> 5L)))))
    val n3 = Protocol.syncStream(spark, src, dest, cfg, state)
    assert(n3 == 5, "recovered promote rows are reported")
    assert(spark.read.parquet(s"$dest/orders").count() == n1 + 5)
    val after = StateStore.load(state).get.streams("orders").offsets
    assert(!after.contains("promote_pending") && !after.contains("promote_rows"))
    // and running again changes nothing
    assert(Protocol.syncStream(spark, src, dest, cfg, state) == 0)
    assert(spark.read.parquet(s"$dest/orders").count() == n1 + 5)
  }

  test("syncAll runs streams concurrently; no state commit is lost") {
    val dest = Files.createTempDirectory("graft_syncall").toString
    val state = s"$dest/state.json"
    val cfgs = Seq(
      Protocol.StreamConfig("orders", syncMode = "incremental",
        cursor = Some("o_orderdate"), primaryKeys = Seq("o_orderkey")),
      Protocol.StreamConfig("customer", syncMode = "incremental",
        cursor = Some("c_custkey"), primaryKeys = Seq("c_custkey")),
      Protocol.StreamConfig("nation", primaryKeys = Seq("n_nationkey")))
    val rows = Protocol.syncAll(spark, src, dest, cfgs, state, parallelism = 3)
    cfgs.foreach { c =>
      assert(rows(c.name) == Tables.load(spark, src, c.name).count(), c.name)
      assert(spark.read.parquet(s"$dest/${c.name}").count() == rows(c.name))
    }
    // every cursor-bearing stream committed its cursor — a lost
    // read-modify-write would drop one of these entries
    val st = StateStore.load(state).get.streams
    assert(st("orders").cursor.contains("o_orderdate"))
    assert(st("customer").cursor.contains("c_custkey"))
  }

  test("syncAll: a hung stream fails the sync after the bounded await, never blocks forever") {
    val dest = Files.createTempDirectory("graft_synchang").toString
    val state = s"$dest/state.json"
    val cfgs = Seq(
      Protocol.StreamConfig("nation", primaryKeys = Seq("n_nationkey")),
      Protocol.StreamConfig("region", primaryKeys = Seq("r_regionkey")))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Protocol.syncAll(spark, src, dest, cfgs, state,
        parallelism = 2, attempts = 1, timeoutMillis = 1500L,
        runStream = (_, _, _, cfg, _) =>
          if (cfg.name == "region") { Thread.sleep(3600_000L); 0L }
          else 1L)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1_000_000
    assert(e.getMessage.contains("timed out"))
    assert(elapsedMs < 30_000, s"took ${elapsedMs} ms — await not bounded")
    // and a FAILING (not hung) stream aborts fast without the timeout
    val e2 = intercept[RuntimeException] {
      Protocol.syncAll(spark, src, dest, cfgs, state,
        parallelism = 2, attempts = 1, timeoutMillis = 3600_000L,
        runStream = (_, _, _, cfg, _) =>
          if (cfg.name == "region") throw new RuntimeException("boom")
          else 1L)
    }
    assert(e2.getMessage.contains("boom"))
  }

  test("chunked backfill resumes after a crash: committed chunks skip, no dupes, no loss") {
    val dest = Files.createTempDirectory("graft_chunked").toString
    val state = s"$dest/state.json"
    val cfg = Protocol.StreamConfig("orders",
      primaryKeys = Seq("o_orderkey"), chunkColumn = Some("o_orderkey"))
    val total = Tables.load(spark, src, "orders").count()
    // crash after 2 chunks
    intercept[RuntimeException] {
      Protocol.syncChunkedResumable(spark, src, dest, cfg, state,
        chunkStride = 400L, failAfterChunks = 2)
    }
    val partial = spark.read.parquet(s"$dest/orders").count()
    assert(partial > 0 && partial < total)
    val st = StateStore.load(state).get.streams("orders")
    assert(st.remainingChunks.nonEmpty)
    // resume: only the uncommitted chunks scan; exactly-once overall
    val resumed = Protocol.syncChunkedResumable(spark, src, dest, cfg,
      state, chunkStride = 400L)
    assert(partial + resumed == total)
    val fin = spark.read.parquet(s"$dest/orders")
    assert(fin.count() == total)
    assert(fin.select(countDistinct("_olake_id")).head.getLong(0) == total)
    assert(StateStore.load(state).get.streams("orders").remainingChunks.isEmpty)
    // a third run is a no-op
    assert(Protocol.syncChunkedResumable(spark, src, dest, cfg, state, 400L) == 0)
  }

  test("syncCdc drives the streaming pipeline into a merged table") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_olake_id", StringType), StructField("lsn", LongType),
      StructField("kind", StringType),
      StructField("_cdc_timestamp", TimestampType),
      StructField("v", LongType)))
    val logDir = Files.createTempDirectory("graft_pcdc").toString
    val dest = Files.createTempDirectory("graft_pcdc_d").toString
    Files.write(java.nio.file.Paths.get(logDir, "b1.json"),
      Seq(
        """{"_olake_id":"a","lsn":1,"kind":"insert","_cdc_timestamp":"2024-01-01 00:00:01","v":1}""",
        """{"_olake_id":"a","lsn":2,"kind":"update","_cdc_timestamp":"2024-01-01 00:00:02","v":2}""",
        """{"_olake_id":"b","lsn":3,"kind":"insert","_cdc_timestamp":"2024-01-01 00:00:03","v":3}"""
      ).mkString("\n").getBytes)
    Protocol.syncCdc(spark, logDir, schema, dest,
      Protocol.StreamConfig("ev", syncMode = "cdc"), s"$dest/state.json")
    val t = graft.streaming.CdcStream.readTable(spark, s"$dest/ev").orderBy("_olake_id").collect()
    assert(t.map(r => (r.getAs[String]("_olake_id"), r.getAs[Long]("v"))).toSeq ==
      Seq(("a", 2L), ("b", 3L)))
    assert(StateStore.load(s"$dest/state.json").get.streams("ev")
      .offsets("lsn") == 3L)
  }

  test("runChangeStream: pre-CDC floor, backfill once, CDC applies only post-floor changes") {
    import org.apache.spark.sql.types._
    import graft.streaming.CdcStream
    val src = Files.createTempDirectory("graft_rcs_src").toString
    val dest = Files.createTempDirectory("graft_rcs_d").toString
    val logDir = Files.createTempDirectory("graft_rcs_log").toString
    val state = s"$dest/state.json"
    import spark.implicits._
    (1L to 100L).map(i => (i, i)).toDF("id", "v")
      .write.parquet(s"$src/t1.parquet")
    val schema = StructType(Seq(
      StructField("_olake_id", StringType), StructField("lsn", LongType),
      StructField("kind", StringType),
      StructField("_cdc_timestamp", TimestampType),
      StructField("id", LongType), StructField("v", LongType)))
    // pre-floor change: its effect is ALREADY in the snapshot —
    // re-applying it would set v to the poison value
    java.nio.file.Files.write(java.nio.file.Paths.get(logDir, "seg0.json"),
      """{"_olake_id":"7","lsn":40,"kind":"update","_cdc_timestamp":"2024-01-01 00:00:01","id":7,"v":999999}"""
        .getBytes)
    val cfg = Protocol.StreamConfig("t1", syncMode = "cdc",
      primaryKeys = Seq("id"), chunkColumn = Some("id"))
    val r1 = Protocol.runChangeStream(spark, src, dest, Seq(cfg -> logDir),
      schema, state, chunkStride = 30L, mode = "sequential")
    assert(r1("t1") == 100L)
    assert(StateStore.load(state).get.streams("t1")
      .offsets("cdc_floor") == 40L)
    def byId() = CdcStream.readTable(spark, s"$dest/t1")
      .select("_olake_id", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byId()("7") == 7L, "pre-floor change must NOT reapply")

    // post-floor changes (the writes that raced the snapshot window):
    // update 1, delete 2, insert 200
    java.nio.file.Files.write(java.nio.file.Paths.get(logDir, "seg1.json"),
      Seq(
        """{"_olake_id":"1","lsn":41,"kind":"update","_cdc_timestamp":"2024-01-01 00:00:02","id":1,"v":1001}""",
        """{"_olake_id":"2","lsn":42,"kind":"delete","_cdc_timestamp":"2024-01-01 00:00:03","id":2,"v":2}""",
        """{"_olake_id":"200","lsn":43,"kind":"insert","_cdc_timestamp":"2024-01-01 00:00:04","id":200,"v":200}"""
      ).mkString("\n").getBytes)
    val r2 = Protocol.runChangeStream(spark, src, dest, Seq(cfg -> logDir),
      schema, state, chunkStride = 30L, mode = "sequential")
    assert(r2("t1") == 100L) // −1 delete +1 insert
    val m = byId()
    assert(m("1") == 1001L && m("200") == 200L && !m.contains("2"))
    assert(m("7") == 7L && m("50") == 50L)
    // backfill ran exactly once: a second pass would have doubled base
    assert(spark.read.parquet(s"$dest/t1/base").count() == 100L)
    // and a third invocation is a complete no-op
    assert(Protocol.runChangeStream(spark, src, dest, Seq(cfg -> logDir),
      schema, state, chunkStride = 30L, mode = "sequential")("t1") == 100L)
  }

  test("runChangeStream concurrent mode: each stream backfills + CDCs through the pool") {
    import org.apache.spark.sql.types._
    import graft.streaming.CdcStream
    val src = Files.createTempDirectory("graft_rcc_src").toString
    val dest = Files.createTempDirectory("graft_rcc_d").toString
    val state = s"$dest/state.json"
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("_olake_id", StringType), StructField("lsn", LongType),
      StructField("kind", StringType),
      StructField("_cdc_timestamp", TimestampType),
      StructField("id", LongType), StructField("v", LongType)))
    val streams = Seq("a1", "a2").map { name =>
      (1L to 50L).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$src/$name.parquet")
      val logDir = Files.createTempDirectory(s"graft_rcc_$name").toString
      java.nio.file.Files.write(
        java.nio.file.Paths.get(logDir, "seg.json"),
        s"""{"_olake_id":"60","lsn":5,"kind":"insert","_cdc_timestamp":"2024-01-01 00:00:01","id":60,"v":60}"""
          .getBytes)
      Protocol.StreamConfig(name, syncMode = "cdc",
        primaryKeys = Seq("id"), chunkColumn = Some("id")) -> logDir
    }
    // floors were recorded when the log was still empty (the pre-CDC
    // phase of an earlier attempt) — the lsn-5 inserts are post-floor
    StateStore.save(state, StateStore.State(streams = streams.map {
      case (cfg, _) => cfg.name -> StateStore.StreamState(
        offsets = Map("cdc_floor" -> 0L, "lsn" -> 0L))
    }.toMap))
    val r = Protocol.runChangeStream(spark, src, dest, streams, schema,
      state, chunkStride = 20L, mode = "concurrent", parallelism = 2)
    assert(r == Map("a1" -> 51L, "a2" -> 51L))
    streams.foreach { case (cfg, _) =>
      val m = CdcStream.readTable(spark, s"$dest/${cfg.name}")
        .select("_olake_id", "v").collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(m("60") == 60L && m("3") == 3L)
    }
  }

  test("sync honors the stream filter") {
    val dest = Files.createTempDirectory("graft_syncf").toString
    val cfg = Protocol.StreamConfig("nation",
      filter = Some("n_regionkey = 1"), primaryKeys = Seq("n_nationkey"))
    val n = Protocol.syncStream(spark, src, dest, cfg, s"$dest/state.json")
    assert(n == Tables.load(spark, src, "nation")
      .where(col("n_regionkey") === 1).count())
  }

  test("recoverState: destination-ahead fences lsn/batchId/dedup; state-ahead and fresh streams untouched") {
    import graft.operators.SystemColumns
    val root = Files.createTempDirectory("graft_recov").toString
    val state = s"$root/state.json"
    val tbl = s"$root/t"; val ice = s"$root/ice"
    val rows = spark.range(10).select(
      col("id").cast("string").as(SystemColumns.OlakeId),
      (col("id") + 100).as("lsn"), lit("insert").as("kind"),
      to_timestamp(lit("2024-01-01 00:00:00"))
        .as(SystemColumns.CdcTimestamp), col("id"))
    graft.streaming.CdcStream.applyBatch(rows, 7L, tbl, state, "s1",
      icebergDir = Some(ice))
    // crash: rewind the saved state behind the destination commit
    val st = StateStore.load(state).get
    val ss = st.streams("s1")
    StateStore.save(state, st.copy(streams = st.streams.updated("s1",
      ss.copy(offsets = ss.offsets + ("lsn" -> 50L) + ("batchId" -> 3L),
        dedupInserts = true))))
    val rep = Protocol.recoverState(state, Seq("s1" -> ice, "s2" -> ice))
    // s1: destination (lsn=109, batchId=7, window closed) wins
    assert(rep.head == Protocol.RecoveredStream("s1", Some(50L),
      Some(109L), recovered = true))
    val after = StateStore.load(state).get.streams("s1")
    assert(after.offsets("lsn") == 109L && after.offsets("batchId") == 7L
      && !after.dedupInserts)
    // s2 points at s1's table: the foreign-stream summary must not
    // fence it (per-table state belongs to its own stream)
    assert(!rep(1).recovered && rep(1).destLsn.isEmpty)
    // state at-or-ahead of metadata: blank sync scenario, untouched
    val rep2 = Protocol.recoverState(state, Seq("s1" -> ice))
    assert(!rep2.head.recovered &&
      StateStore.load(state).get.streams("s1").offsets("lsn") == 109L)
    // no destination metadata at all: nothing to arbitrate
    val rep3 = Protocol.recoverState(state, Seq("s1" -> s"$root/missing"))
    assert(!rep3.head.recovered && rep3.head.destLsn.isEmpty)
  }
}
