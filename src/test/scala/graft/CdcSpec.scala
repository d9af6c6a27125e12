package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cdc.{ChangeLogFixture, PgOutput, PollingCdc, Wal2Json}

/** CDC decoder specs: byte-level pgoutput details the oracle queries
  * can't reach (TOAST recovery, framing, relation caching) plus the
  * declarative decoders' corner cases. */
class CdcSpec extends AnyFunSuite with BeforeAndAfterAll
    with SparkJobCounting {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val rel = PgOutput.Relation(7, "public", "t", 'f', Seq(
    PgOutput.RelColumn(1, "id", 20, -1),
    PgOutput.RelColumn(0, "payload", 25, -1)))

  test("pgoutput: TOAST column recovered from old tuple on update (pgoutput.go:152-159)") {
    val dec = new PgOutput.StreamDecoder
    dec.decode(PgOutput.encodeRelation(rel), 0L)
    dec.decode(PgOutput.encodeBegin(1700000000000000L, 1), 1L)
    // new tuple sends payload as 'u' (unchanged TOAST); old tuple has it
    val out = dec.decode(PgOutput.encodeUpdate(7,
      Some(Seq("1", "big-toasted-value")), Seq("1", "ignored"),
      toastNew = Set(1)), 2L).toSeq
    assert(out.size == 1)
    assert(out.head.kind == "update")
    assert(out.head.values == Seq("1", "big-toasted-value"))
    assert(out.head.commitTsMicros == 1700000000000000L)
  }

  test("pgoutput: TOAST without old tuple (no REPLICA IDENTITY FULL) → null") {
    val dec = new PgOutput.StreamDecoder
    dec.decode(PgOutput.encodeRelation(rel), 0L)
    dec.decode(PgOutput.encodeBegin(0L, 1), 1L)
    val out = dec.decode(PgOutput.encodeUpdate(7, None, Seq("1", "x"),
      toastNew = Set(1)), 2L).toSeq
    assert(out.head.values == Seq("1", null))
  }

  test("pgoutput: delete carries the key tuple; nulls survive roundtrip") {
    val dec = new PgOutput.StreamDecoder
    dec.decode(PgOutput.encodeRelation(rel), 0L)
    dec.decode(PgOutput.encodeBegin(0L, 1), 1L)
    val del = dec.decode(PgOutput.encodeDelete(7, Seq("9", null)), 3L).toSeq
    assert(del.head.kind == "delete" && del.head.lsn == 3L)
    assert(del.head.values == Seq("9", null))
    assert(del.head.names == Seq("id", "payload"))
    assert(del.head.typeOids == Seq(20, 25))
  }

  test("pgoutput: truncated, length-inflated or unknown-relation messages raise DecodeError at their offset") {
    val dec = new PgOutput.StreamDecoder
    dec.decode(PgOutput.encodeRelation(rel), 0L)
    val ins = PgOutput.encodeInsert(7, Seq("12", "hello"))
    assert(dec.decode(ins, 1L).toSeq.head.values == Seq("12", "hello"))
    for (n <- 0 until ins.length) {
      val e = intercept[PgOutput.DecodeError](dec.decode(ins.take(n), 1L))
      assert(e.offset >= 0 && e.offset <= n, s"cut at $n: $e")
    }
    // 'I', relation id, 'N', column count, kind 't': the first value's
    // Int32 length — inflated past the message, then negative
    val lenAt = 1 + 4 + 1 + 2 + 1
    for (bad <- Seq(Int.MaxValue, 100, -1)) {
      val msg = ins.clone()
      java.nio.ByteBuffer.wrap(msg).putInt(lenAt, bad)
      val e = intercept[PgOutput.DecodeError](dec.decode(msg, 2L))
      assert(e.offset == lenAt, s"length $bad: $e")
    }
    val unknown = intercept[PgOutput.DecodeError](
      dec.decode(PgOutput.encodeInsert(8, Seq("1", "x")), 3L))
    assert(unknown.offset == 1 && unknown.reason.contains("relation id 8"))
    val noTuple = intercept[PgOutput.DecodeError](
      dec.decode(PgOutput.encodeDelete(7, Seq("1", "x")).updated(5, 'X'.toByte), 4L))
    assert(noTuple.offset == 5)
  }

  test("pgoutput: XLogData unframe extracts walStart; keepalive → None") {
    val body = PgOutput.encodeBegin(0L, 1)
    val frame = java.nio.ByteBuffer.allocate(25 + body.length)
    frame.put('w'.toByte).putLong(0x1A2B3CL).putLong(0L).putLong(0L).put(body)
    val Some((lsn, unwrapped)) = PgOutput.unframe(frame.array())
    assert(lsn == 0x1A2B3CL && unwrapped.sameElements(body))
    val ka = java.nio.ByteBuffer.allocate(18)
    ka.put('k'.toByte).putLong(99L).putLong(0L).put(0.toByte)
    assert(PgOutput.unframe(ka.array()).isEmpty)
  }

  test("wal2json: LSN string parses to 64-bit position") {
    import spark.implicits._
    val df = Seq("1/0", "0/10", "A/FF").toDF("lsn")
      .select(Wal2Json.lsnToLong(col("lsn")).as("v"))
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(4294967296L, 16L, 10L * 4294967296L + 255L))
  }

  test("mssql: update-before rows skipped, LSN range honored, order by (lsn, seqval)") {
    import spark.implicits._
    val cdc = Seq(
      ("0002", "01", 2, "m", 1L),   // insert, in range
      ("0003", "00", 3, "m", 2L),   // update-before: skipped
      ("0003", "01", 4, "m", 2L),   // update-after
      ("0001", "01", 2, "m", 3L),   // below range (exclusive from)
      ("0009", "01", 1, "m", 4L))   // above range
      .toDF("__$start_lsn", "__$seqval", "__$operation", "__$update_mask", "id")
    val out = PollingCdc.msSqlChanges(cdc, "0001", "0003").collect()
    assert(out.map(r => (r.getAs[String]("kind"), r.getAs[Long]("id"))).toSeq ==
      Seq(("insert", 1L), ("update", 2L)))
  }

  test("mssql: capture-instance selection, target clamp, and mid-poll DDL switch (cdc.go:126-155)") {
    import spark.implicits._
    def table(withCat: Boolean, rows: Seq[(String, Long)]): DataFrame = {
      val base = rows.toDF("__$start_lsn", "id")
        .withColumn("__$seqval", lit("01"))
        .withColumn("__$operation", lit(2))
        .withColumn("__$update_mask", lit("m"))
      if (withCat) base.withColumn("category", concat(lit("c"), col("id")))
      else base
    }
    // pre-ALTER instance captures everything, post-ALTER (start 0005)
    // captures the later rows plus the new column
    val v1 = table(withCat = false,
      Seq(("0002", 1L), ("0004", 2L), ("0006", 3L)))
    val v2 = table(withCat = true, Seq(("0006", 3L), ("0008", 4L)))
    val instances = Seq(
      PollingCdc.CaptureInstance("dbo_t", "0000", v1),
      PollingCdc.CaptureInstance("dbo_t_v2", "0005", v2))

    // one poll from 0001 toward 0008: selects v1, clamps to 0005
    val (df1, cursor1) = PollingCdc.msSqlChangesOnePoll(instances, "0001", "0008")
    assert(cursor1 == "0005")
    assert(df1.collect().map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    assert(!df1.columns.contains("category"))

    // the follow-up poll switches to v2 and reaches the target
    val (df2, cursor2) = PollingCdc.msSqlChangesOnePoll(instances, cursor1, "0008")
    assert(cursor2 == "0008")
    assert(df2.collect().map(r => (r.getAs[Long]("id"),
      r.getAs[String]("category"))).toSeq == Seq((3L, "c3"), (4L, "c4")))

    // the driver loop unions both windows; v1-window rows carry NULL
    // for the column only the newer instance captures
    val all = PollingCdc.msSqlChangesAcrossDdl(instances, "0001", "0008")
      .orderBy("cdc_start_lsn")
      .select("id", "category").collect()
    assert(all.map(r => (r.getLong(0), Option(r.getString(1)))).toSeq ==
      Seq((1L, None), (2L, None), (3L, Some("c3")), (4L, Some("c4"))))

    // fresh sync (empty cursor) picks the LATEST instance — the frame
    // carries the post-ALTER column
    val (fresh, _) = PollingCdc.msSqlChangesOnePoll(instances, "", "0008")
    assert(fresh.columns.contains("category"))

    // a cursor older than every instance demands full-refresh
    val tooOld = instances.map(i => i.copy(startLsnHex = "0003"))
    assertThrows[IllegalArgumentException] {
      PollingCdc.msSqlChangesOnePoll(tooOld, "0001", "0008")
    }
  }

  test("mongo: replace→update, delete falls back to documentKey, resume filter") {
    import spark.implicits._
    val docs = Seq(
      """{"_id":{"_data":"01"},"operationType":"insert","fullDocument":{"a":1},"documentKey":{"a":1},"clusterTime":{"t":100,"i":0},"wallTime":100500}""",
      """{"_id":{"_data":"02"},"operationType":"replace","fullDocument":{"a":2},"documentKey":{"a":2},"clusterTime":{"t":100,"i":0}}""",
      """{"_id":{"_data":"03"},"operationType":"delete","documentKey":{"a":3},"clusterTime":{"t":100,"i":0}}""",
      """{"_id":{"_data":"04"},"operationType":"drop","clusterTime":{"t":100,"i":0}}"""
    ).toDF("doc")
    val all = PollingCdc.mongoChanges(docs, "doc").orderBy("resume_token").collect()
    assert(all.map(_.getAs[String]("kind")).toSeq == Seq("insert", "update", "delete"))
    assert(get(all(2), "data").contains(""""a":3"""))
    val resumed = PollingCdc.mongoChanges(docs, "doc", afterToken = Some("02"))
    assert(resumed.count() == 1)
  }

  private def get(r: org.apache.spark.sql.Row, c: String): String =
    r.getAs[String](c)

  test("binlog: multi-row write event, null bitmap, long varchar") {
    import graft.cdc.Binlog
    val types = Array(8, 15, 5)
    val meta = Array(0, 300, 8) // varchar meta > 255 → 2-byte length
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(7L, "db", "t", types, meta,
      Seq("id", "s", "v")), 0L)
    val long = "x" * 300
    val out = dec.decode(Binlog.encodeWrite(7L, types, meta, 1700000000L, Seq(
      Seq("1", long, "0.5"),
      Seq("2", null, null))), 5L).toSeq
    assert(out.size == 2)
    assert(out.head.after == Seq("1", long, "0.5"))
    assert(out.head.names == Seq("id", "s", "v"))
    assert(out.head.tsSec == 1700000000L && out.head.pos == 5L)
    assert(out(1).after == Seq("2", null, null))
  }

  test("binlog: update carries before+after images; delete carries before") {
    import graft.cdc.Binlog
    val types = Array(3, 15)
    val meta = Array(0, 64)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(9L, "db", "u", types, meta,
      Seq("id", "name")), 0L)
    val upd = dec.decode(Binlog.encodeUpdate(9L, types, meta, 0L,
      Seq((Seq("1", "old"), Seq("1", "new")))), 1L).toSeq
    assert(upd.head.kind == "update")
    assert(upd.head.before == Seq("1", "old") && upd.head.after == Seq("1", "new"))
    val del = dec.decode(Binlog.encodeDelete(9L, types, meta, 0L,
      Seq(Seq("2", "bye"))), 2L).toSeq
    assert(del.head.kind == "delete")
    assert(del.head.before == Seq("2", "bye") && del.head.after.isEmpty)
  }

  test("binlog: temporal/decimal/bit types roundtrip with edge values") {
    import graft.cdc.Binlog
    //             ts  i24 date time dtime year bit  ts2 dt2 tm2 dec
    val types = Array(7, 9, 10, 11, 12, 13, 16, 17, 18, 19, 246)
    val meta = Array(0, 0, 0, 0, 0, 0, 12, 6, 3, 0, (20 << 8) | 6)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(11L, "db", "tt", types, meta,
      Seq("ts0", "i24", "d", "tm", "dt", "yr", "flags", "ts2", "dt2",
        "tm2", "qty")), 0L)
    val rows = Seq(
      Seq("2024-02-29 23:59:59", "-8388608", "2024-02-29", "-838:59:59",
        "9999-12-31 23:59:59", "1901", "4095",
        "2024-02-29 23:59:59.000001", "2024-02-29 00:00:00.999",
        "-838:59:59", "-99999999999999.000001"),
      Seq("1970-01-01 00:00:00", "8388607", "1000-01-01", "838:59:59",
        "1000-01-01 00:00:00", "2155", "0",
        "1970-01-01 00:00:00.999999", "1000-01-01 23:59:59.001",
        "838:59:59", "99999999999999.999999"),
      Seq("2038-01-19 03:14:07", "0", "2020-07-15", "00:00:00",
        "2024-06-01 12:34:56", "0000", "1",
        "2038-01-19 03:14:07.000000", "2024-06-01 12:34:56.000",
        "00:00:00", "0.000001"))
    val out = dec.decode(Binlog.encodeWrite(11L, types, meta, 0L, rows), 1L)
      .toSeq
    rows.zip(out).foreach { case (in, ch) => assert(ch.after == in) }
  }

  test("binlog: TIME2 fractional-second sign handling (fsp 2/4/6)") {
    import graft.cdc.Binlog
    val types = Array(19, 19, 19)
    val meta = Array(2, 4, 6)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(12L, "db", "t2", types, meta,
      Seq("a", "b", "c")), 0L)
    val rows = Seq(
      // negative with frac exercises the stored-complement branches
      Seq("-00:00:00.05", "-00:00:00.0001", "-00:00:00.000001"),
      Seq("-12:30:45.99", "-12:30:45.9999", "-838:59:58.999999"),
      Seq("00:00:00.05", "12:30:45.1234", "838:59:58.999999"))
    val out = dec.decode(Binlog.encodeWrite(12L, types, meta, 0L, rows), 1L)
      .toSeq
    rows.zip(out).foreach { case (in, ch) => assert(ch.after == in) }
  }

  test("binlog: NEWDECIMAL binary format across digit-group boundaries") {
    import graft.cdc.Binlog
    // (precision, scale, value) spanning leftover-digit byte widths,
    // full base-10⁹ groups, sign, and zero integer part
    val cases = Seq(
      (12, 2, "1234567890.12"), (12, 2, "-1234567890.12"),
      (12, 2, "0.00"), (12, 2, "-3.07"), (12, 2, "5.00"),
      (20, 6, "99999999999999.999999"), (20, 6, "-0.000001"),
      (9, 0, "999999999"), (9, 0, "-999999999"),
      (18, 9, "123456789.987654321"), (10, 10, "0.0000000001"),
      (30, 15, "-123456789012345.123456789012345"))
    cases.foreach { case (p, s, v) =>
      val enc = Binlog.encodeNewDecimal(v, p, s)
      assert(enc.length == Binlog.decimalBinSize(p, s))
      assert(Binlog.decodeNewDecimal(enc, p, s) == v,
        s"decimal($p,$s) $v")
    }
  }

  test("binlog: SIGNEDNESS bitmap renders unsigned integer columns") {
    import graft.cdc.Binlog
    // the bitmap covers NUMERIC columns only, MSB-first — the varchar
    // at index 1 must be skipped when assigning bits
    val types = Array(8, 15, 1, 2, 3, 9, 8, 1)
    val meta = Array(0, 64, 0, 0, 0, 0, 0, 0)
    val unsigned = Seq(false, false, true, true, true, true, true, false)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(13L, "db", "u", types, meta,
      Seq("id", "name", "t", "s", "l", "i24", "big", "st"), Nil,
      Map.empty, Map.empty, unsigned), 0L)
    val rows = Seq(
      Seq("-5", "x", "255", "65535", "4294967295", "16777215",
        "18446744073709551615", "-128"),
      Seq("7", "y", "0", "40000", "3000000000", "10000000",
        "9223372036854775808", "127"))
    val out = dec.decode(Binlog.encodeWrite(13L, types, meta, 0L, rows), 1L)
      .toSeq
    rows.zip(out).foreach { case (in, ch) => assert(ch.after == in) }
  }

  test("binlog: GTID commit micros override header seconds; short body falls back") {
    import graft.cdc.Binlog
    val types = Array(8); val meta = Array(0)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(14L, "db", "g", types, meta,
      Seq("id")), 0L)
    // before any GTID: ts_micros falls back to header seconds ×10⁶
    val pre = dec.decode(Binlog.encodeWrite(14L, types, meta,
      1700000000L, Seq(Seq("1"))), 1L).toSeq.head
    assert(pre.gtid == null && pre.tsMicros == 1700000000000000L)
    val uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    dec.decode(Binlog.encodeGtid(uuid, 42L, 1700000001234567L), 2L)
    val post = dec.decode(Binlog.encodeWrite(14L, types, meta,
      1700000001L, Seq(Seq("2"))), 3L).toSeq.head
    assert(post.gtid == s"$uuid:42")
    assert(post.tsMicros == 1700000001234567L)
    // a 5.6-era short GTID body (flags+sid+gno only) updates the gtid
    // but carries no timestamp: the new transaction must NOT inherit
    // the previous one's commit micros — rows fall back to their own
    // header seconds ×10⁶
    val shortBody = Binlog.encodeGtid(uuid, 43L, 1700000002000000L)
      .take(Binlog.HeaderLen + 25)
    dec.decode(shortBody, 4L)
    val post2 = dec.decode(Binlog.encodeWrite(14L, types, meta,
      1700000002L, Seq(Seq("3"))), 5L).toSeq.head
    assert(post2.gtid == s"$uuid:43")
    assert(post2.tsMicros == 1700000002000000L)
  }

  test("binlog: TRANSACTION_PAYLOAD envelope (zstd + uncompressed) decodes inner events; CRC outer stream leaves inner events checksum-free") {
    import graft.cdc.Binlog
    val types = Array(8, 15); val meta = Array(0, 255)
    val tm = Binlog.encodeTableMap(30L, "db", "p", types, meta,
      Seq("id", "s"))
    val w1 = Binlog.encodeWrite(30L, types, meta, 100L, Seq(Seq("1", "a")))
    val w2 = Binlog.encodeUpdate(30L, types, meta, 100L,
      Seq((Seq("1", "a"), Seq("1", "b"))))
    // one envelope holding the whole transaction, zstd-compressed
    val dec = new Binlog.StreamDecoder
    val out = dec.decode(
      Binlog.encodePayload(Seq(tm, w1, w2), 100L), 7L).toSeq
    assert(out.map(_.kind) == Seq("insert", "update"))
    assert(out.head.after == Seq("1", "a"))
    assert(out(1).after == Seq("1", "b"))
    // compression type NONE (raw payload) decodes identically
    val dec2 = new Binlog.StreamDecoder
    val raw = dec2.decode(
      Binlog.encodePayload(Seq(tm, w1, w2), 100L, compress = false), 7L).toSeq
    assert(raw.map(_.after) == out.map(_.after))
    // on a CRC32-checksummed stream the OUTER envelope is checksummed
    // but the inner events are not — the decoder must strip only once
    val dec3 = new Binlog.StreamDecoder
    dec3.decode(Binlog.encodeFde(checksumAlg = 1), 0L)
    val out3 = dec3.decode(
      Binlog.withCrc32(Binlog.encodePayload(Seq(tm, w1, w2), 100L)), 8L).toSeq
    assert(out3.map(_.after) == out.map(_.after))
  }

  test("binlog: CRC32-checksummed stream (FDE-announced) verifies and strips; corruption throws") {
    import graft.cdc.Binlog
    val types = Array(8, 15); val meta = Array(0, 255)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeFde(checksumAlg = 1), 0L)
    dec.decode(Binlog.withCrc32(Binlog.encodeTableMap(21L, "db", "c",
      types, meta, Seq("id", "s"))), 1L)
    val ev = Binlog.withCrc32(Binlog.encodeWrite(21L, types, meta, 0L,
      Seq(Seq("7", "hello"))))
    val out = dec.decode(ev, 2L).toSeq
    assert(out.head.after == Seq("7", "hello"))
    // flip one payload byte: the stored CRC no longer matches
    val bad = ev.clone(); bad(25) = (bad(25) ^ 0x40).toByte
    intercept[IllegalStateException] { dec.decode(bad, 3L).toSeq }
    // without an FDE, a fresh decoder treats the same bytes as
    // unchecksummed and the trailing CRC misparses — the FDE is load-bearing
    val dec2 = new Binlog.StreamDecoder
    dec2.decode(Binlog.encodeFde(checksumAlg = 0), 0L)
    dec2.decode(Binlog.encodeTableMap(21L, "db", "c", types, meta,
      Seq("id", "s")), 1L)
    val plain = dec2.decode(Binlog.encodeWrite(21L, types, meta, 0L,
      Seq(Seq("7", "hello"))), 2L).toSeq
    assert(plain.head.after == Seq("7", "hello"))
  }

  test("binlog: v1 rows events (pre-5.6, no extra-data block) decode like v2") {
    import graft.cdc.Binlog
    val types = Array(8, 15); val meta = Array(0, 255)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(15L, "db", "v", types, meta,
      Seq("id", "s")), 0L)
    val w = dec.decode(Binlog.encodeWrite(15L, types, meta, 0L,
      Seq(Seq("1", "a"), Seq("2", "b")), v1 = true), 1L).toSeq
    assert(w.map(_.after) == Seq(Seq("1", "a"), Seq("2", "b")))
    assert(w.forall(_.kind == "insert"))
    val u = dec.decode(Binlog.encodeUpdate(15L, types, meta, 0L,
      Seq((Seq("1", "a"), Seq("1", "a2"))), v1 = true), 2L).toSeq
    assert(u.head.before == Seq("1", "a") && u.head.after == Seq("1", "a2"))
    val d = dec.decode(Binlog.encodeDelete(15L, types, meta, 0L,
      Seq(Seq("2", "b")), v1 = true), 3L).toSeq
    assert(d.head.kind == "delete" && d.head.before == Seq("2", "b"))
  }

  test("binlog: rows event before TABLE_MAP is a hard error") {
    import graft.cdc.Binlog
    val dec = new Binlog.StreamDecoder
    intercept[IllegalStateException] {
      dec.decode(Binlog.encodeWrite(99L, Array(3), Array(0), 0L,
        Seq(Seq("1"))), 1L).toSeq
    }
  }

  test("pgoutput framed stream: XLogData decoded, keepalives skipped, lsn from walStart") {
    import spark.implicits._
    val frames = Seq(
      PgOutput.frame(1L, PgOutput.encodeRelation(rel)),
      PgOutput.frame(2L, PgOutput.encodeBegin(1700000000000000L, 1)),
      PgOutput.keepalive(2L, replyRequested = true),
      PgOutput.frame(3L, PgOutput.encodeInsert(7, Seq("1", "x"))),
      PgOutput.keepalive(3L),
      PgOutput.frame(4L, PgOutput.encodeDelete(7, Seq("1", null))),
      PgOutput.frame(5L, PgOutput.encodeCommit(1700000000000000L)))
      .toDF("frame").coalesce(1)
    val out = PgOutput.decodeFrames(frames, "frame").orderBy("lsn").collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("kind")).toSeq == Seq("insert", "delete"))
    assert(out.map(_.getAs[Long]("lsn")).toSeq == Seq(3L, 4L))
    assert(out.head.getAs[Long]("commit_ts_micros") == 1700000000000000L)
  }

  test("pgoutput roundtrip survives 200 random rows (unicode, nulls, negatives)") {
    val rnd = new scala.util.Random(42)
    def randVal(): String = rnd.nextInt(5) match {
      case 0 => null
      case 1 => rnd.nextLong().toString
      case 2 => rnd.nextDouble().toString
      case 3 => "uni-é中文-" + rnd.nextInt(100)
      case _ => rnd.alphanumeric.take(rnd.nextInt(50)).mkString
    }
    val dec = new PgOutput.StreamDecoder
    dec.decode(PgOutput.encodeRelation(rel), 0L)
    (1 to 200).foreach { i =>
      val vals = Seq(randVal(), randVal())
      dec.decode(PgOutput.encodeBegin(i * 1000L, i), i.toLong)
      val out = rnd.nextInt(3) match {
        case 0 => dec.decode(PgOutput.encodeInsert(7, vals), i.toLong)
        case 1 => dec.decode(PgOutput.encodeUpdate(7, Some(vals), vals), i.toLong)
        case _ => dec.decode(PgOutput.encodeDelete(7, vals), i.toLong)
      }
      val c = out.toSeq.head
      assert(c.values == vals, s"row $i: ${c.values} != $vals")
      assert(c.lsn == i.toLong && c.commitTsMicros == i * 1000L)
      dec.decode(PgOutput.encodeCommit(i * 1000L), i.toLong)
    }
  }

  test("binlog roundtrip survives 200 random rows across all supported types") {
    import graft.cdc.Binlog
    val types = Array(1, 2, 3, 8, 4, 5, 15, 15)
    val meta = Array(0, 0, 0, 0, 4, 8, 100, 300)
    val rnd = new scala.util.Random(7)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(3L, "db", "f", types, meta,
      (1 to 8).map("c" + _)), 0L)
    (1 to 200).foreach { i =>
      val vals = Seq(
        if (rnd.nextBoolean()) (rnd.nextInt(256) - 128).toString else null,
        (rnd.nextInt(65536) - 32768).toString,
        rnd.nextInt().toString,
        rnd.nextLong().toString,
        rnd.nextFloat().toString,
        rnd.nextDouble().toString,
        "s-ü中-" + rnd.alphanumeric.take(rnd.nextInt(90)).mkString,
        if (rnd.nextBoolean()) ("L" * (256 + rnd.nextInt(40))) else null)
      val out = dec.decode(
        Binlog.encodeWrite(3L, types, meta, i.toLong, Seq(vals)), i.toLong).toSeq
      assert(out.head.after == vals, s"row $i")
    }
  }

  test("binlog roundtrip survives 200 random rows of temporal/decimal/unsigned types") {
    import graft.cdc.Binlog
    //            dec     date dt2 tm2 ts2 bit i24u bigu  tinyu
    val types = Array(246, 10, 18, 19, 17, 16, 9,   8,    1)
    val meta = Array((18 << 8) | 4, 0, 6, 6, 3, 21, 0, 0, 0)
    val unsigned = Seq(false, false, false, false, false, false, true, true, true)
    val rnd = new scala.util.Random(11)
    val dec = new Binlog.StreamDecoder
    dec.decode(Binlog.encodeTableMap(4L, "db", "r", types, meta,
      (1 to types.length).map("c" + _), Nil, Map.empty, Map.empty,
      unsigned), 0L)
    def two(n: Int) = "%02d".format(n)
    (1 to 200).foreach { i =>
      val sign = if (rnd.nextBoolean()) "-" else ""
      val micros6 = "%06d".format(rnd.nextInt(1000000))
      val vals = Seq(
        // DECIMAL(18,4): int part up to 14 digits
        s"$sign${math.abs(rnd.nextLong() % 100000000000000L)}." +
          "%04d".format(rnd.nextInt(10000)),
        s"${1000 + rnd.nextInt(9000)}-${two(1 + rnd.nextInt(12))}-${two(1 + rnd.nextInt(28))}",
        s"${1000 + rnd.nextInt(9000)}-${two(1 + rnd.nextInt(12))}-${two(1 + rnd.nextInt(28))} " +
          s"${two(rnd.nextInt(24))}:${two(rnd.nextInt(60))}:${two(rnd.nextInt(60))}.$micros6",
        { // TIME2(6) incl. negative with fraction
          val neg = if (rnd.nextBoolean()) "-" else ""
          val frac = "." + "%06d".format(rnd.nextInt(1000000))
          s"$neg${two(rnd.nextInt(839))}:${two(rnd.nextInt(60))}:${two(rnd.nextInt(60))}$frac"
        },
        { // TIMESTAMP2(3): whole-second epoch + millis
          val es = 1 + rnd.nextInt(Int.MaxValue - 1)
          val t = java.time.LocalDateTime.ofEpochSecond(es.toLong, 0,
            java.time.ZoneOffset.UTC)
          f"${t.getYear}%04d-${two(t.getMonthValue)}%s-${two(t.getDayOfMonth)}%s " +
            s"${two(t.getHour)}:${two(t.getMinute)}:${two(t.getSecond)}" +
            "." + "%03d".format(rnd.nextInt(1000))
        },
        (rnd.nextLong() & ((1L << 21) - 1)).toString,          // BIT(21)
        rnd.nextInt(1 << 24).toString,                          // INT24 unsigned
        java.lang.Long.toUnsignedString(rnd.nextLong()),        // BIGINT unsigned
        rnd.nextInt(256).toString)                              // TINY unsigned
      // "-0.0000"-class decimals and "-00:00:00.000000" don't exist in
      // the signed encodings; skip the (rare) negative-zero draws
      val dz = vals(0) == "-0.0000"
      val tz = vals(3) == "-00:00:00.000000"
      if (!dz && !tz) {
        val out = dec.decode(
          Binlog.encodeWrite(4L, types, meta, i.toLong, Seq(vals)), i.toLong).toSeq
        assert(out.head.after == vals, s"row $i")
      }
    }
  }

  test("pgoutput end-to-end on events fixture: kinds and row counts") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val decoded = PgOutput.decode(ChangeLogFixture.pgoutputLog(ev), "lsn", "msg")
    val n = ev.count()
    assert(decoded.count() == n)
    val kinds = decoded.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = ev.groupBy(
      when(col("event_type") === "error", "delete")
        .when(col("event_type") === "purchase", "update")
        .otherwise("insert").as("k")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds == expected)
  }

  test("pgoutput -> decode -> applyBatch with an Iceberg publish: the " +
    "decode and dedup ride the segment write, at most 4 Spark jobs") {
    import graft.sinks.{DeltaSegments, IcebergMetadata}
    import graft.streaming.CdcStream
    // events in `pgoutputLog`'s shape: a view inserts, a purchase
    // updates, an error deletes
    val ev = spark.range(1, 401).select(col("id").as("event_id"),
      (col("id") % 7).as("user_id"),
      element_at(array(lit("view"), lit("purchase"), lit("error")),
        (col("id") % 3 + 1).cast("int")).as("event_type"),
      (col("id") * 1.5).as("value"),
      timestamp_seconds(col("id") + 1700000000L).as("ts"))
    // decoder output -> the apply shape, as `CdcStream.runSocket`'s
    // `project` does
    def batch(part: DataFrame): DataFrame = PgOutput.decode(
        ChangeLogFixture.pgoutputLog(part), "lsn", "msg").select(
      element_at(col("values"), 1).as("_olake_id"), col("lsn"), col("kind"),
      timestamp_micros(col("commit_ts_micros")).as("_cdc_timestamp"),
      element_at(col("values"), 3).as("event_type"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_pgapply").toString
    val (table, state, ice) = (s"$tmp/t", s"$tmp/s.json", s"$tmp/ice")
    val policy = DeltaSegments.CompactionPolicy(maxSegments = 100,
      maxDeltaRatio = 1e9)
    CdcStream.applyBatch(batch(ev.where(col("event_id") <= 200)), 0L, table,
      state, "events", policy, icebergDir = Some(ice)) // bootstrap fold
    val (_, jobs) = jobsOf(CdcStream.applyBatch(
      batch(ev.where(col("event_id") > 200)), 1L, table, state, "events",
      policy, icebergDir = Some(ice)))
    assert(jobs <= 4, s"applyBatch ran $jobs Spark jobs")
    val segs = DeltaSegments.listSegments(table)
    assert(segs.size == 1 && DeltaSegments.markedKeyUnique(segs.head))
    def snap(df: DataFrame) = df.select("_olake_id", "event_type").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val t = snap(CdcStream.readTable(spark, table))
    assert(snap(IcebergMetadata.readMoR(spark, ice)) == t)
    // every event but the deleted ("error") ones is live
    assert(t.size == 267 && !t.exists(_._2 == "error"))
  }

  test("applyBatch with an Iceberg publish: a third batch compiles no " +
    "generated class (the replay bound and the segment's sequence are " +
    "references, not source text)") {
    import graft.sinks.{DeltaSegments, IcebergMetadata}
    import graft.streaming.CdcStream
    import spark.implicits._
    // each batch's events are a local relation: the input itself puts
    // no per-batch value into generated code
    def batch(ids: Range): DataFrame = {
      val ev = ids.map(i => (i.toLong, i % 7L, Seq("view", "purchase",
        "error")(i % 3), i * 1.5,
        new java.sql.Timestamp((1700000000L + i) * 1000)))
        .toDF("event_id", "user_id", "event_type", "value", "ts")
      PgOutput.decode(ChangeLogFixture.pgoutputLog(ev), "lsn", "msg").select(
        element_at(col("values"), 1).as("_olake_id"), col("lsn"), col("kind"),
        timestamp_micros(col("commit_ts_micros")).as("_cdc_timestamp"),
        element_at(col("values"), 3).as("event_type"))
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft_pgcompile").toString
    val (table, state, ice) = (s"$tmp/t", s"$tmp/s.json", s"$tmp/ice")
    val policy = DeltaSegments.CompactionPolicy(maxSegments = 100,
      maxDeltaRatio = 1e9)
    def apply(id: Long, ids: Range): Unit = CdcStream.applyBatch(batch(ids),
      id, table, state, "events", policy, icebergDir = Some(ice))
    apply(0L, 1 to 200) // bootstrap fold
    apply(1L, 201 to 300)
    val (_, compiles) = codegenCompilesOf(apply(2L, 301 to 400))
    assert(compiles == 0, s"the third batch compiled $compiles classes")
    val live = IcebergMetadata.readMoR(spark, ice)
      .select("_olake_id", "event_type").as[(String, String)].collect()
    assert(live.length == 267 && !live.exists(_._2 == "error"))
  }
}
