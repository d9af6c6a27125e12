package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream, File}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.PgOutput
import graft.sinks.{DeltaSegments, IcebergMetadata}
import graft.state.StateStore
import graft.streaming.CdcStream

/** The benchmark's own pgoutput (protocol v1) encoder, written from the
  * public PostgreSQL message formats so the inputs never come from the
  * code under test. */
object PgWire {
  private def msg(f: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream(); val out = new DataOutputStream(bos)
    f(out); out.flush(); bos.toByteArray
  }
  private def cstr(o: DataOutputStream, s: String): Unit = {
    o.write(s.getBytes(StandardCharsets.UTF_8)); o.writeByte(0)
  }
  private def tuple(o: DataOutputStream, vals: Seq[String]): Unit = {
    o.writeShort(vals.size)
    vals.foreach {
      case null => o.writeByte('n')
      case v => val b = v.getBytes(StandardCharsets.UTF_8)
        o.writeByte('t'); o.writeInt(b.length); o.write(b)
    }
  }
  val PgEpochMicros = 946684800000000L
  def relation(id: Int, ns: String, name: String, cols: Seq[(String, Int)]): Array[Byte] =
    msg { o => o.writeByte('R'); o.writeInt(id); cstr(o, ns); cstr(o, name)
      o.writeByte('d'); o.writeShort(cols.size)
      cols.zipWithIndex.foreach { case ((c, oid), i) =>
        o.writeByte(if (i == 0) 1 else 0); cstr(o, c); o.writeInt(oid); o.writeInt(-1) } }
  def begin(finalLsn: Long, tsUnixMicros: Long, xid: Int): Array[Byte] =
    msg { o => o.writeByte('B'); o.writeLong(finalLsn)
      o.writeLong(tsUnixMicros - PgEpochMicros); o.writeInt(xid) }
  def commit(lsn: Long, tsUnixMicros: Long): Array[Byte] =
    msg { o => o.writeByte('C'); o.writeByte(0); o.writeLong(lsn); o.writeLong(lsn + 1)
      o.writeLong(tsUnixMicros - PgEpochMicros) }
  def insert(rel: Int, vals: Seq[String]): Array[Byte] =
    msg { o => o.writeByte('I'); o.writeInt(rel); o.writeByte('N'); tuple(o, vals) }
  def update(rel: Int, vals: Seq[String]): Array[Byte] =
    msg { o => o.writeByte('U'); o.writeInt(rel); o.writeByte('N'); tuple(o, vals) }
  def delete(rel: Int, key: Seq[String]): Array[Byte] =
    msg { o => o.writeByte('D'); o.writeInt(rel); o.writeByte('K'); tuple(o, key) }
}

/** Seeded change stream over `accounts(id, name, amount, status)`. The
  * seed draws the op mix (deletes 8-12%, updates 48-52%, inserts the
  * rest) and the key skew (15-25% of updates and deletes hit a hot set
  * of 0.5% of live keys), then every change. Updates and deletes hit
  * live keys only; inserts take fresh ids. Each transaction carries
  * `txn` changes and its own commit time, LSNs increase by message.
  * The op mix is part of the workload's definition; the skew and the
  * transaction size are assumptions with no measured source. */
final class CdcGen(seed: Long, baseKeys: Int, perBatch: Int, val txn: Int = 10) {
  private val rnd = new java.util.Random(seed)
  val deleteShare: Double = 0.08 + 0.04 * rnd.nextDouble()
  val updateShare: Double = 0.48 + 0.04 * rnd.nextDouble()
  val hotShare: Double = 0.15 + 0.10 * rnd.nextDouble()
  private val live = mutable.ArrayBuffer.tabulate(baseKeys)(i => (i + 1).toLong)
  private val hot = math.max(1, baseKeys / 200)
  private var nextId = baseKeys.toLong + 1
  private var lsn = 1000L
  private var ts = 1700000000000000L
  private var xid = 1000
  private val statuses = Array("open", "active", "frozen", "closed", "review")

  /** A change: kind is 'I', 'U' or 'D'; a delete has no payload. */
  final case class Change(kind: Char, id: Long, name: String, amount: Long,
                          status: String, lsn: Long)
  /** `hotHits`: updates and deletes that drew their key from the hot set. */
  final case class Batch(msgs: Seq[(Long, Array[Byte])], changes: Seq[Change],
                         hotHits: Int) {
    def bytes: Long = msgs.map(_._2.length.toLong).sum
    def kindCounts: Map[Char, Long] =
      changes.groupBy(_.kind).map { case (k, v) => k -> v.size.toLong }
    val lsnRange: (Long, Long) = (msgs.head._1, msgs.last._1)
  }

  private var hotHits = 0
  private def pickLive(): Int =
    if (rnd.nextDouble() < hotShare) { hotHits += 1; rnd.nextInt(math.min(hot, live.size)) }
    else rnd.nextInt(live.size)

  def batch(): Batch = {
    val msgs = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val changes = mutable.ArrayBuffer.empty[Change]
    def next(b: Array[Byte]): Long = { lsn += 1; msgs += (lsn -> b); lsn }
    hotHits = 0
    next(PgWire.relation(16384, "public", "accounts",
      Seq("id" -> 20, "name" -> 25, "amount" -> 20, "status" -> 25)))
    var left = perBatch
    while (left > 0) {
      val n = math.min(txn, left); left -= n
      ts += 1000; xid += 1
      next(PgWire.begin(lsn + n + 2, ts, xid))
      (0 until n).foreach { _ =>
        val r = rnd.nextDouble()
        def payload(id: Long) = (s"name-${rnd.nextInt(1 << 20)}",
          rnd.nextInt(10000000).toLong, statuses(rnd.nextInt(statuses.length)))
        if (r < deleteShare && live.size > hot) {
          val i = pickLive(); val id = live(i)
          live(i) = live.last; live.remove(live.size - 1)
          val at = next(PgWire.delete(16384, Seq(id.toString, null, null, null)))
          changes += Change('D', id, null, 0L, null, at)
        } else if (r < deleteShare + updateShare) {
          val id = live(pickLive()); val (nm, am, st) = payload(id)
          val at = next(PgWire.update(16384, Seq(id.toString, nm, am.toString, st)))
          changes += Change('U', id, nm, am, st, at)
        } else {
          val id = nextId; nextId += 1; live += id
          val (nm, am, st) = payload(id)
          val at = next(PgWire.insert(16384, Seq(id.toString, nm, am.toString, st)))
          changes += Change('I', id, nm, am, st, at)
        }
      }
      next(PgWire.commit(lsn, ts))
    }
    Batch(msgs.toSeq, changes.toSeq, hotHits)
  }
}

/** CDC drain: a base snapshot, then seeded pgoutput batches, each
  * decoded by `PgOutput.decode`, projected to the apply shape and
  * applied by `CdcStream.applyBatch` with an Iceberg merge-on-read
  * publish per batch (default compaction policy) — `runSocket`'s
  * foreachBatch body without the socket. The read is
  * `IcebergMetadata.readMoR` with full output.
  *
  * The traced run also measures the curated-ingest layers (`llm`,
  * `streaming.curate_apply`), which have no workload of their own: after
  * the loop, one [[Curate]] batch of `curateDocs._2` docs over a
  * `curateDocs._1`-doc index, warmed up first, through
  * `DedupStream.applyBatchCurated`, then a corpus read and its output
  * checks. */
final class Cdc(spark: SparkSession, root: String, seed: Long,
                baseKeys: Int, perBatch: Int, maxBatches: Int,
                curateDocs: (Int, Int)) extends Workload {
  import spark.implicits._
  val name = "cdc"
  val setupContains = Seq("generate the change batches and write them as parquet WAL files",
    "write the base snapshot")
  val warmupContains = "one compaction cycle (two batches with publish) at full size, " +
    "then two reads, on a copy drawn from another seed"
  override val reference = Some(("OLake Postgres->Iceberg CDC, rows/s", 55555.0))

  private val table = s"$root/table"
  private val ice = s"$root/iceberg"
  private val state = s"$root/state.json"
  private var batches: Seq[CdcGen#Batch] = Nil
  private var gen: CdcGen = _

  /** One parquet file per batch, in LSN order, under `dir/batch=<i>`. */
  private def writeWal(dir: String, bs: Seq[CdcGen#Batch]): Unit =
    bs.zipWithIndex.flatMap { case (b, i) => b.msgs.map { case (l, m) => (i, l, m) } }
      .toDF("batch", "lsn", "msg").repartition(col("batch"))
      .sortWithinPartitions("batch", "lsn")
      .write.mode("overwrite").partitionBy("batch").parquet(dir)

  /** The base snapshot, in the layout `DeltaSegments.read` expects. */
  private def baseFrame(keys: Int, s: Long): DataFrame =
    spark.range(1, keys + 1L, 1, 4).select(
      col("id").cast("string").as("_olake_id"), lit(0L).as("lsn"), col("id"),
      concat(lit("name-"), pmod(xxhash64(lit(s), col("id"), lit(1)), lit(1 << 20))).as("name"),
      pmod(xxhash64(lit(s), col("id"), lit(2)), lit(10000000L)).as("amount"),
      element_at(array(Seq("open", "active", "frozen", "closed", "review").map(lit): _*),
        (pmod(xxhash64(lit(s), col("id"), lit(3)), lit(5)) + 1).cast("int")).as("status"))

  private def writeBase(path: String, keys: Int, s: Long): Unit =
    baseFrame(keys, s).write.mode("overwrite").parquet(DeltaSegments.baseDir(path).getPath)

  /** Decoder output → the apply shape (`_olake_id`, `lsn`, `kind`,
    * `_cdc_timestamp`, payload), as `runSocket`'s `project` does. */
  private def project(decoded: DataFrame): DataFrame = decoded.select(
    element_at(col("values"), 1).as("_olake_id"), col("lsn"), col("kind"),
    timestamp_micros(col("commit_ts_micros")).as("_cdc_timestamp"),
    element_at(col("values"), 1).cast("long").as("id"),
    element_at(col("values"), 2).as("name"),
    element_at(col("values"), 3).cast("long").as("amount"),
    element_at(col("values"), 4).as("status"))

  /** Applies batch `i`; returns seconds spent in traced-only legs and
    * whether the batch compacted the table. */
  private def apply(t: Tracer, dir: String, tbl: String, ic: String, st: String,
                    i: Int): (Double, Boolean) = {
    val raw = spark.read.schema("lsn long, msg binary").parquet(s"$dir/wal/batch=$i")
    val segsBefore = DeltaSegments.listSegments(tbl).size
    def compacted = DeltaSegments.listSegments(tbl).size < segsBefore + 1
    if (!t.enabled) {
      CdcStream.applyBatch(project(PgOutput.decode(raw, "lsn", "msg")), i, tbl, st,
        "accounts", icebergDir = Some(ic))
      (0.0, compacted)
    } else {
      // traced: decode is materialized into a cached frame first, so
      // its cost is its own span; the merge is timed on that frame as a
      // separate leg (outside the batch's end-to-end time)
      val changes = t.span("cdc.decode", i) {
        val c = project(PgOutput.decode(raw, "lsn", "msg")).cache()
        changesOut += Meter.drainCount(c); c
      }
      val legS = Meter.seconds(t.span("operators.merge", i) {
        mergeOut += Meter.drainCount(graft.operators.Merge.dedupKeepLatestAgg(
          changes.withColumn("_op_type",
            graft.operators.CdcWindow.opType(col("kind"), dedupInserts = false)).drop("kind"),
          orderCols = Seq(col("_cdc_timestamp"),
            graft.operators.Merge.opPriority(col("_op_type")), col("lsn"))))
      })._2
      val filesBefore = Files2.files(new File(tbl)).size + Files2.files(new File(ic)).size
      val metaBefore = Files2.bytes(new File(s"$ic/metadata"))
      // the Iceberg publish applyBatch runs last is called here as its
      // own span, with the summary applyBatch would give it, so its
      // manifest and metadata writes outside Spark jobs count as its own
      t.span("streaming.cdc_apply", i) {
        CdcStream.applyBatch(changes, i, tbl, st, "accounts", icebergDir = None)
        val summary = Map("olake_2pc" -> positionJson(st, "accounts"))
        t.span("sinks.iceberg.publish", i)(IcebergMetadata.publishMoR(spark, ic, tbl, summary))
      }
      changes.unpersist()
      val didCompact = compacted
      if (didCompact) {
        compactions += 1
        bytesRewritten += Files2.bytes(DeltaSegments.baseDir(tbl))
      }
      segmentsLive = DeltaSegments.listSegments(tbl).size
      filesOut += Files2.files(new File(tbl)).size + Files2.files(new File(ic)).size - filesBefore
      metaBytes += Files2.bytes(new File(s"$ic/metadata")) - metaBefore
      val live = IcebergMetadata.dataFileStats(ic)
      pubFiles += live.count(_.content == 0); pubDeletes += live.count(_.content != 0)
      traced += 1
      changeBytes += batches(i).bytes
      (legS, didCompact)
    }
  }
  /** The `olake_2pc` position applyBatch publishes, from its committed state. */
  private def positionJson(statePath: String, stream: String): String = {
    val ss = StateStore.load(statePath).flatMap(_.streams.get(stream)).get
    val lsn = ss.offsets.get("lsn").map(l => s""","lsn":$l""").getOrElse("")
    s"""{"stream":"$stream","batchId":${ss.offsets("batchId")}$lsn""" +
      s""","dedup_inserts":${ss.dedupInserts}}"""
  }
  private var traced = 0; private var compactions = 0; private var bytesRewritten = 0L
  private var changesOut = 0L; private var mergeOut = 0L
  private var segmentsLive = 0; private var filesOut = 0L; private var metaBytes = 0L
  private var pubFiles = 0L; private var pubDeletes = 0L; private var changeBytes = 0L
  private var readData = 0; private var readDeletes = 0

  def setup(rep: Int): Unit = {
    Files2.rm(new File(root))
    gen = new CdcGen(seed, baseKeys, perBatch)
    batches = Seq.fill(maxBatches)(gen.batch())
    writeWal(s"$root/wal", batches)
    writeBase(table, baseKeys, seed)
  }

  /** Full size: over a small table Spark picks other join and exchange
    * plans than over the real one, so the first measured batch and read
    * would still compile theirs (measured: a first batch 5-8 s where later
    * ones took 3). */
  def warmup(): Unit = {
    val w = s"$root/warm"
    val wg = new CdcGen(seed + 1, baseKeys, perBatch)
    writeWal(s"$w/wal", Seq.fill(2)(wg.batch()))
    writeBase(s"$w/table", baseKeys, seed + 1)
    val off = new Tracer(spark, "warm", false)
    (0 until 2).foreach { i =>
      apply(off, w, s"$w/table", s"$w/ice", s"$w/state.json", i)
      Meter.drain(IcebergMetadata.readMoR(spark, s"$w/ice"))
    }
    Files2.rm(new File(w))
  }

  def hasNext(i: Int): Boolean = i < batches.size

  /** Each operation of a compaction cycle leaves a different layout and
    * the loop ends on a cycle boundary: two reads per operation sample
    * every layout twice. */
  override val minReads = 4
  override val readsPerOp = 2

  def inputs(ops: Int): String = {
    val curated = curate.fold("")(c => s"; traced curated-ingest leg: ${c.inputs(1)}")
    val bs = batches.take(ops)
    val n = math.max(bs.map(_.changes.size).sum, 1).toDouble
    val kinds = bs.map(_.kindCounts).foldLeft(Map.empty[Char, Long])((a, m) =>
      m.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) })
    def pct(k: Char) = f"${100.0 * kinds.getOrElse(k, 0L) / n}%.1f%%"
    val ud = math.max(kinds.getOrElse('U', 0L) + kinds.getOrElse('D', 0L), 1L)
    f"${bs.size} batches of $perBatch changes over a $baseKeys-key base, ${gen.txn} per transaction; " +
      s"op mix delete ${pct('D')}, update ${pct('U')}, insert ${pct('I')}; " +
      f"hot-key share of updates and deletes ${100.0 * bs.map(_.hotHits).sum / ud}%.1f%% " +
      s"on 0.5% of live keys (skew and transaction size assumed, no measured source)" + curated
  }

  def step(i: Int, t: Tracer): Workload.Op = {
    val (legS, compacted) = apply(t, root, table, ice, state, i)
    Workload.Op(batches(i).changes.size.toLong, 1, legS, cycleEnd = compacted)
  }

  def read(t: Tracer): Unit = t.span("sinks.iceberg.read") {
    Meter.drain(IcebergMetadata.readMoR(spark, ice))
  }

  def checks(ops: Int): Seq[(Check, Seq[Int])] = {
    val applied = batches.take(ops)
    val live = IcebergMetadata.dataFileStats(ice)
    readData = live.count(_.content == 0); readDeletes = live.count(_.content != 0)
    // per batch: op-type counts out of the decoder equal what was planted
    val decoded = PgOutput.decode(spark.read.schema("lsn long, msg binary").parquet(
      (0 until ops).map(i => s"$root/wal/batch=$i"): _*), "lsn", "msg")
      .groupBy("kind").agg(collect_list("lsn").as("lsns"))
      .as[(String, Seq[Long])].collect().toMap
    val perBatch = applied.zipWithIndex.map { case (b, i) =>
      val (lo, hi) = b.lsnRange
      val got = Seq("insert" -> 'I', "update" -> 'U', "delete" -> 'D').map { case (k, c) =>
        c -> decoded.getOrElse(k, Nil).count(l => l >= lo && l <= hi).toLong
      }.toMap.filter(_._2 > 0)
      (Check(s"cdc.batch$i.op_counts", got == b.kindCounts,
        s"decoded $got vs planted ${b.kindCounts}"), Seq(i))
    }
    // the final table: base rows never touched, plus the last change
    // per touched key (deleted keys absent)
    val last = mutable.LinkedHashMap.empty[Long, CdcGen#Change]
    applied.foreach(_.changes.foreach(c => last(c.id) = c))
    val touched = last.keys.toSeq.toDF("id")
    val survivors = last.values.filter(_.kind != 'D').toSeq
      .map(c => (c.id.toString, c.lsn, c.id, c.name, c.amount, c.status))
      .toDF("_olake_id", "lsn", "id", "name", "amount", "status")
    val cols = Seq("_olake_id", "lsn", "id", "name", "amount", "status")
    val untouched = baseFrame(baseKeys, seed).join(touched, Seq("id"), "left_anti")
    val want = Digest.of(untouched, cols) + Digest.of(survivors, cols)
    val got = Digest.of(IcebergMetadata.readMoR(spark, ice), cols)
    val curated = curate.toSeq.flatMap(_.checks(legOperations).map { case (c, is) =>
      (c, is.map(ops + _)) })
    (perBatch :+ ((Check("cdc.final_table", want == got,
      s"rows ${got.rows} vs expected ${want.rows}, digest ${if (want.sameContent(got)) "equal" else "differs"}"),
      applied.indices))) ++ curated
  }

  private var curate: Option[Curate] = None
  override def legOperations: Int = curate.size

  /** The curated-ingest leg (see the class comment). Its warm-up and
    * set-up run in a span of their own, so every job is attributed and
    * no layer's figures include cold-start work. */
  override def legs(t: Tracer): Unit = {
    val c = new Curate(spark, s"$root/curate", seed, curateDocs._1, curateDocs._2, 1)
    t.span("curate.prepare") { c.warmup(); c.setup(0) }
    c.step(0, t)
    c.read(t)
    curate = Some(c)
  }

  override def counters: Map[String, Double] = curate.fold(Map.empty[String, Double])(_.counters) ++ {
    def per(x: Double) = if (traced == 0) 0.0 else x / traced
    val decodeBytes = batches.take(traced).map(_.bytes).sum.toDouble
    Map(
      "cdc.decode.bytes_in" -> per(decodeBytes),
      "cdc.decode.changes_out" -> per(changesOut.toDouble),
      "operators.merge.rows_in" -> per(changesOut.toDouble),
      "operators.merge.rows_out" -> per(mergeOut.toDouble),
      "sinks.delta.compactions" -> compactions.toDouble,
      "sinks.delta.bytes_rewritten" -> bytesRewritten.toDouble,
      "sinks.delta.segments_live" -> segmentsLive.toDouble,
      "sinks.delta.change_bytes_in" -> changeBytes.toDouble,
      "sinks.iceberg.publish.files" -> per(pubFiles.toDouble),
      "sinks.iceberg.publish.delete_files" -> per(pubDeletes.toDouble),
      "sinks.iceberg.publish.metadata_bytes" -> per(metaBytes.toDouble),
      "streaming.cdc_apply.files_out" -> per(filesOut.toDouble),
      "sinks.iceberg.read.data_files" -> readData.toDouble,
      "sinks.iceberg.read.delete_files" -> readDeletes.toDouble)
  }

  /** The segment write and compaction run inside applyBatch: their
    * Spark jobs are told apart by call site, so `sinks.delta` is the
    * wall time of those jobs only; its file work outside Spark jobs stays in
    * `streaming.cdc_apply`. */
  override val siteLayers = Map("streaming.cdc_apply" -> Map(
    "DeltaSegments.scala" -> "sinks.delta"))
}
