package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Protocol, Tables}
import graft.operators.{Flatten, SystemColumns}
import graft.sinks.{IcebergMetadata, ParquetSink}

/** Full load: TPC-H-shaped source tables (orders and lineitem
  * replicated, row order seeded) synced by `Protocol.syncAll`
  * (full_refresh, pool = cores), each stream committed to its Iceberg
  * table, the tables read back with full output. One round re-syncs
  * every stream from scratch, so every round does the same work. */
final class Backfill(spark: SparkSession, root: String, seed: Long,
                     replicas: Double, cores: Int) extends Workload {
  val name = "backfill"
  val setupContains = Seq("generate the five source tables as parquet")
  val warmupContains = "one syncAll round with Iceberg commits, then two reads, " +
    "over a full-size copy drawn from another seed"
  override val reference = Some(("OLake Postgres->Iceberg full load, rows/s", 580113.0))

  private val src = s"$root/src"
  private val dest = s"$root/dest"
  private val ice = s"$root/iceberg"
  private val state = s"$root/state.json"

  /** TPC-H sf0.1 row counts, orders and lineitem times `r`; `f`
    * scales everything (the warm-up copy is small). */
  private def sizes(f: Double, r: Double = replicas): Seq[(String, Long)] = Seq(
    "customer" -> (15000 * f).toLong, "supplier" -> (1000 * f).toLong,
    "part" -> (20000 * f).toLong, "orders" -> (150000 * f * r).toLong,
    "lineitem" -> (600000 * f * r).toLong)
  private val pk = Map("customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey", "lineitem" -> "l_id")
  private def cfgs = sizes(1).map { case (n, _) =>
    Protocol.StreamConfig(n, primaryKeys = Seq(pk(n)))
  }
  private val words = Seq("carefully", "final", "deposits", "furiously",
    "regular", "ironic", "packages", "blithely", "express", "accounts",
    "pending", "quickly", "special", "requests", "even", "slyly", "bold",
    "theodolites", "foxes", "instructions", "pinto", "beans", "dolphins")

  /** The generated tables: row i gets key (a·i + b) mod n, so row
    * order is a seeded permutation, and every column is a function of
    * (seed, key). */
  private def table(n: String, rows: Long, s: Long): DataFrame = {
    val a = Iterator.from(7919 + (s % 9973).toInt.abs)
      .find(x => BigInt(x).gcd(BigInt(rows)) == 1).get.toLong
    val key = pmod(col("id") * lit(a) + lit(s % rows), lit(rows)) + 1
    def h(k: Int): Column = xxhash64(lit(s), col("k"), lit(k))
    def pick(k: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pmod(h(k), lit(xs.size)) + 1).cast("int"))
    def text(k: Int, nWords: Int): Column =
      concat_ws(" ", (0 until nWords).map(j => pick(k * 31 + j, words)): _*)
    def money(k: Int, max: Long): Column =
      (pmod(h(k), lit(max)) / 100).cast("decimal(12,2)")
    def day(k: Int): Column =
      date_add(lit(java.sql.Date.valueOf("1992-01-01")), pmod(h(k), lit(2500)).cast("int"))
    val base = spark.range(0, rows, 1, cores).select(key.as("k"))
    n match {
      case "customer" => base.select(col("k").as("c_custkey"),
        concat(lit("Customer#"), col("k")).as("c_name"), text(1, 3).as("c_address"),
        pmod(h(2), lit(25)).cast("int").as("c_nationkey"),
        concat(lit("1-"), pmod(h(3), lit(10000000))).as("c_phone"),
        money(4, 1000000).as("c_acctbal"),
        pick(5, Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")).as("c_mktsegment"),
        text(6, 8).as("c_comment"))
      case "supplier" => base.select(col("k").as("s_suppkey"),
        concat(lit("Supplier#"), col("k")).as("s_name"), text(1, 3).as("s_address"),
        pmod(h(2), lit(25)).cast("int").as("s_nationkey"),
        concat(lit("2-"), pmod(h(3), lit(10000000))).as("s_phone"),
        money(4, 1000000).as("s_acctbal"), text(6, 8).as("s_comment"))
      case "part" => base.select(col("k").as("p_partkey"), text(1, 4).as("p_name"),
        concat(lit("Manufacturer#"), pmod(h(2), lit(5)) + 1).as("p_mfgr"),
        concat(lit("Brand#"), pmod(h(3), lit(55)) + 11).as("p_brand"),
        text(4, 3).as("p_type"), (pmod(h(5), lit(50)) + 1).cast("int").as("p_size"),
        pick(6, Seq("SM CASE", "LG BOX", "MED BAG", "JUMBO PKG", "WRAP DRUM")).as("p_container"),
        money(7, 200000).as("p_retailprice"), text(8, 3).as("p_comment"))
      case "orders" => base.select(col("k").as("o_orderkey"),
        (pmod(h(1), lit(15000L)) + 1).as("o_custkey"),
        pick(2, Seq("O", "F", "P")).as("o_orderstatus"),
        money(3, 50000000).as("o_totalprice"), day(4).as("o_orderdate"),
        pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"),
        concat(lit("Clerk#"), pmod(h(6), lit(1000))).as("o_clerk"),
        lit(0).as("o_shippriority"), text(7, 6).as("o_comment"))
      case "lineitem" => base.select(col("k").as("l_id"),
        (pmod(h(1), lit(150000L)) + 1).as("l_orderkey"),
        (pmod(h(2), lit(20000L)) + 1).as("l_partkey"),
        (pmod(h(3), lit(1000L)) + 1).as("l_suppkey"),
        (pmod(h(4), lit(7)) + 1).cast("int").as("l_linenumber"),
        (pmod(h(5), lit(50)) + 1).cast("decimal(12,2)").as("l_quantity"),
        money(6, 10000000).as("l_extendedprice"),
        (pmod(h(7), lit(11)) / 100).cast("decimal(12,2)").as("l_discount"),
        (pmod(h(8), lit(9)) / 100).cast("decimal(12,2)").as("l_tax"),
        pick(9, Seq("R", "A", "N")).as("l_returnflag"), pick(10, Seq("O", "F")).as("l_linestatus"),
        day(11).as("l_shipdate"), day(12).as("l_commitdate"), day(13).as("l_receiptdate"),
        pick(14, Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")).as("l_shipinstruct"),
        pick(15, Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")).as("l_shipmode"),
        text(16, 4).as("l_comment"))
    }
  }

  private def generate(dir: String, f: Double, s: Long): Unit =
    sizes(f).foreach { case (n, rows) =>
      table(n, rows, s).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }

  /** One round: syncAll, then one Iceberg commit per stream. Returns
    * rows synced and the per-stream wall times. */
  private def round(t: Tracer, srcDir: String, destDir: String, iceDir: String,
                    statePath: String, batch: Long): (Long, Seq[Double]) = {
    val walls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val runStream = (s: SparkSession, sd: String, dd: String,
                     c: Protocol.StreamConfig, st: String) => {
      attempts.incrementAndGet()
      val (n, dt) = Meter.seconds(Protocol.syncStream(s, sd, dd, c, st))
      walls.add(dt); n
    }
    val rows = t.span("Protocol.sync_all", batch) {
      Protocol.syncAll(spark, srcDir, destDir, cfgs, statePath,
        parallelism = cores, runStream = runStream).values.sum
    }
    cfgs.foreach { c =>
      val md = new File(s"$iceDir/${c.name}/metadata")
      val before = Files2.bytes(md)
      val commit = t.span("sinks.iceberg.commit", batch) {
        IcebergMetadata.commit(spark, s"$iceDir/${c.name}", s"$destDir/${c.name}")
      }
      commitFiles += commit.addedFiles
      commitMetaBytes += Files2.bytes(md) - before
      commits += 1
    }
    import scala.jdk.CollectionConverters._
    (rows, walls.asScala.toSeq)
  }
  private val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
  private var commits = 0; private var commitFiles = 0L; private var commitMetaBytes = 0L
  private var effs = Seq.empty[Double]
  private var readFiles = 0

  def setup(rep: Int): Unit = {
    Files2.rm(new File(root))
    generate(src, 1, seed)
  }

  /** Full size: after a warm-up over a small copy, the first round of a
    * run was often the slowest and some runs stayed slower throughout
    * (rounds of 4.1-4.5 s against 3.0-3.9 s). */
  def warmup(): Unit = {
    val w = s"$root/warm"
    generate(s"$w/src", 1, seed + 1)
    round(new Tracer(spark, "warm", false), s"$w/src", s"$w/dest", s"$w/ice",
      s"$w/state.json", -1)
    (0 until 2).foreach(_ =>
      cfgs.foreach(c => Meter.drain(IcebergMetadata.readTable(spark, s"$w/ice/${c.name}"))))
    Files2.rm(new File(w))
    attempts.set(0); commits = 0; commitFiles = 0; commitMetaBytes = 0; effs = Nil
  }

  def hasNext(i: Int): Boolean = true

  /** Every round re-syncs from scratch and leaves the same tables, so
    * the final state is read a fixed seven times after the loop instead
    * of after each round: the first reads after a round run slower than
    * later ones (measured: two of them, by about half), and the median
    * must not depend on how many rounds fitted in the run. */
  override val readsPerOp = 0
  override val minReads = 7

  def inputs(ops: Int): String =
    sizes(1).map { case (n, r) => s"$n $r" }.mkString("rows per stream: ", ", ", "") +
      s"; row order a seeded permutation; $ops rounds"

  def step(i: Int, t: Tracer): Workload.Op = {
    val (rows, walls) = Meter.seconds(round(t, src, dest, ice, state, i)) match {
      case ((r, ws), wall) =>
        effs :+= ws.sum / (cores * wall); (r, ws)
    }
    Workload.Op(rows, cfgs.size)
  }

  def read(t: Tracer): Unit = cfgs.foreach { c =>
    t.span("sinks.iceberg.read") {
      Meter.drain(IcebergMetadata.readTable(spark, s"$ice/${c.name}"))
    }
  }

  def checks(ops: Int): Seq[(Check, Seq[Int])] = {
    readFiles = cfgs.map(c => IcebergMetadata.dataFileStats(s"$ice/${c.name}")
      .count(_.content == 0)).sum
    // every source column plus the `_olake_id` the primary key implies;
    // one digest job per side over all streams
    val sources = cfgs.map(c => c.name -> Tables.load(spark, src, c.name)).toMap
    def side(read: String => DataFrame): Map[String, Digest.Of] = {
      val tagged = cfgs.map { c =>
        val cols = sources(c.name).columns.toSeq :+ SystemColumns.OlakeId
        val df = read(c.name)
        df.select(lit(c.name).as("stream"), xxhash64(cols.map(df(_)): _*).as("h"))
      }
      Digest.byKey(tagged.reduce(_.unionByName(_)), "stream", "h")
    }
    val wants = side(n => sources(n).withColumn(SystemColumns.OlakeId, col(pk(n)).cast("string")))
    val gots = side(n => IcebergMetadata.readTable(spark, s"$ice/$n"))
    cfgs.zipWithIndex.map { case (c, k) =>
      val want = wants.getOrElse(c.name, Digest.Of(0, 0, 0))
      val got = gots.getOrElse(c.name, Digest.Of(0, 0, 0))
      (Check(s"backfill.${c.name}", want == got,
        s"rows ${got.rows} vs source ${want.rows}, digest of the source columns and " +
          s"_olake_id ${if (want.sameContent(got)) "equal" else "differs"}"),
        // stream k's sync in every round
        (0 until ops).map(_ * cfgs.size + k))
    }
  }

  override def legs(t: Tracer): Unit = {
    // Spark fuses scan, system columns and the parquet write into one
    // stage, so each layer's cost is taken by difference: the same
    // input through successively longer chains of public calls.
    def scan(n: String) = Flatten.flatten(Tables.load(spark, src, n))
    def attach(n: String) = SystemColumns.attach(scan(n), Seq(pk(n)), SystemColumns.OpRead)
    cfgs.foreach(c => t.span("leg.scan")(Meter.drain(scan(c.name))))
    cfgs.foreach(c => t.span("leg.scan_attach")(Meter.drain(attach(c.name))))
    cfgs.foreach { c =>
      val out = s"$root/leg/${c.name}"
      val stats = t.span("leg.scan_attach_parquet") {
        ParquetSink.writeWithStats(attach(c.name), out, append = false)
      }
      legRows += stats("records_written").asInstanceOf[Long]
      legFiles += Files2.parquetFiles(new File(out)).size
    }
    Files2.rm(new File(s"$root/leg"))
  }
  private var legFiles = 0; private var legRows = 0L

  override def counters: Map[String, Double] = Map(
    "Protocol.sync_all.streams" -> cfgs.size.toDouble,
    "Protocol.sync_all.attempts" -> attempts.get.toDouble,
    "Protocol.sync_all.parallel_eff" -> (if (effs.isEmpty) 0.0 else Stats.median(effs)),
    "sinks.parquet.files_out" -> legFiles.toDouble / cfgs.size,
    "sinks.parquet.rows_out" -> legRows.toDouble / cfgs.size,
    "sinks.iceberg.commit.files" -> (if (commits == 0) 0.0 else commitFiles.toDouble / commits),
    "sinks.iceberg.commit.metadata_bytes" -> (if (commits == 0) 0.0 else commitMetaBytes.toDouble / commits),
    "sinks.iceberg.read.data_files" -> readFiles.toDouble / cfgs.size,
    "sinks.iceberg.read.delete_files" -> 0.0)
}
