package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** How a timed region may end. A timed region stops only after an
  * action that materializes every output column: a program verb that
  * writes its output, or [[Meter.drain]]. `count()` is never a meter —
  * Spark prunes every column the count does not read. */
object Meter {
  /** Full-output action: every column of `df` goes through the noop sink. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** [[drain]], also returning the rows that went through (observed in
    * the same job, so the count costs no extra pass). */
  def drainCount(df: DataFrame): Long = {
    val obs = org.apache.spark.sql.Observation()
    drain(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Order-independent content digest: row count plus the sums of the
  * low and high 32 bits of each row's xxhash64 over `cols` (Spark
  * built-ins only, so the check never runs the code under test; long
  * sums of 32-bit halves cannot overflow). Two frames with the same
  * rows, in any order, give the same digest. */
object Digest {
  final case class Of(rows: Long, lo: Long, hi: Long) {
    def +(o: Of): Of = Of(rows + o.rows, lo + o.lo, hi + o.hi)
    def sameContent(o: Of): Boolean = lo == o.lo && hi == o.hi
  }
  private def parts(h: Column): Seq[Column] = Seq(count(lit(1)),
    coalesce(sum(h.bitwiseAND(0xffffffffL)), lit(0L)),
    coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)))

  def of(df: DataFrame, cols: Seq[String]): Of = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h")).agg(parts(col("h")).head,
      parts(col("h")).tail: _*).head()
    Of(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Digest per value of `key`, over a precomputed row hash column `h`. */
  def byKey(df: DataFrame, key: String, h: String): Map[String, Of] =
    df.groupBy(key).agg(parts(col(h)).head, parts(col(h)).tail: _*).collect()
      .map(r => r.getString(0) -> Of(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
}

object Files2 {
  def rm(f: File): Unit = if (f.exists) {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
    f.delete(): Unit
  }
  /** Regular files under `f`, hidden and underscore files included. */
  def files(f: File): Seq[File] =
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).getOrElse(Array.empty).toSeq.flatMap(files)
  def bytes(f: File): Long = files(f).map(_.length).sum
  def parquetFiles(f: File): Seq[File] =
    files(f).filter(x => x.getName.endsWith(".parquet"))
  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), text): Unit
  }
}

/** The run's environment, printed with every result so a contended
  * run labels itself. */
object Env {
  def loadAvg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    catch { case _: Exception => "unknown" }

  /** The first eight fields of the aggregate `cpu` line of /proc/stat
    * (user … steal), in clock ticks; empty when unreadable. */
  def cpuTicks(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).take(8).map(_.toLong)
    catch { case _: Exception => Array.empty }

  /** Percent of all CPU ticks between two [[cpuTicks]] snapshots that the
    * hypervisor gave to other guests (steal); -1 when unknown. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) -1.0
    else {
      val total = a.indices.map(i => b(i) - a(i)).sum
      if (total <= 0) -1.0 else 100.0 * (b(7) - a(7)) / total
    }

  /** Milliseconds one thread takes for a fixed mix of arithmetic and
    * random reads of a 1 MiB table, best of three: the host's speed as
    * this VM sees it. A neighbour on a shared core slows it without
    * showing as steal. */
  def probeMs(): Double = {
    val table = new Array[Int](1 << 18)
    val best = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L; var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        val k = (x & (table.length - 1)).toInt
        table(k) += table((k + 1) & (table.length - 1)) + 1
        i += 1
      }
      (System.nanoTime() - t0) / 1e6
    }.min
    probeSink = table.sum
    best
  }
  @volatile private var probeSink = 0

  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  def json(spark: SparkSession, loadStart: String, loadEnd: String,
           steal: Double, probeStart: Double, probeEnd: Double): String =
    s"""{"cores":${Runtime.getRuntime.availableProcessors},""" +
      s""""spark_master":"${spark.sparkContext.master}",""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
      s""""spark_version":"${spark.version}",""" +
      s""""java_version":"${System.getProperty("java.version")}",""" +
      s""""load_avg_start":"$loadStart","load_avg_end":"$loadEnd",""" +
      f""""cpu_steal_pct":$steal%.2f,"cpu_probe_ms_start":$probeStart%.1f,""" +
      f""""cpu_probe_ms_end":$probeEnd%.1f}"""
}

/** One output check: an operation whose output differs from what the
  * generator planted counts as failed. */
final case class Check(what: String, ok: Boolean, detail: String) {
  def json: String =
    s"""{"check":"$what","ok":$ok,"detail":"${detail.replace("\"", "'")}"}"""
}
