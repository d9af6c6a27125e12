package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The ELT benchmark. One run: set up several times (median reported
  * as `setup_s`), drive one workload in a closed loop for `--seconds`,
  * read the destination table a few times, check every output against
  * the generator, print one JSON result line last.
  *
  * {{{
  *   Main --workload backfill|cdc --seed N --seconds S --trace 0|1
  *        --root DIR [--tiny]
  * }}}
  * `--trace 0` prints the end-to-end metrics; `--trace 1` runs with
  * spans and the layer listener and prints the per-layer metrics, and
  * writes the span tree to `DIR/spans.jsonl`. `--tiny` shrinks every
  * input (used by the meter-pin self-test). */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap ++
      args.filter(_ == "--tiny").map(_ => "tiny" -> "1")
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val root = new File(need("root")).getAbsolutePath
    val tiny = opts.contains("tiny")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(root, cores)
    try {
      val r = run(spark, workload, seed, seconds, trace, s"$root/$workload", tiny, cores)
      r.lines.foreach(println)
      println(r.result)
    } finally spark.stop()
    // idle pool threads the run left behind would otherwise hold the
    // JVM open for their keep-alive time
    sys.exit(0)
  }

  /** Spark as the engine's own bench runs it: local, one pool thread per
    * core, shuffle partitions = cores. */
  def session(root: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final case class Result(lines: Seq[String], result: String, ok: Boolean,
                          metrics: Seq[(String, Double, String)],
                          breakdown: Option[Breakdown])

  def make(spark: SparkSession, name: String, root: String, seed: Long,
           tiny: Boolean, cores: Int): Workload = name match {
    case "backfill" => new Backfill(spark, root, seed, if (tiny) 0.05 else 0.5, cores)
    case "cdc" =>
      if (tiny) new Cdc(spark, root, seed, 5000, 1000, 3, curateDocs = (500, 300))
      else new Cdc(spark, root, seed, 140000, 20000, 6, curateDocs = (5000, 1000))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double,
          trace: Boolean, root: String, tiny: Boolean, cores: Int): Result = {
    // JVM uptime at each phase boundary: where a run's wall time goes
    val timeline = mutable.ArrayBuffer("session ready" -> Env.uptimeS())
    val loadStart = Env.loadAvg()
    val cpuStart = Env.cpuTicks()
    val probeStart = Env.probeMs()
    val w = make(spark, name, root, seed, tiny, cores)
    // warm-up first, so every set-up runs on a warm JVM and the cold
    // start is paid once, outside `setup_s`
    val warmupS = Meter.seconds(w.warmup())._2
    timeline += "warm-up done" -> Env.uptimeS()
    val setupS = (0 until (if (tiny) 1 else SetupReps)).map(r => Meter.seconds(w.setup(r))._2)
    timeline += "set-ups done" -> Env.uptimeS()
    val tracer = new Tracer(spark, s"$name-$seed", trace)

    // closed loop: the next operation starts when the previous one landed
    val opS = mutable.ArrayBuffer.empty[Double]
    var rows = 0L; var attempted = 0; var steps = 0
    val opLog = mutable.ArrayBuffer.empty[String]
    val failedOps = mutable.Set.empty[Int]
    var error: Option[String] = None
    // the destination is read after every operation (a reader polling
    // the table, outside the operation's time), so `read_s` samples the
    // table in every state the loop leaves it in; a workload whose
    // operations all leave the same state reads it after the loop only
    val readS = mutable.ArrayBuffer.empty[Double]
    var cycleEnd = true
    while (error.isEmpty && w.hasNext(steps) && (opS.sum < seconds || !cycleEnd)) {
      try {
        val (op, dt) = Meter.seconds(w.step(steps, tracer))
        opS += dt - op.legS; rows += op.rows; attempted += op.operations
        cycleEnd = op.cycleEnd
        opLog += f"${dt - op.legS}%.2f${if (op.cycleEnd) "" else "+"}"
        (0 until w.readsPerOp).foreach(_ => readS += Meter.seconds(w.read(tracer))._2)
      } catch { case e: Exception =>
        error = Some(s"step $steps: $e"); failedOps += attempted; attempted += 1
      }
      steps += 1
    }
    timeline += "loop done" -> Env.uptimeS()
    // too few reads for a steady median: read the final state again
    while (error.isEmpty && steps > 0 && readS.size < w.minReads)
      readS += Meter.seconds(w.read(tracer))._2
    timeline += "reads done" -> Env.uptimeS()
    val breakdown = if (!trace) None else {
      w.legs(tracer)
      attempted += w.legOperations
      tracer.drain()
      Some(new Breakdown(tracer.spans, tracer.listener, w.siteLayers))
    }
    val peakRss = Env.peakRssMb()
    val (checks, checkS) = Meter.seconds(if (error.isDefined) Nil else w.checks(steps))
    checks.filterNot(_._1.ok).foreach(_._2.foreach(failedOps += _))
    timeline += "checks done" -> Env.uptimeS()
    val loadEnd = Env.loadAvg()
    val steal = Env.stealPct(cpuStart, Env.cpuTicks())
    val probeEnd = Env.probeMs()

    val rowsPerS = rows / math.max(opS.sum, 1e-9)
    val e2e = Seq(
      ("rows_per_s", rowsPerS, "1/s"),
      // a run whose first operation failed still reports (correct=false)
      ("batch_p50_s", if (opS.isEmpty) 0.0 else Stats.median(opS.toSeq), "s"),
      ("read_s", if (readS.isEmpty) 0.0 else Stats.median(readS.toSeq), "s"),
      ("setup_s", Stats.median(setupS), "s"),
      ("peak_rss_mb", peakRss, "MiB"))
    val lines = mutable.ArrayBuffer.empty[String]
    lines += s"env: ${Env.json(spark, loadStart, loadEnd, steal, probeStart, probeEnd)}"
    lines += s"inputs: ${w.inputs(steps)}"
    lines += f"setup: ${setupS.size} set-ups (${setupS.map(x => f"$x%.2f").mkString(", ")} s), " +
      s"each: ${w.setupContains.mkString("; ")}"
    lines += f"warm-up: $warmupS%.2f s, once before the set-ups: ${w.warmupContains}"
    lines += f"checks: $checkS%.2f s after the reads"
    lines += "timeline (JVM uptime, s): " + timeline.map { case (k, v) => f"$k $v%.1f" }.mkString(", ")
    lines += f"measured: $steps%d operations in ${opS.sum}%.3f s (closed loop), " +
      f"$rows%d source rows; operation seconds ${opLog.mkString(" ")} (+: mid-cycle); " +
      f"read seconds ${readS.map(x => f"$x%.2f").mkString(" ")}"
    w.reference.foreach { case (what, rps) =>
      lines += f"reference (context only, not gated; published by OLake on other hardware): " +
        f"$what = $rps%.0f; this run rows_per_s = $rowsPerS%.0f"
    }
    checks.foreach(c => lines += s"check: ${c._1.json}")
    error.foreach(e => lines += s"error: $e")
    lines += f"fail_ratio: ${failedOps.size}/${math.max(attempted, 1)} = " +
      f"${failedOps.size.toDouble / math.max(attempted, 1)}%.4f"

    def json(ms: Seq[(String, Double, String)]) =
      ms.map { case (n, v, u) => s""""$n":{"value":$v,"unit":"$u"}""" }.mkString("{", ",", "}")
    val plainFile = new File(s"$root/../$name.$seed.plain.json")
    val metrics = breakdown match {
      case None =>
        Files2.write(plainFile.getPath, json(e2e))
        e2e
      case Some(b) =>
        Files2.write(s"$root/spans.jsonl", b.spanLines.mkString("", "\n", "\n"))
        Files2.write(s"$root/jobs.jsonl", b.jobLines.mkString("", "\n", "\n"))
        lines += s"spans: ${b.spanLines.size} spans and ${b.jobs.size} Spark jobs " +
          s"written to $root/spans.jsonl and jobs.jsonl"
        overhead(plainFile, e2e).foreach(o =>
          lines += s"tracing overhead vs the last plain run of this seed: $o")
        Layers.metrics(b, w.counters, e2e)
    }
    val ok = error.isEmpty && checks.forall(_._1.ok)
    val result = s"""{"correct":$ok,"attempted":${math.max(attempted, 1)},""" +
      s""""failed":${failedOps.size},"metrics":${json(metrics)}}"""
    Result(lines.toSeq, result, ok, metrics, breakdown)
  }

  /** Relative change of each end-to-end metric of this traced run
    * against the last plain run of the same workload and seed in this
    * checkout. */
  private def overhead(plain: File, traced: Seq[(String, Double, String)]): Option[String] =
    if (!plain.exists) None
    else {
      val text = java.nio.file.Files.readString(plain.toPath)
      val parts = traced.collect { case (n, v, _) if n != "setup_s" && n != "peak_rss_mb" =>
        s""""$n":\\{"value":([-0-9.Ee]+)""".r.findFirstMatchIn(text).map { m =>
          val p = m.group(1).toDouble
          f"$n ${if (p != 0) (v - p) / p * 100 else 0.0}%+.1f%%"
        }
      }.flatten
      Some(parts.mkString(", "))
    }
}
