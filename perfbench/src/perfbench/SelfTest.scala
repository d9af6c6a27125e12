package perfbench

import java.io.File

/** Meter-pin checks, run on tiny inputs with tracing on:
  *  - every drained region (reads, difference legs, decode, merge) ends
  *    in a write of its full output, never in `count()`;
  *  - every Spark job launched while tracing is attributed to exactly
  *    one span (its job group names a recorded span);
  *  - every output check passes.
  * Prints one line per workload, the metric names and units each mode
  * prints (checked against BENCHMARK.json by the Python test), and
  * exits non-zero on any failure. */
object SelfTest {
  /** Action names Spark gives a DataFrameWriter execution (its save mode). */
  private val writes = Set("overwrite", "append", "errorifexists", "ignore", "save", "command")
  private def drained(name: String): Boolean = name.startsWith("leg.") ||
    Set("sinks.iceberg.read", "sinks.corpus.read", "cdc.decode", "operators.merge")(name)

  def main(args: Array[String]): Unit = {
    val root = new File(args.sliding(2).collectFirst { case Array("--root", v) => v }
      .getOrElse(".bench_out")).getAbsolutePath + "/selftest"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(root, cores)
    def units(r: Main.Result) =
      r.metrics.map { case (n, _, u) => s""""$n":"$u"""" }.mkString("{", ",", "}")
    val failures = try {
      val plain = Main.run(spark, "cdc", seed = 7L, seconds = 1, trace = false,
        root = s"$root/plain", tiny = true, cores = cores)
      println(s"metrics trace=0 cdc ${units(plain)}")
      (if (plain.ok) Nil else Seq("cdc: plain run output checks failed")) ++
      Seq("backfill", "cdc").flatMap { w =>
        val r = Main.run(spark, w, seed = 7L, seconds = 1, trace = true,
          root = s"$root/$w", tiny = true, cores = cores)
        val b = r.breakdown.get
        val execs = b.executions
        val spans = b.spans
        val bad = Seq.newBuilder[String]
        if (!r.ok) bad += s"$w: output checks failed: ${r.lines.filter(_.contains("\"ok\":false")).mkString("; ")}"
        if (b.unattributed.nonEmpty)
          bad += s"$w: ${b.unattributed.size} jobs without a span: ${b.unattributed.map(_.site).mkString(", ")}"
        spans.filter(s => drained(s.name)).foreach { s =>
          val acts = execs.getOrElse(s.id, Nil)
          if (acts.isEmpty || !writes(acts.last))
            bad += s"$w: region ${s.name}#${s.id} ends in ${acts.lastOption.getOrElse("nothing")}, not a full-output write"
        }
        println(s"metrics trace=1 $w ${units(r)}")
        val names = spans.map(_.name).distinct.sorted
        println(s"selftest $w: ${spans.size} spans (${names.mkString(", ")}), " +
          s"${b.jobs.size} jobs, ${bad.result().size} failures")
        bad.result()
      }
    } finally spark.stop()
    failures.foreach(f => println(s"FAIL $f"))
    println(s"""{"selftest":"${if (failures.isEmpty) "pass" else "fail"}","failures":${failures.size}}""")
    if (failures.nonEmpty) sys.exit(1)
  }
}
