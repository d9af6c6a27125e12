package perfbench

import java.io.File

/** The class-data-sharing training run the build makes: one tiny run of
  * every workload in one JVM, so the archive recorded at its exit holds
  * the classes a benchmark run loads.
  * {{{
  *   Train --root DIR
  * }}} */
object Train {
  def main(args: Array[String]): Unit = {
    val root = new File(args.sliding(2).collectFirst { case Array("--root", v) => v }
      .getOrElse(".bench_out")).getAbsolutePath + "/train"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = Main.session(root, cores)
    val ok = try Seq("backfill", "cdc").forall { w =>
      Main.run(spark, w, seed = 7L, seconds = 1, trace = false, root = s"$root/$w",
        tiny = true, cores = cores).ok
    } finally spark.stop()
    Files2.rm(new File(root))
    sys.exit(if (ok) 0 else 1)
  }
}
