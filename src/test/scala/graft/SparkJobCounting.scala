package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Counts the Spark jobs a piece of driver code starts, for specs that
  * pin how many jobs a verb runs. */
trait SparkJobCounting { this: Suite =>

  def spark: SparkSession

  /** Spark jobs `body` starts, counted by a listener. A marker job run
    * after `body` is awaited: listener events arrive in order, so once
    * the marker is seen every job of `body` has been counted. */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .foreach { g =>
            if (g == group) counted.incrementAndGet()
            else if (g == marker) done.countDown()
          }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the marker job")
      (out, counted.get)
    } finally sc.removeSparkListener(l)
  }

  /** Classes Spark's code generator compiles while `body` runs: the
    * change in its JVM-wide compile counter, so it holds only while no
    * other suite runs in the JVM (suites run one at a time). A plan
    * whose generated source is already cached compiles nothing. */
  def codegenCompilesOf[T](body: => T): (T, Long) = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }
}
