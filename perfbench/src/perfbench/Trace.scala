package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{ExecutionName, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced region: a call from the benchmark into a layer. Times are
  * `System.nanoTime`; `parent` is -1 for a root span. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      batch: Long, start: Long, end: Long)

/** Spark counters summed over the jobs attributed to one span. */
final class Counters {
  var jobs = 0L; var tasks = 0L
  var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var inRows = 0L; var inBytes = 0L; var outRows = 0L; var outBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; busyMs += o.busyMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; waitMs += o.waitMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; inRows += o.inRows; inBytes += o.inBytes
    outRows += o.outRows; outBytes += o.outBytes
  }
}

/** Spans held in memory and written out when the run ends. Each open
  * span owns a Spark job group (`pb-<id>`), so every job an action
  * launches inside it carries the span's id; threads started inside a
  * span (the `Protocol.syncAll` pool) inherit it. With `enabled` false
  * every call is a plain pass-through: the end-to-end runs pay nothing. */
final class Tracer(spark: SparkSession, val run: String, val enabled: Boolean) {
  private val nextId = new AtomicInteger(0)
  private val done = new ConcurrentHashMap[Int, Span]()
  private val stack = new InheritableThreadLocal[List[(Int, String)]] {
    override def initialValue(): List[(Int, String)] = Nil
  }
  val listener = new LayerListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String, batch: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val outer = stack.get()
      val id = nextId.getAndIncrement()
      stack.set((id, name) :: outer)
      sc.setJobGroup(Tracer.group(id), s"${Tracer.group(id)} $name",
        interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        done.put(id, Span(id, name, outer.headOption.fold(-1)(_._1), run,
          batch, t0, System.nanoTime()))
        stack.set(outer)
        outer.headOption match {
          case Some((pid, pname)) => sc.setJobGroup(Tracer.group(pid),
            s"${Tracer.group(pid)} $pname", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = done.values.asScala.toSeq.sortBy(_.id)

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) BusDrain(spark.sparkContext)
}

object Tracer {
  def group(id: Int): String = s"pb-$id"
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith("pb-")).map(_.drop(3).toInt)
}

/** The benchmark's own SparkListener: per job, the span that launched
  * it (from the job group), the source file of its call site, its wall
  * time and the task counters of its stages. `wait` is task launch
  * minus stage submission; `busy` is executor run time. */
final class Job(val id: Int, val span: Option[Int], val site: String,
                val start: Long) {
  @volatile var end: Long = -1L
  val c = new Counters
}

final class LayerListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  /** SQL execution id -> source file of the code that started it. */
  private val executionSite = new ConcurrentHashMap[Long, String]()
  /** SQL execution id -> (span id from its description, action name). */
  val executions = new ConcurrentHashMap[Long, (Option[Int], String)]()
  val executionOrder = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    // jobs AQE submits from its own threads carry no user call site;
    // their SQL execution's call site names the code that ran them
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executionSite.get(id.toLong)))
      .getOrElse(e.stageInfos.headOption.map(_.name).getOrElse(""))
    val j = new Job(e.jobId, group.flatMap(Tracer.spanOf), site, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    j.c.jobs = 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmit.put(e.stageInfo.stageId, t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.c.synchronized {
        j.c.tasks += 1
        Option(stageSubmit.get(e.stageId)).foreach(s =>
          j.c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        if (m != null) {
          j.c.busyMs += m.executorRunTime
          j.c.cpuNs += m.executorCpuTime
          j.c.gcMs += m.jvmGCTime
          j.c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          j.c.inRows += m.inputMetrics.recordsRead
          j.c.inBytes += m.inputMetrics.bytesRead
          j.c.outRows += m.outputMetrics.recordsWritten
          j.c.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val span = Option(s.description).flatMap(d =>
        Tracer.spanOf(d.takeWhile(_ != ' ')))
      executions.put(s.executionId, (span, ""))
      userFrame(s.details).foreach(f => executionSite.put(s.executionId, f))
      executionOrder.add(s.executionId)
    case x: SparkListenerSQLExecutionEnd =>
      val prev = Option(executions.get(x.executionId)).flatMap(_._1)
      executions.put(x.executionId, (prev, ExecutionName.of(x)))
    case _ =>
  }

  /** "method at File.scala:N" for the first stack frame outside Spark,
    * Scala and the JDK, from a long-form call site. */
  private def userFrame(details: String): Option[String] =
    Option(details).toSeq.flatMap(_.split("\n")).map(_.trim).find(l =>
      !l.startsWith("org.apache.spark.") && !l.startsWith("scala.") &&
        !l.startsWith("java.") && !l.startsWith("jdk.") && l.contains("(")
    ).map { l =>
      val method = l.takeWhile(_ != '(').split('.').last
      s"$method at ${l.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')}"
    }

  /** Source file of a job's call site ("save at DeltaSegments.scala:67"
    * → "DeltaSegments.scala"). */
  def siteFile(j: Job): String =
    j.site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
}

/** One layer's figures, derived from spans and attributed jobs. */
final case class LayerStat(name: String, occurrences: Int, selfS: Double,
                           c: Counters)

/** Turns spans + listener jobs into per-layer figures. Jobs inside a
  * span listed in `siteLayers` are split further by the source file of
  * their call site (module = file), as derived child spans: that is how
  * layers fused inside one public call (applyBatch's segment write and
  * Iceberg publish) are told apart without touching the program. Every
  * job lands in exactly one leaf. */
final class Breakdown(val spans: Seq[Span], listener: LayerListener,
                      siteLayers: Map[String, Map[String, String]]) {
  private val byId = spans.map(s => s.id -> s).toMap
  val jobs: Seq[Job] =
    listener.jobs.values.asScala.toSeq.sortBy(_.id)
  /** Jobs with no span, or whose span id is unknown. */
  val unattributed: Seq[Job] =
    jobs.filter(j => j.span.forall(id => !byId.contains(id)))

  /** (leaf name, span) for each attributed job. */
  private val leafOf: Seq[(Job, String, Span)] =
    jobs.flatMap { j =>
      j.span.flatMap(byId.get).map { s =>
        val leaf = siteLayers.get(s.name)
          .flatMap(_.get(listener.siteFile(j))).getOrElse(s.name)
        (j, leaf, s)
      }
    }

  /** Derived child spans: per (span, site layer), the union of its jobs'
    * wall intervals, in seconds. */
  private val derivedWall: Map[(Int, String), Double] =
    leafOf.filter { case (_, leaf, s) => leaf != s.name }
      .groupBy { case (_, leaf, s) => (s.id, leaf) }
      .map { case (k, js) =>
        k -> union(js.map { case (j, _, _) =>
          (j.start, if (j.end < 0) j.start else j.end) }) / 1e3
      }

  /** Total length covered by possibly overlapping intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  private def wallS(s: Span): Double = (s.end - s.start) / 1e9
  private val children: Map[Int, Seq[Span]] =
    spans.filter(_.parent >= 0).groupBy(_.parent)

  /** Span self time: its wall minus the union of its children's walls
    * (children on the syncAll pool run concurrently, so they are
    * merged as intervals), minus its derived site layers. */
  def selfS(s: Span): Double = {
    val kidNs = union(children.getOrElse(s.id, Nil).map(k => (k.start, k.end)))
    val derived = derivedWall.collect { case ((id, _), w) if id == s.id => w }.sum
    math.max(0.0, wallS(s) - kidNs / 1e9 - derived)
  }

  /** Jobs launched inside spans named `name`, their child spans and
    * call-site layers included. */
  def jobsUnder(name: String): Int = {
    def within(s: Span): Boolean =
      s.name == name || byId.get(s.parent).exists(within)
    leafOf.count { case (_, _, s) => within(s) }
  }

  /** SQL executions per span id, in start order, with the action name
    * Spark gave each ("count", "save", …). */
  def executions: Map[Int, Seq[String]] = {
    val order = listener.executionOrder.asScala.toSeq
    order.flatMap(id => Option(listener.executions.get(id)))
      .collect { case (Some(span), action) => span -> action }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  /** Per layer name: occurrences, total wall, total self, counters. */
  def layers: Map[String, LayerStat] = {
    val fromSpans = spans.groupBy(_.name).map { case (n, ss) =>
      val c = new Counters
      leafOf.filter { case (_, leaf, s) => leaf == n && s.name == n }
        .foreach { case (j, _, _) => c.add(j.c) }
      n -> LayerStat(n, ss.size, ss.map(selfS).sum, c)
    }
    val fromSites = derivedWall.groupBy(_._1._2).map { case (n, ws) =>
      val c = new Counters
      leafOf.filter(_._2 == n).foreach { case (j, _, _) => c.add(j.c) }
      n -> LayerStat(n, ws.size, ws.values.sum, c)
    }
    fromSpans ++ fromSites
  }

  /** Every attributed job: its leaf layer, span, call site and counters. */
  def jobLines: Seq[String] = leafOf.map { case (j, leaf, s) =>
    f"""{"job":${j.id},"layer":"$leaf","span":${s.id},"site":"${j.site}",""" +
      f""""wall_ms":${math.max(0L, j.end - j.start)},"tasks":${j.c.tasks},""" +
      f""""busy_ms":${j.c.busyMs},"wait_ms":${j.c.waitMs}}"""
  }

  /** Listener counters of the jobs whose leaf is (span, layer). */
  private def countersOf(id: Int, leaf: String): String = {
    val c = new Counters
    leafOf.filter { case (_, l, s) => s.id == id && l == leaf }.foreach(x => c.add(x._1.c))
    f""""busy_s":${c.busyMs / 1e3},"cpu_s":${c.cpuNs / 1e9}%.6f,"gc_s":${c.gcMs / 1e3},""" +
      f""""wait_s":${c.waitMs / 1e3},"tasks":${c.tasks},"jobs":${c.jobs},""" +
      f""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes}"""
  }

  /** The span tree plus derived site spans, as JSON lines. */
  def spanLines: Seq[String] = {
    val real = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""run":"${s.run}","batch":${s.batch},"start_ns":${s.start},""" +
        f""""end_ns":${s.end},"wall_s":${wallS(s)}%.6f,"self_s":${selfS(s)}%.6f,""" +
        s"${countersOf(s.id, s.name)}}"
    }
    val derived = derivedWall.toSeq.sortBy(_._1).map { case ((id, n), w) =>
      val s = byId(id)
      f"""{"id":"$id/$n","name":"$n","parent":$id,"run":"${s.run}",""" +
        f""""batch":${s.batch},"derived_from":"call-site","wall_s":$w%.6f,"self_s":$w%.6f,""" +
        s"${countersOf(id, n)}}"
    }
    real ++ derived
  }
}
