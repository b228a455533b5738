package cdcbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Work counted for one group of Spark jobs. */
final class Work {
  var jobs = 0L; var jobMs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; jobMs += o.jobMs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

final case class Span(id: Long, parent: Long, name: String, req: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder, built only with `--trace 1`.
  *
  * - Spans: `span(name)` around each call the benchmark makes into a
  *   layer; kept in memory, written as JSON lines when the run ends.
  *   The span name rides on the Spark job as a local property, so jobs
  *   (and their tasks) are charged to the span that started them.
  * - A `SparkListener` counts jobs, tasks, CPU, GC, shuffle and spill
  *   per span and per job call site. The call site is the output
  *   directory of a file write (`write:<dir>`), else the first `graft.`
  *   frame of the SQL execution's call stack plus the action
  *   (`BucketedIndex.applyBatch:collect`), so the layers inside one
  *   public call (fold collect vs bucket write) separate without any
  *   change to the program.
  * - A `QueryExecutionListener` sums planning phase times and file-scan
  *   metrics of the queries issued on the benchmark's own session. */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "cdcbench.span"
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val current = new ThreadLocal[Span]()
  val spans = mutable.ArrayBuffer[Span]()

  /** Set by [[begin]]: spans are kept only inside traced ops. */
  @volatile var recording = false
  private var opStartNs = 0L
  private var tracedNs = 0L
  /** Traced ops so far. */
  var ops = 0

  def span[T](name: String, req: Long = -1)(f: => T): T = if (!recording) f else {
    val parent = current.get()
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanProp)
    val id = ids.incrementAndGet()
    val open = Span(id, if (parent == null) 0L else parent.id, name, req, System.nanoTime(), 0L)
    current.set(open)
    sc.setLocalProperty(SpanProp, name)
    try f
    finally {
      val done = open.copy(endNs = System.nanoTime())
      spans.synchronized(spans += done)
      current.set(parent)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)

  // ---- Spark listener ------------------------------------------------------
  val bySite = mutable.Map[String, Work]()
  val bySpan = mutable.Map[String, Work]()
  val total = new Work
  @volatile var events = 0L
  private val execSite = mutable.Map[Long, String]()
  private val jobKey = mutable.Map[Int, (String, String, Long)]()
  private val stageKey = mutable.Map[Int, (String, String)]()

  /** Output dir of a file write in a plan description, in the formatted
    * explain mode (`(13) Execute InsertIntoHadoopFsRelationCommand` then
    * `Arguments: file:/dir, ...`) or the one-line tree mode. */
  private val WriteTarget =
    """(?s)(?:\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments:|InsertIntoHadoopFsRelationCommand) (?:file:)?(/[^,\s]+)""".r.unanchored

  /** `write:<output dir>` for an execution whose plan writes files; else
    * the first `graft.` frame of its call stack plus the action. Jobs a
    * streaming query runs all carry the call site of the query's start, so
    * inside the streaming shell only the write target tells them apart. */
  private def siteOf(description: String, details: String, plan: String = ""): String =
    Option(plan).collect { case WriteTarget(path) => s"write:$path" }.getOrElse {
      val frame = Option(details).toSeq.flatMap(_.split("\n"))
        .map(_.trim).find(_.startsWith("graft."))
      frame match {
        case Some(f) =>
          // graft.streaming.BucketedIndex$.applyBatch(BucketedIndex.scala:189)
          val method = f.takeWhile(_ != '(')
          val parts = method.split('.')
          val owner = parts.dropRight(1).lastOption.getOrElse("").stripSuffix("$")
          val name = parts.last.split('$').filter(_.nonEmpty).find(s => !s.startsWith("anonfun"))
            .getOrElse(parts.last)
          s"$owner.$name:${Option(description).getOrElse("").trim.takeWhile(!_.isWhitespace)}"
        case None => "other"
      }
    }

  val listener: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        events += 1
        execSite(s.executionId) = siteOf(s.description, s.details, s.physicalPlanDescription)
      }
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      events += 1
      val props = Option(j.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      val site = exec.flatMap(execSite.get).orElse(
        j.stageInfos.headOption.map(s => siteOf(s.name, s.details)).filter(_ != "other"))
        .getOrElse("other")
      val sp = props.flatMap(p => Option(p.getProperty(SpanProp))).getOrElse("")
      jobKey(j.jobId) = (site, sp, j.time)
      j.stageIds.foreach(s => stageKey(s) = (site, sp))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      jobKey.remove(j.jobId).foreach { case (site, sp, t0) =>
        for (w <- works(site, sp)) { w.jobs += 1; w.jobMs += j.time - t0 }
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      val m = t.taskMetrics
      if (m != null) {
        val (site, sp) = stageKey.getOrElse(t.stageId, ("other", ""))
        for (w <- works(site, sp)) {
          w.tasks += 1
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private def works(site: String, sp: String): Seq[Work] =
    Seq(total, bySite.getOrElseUpdate(site, new Work)) ++
      (if (sp.nonEmpty) Seq(bySpan.getOrElseUpdate(sp, new Work)) else Nil)

  /** Sum of the call sites whose key starts with `prefix`. */
  def sites(prefix: String): Work = sitesWhere(_.startsWith(prefix))

  def sitesWhere(keep: String => Boolean): Work = synchronized {
    val w = new Work
    bySite.foreach { case (k, v) => if (keep(k)) w.add(v) }
    w
  }

  // ---- query-execution listener -------------------------------------------
  var queries = 0L; var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var filesRead = 0L; var bytesRead = 0L; var rowsScanned = 0L

  private object PlanWalk extends AdaptiveSparkPlanHelper

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.sparkSession eq spark) {
        val ph = qe.tracker.phases
        val scans = PlanWalk.collect(qe.executedPlan) { case s: FileSourceScanExec => s }
        def metric(s: FileSourceScanExec, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        Tracer.this.synchronized {
          events += 1
          queries += 1
          analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
          optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
          planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
          scans.foreach { s =>
            filesRead += metric(s, "numFiles")
            bytesRead += metric(s, "filesSize")
            rowsScanned += metric(s, "numOutputRows")
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Start one traced op: listeners on, spans kept. */
  def begin(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    recording = true
    ops += 1
    opStartNs = System.nanoTime()
  }

  /** End one traced op: spans off; once the listener buses have delivered
    * the op's events, the listeners come off again, so work done between
    * traced ops (untraced ops, reference checks) is never counted. */
  def end(): Unit = {
    tracedNs += System.nanoTime() - opStartNs
    recording = false
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wall seconds spent inside traced ops. */
  def seconds: Double = tracedNs / 1e9

  /** Wait until no listener event has arrived for `quietMs` (the buses
    * deliver asynchronously), at most `maxMs`. */
  def drain(quietMs: Long = 100, maxMs: Long = 5000): Unit = {
    val end = System.currentTimeMillis() + maxMs
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < end && System.currentTimeMillis() - quietSince < quietMs) {
      if (events != last) { last = events; quietSince = System.currentTimeMillis() }
      Thread.sleep(10)
    }
  }

  /** Work per call site and per span (`span:<name>`), one tab-separated line each. */
  def writeSites(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val rows = synchronized(bySite.toSeq.sortBy(_._1) ++
      bySpan.toSeq.sortBy(_._1).map { case (k, w) => s"span:$k" -> w })
    val lines = rows.map { case (k, w) =>
      s"$k\t${w.jobs}\t${w.jobMs}\t${w.tasks}\t${w.cpuNs}\t${w.shuffleWrite}" }
    java.nio.file.Files.write(path,
      ("site\tjobs\tjob_ms\ttasks\tcpu_ns\tshuffle_write_bytes" +: lines).mkString("\n").getBytes("UTF-8"))
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.synchronized(spans.toSeq).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
  }
}
