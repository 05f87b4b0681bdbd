package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into each layer, plus the
  * Spark counters of the jobs each span caused.
  *
  * A span names its layer and the operation (op kind) it belongs to. While
  * a span is open its id is the SparkContext job group, so a driver-side
  * `SparkListener` ties every job, stage and task to it, and a
  * `QueryExecutionListener` ties every SQL execution (planning phases and
  * the DSv2 scan's `ScanMetrics`) to it. Nothing is written until the run
  * ends. When `enabled` is false a span only runs its body.
  */
final class Tracer(spark: SparkSession) {
  var enabled = false

  final class Span(val id: Long, val parent: Long, val name: String, val layer: String,
      val op: String, val start: Long) {
    var end = 0L
    def group = s"perfbench-span-$id"
    def seconds = (end - start) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var nextId = 0L

  /** The operation kind that spans and counters are recorded under. */
  var op = ""
  /** op kind -> counter -> value. */
  val counters = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    nextId += 1
    val parent = stack.headOption
    val sp = new Span(nextId, parent.map(_.id).getOrElse(0L), name, layer, op, System.nanoTime())
    spans += sp
    stack = sp :: stack
    val sc = spark.sparkContext
    sc.setJobGroup(sp.group, name, interruptOnCancel = false)
    try body
    finally {
      sp.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Adds to a counter of the current operation kind. */
  def count(name: String, v: Double): Unit =
    if (enabled) {
      val m = counters.getOrElseUpdate(op, mutable.LinkedHashMap.empty)
      m(name) = m.getOrElse(name, 0.0) + v
    }

  // ---- Spark side ----------------------------------------------------------

  private final class Job(val group: String, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs = 0L
  }
  private final class Stage {
    var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
  }
  private final class Exec(val phasesS: Map[String, Double], val execS: Double,
      val scan: Map[String, Long])

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val sqlGroup = new ConcurrentHashMap[Long, String]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  @volatile private var lastEventNs = System.nanoTime()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new Job(g, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        val st = stages.computeIfAbsent(e.stageId, _ => new Stage)
        st.synchronized {
          st.tasks += 1
          st.runMs += m.executorRunTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          st.gcMs += m.jvmGCTime
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lastEventNs = System.nanoTime()
        s.jobGroupId.foreach(g => sqlGroup.put(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd =>
        lastEventNs = System.nanoTime()
        lastEnded = end.executionId
      case _ =>
    }
  }

  /** The SQL execution whose end event the bus delivered last. The query
    * listener is called from that same event, after this listener (which is
    * registered first, on the same shared queue), so it names the
    * execution `onSuccess` reports.
    */
  @volatile private var lastEnded = -1L

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      lastEventNs = System.nanoTime()
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
      execs.put(lastEnded, new Exec(phases, durationNs / 1e9, Tracer.scanMetrics(qe)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val attached = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Registers the listeners: the Spark listener first, then the query
    * listener once per session.
    */
  def attach(s: SparkSession): Unit = attached.synchronized {
    if (attached.isEmpty) spark.sparkContext.addSparkListener(listener)
    if (attached.add(s)) s.listenerManager.register(qeListener)
  }

  /** Waits until the listener bus has delivered every event of the run. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def quiet = System.nanoTime() - lastEventNs > 1000000000L &&
      jobs.values().asScala.forall(_.endMs > 0)
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(100)
  }

  // ---- aggregation -----------------------------------------------------------

  /** Per span: the Spark counters of the jobs and SQL executions it caused
    * directly (not through child spans), and the wall time those jobs
    * covered.
    */
  final case class SparkPart(jobs: Int, stages: Int, tasks: Long, taskS: Double,
      shuffleWrite: Long, spill: Long, gcS: Double, jobWallS: Double,
      phases: Map[String, Double], execS: Double, scan: Map[String, Long])

  def sparkPart(sp: Span): SparkPart = {
    val own = jobs.values().asScala.filter(_.group == sp.group).toSeq
    val st = own.flatMap(_.stages).distinct.flatMap(id => Option(stages.get(id)))
    val startMs = (sp.start + epochOffsetNs) / 1000000L
    val endMs = (sp.end + epochOffsetNs) / 1000000L
    val intervals = own.map(j => (math.max(j.startMs, startMs), math.min(math.max(j.endMs, j.startMs), endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    intervals.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    val ex = sqlGroup.asScala.collect { case (id, g) if g == sp.group => Option(execs.get(id)) }.flatten.toSeq
    SparkPart(own.size, own.map(_.stages.size).sum, st.map(_.tasks).sum, st.map(_.runMs).sum / 1e3,
      st.map(_.shuffleWrite).sum, st.map(_.spill).sum, st.map(_.gcMs).sum / 1e3, covered / 1e3,
      ex.flatMap(_.phasesS).groupMapReduce(_._1)(_._2)(_ + _), ex.map(_.execS).sum,
      ex.flatMap(_.scan).groupMapReduce(_._1)(_._2)(_ + _))
  }

  def allSpans: Seq[Span] = spans.toSeq
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Sums of every DSv2 scan node's metrics in the executed plan — the
    * program's `ScanMetrics` plus Spark's own `numOutputRows`.
    */
  def scanMetrics(qe: QueryExecution): Map[String, Long] =
    try collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }
      .flatMap(_.metrics.map { case (k, m) => k -> m.value })
      .groupMapReduce(_._1)(_._2)(_ + _)
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  val Layers = Seq("core", "fs", "sources", "log", "table", "write", "queries", "spark")
}
