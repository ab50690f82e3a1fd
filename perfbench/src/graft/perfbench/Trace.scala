package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: `parent` is -1 at the top; `op` is the loop operation
  * the span belongs to. Wall-clock millis attribute Spark events (which
  * carry millis) to spans; nanos give the durations.
  */
final case class Span(
    id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-job facts gathered by [[JobListener]]. `site` is the long
  * call-site form (a stack excerpt), searched for method names like
  * `readManifest`; `module` is the source file (without `.scala`) of its
  * innermost graft frame, e.g. `Closure` for a job submitted from
  * `Closure.scala`, else of the short call site, else `other`.
  */
final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int],
    val shortSite: String, val site: String) {
  @volatile var endMs: Long = -1L
  val module: String = JobRec.moduleOf(shortSite, site)
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
}

object JobRec {
  private val GraftFrame = """graft\.(?!perfbench\.)[\w$.]*\((\w+)\.scala:\d+\)""".r
  private val ShortSite = """.* at ([A-Za-z0-9_$]+)\.scala:\d+.*""".r
  def moduleOf(shortSite: String, site: String): String =
    GraftFrame.findFirstMatchIn(site).map(_.group(1)).getOrElse(shortSite match {
      case ShortSite(f) => f
      case _ => "other"
    })
}

/** Task-level totals for one stage. */
final class StageAgg {
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var ran = false
}

/** Collects jobs, stages and task metrics. Events arrive on Spark's
  * listener bus thread; attribution to spans happens after the loop.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  @volatile var events = 0L

  private def stage(id: Int): StageAgg = stages.computeIfAbsent(id, _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val short = Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(last.map(_.name)).getOrElse("")
    val long = last.map(_.details).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, e.stageIds, short, long))
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stage(e.stageInfo.stageId).synchronized { stage(e.stageInfo.stageId).ran = true }
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.taskMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    events += 1
  }

  def allEnded: Boolean = jobs.values.asScala.forall(_.endMs >= 0)
}

/** One executed query's planning cost: analysis + optimizer + planning
  * time, and the shuffle exchanges of its final (adaptive) plan.
  */
final case class PlanRec(startMs: Long, planS: Double, exchanges: Int)

final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val planning = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    val start = if (ph.isEmpty) System.currentTimeMillis()
      else ph.values.map(_.startTimeMs).min
    val ex = scala.util.Try(collectWithSubqueries(qe.executedPlan) {
      case e: ShuffleExchangeLike => e }.size).getOrElse(0)
    plans.add(PlanRec(start, planning / 1e3, ex))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Spans kept in memory, plus the two listeners. When `on` is false a
  * span is a plain call: untraced runs pay nothing but a flag check.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var attached = false
  var on = false
  var op = -1
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, String, Long, Long)] = Nil
  private var nextId = 0
  val jobs = new JobListener
  val plans = new PlanListener

  /** Attach the listeners and start recording spans (or stop). */
  def enable(flag: Boolean): Unit = {
    if (flag && !attached) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(plans)
      attached = true
    } else if (!flag && attached) {
      spark.sparkContext.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
      attached = false
    }
    on = flag
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      stack ::= ((id, name, System.nanoTime(), System.currentTimeMillis()))
      try body
      finally {
        val (_, _, s0, m0) = stack.head
        stack = stack.tail
        val parent = stack.headOption.map(_._1).getOrElse(-1)
        spans += Span(id, name, parent, op, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  /** Wait until the listener bus has delivered every job's end event and
    * gone quiet, so attribution sees complete task metrics.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        !(jobs.allEnded && jobs.events == last)) {
      last = jobs.events
      Thread.sleep(200)
    }
  }

  /** The innermost span open at wall time `ms`. */
  private lazy val byStart = spans.sortBy(s => (s.startMs, -s.endMs)).toVector
  def spanAt(ms: Long): Option[Span] = {
    var best: Option[Span] = None
    byStart.iterator.takeWhile(_.startMs <= ms).foreach { s =>
      if (ms <= s.endMs && best.forall(b => depth(s) >= depth(b))) best = Some(s)
    }
    best
  }

  private lazy val byId = spans.map(s => s.id -> s).toMap
  private def depth(s: Span): Int =
    Iterator.iterate(s.parent)(p => byId.get(p).map(_.parent).getOrElse(-1))
      .takeWhile(_ >= 0).size

  /** Whether span `s` is `anc` or lies below it. */
  def within(s: Span, anc: Span): Boolean =
    Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent)))
      .takeWhile(_.isDefined).exists(_.get.id == anc.id)

  /** Jobs whose submission falls inside span `s` (or its children). */
  def jobsIn(s: Span): Seq[JobRec] =
    jobList.filter(j => spanAt(j.startMs).exists(within(_, s)))

  def plansIn(s: Span): Seq[PlanRec] =
    planList.filter(p => spanAt(p.startMs).exists(within(_, s)))

  lazy val jobList: Vector[JobRec] = jobs.jobs.values.asScala.toVector.sortBy(_.id)
  lazy val planList: Vector[PlanRec] = plans.plans.asScala.toVector

  def stageAggs(js: Seq[JobRec]): Seq[StageAgg] =
    js.flatMap(_.stageIds).distinct.flatMap(id => Option(jobs.stages.get(id)))

  /** Span duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (kids.nonEmpty) covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Spans as JSON lines (one object per span, with its self time). */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.id).foreach { s =>
      w.write(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.seconds, "self_s" -> selfSeconds(s)))
      w.newLine()
    } finally w.close()
  }
}
