package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call from the benchmark into a layer. Times are seconds since the
  * JVM started, so spans, jobs and units share one clock. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    phase: String, t0: Double, var t1: Double = -1, var ok: Boolean = true)

/** Spans in memory, per-thread nesting, and the Spark job tags that let the
  * listeners below attribute engine work to the innermost open span. */
final class Spans(sc: SparkContext, epochStartMs: Long) {
  private val nextId = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile var phase = "setup"

  private val nanoBase = System.nanoTime()
  private val relBase = (System.currentTimeMillis() - epochStartMs) / 1e3

  def now(): Double = relBase + (System.nanoTime() - nanoBase) / 1e9

  /** Run `body` as a span of `layer`; its Spark jobs carry the job group
    * `layer:name` and the span id. Exceptions propagate after the span is
    * closed as failed. */
  def apply[A](layer: String, name: String)(body: => A): A = {
    val outer = stack.get()
    val s = Span(nextId.getAndIncrement(), outer.headOption.fold(0L)(_.id),
      name, layer, phase, now())
    stack.set(s :: outer)
    sc.setJobGroup(s"$layer:$name", name)
    sc.setLocalProperty(Spans.SpanKey, s.id.toString)
    sc.addJobTag(Spans.tag(s.id))
    try body
    catch { case e: Throwable => s.ok = false; throw e }
    finally {
      s.t1 = now()
      sc.removeJobTag(Spans.tag(s.id))
      done.add(s)
      stack.set(outer)
      outer.headOption match {
        case Some(p) =>
          sc.setJobGroup(s"${p.layer}:${p.name}", p.name)
          sc.setLocalProperty(Spans.SpanKey, p.id.toString)
        case None =>
          sc.clearJobGroup()
          sc.setLocalProperty(Spans.SpanKey, null)
      }
    }
  }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

object Spans {
  val SpanKey = "perfbench.span"
  private val TagPrefix = "perfbench-span-"
  def tag(id: Long): String = TagPrefix + id

  /** The innermost span among a set of job tags: nested spans add their
    * tags in order and ids grow, so the largest id is the innermost. */
  def fromTags(tags: Iterable[String]): Long =
    tags.filter(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix).toLong)
      .foldLeft(0L)(math.max)
}

/** A Spark job, the span that caused it and its stages' task totals. */
final case class JobRec(id: Int, span: Long, group: String, t0: Double,
    var t1: Double, stages: Seq[Int])

final class StageRec(val id: Int) {
  var tasks = 0
  var runS, cpuS, gcS = 0.0
  var readB, writtenB, shuffleB, spillB = 0L
  val taskS = scala.collection.mutable.ArrayBuffer.empty[Double]
}

final case class ExecRec(execId: Long, planS: Double, scanRows: Long,
    resultRows: Long, files: Long)

/** SparkListener + QueryExecutionListener pair. Both only append raw
  * records; attribution and sums are computed after the run. */
final class Recorder(epochStartMs: Long) extends SparkListener with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val sqlSpans = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  /** QueryExecution id -> span. A SQL execution carries its caller's job
    * tags at start; its end event carries the QueryExecution that the
    * QueryExecutionListener reports on. */
  val execSpans = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()

  private def rel(ms: Long): Double = (ms - epochStartMs) / 1e3

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, JobRec(e.jobId,
      prop(Spans.SpanKey).map(_.toLong).getOrElse(0L),
      prop("spark.jobGroup.id").getOrElse(""), rel(e.time), -1, e.stageIds))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      sqlSpans.put(s.executionId, Spans.fromTags(s.jobTags))
    case end: SparkListenerSQLExecutionEnd =>
      // `qe` is private[sql]; read it through its public bytecode accessor
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      val span = sqlSpans.get(end.executionId)
      if (qe != null && span != null) execSpans.put(qe.id, span)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1 = rel(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.computeIfAbsent(e.stageId, id => new StageRec(id))
      s.synchronized {
        s.tasks += 1
        s.runS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        s.readB += m.inputMetrics.bytesRead
        s.writtenB += m.outputMetrics.bytesWritten
        s.shuffleB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.diskBytesSpilled
        s.taskS += e.taskInfo.duration / 1e3
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planS = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
    val nodes = Recorder.nodes(qe.executedPlan)
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scanRows = nodes.filter(n => n.nodeName.contains("Scan")).map(metric(_, "numOutputRows")).sum
    val resultRows = nodes.find(_.metrics.contains("numOutputRows"))
      .map(metric(_, "numOutputRows")).getOrElse(0L)
    val files = nodes.collect { case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    execs.add(ExecRec(qe.id, planS, scanRows, resultRows, files))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Recorder {
  /** Every physical node, top-down, looking through adaptive wrappers,
    * command results, query stages and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case q: QueryStageExec => Seq(q.plan)
      case w: DataWritingCommandExec => w.children
      case other => other.children ++ other.subqueries
    }
    p +: kids.flatMap(nodes)
  }

  /** Attach both listeners; returns a detach function. */
  def attach(spark: SparkSession, r: Recorder): () => Unit = {
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    () => {
      drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(r)
      spark.listenerManager.unregister(r)
    }
  }

  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
