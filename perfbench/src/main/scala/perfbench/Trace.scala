package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One span around a call into a layer: name, start, end, the span that
  * caused it, and counts recorded at the same boundary.
  */
final case class SpanRec(id: Int, parent: Int, name: String, startNs: Long) {
  var endNs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from the benchmark's own files, around its calls into
  * the program. They stay in memory and are written out once, at the end.
  * The current span id rides the `perfbench.span` local property, so every
  * Spark job a call launches (including jobs launched under the runner's
  * own job group) is attributed to the span that caused it.
  */
final class Spans(sc: () => SparkContext) {
  private val recs = mutable.ArrayBuffer.empty[SpanRec]
  private var open = List.empty[SpanRec]

  def all: Seq[SpanRec] = recs.toSeq

  def span[A](name: String)(f: SpanRec => A): (A, SpanRec) = {
    val rec = SpanRec(recs.size, open.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
    recs += rec
    open = rec :: open
    val ctx = sc()
    val prev = if (ctx == null) null else ctx.getLocalProperty(Spans.Key)
    if (ctx != null) ctx.setLocalProperty(Spans.Key, rec.id.toString)
    try {
      val a = f(rec)
      rec.endNs = System.nanoTime()
      (a, rec)
    } finally {
      if (rec.endNs < 0) rec.endNs = System.nanoTime()
      if (ctx != null) ctx.setLocalProperty(Spans.Key, prev)
      open = open.tail
    }
  }

  def time[A](name: String)(f: => A): (A, Double) = {
    val (a, r) = span(name)(_ => f)
    (a, r.seconds)
  }

  /** this span and every span under it */
  def subtree(root: SpanRec): Set[Int] = {
    val kids = recs.toSeq.groupBy(_.parent)
    def go(id: Int): Seq[Int] = id +: kids.getOrElse(id, Seq.empty).flatMap(c => go(c.id))
    go(root.id).toSet
  }

  def toJsonLines: Seq[String] = recs.toSeq.map { r =>
    val attrs = r.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"span":${r.id},"parent":${r.parent},"name":${Json.str(r.name)},""" +
      s""""start_ns":${r.startNs},"end_ns":${r.endNs},"attrs":{$attrs}}"""
  }
}

object Spans { val Key = "perfbench.span" }

/** Spark-level counts per span, from a listener the benchmark registers.
  * Call `drain` before reading: events arrive asynchronously.
  */
final class SparkTrace(cores: Int) extends SparkListener {
  import SparkTrace._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Spans.Key))).map(_.toInt).getOrElse(-1)

  /** SQL execution id -> the call site of the thread that started it: AQE
    * submits a query's stage jobs from its own threads, so only the
    * execution remembers which program frame asked for the work
    */
  private val execSite = mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execSite(x.executionId.toString) = x.details)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(execSite.get).filter(_.contains("graft.")).getOrElse(own)
    jobs += Job(e.jobId, span, e.time, site)
    e.stageIds.foreach(id => if (!stageSpan.contains(id)) stageSpan(id) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val failed = e.reason != Success
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = if (m == null) 0L else f(m)
    tasks += Task(stageSpan.getOrElse(e.stageId, -1), e.stageId, e.stageAttemptId,
      i.launchTime, i.finishTime, g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
      failed, i.speculative,
      g(_.shuffleWriteMetrics.bytesWritten),
      g(x => x.shuffleReadMetrics.localBytesRead + x.shuffleReadMetrics.remoteBytesRead),
      g(x => x.shuffleReadMetrics.localBlocksFetched + x.shuffleReadMetrics.remoteBlocksFetched),
      g(_.diskBytesSpilled), g(_.inputMetrics.bytesRead), g(_.outputMetrics.bytesWritten))
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def toJsonLines: Seq[String] = synchronized(jobs.toSeq).map { j =>
    s"""{"job":${j.id},"span":${j.span},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
      s""""site":${Json.str(j.callSite.linesIterator.take(6).mkString("\n"))}}"""
  }

  def jobsIn(spans: Set[Int]): Seq[Job] = synchronized(jobs.filter(j => spans(j.span)).toSeq)
  def tasksIn(spans: Set[Int]): Seq[Task] = synchronized(tasks.filter(t => spans(t.span)).toSeq)

  /** `spark.*` per-layer numbers over `spans`, per call when `calls` > 1. */
  def summary(spans: Set[Int], wallS: Double, calls: Int): Map[String, Double] = {
    val js = jobsIn(spans)
    val ts = tasksIn(spans)
    val per = math.max(calls, 1).toDouble
    val ok = ts.filterNot(_.failed)
    val durs = ok.map(t => (t.finishMs - t.launchMs).toDouble).sorted
    def q(p: Double): Double =
      if (durs.isEmpty) 0.0 else durs(math.min(durs.length - 1, (p * durs.length).toInt))
    val tail = ok.groupBy(t => (t.stage, t.stageAttempt)).values.map { st =>
      val ends = st.map(_.finishMs).sorted
      val k = math.min(cores, ends.length)
      (ends.last - ends(ends.length - k)) / 1000.0
    }.sum
    val runS = ts.map(_.runMs).sum / 1000.0
    Map(
      "spark.jobs" -> js.size / per,
      "spark.stages" -> ts.map(t => (t.stage, t.stageAttempt)).distinct.size / per,
      "spark.tasks" -> ts.size / per,
      "spark.task_attempts_failed" -> ts.count(_.failed) / per,
      "spark.task_attempts_speculative" -> ts.count(_.speculative) / per,
      "spark.executor_run_s" -> runS / per,
      "spark.executor_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / per,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / per,
      "spark.busy_frac" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "spark.task_ms_p50" -> q(0.5),
      "spark.task_ms_p90" -> q(0.9),
      "spark.stage_tail_s" -> tail / per,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum / per,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum / per,
      "spark.shuffle_blocks" -> ts.map(_.blocks).sum / per,
      "spark.spill_bytes" -> ts.map(_.spill).sum / per,
      "spark.scan_bytes" -> ts.map(_.scan).sum / per,
      "spark.output_bytes" -> ts.map(_.output).sum / per)
  }
}

object SparkTrace {
  final case class Job(id: Int, span: Int, startMs: Long, callSite: String) {
    var endMs: Long = -1L
  }
  final case class Task(span: Int, stage: Int, stageAttempt: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, failed: Boolean, speculative: Boolean,
      shuffleWrite: Long, shuffleRead: Long, blocks: Long, spill: Long,
      scan: Long, output: Long)
}
