package spatialbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchSql, SparkSession}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One call from the benchmark into a module: its name, the span that caused
  * it, its wall interval (epoch ms) and the counts measured at that boundary.
  */
final class Span(val id: Long, val parent: Long, val name: String, val startMs: Double) {
  @volatile var endMs: Double = startMs
  private val counts = new ConcurrentHashMap[String, java.lang.Double]()
  val execIds: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet[java.lang.Long]()
  /** (stage id, launch epoch ms, finish epoch ms) of every task the span ran. */
  val tasks = new ConcurrentLinkedQueue[(Int, Long, Long)]()

  def add(k: String, v: Double): Unit = counts.merge(k, v, (a, b) => a + b)
  def max(k: String, v: Double): Unit = counts.merge(k, v, (a, b) => math.max(a, b))
  def apply(k: String): Double = Option(counts.get(k)).map(_.doubleValue).getOrElse(0.0)
  def countMap: Map[String, Double] = counts.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  def wallMs: Double = endMs - startMs

  /** Wall time inside the span during which none of its tasks was running:
    * driver planning, metadata reads, scheduling gaps and result handling. */
  def noTaskMs: Double = {
    val iv = tasks.asScala.toSeq
      .map { case (_, a, b) => (math.max(a.toDouble, startMs), math.min(b.toDouble, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, wallMs - covered)
  }

  /** Slowest task over the median task of the worst stage with ≥ 4 tasks. */
  def taskSkew: Double = {
    val byStage = tasks.asScala.toSeq.groupBy(_._1).values
      .map(_.map { case (_, a, b) => (b - a).toDouble }.sorted).filter(_.size >= 4)
    if (byStage.isEmpty) 0.0
    else byStage.map(d => d.last / math.max(1.0, Stats.median(d))).max
  }
}

/** Spans recorded from the benchmark's own files around every call into a
  * module. A traced run registers a SparkListener for jobs, stages and tasks
  * (shuffle, spill, GC, CPU) and for SQL executions (planning phases and the
  * executed plan's SQL metrics), each attributed to the span whose thread
  * submitted the job. When disabled, `timed` only times the call.
  */
final class Tracer(spark: SparkSession, val installed: Boolean) {
  import Tracer._

  @volatile var enabled = false
  private val nextId = new AtomicLong(0)
  private val all = new ConcurrentLinkedQueue[Span]()
  private val byId = new ConcurrentHashMap[java.lang.Long, Span]()
  private val stageSpan = new ConcurrentHashMap[Integer, Span]()
  private val planStats = new ConcurrentHashMap[java.lang.Long, Map[String, Double]]()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private object JobListener extends SparkListener {
    private def spanOf(p: java.util.Properties): Option[Span] =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
        .flatMap(id => Option(byId.get(java.lang.Long.valueOf(id.toLong))))

    override def onJobStart(e: SparkListenerJobStart): Unit = spanOf(e.properties).foreach { s =>
      s.add("jobs", 1)
      e.stageIds.foreach(st => stageSpan.put(st, s))
      Option(e.properties.getProperty("spark.sql.execution.id"))
        .foreach(x => s.execIds.add(java.lang.Long.valueOf(x.toLong)))
    }

    /** An SQL execution's end carries its executed plan, metrics final. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if enabled =>
        BenchSql.queryExecution(end).foreach(qe =>
          planStats.put(java.lang.Long.valueOf(end.executionId), PlanStats.of(qe)))
      case _ =>
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val i = e.taskInfo
        s.tasks.add((e.stageId, i.launchTime, i.finishTime))
        s.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_ms", m.executorRunTime.toDouble)
          s.add("cpu_ms", m.executorCpuTime / 1e6)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
          if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
            s.add("empty_tasks", 1)
        }
      }
  }

  if (installed) spark.sparkContext.addSparkListener(JobListener)

  /** Run `f` and return its result with its wall time in ms. When tracing is
    * enabled the call is a span: a child of the span open on this thread, its
    * jobs tagged with its id; after the call (outside the returned time) the
    * listener bus is drained so every event of the call reaches the span. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = f
      return (r, (System.nanoTime() - t0) / 1e6)
    }
    val outer = stack.get
    val s = new Span(nextId.incrementAndGet(), outer.headOption.map(_.id).getOrElse(0L), name, nowMs)
    byId.put(s.id, s)
    all.add(s)
    stack.set(s :: outer)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    val t0 = System.nanoTime()
    try {
      val r = f
      (r, (System.nanoTime() - t0) / 1e6)
    } finally {
      s.endMs = nowMs
      sc.setLocalProperty(SpanKey, prev)
      stack.set(outer)
      BenchBus.drain(sc)
      s.execIds.asScala.foreach { id =>
        Option(planStats.remove(id)).foreach(_.foreach { case (k, v) =>
          if (k == "plan_nodes") s.max(k, v) else s.add(k, v)
        })
      }
    }
  }

  def span[T](name: String)(f: => T): T = timed(name)(f)._1

  /** Add a count to the innermost open span of this thread (no-op untraced). */
  def count(k: String, v: Double): Unit =
    if (enabled) stack.get.headOption.foreach(_.add(k, v))

  def spans: Seq[Span] = all.asScala.toSeq

  /** Every span named `name`, with the counts of its descendant spans added in. */
  def rolled(name: String): Seq[Span] = {
    val kids = spans.groupBy(_.parent)
    def desc(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(c => c +: desc(c))
    spans.filter(_.name == name).map { s =>
      val r = new Span(s.id, s.parent, s.name, s.startMs)
      r.endMs = s.endMs
      (s +: desc(s)).foreach { x =>
        x.countMap.foreach { case (k, v) => if (k == "plan_nodes") r.max(k, v) else r.add(k, v) }
        x.tasks.forEach(t => r.tasks.add(t))
      }
      r
    }
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      val counts = s.countMap.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"$k\":${Stats.num(v)}" }.mkString(",")
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ms":${Stats.num(s.startMs)},"dur_ms":${Stats.num(s.wallMs)},""" +
        s""""no_task_ms":${Stats.num(s.noTaskMs)},"counts":{$counts}}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanKey = "spatialbench.span"
}

/** Counts read from one executed plan's SQL metrics. */
object PlanStats {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, k: String): Double =
    p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)

  private def rowsOut(p: SparkPlan): Double = p.metrics.get("numOutputRows") match {
    case Some(m) => m.value.toDouble
    case None => p.children match {
      case Seq(c) => rowsOut(c)
      case _ => 0.0
    }
  }

  /** A filter that runs an exact geometry test: a Scala UDF or one of the
    * library's own expressions. */
  private def isRefine(f: FilterExec): Boolean =
    f.condition.exists(e => e.isInstanceOf[ScalaUDF] || e.getClass.getName.startsWith("graft."))

  def of(qe: QueryExecution): Map[String, Double] = {
    val all = nodes(qe.executedPlan)
    val m = mutable.Map[String, Double]().withDefaultValue(0.0)
    m("plan_ms") = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    m("plan_nodes") = all.size
    all.foreach {
      case s: FileSourceScanExec =>
        m("scan_files") += metric(s, "numFiles")
        m("scan_rows") += metric(s, "numOutputRows")
      case f: FilterExec if isRefine(f) =>
        m("refine_in") += rowsOut(f.child)
        m("refine_out") += metric(f, "numOutputRows")
      case g: GenerateExec => m("generate_rows") += metric(g, "numOutputRows")
      case _ =>
    }
    m.toMap
  }
}
