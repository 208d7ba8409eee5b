package spatialbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** What every workload shares: the session, the settings, the tracer, and a
  * working directory inside the checkout. */
final class Ctx(val spark: SparkSession, val args: Args, val tracer: Tracer) {
  def dir(name: String): String = s"${args.work}/$name"

  /** Drop every cached frame and persisted RDD (outside any timed window) so
    * blocks an op leaves behind do not tax the ops after it. */
  def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Cached partitions currently held by the block manager. */
  def cachedBlocks: Int = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
}

/** A benchmark workload. BenchMain calls `setup` several times
  * (each into a fresh directory; the last one is used), `warmup` once, then
  * `measure` for the run's window, then `verify`. */
trait Workload {
  /** Closed-loop clients: each sends its next op only after the last returned. */
  def clients: Int
  def setup(rep: Int, setupOps: Ops): Unit
  def warmup(ops: Ops): Unit
  /** Run the closed loop for `seconds`. */
  def measure(ops: Ops, seconds: Double): Unit
  /** Check results recorded during `measure` against the references. */
  def verify(ops: Ops): Unit
  /** Latencies (ms) of the workload's unit op, successful ones only. */
  def unitOps(ops: Ops): Seq[Double]
  /** Workload-specific end-to-end metrics, printed beside the common ones. */
  def extraMetrics(ops: Ops): Seq[Metric]
  /** Per-layer metrics (names from BenchMain.PerLayer) from the traced window's spans. */
  def perLayer(ops: Ops): Map[String, Double]
}

object Workload {
  /** Run `op(client, seq)` on `clients` threads for `seconds`. A client
    * starts no op that its previous op's duration says would end more than
    * half an op past the window, so long batch ops do not stretch the run. */
  def closedLoop(clients: Int, seconds: Double)(op: (Int, Int) => Any): Unit = {
    val seq = new AtomicInteger()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    @volatile var error: Throwable = null
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        try {
          var last = 0L
          while (System.nanoTime() + last / 2 < end && error == null) {
            val t0 = System.nanoTime()
            op(c, seq.getAndIncrement())
            last = System.nanoTime() - t0
          }
        } catch { case t: Throwable => error = t }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (error != null) throw error
  }

  val Names = Seq("layer-serve", "layer-edit", "spatial-join", "graph-loop")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "layer-serve" => new LayerServe(ctx)
    case "layer-edit" => new LayerEdit(ctx)
    case "spatial-join" => new SpatialJoinBatch(ctx)
    case "graph-loop" => new GraphLoop(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Median over spans of one of their counts or derived values. */
  def med(spans: Seq[Span])(f: Span => Double): Double =
    if (spans.isEmpty) 0.0 else Stats.median(spans.map(f))

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Driver and executor metrics of a set of op spans (descendants rolled in). */
  def sparkLayer(ops: Seq[Span]): Map[String, Double] = Map(
    "driver.plan_ms" -> med(ops)(_("plan_ms")),
    "driver.no_task_ms" -> med(ops)(_.noTaskMs),
    "spark.executor_cpu_ms" -> med(ops)(_("cpu_ms")),
    "spark.gc_ms" -> med(ops)(_("gc_ms")))
}
