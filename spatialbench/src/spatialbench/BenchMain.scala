package spatialbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
    cores: Int, heapGb: Int, sourceSha: String, commit: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"),
      need("cores").toInt, need("heap-gb").toInt, m.getOrElse("source-sha", "unknown"),
      m.getOrElse("commit", "unknown"))
  }
}

/** Entry point: set up a workload several times, warm it up, measure it,
  * check every result against its reference, and print the metrics. The last
  * stdout line is the JSON result. See spatialbench/README.md. */
object BenchMain {
  /** Set-up repetitions; setup_s uses their median. */
  val SetupReps = 3

  /** Every per-layer metric, with its unit, printed on every traced run; a
    * layer the workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.plan_ms" -> "ms", "driver.no_task_ms" -> "ms", "spark.jobs_per_read" -> "count",
    "engine.catalog.get_layer_ms" -> "ms", "plans.scan.files_read" -> "count",
    "plans.scan.rows_per_result" -> "ratio", "functions.exact.tests_per_result" -> "ratio",
    "engine.catalog.write_ms" -> "ms", "engine.catalog.bytes_written_per_user_byte" -> "ratio",
    "engine.catalog.layer_files" -> "count", "osm.parse_ms" -> "ms", "osm.assemble_ms" -> "ms",
    "sources.shp_read_ms" -> "ms", "engine.catalog.create_layer_ms" -> "ms",
    "engine.join.cell_size" -> "deg", "engine.join.replication" -> "ratio",
    "engine.join.candidates_per_result" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_ms_max_over_median" -> "ratio",
    "pipeline.pagerank_ms" -> "ms", "pipeline.ppr_ms" -> "ms", "pipeline.lpa_ms" -> "ms",
    "pipeline.kcore_ms" -> "ms", "pipeline.sssp_ms" -> "ms", "pipeline.loop.stages" -> "count",
    "pipeline.loop.tasks" -> "count", "pipeline.loop.empty_task_ratio" -> "ratio",
    "pipeline.loop.plan_nodes" -> "count", "pipeline.loop.blocks_left" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "trace.op_p50_ms_untraced" -> "ms", "trace.op_p50_ms_traced" -> "ms", "trace.overhead_pct" -> "%")

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("spatialbench")
      // the session settings of graft.Bench
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  private def json(m: Seq[Metric]): String =
    m.map(x => s""""${x.name}":{"value":${Stats.num(x.value)},"unit":"${x.unit}"}""").mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    println(s"# spatialbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}" +
      s" commit=${a.commit} source=${a.sourceSha}")
    println(s"# settings: spark=${spark.version} master=local[${a.cores}] heap=${a.heapGb}g" +
      s" shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}" +
      s" adaptive=${spark.conf.get("spark.sql.adaptive.enabled")} ui=false setup_reps=$SetupReps")

    val tracer = new Tracer(spark, installed = a.trace)
    val ctx = new Ctx(spark, a, tracer)
    val wl = Workload(a.workload, ctx)
    val setupOps = new Ops(tracer)

    // set-up: repeated into fresh directories, traced when this is a traced run
    tracer.enabled = a.trace
    val reps = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      tracer.span("setup")(wl.setup(r, setupOps))
      (System.nanoTime() - t0) / 1e9
    }
    tracer.enabled = false
    val warm = new Ops(tracer)
    val t0 = System.nanoTime()
    wl.warmup(warm)
    val warmS = (System.nanoTime() - t0) / 1e9
    wl.verify(warm)
    ctx.cleanup()
    val setupS = sessionS + Stats.median(reps) + warmS
    println(f"# setup: session ${sessionS}%.2f s, builds ${reps.map(r => f"$r%.2f").mkString("[", ", ", "]")} s," +
      f" warm-up $warmS%.2f s")

    // A traced run alternates untraced and traced quarters of the window, so
    // JIT warm-up drifts into both sides alike; their medians give the
    // tracing overhead.
    val ops = new Ops(tracer)
    val traced = new Ops(tracer)
    def window(o: Ops, seconds: Double): Unit = {
      val t0 = System.nanoTime()
      wl.measure(o, seconds)
      o.windowS += (System.nanoTime() - t0) / 1e9
      wl.verify(o)
    }
    if (!a.trace) window(ops, a.seconds)
    else for (_ <- 0 until 2) {
      window(ops, a.seconds / 4.0)
      tracer.enabled = true
      tracer.span("measure")(window(traced, a.seconds / 4.0))
      tracer.enabled = false
    }
    val unit = wl.unitOps(ops)
    println(s"# unit op latencies (ms): ${unit.map(u => f"$u%.0f").mkString(" ")}")

    val all = Seq(setupOps, warm, ops, traced)
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val unexpected = all.flatMap(_.unexpected)
    val rss = peakRssMb
    val e2e = Seq(
      Metric("setup_s", setupS, "s", s"session + median of $SetupReps set-ups + warm-up"),
      Metric("op_p50_ms", Stats.median(unit), "ms", s"n=${unit.size}"),
      Metric("peak_rss_mb", rss, "MB"))
    // printed, not gated: in a closed loop it is clients / mean latency, and
    // its spread over seeds on this host comes close to the largest bound
    val extra = Metric("ops_per_s", wl.clients * 1000.0 * unit.size / math.max(1e-9, unit.sum), "1/s",
      s"${wl.clients} closed-loop client(s)") +: wl.extraMetrics(ops) ++: Seq(
      Metric("failed_ops_ratio", failed.toDouble / math.max(1, attempted), "ratio",
        s"failed $failed / attempted $attempted, ${failed - unexpected.size} of them a known defect"))

    val layer: Seq[Metric] = if (!a.trace) Nil else {
      // overhead as lost throughput: under concurrent clients a traced op can
      // even be faster (the drain spaces the clients out), so p50s alone mislead
      val t = wl.unitOps(traced)
      val got = wl.perLayer(traced) ++ Map(
        "trace.op_p50_ms_untraced" -> Stats.median(unit), "trace.op_p50_ms_traced" -> Stats.median(t),
        "trace.overhead_pct" -> 100 * ((unit.size / ops.windowS) / (t.size / traced.windowS) - 1))
      tracer.dump(Paths.get(a.work).getParent.resolve(s"traces/${a.workload}-${a.seed}.jsonl"))
      PerLayer.map { case (n, unitName) => Metric(n, got.getOrElse(n, 0.0), unitName) }
    }
    spark.stop()

    (e2e ++ extra ++ layer).foreach { m =>
      println(s"metric ${m.name} ${Stats.num(m.value)} ${m.unit}${if (m.note.nonEmpty) s"  (${m.note})" else ""}")
    }
    if (a.trace) println(s"# spans written to .bench_build/spatialbench/traces/${a.workload}-${a.seed}.jsonl")
    unexpected.foreach(r => println(s"# WRONG RESULT ${r.kind}: ${r.error}"))
    val correct = unexpected.isEmpty && unit.nonEmpty
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${json(if (a.trace) layer else e2e)}}""")
    if (!correct) sys.exit(1)
  }
}

/** Entry point of the build's class-loading pass (build.py): one set-up and
  * one warm-up of every workload in one JVM, nothing measured, so that the
  * class-data-sharing archive the JVM writes at exit holds the classes the
  * measured runs load. */
object Archive {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv ++ Array("--workload", "all", "--seed", "0", "--seconds", "0", "--trace", "0"))
    val spark = BenchMain.session(a)
    val ctx = new Ctx(spark, a, new Tracer(spark, installed = false))
    Workload.Names.foreach { name =>
      val wl = Workload(name, ctx)
      val ops = new Ops(ctx.tracer)
      wl.setup(0, ops)
      wl.warmup(ops)
      wl.verify(ops)
      ctx.cleanup()
    }
    spark.stop()
  }
}
