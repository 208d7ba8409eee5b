package spatialbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.locationtech.jts.io.WKBReader

import graft.engine.{SpatialAggs, SpatialJoin, SpatialProcedures}
import graft.pipeline.{Graphs, PageRank}

/** spatial-join: a batch of points against polygons of log-uniform radius
  * (a few larger than SpatialJoin.MaxCellsPerRow cells at a fine grid),
  * through SpatialJoin.join with the automatic strategy and cell size,
  * counting points per polygon, then a zonal + union aggregation. Shuffle and
  * exact refinement dominate. A knnJoin over the same points runs once after
  * each window's batches, as an op of its own: in every batch it would more
  * than double the batch and halve the batches a window holds. */
final class SpatialJoinBatch(ctx: Ctx) extends Workload {
  import ctx._
  val clients = 1
  private val seed = args.seed
  // the points layer must stay above the 10 MB broadcast threshold so the
  // automatic strategy takes the grid join
  private val N = 150000
  private val M = 20
  private val K = 5
  private val KnnCell = 0.5
  private val ZoneCell = 1.0
  private val mix = Inputs.mixture(seed, 12, -10, 35, 30, 60, 0.3, 2.0)
  private val data = Inputs.points(mix, seed, N)
  private val polys = Inputs.polygons(mix, seed, M, 0.01, 1.0, 4, 5.0, 16)
  private val queries = (0 until 30).map { i =>
    val (x, y) = Inputs.point(mix, seed ^ 0xC0FFEEL, i)
    (s"q$i", x, y)
  }
  private val procs = new SpatialProcedures(spark, dir("layers"))
  private var names = ("", "")
  private val results = new ConcurrentLinkedQueue[(OpRec, Batch)]()

  private final case class Batch(counts: Map[String, Long],
      zonal: Map[(Long, Long), (Long, Double)], union: Map[Int, Double])
  private val knnResults = new ConcurrentLinkedQueue[(OpRec, Map[String, IndexedSeq[String]])]()

  def setup(rep: Int, setupOps: Ops): Unit = {
    import spark.implicits._
    val (pts, pls) = (s"pts_$rep", s"polys_$rep")
    tracer.span("engine.catalog.build_layer") {
      procs.catalog.createPointLayer(pts,
        Inputs.pointsDf(spark, mix, seed, N, spark.sparkContext.defaultParallelism).drop("score"),
        "id", "lon", "lat")
      procs.catalog.createWktLayer(pls, polys.map(p => (p.id, p.wkt, p.group)).toDF("id", "wkt", "grp"),
        "id", "wkt")
    }
    if (names._1.nonEmpty) Seq(names._1, names._2).foreach(procs.removeLayer)
    names = (pts, pls)
  }

  private def batch(ops: Ops): Unit = {
    import spark.implicits._
    ops.run("batch", "batch") {
      val pts = procs.layer(names._1).df
      val pl = procs.layer(names._2).df
      val counts = tracer.span("engine.join.join") {
        val rows = SpatialJoin.join(pl, pts, "intersects").groupBy("l_id").count().collect()
        tracer.count("result_rows", rows.map(_.getLong(1)).sum.toDouble)
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      val zonal = tracer.span("engine.aggs.zonal") {
        SpatialAggs.zonalStats(pl, ZoneCell).collect()
          .map(r => (r.getAs[Long]("cell_x"), r.getAs[Long]("cell_y")) -> (r.getAs[Long]("n_polys"), r.getAs[Double]("area")))
          .toMap
      }
      val union = tracer.span("engine.aggs.union") {
        val rd = new WKBReader()
        pl.groupBy(col("props")("grp").as("grp")).agg(SpatialAggs.unionAgg(col("geometry")).as("u")).collect()
          .map(r => r.getString(0).toInt -> rd.read(r.getAs[Array[Byte]]("u")).getArea).toMap
      }
      Batch(counts, zonal, union)
    }.foreach { case (b, rec) => results.add((rec, b)) }
  }

  private def knn(ops: Ops): Unit = {
    import spark.implicits._
    ops.run("knn", "engine.join.knn") {
      SpatialJoin.knnJoin(queries.toDF("id", "x", "y"), procs.layer(names._1).df, K, KnnCell).collect()
        .groupBy(_.getAs[String]("qid"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[String]("pid")).toIndexedSeq }
    }.foreach { case (k, rec) => knnResults.add((rec, k)) }
  }

  def warmup(ops: Ops): Unit = { batch(ops); knn(ops) }

  def measure(ops: Ops, seconds: Double): Unit = {
    Workload.closedLoop(clients, seconds)((_, _) => batch(ops))
    knn(ops)
  }

  private lazy val expected = {
    val ix = new Reference.PointIndex(data)
    Batch(Reference.pointsPerPolygon(ix, polys), Reference.zonal(polys, ZoneCell), Reference.unionArea(polys))
  }
  private lazy val expectedKnn = Reference.knn(data, queries, K)

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-7 * math.max(1.0, math.abs(b))

  def verify(ops: Ops): Unit = {
    val e = expected
    results.asScala.foreach { case (rec, b) =>
      ops.check(rec,
        if (b.counts != e.counts) {
          val bad = (b.counts.keySet ++ e.counts.keySet).filter(k => b.counts.get(k) != e.counts.get(k))
          Some(s"join: ${bad.size} polygons with a wrong point count (e.g. ${bad.take(3).map(k =>
            s"$k: ${b.counts.getOrElse(k, 0L)} vs ${e.counts.getOrElse(k, 0L)}").mkString(", ")})")
        } else if (b.zonal.keySet != e.zonal.keySet ||
            e.zonal.exists { case (c, (n, a)) => b.zonal(c)._1 != n || !close(b.zonal(c)._2, a) })
          Some("zonalStats differs from the clipped areas")
        else if (b.union.keySet != e.union.keySet || e.union.exists { case (g, a) => !close(b.union(g), a) })
          Some("unionAgg areas differ")
        else None)
    }
    results.clear()
    val ek = expectedKnn
    knnResults.asScala.foreach { case (rec, k) =>
      ops.check(rec, if (k == ek) None
        else Some(s"knnJoin: ${ek.count { case (q, v) => !k.get(q).contains(v) }} queries differ"))
    }
    knnResults.clear()
  }

  def unitOps(ops: Ops): Seq[Double] = ops.ok(_ == "batch")

  def extraMetrics(ops: Ops): Seq[Metric] = Seq(
    Metric("wall_s", Stats.median(unitOps(ops)) / 1000, "s",
      s"median of ${unitOps(ops).size} batches: $N points × ${polys.size} polygons, zonal + union"),
    Metric("knn_ms", Stats.median(ops.ok(_ == "knn")), "ms",
      s"knnJoin k=$K of ${queries.size} queries, once after the window's batches"))

  /** Point-polygon pairs the grid join compares at cell size `cell`: the
    * pairs sharing a cell, plus every point against each polygon too large
    * for the grid (SpatialJoin.MaxCellsPerRow). The join fuses this test into
    * its join condition, so no SQL metric counts it; it follows from the
    * inputs and the cell size. */
  private def candidates(cell: Double): Double = {
    def key(x: Double, y: Double) = (math.floor(x / cell).toLong, math.floor(y / cell).toLong)
    val ptsPerCell = data.xs.indices.groupBy(i => key(data.xs(i), data.ys(i))).map { case (k, v) => k -> v.size }
    polys.map { p =>
      val e = p.geom.getEnvelopeInternal
      val (x0, y0) = key(e.getMinX, e.getMinY)
      val (x1, y1) = key(e.getMaxX, e.getMaxY)
      if ((x1 - x0 + 1) * (y1 - y0 + 1) > SpatialJoin.MaxCellsPerRow) N.toDouble
      else (for (cx <- x0 to x1; cy <- y0 to y1) yield ptsPerCell.getOrElse((cx, cy), 0).toDouble).sum
    }.sum
  }

  def perLayer(ops: Ops): Map[String, Double] = {
    import Workload._
    val joins = tracer.rolled("engine.join.join")
    val batches = tracer.rolled("batch")
    val grid = joins.exists(_("generate_rows") > 0)
    val cell = if (!grid) 0.0 else SpatialJoin.suggestCellSize(procs.layer(names._2).df, procs.layer(names._1).df)
    sparkLayer(batches) ++ Map(
      "engine.join.cell_size" -> cell,
      "engine.join.replication" -> ratio(joins.map(_("generate_rows")).sum, joins.size.toDouble * (N + polys.size)),
      "engine.join.candidates_per_result" -> ratio(if (grid) candidates(cell) else N.toDouble * polys.size,
        expected.counts.values.sum.toDouble),
      "functions.exact.tests_per_result" -> ratio(joins.map(_("refine_in")).sum, joins.map(_("refine_out")).sum),
      "spark.shuffle_write_bytes" -> med(batches)(_("shuffle_write_bytes")),
      "spark.spill_bytes" -> med(batches)(_("spill_bytes")),
      "spark.task_ms_max_over_median" -> med(joins)(_.taskSkew))
  }
}

/** graph-loop: a road-like graph (lattice plus random shortcuts) through
  * PageRank, personalized PageRank, label propagation, k-core peeling and
  * SSSP. The only workload with iterative operators: loop-state
  * materialisation, plan growth and per-round shuffle width dominate. */
final class GraphLoop(ctx: Ctx) extends Workload {
  import ctx._
  val clients = 1
  private val seed = args.seed
  private val (w, h, shortcuts) = (50, 50, 150)
  // PageRank keeps its loop state as one growing lazy plan, so its 4
  // iterations against personalized PageRank's 2 let plan growth show; LPA
  // materialises each of its 3 rounds. Few rounds keep a pass near 6 s, so a
  // 10 s window holds two passes
  private val (prIters, pprIters, lpaRounds, k, kRounds, ssspRounds) = (4, 2, 3, 3, 2, 2)
  private val g = Inputs.roadGraph(seed, w, h, shortcuts)
  private var edgesPath = ""
  private val results = new ConcurrentLinkedQueue[(OpRec, Pass)]()
  private val OpNames = Seq("pagerank", "ppr", "lpa", "kcore", "sssp")

  private final case class Pass(pr: Map[Long, Double], ppr: Map[Long, Double], lpa: Map[Long, Long],
      kcore: Map[Long, Long], sssp: Map[Long, Long])

  def setup(rep: Int, setupOps: Ops): Unit = {
    import spark.implicits._
    edgesPath = dir(s"graph_$rep/edges")
    tracer.span("input.edges") {
      g.src.indices.map(i => (g.src(i), g.dst(i), g.w(i))).toDF("src", "dst", "w")
        .repartition(spark.sparkContext.defaultParallelism).write.parquet(edgesPath)
    }
  }

  private def op[T](name: String)(f: => T): T = tracer.span(s"pipeline.$name") {
    val before = cachedBlocks
    val r = f
    tracer.count("blocks_left", cachedBlocks - before)
    r
  }

  private def pass(ops: Ops): Unit = {
    import spark.implicits._
    ops.run("pass", "pass") {
      val e = spark.read.parquet(edgesPath)
      val seeds = g.seeds.toSeq.toDF("node")
      def dmap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
      def lmap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      Pass(
        op("pagerank")(dmap(PageRank.pageRank(e, prIters).collect())),
        op("ppr")(dmap(PageRank.personalizedPageRank(e, seeds, pprIters).collect())),
        op("lpa")(lmap(Graphs.labelPropagation(e, lpaRounds).collect())),
        op("kcore")(lmap(Graphs.kcorePeel(e, k, kRounds).collect())),
        op("sssp")(lmap(Graphs.sssp(e, seeds, ssspRounds).collect())))
    }.foreach { case (p, rec) => results.add((rec, p)) }
    cleanup()
  }

  def warmup(ops: Ops): Unit = pass(ops)

  def measure(ops: Ops, seconds: Double): Unit = Workload.closedLoop(clients, seconds)((_, _) => pass(ops))

  private lazy val expected = {
    val adj = new Reference.Adj(g)
    Pass(Reference.pageRank(g, prIters, 0.85), Reference.ppr(g, Some(g.seeds.toSeq), pprIters, 0.85),
      Reference.lpa(adj, lpaRounds), Reference.kcore(adj, k, kRounds), Reference.sssp(g, ssspRounds))
  }

  private def near(a: Map[Long, Double], b: Map[Long, Double]) =
    a.keySet == b.keySet && a.forall { case (n, v) => math.abs(v - b(n)) <= 1e-9 }

  def verify(ops: Ops): Unit = {
    val e = expected
    results.asScala.foreach { case (rec, p) =>
      ops.check(rec,
        if (!near(p.pr, e.pr)) Some("pageRank differs from the reference")
        else if (!near(p.ppr, e.ppr)) Some("personalizedPageRank differs from the reference")
        else if (p.lpa != e.lpa) Some(s"labelPropagation: ${e.lpa.count { case (n, l) => !p.lpa.get(n).contains(l) }} labels differ")
        else if (p.kcore != e.kcore) Some("kcorePeel differs from the reference")
        else if (p.sssp != e.sssp) Some("sssp differs from the reference")
        else None)
    }
    results.clear()
  }

  def unitOps(ops: Ops): Seq[Double] = ops.ok(_ == "pass")

  def extraMetrics(ops: Ops): Seq[Metric] = Seq(
    Metric("wall_s", Stats.median(unitOps(ops)) / 1000, "s",
      s"median of ${unitOps(ops).size} passes over ${w * h} nodes / ${g.src.length} directed edges"))

  def perLayer(ops: Ops): Map[String, Double] = {
    import Workload._
    val passes = tracer.rolled("pass")
    val opSpans = OpNames.flatMap(n => tracer.rolled(s"pipeline.$n"))
    OpNames.map(n => s"pipeline.${n}_ms" -> med(tracer.rolled(s"pipeline.$n"))(_.wallMs)).toMap ++
      sparkLayer(passes) ++ Map(
        "pipeline.loop.stages" -> med(passes)(_("stages")),
        "pipeline.loop.tasks" -> med(passes)(_("tasks")),
        "pipeline.loop.empty_task_ratio" -> ratio(passes.map(_("empty_tasks")).sum, passes.map(_("tasks")).sum),
        "pipeline.loop.plan_nodes" -> ratio(opSpans.map(_("plan_nodes")).sum, passes.size),
        "pipeline.loop.blocks_left" -> med(passes)(_("blocks_left")),
        "spark.shuffle_write_bytes" -> med(passes)(_("shuffle_write_bytes")),
        "spark.spill_bytes" -> med(passes)(_("spill_bytes")),
        "spark.task_ms_max_over_median" -> med(passes)(_.taskSkew))
  }
}
