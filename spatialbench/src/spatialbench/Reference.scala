package spatialbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.locationtech.jts.geom.{Coordinate, Envelope}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import org.locationtech.jts.index.strtree.STRtree
import org.locationtech.jts.operation.union.UnaryUnionOp

/** Answers computed by the benchmark itself, with JTS and plain Scala, never
  * through the library: the references every timed result is checked against.
  */
object Reference {
  val EarthKm = 6371.0

  /** Great-circle distance by the haversine formula (the library uses the
    * spherical law of cosines; the two agree to well under a metre). */
  def haversineKm(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * EarthKm * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Points closer than this to a distance cut-off are ambiguous between the
    * two distance formulas and are left out of the comparison. */
  val DistanceSlackKm = 1e-3

  final class PointIndex(val data: PointSet) {
    private val tree = new STRtree()
    for (i <- 0 until data.size) tree.insert(new Envelope(data.xs(i), data.xs(i), data.ys(i), data.ys(i)), Int.box(i))
    tree.build()
    def inEnv(e: Envelope): Iterator[Int] = tree.query(e).asScala.iterator.map(_.asInstanceOf[Integer].intValue)
    lazy val (minx, miny, maxx, maxy) = (data.xs.min, data.ys.min, data.xs.max, data.ys.max)
  }

  /** The expected answer of a read, as sorted ids; `ambiguous` ids may be in
    * the result or not (distance within the slack of the cut-off). */
  final case class Expect(ids: IndexedSeq[String], ambiguous: Set[String] = Set.empty,
      distances: IndexedSeq[Double] = IndexedSeq.empty)

  def expect(ix: PointIndex, q: Inputs.Read): Expect = {
    val d = ix.data
    def sorted(is: Iterator[Int]) = Expect(is.map(d.ids(_)).toIndexedSeq.sorted)
    q match {
      case Inputs.BBox(a, b, c, e) => // WITHIN the window: strictly inside
        sorted(ix.inEnv(new Envelope(a, c, b, e)).filter(i =>
          d.xs(i) > a && d.xs(i) < c && d.ys(i) > b && d.ys(i) < e))
      case q: Inputs.Cql => // BBOX is an envelope intersection: boundary included
        sorted(ix.inEnv(new Envelope(q.minx, q.maxx, q.miny, q.maxy)).filter(i => q.keep(d, i)))
      case Inputs.Poly(_, g) =>
        val pg = PreparedGeometryFactory.prepare(g)
        sorted(ix.inEnv(g.getEnvelopeInternal).filter(i =>
          pg.intersects(Inputs.gf.createPoint(new Coordinate(d.xs(i), d.ys(i))))))
      case Inputs.Near(lon, lat, km) =>
        val dLat = math.toDegrees(km / EarthKm) * 1.01 + 1e-6
        val dLon = math.min(180.0, dLat / math.max(0.05, math.cos(math.toRadians(math.min(89.0, math.abs(lat) + dLat)))))
        val hits = ix.inEnv(new Envelope(lon - dLon, lon + dLon, lat - dLat, lat + dLat))
          .map(i => (i, haversineKm(lon, lat, d.xs(i), d.ys(i)))).filter(_._2 <= km + DistanceSlackKm).toSeq
        Expect(hits.filter(_._2 <= km - DistanceSlackKm).map(h => d.ids(h._1)).toIndexedSeq.sorted,
          hits.filter(_._2 > km - DistanceSlackKm).map(h => d.ids(h._1)).toSet)
      case Inputs.Knn(lon, lat, k) =>
        // GeoFrame.closestPoints' documented contract: the k nearest among the
        // points inside a square window sized from the layer's extent and count
        // so that it holds about 2k points on average
        val area = math.max((ix.maxx - ix.minx) * (ix.maxy - ix.miny), 1e-12)
        val half = math.sqrt(2.0 * k * area / math.max(d.size.toLong, 1L)) / 2
        val best = ix.inEnv(new Envelope(lon - half, lon + half, lat - half, lat + half))
          .map(i => haversineKm(lon, lat, d.xs(i), d.ys(i))).toIndexedSeq.sorted.take(k)
        Expect(IndexedSeq.empty, distances = best)
    }
  }

  /** Compare a read's result (ids, and distances where the read returns
    * them) against the expectation; None when it matches. `rows` gives the
    * rows of `data` holding an id: more than one when the layer repeats it,
    * and then a returned id may stand for any of them. */
  def compare(q: Inputs.Read, e: Expect, ids: IndexedSeq[String], dist: IndexedSeq[Double],
      data: PointSet, rows: String => Seq[Int]): Option[String] = q match {
    case Inputs.Knn(lon, lat, _) =>
      def km(i: Int) = haversineKm(lon, lat, data.xs(i), data.ys(i))
      val got = ids.map(id => rows(id).map(km)
        .minBy(d => e.distances.map(x => math.abs(x - d)).minOption.getOrElse(0.0)))
      if (got.size != e.distances.size) Some(s"closestPoints returned ${got.size} rows, expected ${e.distances.size}")
      else if (got.sorted.zip(e.distances).exists { case (a, b) => math.abs(a - b) > DistanceSlackKm })
        Some("closestPoints returned points that are not the nearest in its window")
      else if (dist.zip(dist.drop(1)).exists { case (a, b) => a > b }) Some("closestPoints not sorted by distance")
      else None
    case _ =>
      val got = ids.sorted
      val firm = got.filterNot(e.ambiguous)
      if (firm != e.ids) {
        val missing = e.ids.diff(firm)
        val extra = firm.diff(e.ids)
        Some(s"${q.kind}: ${got.size} rows, expected ${e.ids.size} (missing ${missing.take(3).mkString(",")}" +
          s"${if (missing.size > 3) "…" else ""}; unexpected ${extra.take(3).mkString(",")})")
      } else q match {
        case Inputs.Near(lon, lat, _) =>
          if (dist.zip(dist.drop(1)).exists { case (a, b) => a > b }) Some("withinDistance not sorted by distance")
          else if (ids.zip(dist).exists { case (id, dd) =>
              !rows(id).exists(i => math.abs(dd - haversineKm(lon, lat, data.xs(i), data.ys(i))) <= DistanceSlackKm) })
            Some("withinDistance returned a wrong distance")
          else None
        case _ => None
      }
  }

  // ---------------------------------------------------------------- joins

  /** Points intersecting each polygon, by polygon id. */
  def pointsPerPolygon(ix: PointIndex, polys: Seq[Inputs.Polygon]): Map[String, Long] =
    polys.map { case Inputs.Polygon(id, _, g, _) =>
      val pg = PreparedGeometryFactory.prepare(g)
      id -> ix.inEnv(g.getEnvelopeInternal).count(i =>
        pg.intersects(Inputs.gf.createPoint(new Coordinate(ix.data.xs(i), ix.data.ys(i))))).toLong
    }.filter(_._2 > 0).toMap

  /** The k nearest points to each query by planar distance, ties by point id:
    * query id → point ids in rank order. Brute force over every point. */
  def knn(data: PointSet, queries: Seq[(String, Double, Double)], k: Int): Map[String, IndexedSeq[String]] =
    queries.map { case (qid, qx, qy) =>
      val best = mutable.PriorityQueue.empty[(Double, String)] // max-heap on (d2, id)
      var i = 0
      while (i < data.size) {
        val dx = qx - data.xs(i); val dy = qy - data.ys(i)
        val c = (dx * dx + dy * dy, data.ids(i))
        if (best.size < k) best.enqueue(c)
        else if (Ordering[(Double, String)].lt(c, best.head)) { best.dequeue(); best.enqueue(c) }
        i += 1
      }
      qid -> best.toIndexedSeq.sorted.map(_._2)
    }.toMap

  /** Per grid cell (of side `cell` degrees from (-180, -90)): number of
    * polygons with a positive clipped area there, and that area. */
  def zonal(polys: Seq[Inputs.Polygon], cell: Double): Map[(Long, Long), (Long, Double)] = {
    val acc = mutable.Map[(Long, Long), (Long, Double)]()
    polys.foreach { case Inputs.Polygon(_, _, g, _) =>
      val e = g.getEnvelopeInternal
      for (cx <- math.floor((e.getMinX + 180) / cell).toLong to math.floor((e.getMaxX + 180) / cell).toLong;
           cy <- math.floor((e.getMinY + 90) / cell).toLong to math.floor((e.getMaxY + 90) / cell).toLong) {
        val box = Inputs.gf.toGeometry(new Envelope(-180 + cx * cell, -180 + (cx + 1) * cell,
          -90 + cy * cell, -90 + (cy + 1) * cell))
        val a = g.intersection(box).getArea
        if (a > 0) {
          val (n, s) = acc.getOrElse((cx, cy), (0L, 0.0))
          acc((cx, cy)) = (n + 1, s + a)
        }
      }
    }
    acc.toMap
  }

  /** Area of the union of each group's polygons. */
  def unionArea(polys: Seq[Inputs.Polygon]): Map[Int, Double] =
    polys.groupBy(_.group).map { case (grp, ps) => grp -> UnaryUnionOp.union(ps.map(_.geom).asJava).getArea }

  // ---------------------------------------------------------------- graphs

  /** Adjacency of a directed edge list after dropping duplicate edges. */
  final class Adj(g: Graph) {
    private val uniq = g.src.indices.map(i => (g.src(i), g.dst(i))).distinct
    val out: Map[Long, IndexedSeq[Long]] = uniq.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val edges: IndexedSeq[(Long, Long)] = uniq
  }

  private def round12(x: Double): Double =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** PageRank as graft.pipeline.PageRank defines it: uniform start, damped
    * rounds, dangling mass dropped, every round rounded to 12 decimals. */
  def pageRank(g: Graph, iters: Int, d: Double): Map[Long, Double] =
    ppr(g, None, iters, d)

  /** Personalized PageRank (teleport uniform over `seeds`), or PageRank when
    * `seeds` is None. Edges are taken as given, duplicates included. */
  def ppr(g: Graph, seeds: Option[Seq[Long]], iters: Int, d: Double): Map[Long, Double] = {
    val nodes = (g.src ++ g.dst).distinct
    val n = nodes.length
    val deg = g.src.groupBy(identity).map { case (k, v) => k -> v.length }
    val tele: Map[Long, Double] = seeds match {
      case None => nodes.map(_ -> 1.0 / n).toMap
      case Some(ss) => val s = ss.distinct; nodes.map(x => x -> (if (s.contains(x)) 1.0 / s.size else 0.0)).toMap
    }
    var rank = tele
    for (_ <- 1 to iters) {
      val s = mutable.Map[Long, Double]().withDefaultValue(0.0)
      g.src.indices.foreach(i => s(g.dst(i)) += rank(g.src(i)) / deg(g.src(i)))
      rank = nodes.map(x => x -> round12(
        (if (seeds.isEmpty) (1 - d) / n else (1 - d) * tele(x)) + d * s(x))).toMap
    }
    rank
  }

  /** Synchronous label propagation: every node takes the most frequent label
    * among its out-neighbours, ties to the smallest label. */
  def lpa(a: Adj, rounds: Int): Map[Long, Long] = {
    var lbl: Map[Long, Long] = a.out.keys.map(x => x -> x).toMap
    for (_ <- 1 to rounds) {
      lbl = a.out.map { case (s, ns) =>
        val counts = ns.flatMap(lbl.get).groupBy(identity).toSeq.map { case (l, v) => (v.size, l) }
        s -> counts.maxBy { case (c, l) => (c, -l) }._2
      }
    }
    lbl
  }

  /** Bounded-round k-core peel: drop nodes of out-degree < k, keep edges
    * between survivors; (node, degree) of what is left. */
  def kcore(a: Adj, k: Int, rounds: Int): Map[Long, Long] = {
    var es = a.edges
    for (_ <- 1 to rounds) {
      val keep = es.groupBy(_._1).filter(_._2.size >= k).keySet
      es = es.filter { case (s, t) => keep(s) && keep(t) }
    }
    es.groupBy(_._1).map { case (s, v) => s -> v.size.toLong }
  }

  /** Bellman-Ford from the seeds, bounded to `rounds` relaxations. */
  def sssp(g: Graph, rounds: Int): Map[Long, Long] = {
    var dist: Map[Long, Long] = g.seeds.map(_ -> 0L).toMap
    val out = g.src.indices.groupBy(g.src(_))
    for (_ <- 1 to rounds) {
      val next = mutable.Map[Long, Long]() ++ dist
      dist.foreach { case (n, dn) =>
        out.getOrElse(n, Nil).foreach { i =>
          val c = dn + g.w(i)
          if (next.get(g.dst(i)).forall(c < _)) next(g.dst(i)) = c
        }
      }
      dist = next.toMap
    }
    dist
  }
}
