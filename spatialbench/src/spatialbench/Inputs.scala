package spatialbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}

/** Seeded input generators. Every value is a pure function of the seed (and
  * of the row index for table rows), so Spark tasks and the benchmark's own
  * references produce the same data without shipping it around.
  */
object Inputs {
  val gf = new GeometryFactory()

  /** Independent stream `stream` of the generator for row `i`. */
  def rng(seed: Long, stream: Long, i: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** Gaussian mixture over a lon/lat region: the clustered density of real
    * point layers (cities in a country), plus a uniform background. */
  final case class Mixture(cx: Array[Double], cy: Array[Double], sigma: Array[Double],
      minx: Double, miny: Double, maxx: Double, maxy: Double, background: Double)

  def mixture(seed: Long, clusters: Int, minx: Double, miny: Double, maxx: Double, maxy: Double,
      sigmaLo: Double, sigmaHi: Double): Mixture = {
    val r = rng(seed, 100, 0)
    val w = maxx - minx
    val h = maxy - miny
    // centres jittered inside distinct cells of a grid over the region: every
    // seed spreads its clusters evenly, so work that depends on how much of the
    // data shares a region (grid-join cells, query windows) varies little
    val cols = math.ceil(math.sqrt(clusters * w / h)).toInt
    val rows = math.ceil(clusters.toDouble / cols).toInt
    val slots = {
      val a = Array.tabulate(cols * rows)(identity)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.take(clusters)
    }
    val cx = slots.map(s => minx + w * (s % cols + 0.2 + 0.6 * r.nextDouble()) / cols)
    val cy = slots.map(s => miny + h * (s / cols + 0.2 + 0.6 * r.nextDouble()) / rows)
    // stratified sigmas: every seed gets the same spread of cluster sizes
    val sg = Array.tabulate(clusters)(k =>
      math.exp(math.log(sigmaLo) + (k + r.nextDouble()) / clusters * (math.log(sigmaHi) - math.log(sigmaLo))))
    Mixture(cx, cy, sg, minx, miny, maxx, maxy, 0.1)
  }

  /** Point `i` of the mixture. */
  def point(m: Mixture, seed: Long, i: Long): (Double, Double) = {
    val r = rng(seed, 1, i)
    if (r.nextDouble() < m.background)
      (m.minx + r.nextDouble() * (m.maxx - m.minx), m.miny + r.nextDouble() * (m.maxy - m.miny))
    else {
      val c = r.nextInt(m.cx.length)
      (math.max(m.minx, math.min(m.maxx, m.cx(c) + r.nextGaussian() * m.sigma(c))),
        math.max(m.miny, math.min(m.maxy, m.cy(c) + r.nextGaussian() * m.sigma(c))))
    }
  }

  def score(seed: Long, i: Long): Int = rng(seed, 2, i).nextInt(100)

  /** The benchmark's in-memory copy of the first `n` mixture points. */
  def points(m: Mixture, seed: Long, n: Int): PointSet = {
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    val sc = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (x, y) = point(m, seed, i)
      xs(i) = x; ys(i) = y; sc(i) = score(seed, i)
      i += 1
    }
    new PointSet(Array.tabulate(n)(_.toString), xs, ys, sc)
  }

  /** The same points as a Spark table (id, lon, lat, score), generated in tasks. */
  def pointsDf(spark: SparkSession, m: Mixture, seed: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.range(0L, n.toLong, 1L, parts).map { i =>
      val (x, y) = point(m, seed, i)
      (i.toString, x, y, score(seed, i))
    }.toDF("id", "lon", "lat", "score")
  }

  /** A star-shaped simple polygon with `k` vertices around (cx, cy): vertex
    * j at an angle jittered inside the j-th of k equal sectors, away from its
    * edges, so consecutive angles differ by at least 0.3 of a sector and by
    * less than half a turn; unsorted random angles could leave a gap of more
    * than half a turn and a self-intersecting ring. */
  def starPolygon(r: SplittableRandom, cx: Double, cy: Double, radius: Double, k: Int): Geometry = {
    val angles = Array.tabulate(k)(j => (j + 0.15 + 0.7 * r.nextDouble()) / k * 2 * math.Pi)
    val cs = angles.map { a =>
      val rr = radius * (0.5 + 0.5 * r.nextDouble())
      new Coordinate(cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    gf.createPolygon(cs :+ cs.head)
  }

  /** A decimal that parses back to exactly `d` (no exponent notation). */
  def plain(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  def pointWkt(x: Double, y: Double): String = s"POINT (${plain(x)} ${plain(y)})"

  /** WKT of a polygon's shell with every coordinate written exactly. */
  def polygonWkt(g: Geometry): String =
    g.getCoordinates.map(c => s"${plain(c.x)} ${plain(c.y)}").mkString("POLYGON ((", ", ", "))")

  def fromWkt(wkt: String): Geometry = new org.locationtech.jts.io.WKTReader(gf).read(wkt)

  /** The points as WKT (id, wkt), for WKT layers. */
  def wktPointsDf(spark: SparkSession, m: Mixture, seed: Long, n: Int, parts: Int): DataFrame = {
    import spark.implicits._
    spark.sparkContext.range(0L, n.toLong, 1L, parts).map { i =>
      val (x, y) = point(m, seed, i)
      (i.toString, pointWkt(x, y))
    }.toDF("id", "wkt")
  }

  // ------------------------------------------------------------- read mix

  sealed trait Read { def kind: String }
  final case class BBox(minx: Double, miny: Double, maxx: Double, maxy: Double) extends Read {
    def kind = "bbox"
  }
  final case class Near(lon: Double, lat: Double, km: Double) extends Read { def kind = "withinDistance" }
  final case class Poly(wkt: String, geom: Geometry) extends Read { def kind = "intersects" }
  /** ECQL `BBOX(...) AND <attribute filter>`; `attr` is the ECQL text of the filter. */
  final case class Cql(minx: Double, miny: Double, maxx: Double, maxy: Double, attr: String,
      keep: (PointSet, Int) => Boolean) extends Read {
    def kind = "cql"
    def ecql = s"BBOX(geometry, ${plain(minx)}, ${plain(miny)}, ${plain(maxx)}, ${plain(maxy)}) AND $attr"
  }
  final case class Knn(lon: Double, lat: Double, k: Int) extends Read { def kind = "closestPoints" }

  /** `n` reads cycling through the five procedure kinds. Each is centred on a
    * data point (so it lands where the data is) with a log-uniform extent, so
    * result sizes run from empty to about 10^4 rows. `attrFilter` gives the
    * CQL attribute filter for the layer. */
  def reads(seed: Long, data: PointSet, n: Int, maxHalf: Double,
      attrFilter: SplittableRandom => (String, (PointSet, Int) => Boolean)): IndexedSeq[Read] =
    (0 until n).map { q =>
      val r = rng(seed, 3, q)
      val c = r.nextInt(data.size)
      val (x, y) = (data.xs(c), data.ys(c))
      // extent quantile from a Weyl sequence over each kind's queries, so every
      // run's first few dozen reads already cover the size range evenly
      val u = ((q / 5) * 0.6180339887498949 + r.nextDouble() * 0.05) % 1.0
      val half = math.exp(math.log(maxHalf / 300) + u * math.log(300.0))
      def box = (x - half * r.nextDouble(), y - half * r.nextDouble())
      q % 5 match {
        case 0 =>
          val (a, b) = box
          BBox(a, b, a + half, b + half)
        case 1 => Near(x, y, half * 111.0)
        case 2 =>
          val wkt = polygonWkt(starPolygon(r, x, y, half, 8))
          Poly(wkt, fromWkt(wkt))
        case 3 =>
          val (a, b) = box
          val (attr, keep) = attrFilter(r)
          Cql(a, b, a + half, b + half, attr, keep)
        case _ => Knn(x, y, 20)
      }
    }

  // ---------------------------------------------------------- polygons

  /** `n` polygons centred on mixture points, radius stratified log-uniform in
    * [lo, hi] degrees (so every seed has the same spread of sizes), each with a
    * group tag; `huge` extra polygons of radius `hugeR` are appended. */
  def polygons(m: Mixture, seed: Long, n: Int, lo: Double, hi: Double,
      huge: Int, hugeR: Double, groups: Int): IndexedSeq[Polygon] = {
    val order = {
      val r = rng(seed, 4, 0)
      val a = Array.tabulate(n)(identity)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    (0 until n + huge).map { i =>
      val r = rng(seed, 5, i)
      val (cx, cy) = point(m, seed ^ 0x5EED, i)
      val radius =
        if (i >= n) hugeR
        else math.exp(math.log(lo) + (order(i) + r.nextDouble()) / n * (math.log(hi) - math.log(lo)))
      val wkt = polygonWkt(starPolygon(r, cx, cy, radius, 16))
      Polygon(s"p$i", wkt, fromWkt(wkt), i % groups)
    }
  }

  final case class Polygon(id: String, wkt: String, geom: Geometry, group: Int)

  // ---------------------------------------------------------- OSM + shp

  /** An OSM XML extract: a road network of `ways` ways, each a random walk of
    * 2..12 nodes over a jittered grid of nodes, with highway/name tags. Returns
    * the XML text and, per way id, its node count (the ingest check). */
  def osmXml(seed: Long, ways: Int, minx: Double, miny: Double): (String, Map[Long, Int]) = {
    val side = math.max(8, math.sqrt(ways * 4.0).toInt)
    val r = rng(seed, 6, 0)
    val sb = new StringBuilder
    sb.append("<?xml version='1.0' encoding='UTF-8'?>\n<osm version=\"0.6\" generator=\"spatialbench\">\n")
    def nodeId(cx: Int, cy: Int) = 1L + cy.toLong * side + cx
    for (cy <- 0 until side; cx <- 0 until side) {
      val lon = minx + cx * 0.01 + r.nextDouble() * 0.004
      val lat = miny + cy * 0.01 + r.nextDouble() * 0.004
      sb.append(f"""  <node id="${nodeId(cx, cy)}" version="1" changeset="7" uid="42" user="bench" timestamp="2024-01-01T00:00:00Z" lat="$lat%.7f" lon="$lon%.7f"/>""").append('\n')
    }
    val kinds = Array("residential", "primary", "secondary", "service", "track")
    val sizes = Map.newBuilder[Long, Int]
    for (w <- 0 until ways) {
      val id = 1000000L + w
      var cx = r.nextInt(side)
      var cy = r.nextInt(side)
      val len = 2 + r.nextInt(11)
      val nds = scala.collection.mutable.ArrayBuffer(nodeId(cx, cy))
      while (nds.size < len) {
        r.nextInt(4) match {
          case 0 => cx = math.min(side - 1, cx + 1)
          case 1 => cx = math.max(0, cx - 1)
          case 2 => cy = math.min(side - 1, cy + 1)
          case _ => cy = math.max(0, cy - 1)
        }
        val n = nodeId(cx, cy)
        if (n != nds.last) nds += n
      }
      sb.append(s"""  <way id="$id" version="1" changeset="7" timestamp="2024-01-01T00:00:00Z">\n""")
      nds.foreach(n => sb.append(s"""    <nd ref="$n"/>\n"""))
      sb.append(s"""    <tag k="highway" v="${kinds(r.nextInt(kinds.length))}"/>\n""")
      sb.append(s"""    <tag k="name" v="Road $w"/>\n""")
      sb.append("  </way>\n")
      sizes += id -> nds.size
    }
    sb.append("</osm>\n")
    (sb.toString, sizes.result())
  }

  // ------------------------------------------------------------- graph

  /** A road-like graph: a `w`×`h` lattice plus `shortcuts` random long edges,
    * both directions of every edge, integer weights 1..9 (lattice) and 5..40
    * (shortcuts). Node id = row * w + col. */
  def roadGraph(seed: Long, w: Int, h: Int, shortcuts: Int): Graph = {
    val r = rng(seed, 7, 0)
    val es = scala.collection.mutable.LinkedHashMap[(Long, Long), Long]()
    def add(a: Long, b: Long, wt: Long): Unit = if (a != b && !es.contains((a, b))) {
      es((a, b)) = wt; es((b, a)) = wt
    }
    for (y <- 0 until h; x <- 0 until w) {
      val n = y.toLong * w + x
      if (x + 1 < w) add(n, n + 1, 1 + r.nextInt(9))
      if (y + 1 < h) add(n, n + w, 1 + r.nextInt(9))
    }
    for (_ <- 0 until shortcuts) add(r.nextInt(w * h).toLong, r.nextInt(w * h).toLong, 5 + r.nextInt(36))
    val seeds = Array.fill(8)(r.nextInt(w * h).toLong).distinct
    val keys = es.keys.toArray
    new Graph(keys.map(_._1), keys.map(_._2), es.values.toArray, seeds)
  }
}

/** In-memory copy of a point layer: ids, coordinates and the score attribute. */
final class PointSet(val ids: Array[String], val xs: Array[Double], val ys: Array[Double],
    val score: Array[Int]) {
  def size: Int = ids.length
}

/** A directed edge list (both directions of every road) and PPR/SSSP seeds. */
final class Graph(val src: Array[Long], val dst: Array[Long], val w: Array[Long], val seeds: Array[Long])
