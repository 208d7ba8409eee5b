package spatialbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.locationtech.jts.io.{WKBReader, WKBWriter}

import graft.engine.{LayerMeta, SpatialProcedures}
import graft.osm.OsmImport
import graft.sources.Shapefile

/** One read through the procedure surface, as a procedure caller makes it:
  * the call returns once every result row has reached the caller. */
object ReadCall {
  val Kinds = Seq("bbox", "withinDistance", "intersects", "cql", "closestPoints")

  def apply(procs: SpatialProcedures, layer: String, q: Inputs.Read,
      tracer: Tracer): (IndexedSeq[String], IndexedSeq[Double]) = {
    val rows: Array[Row] = q match {
      case Inputs.BBox(a, b, c, d) => procs.bbox(layer, a, b, c, d).collect()
      case Inputs.Near(lon, lat, km) => procs.withinDistance(layer, lon, lat, km).collect()
      case p: Inputs.Poly => procs.intersects(layer, p.wkt).collect()
      case c: Inputs.Cql => procs.cql(layer, c.ecql).collect()
      case Inputs.Knn(lon, lat, k) => procs.layer(layer).closestPoints(lon, lat, k).df.collect()
    }
    tracer.count("result_rows", rows.length)
    val ids = rows.map(_.getAs[String]("id")).toIndexedSeq
    val dist =
      if (rows.nonEmpty && rows.head.schema.fieldNames.contains("distance"))
        rows.map(_.getAs[Double]("distance")).toIndexedSeq
      else IndexedSeq.empty
    (ids, dist)
  }

  /** Per-layer metrics of the read spans of the traced window. */
  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    import Workload._
    val reads = Kinds.flatMap(k => tracer.rolled(s"engine.procedures.$k"))
    def mean(k: String) = ratio(reads.map(_(k)).sum, reads.size)
    sparkLayer(reads) ++ Map(
      "spark.jobs_per_read" -> mean("jobs"),
      "engine.catalog.get_layer_ms" -> med(tracer.spans.filter(_.name == "engine.catalog.get_layer"))(_.wallMs),
      "plans.scan.files_read" -> mean("scan_files"),
      "plans.scan.rows_per_result" -> ratio(reads.map(_("scan_rows")).sum, reads.map(_("result_rows")).sum),
      "functions.exact.tests_per_result" -> ratio(reads.map(_("refine_in")).sum, reads.map(_("refine_out")).sum))
  }

  def readMetrics(ops: Ops, tailPct: Double): Seq[Metric] = {
    val r = ops.ok(Kinds.contains)
    Seq(Metric("read_p50_ms", Stats.median(r), "ms", s"n=${r.size}"),
      Metric("read_tail_ms", Stats.percentile(r, tailPct), "ms",
        s"p${tailPct.toInt}, n=${r.size}, ${Stats.beyond(r, tailPct)} samples beyond"))
  }
}

/** layer-serve: a 150k-point layer in the Hilbert preset, read by two
  * closed-loop clients through bbox / withinDistance / intersects / cql and
  * closestPoints. Small queries: driver planning, layer metadata and scan
  * pruning dominate; there is almost no shuffle. */
final class LayerServe(ctx: Ctx) extends Workload {
  import ctx._
  val clients = 2
  private val seed = args.seed
  private val N = 150000
  private val mix = Inputs.mixture(seed, 16, -10, 35, 30, 60, 0.3, 2.0)
  private val data = Inputs.points(mix, seed, N)
  private val index = new Reference.PointIndex(data)
  private val reads = Inputs.reads(seed, data, 5000, 0.3, r => {
    val t = 10 + r.nextInt(81)
    (s"score < $t", (d: PointSet, i: Int) => d.score(i) < t)
  })
  private val procs = new SpatialProcedures(spark, dir("layers"))
  private var layer = ""
  private val results = new ConcurrentLinkedQueue[(OpRec, Inputs.Read, IndexedSeq[String], IndexedSeq[Double])]()

  def setup(rep: Int, setupOps: Ops): Unit = {
    val name = s"serve_$rep"
    tracer.span("engine.catalog.build_layer") {
      procs.addLayer(name, "Hilbert", Inputs.pointsDf(spark, mix, seed, N, spark.sparkContext.defaultParallelism),
        "id", "lon:lat")
    }
    if (layer.nonEmpty) procs.removeLayer(layer)
    layer = name
  }

  private def read(ops: Ops, q: Inputs.Read): Unit = {
    if (tracer.enabled) tracer.span("engine.catalog.get_layer")(procs.catalog.getLayer(layer))
    ops.run(q.kind, s"engine.procedures.${q.kind}")(ReadCall(procs, layer, q, tracer))
      .foreach { case ((ids, dist), rec) => results.add((rec, q, ids, dist)) }
  }

  /** Reads keep getting faster for seconds after the first of each kind (JIT),
    * so the warm-up is the closed loop itself for a few seconds. */
  def warmup(ops: Ops): Unit = measure(ops, 3.0)

  /** Each client issues whole rounds of the five read kinds, so every window
    * holds the kinds in equal numbers and the median does not slide between
    * them with the window's length. */
  def measure(ops: Ops, seconds: Double): Unit =
    Workload.closedLoop(clients, seconds)((_, r) =>
      (5 * r until 5 * r + 5).foreach(i => read(ops, reads(i % reads.size))))

  def verify(ops: Ops): Unit = {
    results.asScala.foreach { case (rec, q, ids, dist) =>
      ops.check(rec, Reference.compare(q, Reference.expect(index, q), ids, dist, data, id => Seq(id.toInt)))
    }
    results.clear()
  }

  def unitOps(ops: Ops): Seq[Double] = ops.ok(ReadCall.Kinds.contains)

  /** p80: the highest percentile with at least 10 reads beyond it in a 10 s run. */
  def extraMetrics(ops: Ops): Seq[Metric] =
    ReadCall.readMetrics(ops, 80) :+
      Metric("read_qps", unitOps(ops).size / ops.windowS, "queries/s", f"over ${ops.windowS}%.1f s")

  def perLayer(ops: Ops): Map[String, Double] = ReadCall.layerMetrics(tracer)
}

/** layer-edit: the same read mix on a smaller WKT point layer, one closed-loop
  * client alternating a read and a write, after ingesting a seeded OSM extract
  * and a seeded shapefile. Every write is checked against the layer's full
  * contents before and after. */
final class LayerEdit(ctx: Ctx) extends Workload {
  import ctx._
  val clients = 1
  private val seed = args.seed
  private val N = 10000
  private val OsmWays = 600
  private val Parcels = 300
  private val mix = Inputs.mixture(seed, 8, -10, 35, 30, 60, 0.3, 2.0)
  private val initial = Inputs.points(mix, seed, N)
  private val reads = Inputs.reads(seed, initial, 1000, 0.3, r => {
    val d = r.nextInt(10)
    (s"id LIKE '%$d'", (p: PointSet, i: Int) => p.ids(i).endsWith(d.toString))
  })
  private val parcels = Inputs.polygons(mix, seed, Parcels, 0.002, 0.05, 0, 0, 1)
  private val (osmXml, osmWays) = Inputs.osmXml(seed, OsmWays, 5.0, 45.0)
  private val procs = new SpatialProcedures(spark, dir("layers"))
  private var layer = ""
  private var model: PointSet = initial
  private var index = new Reference.PointIndex(initial)
  private val ingestRowsS = scala.collection.mutable.ArrayBuffer[Double]()

  def setup(rep: Int, setupOps: Ops): Unit = {
    val in = dir(s"input_$rep")
    Files.createDirectories(Paths.get(in))
    val osmPath = s"$in/roads.osm"
    Files.writeString(Paths.get(osmPath), osmXml)
    val wkb = new WKBWriter()
    import spark.implicits._
    Shapefile.exportShapefile(parcels.map(p => (wkb.write(p.geom), Map("name" -> p.id, "kind" -> "parcel")))
      .toDF("geometry", "props"), s"$in/parcels")

    val (osmName, shpName) = (s"osm_$rep", s"shp_$rep")
    setupOps.run("ingest", "ingest") {
      val st8 = tracer.span("osm.parse")(OsmImport.parse(spark, osmPath))
      val ways = tracer.span("osm.assemble")(OsmImport.assembleWays(st8))
      tracer.span("engine.catalog.create_layer")(
        procs.catalog.createLayer(osmName, ways, LayerMeta(osmName, 0, encoder = "wkb")))
      val shp = tracer.span("sources.shp_read")(Shapefile.importShapefile(spark, s"$in/parcels.shp"))
      tracer.span("engine.catalog.create_layer")(
        procs.catalog.createLayer(shpName, shp.df, LayerMeta(shpName, 0, encoder = "wkb")))
    }.foreach { case (_, rec) =>
      setupOps.check(rec, checkIngest(osmName, shpName))
      if (rec.ok) ingestRowsS += (OsmWays + Parcels) / (rec.ms / 1000)
    }

    val name = s"edit_$rep"
    tracer.span("engine.catalog.build_layer") {
      procs.catalog.createWktLayer(name,
        Inputs.wktPointsDf(spark, mix, seed, N, spark.sparkContext.defaultParallelism), "id", "wkt", "hilbert")
    }
    if (layer.nonEmpty) procs.removeLayer(layer)
    Seq(osmName, shpName).foreach(procs.removeLayer)
    layer = name
    resync()
  }

  private def checkIngest(osmName: String, shpName: String): Option[String] = {
    val rd = new WKBReader()
    val ways = procs.layer(osmName).df.select("id", "geometry").collect()
      .map(r => r.getString(0).toLong -> rd.read(r.getAs[Array[Byte]](1)).getNumPoints).toMap
    val shp = procs.layer(shpName).df.select("geometry").collect().map(r => rd.read(r.getAs[Array[Byte]](0)).getArea)
    val wantArea = parcels.map(_.geom.getArea).sum
    if (ways != osmWays) Some(s"importOSM: ${ways.size} ways, expected ${osmWays.size} with the generated node counts")
    else if (shp.length != Parcels) Some(s"importShapefile: ${shp.length} rows, expected $Parcels")
    else if (math.abs(shp.sum - wantArea) > 1e-9 * wantArea) Some(s"importShapefile: total area ${shp.sum}, expected $wantArea")
    else None
  }

  /** Read the layer's full contents back as the model the next op is checked against. */
  private def snapshot(): PointSet = {
    val rd = new WKBReader()
    val rows = procs.layer(layer).df.select("id", "geometry").collect()
    val pts = rows.map(r => rd.read(r.getAs[Array[Byte]](1)).getCoordinate)
    new PointSet(rows.map(_.getString(0)), pts.map(_.x), pts.map(_.y), new Array[Int](rows.length))
  }

  private def resync(): Unit = {
    model = snapshot()
    index = new Reference.PointIndex(model)
  }

  private def key(p: PointSet, i: Int) = (p.ids(i), p.xs(i), p.ys(i))
  private def bag(p: PointSet) = (0 until p.size).groupBy(key(p, _)).map { case (k, v) => k -> v.size }
  /** Rows of `a` not matched by a row of `b` (multiset difference). */
  private def minus(a: Map[(String, Double, Double), Int], b: Map[(String, Double, Double), Int]) =
    a.toSeq.flatMap { case (k, n) => Seq.fill(math.max(0, n - b.getOrElse(k, 0)))(k) }

  private def read(ops: Ops, i: Int): Unit = {
    val q = reads(i % reads.size)
    if (tracer.enabled) tracer.span("engine.catalog.get_layer")(procs.catalog.getLayer(layer))
    // an id can name two rows once the addWKTs id collision has struck
    val rows = model.ids.indices.groupBy(model.ids(_))
    ops.run(q.kind, s"engine.procedures.${q.kind}")(ReadCall(procs, layer, q, tracer)).foreach {
      case ((ids, dist), rec) =>
        ops.check(rec, if (ids.forall(rows.contains))
          Reference.compare(q, Reference.expect(index, q), ids, dist, model, rows)
        else Some(s"${q.kind} returned ids that are not in the layer"))
    }
  }

  /** One write of `kind` (0 addWKTs, 1 updateWKT, 2 removeNodes), checked
    * against the layer before and after it. */
  private def write(ops: Ops, i: Int, kind: Int): Unit = {
    val r = Inputs.rng(seed, 8, i)
    val prev = model
    def near() = {
      val c = r.nextInt(prev.size)
      (prev.xs(c) + (r.nextDouble() - 0.5) * 0.01, prev.ys(c) + (r.nextDouble() - 0.5) * 0.01)
    }
    type Check = PointSet => Option[Either[String, String]]
    def firm(o: Option[String]): Option[Either[String, String]] = o.map(Right(_))
    val out: Option[(OpRec, Check)] = kind match {
      case 0 =>
        val pts = Seq.fill(3)(near())
        val wkts = pts.map { case (x, y) => Inputs.pointWkt(x, y) }
        ops.run("addWKTs", "engine.procedures.addWKTs") {
          tracer.count("user_bytes", wkts.map(_.length).sum)
          procs.addWKTs(layer, wkts)
        }.map { case (n, rec) => (rec, (now: PointSet) => checkAdd(prev, now, pts, n)) }
      case 1 =>
        val id = prev.ids(r.nextInt(prev.size))
        val (x, y) = near()
        ops.run("updateWKT", "engine.procedures.updateWKT") {
          tracer.count("user_bytes", id.length + Inputs.pointWkt(x, y).length)
          procs.updateWKT(layer, id, Inputs.pointWkt(x, y))
        }.map { case (_, rec) => (rec, (now: PointSet) => firm {
          val expected = new PointSet(prev.ids, prev.xs.indices.map(j => if (prev.ids(j) == id) x else prev.xs(j)).toArray,
            prev.ys.indices.map(j => if (prev.ids(j) == id) y else prev.ys(j)).toArray, prev.score)
          if (bag(now) == bag(expected)) None
          else Some(s"updateWKT($id): layer differs from the expected contents")
        })
        }
      case _ =>
        val ids = Seq.fill(5)(prev.ids(r.nextInt(prev.size))).distinct
        ops.run("removeNodes", "engine.procedures.removeNodes") {
          tracer.count("user_bytes", ids.map(_.length).sum)
          procs.removeNodes(layer, ids)
        }.map { case (n, rec) => (rec, (now: PointSet) => firm {
          val gone = prev.ids.count(ids.contains)
          val expected = (0 until prev.size).filterNot(j => ids.contains(prev.ids(j)))
          if (n != gone) Some(s"removeNodes returned $n, expected $gone")
          else if (bag(now) != expected.groupBy(key(prev, _)).map { case (k, v) => k -> v.size })
            Some("removeNodes: layer differs from the expected contents")
          else None
        })
        }
    }
    resync() // a write that threw may still have changed the layer
    out.foreach { case (rec, check) =>
      check(model) match {
        case Some(Left(why)) => ops.fail(rec, why, knownDefect = "addWKTs id collision")
        case Some(Right(why)) => ops.fail(rec, why)
        case None =>
      }
    }
  }

  /** addWKTs must keep every existing row, add one row per WKT at its
    * coordinates, and give each new row an id no other row has. A failure of
    * only the last rule is the documented id-collision defect (Left). */
  private def checkAdd(prev: PointSet, now: PointSet, pts: Seq[(Double, Double)],
      n: Long): Option[Either[String, String]] = {
    val lost = minus(bag(prev), bag(now))
    val added = minus(bag(now), bag(prev))
    if (n != pts.size) Some(Right(s"addWKTs returned $n, expected ${pts.size}"))
    else if (lost.nonEmpty) Some(Right(s"addWKTs changed ${lost.size} existing rows"))
    else if (added.map(k => (k._2, k._3)).sorted != pts.sorted)
      Some(Right(s"addWKTs added ${added.size} rows, not the ${pts.size} points given"))
    else {
      val prevIds = prev.ids.toSet
      val clash = added.map(_._1).filter(prevIds)
      val dup = added.map(_._1).diff(added.map(_._1).distinct)
      if (clash.isEmpty && dup.isEmpty) None
      else Some(Left(s"addWKTs gave new rows ids that already exist (${(clash ++ dup).distinct.mkString(",")}):" +
        " ids are count()+i, which repeat after a removal"))
    }
  }

  /** Writes of a round. Every round has the same make-up (each read kind once,
    * each followed by one of these writes), so rounds are comparable; and its
    * addWKTs follows the previous round's removals. */
  private val RoundWrites = Seq(0, 1, 2, 1, 2)

  private def round(ops: Ops, r: Int): Unit = RoundWrites.indices.foreach { k =>
    val i = RoundWrites.size * r + k
    read(ops, i)
    write(ops, i, RoundWrites(k))
  }

  def warmup(ops: Ops): Unit = round(ops, 0)

  def measure(ops: Ops, seconds: Double): Unit = Workload.closedLoop(clients, seconds)((_, r) => round(ops, r))

  def verify(ops: Ops): Unit = ()

  /** The unit op is an edit: an updateWKT and the removeNodes after it
    * (about 0.8 + 0.5 s), two per round. A whole round (about 4.5 s) gave
    * only two samples a window; single writes mix two kinds whose latencies do
    * not overlap, so their median jumps between them. addWKTs is left out
    * (its time is in write_p50_ms), so the unit op is the same set of calls
    * whether or not the known defect fails it. */
  def unitOps(ops: Ops): Seq[Double] =
    ops.all.filter(r => r.kind == "updateWKT" || r.kind == "removeNodes").grouped(2).collect {
      case Seq(u, d) if u.kind == "updateWKT" && d.kind == "removeNodes" && u.ok && d.ok => u.ms + d.ms
    }.toSeq

  private val WriteKinds = Set("addWKTs", "updateWKT", "removeNodes")

  /** p75 tails: a 10 s run has about a dozen reads and eight successful
    * writes, too few for any tail with 10 samples beyond it; the count printed
    * says so. */
  def extraMetrics(ops: Ops): Seq[Metric] = {
    val w = ops.ok(WriteKinds)
    ReadCall.readMetrics(ops, 75) ++ Seq(
      Metric("write_p50_ms", Stats.median(w), "ms", s"n=${w.size}"),
      Metric("write_tail_ms", Stats.percentile(w, 75), "ms", s"p75, n=${w.size}, ${Stats.beyond(w, 75)} samples beyond"),
      Metric("ingest_rows_s", Stats.median(ingestRowsS.toSeq), "rows/s",
        s"median of ${ingestRowsS.size} ingests of $OsmWays OSM ways + $Parcels shapefile polygons"))
  }

  def perLayer(ops: Ops): Map[String, Double] = {
    import Workload._
    val writes = WriteKinds.toSeq.flatMap(k => tracer.rolled(s"engine.procedures.$k"))
    def medSpan(n: String) = med(tracer.spans.filter(_.name == n))(_.wallMs)
    val listing = Files.list(Paths.get(dir("layers"), layer, "data"))
    val files = try listing.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally listing.close()
    ReadCall.layerMetrics(tracer) ++ Map(
      "engine.catalog.write_ms" -> med(writes)(_.wallMs),
      "engine.catalog.bytes_written_per_user_byte" ->
        ratio(writes.map(_("output_bytes")).sum, writes.map(_("user_bytes")).sum),
      "engine.catalog.layer_files" -> files.toDouble,
      "osm.parse_ms" -> medSpan("osm.parse"),
      "osm.assemble_ms" -> medSpan("osm.assemble"),
      "sources.shp_read_ms" -> medSpan("sources.shp_read"),
      "engine.catalog.create_layer_ms" -> medSpan("engine.catalog.create_layer"))
  }
}
