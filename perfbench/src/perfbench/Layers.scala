package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.cells.{CellIndex, HexIndex}
import graft.geo.expr.geo
import graft.geo.geodesic.Geodesic
import graft.geo.kernels.PointKernel
import graft.geo.proj.ProjString

/** Layer probes of a traced run, measured from outside the library:
  * single-thread loops over the public kernel, geodesic and cell entry
  * points (L0), and the same work as one Catalyst expression over
  * `spark.range` (L1).  Rates are medians over repetitions; the first
  * repetition of every loop is a discarded JIT warm-up. */
object Layers {
  private val Reps = 5
  /** keeps the loops' results observable, so the JIT cannot drop them */
  @volatile var blackhole = 0.0

  /** Median rate in M items/s of `body`, which processes `n` items. */
  private def rate(n: Long)(body: => Unit): Double = {
    val secs = (0 until Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    n / Stats.median(secs.tail) / 1e6
  }

  /** Seeded uniform draws in [lo, lo + span). */
  private def draws(ctx: Ctx, salt: Long, n: Int, lo: Double, span: Double): Array[Double] = {
    val a = new Array[Double](n)
    var i = 0
    while (i < n) {
      a(i) = lo + span * ctx.unit(salt * 1000003L + i)
      i += 1
    }
    a
  }

  def measure(ctx: Ctx, tt: TransformTile,
              corpusPath: String): (Seq[(String, Double)], Seq[(String, String)]) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.LinkedHashMap.empty[String, String]
    val n = 200000
    val deg = math.Pi / 180

    // kernels: PointKernel.fwd, radians in (metres for tinshift)
    var fails = 0L
    var sink = 0.0
    def kernelLoop(k: PointKernel, xs: Array[Double], ys: Array[Double], t: Double): Unit = {
      val v = new Array[Double](4)
      var i = 0
      while (i < xs.length) {
        v(0) = xs(i); v(1) = ys(i); v(2) = 0.0; v(3) = t
        if (k.fwd(v)) sink += v(0) else fails += 1
        i += 1
      }
    }
    for (p <- tt.pipelines) tt.kernels.get(p.name) match {
      case Some(k) =>
        val scale = if (p.name == "tinshift") 1.0 else deg
        val xs = draws(ctx, 21, n, p.lonMin * scale, p.lonSpan * scale)
        val ys = draws(ctx, 22, n, p.latMin * scale, p.latSpan * scale)
        m(s"kernels.${p.name}.mpts_s") = rate(n)(kernelLoop(k, xs, ys, 2010.0))
      case None => notes(s"kernels.${p.name}.mpts_s") = "pipeline skipped"
    }
    m("kernels.fail_count") = fails.toDouble

    // geodesic: Karney inverse over seeded point pairs
    val g = Geodesic.WGS84
    val la1 = draws(ctx, 31, n, -80, 160); val lo1 = draws(ctx, 32, n, -180, 360)
    val la2 = draws(ctx, 33, n, -80, 160); val lo2 = draws(ctx, 34, n, -180, 360)
    m("geodesic.inverse.mpts_s") = rate(n) {
      var i = 0
      while (i < n) { sink += g.inverse(la1(i), lo1(i), la2(i), lo2(i)).s12; i += 1 }
    }

    // cells: cell ids, ring-1 neighbourhoods, hex bins
    val ids = new Array[Long](n)
    m("cells.cell_id.mpts_s") = rate(n) {
      var i = 0
      while (i < n) { ids(i) = CellIndex.cellId(lo1(i), la1(i), 12); i += 1 }
    }
    m("cells.neighborhood.mpts_s") = rate(n) {
      var i = 0
      while (i < n) { sink += CellIndex.neighborhood(ids(i), 1).length; i += 1 }
    }
    val hx = draws(ctx, 35, n, -2e7, 4e7); val hy = draws(ctx, 36, n, -2e7, 4e7)
    m("cells.hex_bin.mpts_s") = rate(n) {
      var i = 0
      while (i < n) { sink += HexIndex.bin(hx(i), hy(i), 25000.0); i += 1 }
    }

    // proj: parse time per pipeline, median of repeated parses
    for (p <- tt.pipelines if tt.kernels.contains(p.name)) {
      val ms = (0 until 21).map(_ => ctx.h.timed(ProjString.parse(p.proj))._1 * 1e3)
      m(s"proj.${p.name}.parse_ms") = Stats.median(ms.tail)
    }

    // expr: the same work as Catalyst expressions over spark.range
    val rows = 2000000L
    def exprRate(body: => Long): Double = {
      val secs = (0 until 3).map(_ => ctx.h.timed(body)._1)
      rows / Stats.median(secs) / 1e6
    }
    for (p <- tt.pipelines.find(_.name == "tmerc"); k <- tt.kernels.get("tmerc")) {
      m("expr.transform.mrows_s") = exprRate(
        tt.inputs(ctx, p, rows).agg(count(tt.project(p, k, true, "x", "y"))).head().getLong(0))
      m("expr.gap_x") = m("kernels.tmerc.mpts_s") * ctx.threads / m("expr.transform.mrows_s")
    }
    val wm = tt.pipelines.head
    m("expr.cell_id.mrows_s") = exprRate(
      tt.inputs(ctx, wm, rows).agg(max(geo.cellId(col("x"), col("y"), 12))).head().getLong(0))
    // media_ref arrays of the written corpus, replicated to a measurable size
    val refs = ctx.spark.read.parquet(corpusPath)
      .select(col("spans").getField("media_ref").as("refs"))
      .crossJoin(ctx.spark.range(8).toDF("copy")).select("refs")
      .persist(StorageLevel.MEMORY_ONLY)
    val nRefs = refs.count()
    val geotagS = (0 until 3).map(_ => ctx.h.timed(
      refs.agg(count(geo.spanGeoTag(col("refs")).getField("lat"))).head().getLong(0))._1)
    m("expr.geotag.mrows_s") = nRefs / Stats.median(geotagS) / 1e6
    refs.unpersist(true)

    // spark: a scan of a cached narrow (lon, lat) projection
    val cached = graft.geo.engine.GeoEngine.withGeoTag(ctx.spark.read.parquet(corpusPath))
      .select("lon", "lat").crossJoin(ctx.spark.range(8).toDF("copy")).select("lon", "lat")
      .persist(StorageLevel.MEMORY_ONLY)
    val nCached = cached.count()
    val scanS = (0 until 3).map(_ => ctx.h.timed(
      cached.agg(sum("lon"), sum("lat")).head())._1)
    m("spark.cached_scan.mrows_s") = nCached / Stats.median(scanS) / 1e6
    cached.unpersist(true)
    blackhole = sink
    (m.toSeq, notes.toSeq)
  }
}
