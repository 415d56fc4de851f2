package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.engine.GeoEngine
import graft.geo.expr.geo
import graft.queries.Inputs._

/** Tiling and spatial-statistics queries: cube-face, web-tile, geohash,
  * hex and ISEA cells, raster-vector stats, the 250 km hexbin statistics
  * (Gi*, Moran, Geary, join counts, quadrat, General G, IDW, KDE,
  * Mann-Kendall, emerging hot spots) and the Ripley family. */
private[graft] object TilingQueries {

  /** Planar hexbin replay: webmerc metres -> fractional axial coords ->
    * cube rounding with the exact comparison chain of HexIndex.cubeRound*
    * (strict >, fix q first, then r, else s), as CTEs xy, fr, rounded and
    * fixed(hq, hr) over the lineitem points at 250 km.  A non-empty
    * `value` is carried through the chain as column v. */
  private def hexbinSql(value: String = ""): String = {
    val v = if (value.isEmpty) "" else ", v"
    val vCol = if (value.isEmpty) "" else s",\n         $value AS v"
    s"""WITH xy AS (
       |  SELECT 6378137.0 * radians($lonSql) AS x,
       |         6378137.0 * ${mercSql(latSql, 11)} AS y$vCol
       |  FROM lineitem
       |), fr AS (
       |  SELECT (sqrt(3.0)/3.0 * x - y/3.0) / 250000.0 AS fq,
       |         (2.0/3.0 * y) / 250000.0 AS fr$v
       |  FROM xy
       |), rounded AS (
       |  SELECT fq, fr, -fq - fr AS fs,
       |         floor(fq + 0.5) AS rq, floor(fr + 0.5) AS rr,
       |         floor(-fq - fr + 0.5) AS rs$v
       |  FROM fr
       |), fixed AS (
       |  SELECT CASE WHEN abs(rq - fq) > abs(rr - fr)
       |                AND abs(rq - fq) > abs(rs - fs)
       |              THEN -rr - rs ELSE rq END AS hq,
       |         CASE WHEN abs(rq - fq) > abs(rr - fr)
       |                AND abs(rq - fq) > abs(rs - fs) THEN rr
       |              WHEN abs(rr - fr) > abs(rs - fs)
       |              THEN -rq - rs ELSE rr END AS hr$v
       |  FROM rounded
       |)""".stripMargin
  }

  /** [[hexbinSql]] aggregated per occupied hex as cells(hq, hr, `agg`). */
  private def hexCellsSql(value: String = "",
                          agg: String = "CAST(count(*) AS BIGINT) AS x"): String =
    hexbinSql(value) +
      s""", cells AS (
         |  SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr,
         |         $agg
         |  FROM fixed GROUP BY 1, 2
         |)""".stripMargin

  /** Global moments g(n, sum_x, sum_x2) of the cell attribute x. */
  private val cellMomentsSql =
    """, g AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(x) AS BIGINT) AS sum_x,
      |         CAST(sum(x*x) AS BIGINT) AS sum_x2
      |  FROM cells
      |)""".stripMargin

  /** Ring-1 hex adjacency of aliases a and b, self included: the axial
    * grid distance (|dq| + |dr| + |dq + dr|) / 2 <= 1. */
  private val ring1OnSql =
    """    ON (abs(a.hq - b.hq) + abs(a.hr - b.hr)
      |        + abs((a.hq - b.hq) + (a.hr - b.hr))) / 2 <= 1""".stripMargin

  /** Gi* replay: hexbin chain as in q_hex_occupancy, the ring-1 disk as
    * the axial grid-distance predicate on the cell AGGREGATE self-join,
    * then the closed-form z from exact longs (the engine keeps counts as
    * the attribute precisely so both engines derive identical IEEE doubles
    * from identical integers).  A non-empty `value` swaps the attribute
    * from count(*) to the exact sum of that integer column, reported as
    * `xName`. */
  private def giStarSql(value: String, xName: String): String = {
    val agg = if (value.isEmpty) "CAST(count(*) AS BIGINT) AS x"
      else "CAST(sum(v) AS BIGINT) AS x"
    s"""${hexCellsSql(value, agg)}$cellMomentsSql, nbr AS (
       |  SELECT a.hq, a.hr,
       |         CAST(sum(b.x) AS BIGINT) AS wsum,
       |         CAST(count(*) AS BIGINT) AS wn
       |  FROM cells a JOIN cells b
       |$ring1OnSql
       |  GROUP BY 1, 2
       |)
       |SELECT c.hq, c.hr, c.x AS $xName, nb.wsum, nb.wn,
       |  CASE WHEN g.n > 1 AND wn < g.n
       |        AND CAST(g.sum_x2 AS DOUBLE)/g.n
       |            - (CAST(g.sum_x AS DOUBLE)/g.n)
       |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
       |  THEN CAST(floor(
       |    (CAST(nb.wsum AS DOUBLE)
       |       - CAST(g.sum_x AS DOUBLE)/g.n * nb.wn)
       |    / (sqrt(CAST(g.sum_x2 AS DOUBLE)/g.n
       |         - (CAST(g.sum_x AS DOUBLE)/g.n)
       |           * (CAST(g.sum_x AS DOUBLE)/g.n))
       |       * sqrt(CAST(g.n*nb.wn - nb.wn*nb.wn AS DOUBLE)
       |              / CAST(g.n - 1 AS DOUBLE)))
       |    * 1e6 + 0.5) AS BIGINT)
       |  END AS z_e6
       |FROM cells c
       |JOIN nbr nb ON c.hq = nb.hq AND c.hr = nb.hr
       |CROSS JOIN g""".stripMargin
  }

  /** The 2-ring fan of every cell (the axial grid-distance predicate over
    * a -2..2 square of deltas), carrying `cols` and each offset's planar
    * dx/dy in metres, constants printed by the same Scala code. */
  private def ring2FanSql(cols: String): String =
    s""", deltas AS (
       |  SELECT a.dq, b.dr
       |  FROM (SELECT unnest(generate_series(-2, 2)) AS dq) a
       |  CROSS JOIN (SELECT unnest(generate_series(-2, 2)) AS dr) b
       |  WHERE (abs(a.dq) + abs(b.dr) + abs(a.dq + b.dr)) / 2 <= 2
       |), fan AS (
       |  SELECT c.hq + d.dq AS hq, c.hr + d.dr AS hr, $cols,
       |         ${math.sqrt(3.0) * 250000.0} * (d.dq + d.dr / 2.0) AS dx,
       |         ${1.5 * 250000.0} * d.dr AS dy
       |  FROM cells c CROSS JOIN deltas d
       |)""".stripMargin

  /** Events at fixed per-user positions on a 3 x 2 degree grid (the
    * space-time cube input of q_mk_trend and q_emerging). */
  private def userGridEvents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("ts"),
        (pmod(col("user_id"), lit(60)) * 3.0 - 90.0).as("lon"),
        (pmod(col("user_id"), lit(30)) * 2.0 - 30.0).as("lat"))

  /** SQL mirror of [[userGridEvents]] binned into 250 km hexes x integer
    * days: counts(hq, hr, bin, x) and the global bin range rng. */
  private val binnedHexSql =
    """WITH pts AS (
      |  SELECT epoch_us(ts) // 86400000000 AS bin,
      |         (user_id % 60) * 3.0 - 90.0 AS lon,
      |         (user_id % 30) * 2.0 - 30.0 AS lat
      |  FROM events
      |), xy AS (
      |  SELECT bin, 6378137.0 * radians(lon) AS x,
      |         6378137.0 * ln(tan(radians(lat)) +
      |           sqrt(tan(radians(lat))*tan(radians(lat)) + 1.0)) AS y
      |  FROM pts
      |), fr AS (
      |  SELECT bin, (sqrt(3.0)/3.0 * x - y/3.0) / 250000.0 AS fq,
      |         (2.0/3.0 * y) / 250000.0 AS fr
      |  FROM xy
      |), rounded AS (
      |  SELECT bin, fq, fr, -fq - fr AS fs,
      |         floor(fq + 0.5) AS rq, floor(fr + 0.5) AS rr,
      |         floor(-fq - fr + 0.5) AS rs
      |  FROM fr
      |), fixed AS (
      |  SELECT bin,
      |         CASE WHEN abs(rq - fq) > abs(rr - fr)
      |               AND abs(rq - fq) > abs(rs - fs)
      |             THEN -rr - rs ELSE rq END AS hq,
      |         CASE WHEN abs(rq - fq) > abs(rr - fr)
      |               AND abs(rq - fq) > abs(rs - fs) THEN rr
      |              WHEN abs(rr - fr) > abs(rs - fs)
      |             THEN -rq - rs ELSE rr END AS hr
      |  FROM rounded
      |), counts AS (
      |  SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr,
      |         CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS x
      |  FROM fixed GROUP BY 1, 2, 3
      |), rng AS (
      |  SELECT min(bin) AS minb, max(bin) AS maxb FROM counts
      |)""".stripMargin

  /** lineitem points grouped by l_suppkey % 7 (the centrography and
    * convex-hull groups). */
  private def suppGroups(s: SparkSession, dir: String): DataFrame =
    geoLineitem(s, dir).withColumn("grp", pmod(col("l_suppkey"), lit(7)))

  /** SQL mirror of [[suppGroups]]: webmerc metres quantized to integer mm
    * as q(grp, xq, yq), the engine's exact Centrography inputs. */
  private val mmGroupsSql =
    s"""WITH xy AS (
       |  SELECT l_suppkey % 7 AS grp,
       |         6378137.0 * radians($lonSql) AS x,
       |         6378137.0 * ${mercSql(latSql, 11)} AS y
       |  FROM lineitem
       |), q AS (
       |  SELECT grp, CAST(floor(x * 1000.0 + 0.5) AS BIGINT) AS xq,
       |         CAST(floor(y * 1000.0 + 0.5) AS BIGINT) AS yq
       |  FROM xy
       |)""".stripMargin

  /** 16 integer support directions for the convex-hull oracle (exact
    * long dot products; shared by the Spark query and the SQL replay). */
  private val HullDirs = Seq((1, 0), (2, 1), (1, 1), (1, 2), (0, 1),
    (-1, 2), (-1, 1), (-2, 1), (-1, 0), (-2, -1), (-1, -1), (-1, -2),
    (0, -1), (1, -2), (1, -1), (2, -1))

  /** Radius rungs of the Ripley-family statistics. */
  private val KRadii = Seq(100000.0, 200000.0, 400000.0)

  /** Pair counts per rung of the `cd` column, named `<prefix>c<k>`; the
    * chord thresholds come from the engine's own code. */
  private def rungCountsSql(prefix: String, sep: String): String =
    KRadii.map(GeoEngine.maxChord2For).zipWithIndex.map { case (c2, k) =>
      s"CAST(sum(CASE WHEN cd <= $c2 THEN 1 ELSE 0 END) AS BIGINT) AS ${prefix}c$k"
    }.mkString(sep)

  /** One SELECT per rung, joined by UNION ALL. */
  private def rungsSql(rung: Int => String): String =
    KRadii.indices.map(rung).mkString("\nUNION ALL\n")

  /** Besag's L = sqrt(K / pi), K = area * `pairs` / `denom`, at 1e-3. */
  private def lSql(pairs: String, denom: String): String =
    s"""CAST(floor(sqrt($RipleyAreaM2 * CAST($pairs AS DOUBLE)
       |    / CAST($denom AS DOUBLE)
       |    / ${math.Pi}) * 1e3 + 0.5) AS BIGINT)""".stripMargin

  /** Ripley's K (rounded) and [[lSql]] as columns k_e0, l_e3. */
  private def klSql(pairs: String, denom: String): String =
    s"""CAST(floor($RipleyAreaM2 * CAST($pairs AS DOUBLE)
       |    / CAST($denom AS DOUBLE) + 0.5)
       |    AS BIGINT) AS k_e0,
       |  ${lSql(pairs, denom)} AS l_e3""".stripMargin

  /** XYZ web-tile x/y at `n` tiles per axis over the lineitem points: the
    * slippy-map spherical-Mercator discretization, closed-form. */
  private def xyTileSql(n: Int): String =
    s"""SELECT CAST(least(greatest(floor(($lonSql + 180.0) / 360.0 * $n.0), 0), ${n - 1}) AS BIGINT) AS x,
       |  CAST(least(greatest(floor((1.0 - ${mercSql(latSql, 4)} / pi()) / 2.0 * $n.0), 0), ${n - 1}) AS BIGINT) AS y
       |FROM lineitem""".stripMargin

  /** raster tiles from part-derived points at level 2; value derived from
    * the decoded tile key so SQL can recompute it. */
  private def rasterFromPart(s: SparkSession, dir: String): DataFrame = {
    val pts = s.read.parquet(s"$dir/part.parquet")
      .select(
        (pmod(col("p_partkey") * lit(11.234567), lit(359.9)) - lit(179.95)).as("lon"),
        (pmod(col("p_partkey") * lit(7.654321), lit(169.9)) - lit(84.95)).as("lat"))
    GeoEngine.tiled(pts, 2).select("cell").distinct()
      .withColumn("d", geo.cellDecode(col("cell")))
      .withColumn("value",
        ((col("d").getField("face").cast("long") * 16 +
          col("d").getField("i") * 4 + col("d").getField("j")) % 97).cast("double"))
      .drop("d")
  }

  val all: Seq[Query] = Seq(
    // --- tiling ---------------------------------------------------------
    Query("q_tile_occupancy", (s, dir) => {
      val pts = geoLineitem(s, dir)
      pts.select(geo.cellId(col("lon"), col("lat"), 4).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .select(
          shiftrightunsigned(col("cell"), 6 + 8).cast("long").as("face"),
          col("n"))
        .groupBy(col("face")).agg(sum(col("n")).as("n_points"))
    }, Sql(
      s"""${tileSql(lonSql, latSql, 4, "lineitem")}
         |SELECT CAST(face AS BIGINT) AS face, CAST(count(*) AS BIGINT) AS n_points
         |FROM tiled GROUP BY face""".stripMargin)),
    Query("q_tile_assign", (s, dir) => {
      // full tile assignment at level 3, keyed by decoded (face, i, j) so
      // an independent SQL implementation of the quadratic cube tiling
      // can recompute every key.
      val pts = geoLineitem(s, dir)
      val dec = geo.cellDecode(geo.cellId(col("lon"), col("lat"), 3))
      pts.select(dec.getField("face").cast("long").as("face"),
          dec.getField("i").as("i"), dec.getField("j").as("j"))
        .groupBy("face", "i", "j").agg(count(lit(1)).as("n_points"))
    }, Sql(
      s"""${tileSql(lonSql, latSql, 3, "lineitem")}
         |SELECT CAST(face AS BIGINT) AS face, i, j,
         |  CAST(count(*) AS BIGINT) AS n_points
         |FROM tiled GROUP BY 1, 2, 3""".stripMargin)),
    Query("q_tile_pyramid", (s, dir) => {
      // multi-resolution rollup, levels 1..3: the parent-ladder pyramid
      // must equal direct per-level tiling (the oracle recomputes each
      // level independently from lon/lat in SQL).
      val pts = geoLineitem(s, dir)
      val dec = geo.cellDecode(col("cell"))
      GeoEngine.tilePyramid(pts, minLevel = 1, maxLevel = 3)
        .select(col("level").cast("long").as("level"),
          dec.getField("face").cast("long").as("face"),
          dec.getField("i").as("i"), dec.getField("j").as("j"),
          col("n_points"))
    }, Sql(
      (1 to 3).map { l =>
        s"""SELECT * FROM (
           |${tileSql(lonSql, latSql, l, "lineitem")}
           |SELECT CAST($l AS BIGINT) AS level, CAST(face AS BIGINT) AS face,
           |  i, j, CAST(count(*) AS BIGINT) AS n_points
           |FROM tiled GROUP BY 2, 3, 4)""".stripMargin
      }.mkString("\nUNION ALL\n"))),
    // --- hexagonal tiling (the "H3" half of "H3/S2") ---------------------
    Query("q_hex_occupancy", (s, dir) => {
      // planar pointy-top hexbin (250 km circumradius) over webmerc
      // metres: kernel projection + cube rounding, both replayed verbatim
      // by the DuckDB oracle.
      val pts = geoLineitem(s, dir)
      GeoEngine.hexOccupancy(pts, sizeMeters = 250000.0)
        .select(col("hq"), col("hr"), col("n_docs").as("n_points"))
    }, Sql(
      s"""${hexbinSql()}
         |SELECT CAST(hq AS BIGINT) AS hq, CAST(hr AS BIGINT) AS hr,
         |       CAST(count(*) AS BIGINT) AS n_points
         |FROM fixed GROUP BY 1, 2""".stripMargin)),
    Query("q_gi_star", (s, dir) => {
      // Getis-Ord Gi* hot-spot z-scores over 250 km hexbins of the
      // lineitem points.  Counts are the attribute, so every
      // cross-row aggregate is an exact long; the oracle replays the
      // hexbin chain, the ring-1 disk as the axial grid-distance
      // predicate, and the closed-form z from the same integers.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.giStarHex(pts, sizeMeters = 250000.0)
        .select(col("hq"), col("hr"), col("n_points"), col("wsum"),
          col("wn"), floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }, Sql(giStarSql(value = "", xName = "n_points"))),
    Query("q_gi_star_w", (s, dir) => {
      // value-WEIGHTED Gi* (ArcGIS attribute hot spots): the cell
      // attribute is the exact-long sum of an integer value, not the
      // point count; the oracle swaps count(*) for sum(v) in the same
      // replay.
      val pts = geoLineitem(s, dir)
        .withColumn("v", pmod(col("l_orderkey"), lit(97)))
      graft.geo.engine.SpatialStats.giStarHex(pts, sizeMeters = 250000.0,
          valueCol = "v")
        .select(col("hq"), col("hr"), col("n_points").as("sum_v"),
          col("wsum"), col("wn"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }, Sql(giStarSql(value = "l_orderkey % 97", xName = "sum_v"))),
    Query("q_moran", (s, dir) => {
      // global Moran's I (binary hex ring-1 weights, self excluded) over
      // the same 250 km hexbins — one row; the cross-product sum is
      // expanded so all data-dependent sums are exact longs.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.moranHex(pts, sizeMeters = 250000.0)
        .select(col("n_cells"), col("n_edges"),
          floor(col("i") * 1e6 + 0.5).cast("long").as("i_e6"))
    }, Sql(
      s"""${hexCellsSql()}$cellMomentsSql, ed AS (
         |  SELECT CAST(count(*) AS BIGINT) AS e,
         |         CAST(sum(a.x) AS BIGINT) AS s_xi,
         |         CAST(sum(b.x) AS BIGINT) AS s_xj,
         |         CAST(sum(a.x*b.x) AS BIGINT) AS s_xixj
         |  FROM cells a JOIN cells b
         |$ring1OnSql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |)
         |SELECT g.n AS n_cells, ed.e AS n_edges,
         |  CASE WHEN ed.e > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)
         |            - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CAST(floor(
         |    (CAST(g.n AS DOUBLE) / ed.e)
         |    * (CAST(ed.s_xixj AS DOUBLE)
         |       - CAST(g.sum_x AS DOUBLE)/g.n * ed.s_xi
         |       - CAST(g.sum_x AS DOUBLE)/g.n * ed.s_xj
         |       + ed.e * (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    / (CAST(g.sum_x2 AS DOUBLE)
         |       - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |         * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    * 1e6 + 0.5) AS BIGINT)
         |  END AS i_e6
         |FROM g CROSS JOIN ed""".stripMargin)),
    Query("q_idw", (s, dir) => {
      // inverse-distance-weighted surface (600 km radius, power 2) of an
      // integer attribute over the 250 km hexbins; the oracle replays
      // the hexbin chain, the ring-2 fan with quantized weights, and the
      // exact-hit rule from the identical longs.
      val pts = geoLineitem(s, dir)
        .withColumn("v", pmod(col("l_orderkey"), lit(97)))
      graft.geo.engine.SpatialStats.idwHex(pts, sizeMeters = 250000.0,
          radiusMeters = 600000.0, valueCol = "v")
        .select(col("hq"), col("hr"), col("n_points"), col("sum_v"),
          col("wnum"), col("wden"),
          floor(col("estimate") * 1e9 + 0.5).cast("long").as("est_e9"))
    }, Sql {
      // IDW replay: hexbin chain carrying the integer value, ring-2 offset
      // fan with the same quantized (size/d)^2 weights, full join for the
      // exact-hit rule — all longs identical, estimate closed-form.
      val r2 = 600000.0 * 600000.0
      val cells = hexCellsSql("l_orderkey % 97",
        "CAST(count(*) AS BIGINT) AS x,\n         CAST(sum(v) AS BIGINT) AS sv")
      s"""$cells${ring2FanSql("c.x, c.sv")}, wtab AS (
         |  SELECT hq, hr, x, sv,
         |    CASE WHEN dx*dx + dy*dy > 0 AND dx*dx + dy*dy <= $r2
         |    THEN CAST(floor((250000.0 / sqrt(dx*dx + dy*dy))
         |                  * (250000.0 / sqrt(dx*dx + dy*dy))
         |                  * 1048576.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS w
         |  FROM fan
         |), agg AS (
         |  SELECT hq, hr, CAST(sum(sv * w) AS BIGINT) AS wnum,
         |         CAST(sum(x * w) AS BIGINT) AS wden
         |  FROM wtab GROUP BY 1, 2
         |  HAVING sum(x * w) > 0
         |)
         |SELECT COALESCE(a.hq, c.hq) AS hq, COALESCE(a.hr, c.hr) AS hr,
         |  COALESCE(c.x, 0) AS n_points, COALESCE(c.sv, 0) AS sum_v,
         |  COALESCE(a.wnum, 0) AS wnum, COALESCE(a.wden, 0) AS wden,
         |  CAST(floor(CASE WHEN COALESCE(c.x, 0) > 0
         |    THEN CAST(c.sv AS DOUBLE) / CAST(c.x AS DOUBLE)
         |    ELSE CAST(a.wnum AS DOUBLE) / CAST(a.wden AS DOUBLE) END
         |    * 1e9 + 0.5) AS BIGINT) AS est_e9
         |FROM agg a
         |FULL JOIN cells c ON c.hq = a.hq AND c.hr = a.hr""".stripMargin
    }),
    Query("q_quadrat", (s, dir) => {
      // quadrat CSR test over the same 250 km hexbins — one row; the
      // oracle replays the hexbin chain, the axial bounding-rectangle
      // frame and the closed-form VMR/chi2/z from the same integers.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.quadratHex(pts, sizeMeters = 250000.0)
        .select(col("n_points"), col("n_cells"), col("n_occupied"),
          floor(col("mean") * 1e9 + 0.5).cast("long").as("mean_e9"),
          floor(col("vmr") * 1e6 + 0.5).cast("long").as("vmr_e6"),
          floor(col("chi2") * 1e3 + 0.5).cast("long").as("chi2_e3"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }, Sql(
      // quadrat replay: same hexbin chain, axial bounding-rectangle frame,
      // closed-form VMR / chi2 / z from the identical exact integers (the
      // empty-quadrat contribution enters via ss = sum_x2 - n^2/N).
      s"""${hexCellsSql()}, g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS occ,
         |         CAST(sum(x) AS BIGINT) AS sum_x,
         |         CAST(sum(x*x) AS BIGINT) AS sum_x2,
         |         min(hq) AS min_q, max(hq) AS max_q,
         |         min(hr) AS min_r, max(hr) AS max_r
         |  FROM cells
         |), f AS (
         |  SELECT occ, sum_x, sum_x2,
         |         (max_q - min_q + 1) * (max_r - min_r + 1) AS nc,
         |         CAST((max_q - min_q + 1) * (max_r - min_r + 1) AS DOUBLE) AS nd,
         |         CAST(sum_x AS DOUBLE) AS sxd,
         |         CAST(sum_x2 AS DOUBLE) AS sx2d
         |  FROM g
         |)
         |SELECT COALESCE(sum_x, 0) AS n_points,
         |  CASE WHEN occ > 0 THEN nc ELSE 0 END AS n_cells,
         |  occ AS n_occupied,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    sxd / nd * 1e9 + 0.5) AS BIGINT) END AS mean_e9,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    (sx2d - sxd * sxd / nd) / (nd - 1.0) / (sxd / nd)
         |    * 1e6 + 0.5) AS BIGINT) END AS vmr_e6,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    (sx2d - sxd * sxd / nd) / (sxd / nd)
         |    * 1e3 + 0.5) AS BIGINT) END AS chi2_e3,
         |  CASE WHEN sum_x > 0 AND nc > 1 THEN CAST(floor(
         |    (sqrt(2.0 * ((sx2d - sxd * sxd / nd) / (sxd / nd)))
         |     - sqrt(2.0 * (nd - 1.0) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS z_e6
         |FROM f""".stripMargin)),
    Query("q_general_g", (s, dir) => {
      // Getis-Ord General G (high/low clustering) over the same 250 km
      // hexbins — one row; edge products and the four raw moments are
      // exact integers (decimal for x^3/x^4), z replayed closed-form.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.generalGHex(pts, sizeMeters = 250000.0)
        .select(col("n_cells"), col("n_edges"),
          floor(col("g") * 1e12 + 0.5).cast("long").as("g_e12"),
          floor(col("e_g") * 1e12 + 0.5).cast("long").as("eg_e12"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"))
    }, Sql(
      // General G replay: the q_moran edge frame plus per-cell degrees;
      // HUGEINT mirrors of the decimal moment sums; the Getis-Ord B0..B4
      // variance expansion written in the identical operation order.
      s"""${hexCellsSql()}, g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x) AS DOUBLE) AS m1,
         |         CAST(sum(x*x) AS DOUBLE) AS m2,
         |         CAST(sum(CAST(x AS HUGEINT)*x*x) AS DOUBLE) AS m3,
         |         CAST(sum(CAST(x AS HUGEINT)*x*x*x) AS DOUBLE) AS m4
         |  FROM cells
         |), deg AS (
         |  SELECT a.hq, a.hr, CAST(count(*) AS BIGINT) AS dg,
         |         sum(CAST(a.x AS HUGEINT) * b.x) AS sg
         |  FROM cells a JOIN cells b
         |$ring1OnSql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |  GROUP BY 1, 2
         |), ed AS (
         |  SELECT CAST(sum(dg) AS BIGINT) AS w,
         |         CAST(sum(dg*dg) AS DOUBLE) AS sum_deg2,
         |         CAST(sum(sg) AS DOUBLE) AS num_g
         |  FROM deg
         |), s AS (
         |  SELECT g.n, CAST(g.n AS DOUBLE) AS nd, g.m1, g.m2, g.m3, g.m4,
         |         ed.w, CAST(ed.w AS DOUBLE) AS wd,
         |         2.0 * CAST(ed.w AS DOUBLE) AS s1,
         |         4.0 * ed.sum_deg2 AS s2,
         |         ed.num_g, g.m1 * g.m1 - g.m2 AS dp
         |  FROM g CROSS JOIN ed
         |), v AS (
         |  SELECT n, w, num_g, dp, nd, wd, m1, m2, m3, m4,
         |    num_g / dp AS gstat,
         |    wd / (nd * (nd - 1.0)) AS eg,
         |    (((nd * nd - 3.0 * nd + 3.0) * s1 - nd * s2 + 3.0 * wd * wd)
         |       * m2 * m2
         |     + (-((nd * nd - nd) * s1 - 2.0 * nd * s2 + 6.0 * wd * wd)) * m4
         |     + (-(2.0 * nd * s1 - (nd + 3.0) * s2 + 6.0 * wd * wd))
         |       * m1 * m1 * m2
         |     + (4.0 * (nd - 1.0) * s1 - 2.0 * (nd + 1.0) * s2
         |        + 8.0 * wd * wd) * m1 * m3
         |     + (s1 - s2 + wd * wd) * m1 * m1 * m1 * m1)
         |    / (dp * dp * nd * (nd - 1.0) * (nd - 2.0) * (nd - 3.0)) AS eg2
         |  FROM s
         |)
         |SELECT n AS n_cells, COALESCE(w, 0) AS n_edges,
         |  CASE WHEN n > 3 AND w > 0 AND dp > 0
         |        AND eg2 - eg * eg > 0 THEN CAST(floor(
         |    gstat * 1e12 + 0.5) AS BIGINT) END AS g_e12,
         |  CASE WHEN n > 3 AND w > 0 AND dp > 0
         |        AND eg2 - eg * eg > 0 THEN CAST(floor(
         |    eg * 1e12 + 0.5) AS BIGINT) END AS eg_e12,
         |  CASE WHEN n > 3 AND w > 0 AND dp > 0
         |        AND eg2 - eg * eg > 0 THEN CAST(floor(
         |    (gstat - eg) / sqrt(eg2 - eg * eg) * 1e6 + 0.5) AS BIGINT)
         |  END AS z_e6
         |FROM v""".stripMargin)),
    Query("q_geary", (s, dir) => {
      // Geary's C (binary hex ring-1 weights, self excluded) over the
      // same 250 km hexbins — one row; the squared-difference edge sum
      // is an exact long, C closed-form from it.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.gearyHex(pts, sizeMeters = 250000.0)
        .select(col("n_cells"), col("n_edges"), col("s_d2"),
          floor(col("c") * 1e6 + 0.5).cast("long").as("c_e6"))
    }, Sql(
      // Geary's C replay: same hexbin + ordered ring-1 edge chain as
      // q_moran, with the exact-long squared-difference edge sum and the
      // closed-form (n-1)*s_d2 / (2*e*den) from the identical integers.
      s"""${hexCellsSql()}$cellMomentsSql, ed AS (
         |  SELECT CAST(count(*) AS BIGINT) AS e,
         |         CAST(sum((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS s_d2
         |  FROM cells a JOIN cells b
         |$ring1OnSql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |)
         |SELECT g.n AS n_cells, ed.e AS n_edges,
         |  COALESCE(ed.s_d2, 0) AS s_d2,
         |  CASE WHEN ed.e > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)
         |            - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CAST(floor(
         |    CAST(g.n - 1 AS DOUBLE) * CAST(COALESCE(ed.s_d2, 0) AS DOUBLE)
         |    / (2.0 * CAST(ed.e AS DOUBLE)
         |       * (CAST(g.sum_x2 AS DOUBLE)
         |          - g.n * (CAST(g.sum_x AS DOUBLE)/g.n)
         |            * (CAST(g.sum_x AS DOUBLE)/g.n)))
         |    * 1e6 + 0.5) AS BIGINT)
         |  END AS c_e6
         |FROM g CROSS JOIN ed""".stripMargin)),
    Query("q_join_counts", (s, dir) => {
      // Cliff-Ord join-count statistics over the 250 km hexbins:
      // black = cell count >= 150.  BB/BW/WW are exact longs over
      // unordered edges (ordered list halved by integer DIV); the
      // hypergeometric expectations are closed-form doubles.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats
        .joinCountsHex(pts, sizeMeters = 250000.0, threshold = 150L)
        .select(col("n_cells"), col("n_black"), col("n_edges"),
          col("bb"), col("bw"), col("ww"),
          floor(col("e_bb") * 1e6 + 0.5).cast("long").as("ebb_e6"),
          floor(col("e_bw") * 1e6 + 0.5).cast("long").as("ebw_e6"),
          floor(col("e_ww") * 1e6 + 0.5).cast("long").as("eww_e6"))
    }, Sql(
      // join-count replay: binary flag at the same threshold, ordered
      // edge sums halved by integer division, hypergeometric expectations
      // from the same exact longs.
      s"""${hexCellsSql(agg = "CASE WHEN count(*) >= 150 THEN 1 ELSE 0 END AS b")}, g AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(b) AS BIGINT) AS nb
         |  FROM cells
         |), ed AS (
         |  SELECT CAST(count(*) AS BIGINT) AS e2,
         |         CAST(sum(a.b * b.b) AS BIGINT) AS bb2,
         |         CAST(sum(CASE WHEN a.b <> b.b THEN 1 ELSE 0 END)
         |              AS BIGINT) AS bw2
         |  FROM cells a JOIN cells b
         |$ring1OnSql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |)
         |SELECT g.n AS n_cells, g.nb AS n_black,
         |  ed.e2 // 2 AS n_edges,
         |  COALESCE(ed.bb2, 0) // 2 AS bb,
         |  COALESCE(ed.bw2, 0) // 2 AS bw,
         |  ed.e2 // 2 - COALESCE(ed.bb2, 0) // 2
         |    - COALESCE(ed.bw2, 0) // 2 AS ww,
         |  CASE WHEN g.n > 1 THEN CAST(floor(
         |    CAST(ed.e2 // 2 AS DOUBLE) * CAST(g.nb AS DOUBLE)
         |      * (CAST(g.nb AS DOUBLE) - 1.0)
         |    / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS ebb_e6,
         |  CASE WHEN g.n > 1 THEN CAST(floor(
         |    2.0 * CAST(ed.e2 // 2 AS DOUBLE) * CAST(g.nb AS DOUBLE)
         |      * CAST(g.n - g.nb AS DOUBLE)
         |    / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS ebw_e6,
         |  CASE WHEN g.n > 1 THEN CAST(floor(
         |    CAST(ed.e2 // 2 AS DOUBLE) * CAST(g.n - g.nb AS DOUBLE)
         |      * (CAST(g.n - g.nb AS DOUBLE) - 1.0)
         |    / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
         |    * 1e6 + 0.5) AS BIGINT) END AS eww_e6
         |FROM g CROSS JOIN ed""".stripMargin)),
    Query("q_centrography", (s, dir) => {
      // centrography (mean center / standard distance / deviational
      // ellipse) of the lineitem points per l_suppkey % 7 group.  The
      // engine quantizes webmerc coords to integer mm and keeps exact
      // decimal sums, so the oracle replays the identical integers
      // (HUGEINT sums in DuckDB) and the same closed-form doubles.
      val pts = suppGroups(s, dir)
      graft.geo.engine.Centrography.summary(pts, groupCols = Seq("grp"))
        .select(col("grp"), col("n_points"),
          floor(col("mean_x") * 1e3 + 0.5).cast("long").as("meanx_e3"),
          floor(col("mean_y") * 1e3 + 0.5).cast("long").as("meany_e3"),
          floor(col("std_dist") * 1e3 + 0.5).cast("long").as("std_e3"),
          floor(col("sde_major") * 1e3 + 0.5).cast("long").as("major_e3"),
          floor(col("sde_minor") * 1e3 + 0.5).cast("long").as("minor_e3"),
          floor(col("sde_theta") * 1e9 + 0.5).cast("long").as("theta_e9"))
    }, Sql(
      // centrography replay: identical mm quantization, exact HUGEINT
      // sums (the engine's decimal(38,0) twins), and the same closed-form
      // mean/std/eigen-ellipse expression shapes on the cast doubles.
      s"""$mmGroupsSql, s AS (
         |  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         |         sum(CAST(xq AS HUGEINT)) AS sx,
         |         sum(CAST(yq AS HUGEINT)) AS sy,
         |         sum(CAST(xq AS HUGEINT) * xq) AS sxx,
         |         sum(CAST(yq AS HUGEINT) * yq) AS syy,
         |         sum(CAST(xq AS HUGEINT) * yq) AS sxy
         |  FROM q GROUP BY 1
         |), m AS (
         |  SELECT grp, n,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
         |    CAST(sxy AS DOUBLE) AS sxyd, CAST(n AS DOUBLE) AS nd
         |  FROM s
         |), abc AS (
         |  SELECT grp, n, nd, sxd, syd,
         |    sxxd - sxd * sxd / nd AS a,
         |    syyd - syd * syd / nd AS b,
         |    sxyd - sxd * syd / nd AS c
         |  FROM m
         |), lam AS (
         |  SELECT grp, n, nd, sxd, syd, a, b, c,
         |    (a + b + sqrt((a - b) * (a - b) + 4.0 * c * c)) / (2.0 * nd)
         |      AS lam1,
         |    (a + b - sqrt((a - b) * (a - b) + 4.0 * c * c)) / (2.0 * nd)
         |      AS lam2
         |  FROM abc
         |)
         |SELECT CAST(grp AS BIGINT) AS grp, n AS n_points,
         |  CAST(floor(sxd / nd / 1000.0 * 1e3 + 0.5) AS BIGINT) AS meanx_e3,
         |  CAST(floor(syd / nd / 1000.0 * 1e3 + 0.5) AS BIGINT) AS meany_e3,
         |  CAST(floor(sqrt((a + b) / nd) / 1000.0 * 1e3 + 0.5) AS BIGINT)
         |    AS std_e3,
         |  CASE WHEN a + b > 0 THEN CAST(floor(
         |    sqrt(2.0 * greatest(lam1, 0.0)) / 1000.0 * 1e3 + 0.5) AS BIGINT)
         |  END AS major_e3,
         |  CASE WHEN a + b > 0 THEN CAST(floor(
         |    sqrt(2.0 * greatest(lam2, 0.0)) / 1000.0 * 1e3 + 0.5) AS BIGINT)
         |  END AS minor_e3,
         |  CASE WHEN a + b > 0 THEN CAST(floor(
         |    atan2(2.0 * c, a - b) / 2.0 * 1e9 + 0.5) AS BIGINT)
         |  END AS theta_e9
         |FROM lam""".stripMargin)),
    Query("q_convex_hull", (s, dir) => {
      // per-group convex hull (mm-quantized webmerc, exact BigInt
      // monotone chain).  The hull itself is not SQL-constructible, so
      // the oracle checks the hull's SUPPORT FUNCTION on 16 integer
      // directions: max(x*dx + y*dy) over the hull VERTICES must equal
      // the max over ALL RAW POINTS (exact longs both sides) — the
      // defining property of a correct hull, hash-verified per group.
      val pts = suppGroups(s, dir)
      val hull = graft.geo.engine.Centrography
        .convexHull(pts, groupCols = Seq("grp"))
      hull.select(col("grp") +: col("n_points") +:
        HullDirs.zipWithIndex.map { case ((dx, dy), i) =>
          array_max(zip_with(col("hull_x_mm"), col("hull_y_mm"),
            (x, y) => x * lit(dx.toLong) + y * lit(dy.toLong)))
            .as(f"s$i%02d")
        }: _*)
    }, Sql {
      // convex-hull replay: the support function sampled on 16 integer
      // directions over RAW mm-quantized points — equals the engine's
      // hull-vertex supports iff the hull contains every extreme point.
      val supportsSql = HullDirs.zipWithIndex.map { case ((dx, dy), i) =>
        f"max(xq * ($dx%d) + yq * ($dy%d)) AS s$i%02d"
      }.mkString(",\n         |         ")
      s"""$mmGroupsSql
         |SELECT grp, CAST(count(*) AS BIGINT) AS n_points,
         |         $supportsSql
         |FROM q GROUP BY 1""".stripMargin
    }),
    Query("q_kde", (s, dir) => {
      // quartic kernel-density heatmap over 250 km hexes at 600 km
      // bandwidth (2-ring fan).  Each neighbor's kernel value is
      // quantized to an exact 2^20 long so the numerator is an exact
      // long; the oracle regenerates the delta fan and replays weight,
      // numerator and density from the identical integers.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats
        .kdeHex(pts, sizeMeters = 250000.0, bandwidthMeters = 600000.0)
        .select(col("hq"), col("hr"), col("n_points"), col("wnum"),
          floor(col("density") * 1e18 + 0.5).cast("long").as("dens_e18"))
    }, Sql {
      // KDE replay: hexbin chain, the 2-ring delta fan regenerated by the
      // axial grid-distance predicate, the identical quantized-weight
      // formula (constants printed by the same Scala code) and the exact
      // long numerator; empty-but-reached cells come back via the left
      // join exactly as in the engine.
      val bw2 = 600000.0 * 600000.0
      val norm = 3.0 / (math.Pi * 600000.0 * 600000.0)
      s"""${hexCellsSql()}${ring2FanSql("c.x")}, wtab AS (
         |  SELECT hq, hr, x,
         |    CASE WHEN (dx*dx + dy*dy) / $bw2 < 1.0
         |    THEN CAST(floor((1.0 - (dx*dx + dy*dy) / $bw2)
         |                  * (1.0 - (dx*dx + dy*dy) / $bw2)
         |                  * 1048576.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS w
         |  FROM fan
         |), agg AS (
         |  SELECT hq, hr, CAST(sum(x * w) AS BIGINT) AS wnum
         |  FROM wtab GROUP BY 1, 2
         |  HAVING sum(x * w) > 0
         |)
         |SELECT a.hq, a.hr, COALESCE(c.x, 0) AS n_points, a.wnum,
         |  CAST(floor(CAST(a.wnum AS DOUBLE) / 1048576.0 * $norm * 1e18
         |             + 0.5) AS BIGINT) AS dens_e18
         |FROM agg a
         |LEFT JOIN cells c ON c.hq = a.hq AND c.hr = a.hr""".stripMargin
    }),
    Query("q_ripley_k", (s, dir) => {
      // Ripley's K / Besag L point-pattern statistic over a deterministic
      // 1/23 sample of the lineitem points (the oracle replay is the
      // quadratic chord cross join; the engine side is the one-shuffle
      // cell-cover self-join).  Pair counts per radius rung are exact
      // longs; K and L are closed-form doubles from those longs.
      val pts = geoLineitem(s, dir).where(pmod(col("pt_id"), lit(23)) === 0)
      graft.geo.engine.SpatialStats
        .ripleysK(pts, KRadii, RipleyAreaM2)
        .select(col("n_points"), col("r_meters"), col("n_pairs"),
          floor(col("k") + 0.5).cast("long").as("k_e0"),
          floor(col("l") * 1e3 + 0.5).cast("long").as("l_e3"))
    }, Sql {
      // Ripley's K replay: quadratic chord cross join over the 1/23
      // sample, counts per rung as conditional sums, then K = A*cnt/n(n-1)
      // and L = sqrt(K/pi) from the identical double constants (chord
      // thresholds and area computed by the same Scala code).
      def rung(k: Int): String =
        s"""SELECT n.n_points, CAST(${KRadii(k).toLong} AS BIGINT) AS r_meters, cnt.c$k AS n_pairs,
           |  ${klSql(s"cnt.c$k", "n.n_points * (n.n_points - 1)")}
           |FROM cnt CROSS JOIN n""".stripMargin
      s"""WITH p AS (
         |  SELECT l_orderkey*8 + l_linenumber AS pid,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |  WHERE (l_orderkey*8 + l_linenumber) % 23 = 0
         |), pr AS (
         |  SELECT
         |    ${chordSql("a", "b")} AS cd
         |  FROM p a JOIN p b ON a.pid <> b.pid
         |), cnt AS (
         |  SELECT
         |    ${rungCountsSql("", ",\n    ")}
         |  FROM pr
         |), n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_points FROM p
         |)
         |${rungsSql(rung)}""".stripMargin
    }),
    Query("q_l_envelope", (s, dir) => {
      // Monte-Carlo CSR envelope for Ripley's L over the 1/97 sample,
      // 19 sims.  Hash-verified since round 4: the sim generator is a
      // two-round integer LCG that DuckDB replays with exact integer
      // arithmetic, so the oracle recomputes the observed AND simulated
      // pair counts, the envelope and the p-value end-to-end.
      val pts = geoLineitem(s, dir).where(pmod(col("pt_id"), lit(97)) === 0)
      graft.geo.engine.SpatialStats.lEnvelope(pts,
          KRadii, RipleyAreaM2, nSims = 19)
        .select(col("r_meters"), col("n_points"), col("n_sims"),
          col("obs_pairs"), col("lo_pairs"), col("hi_pairs"), col("n_ge"),
          floor(col("obs_l") * 1e3 + 0.5).cast("long").as("obs_l_e3"),
          floor(col("hi_l") * 1e3 + 0.5).cast("long").as("hi_l_e3"),
          floor(col("p_upper") * 1e6 + 0.5).cast("long").as("p_e6"))
    }, Sql {
      // full CSR-envelope replay: the LCG sim generator, observed and
      // per-sim quadratic pair counts, envelope min/max, n_ge and the
      // p-value — all recomputed in SQL with the engine's own op order
      val chord = chordSql("a", "b")
      def rung(k: Int): String =
        s"""SELECT CAST(${KRadii(k).toLong} AS BIGINT) AS r_meters, n.n_points,
           |  CAST(19 AS BIGINT) AS n_sims, o.oc$k AS obs_pairs,
           |  e.lo$k AS lo_pairs, e.hi$k AS hi_pairs, g.ge$k AS n_ge,
           |  ${lSql(s"o.oc$k", "n.n_points * (n.n_points - 1)")} AS obs_l_e3,
           |  ${lSql(s"e.hi$k", "n.n_points * (n.n_points - 1)")} AS hi_l_e3,
           |  CAST(floor((CAST(g.ge$k + 1 AS DOUBLE) / 20.0) * 1e6 + 0.5)
           |    AS BIGINT) AS p_e6
           |FROM o, e, g, n""".stripMargin
      s"""WITH p AS (
         |  SELECT l_orderkey*8 + l_linenumber AS pid,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |  WHERE (l_orderkey*8 + l_linenumber) % 97 = 0
         |), n AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_points FROM p
         |), ids AS (
         |  -- sim ids derived from the data itself (19 sims x n_points),
         |  -- so the oracle scales with sf instead of a fixed range bound
         |  SELECT s.sim,
         |    (s.sim - 1) * (SELECT n_points FROM n) + q.rn AS pid
         |  FROM (SELECT unnest(generate_series(1, 19)) AS sim) s
         |  CROSS JOIN (SELECT row_number() OVER () - 1 AS rn FROM p) q
         |), sims AS (
         |  -- chained LCG: the lat state is the NEXT round of the chain
         |  -- that produced the lon state (consecutive-pair MLCG draws,
         |  -- matching SpatialStats.lEnvelope exactly)
         |  SELECT sim, pid,
         |    (CAST(s1 AS DOUBLE) / 2147483647.0) * 360.0 - 180.0 AS lon,
         |    degrees(asin((CAST((s1 * 69621 + 7919) % 2147483647 AS DOUBLE)
         |       / 2147483647.0) * 2.0 - 1.0)) AS lat
         |  FROM (
         |    SELECT sim, pid,
         |      (((pid*48271 + 42) % 2147483647) * 69621 + 7919)
         |        % 2147483647 AS s1
         |    FROM ids
         |  )
         |), op AS (
         |  SELECT $chord AS cd FROM p a JOIN p b ON a.pid <> b.pid
         |), o AS (
         |  SELECT ${rungCountsSql("o", ", ")} FROM op
         |), sp_ AS (
         |  SELECT a.sim, $chord AS cd
         |  FROM sims a JOIN sims b ON a.sim = b.sim AND a.pid <> b.pid
         |), persim0 AS (
         |  SELECT sim, ${rungCountsSql("s", ", ")} FROM sp_ GROUP BY sim
         |), persim AS (
         |  SELECT s.sim, coalesce(sc0, 0) AS sc0, coalesce(sc1, 0) AS sc1,
         |         coalesce(sc2, 0) AS sc2
         |  FROM (SELECT DISTINCT sim FROM sims) s
         |  LEFT JOIN persim0 ON s.sim = persim0.sim
         |), e AS (
         |  SELECT CAST(min(sc0) AS BIGINT) AS lo0, CAST(max(sc0) AS BIGINT) AS hi0,
         |         CAST(min(sc1) AS BIGINT) AS lo1, CAST(max(sc1) AS BIGINT) AS hi1,
         |         CAST(min(sc2) AS BIGINT) AS lo2, CAST(max(sc2) AS BIGINT) AS hi2
         |  FROM persim
         |), g AS (
         |  SELECT CAST(sum(CASE WHEN sc0 >= (SELECT oc0 FROM o) THEN 1 ELSE 0 END) AS BIGINT) AS ge0,
         |         CAST(sum(CASE WHEN sc1 >= (SELECT oc1 FROM o) THEN 1 ELSE 0 END) AS BIGINT) AS ge1,
         |         CAST(sum(CASE WHEN sc2 >= (SELECT oc2 FROM o) THEN 1 ELSE 0 END) AS BIGINT) AS ge2
         |  FROM persim
         |)
         |${rungsSql(rung)}""".stripMargin
    }),
    Query("q_cross_k", (s, dir) => {
      // bivariate (cross-type) Ripley's K between the even and odd
      // halves of the 1/23 lineitem sample — colocation of two point
      // types; the oracle replays the quadratic A x B chord join, the
      // engine runs the one-shuffle cell-cover join.
      val pts = geoLineitem(s, dir).where(pmod(col("pt_id"), lit(23)) === 0)
      val a = pts.where(pmod(col("pt_id"), lit(2)) === 0)
      val b = pts.where(pmod(col("pt_id"), lit(2)) === 1)
      graft.geo.engine.SpatialStats
        .crossK(a, b, KRadii, RipleyAreaM2)
        .select(col("n_a"), col("n_b"), col("r_meters"), col("n_pairs"),
          floor(col("k") + 0.5).cast("long").as("k_e0"),
          floor(col("l") * 1e3 + 0.5).cast("long").as("l_e3"))
    }, Sql {
      // cross-K replay: quadratic A x B chord join over the same split
      // sample; conditional exact counts per rung, K/L closed-form.
      def rung(k: Int): String =
        s"""SELECT n.n_a, n.n_b, CAST(${KRadii(k).toLong} AS BIGINT) AS r_meters,
           |  cnt.c$k AS n_pairs,
           |  ${klSql(s"cnt.c$k", "n.n_a * n.n_b")}
           |FROM cnt CROSS JOIN n""".stripMargin
      s"""WITH p AS (
         |  SELECT (l_orderkey*8 + l_linenumber) AS pid,
         |         $lonSql AS lon, $latSql AS lat
         |  FROM lineitem
         |  WHERE (l_orderkey*8 + l_linenumber) % 23 = 0
         |), pa AS (
         |  SELECT * FROM p WHERE pid % 2 = 0
         |), pb AS (
         |  SELECT * FROM p WHERE pid % 2 = 1
         |), pr AS (
         |  SELECT
         |    ${chordSql("a", "b")} AS cd
         |  FROM pa a CROSS JOIN pb b
         |), cnt AS (
         |  SELECT
         |    ${rungCountsSql("", ",\n    ")}
         |  FROM pr
         |), n AS (
         |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM pa) AS n_a,
         |         (SELECT CAST(count(*) AS BIGINT) FROM pb) AS n_b
         |)
         |${rungsSql(rung)}""".stripMargin
    }),
    Query("q_local_moran", (s, dir) => {
      // Anselin local Moran (LISA) over the same 250 km hexbins: per
      // occupied hex, I_i from exact neighbor sums (self excluded) and
      // the HH/LH/LL/HL quadrant by strict signs; isolates keep null I.
      val pts = geoLineitem(s, dir)
      graft.geo.engine.SpatialStats.localMoranHex(pts, sizeMeters = 250000.0)
        .select(col("hq"), col("hr"), col("n_points"), col("nbrsum"),
          col("nbrn"),
          floor(col("i_local") * 1e6 + 0.5).cast("long").as("i_e6"),
          col("quad").cast("long").as("quad"))
    }, Sql(
      // local Moran replay: same hexbin chain; neighbor sums from the
      // self-excluded adjacency self-join (LEFT so isolates survive with
      // zero sums and null I/quad), then I_i and the strict-sign quadrant
      // from the exact longs.
      s"""${hexCellsSql()}$cellMomentsSql, nbr AS (
         |  SELECT a.hq, a.hr,
         |         CAST(sum(b.x) AS BIGINT) AS nbrsum,
         |         CAST(count(b.x) AS BIGINT) AS nbrn
         |  FROM cells a LEFT JOIN cells b
         |$ring1OnSql
         |   AND NOT (a.hq = b.hq AND a.hr = b.hr)
         |  GROUP BY 1, 2
         |)
         |SELECT c.hq, c.hr, c.x AS n_points,
         |  COALESCE(nb.nbrsum, 0) AS nbrsum, nb.nbrn,
         |  CASE WHEN nb.nbrn > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)/g.n
         |            - (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CAST(floor(
         |    (CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n)
         |    * (CAST(nb.nbrsum AS DOUBLE)
         |       - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    / (CAST(g.sum_x2 AS DOUBLE)/g.n
         |       - (CAST(g.sum_x AS DOUBLE)/g.n)
         |         * (CAST(g.sum_x AS DOUBLE)/g.n))
         |    * 1e6 + 0.5) AS BIGINT)
    |  END AS i_e6,
         |  CAST(CASE WHEN nb.nbrn > 0
         |        AND CAST(g.sum_x2 AS DOUBLE)/g.n
         |            - (CAST(g.sum_x AS DOUBLE)/g.n)
         |              * (CAST(g.sum_x AS DOUBLE)/g.n) > 0
         |  THEN CASE
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n > 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) > 0 THEN 1
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n < 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) > 0 THEN 2
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n < 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) < 0 THEN 3
         |    WHEN CAST(c.x AS DOUBLE) - CAST(g.sum_x AS DOUBLE)/g.n > 0
         |     AND CAST(nb.nbrsum AS DOUBLE)
         |         - nb.nbrn * (CAST(g.sum_x AS DOUBLE)/g.n) < 0 THEN 4
         |  END END AS BIGINT) AS quad
         |FROM cells c
         |JOIN nbr nb ON c.hq = nb.hq AND c.hr = nb.hr
         |CROSS JOIN g""".stripMargin)),
    Query("q_mk_trend", (s, dir) => {
      // per-hex Mann-Kendall trend of daily event counts (the emerging-
      // hot-spot statistic over the space-time cube): positions fixed
      // per user, 250 km hexbins, day bins dense over the global range.
      // S, the tie term and 18*Var are exact longs; the continuity-
      // corrected z and the exact-median Sen slope are the only doubles,
      // all replayed in SQL from the same integers.
      val pts = userGridEvents(s, dir)
      graft.geo.engine.SpatialStats
        .mannKendallHex(pts, sizeMeters = 250000.0, binSeconds = 86400L)
        .select(col("hq"), col("hr"), col("n_bins"), col("s"),
          col("var_s18"),
          floor(col("z") * 1e6 + 0.5).cast("long").as("z_e6"),
          floor(col("sen_slope") * 1e9 + 0.5).cast("long").as("slope_e9"))
    }, Sql(
      // Mann-Kendall replay: webmerc+hexbin chain over per-user fixed
      // positions, exact integer day bins, the dense global-range series
      // via generate_series, S / tie term / 18*Var as exact longs from
      // the pair self-join, then the continuity-corrected z and the
      // exact-median Sen slope (row_number middle picks, averaging the
      // two middles for even pair counts) from the same integers.
      s"""$binnedHexSql, dense AS (
        |  SELECT d.hq, d.hr, g.bin, COALESCE(c.x, 0) AS x
        |  FROM (SELECT DISTINCT hq, hr FROM counts) d
        |  CROSS JOIN (SELECT unnest(generate_series(minb, maxb)) AS bin
        |              FROM rng) g
        |  LEFT JOIN counts c ON c.hq = d.hq AND c.hr = d.hr AND c.bin = g.bin
        |), prs AS (
        |  SELECT a.hq, a.hr, a.bin AS bi, b.bin AS bj, a.x AS xi, b.x AS xj
        |  FROM dense a JOIN dense b
        |    ON a.hq = b.hq AND a.hr = b.hr AND a.bin < b.bin
        |), sagg AS (
        |  SELECT hq, hr,
        |         CAST(sum(CASE WHEN xj > xi THEN 1
        |                       WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM prs GROUP BY 1, 2
        |), pr AS (
        |  SELECT hq, hr, CAST(xj - xi AS DOUBLE) / (bj - bi) AS slope,
        |         row_number() OVER (PARTITION BY hq, hr
        |                            ORDER BY CAST(xj - xi AS DOUBLE) / (bj - bi),
        |                                     bi, bj) AS rn,
        |         count(*) OVER (PARTITION BY hq, hr) AS cnt
        |  FROM prs
        |), sen AS (
        |  SELECT hq, hr, avg(slope) AS sen_slope
        |  FROM pr WHERE rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
        |  GROUP BY 1, 2
        |), ties AS (
        |  SELECT hq, hr,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM (SELECT hq, hr, x, CAST(count(*) AS BIGINT) AS t
        |        FROM dense GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |), nb AS (
        |  SELECT hq, hr, CAST(count(*) AS BIGINT) AS n_bins
        |  FROM dense GROUP BY 1, 2
        |)
        |SELECT nb.hq, nb.hr, nb.n_bins, sagg.s,
        |  nb.n_bins * (nb.n_bins - 1) * (2 * nb.n_bins + 5) - ties.tie18
        |    AS var_s18,
        |  CASE WHEN nb.n_bins * (nb.n_bins - 1) * (2 * nb.n_bins + 5)
        |            - ties.tie18 > 0
        |  THEN CAST(floor(
        |    CASE WHEN sagg.s > 0 THEN CAST(sagg.s - 1 AS DOUBLE)
        |         WHEN sagg.s < 0 THEN CAST(sagg.s + 1 AS DOUBLE)
        |         ELSE 0.0 END
        |    / sqrt(CAST(nb.n_bins * (nb.n_bins - 1) * (2 * nb.n_bins + 5)
        |                - ties.tie18 AS DOUBLE) / 18.0)
        |    * 1e6 + 0.5) AS BIGINT)
        |  END AS z_e6,
        |  CAST(floor(sen.sen_slope * 1e9 + 0.5) AS BIGINT) AS slope_e9
        |FROM nb
        |JOIN ties ON ties.hq = nb.hq AND ties.hr = nb.hr
        |JOIN sagg ON sagg.hq = nb.hq AND sagg.hr = nb.hr
        |JOIN sen ON sen.hq = nb.hq AND sen.hr = nb.hr""".stripMargin)),
    Query("q_emerging", (s, dir) => {
      // emerging hot-spot analysis (space-time Gi* + MK trend over the z
      // series + the category rule chain) over 250 km hexes x day bins
      // of the per-user event positions.  The ENTIRE composition — cube,
      // space-time neighborhood z landscape, flag history, z-series
      // Mann-Kendall, category CASE — replays in SQL because every
      // data-dependent quantity is an exact long or a double derived
      // from exact longs by an identical expression shape.
      val pts = userGridEvents(s, dir)
      graft.geo.engine.SpatialStats
        .emergingHotSpotsHex(pts, sizeMeters = 250000.0,
          binSeconds = 86400L, zCrit = 1.96, hotFrac = 0.6)
        .select(col("hq"), col("hr"), col("n_bins"), col("n_hot"),
          col("n_cold"),
          floor(col("last_z") * 1e6 + 0.5).cast("long").as("lastz_e6"),
          floor(col("mk_z") * 1e6 + 0.5).cast("long").as("mkz_e6"),
          col("category"))
    }, Sql(
      // emerging hot-spot replay: the full composition in SQL — hexbin
      // cube, dense global-range fill, spatial adjacency x (+-1 bin)
      // space-time Gi*, flag history aggregates (last-bin values by a
      // join on maxb), Mann-Kendall over the z DOUBLES (sign comparisons
      // and tie groups match because both engines derive bit-identical
      // doubles from the same exact longs), and the category CASE chain
      // in the engine's documented precedence.
      s"""$binnedHexSql, dcells AS (
        |  SELECT DISTINCT hq, hr FROM counts
        |), dense AS (
        |  SELECT d.hq, d.hr, g.bin, COALESCE(c.x, 0) AS x
        |  FROM dcells d
        |  CROSS JOIN (SELECT unnest(generate_series(minb, maxb)) AS bin
        |              FROM rng) g
        |  LEFT JOIN counts c ON c.hq = d.hq AND c.hr = d.hr AND c.bin = g.bin
        |), g AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nn,
        |         CAST(sum(x) AS BIGINT) AS sum_x,
        |         CAST(sum(x*x) AS BIGINT) AS sum_x2
        |  FROM dense
        |), adj AS (
        |  SELECT a.hq AS ahq, a.hr AS ahr, b.hq AS bhq, b.hr AS bhr
        |  FROM dcells a JOIN dcells b
        |    ON (abs(a.hq - b.hq) + abs(a.hr - b.hr)
        |        + abs((a.hq - b.hq) + (a.hr - b.hr))) / 2 <= 1
        |), nbr AS (
        |  SELECT t.hq, t.hr, t.bin,
        |         CAST(sum(u.x) AS BIGINT) AS wsum,
        |         CAST(count(*) AS BIGINT) AS wn
        |  FROM dense t
        |  JOIN adj ON adj.ahq = t.hq AND adj.ahr = t.hr
        |  JOIN dense u ON u.hq = adj.bhq AND u.hr = adj.bhr
        |              AND u.bin BETWEEN t.bin - 1 AND t.bin + 1
        |  GROUP BY 1, 2, 3
        |), zed AS (
        |  SELECT n.hq, n.hr, n.bin,
        |    CASE WHEN g.nn > 1
        |          AND sqrt(CAST(g.sum_x2 AS DOUBLE)/g.nn
        |               - (CAST(g.sum_x AS DOUBLE)/g.nn)
        |                 * (CAST(g.sum_x AS DOUBLE)/g.nn))
        |            * sqrt(CAST(g.nn*n.wn - n.wn*n.wn AS DOUBLE)
        |                   / CAST(g.nn - 1 AS DOUBLE)) > 0
        |    THEN (CAST(n.wsum AS DOUBLE)
        |           - CAST(g.sum_x AS DOUBLE)/g.nn * n.wn)
        |         / (sqrt(CAST(g.sum_x2 AS DOUBLE)/g.nn
        |              - (CAST(g.sum_x AS DOUBLE)/g.nn)
        |                * (CAST(g.sum_x AS DOUBLE)/g.nn))
        |            * sqrt(CAST(g.nn*n.wn - n.wn*n.wn AS DOUBLE)
        |                   / CAST(g.nn - 1 AS DOUBLE)))
        |    END AS z
        |  FROM nbr n CROSS JOIN g
        |), agg AS (
        |  SELECT hq, hr,
        |    CAST(count(*) AS BIGINT) AS n_bins,
        |    max(bin) AS maxb,
        |    CAST(sum(CASE WHEN z IS NOT NULL AND z >= 1.96
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
        |    CAST(sum(CASE WHEN z IS NOT NULL AND z <= -1.96
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_cold,
        |    max(CASE WHEN NOT (z IS NOT NULL AND z >= 1.96)
        |             THEN bin END) AS last_not_hot,
        |    max(CASE WHEN NOT (z IS NOT NULL AND z <= -1.96)
        |             THEN bin END) AS last_not_cold
        |  FROM zed GROUP BY 1, 2
        |), lastv AS (
        |  SELECT z.hq, z.hr, z.z AS last_z,
        |    CASE WHEN z.z IS NOT NULL AND z.z >= 1.96
        |         THEN 1 ELSE 0 END AS last_hot,
        |    CASE WHEN z.z IS NOT NULL AND z.z <= -1.96
        |         THEN 1 ELSE 0 END AS last_cold
        |  FROM zed z JOIN agg a
        |    ON z.hq = a.hq AND z.hr = a.hr AND z.bin = a.maxb
        |), prs AS (
        |  SELECT a.hq, a.hr, a.z AS xi, b.z AS xj
        |  FROM zed a JOIN zed b
        |    ON a.hq = b.hq AND a.hr = b.hr AND a.bin < b.bin
        |), sagg AS (
        |  SELECT hq, hr,
        |    CAST(sum(CASE WHEN xj > xi THEN 1
        |                  WHEN xj < xi THEN -1 ELSE 0 END) AS BIGINT) AS s
        |  FROM prs GROUP BY 1, 2
        |), zties AS (
        |  SELECT hq, hr,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
        |  FROM (SELECT hq, hr, z, CAST(count(*) AS BIGINT) AS t
        |        FROM zed GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2
        |), mk AS (
        |  SELECT a.hq, a.hr,
        |    CASE WHEN a.n_bins * (a.n_bins - 1) * (2 * a.n_bins + 5)
        |              - zt.tie18 > 0
        |    THEN CASE WHEN sg.s > 0 THEN CAST(sg.s - 1 AS DOUBLE)
        |              WHEN sg.s < 0 THEN CAST(sg.s + 1 AS DOUBLE)
        |              ELSE 0.0 END
        |         / sqrt(CAST(a.n_bins * (a.n_bins - 1) * (2 * a.n_bins + 5)
        |                     - zt.tie18 AS DOUBLE) / 18.0)
        |    END AS mk_z
        |  FROM agg a
        |  JOIN zties zt ON zt.hq = a.hq AND zt.hr = a.hr
        |  JOIN sagg sg ON sg.hq = a.hq AND sg.hr = a.hr
        |)
        |SELECT a.hq, a.hr, a.n_bins, a.n_hot, a.n_cold,
        |  CAST(floor(lv.last_z * 1e6 + 0.5) AS BIGINT) AS lastz_e6,
        |  CAST(floor(mk.mk_z * 1e6 + 0.5) AS BIGINT) AS mkz_e6,
        |  CASE
        |    WHEN lv.last_hot = 1 AND a.n_hot = 1 AND a.n_cold = 0
        |      THEN 'new_hot'
        |    WHEN lv.last_hot = 1 AND a.last_not_hot IS NOT NULL
        |     AND a.maxb - a.last_not_hot = a.n_hot
        |     AND NOT (CAST(a.n_hot AS DOUBLE)
        |              >= 0.6 * CAST(a.n_bins AS DOUBLE))
        |     AND a.n_cold = 0 THEN 'consecutive_hot'
        |    WHEN lv.last_hot = 1
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z >= 1.96
        |      THEN 'intensifying_hot'
        |    WHEN lv.last_hot = 1
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z <= -1.96
        |      THEN 'diminishing_hot'
        |    WHEN lv.last_hot = 1
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |      THEN 'persistent_hot'
        |    WHEN lv.last_hot = 0
        |     AND CAST(a.n_hot AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND a.n_cold = 0 THEN 'historical_hot'
        |    WHEN lv.last_hot = 1 AND a.n_cold = 0 THEN 'sporadic_hot'
        |    WHEN lv.last_hot = 1 THEN 'oscillating_hot'
        |    WHEN lv.last_cold = 1 AND a.n_cold = 1 AND a.n_hot = 0
        |      THEN 'new_cold'
        |    WHEN lv.last_cold = 1 AND a.last_not_cold IS NOT NULL
        |     AND a.maxb - a.last_not_cold = a.n_cold
        |     AND NOT (CAST(a.n_cold AS DOUBLE)
        |              >= 0.6 * CAST(a.n_bins AS DOUBLE))
        |     AND a.n_hot = 0 THEN 'consecutive_cold'
        |    WHEN lv.last_cold = 1
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z <= -1.96
        |      THEN 'intensifying_cold'
        |    WHEN lv.last_cold = 1
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND mk.mk_z IS NOT NULL AND mk.mk_z >= 1.96
        |      THEN 'diminishing_cold'
        |    WHEN lv.last_cold = 1
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |      THEN 'persistent_cold'
        |    WHEN lv.last_cold = 0
        |     AND CAST(a.n_cold AS DOUBLE) >= 0.6 * CAST(a.n_bins AS DOUBLE)
        |     AND a.n_hot = 0 THEN 'historical_cold'
        |    WHEN lv.last_cold = 1 AND a.n_hot = 0 THEN 'sporadic_cold'
        |    WHEN lv.last_cold = 1 THEN 'oscillating_cold'
        |    ELSE 'none'
        |  END AS category
        |FROM agg a
        |JOIN lastv lv ON lv.hq = a.hq AND lv.hr = a.hr
        |JOIN mk ON mk.hq = a.hq AND mk.hr = a.hr""".stripMargin)),
    // --- web tiles + geohash (the two SQL-expressible cell families) -----
    Query("q_tile_xyz", (s, dir) => {
      // XYZ web-tile occupancy at z=6: the slippy-map spherical-Mercator
      // pyramid; the oracle recomputes x/y from the literally identical
      // closed-form discretization.
      val pts = geoLineitem(s, dir)
      val dec = geo.tileDecode(geo.tileId(col("lon"), col("lat"), 6))
      pts.select(dec.getField("x").as("x"), dec.getField("y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n_points"))
    }, Sql {
      // web-tile replay: the identical closed-form spherical-Mercator
      // discretization (see xyTileSql)
      s"""WITH t AS (${xyTileSql(64)})
         |SELECT x, y, CAST(count(*) AS BIGINT) AS n_points
         |FROM t GROUP BY 1, 2""".stripMargin
    }),
    Query("q_quadkey", (s, dir) => {
      // Bing quadkey occupancy at z=5 — the string-prefix pyramid key;
      // the oracle assembles the base-4 digit string in SQL.
      val pts = geoLineitem(s, dir)
      pts.select(geo.quadkey(geo.tileId(col("lon"), col("lat"), 5)).as("qk"))
        .groupBy("qk").agg(count(lit(1)).as("n_points"))
    }, Sql {
      // quadkey replay: same tiling at z=5, then the base-4 digit string
      // (digit = 2*yBit + xBit, MSB-first) assembled by unrolled bit ops
      val z = 5; val n = 1 << z
      val digits = (1 to z).map { i =>
        val sh = z - i
        s"CAST(((y >> $sh) & 1) * 2 + ((x >> $sh) & 1) AS VARCHAR)"
      }.mkString(" || ")
      s"""WITH t AS (
         |${xyTileSql(n)})
         |SELECT $digits AS qk, CAST(count(*) AS BIGINT) AS n_points
         |FROM t GROUP BY 1""".stripMargin
    }),
    Query("q_geohash", (s, dir) => {
      // geohash occupancy at precision 4 — the oracle replays the 20-bit
      // alternating lon/lat interleave and the base-32 spelling in SQL.
      val pts = geoLineitem(s, dir)
      pts.select(geo.geohash(col("lon"), col("lat"), 4).as("gh"))
        .groupBy("gh").agg(count(lit(1)).as("n_points"))
    }, Sql {
      // geohash replay: 10+10-bit lon/lat indexes, the 20-bit alternating
      // interleave unrolled as bit arithmetic, then 4 base-32 characters
      val interleave = (0 to 9).flatMap { k =>
        Seq(s"(((li >> ${9 - k}) & 1) << ${19 - 2 * k})",
          s"(((ti >> ${9 - k}) & 1) << ${18 - 2 * k})")
      }.mkString(" | ")
      val chars = (0 to 3).map { i =>
        s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((code >> ${5 * (3 - i)}) & 31 AS INT) + 1, 1)"
      }.mkString(" || ")
      s"""WITH t AS (
         |SELECT CAST(least(greatest(floor(($lonSql + 180.0) / 360.0 * 1024.0), 0), 1023) AS BIGINT) AS li,
         |  CAST(least(greatest(floor(($latSql + 90.0) / 180.0 * 1024.0), 0), 1023) AS BIGINT) AS ti
         |FROM lineitem),
         |c AS (SELECT ($interleave) AS code FROM t)
         |SELECT $chars AS gh, CAST(count(*) AS BIGINT) AS n_points
         |FROM c GROUP BY 1""".stripMargin
    }),
    Query("q_isea_hex", (s, dir) => {
      // ISEA equal-area hex DGGS occupancy (aperture 4, resolution 4)
      // over the deterministic 60k world lattice — the DGGS assignment is
      // a pure per-point function, and the lattice (not the corpus) is
      // what exercises all icosahedron faces; corpus-driven hex binning
      // stays covered by q_hex_occupancy / q_hex_ring_join.  Snyder's
      // icosahedral forward is not SQL-expressible, so the oracle pins
      // the occupancy as literal VALUES recomputed through the
      // JVM-direct binner (hash-verified since r5; the expression path
      // is pinned bit-for-bit to the same binner in HexIndexSpec).
      val pts = s.range(0, 60000).select(
        (pmod(col("id") * lit(7.1000003), lit(359.9)) - lit(179.95)).as("lon"),
        (pmod(col("id") * lit(3.7000007), lit(169.9)) - lit(84.95)).as("lat"))
      GeoEngine.iseaHexOccupancy(pts, resolution = 4, aperture = 4)
        .select(col("hex"), col("n_docs").as("n_points"))
    }, Sql {
      // ISEA hex occupancy over the fixed 60k lattice: the JVM-direct
      // binner replays the exact lattice (the engine's pmod arithmetic)
      // and the per-hex counts are pinned as VALUES — Snyder's icosahedral
      // forward has no SQL form, but the fixed input makes the output a
      // build constant like q_crs_catalog
      val binner = new graft.geo.cells.HexIndex.IseaBinner(4, 4)
      // Spark's Pmod on doubles returns a % b UNCHANGED when non-negative
      // (only negative remainders get the +b fold) — replaying the naive
      // ((a%b)+b)%b form here would differ by one ulp for positive values
      // and could flip a lattice point across a face/hex boundary
      def pm(a: Double, b: Double) = { val r = a % b; if (r < 0) (r + b) % b else r }
      val occ = scala.collection.mutable.LongMap.empty[Long]
      var i = 0L
      while (i < 60000) {
        val lon = pm(i * 7.1000003, 359.9) - 179.95
        val lat = pm(i * 3.7000007, 169.9) - 84.95
        val id = binner.id(lon, lat)
        if (id != null) occ(id.longValue()) = occ.getOrElse(id.longValue(), 0L) + 1
        i += 1
      }
      val rows = occ.toSeq.sortBy(_._1)
        .map { case (h, n) => s"($h,$n)" }.mkString(",")
      s"""SELECT CAST(hex AS BIGINT) AS hex, CAST(n AS BIGINT) AS n_points
         |FROM (VALUES $rows) AS t(hex, n)""".stripMargin
    }),
    // --- raster <-> vector ----------------------------------------------
    Query("q_raster_tile", (s, dir) => {
      // raster: level-2 tiles seeded from part-derived points with a value
      // computable from (face,i,j); vector: lineitem points; stats per tile.
      val raster = rasterFromPart(s, dir)
      val pts = geoLineitem(s, dir)
      GeoEngine.rasterVectorStats(pts, raster, level = 2)
        .withColumn("d", geo.cellDecode(col("cell")))
        .select(col("d").getField("face").cast("long").as("face"),
          col("d").getField("i").as("i"), col("d").getField("j").as("j"),
          col("n_docs"),
          col("sum_value").cast("long").as("sum_value"))
    }, Sql {
      val partLon = "(mod(mod(p_partkey * 11.234567, 359.9) + 359.9, 359.9) - 179.95)"
      val partLat = "(mod(mod(p_partkey * 7.654321, 169.9) + 169.9, 169.9) - 84.95)"
      s"""WITH raster AS (
         |  ${tileSql(partLon, partLat, 2, "part")}
         |  SELECT DISTINCT face, i, j,
         |    CAST(mod(face*16 + i*4 + j, 97) AS DOUBLE) AS value
         |  FROM tiled
         |), li AS (
         |  ${tileSql(lonSql, latSql, 2, "lineitem")}
         |  SELECT face, i, j FROM tiled
         |)
         |SELECT CAST(r.face AS BIGINT) AS face, r.i, r.j,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(r.value) AS BIGINT) AS sum_value
         |FROM li JOIN raster r USING (face, i, j)
         |GROUP BY 1, 2, 3""".stripMargin
    }),
    Query("q_event_tiles", (s, dir) => {
      // event-time tumbling-window x tile-face occupancy over the events
      // stream table (batch view of the streaming aggregation)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("lon",
          pmod(col("user_id") * lit(17.234567), lit(359.9)) - lit(179.95))
        .withColumn("lat",
          pmod(col("user_id") * lit(23.876543), lit(169.9)) - lit(84.95))
      val dec = geo.cellDecode(geo.cellId(col("lon"), col("lat"), 2))
      ev.groupBy(window(col("ts"), "1 hour").getField("start").as("w_start"),
          dec.getField("face").cast("long").as("face"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")) * 1000).cast("long").as("sum_value_milli"))
        .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("face"), col("n_events"), col("sum_value_milli"))
    }, Sql {
      val evLon = "(mod(mod(user_id * 17.234567, 359.9) + 359.9, 359.9) - 179.95)"
      val evLat = "(mod(mod(user_id * 23.876543, 169.9) + 169.9, 169.9) - 84.95)"
      s"""${tileSql(evLon, evLat, 2, "events", ", ts, value")}
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
         |  CAST(face AS BIGINT) AS face,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(round(sum(value) * 1000) AS BIGINT) AS sum_value_milli
         |FROM tiled GROUP BY 1, 2""".stripMargin
    })
  )
}
