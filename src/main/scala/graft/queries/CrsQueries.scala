package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.expr.geo
import graft.geo.kernels.{GallKernel, MercKernel, MillKernel, PointKernel, WebMercKernel}
import graft.geo.math.Ellipsoid
import graft.queries.Inputs._

/** CRS and kernel queries: every front door to a coordinate operation
  * (kernel object, proj-string, WKT2, ESRI WKT1, PROJJSON, registry code
  * and name, SQL text), grid and TIN shifts, epoch-aware point motion and
  * the registry sweeps. */
private[graft] object CrsQueries {

  /** Web-Mercator-style metres at 1 dm of `kernel` over the lineitem
    * points.  The kernel is built when the query runs, so a front door
    * that cannot resolve in this checkout fails only its own query. */
  private def dmQuery(kernel: => PointKernel): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val k = kernel
      val pts = geoLineitem(s, dir)
      val xy = geo.transform(k, forward = true, outDims = 2,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xy.getField("x") * 10).cast("long").as("x_dm"),
          round(xy.getField("y") * 10).cast("long").as("y_dm"))
    }

  /** The q_webmerc_fwd oracle, shared by every front door whose plan
    * must hash-equal the kernel-object plan. */
  private val webmercDmSql =
    s"""SELECT l_orderkey, l_linenumber,
       |  CAST(round(6378137.0 * radians($lonSql) * 10) AS BIGINT) AS x_dm,
       |  CAST(round(6378137.0 * ${mercSql(latSql, 4)} * 10) AS BIGINT) AS y_dm
       |FROM lineitem""".stripMargin

  /** lineitem rows on a regular 0.001-degree lattice: lon0 + ((partkey*7
    * + suppkey) % lonN) / 1000, lat0 + ((orderkey*11 + linenumber) %
    * latN) / 1000 — inside a test grid's extent. */
  private def lattice(s: SparkSession, dir: String, lon0: Double, lonN: Int,
                      lat0: Double, latN: Int): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("lon",
        lit(lon0) + (col("l_partkey") * 7 + col("l_suppkey")) % lonN / lit(1000.0))
      .withColumn("lat",
        lit(lat0) + (col("l_orderkey") * 11 + col("l_linenumber")) % latN / lit(1000.0))

  /** `k` over `li`'s lon/lat, degrees out at 1e-7. */
  private def shiftE7(li: DataFrame, k: PointKernel): DataFrame = {
    val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
    li.withColumn("o", out)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("o").getField("x") * 1e7 + 0.5).as("lon_e7"),
        floor(col("o").getField("y") * 1e7 + 0.5).as("lat_e7"))
  }

  /** Bilinear cell of tests/test_hgrid_little_endian.gsb for the `rad`
    * CTE's lam/phi: node (row y south->north, col x west->east) carries
    * raw values lat=14400-900*i, lon=-900*(i+1) arcsec with
    * i = y*4 + (3-x); CTEs g, c and mm end with the weights m00..m11
    * and the node index i00. */
  private val ntv2CellSql =
    """), g AS (
      |  SELECT *,
      |    (lam - 14400 * (pi()/180/3600)) / (3600 * (pi()/180/3600)) AS tl,
      |    (phi - 187200 * (pi()/180/3600)) / (3600 * (pi()/180/3600)) AS tp
      |  FROM rad
      |), c AS (
      |  SELECT *, floor(tl) AS il, floor(tp) AS ip,
      |    tl - floor(tl) AS fl, tp - floor(tp) AS fp FROM g
      |), mm AS (
      |  SELECT *, (1.0-fl)*(1.0-fp) AS m00, fl*(1.0-fp) AS m10,
      |    (1.0-fl)*fp AS m01, fl*fp AS m11,
      |    ip*4 + (3 - il) AS i00 FROM c""".stripMargin

  /** The weighted shifts vlat/vlon over [[ntv2CellSql]], with the
    * kernel's float quantization of each node and its summation order. */
  private val ntv2ShiftSql =
    """), sh AS (
      |  SELECT *,
      |    m00*CAST(CAST(14400 - 900*i00 AS REAL) * (pi()/180/3600) AS REAL)
      |      + m10*CAST(CAST(14400 - 900*(i00-1) AS REAL) * (pi()/180/3600) AS REAL)
      |      + m01*CAST(CAST(14400 - 900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL)
      |      + m11*CAST(CAST(14400 - 900*(i00+3) AS REAL) * (pi()/180/3600) AS REAL) AS vlat,
      |    m00*CAST(-CAST(-900*(i00+1) AS REAL) * (pi()/180/3600) AS REAL)
      |      + m10*CAST(-CAST(-900*(i00) AS REAL) * (pi()/180/3600) AS REAL)
      |      + m01*CAST(-CAST(-900*(i00+5) AS REAL) * (pi()/180/3600) AS REAL)
      |      + m11*CAST(-CAST(-900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL) AS vlon
      |  FROM mm""".stripMargin

  /** The `res` CTE's olon/olat at 1e-7, as [[shiftE7]] reports them. */
  private val e7Sql =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(floor(olon*1e7 + 0.5) AS BIGINT) AS lon_e7,
      |  CAST(floor(olat*1e7 + 0.5) AS BIGINT) AS lat_e7
      |FROM res""".stripMargin

  /** q_vert_offset replay constants, computed with the SAME JVM ops as
    * the engine path so the SQL replay is bit-identical:
    *  - ftUsInv: z-unit glue factor 1/ftUS as UnitConvertKernel derives
    *    it (fz = 1.0 then fz /= toMeter);
    *  - evrfC1/evrfLat0: the EPSG:4651 slope plane — lat_0 decodes from
    *    sexagesimal 9110 text, slope_lat (arcsec) and the WGS84 rho0
    *    exactly as VertOffsetKernel computes them. */
  private lazy val vertOracleConsts: (Double, Double, Double) = {
    val ftUsInv = 1.0 / "3.04800609601219241e-01".toDouble
    val ell = graft.geo.math.Ellipsoid.WGS84
    val lat0 = math.toRadians(
      graft.geo.proj.AuthorityDb.sexagesimalDeg("54.35"))
    val sin0 = math.sin(lat0)
    val oneMinus = 1.0 - ell.es * sin0 * sin0
    val rho0 = ell.a * ell.oneEs / (oneMinus * math.sqrt(oneMinus))
    val c1 = (0.044 * graft.geo.math.ProjMath.ArcSecToRad) * rho0
    (ftUsInv, c1, lat0)
  }

  /** NKG velocity extract read through the engine's own GeoTIFF loader
    * (same-JVM bit parity, the vertOracleConsts stance): node values,
    * lattice header and ellipsoid constants for the q_point_motion
    * oracle's SQL replay of the deformation arithmetic. */
  private lazy val pmVelOracle: (Int, Int, Double, Double, Double, Double,
      Array[Array[Float]], Int, Int, Int, Double, Double) = {
    val k = graft.geo.proj.ProjString.parse(
      "+proj=deformation +dt=12.5" +
        " +grids=tests/nkgrf03vel_realigned_extract.tif +ellps=GRS80")
      .asInstanceOf[graft.geo.grids.DeformationKernel]
    val g = k.genGrids.head.head
    var sE = 0; var sN = 1; var sU = 2
    for (i <- g.samples.indices) {
      val d = g.item("DESCRIPTION", i)
      if (d == "east_velocity") sE = i
      else if (d == "north_velocity") sN = i
      else if (d == "up_velocity") sU = i
    }
    (g.width, g.height, g.extent.west, g.extent.south,
      g.extent.resX, g.extent.resY, g.samples, sE, sN, sU,
      k.ell.a, k.ell.es)
  }

  val all: Seq[Query] = Seq(
    // --- registry-wide Catalyst-path sweep: every pj_list.h operation
    // --- through PointTransformExpr + codegen; one row per op.  The
    // --- kernels aren't SQL-expressible — RegistrySweepSpec cross-checks
    // --- each checksum bit-for-bit against JVM-direct evaluation of the
    // --- same kernel, and the oracle pins that evaluation as VALUES.
    Query("q_registry_sweep", (s, _) => graft.geo.proj.RegistrySweep.sweep(s), Sql {
      // the registry-operation sweep is a fixed build input (the pj_list
      // parity table), so each op's (n_ok, checksum) is pinned as literal
      // VALUES computed through the JVM-direct evaluator at oracle-build
      // time (the q_crs_catalog stance): any kernel regression in any of
      // the 186 operations shifts a checksum and fails the hash
      val rows = graft.geo.proj.RegistrySweep.samples.map { sm =>
        val (n, c) = graft.geo.proj.RegistrySweep.expected(sm)
        s"('${sm.op}',$n,$c)"
      }.mkString(",\n|  ")
      require(rows.nonEmpty, "empty registry sweep")
      s"""SELECT op, CAST(n AS BIGINT) AS n_ok, CAST(c AS BIGINT) AS checksum
         |FROM (VALUES
         |  $rows
         |) AS t(op, n, c)""".stripMargin
    }),
    // --- authority database (EPSG/ESRI/IAU registry parsed from the
    // --- reference's data/sql scripts): one row per mapped conversion
    // --- method, each a representative projected CRS resolved from the
    // --- registry and executed through the Catalyst path.
    // --- AuthorityDbSpec cross-checks checksums JVM-direct and the full
    // --- ~8.8k-code resolution sweep.
    Query("q_authority_sweep", (s, _) => {
      import s.implicits._
      val frames = graft.geo.proj.AuthorityDb.representatives().map {
        case (method, rc, (plon, plat)) =>
          val k = graft.geo.proj.ProjString.parse(rc.spec)
          // transform's surface is degrees (PointEvaluator converts);
          // AuthoritySweepSparkSpec replays the identical evaluator
          Seq((plon, plat)).toDF("plon", "plat")
            .select(geo.transform(k, forward = true, outDims = 2,
              col("plon"), col("plat")).as("p"))
            .select(lit(method).as("method"),
              lit(rc.auth + ":" + rc.code).as("code"),
              (pmod(floor(col("p").getField("x") * 1e3), lit(1000000007L)) +
               pmod(floor(col("p").getField("y") * 1e3), lit(1000000007L)))
                .cast("long").as("checksum"),
              lit(null).cast("string").as("reason"))
      }
      // the auditable expected-fail tail: one row per conversion-method
      // family that does NOT resolve, with the typed reason and how many
      // registry codes it covers (AuthorityDb.unresolvedProjected)
      val unresolved = graft.geo.proj.AuthorityDb.unresolvedProjected()
        .groupBy(u => (u.methodKey, u.methodName))
        .toSeq.sortBy(_._1._1)
        .map { case ((mk, mn), us) =>
          val u0 = us.minBy(u => (u.auth, u.code))
          (s"unresolved:${if (mk.isEmpty) "none" else mk}",
            s"${u0.auth}:${u0.code}(+${us.size - 1})",
            None: Option[Long],
            s"$mn: ${u0.reason}")
        }.toDF("method", "code", "checksum", "reason")
      (frames.reduce(_ unionByName _) unionByName unresolved)
        .orderBy(col("method"))
    }, Sql {
      // the authority sweep is likewise a fixed build input (one
      // representative CRS per mapped conversion method + the pinned
      // expected-fail families): every row — checksum or typed reason — is
      // recomputed JVM-direct at oracle-build time and pinned as VALUES
      // (AuthoritySweepSparkSpec already asserts the Catalyst path equals
      // this evaluator bit-for-bit; the oracle re-checks through DuckDB)
      val M = 1000000007L
      def pmodL(a: Long): Long = ((a % M) + M) % M
      def esc(s: String) = s.replace("'", "''")
      val resolved = graft.geo.proj.AuthorityDb.representatives().map {
        case (method, rc, (plon, plat)) =>
          val k = graft.geo.proj.ProjString.parse(rc.spec)
          val ev = new graft.geo.expr.PointEvaluator(k, forward = true,
            outDims = 2)
          val row = ev.eval(plon, plat, 0.0, Double.NaN)
          val cs = pmodL(math.floor(row.getDouble(0) * 1e3).toLong) +
            pmodL(math.floor(row.getDouble(1) * 1e3).toLong)
          s"('${esc(method)}','${esc(rc.auth + ":" + rc.code)}',$cs,NULL)"
      }
      val unresolved = graft.geo.proj.AuthorityDb.unresolvedProjected()
        .groupBy(u => (u.methodKey, u.methodName))
        .toSeq.sortBy(_._1._1)
        .map { case ((mk, mn), us) =>
          val u0 = us.minBy(u => (u.auth, u.code))
          s"('unresolved:${esc(if (mk.isEmpty) "none" else mk)}'," +
            s"'${esc(s"${u0.auth}:${u0.code}(+${us.size - 1})")}'," +
            s"NULL,'${esc(s"$mn: ${u0.reason}")}')"
        }
      require(resolved.nonEmpty || unresolved.nonEmpty, "empty authority sweep")
      s"""SELECT method, code, CAST(checksum AS BIGINT) AS checksum,
         |  CAST(reason AS VARCHAR) AS reason
         |FROM (VALUES
         |  ${(resolved ++ unresolved).mkString(",\n|  ")}
         |) AS t(method, code, checksum, reason)""".stripMargin
    }),
    // the IAU planetary registry end-to-end: Mars (2015) Sphere /
    // Equirectangular (IAU_2015:49910, method 1028 on the 3,396,190 m
    // sphere) resolved from the parsed database — eqc on a sphere is
    // closed-form (x = R·λ, y = R·φ), so the oracle replays it exactly
    Query("q_mars_eqc", dmQuery(graft.geo.proj.ProjString.parse(
      graft.geo.proj.AuthorityDb.crs("IAU_2015", "49910").get.spec)), Sql(
      // Mars equirectangular is closed-form on the registry's sphere
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round(3396190.0 * radians($lonSql) * 10) AS BIGINT) AS x_dm,
         |  CAST(round(3396190.0 * radians($latSql) * 10) AS BIGINT) AS y_dm
         |FROM lineitem""".stripMargin)),
    Query("q_db_helmert", (s, dir) => {
      // a single registry datum-shift record driven end-to-end: EPSG:1612
      // "ED50 to WGS 84 (23)", a full 7-parameter position-vector Helmert
      // whose constants (m / arcsec / ppm with their uom codes) are parsed
      // from the authority database and normalized by AuthorityDb — the
      // oracle replays cart(intl) + the small-angle position-vector matrix
      // in pure SQL with the PUBLISHED parameter values hard-coded, so a
      // unit-conversion or sign mistake anywhere in the db parse breaks
      // the hash on all 60k rows.  Output is geocentric mm (no cart
      // inverse needed in SQL).
      val st = graft.geo.proj.AuthorityDb.helmertStepTokens("EPSG", "1612").get
      val ell = graft.geo.proj.AuthorityDb.geodeticEllTokens("EPSG", "4230").get
      val k = graft.geo.proj.ProjString.parse(
        s"+proj=pipeline +step +proj=cart $ell +step $st")
      val pts = geoLineitem(s, dir)
      val xyz = geo.transform(k, forward = true, outDims = 3,
        col("lon"), col("lat"))
      pts.select(col("l_orderkey"), col("l_linenumber"),
          round(xyz.getField("x") * 100).cast("long").as("x_cm"),
          round(xyz.getField("y") * 100).cast("long").as("y_cm"),
          round(xyz.getField("z") * 100).cast("long").as("z_cm"))
    }, Sql(
      // full SQL replay of EPSG:1612 (ED50→WGS84 7-param position-vector
      // Helmert) over cart(intl): geodetic→geocentric forward plus the
      // small-angle position-vector matrix, with the PUBLISHED registry
      // values hard-coded — the Spark side derives the same constants from
      // the parsed authority database
      s"""WITH pts AS (
         |  SELECT l_orderkey, l_linenumber,
         |    radians($lonSql) AS lam, radians($latSql) AS phi
         |  FROM lineitem
         |), cart AS (
         |  SELECT l_orderkey, l_linenumber,
         |    (6378388.0 / sqrt(1.0 - (1.0/297.0)*(2.0 - 1.0/297.0)
         |       * sin(phi)*sin(phi))) * cos(phi) * cos(lam) AS x,
         |    (6378388.0 / sqrt(1.0 - (1.0/297.0)*(2.0 - 1.0/297.0)
         |       * sin(phi)*sin(phi))) * cos(phi) * sin(lam) AS y,
         |    (6378388.0 / sqrt(1.0 - (1.0/297.0)*(2.0 - 1.0/297.0)
         |       * sin(phi)*sin(phi))) * (1.0 - (1.0/297.0)*(2.0 - 1.0/297.0))
         |       * sin(phi) AS z
         |  FROM pts
         |)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(round(((1.0 - 3.52e-6) * (x - radians(-0.917/3600.0)*y
         |    + radians(0.921/3600.0)*z) + (-116.641)) * 100) AS BIGINT) AS x_cm,
         |  CAST(round(((1.0 - 3.52e-6) * (radians(-0.917/3600.0)*x + y
         |    - radians(0.893/3600.0)*z) + (-56.931)) * 100) AS BIGINT) AS y_cm,
         |  CAST(round(((1.0 - 3.52e-6) * (-radians(0.921/3600.0)*x
         |    + radians(0.893/3600.0)*y + z) + (-110.559)) * 100) AS BIGINT) AS z_cm
         |FROM cart""".stripMargin)),
    // the SAME webmerc query with the CRS given by registry NAME
    // ("WGS 84 / Pseudo-Mercator") through the name front door — the
    // fifth front door to this oracle (kernel / WKT2 / ESRI WKT1 /
    // PROJJSON / authority db / name); the NAME-resolved plan must
    // hash-equal the kernel-object plan
    Query("q_crs_name", dmQuery(graft.geo.proj.OperationFactory.crsToCrs(
      "WGS 84", "WGS 84 / Pseudo-Mercator")), Sql(webmercDmSql)),
    // the SAME webmerc query with the kernel resolved from the
    // authority database (EPSG:3857 via conversion 3856, method 1024)
    // instead of a kernel object / CRS text — the fourth front door;
    // results must hash-equal the q_webmerc_fwd oracle
    Query("q_authority_webmerc", dmQuery(graft.geo.proj.ProjString.parse(
      graft.geo.proj.AuthorityDb.crs("EPSG", "3857").get.spec)),
      Sql(webmercDmSql)),
    // --- coordinate transforms (per-row numeric kernels) ---------------
    Query("q_webmerc_fwd", dmQuery(WebMercKernel()), Sql(webmercDmSql)),
    // the SAME query built from WKT2 CRS text instead of a kernel
    // object: ProjString.parse lowers the PROJCRS through the Wkt
    // front-end; results must hash-equal the q_webmerc_fwd oracle
    Query("q_wkt_webmerc", dmQuery {
      val wkt =
        """PROJCRS["Web Mercator",
          |  BASEGEOGCRS["WGS 84 (sphere)",
          |    DATUM["Popular Visualisation Datum",
          |      ELLIPSOID["Sphere",6378137,0,LENGTHUNIT["metre",1]]],
          |    PRIMEM["Greenwich",0,ANGLEUNIT["degree",0.0174532925199433]]],
          |  CONVERSION["Popular Visualisation Pseudo-Mercator",
          |    METHOD["Popular Visualisation Pseudo Mercator"]],
          |  CS[Cartesian,2],
          |    AXIS["(E)",east], AXIS["(N)",north],
          |    LENGTHUNIT["metre",1]]""".stripMargin
      graft.geo.proj.ProjString.parse(wkt)
    }, Sql(webmercDmSql)),
    // the SAME query built from the ESRI WKT1 dialect — the verbatim
    // ArcGIS spelling of Web Mercator (EPSG:3857) with D_-prefixed
    // datum, underscore method name and Auxiliary_Sphere parameter;
    // results must hash-equal the q_webmerc_fwd and WKT2-parsed plans
    Query("q_esri_webmerc", dmQuery {
      val esri =
        """PROJCS["WGS_1984_Web_Mercator_Auxiliary_Sphere",
          |GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",
          |SPHEROID["WGS_1984",6378137.0,298.257223563]],
          |PRIMEM["Greenwich",0.0],UNIT["Degree",0.0174532925199433]],
          |PROJECTION["Mercator_Auxiliary_Sphere"],
          |PARAMETER["False_Easting",0.0],PARAMETER["False_Northing",0.0],
          |PARAMETER["Central_Meridian",0.0],
          |PARAMETER["Standard_Parallel_1",0.0],
          |PARAMETER["Auxiliary_Sphere_Type",0.0],UNIT["Meter",1.0]]""".stripMargin
      graft.geo.proj.ProjString.parse(esri)
    }, Sql(webmercDmSql)),
    // the SAME webmerc query built from PROJJSON CRS text — the third
    // interchange front-end (proj-string / WKT / PROJJSON) must produce
    // an identical plan; results hash-equal the q_webmerc_fwd oracle
    Query("q_projjson_path", dmQuery {
      val json = """{
        "type": "ProjectedCRS",
        "name": "Web Mercator",
        "base_crs": {
          "name": "WGS 84 (sphere)",
          "datum": {
            "type": "GeodeticReferenceFrame",
            "name": "Popular Visualisation Datum",
            "ellipsoid": {"name": "Sphere", "radius": 6378137}
          },
          "coordinate_system": {"subtype": "ellipsoidal", "axis": [
            {"name": "Geodetic longitude", "abbreviation": "Lon",
             "direction": "east", "unit": "degree"},
            {"name": "Geodetic latitude", "abbreviation": "Lat",
             "direction": "north", "unit": "degree"}]}
        },
        "conversion": {
          "name": "Popular Visualisation Pseudo-Mercator",
          "method": {"name": "Popular Visualisation Pseudo Mercator",
                     "id": {"authority": "EPSG", "code": 1024}}
        },
        "coordinate_system": {"subtype": "Cartesian", "axis": [
          {"name": "Easting", "abbreviation": "E", "direction": "east", "unit": "metre"},
          {"name": "Northing", "abbreviation": "N", "direction": "north", "unit": "metre"}]}
      }"""
      graft.geo.proj.ProjString.parse(json)
    }, Sql(webmercDmSql)),
    Query("q_crs_identify", (s, dir) => {
      // CRS identification (the reference's proj_identify): each point's
      // UTM zone is computed in the scan, and the zone's proj-string
      // definition is identified against the builtin EPSG table DRIVER-side
      // (a catalog operation, like the operation factory's candidate
      // derivation); the oracle recomputes the matched authority code
      // arithmetically (UTM north codes are 32600+zone) and the per-zone
      // point counts from the same parquet — so a regression in the
      // identification path breaks the hash
      import graft.geo.proj.CrsIdentify
      val zones = geoLineitem(s, dir)
        .select((floor((col("lon") + lit(180.0)) / 6.0) + 1)
          .cast("int").as("zone"))
      val counts = zones.groupBy("zone").agg(count(lit(1)).as("n_pts"))
      val rows = (1 to 60).flatMap { z =>
        // keep the CANONICAL WGS84 UTM code per zone: the authority
        // database legitimately adds registry twins at 70 (other WGS84
        // datums sharing the zone projection, covered in CrsIdentifySpec)
        // that an arithmetic oracle cannot re-derive — the hash verifies
        // identification still surfaces the canonical code for all 60 zones
        CrsIdentify.identify(s"+proj=utm +zone=$z +datum=WGS84")
          .filter(m => m.confidence == 70 && m.code == s"epsg:${32600 + z}")
          .map(m => org.apache.spark.sql.Row(z, m.code, m.confidence))
      }
      val matches = s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("zone",
            org.apache.spark.sql.types.IntegerType, nullable = false),
          org.apache.spark.sql.types.StructField("code",
            org.apache.spark.sql.types.StringType, nullable = false),
          org.apache.spark.sql.types.StructField("confidence",
            org.apache.spark.sql.types.IntegerType, nullable = false))))
      counts.join(broadcast(matches), Seq("zone"))
        .select(col("zone"), col("code"), col("confidence"), col("n_pts"))
    }, Sql(
      // CRS identification: the matched EPSG code is recomputed
      // ARITHMETICALLY (WGS84 UTM north = 32600+zone) and the per-zone
      // counts from the same parquet geo derivation — independent of the
      // identification path under test
      s"""SELECT zone, 'epsg:' || CAST(32600 + zone AS VARCHAR) AS code,
         |  CAST(70 AS INTEGER) AS confidence, COUNT(*) AS n_pts
         |FROM (SELECT CAST(FLOOR(($lonSql + 180.0) / 6.0) + 1 AS INTEGER) AS zone
         |      FROM lineitem)
         |GROUP BY zone""".stripMargin)),
    Query("q_sql_surface", (s, dir) => {
      // the SAME webmerc query expressed entirely as SQL TEXT through the
      // registered function surface (GraftFunctions / GraftExtensions):
      // proves spark.sql("... proj_fwd(...) ...") compiles to the same
      // whole-stage-codegen kernel plan — results hash-equal the
      // q_webmerc_fwd oracle
      graft.geo.expr.GraftFunctions.register(s)
      s.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("lineitem_sqlsurface")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               CAST(round(pt.x * 10) AS BIGINT) AS x_dm,
               CAST(round(pt.y * 10) AS BIGINT) AS y_dm
        FROM (
          SELECT l_orderkey, l_linenumber,
                 proj_fwd('+proj=webmerc', lon, lat) AS pt
          FROM (
            SELECT l_orderkey, l_linenumber,
                   pmod(l_extendedprice * 1.000003D, 359.9D) - 179.95D AS lon,
                   pmod(l_discount * 1000.0D + l_partkey * 1.000007D, 169.9D)
                     - 84.95D AS lat
            FROM lineitem_sqlsurface) p) q""")
    }, Sql(webmercDmSql)),
    // Miller cylindrical on the authalic-style R=6400000 sphere —
    // exercises the PCyl kernel set through the Catalyst expression
    Query("q_mill_fwd", dmQuery(MillKernel(Ellipsoid(6400000.0, 0.0))), Sql(
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round(6400000.0 * radians($lonSql) * 10) AS BIGINT) AS x_dm,
         |  CAST(round(6400000.0 * 1.25 * ln(tan(pi()/4 +
         |    0.4 * radians($latSql))) * 10) AS BIGINT) AS y_dm
         |FROM lineitem""".stripMargin)),
    Query("q_gall_fwd", dmQuery(GallKernel(Ellipsoid(6400000.0, 0.0))), Sql(
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(round(6400000.0 * 0.70710678118654752440 *
         |    radians($lonSql) * 10) AS BIGINT) AS x_dm,
         |  CAST(round(6400000.0 * 1.70710678118654752440 *
         |    tan(0.5 * radians($latSql)) * 10) AS BIGINT) AS y_dm
         |FROM lineitem""".stripMargin)),
    Query("q_merc_roundtrip", (s, dir) => {
      // fwd o inv closure (PROJ proj_roundtrip analogue): count rows whose
      // roundtrip error exceeds 1e-9 deg — must be 0 — plus total rows.
      val pts = geoLineitem(s, dir)
      val k = MercKernel(Ellipsoid.GRS80)
      val xy = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      val back = geo.transform(k, forward = false, outDims = 2,
        col("xy").getField("x"), col("xy").getField("y"))
      pts.withColumn("xy", xy)
        .withColumn("ll2", back)
        .select(
          (abs(col("ll2").getField("x") - col("lon")) +
            abs(col("ll2").getField("y") - col("lat"))).as("err"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("err") > 1e-9, 1L).otherwise(0L)).as("n_bad"))
    }, Sql(
      "SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_bad FROM lineitem")),
    Query("q_utm_pipeline", (s, dir) => {
      // proj-string front-end: wgs84 -> utm zone 31 -> back via pipeline
      // with a unitconvert step; closure must hold for in-zone points.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=pipeline +step +proj=utm +zone=31 +ellps=WGS84 " +
          "+step +proj=utm +zone=31 +ellps=WGS84 +inv")
      val pts = geoLineitem(s, dir)
        .where(col("lon").between(0.0, 6.0) && col("lat").between(0.0, 80.0))
      val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      pts.withColumn("o", out)
        .select((abs(col("o").getField("x") - col("lon")) +
          abs(col("o").getField("y") - col("lat"))).as("err"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("err") > 1e-9, 1L).otherwise(0L)).as("n_bad"))
    }, Sql(
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_bad
         |FROM lineitem
         |WHERE $lonSql BETWEEN 0.0 AND 6.0 AND $latSql BETWEEN 0.0 AND 80.0""".stripMargin)),
    Query("q_hgridshift", (s, dir) => {
      // NTv2 grid shift over lineitem-derived points inside the 4x4 test
      // grid; the oracle mirrors the bilinear kernel (incl. float grid
      // quantization) in pure SQL, so outputs hash-match bit-for-bit.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad " +
          "+step +proj=hgridshift +grids=tests/test_hgrid_little_endian.gsb " +
          "+step +proj=unitconvert +xy_in=rad +xy_out=deg")
      shiftE7(lattice(s, dir, 4.05, 2900, 52.05, 2900), k)
    }, Sql(
      // bilinear NTv2 shift mirror (see ntv2CellSql); the arithmetic
      // below replays the kernel's float quantization and summation
      // order so results are bit-identical.
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    4.05 + (l_partkey * 7 + l_suppkey) % 2900 / 1000.0 AS lon,
        |    52.05 + (l_orderkey * 11 + l_linenumber) % 2900 / 1000.0 AS lat
        |  FROM lineitem
        |), rad AS (
        |  SELECT l_orderkey, l_linenumber,
        |    lon * (pi()/180) AS lam, lat * (pi()/180) AS phi FROM pts
        |$ntv2CellSql
        |), sh AS (
        |  SELECT *,
        |    CAST(CAST(14400 - 900*i00 AS REAL) * (pi()/180/3600) AS REAL) AS lat00,
        |    CAST(CAST(14400 - 900*(i00-1) AS REAL) * (pi()/180/3600) AS REAL) AS lat10,
        |    CAST(CAST(14400 - 900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL) AS lat01,
        |    CAST(CAST(14400 - 900*(i00+3) AS REAL) * (pi()/180/3600) AS REAL) AS lat11,
        |    CAST(-CAST(-900*(i00+1) AS REAL) * (pi()/180/3600) AS REAL) AS lon00,
        |    CAST(-CAST(-900*(i00) AS REAL) * (pi()/180/3600) AS REAL) AS lon10,
        |    CAST(-CAST(-900*(i00+5) AS REAL) * (pi()/180/3600) AS REAL) AS lon01,
        |    CAST(-CAST(-900*(i00+4) AS REAL) * (pi()/180/3600) AS REAL) AS lon11
        |  FROM mm
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    (lam + (m00*lon00 + m10*lon10 + m01*lon01 + m11*lon11)) * (1.0/(pi()/180)) AS olon,
        |    (phi + (m00*lat00 + m10*lat10 + m01*lat01 + m11*lat11)) * (1.0/(pi()/180)) AS olat
        |  FROM sh
        |)
        |$e7Sql""".stripMargin)),
    Query("q_point_motion", (s, dir) => {
      // epoch-aware front door (CoordinateMetadata + point-motion
      // composition): ETRS89@2000.0 -> geocentric ETRS89@2012.5 through a
      // NTv2_Vel-method point-motion op on the NKG velocity extract (the
      // registry's own velocity grids are CDN assets; the extract ships
      // with the reference tests, so it is handed in via the
      // extraPointMotion seam).  The composed kernel is: static
      // EPSG:4258->EPSG:4936 leg (deg->rad, cart), then set/deformation/
      // set in the geocentric frame.  Output is geocentric cm like
      // q_db_helmert; the oracle replays cart + the bilinear velocity
      // field + the ENU->XYZ rotation + the 12.5-year shift in pure SQL.
      import graft.geo.proj.{AuthorityDb, CoordinateMetadata, OperationFactory}
      val pmo = AuthorityDb.PointMotionOp("TEST:NKGVEL",
        "NKG velocity extract motion", "EPSG:4936", "geocentric", "1070",
        "tests/nkgrf03vel_realigned_extract.tif", 0.005)
      val k = OperationFactory.crsToCrs(
        CoordinateMetadata("EPSG:4258", Some(2000.0)),
        CoordinateMetadata("EPSG:4936", Some(2012.5)),
        OperationFactory.CrsToCrsOptions(extraPointMotion = Seq(pmo)))
      val li = lattice(s, dir, 21.17, 460, 62.87, 150)
      val out = geo.transform(k, forward = true, outDims = 3,
        col("lon"), col("lat"))
      li.select(col("l_orderkey"), col("l_linenumber"),
        round(out.getField("x") * 100).cast("long").as("x_cm"),
        round(out.getField("y") * 100).cast("long").as("y_cm"),
        round(out.getField("z") * 100).cast("long").as("z_cm"))
    }, Sql {
      // full SQL replay of the epoch-aware point-motion composition:
      // cart(GRS80) forward, bilinear east/north/up velocities from the NKG
      // extract's 25 nodes (inlined through the engine's own loader —
      // same-JVM bit parity), the ENU->XYZ rotation at the point, and the
      // 12.5-year shift, all in the engine's own operation order.  The grid
      // lookup uses the original lam/phi where the engine round-trips
      // through cart-inverse — a ~1e-14 m difference, far inside cm rounding.
      val (w, h, west, south, resX, resY, samples, sE, sN, sU, a, es) =
        pmVelOracle
      def nodeRows: String = (for (iy <- 0 until h; ix <- 0 until w) yield
        s"($ix,$iy,${samples(sE)(iy * w + ix).toDouble}," +
          s"${samples(sN)(iy * w + ix).toDouble}," +
          s"${samples(sU)(iy * w + ix).toDouble})").mkString(",\n|    ")
      def bil(c: String): String =
        s"((1.0-fl)*(1.0-fp)*n00.$c + fl*(1.0-fp)*n10.$c" +
          s" + (1.0-fl)*fp*n01.$c + fl*fp*n11.$c) * ${1.0 / 1000.0}"
      s"""WITH pts AS (
         |  SELECT l_orderkey, l_linenumber,
         |    radians(21.17 + (l_partkey * 7 + l_suppkey) % 460 / 1000.0) AS lam,
         |    radians(62.87 + (l_orderkey * 11 + l_linenumber) % 150 / 1000.0) AS phi
         |  FROM lineitem
         |), nodes(ix, iy, ve, vn, vu) AS (VALUES
         |    $nodeRows
         |), cell AS (
         |  SELECT l_orderkey, l_linenumber, lam, phi,
         |    CAST(floor((lam - $west) / $resX) AS INTEGER) AS ix,
         |    CAST(floor((phi - $south) / $resY) AS INTEGER) AS iy,
         |    (lam - $west) / $resX - floor((lam - $west) / $resX) AS fl,
         |    (phi - $south) / $resY - floor((phi - $south) / $resY) AS fp
         |  FROM pts
         |), vel AS (
         |  SELECT c.l_orderkey, c.l_linenumber, c.lam, c.phi,
         |    ${bil("ve")} AS ve, ${bil("vn")} AS vn, ${bil("vu")} AS vu
         |  FROM cell c
         |  JOIN nodes n00 ON n00.ix = c.ix AND n00.iy = c.iy
         |  JOIN nodes n10 ON n10.ix = least(c.ix + 1, ${w - 1}) AND n10.iy = c.iy
         |  JOIN nodes n01 ON n01.ix = c.ix AND n01.iy = least(c.iy + 1, ${h - 1})
         |  JOIN nodes n11 ON n11.ix = least(c.ix + 1, ${w - 1})
         |                AND n11.iy = least(c.iy + 1, ${h - 1})
         |), cart AS (
         |  SELECT l_orderkey, l_linenumber,
         |    sin(phi) AS sp, cos(phi) AS cp, sin(lam) AS sl, cos(lam) AS cl,
         |    ($a / sqrt(1.0 - $es * sin(phi) * sin(phi))) AS nrc,
         |    ve, vn, vu
         |  FROM vel
         |)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(round((nrc * cp * cl + 12.5 * (-sp*cl*vn - sl*ve + cp*cl*vu)) * 100)
         |    AS BIGINT) AS x_cm,
         |  CAST(round((nrc * cp * sl + 12.5 * (-sp*sl*vn + cl*ve + cp*sl*vu)) * 100)
         |    AS BIGINT) AS y_cm,
         |  CAST(round((nrc * (1.0 - $es) * sp + 12.5 * (cp*vn + sp*vu)) * 100)
         |    AS BIGINT) AS z_cm
         |FROM cart""".stripMargin
    }),
    Query("q_crs_planner", (s, dir) => {
      // per-point candidate dispatch (reference pj_get_suggested_operation
      // semantics): inside the test grid's bbox the high-accuracy NTv2
      // shift applies; everywhere else the grid-free constant-offset
      // fallback.  The oracle replays the same CASE in SQL.
      import graft.geo.proj.{CrsPlanner, ProjString}
      import graft.geo.kernels.PipelineKernel
      val toRad = ProjString.parse("+proj=unitconvert +xy_in=deg +xy_out=rad")
      val toDeg = ProjString.parse("+proj=unitconvert +xy_in=rad +xy_out=deg")
      val gridOp = ProjString.parse(
        "+proj=hgridshift +grids=tests/test_hgrid_little_endian.gsb")
      val offOp = ProjString.parse("+proj=geogoffset +dlon=18 +dlat=-36")
      val planner = CrsPlanner.kernel(Seq(
        CrsPlanner.Candidate(gridOp, 4.0005, 52.0005, 6.9995, 54.9995,
          accuracy = 0.05),
        CrsPlanner.Candidate(offOp, -180, -90, 180, 90,
          accuracy = 5.0, gridFree = true)))
      shiftE7(lattice(s, dir, 3.05, 3900, 51.05, 3900),
        PipelineKernel(Array(toRad, planner, toDeg)))
    }, Sql(
      // planner CASE mirror: grid bbox -> bilinear NTv2 formula (same as
      // q_hgridshift), otherwise the +18/-36 arcsec constant offset.
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    3.05 + (l_partkey * 7 + l_suppkey) % 3900 / 1000.0 AS lon,
        |    51.05 + (l_orderkey * 11 + l_linenumber) % 3900 / 1000.0 AS lat
        |  FROM lineitem
        |), rad AS (
        |  SELECT *, lon * (pi()/180) AS lam, lat * (pi()/180) AS phi FROM pts
        |$ntv2CellSql
        |$ntv2ShiftSql
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN lon >= 4.0005 AND lon <= 6.9995 AND
        |              lat >= 52.0005 AND lat <= 54.9995
        |      THEN (lam + vlon) * (1.0/(pi()/180))
        |      ELSE (lam + 18 * (pi()/180/3600)) * (1.0/(pi()/180)) END AS olon,
        |    CASE WHEN lon >= 4.0005 AND lon <= 6.9995 AND
        |              lat >= 52.0005 AND lat <= 54.9995
        |      THEN (phi + vlat) * (1.0/(pi()/180))
        |      ELSE (phi + -36 * (pi()/180/3600)) * (1.0/(pi()/180)) END AS olat
        |  FROM sh
        |)
        |$e7Sql""".stripMargin)),
    Query("q_vgridshift", (s, dir) => {
      // vertical geoid-style shift from a GTX grid (NKG velocity z
      // extract, 5x5 real-valued nodes, ships with the reference tests);
      // the oracle embeds the 25 node values and replays the bilinear
      // weights in SQL.  +multiplier=1 so z_out = z + value.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad" +
          " +step +proj=vgridshift +grids=nkgrf03vel_realigned_z_extract.gtx +multiplier=1" +
          " +step +proj=unitconvert +xy_in=rad +xy_out=deg")
      val li = lattice(s, dir, 21.05, 600, 62.87, 290)
        .withColumn("z", (col("l_linenumber") * 3).cast("double"))
      val out = geo.transform(k, forward = true, outDims = 3,
        col("lon"), col("lat"), col("z"))
      li.select(col("l_orderkey"), col("l_linenumber"),
        floor(out.getField("z") * 1e7 + 0.5).cast("long").as("z_e7"))
    }, Sql(
      // GTX bilinear mirror: node values of
      // nkgrf03vel_realigned_z_extract.gtx (5x5, row 0 = south, header
      // lat0=62.83333333333334 lon0=21 dlat=1/12 dlon=1/6) embedded as a
      // list; weights replayed in the kernel's exact double order.
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    21.05 + (l_partkey * 7 + l_suppkey) % 600 / 1000.0 AS lon,
        |    62.87 + (l_orderkey * 11 + l_linenumber) % 290 / 1000.0 AS lat,
        |    CAST(l_linenumber * 3 AS DOUBLE) AS z
        |  FROM lineitem
        |), g AS (
        |  SELECT *,
        |    (lon * (pi()/180) - 21 * (pi()/180))
        |      / (0.16666666666666666 * (pi()/180)) AS gx,
        |    (lat * (pi()/180) - 62.83333333333334 * (pi()/180))
        |      / (0.08333333333333333 * (pi()/180)) AS gy
        |  FROM pts
        |), c AS (
        |  SELECT *, CAST(floor(gx) AS INT) AS ix, CAST(floor(gy) AS INT) AS iy,
        |    gx - floor(gx) AS fx, gy - floor(gy) AS fy FROM g
        |), w AS (
        |  SELECT *, fx * fy AS fxy, iy * 5 + ix + 1 AS i00,
        |    [8.303895950317383, 8.253583908081055, 8.203262329101562,
        |     8.142932891845703, 8.072596549987793, 8.371929168701172,
        |     8.331618309020996, 8.291297912597656, 8.230969429016113,
        |     8.170634269714355, 8.439958572387695, 8.409647941589355,
        |     8.369329452514648, 8.319002151489258, 8.2586669921875,
        |     8.4979829788208, 8.477673530578613, 8.437355041503906,
        |     8.397028923034668, 8.346693992614746, 8.556002616882324,
        |     8.535694122314453, 8.505377769470215, 8.475051879882812,
        |     8.424718856811523] AS vals
        |  FROM c
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    z + (vals[i00] * (1.0 - fx - fy + fxy) + vals[i00 + 1] * (fx - fxy)
        |       + vals[i00 + 5] * (fy - fxy) + vals[i00 + 6] * fxy) AS zo
        |  FROM w
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(zo * 1e7 + 0.5) AS BIGINT) AS z_e7
        |FROM res""".stripMargin)),
    Query("q_crs_factory", (s, dir) => {
      // operation-FACTORY-derived planner (no hand-supplied candidates):
      // the CRS descriptions alone yield [NTv2 grid inside its header
      // extent, @null identity elsewhere]; the oracle replays the same
      // per-point CASE in SQL.  Point lattice is offset 0.0004 deg so no
      // point sits within 4e-4 of the grid's 4/7/52/55-degree edges
      // (the planner's deg->rad->deg round-trip is not bit-stable at the
      // boundary).
      val k = graft.geo.proj.OperationFactory.crsToCrs(
        "+proj=longlat +ellps=GRS80" +
          " +nadgrids=@tests/test_hgrid_little_endian.gsb,@null",
        "+proj=longlat +datum=WGS84")
      shiftE7(lattice(s, dir, 3.0504, 3900, 51.0504, 3900), k)
    }, Sql(
      // factory-derived planner mirror: same bilinear NTv2 replay as
      // q_crs_planner inside the grid's header extent (4..7 x 52..55 deg),
      // identity (@null bridge) elsewhere
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    3.0504 + (l_partkey * 7 + l_suppkey) % 3900 / 1000.0 AS lon,
        |    51.0504 + (l_orderkey * 11 + l_linenumber) % 3900 / 1000.0 AS lat
        |  FROM lineitem
        |), rad AS (
        |  SELECT *, lon * (pi()/180) AS lam, lat * (pi()/180) AS phi FROM pts
        |$ntv2CellSql
        |$ntv2ShiftSql
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN lon >= 4.0 AND lon <= 7.0 AND
        |              lat >= 52.0 AND lat <= 55.0
        |      THEN (lam + vlon) * (1.0/(pi()/180))
        |      ELSE lam * (1.0/(pi()/180)) END AS olon,
        |    CASE WHEN lon >= 4.0 AND lon <= 7.0 AND
        |              lat >= 52.0 AND lat <= 55.0
        |      THEN (phi + vlat) * (1.0/(pi()/180))
        |      ELSE phi * (1.0/(pi()/180)) END AS olat
        |  FROM sh
        |)
        |$e7Sql""".stripMargin)),
    Query("q_tinshift", (s, dir) => {
      // TIN barycentric shift (triangulation JSON) over points planted
      // strictly inside the model's single triangle; SQL oracle evaluates
      // the same barycentric formula.
      val k = graft.geo.proj.ProjString.parse(
        "+proj=tinshift +file=tests/tinshift_crs_implicit.json")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("u", (col("l_partkey") * 3 + col("l_suppkey")) % 900)
        .withColumn("v", (col("l_orderkey") * 5 + col("l_linenumber")) % 900)
        .withColumn("lon", lit(2.0) + least(col("u"), col("v")) / lit(1000.0))
        .withColumn("lat", lit(49.0) + (greatest(col("u"), col("v")) + 1) / lit(1000.0))
      val out = geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
      li.withColumn("o", out)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("o").getField("x") * 1e7 + 0.5).as("x_e7"),
          floor(col("o").getField("y") * 1e7 + 0.5).as("y_e7"))
    }, Sql(
      // barycentric mirror of tests/tinshift_crs_implicit.json: vertices
      // (2,49)->(2.1,49.1), (3,50)->(3.1,50.1), (2,50)->(2.1,50.1), one
      // triangle; points planted strictly inside.
      """WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    (l_partkey * 3 + l_suppkey) % 900 AS u,
        |    (l_orderkey * 5 + l_linenumber) % 900 AS v
        |  FROM lineitem
        |), xy AS (
        |  SELECT l_orderkey, l_linenumber,
        |    2.0 + least(u, v) / 1000.0 AS x,
        |    49.0 + (greatest(u, v) + 1) / 1000.0 AS y
        |  FROM pts
        |), bary AS (
        |  SELECT *,
        |    ((50.0-50.0)*(x-2.0) + (2.0-3.0)*(y-50.0)) /
        |      ((50.0-50.0)*(2.0-2.0) + (2.0-3.0)*(49.0-50.0)) AS l1,
        |    ((50.0-49.0)*(x-2.0) + (2.0-2.0)*(y-50.0)) /
        |      ((50.0-50.0)*(2.0-2.0) + (2.0-3.0)*(49.0-50.0)) AS l2
        |  FROM xy
        |), res AS (
        |  SELECT l_orderkey, l_linenumber,
        |    2.1*l1 + 3.1*l2 + 2.1*(1.0-l1-l2) AS ox,
        |    49.1*l1 + 50.1*l2 + 50.1*(1.0-l1-l2) AS oy
        |  FROM bary
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor(ox*1e7 + 0.5) AS BIGINT) AS x_e7,
        |  CAST(floor(oy*1e7 + 0.5) AS BIGINT) AS y_e7
        |FROM res""".stripMargin)),
    Query("q_crs_catalog", (s, _) => {
      // registry introspection as data (the proj_get_crs_info_list
      // analogue, reference c_api.cpp): the full CRS catalog aggregated
      // per (authority, type) — counts, deprecation, extent coverage and
      // a numeric-code sum.  The oracle pins the catalog content as
      // literal VALUES: the registry is a fixed input of the build (the
      // reference's data/sql), not derived from the sf tables, so the
      // frozen expectation IS the regression check.
      val sp = s; import sp.implicits._
      graft.geo.proj.AuthorityDb.crsInfoList().toDF()
        .groupBy(col("auth"), col("kind")).agg(
          count(lit(1)).as("n"),
          sum(when(col("deprecated"), 1L).otherwise(0L)).as("n_deprecated"),
          sum(when(col("west").isNotNull, 1L).otherwise(0L)).as("n_bbox"),
          sum(when(col("code").rlike("^[0-9]{1,9}$"), col("code").cast("long"))
            .otherwise(0L)).as("code_sum"))
    }, Sql(
      // the registry catalog is a fixed input (the reference's data/sql
      // scripts), so its aggregate is pinned as literal VALUES — any
      // parser regression (lost rows, flipped deprecation, broken extent
      // join, mangled codes) shifts a count or the code sum and fails
      """SELECT auth, kind, CAST(n AS BIGINT) AS n,
        |  CAST(nd AS BIGINT) AS n_deprecated, CAST(nb AS BIGINT) AS n_bbox,
        |  CAST(cs AS BIGINT) AS code_sum
        |FROM (VALUES
        |  ('EPSG','compound',577,11,577,5231308),
        |  ('EPSG','geocentric',296,44,296,2178981),
        |  ('EPSG','geographic 2D',718,81,717,4476388),
        |  ('EPSG','geographic 3D',300,35,300,2287755),
        |  ('EPSG','projected',5771,364,5757,70929518),
        |  ('EPSG','vertical',309,1,309,2324755),
        |  ('ESRI','geographic 2D',431,185,431,40725638),
        |  ('ESRI','geographic 3D',14,3,14,1463502),
        |  ('ESRI','projected',2274,1151,2274,227449020),
        |  ('ESRI','vertical',272,10,272,31312845),
        |  ('IAU_2015','geographic 2D',115,0,115,4703361818),
        |  ('IAU_2015','other',12,0,12,500597824),
        |  ('IAU_2015','projected',2074,0,2074,79964581844),
        |  ('IGNF','compound',227,0,227,0),
        |  ('IGNF','geocentric',134,0,134,0),
        |  ('IGNF','geographic 2D',152,0,152,0),
        |  ('IGNF','geographic 3D',53,0,53,0),
        |  ('IGNF','projected',260,0,260,0),
        |  ('IGNF','vertical',38,0,38,0),
        |  ('NKG','geocentric',2,0,2,0),
        |  ('OGC','geographic 2D',3,0,3,0),
        |  ('OGC','geographic 3D',1,0,1,0),
        |  ('PROJ','compound',4,0,4,0)
        |) AS t(auth, kind, n, nd, nb, cs)""".stripMargin)),
    Query("q_vert_offset", (s, dir) => {
      // Grid-free vertical operations from the registry's 9616/1046
      // offset records (the reference factory's vertical branch,
      // coordinateoperationfactory.cpp:563-664), all through the
      // crsToCrs front door on standalone vertical CRS codes:
      //  z_auckland: NZVD2009 -> Auckland 1946 (EPSG:4442, direct 9616)
      //  z_hop:      One Tree Point 1964 -> Auckland 1946 (2-hop BFS
      //              through the NZVD2009 hub: -0.06 then +0.34)
      //  z_ftus:     NAVD88 (m) -> NAVD88 (ftUS): same datum, axis glue
      //  z_evrf:     ODN -> EVRF2000 (EPSG:4651, Vertical Offset AND
      //              SLOPE: evaluation-point plane; slope_lon = 0)
      import graft.geo.proj.OperationFactory
      val k1 = OperationFactory.crsToCrs("EPSG:4440", "EPSG:5759")
      val k2 = OperationFactory.crsToCrs("EPSG:5767", "EPSG:5759")
      val k3 = OperationFactory.crsToCrs("EPSG:5703", "EPSG:6360")
      val k4 = OperationFactory.crsToCrs("EPSG:5701", "EPSG:5730")
      // UK lattice (the ODN plane is evaluated at real lat/lon)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("lon",
          lit(-1.05) - (col("l_partkey") * 7 + col("l_suppkey")) % 2900 / lit(1000.0))
        .withColumn("lat",
          lit(51.05) + (col("l_orderkey") * 11 + col("l_linenumber")) % 2900 / lit(1000.0))
        .withColumn("z",
          (col("l_linenumber") * 3).cast("double") + col("l_orderkey") % 97 / lit(100.0))
      def zOf(k: PointKernel) =
        geo.transform(k, forward = true, outDims = 3,
          col("lon"), col("lat"), col("z")).getField("z")
      li.select(col("l_orderkey"), col("l_linenumber"),
        floor(zOf(k1) * 1e7 + 0.5).cast("long").as("z_auckland_e7"),
        floor(zOf(k2) * 1e7 + 0.5).cast("long").as("z_hop_e7"),
        floor(zOf(k3) * 1e7 + 0.5).cast("long").as("z_ftus_e7"),
        floor(zOf(k4) * 1e7 + 0.5).cast("long").as("z_evrf_e7"))
    }, Sql(
      // constants inlined from vertOracleConsts (same-JVM bit parity);
      // z_hop replays the 2-hop chain step for step ((z-0.06)+0.34),
      // not the collapsed sum — addition order matters at the bit level
      s"""WITH pts AS (
        |  SELECT l_orderkey, l_linenumber,
        |    51.05 + (l_orderkey * 11 + l_linenumber) % 2900 / 1000.0 AS lat,
        |    CAST(l_linenumber * 3 AS DOUBLE) + l_orderkey % 97 / 100.0 AS z
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(floor((z + 0.34) * 1e7 + 0.5) AS BIGINT) AS z_auckland_e7,
        |  CAST(floor(((z - 0.06) + 0.34) * 1e7 + 0.5) AS BIGINT) AS z_hop_e7,
        |  CAST(floor((z * ${vertOracleConsts._1}) * 1e7 + 0.5) AS BIGINT)
        |    AS z_ftus_e7,
        |  CAST(floor((z + (0.07 + ${vertOracleConsts._2} *
        |      (lat * (pi()/180) - ${vertOracleConsts._3}))) * 1e7 + 0.5)
        |    AS BIGINT) AS z_evrf_e7
        |FROM pts""".stripMargin))
  )
}
