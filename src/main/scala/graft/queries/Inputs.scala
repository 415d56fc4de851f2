package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The deterministic inputs the queries share, each built in Spark and
  * mirrored in DuckDB SQL, plus the SQL fragments several oracles replay.
  *
  * Conventions shared by every query/oracle pair:
  *  - deterministic lon/lat derived in-query from testdata numeric columns
  *    with non-round multipliers (never integer degrees), so Spark and the
  *    DuckDB oracle derive bit-identical doubles and no point sits on a
  *    face/cell boundary where libm ulp differences could flip a bin;
  *  - output columns are BIGINT/STRING only (metres scaled to integer
  *    centimetres, ratios in integer ppm via integer division, ranks), so
  *    cross-engine float formatting can't flip a hash compare;
  *  - every aggregate counts or sums integers — exact in any order, hence
  *    partition-count independent.
  *
  * Operators not expressible in DuckDB SQL (geodesic distance, MinHash /
  * SimHash LSH, SRP buckets, media decode) ship as rows-only queries and
  * get their exact oracles from the scalatest suites (gie fixtures,
  * brute-force comparisons) instead.
  */
private[graft] object Inputs {

  /** lineitem scan + derived deterministic geo columns (lon, lat). */
  def geoLineitem(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.withColumn("lon",
        pmod(col("l_extendedprice") * lit(1.000003), lit(359.9)) - lit(179.95))
      .withColumn("lat",
        pmod(col("l_discount") * lit(1000.0) + col("l_partkey") * lit(1.000007),
          lit(169.9)) - lit(84.95))
      .withColumn("pt_id",
        col("l_orderkey") * lit(8) + col("l_linenumber"))
  }

  /** SQL mirror of the geo derivation. DuckDB `mod` keeps the dividend
    * sign, so spell out the floored-mod identity used by Spark's pmod. */
  val lonSql =
    "(mod(mod(l_extendedprice * 1.000003, 359.9) + 359.9, 359.9) - 179.95)"
  val latSql =
    "(mod(mod(l_discount*1000.0 + l_partkey * 1.000007, 169.9) + 169.9, 169.9) - 84.95)"

  /** Study-area measure for Ripley's K and the Clark-Evans statistic
    * (whole authalic sphere) — the oracles embed the identical double. */
  val RipleyAreaM2: Double = 4.0 * math.Pi * 6371007.18 * 6371007.18

  /** Spherical-Mercator ln(tan φ + sec φ) of `lat` (degrees), written
    * out rather than asinh so both engines evaluate the same
    * floating-point expression; the second line is indented `indent`. */
  def mercSql(lat: String, indent: Int): String =
    s"ln(tan(radians($lat)) +\n${" " * indent}" +
      s"sqrt(tan(radians($lat))*tan(radians($lat)) + 1.0))"

  /** Unit-sphere x, y, z of the `lon`/`lat` columns (degrees), one per
    * line; lines after the first are indented `indent`. */
  def unitXyzSql(indent: Int): String =
    Seq("cos(radians(lat))*cos(radians(lon)) AS x",
      "cos(radians(lat))*sin(radians(lon)) AS y",
      "sin(radians(lat)) AS z").mkString(",\n" + " " * indent)

  /** Squared chord between the lon/lat points of aliases `a` and `b`,
    * in GeoEngine.chord2's operation order. */
  def chordSql(a: String, b: String): String =
    s"""pow(cos(radians($a.lat))*cos(radians($a.lon)) - cos(radians($b.lat))*cos(radians($b.lon)), 2) +
       |    pow(cos(radians($a.lat))*sin(radians($a.lon)) - cos(radians($b.lat))*sin(radians($b.lon)), 2) +
       |    pow(sin(radians($a.lat)) - sin(radians($b.lat)), 2)""".stripMargin

  /** The quadratic cube-face tiling (CellIndex) re-expressed as pure SQL:
    * produces columns (face, i, j) at `level` from lon/lat expressions. */
  def tileSql(lonExpr: String, latExpr: String, level: Int,
              from: String, extraCols: String = ""): String = {
    val n = 1 << level
    s"""
       |WITH pts AS (
       |  SELECT $lonExpr AS lon, $latExpr AS lat$extraCols FROM $from
       |), xyz AS (
       |  SELECT *, ${unitXyzSql(9)}
       |  FROM pts
       |), faced AS (
       |  SELECT *, CASE
       |    WHEN abs(x) > abs(y) THEN
       |      CASE WHEN abs(x) > abs(z) THEN (CASE WHEN x >= 0 THEN 0 ELSE 3 END)
       |           ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END
       |    ELSE
       |      CASE WHEN abs(y) > abs(z) THEN (CASE WHEN y >= 0 THEN 1 ELSE 4 END)
       |           ELSE (CASE WHEN z >= 0 THEN 2 ELSE 5 END) END
       |    END AS face
       |  FROM xyz
       |), uv AS (
       |  SELECT *,
       |    CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
       |              WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
       |    CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
       |              WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
       |  FROM faced
       |), st AS (
       |  SELECT *,
       |    CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END AS s,
       |    CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END AS t
       |  FROM uv
       |), tiled AS (
       |  SELECT *,
       |    LEAST(GREATEST(CAST(floor(s*$n) AS BIGINT), 0), ${n - 1}) AS i,
       |    LEAST(GREATEST(CAST(floor(t*$n) AS BIGINT), 0), ${n - 1}) AS j
       |  FROM st
       |)
     """.stripMargin
  }
}
