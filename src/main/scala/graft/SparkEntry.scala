package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.expr.geo
import graft.geo.grids.Grids
import graft.queries.{CorpusQueries, CrsQueries, Inputs, JoinQueries, NoOracle, Query, Sql,
  TilingQueries}

/** Driver contract — see SURVEY.md §7.5.  Every query lives once in the
  * registry under `graft.queries`, its Spark plan next to its DuckDB
  * oracle; `queries` and `oracleSql` are views of that registry. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Tile occupancy of the corpus: lon/lat -> S2-style cell at level 6 ->
    * occupancy counts (SURVEY.md §7.2 slice 0). */
  def entry(spark: SparkSession): DataFrame = {
    val pts = Inputs.geoLineitem(spark, "/root/testdata/sf0.001")
    pts.select(geo.cellId(col("lon"), col("lat"), 6).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .orderBy(col("cell"))
  }

  /** One entry per implemented operator from SURVEY.md §2, by domain. */
  val registry: Seq[Query] =
    CrsQueries.all ++ TilingQueries.all ++ JoinQueries.all ++ CorpusQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each query with an [[Sql]] oracle, equivalent ANSI SQL runnable
    * by DuckDB on the same parquet tables.  Omitted keys get the weaker
    * rows-only check. */
  def oracleSql: Map[String, String] = oraclesOf(registry)

  /** Builds each oracle on its own.  Only a builder that fails for an
    * absent asset (a grid, model or the authority scripts) loses its
    * entry; any other failure is a regression and propagates, since
    * silently dropping the oracle would hide exactly what the pinned
    * VALUES oracles exist to catch. */
  private[graft] def oraclesOf(qs: Seq[Query]): Map[String, String] =
    qs.flatMap { q =>
      q.oracle match {
        case o: Sql =>
          try Some(q.name -> o.sql)
          catch {
            case e: Exception if missingAsset(e) =>
              System.err.println(
                s"[oracle] builder failed, entry omitted: ${e.getMessage}")
              None
          }
        case _: NoOracle => None
      }
    }.toMap

  /** Whether `e` or one of its causes is a [[Grids.GridMissing]]. */
  private def missingAsset(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[Grids.GridMissing])
}
