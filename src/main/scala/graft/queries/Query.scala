package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: `build(spark, sfDir)` is the Spark plan over the sf
  * parquet tables, `oracle` says how the driver checks its rows. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       oracle: Oracle)

sealed trait Oracle

/** Equivalent DuckDB SQL over the same parquet tables.  The text is built
  * on demand: some builders read a grid or the authority registry, and
  * one absent asset must cost only its own entry. */
final class Sql(text: => String) extends Oracle {
  def sql: String = text
}

object Sql {
  def apply(text: => String): Sql = new Sql(text)
}

/** Rows-only: the driver checks only that rows come back.  `reason` says
  * why no SQL replay exists and which spec pins the exact output. */
final case class NoOracle(reason: String) extends Oracle {
  require(reason.trim.nonEmpty, "a rows-only query must say why")
}
