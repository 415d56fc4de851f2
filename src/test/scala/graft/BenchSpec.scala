package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.geo.grids.Grids

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  @transient private var spark: SparkSession = _

  override def beforeAll(): Unit =
    spark = Bench.session(cpus = 2, shufflePartitions = 4, Bench.DefaultSplitBytes)

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("checksum ignores partitioning and sees a one-row change") {
    val df = spark.range(0, 1000, 1, 3)
      .select(col("id"), pmod(col("id") * 7, lit(13)).as("v"))
    val cols = Seq("id", "v")
    val base = Bench.checksum(df, cols)
    assert(base._1 == 1000L)
    assert(Bench.checksum(df.repartition(7), cols) == base)
    val changed = df.withColumn("v",
      when(col("id") === 500, col("v") + 1).otherwise(col("v")))
    assert(Bench.checksum(changed, cols) != base)
    assert(Bench.checksum(df.where(col("id") < 0), cols) == (0L, "0:0"))
  }

  test("a missing grid is skipped with the grid and every place searched") {
    val name = s"no_such_grid_${java.util.UUID.randomUUID()}.gsb"
    val why = Bench.missingGrid(name)
    assert(why.isDefined)
    assert(why.get.startsWith(s"grid not found: $name; searched "))
    assert(Grids.searchDirs.nonEmpty)
    Grids.searchDirs.foreach(d => assert(why.get.contains(d), s"$d not named"))
  }
}
