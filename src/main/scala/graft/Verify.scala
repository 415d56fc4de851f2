package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for focused
    // local runs (the driver always passes exactly two args)
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(queryFilter)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The query names in a comma-separated filter.  An unknown name is an
    * error that lists the valid ones: a typo must not silently run zero
    * queries. */
  private[graft] def queryFilter(arg: String): Set[String] = {
    val names = arg.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val known = SparkEntry.queries.keySet
    val unknown = names -- known
    require(names.nonEmpty, s"empty query filter '$arg'; valid names: " +
      known.toSeq.sorted.mkString(", "))
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}; " +
        s"valid names: ${known.toSeq.sorted.mkString(", ")}")
    names
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The oracle_sql.json body for `build`'s (query name -> SQL) map.  A
    * failed oracle BUILDER must never cost the round's whole compare:
    * SparkEntry.oracleSql builds each oracle on its own (an absent asset
    * degrades only that entry to rows-only), and this outer net still
    * writes well-formed JSON if map construction throws — as
    * `{"_oracle_error": "<message>"}`, so lost coverage is visible in the
    * file, not an empty map. */
  private[graft] def oracleJson(build: => Map[String, String]): String =
    try build.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] oracleSql construction failed: ${e.getMessage}")
        s"{${q("_oracle_error")}: ${q(String.valueOf(e.getMessage))}}"
    }
}
