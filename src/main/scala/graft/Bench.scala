package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import java.util.concurrent.atomic.LongAdder

import graft.data.Dedup
import graft.geo.engine.GeoEngine
import graft.geo.grids.Grids
import graft.geo.synth.DocCorpus

/** The one benchmark entry point.  With no argument it runs the per-round
  * headline (driver contract): one JSON line on stdout.  A suite name
  * runs one side measurement instead:
  *
  *  - `Bench scaling [nDocs] [N] [dedup]`: N vs 4N scaling pair, table
  *    appended to ./BASELINE.md (see [[ScalingBench]]);
  *  - `Bench corpus [nDocs]`: corpus-assembly ops at scale ([[CorpusBench]]);
  *  - `Bench stats [nPoints]`: spatial statistics at scale ([[StatsBench]]);
  *  - `Bench grid`: the single-thread NTv2 kernel loop behind
  *    `gridshift_10m`, for the kernel-vs-row-machinery comparison.
  *
  * Headline metric (BASELINE.json): spatial-join output rows/s and tile
  * assignments/s over the synthetic interleaved-document corpus, plus the
  * per-core numeric kernel rate for comparison with the reference's
  * single-thread numbers (BASELINE.md).  Corpus size scales with the sf
  * directory the driver passes (sf0.1 -> 1M docs).  A job whose input is
  * missing here is left out of the totals and named under `skipped`
  * with the reason.
  *
  * Every headline job is timed as median-of-3 with one discarded warm-up,
  * and each rep records its own diagnosis trail (driver GC delta, executor
  * run / task-GC / stage-wall totals, shuffle bytes) into the JSON `diag`
  * object — a slow rep self-identifies as JVM state (task_gc_ms high),
  * driver heap (drv_gc_ms high), or host scheduling (wall up while
  * exec_run_ms and both GC columns stay flat).  Side-suite jobs are
  * single-shot and print the same trail for their one rep. */
object Bench {

  def main(args: Array[String]): Unit = args.toList match {
    case Nil => headline()
    case "scaling" :: rest => ScalingBench.run(rest)
    case "corpus" :: rest => CorpusBench.run(rest)
    case "stats" :: rest => StatsBench.run(rest)
    case "grid" :: _ => gridKernel()
    case suite :: _ => throw new IllegalArgumentException(
      s"unknown bench suite '$suite'; expected none, scaling, corpus, stats or grid")
  }

  // ------------------------------------------------------ shared harness

  /** Spark's default read split, for suites that keep it. */
  final val DefaultSplitBytes: Long = 128L << 20

  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The session every suite runs in: local[cpus], UI off, UTC, WARN, and
    * a fresh per-stage listener for `timeRep` to read. */
  def session(cpus: Int, shufflePartitions: Int,
              maxPartitionBytes: Long): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    listener = new StageDiagListener
    spark.sparkContext.addSparkListener(listener)
    spark
  }

  /** Per-stage totals accumulated between `reset()` calls — the in-rep
    * evidence for the `diag` JSON.  Stage-completed events post
    * asynchronously; a rep drains the listener bus before it reads. */
  final class StageDiagListener extends SparkListener {
    val execRunMs = new LongAdder; val taskGcMs = new LongAdder
    val shuffleReadB = new LongAdder; val shuffleWriteB = new LongAdder
    val stageWallMs = new LongAdder; val stages = new LongAdder
    def reset(): Unit = Seq(execRunMs, taskGcMs, shuffleReadB,
      shuffleWriteB, stageWallMs, stages).foreach(_.reset())
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        execRunMs.add(m.executorRunTime); taskGcMs.add(m.jvmGCTime)
        shuffleReadB.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      }
      for (s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime)
        stageWallMs.add(c - s)
      stages.add(1L)
    }
  }

  final case class RepDiag(sec: Double, drvGcMs: Long, execRunMs: Long,
                           taskGcMs: Long, shReadMb: Long, shWriteMb: Long,
                           stageWallMs: Long, stages: Long) {
    def json: String =
      s"""{"sec":$sec,"drv_gc_ms":$drvGcMs,"exec_run_ms":$execRunMs,""" +
        s""""task_gc_ms":$taskGcMs,"sh_read_mb":$shReadMb,""" +
        s""""sh_write_mb":$shWriteMb,"stage_wall_ms":$stageWallMs,"stages":$stages}"""
  }

  final case class JobResult(sec: Double, rows: Long, reps: Seq[RepDiag]) {
    def repSecs: Seq[Double] = reps.map(_.sec)
  }

  private var listener: StageDiagListener = null

  private def driverGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** One timed pass with its diagnosis trail. */
  def timeRep[A](f: => A): (RepDiag, A) = {
    if (listener != null) listener.reset()
    val gc0 = driverGcMs()
    val t0 = System.nanoTime()
    val out = f
    val sec = (System.nanoTime() - t0) / 1e9
    ListenerBusDrain.drainActive()
    val l = listener
    val d =
      if (l == null) RepDiag(sec, driverGcMs() - gc0, 0, 0, 0, 0, 0, 0)
      else RepDiag(sec, driverGcMs() - gc0, l.execRunMs.sum, l.taskGcMs.sum,
        l.shuffleReadB.sum >> 20, l.shuffleWriteB.sum >> 20,
        l.stageWallMs.sum, l.stages.sum)
    (d, out)
  }

  /** One discarded warm-up pass (JIT + shuffle-service + code-cache), then
    * `reps` timed passes; records the MEDIAN so the driver artifact is not
    * hostage to a single GC-outlier run (the round-2 artifact recorded a
    * 100 s knn that re-ran at 21 s).  All reps keep their full diagnosis
    * trail in the JSON for run-to-run variance audit — since round 5 every
    * job gets this treatment (the round-4 artifact had single-shot cheap
    * jobs whose 2x swings were unexplainable in-artifact). */
  def timeMedian(reps: Int)(f: => Long): JobResult = {
    // flush the weak-ref shuffle/cache state accumulated by EARLIER jobs
    // before anything here is timed: the first GC after a long run kicks
    // off an async ContextCleaner storm (shuffle-file deletes,
    // block-manager RPC) that otherwise lands inside the first timed rep
    // — the recorded signature was rep1 at 3-4x reps 2-3
    System.gc()
    Thread.sleep(300)
    f // warm-up, discarded
    val runs = (1 to reps).map { _ =>
      // each rep starts from a compacted heap with cleanup drained
      System.gc()
      Thread.sleep(200)
      timeRep(f)
    }
    val med = runs.map(_._1.sec).sorted.apply(reps / 2)
    JobResult(med, runs.head._2, runs.map(_._1))
  }

  /** Times one single-shot side-suite job and prints its JSON line with
    * the rep's diag; `rate` renders the throughput fields from
    * (rows, seconds). */
  def printJob(label: String, rate: (Long, Double) => String)(f: => Long): Unit = {
    val (d, rows) = timeRep(f)
    println(f"""{"job":"$label","sec":${d.sec}%.2f,"rows":$rows,${rate(rows, d.sec)},"diag":${d.json}}""")
  }

  /** Row count plus an order-insensitive checksum of `cols`: the two
    * halves of a per-row xxhash64 are summed separately as 31-bit values,
    * so the sum cannot overflow under ANSI mode.  Equal across
    * partitionings — the bit-for-bit check of the scaling pairs. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, String) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), sum(shiftrightunsigned(h, 33)),
      sum(h.bitwiseAND(lit(0x7fffffffL)))).head()
    (r.getLong(0),
      if (r.isNullAt(1)) "0:0" else s"${r.getLong(1)}:${r.getLong(2)}")
  }

  /** Writes the table at `path` unless a finished copy (its `_SUCCESS`
    * marker) is already there; returns the seconds spent writing. */
  def materialize(path: String)(write: String => Unit): Double =
    if (new java.io.File(s"$path/_SUCCESS").exists()) 0.0
    else timeRep(write(path))._1.sec

  def corpusPath(n: Long): String = s"/tmp/graft_bench_corpus_$n"

  def writeCorpus(spark: SparkSession, n: Long, path: String): Unit =
    DocCorpus.write(spark, n, path, parts = spark.sparkContext.defaultParallelism * 2)

  /** (doc_id, text): a corpus doc's span texts joined into one string. */
  def spanText(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_join(col("spans").getField("text"), " ").as("text"))

  /** Worldwide golden-ratio point scatter; |lat| <= 85 keeps webmerc
    * finite. */
  def scatter(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("pt_id"),
      (pmod(col("id") * lit(0.6180339887), lit(360.0)) - lit(180.0)).as("lon"),
      (pmod(col("id") * lit(0.7548776662), lit(170.0)) - lit(85.0)).as("lat"))

  /** Why a job that reads grid `name` cannot run here, or None when the
    * grid resolves. */
  def missingGrid(name: String): Option[String] =
    if (Grids.available(name)) None
    else Some(s"grid not found: $name; searched ${Grids.searchDirs.mkString(", ")}")

  /** NTv2 grid shift over France, degrees in and out (ntf_r93.gsb ships
    * with the reference tests). */
  final val NtfGrid = "ntf_r93.gsb"
  final val NtfPipeline =
    "+proj=pipeline +step +proj=unitconvert +xy_in=deg +xy_out=rad " +
      s"+step +proj=hgridshift +grids=$NtfGrid " +
      "+step +proj=unitconvert +xy_in=rad +xy_out=deg"

  private[graft] def jsonObject(fields: Iterable[(String, Any)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def jsonString(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  // ------------------------------------------------------------ headline

  /** sf-keyed corpus size; SPARK_GRAFT_DOCS overrides for ad-hoc scale
    * anchors (e.g. the 10M-doc sf1-equivalent run recorded in BENCH.md). */
  def corpusSize(sfDir: String): Long =
    sys.env.get("SPARK_GRAFT_DOCS").map(_.toLong).getOrElse {
      if (sfDir.contains("sf0.001")) 10000L
      else if (sfDir.contains("sf0.01")) 100000L
      else 1000000L
    }

  /** Hotspot-cluster polygons (match DocCorpus.hotspots) + one large
    * background box: the PIP workload with realistic skew. */
  val benchPolys: Seq[GeoEngine.Polygon] = Seq(
    GeoEngine.Polygon("tokyo", Array(139.0, 35.1, 140.4, 35.1, 140.4, 36.3, 139.0, 36.3)),
    GeoEngine.Polygon("nyc", Array(-74.6, 40.1, -73.4, 40.1, -73.4, 41.3, -74.6, 41.3)),
    GeoEngine.Polygon("paris", Array(1.7, 48.2, 3.0, 48.2, 3.0, 49.5, 1.7, 49.5)),
    GeoEngine.Polygon("background",
      Array(-120.3, -30.2, -60.1, -30.2, -60.1, 10.4, -120.3, 10.4)))

  /** The benchmark pipeline over a materialized corpus path: the timed
    * jobs, and the reason for each job skipped here. */
  def runJobs(spark: SparkSession, corpusPath: String,
              tileLevel: Int): (Map[String, JobResult], Map[String, String]) = {
    val docs = spark.read.parquet(corpusPath)
    // extract once, keep the narrow (id, lon, lat) projection hot — the
    // layout a production pipeline would have as its columnar geo table
    val geoDocs = GeoEngine.withGeoTag(docs)
      .select("doc_id", "lon", "lat").cache()
    geoDocs.count()
    // same for the dedup input: project the span text ONCE (narrow
    // (id, text) cache), so the minhash job measures dedup — not a
    // re-decode of the wide span arrays on every rep
    val texts = spanText(docs).cache()
    texts.count()
    // compact the heap + let the ContextCleaner drop corpus-build state
    // before anything is timed
    System.gc()

    val tile = timeMedian(3) {
      // full tile assignment + occupancy rollup (two map-side-combined aggs)
      GeoEngine.tileOccupancy(geoDocs, tileLevel)
        .agg(sum("n_docs")).head().getLong(0)
    }
    val pip = timeMedian(3) {
      GeoEngine.pipJoin(spark, geoDocs, benchPolys).count()
    }
    val knn = timeMedian(3) {
      val queries = geoDocs.where(col("doc_id") <
          f"doc${2000}%012d")
        .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
      val data = geoDocs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
      GeoEngine.knnJoin(queries, data, k = 10).count()
    }
    val range = timeMedian(3) {
      // within-distance (range) join: ~200 deterministic query docs vs the
      // full corpus at 25 km — headline "spatial-join output rows/s"
      val queries = geoDocs
        .where(pmod(xxhash64(col("doc_id")), lit(5000)) === 0)
        .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
      val data = geoDocs.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
      GeoEngine.distanceJoin(queries, data, radiusMeters = 25000.0).count()
    }
    val hexTile = timeMedian(3) {
      // hex tile assignment + occupancy (the H3-flavor tiling): webmerc
      // projection + axial hexbin + one map-side-combined agg — same
      // single-exchange shape as tile_assign on the square grid
      GeoEngine.hexOccupancy(geoDocs, sizeMeters = 25000.0)
        .agg(sum("n_docs")).head().getLong(0)
    }
    val raster = timeMedian(3) {
      val raster = GeoEngine.tiled(geoDocs, 6).select("cell").distinct()
        .withColumn("value", (col("cell") % 97).cast("double"))
      GeoEngine.rasterVectorStats(geoDocs, raster, 6)
        .agg(sum("n_docs")).head().getLong(0)
    }
    val kernel = timeMedian(3) {
      // raw per-row numeric rate: webmerc fwd + cell encode over 10M
      // generated points, single count — compares to PROJ's 1.6-4.4M/s/core
      import graft.geo.expr.geo
      val k = graft.geo.kernels.WebMercKernel()
      val n = 10000000L
      val pts = spark.range(0, n, 1, 64)
        .select((pmod(col("id") * lit(1.000003), lit(359.9)) - lit(179.95)).as("lon"),
          (pmod(col("id") * lit(1.000007), lit(169.9)) - lit(84.95)).as("lat"))
      pts.select(
          geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
            .getField("x").as("x"),
          geo.cellId(col("lon"), col("lat"), 12).as("cell"))
        .where(col("x").isNotNull)
        .agg(count(lit(1))).head().getLong(0)
    }
    val skipped = missingGrid(NtfGrid).map("gridshift_10m" -> _).toMap
    val gridshift = if (skipped.nonEmpty) None else Some(timeMedian(3) {
      // NTv2 grid-shift rate: deg->rad, bilinear shift, rad->deg — the
      // real-world datum-transformation hot path at corpus scale
      import graft.geo.expr.geo
      val k = graft.geo.proj.ProjString.parse(NtfPipeline)
      val n = 10000000L
      val pts = spark.range(0, n, 1, 64)
        .select((pmod(col("id") * lit(1.000003), lit(8.0)) - lit(3.95)).as("lon"),
          (pmod(col("id") * lit(1.000007), lit(8.5)) + lit(42.55)).as("lat"))
      pts.select(
          geo.transform(k, forward = true, outDims = 2, col("lon"), col("lat"))
            .getField("x").as("x"))
        .where(col("x").isNotNull)
        .agg(count(lit(1))).head().getLong(0)
    })
    // re-touch the texts cache OUTSIDE the timed region: the earlier
    // jobs can evict its blocks, and a first rep that silently
    // re-decodes the wide span arrays reads as a 4x spike (recorded
    // 33 s vs 7 s in the round-4 trio before this line)
    texts.count()
    val dedup = timeMedian(3) {
      Dedup.minhashLsh(texts, jaccardThreshold = 0.5).count()
    }
    texts.unpersist()
    (Map("tile_assign" -> tile, "hex_tile" -> hexTile, "pip_join" -> pip,
      "knn" -> knn, "distance_join" -> range, "raster_tile" -> raster,
      "kernel_10m" -> kernel, "minhash_dedup" -> dedup) ++
      gridshift.map("gridshift_10m" -> _), skipped)
  }

  private def headline(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = envCpus
    val spark = session(cpus, cpus, 8L << 20)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 64L << 20)

    val n = corpusSize(sfDir)
    val path = corpusPath(n)
    val genSec = materialize(path)(writeCorpus(spark, n, _))

    val (jobs, skipped) = runJobs(spark, path, tileLevel = 12)
    val total = jobs.values.map(_.sec).sum
    val qs = jsonObject(jobs.map { case (k, v) => k -> v.sec })
    val rows = jsonObject(jobs.map { case (k, v) => k -> v.rows })
    val reps = jsonObject(jobs.map { case (k, v) => k -> v.repSecs.mkString("[", ",", "]") })
    val diag = jsonObject(jobs.map { case (k, v) => k -> v.reps.map(_.json).mkString("[", ",", "]") })
    val skip =
      if (skipped.isEmpty) ""
      else s""","skipped":${jsonObject(skipped.map { case (k, v) => k -> jsonString(v) })}"""
    def rate(job: String): Long = (jobs(job).rows / math.max(1e-9, jobs(job).sec)).toLong
    val tput =
      s""""tile_assignments_per_sec":${rate("tile_assign")},""" +
        s""""pip_join_rows_per_sec":${rate("pip_join")},""" +
        s""""distance_join_rows_per_sec":${rate("distance_join")},""" +
        s""""kernel_coords_per_sec":${rate("kernel_10m")}"""
    println(s"""{"metric":"spatial_pipeline_total","value":$total,"unit":"sec","queries":$qs,"rows":$rows,"reps":$reps,"diag":$diag$skip,$tput,"corpus_docs":$n,"corpus_gen_sec":$genSec,"sf":"$sfDir"}""")
    spark.stop()
  }

  // --------------------------------------------------------- grid suite

  /** Single-thread NTv2 kernel loop over France, three passes: the kernel
    * rate that `gridshift_10m`'s per-core Spark rate is compared with. */
  private def gridKernel(): Unit = missingGrid(NtfGrid) match {
    case Some(why) => println(s"grid: skipped, $why")
    case None =>
      val k = graft.geo.proj.ProjString.parse(NtfPipeline)
      val n = 5000000
      for (pass <- 0 until 3) {
        val (d, sum) = timeRep {
          var sum = 0.0
          var s = 12345L
          var i = 0
          while (i < n) {
            s = s * 48271 % 2147483647L
            val x = -3.95 + (s % 8000) / 1000.0
            s = s * 48271 % 2147483647L
            val y = 42.55 + (s % 8500) / 1000.0
            val v = Array(x, y, 0.0, 0.0)
            if (k.fwd(v)) sum += v(0)
            i += 1
          }
          sum
        }
        println(f"pass $pass: ${n / d.sec / 1e6}%.2f M pts/s (${d.sec}%.2f s) sum=$sum%.1f")
      }
  }
}
