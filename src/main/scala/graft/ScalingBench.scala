package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Bench.{RepDiag, checksum, timeRep}
import graft.geo.engine.GeoEngine
import graft.geo.expr.geo

/** `Bench scaling [nDocs] [N] [dedup]`: two-cluster-size scaling evidence
  * (BASELINE.md protocol) — the same jobs on the same input at local[N]
  * and local[4N]:
  *
  *  - `kernel`: 120M UTM (Poder-Engsager) transforms + cell encodes from an
  *    in-memory generator — the numeric core, measuring pure compute
  *    scaling (the component that grows with executors on a real cluster);
  *  - `pipeline`: corpus scan -> geo-tag extraction -> level-12 tile
  *    assignment + PIP join, counts + order-insensitive checksums in one
  *    aggregation each — the end-to-end path, which on ONE host is
  *    memory-bandwidth-bound (all threads share one memory controller;
  *    a real N-node cluster adds bandwidth with nodes).
  *
  * Asserts bit-for-bit equality of tile assignments and join rows across
  * the two parallelism levels and appends the table to ./BASELINE.md.
  * A third argument `dedup` runs the data-pipeline pair instead.
  *
  * Defaults: 8M docs, N=2 (N=2 vs 4N=8 stays within the host's 16 physical
  * cores — 8 vs 32 would measure hyperthread contention, not scaling).
  */
private[graft] object ScalingBench {

  final case class RunStats(kernel: RepDiag, kernelRows: Long,
                            pipe: RepDiag, tileAssignments: Long,
                            pipRows: Long, tileChecksum: String,
                            pipChecksum: String,
                            narrow: RepDiag, narrowTileCk: String,
                            narrowPipCk: String,
                            dist: RepDiag, distRows: Long, distCk: String)

  private val KernelRows = 120000000L

  def runAt(cpus: Int, corpusPath: String, narrowPath: String,
            distQueryMod: Long): RunStats = {
    // split the skewed hotspot partition files into many input tasks
    val spark = Bench.session(cpus, cpus, 8L << 20)
    try {
      // --- kernel job (in-memory source, pure numeric) ---------------------
      val utm = graft.geo.kernels.UtmKernel(31)
      def kernelJob(n: Long): Long = {
        val pts = spark.range(0, n, 1, cpus * 4)
          .select((pmod(col("id") * lit(0.0000103), lit(5.9)) + lit(0.05)).as("lon"),
            (pmod(col("id") * lit(0.0000107), lit(79.9)) - lit(40.0)).as("lat"))
        pts.select(
            geo.transform(utm, forward = true, outDims = 2, col("lon"), col("lat"))
              .getField("x").as("x"),
            geo.cellId(col("lon"), col("lat"), 14).as("cell"))
          .where(col("x").isNotNull)
          .agg(count(lit(1))).head().getLong(0)
      }
      kernelJob(1000000) // warm codegen + JIT
      val (kernel, kernelRows) = timeRep(kernelJob(KernelRows))

      // --- corpus pipeline job --------------------------------------------
      def tileAndPip(df: DataFrame) = timeRep((
        checksum(GeoEngine.tiled(df, 12), Seq("doc_id", "cell")),
        checksum(GeoEngine.pipJoin(spark, df, Bench.benchPolys),
          Seq("doc_id", "poly_id"))))
      val (pipe, ((tileN, tileCk), (pipN, pipCk))) =
        tileAndPip(GeoEngine.withGeoTag(spark.read.parquet(corpusPath)))

      // --- narrow-layout pipeline (the production geo table: extract
      // once, then all joins run over (doc_id, lon, lat) columns — the
      // scan no longer decodes nested span arrays) -----------------------
      // the narrow table's 64 files are uniform, so the 8MB skew-split
      // above only multiplies task-scheduling overhead here (256 tasks
      // of ~0.25s); 64MB splits are read at plan time for the actions
      // below
      spark.conf.set("spark.sql.files.maxPartitionBytes", 64 * 1024 * 1024)
      // 4x replication (tagged ids) so the job is long enough to
      // amortize fixed stage startup at the small core count
      val narrow = (0 until 4).map { i =>
        spark.read.parquet(narrowPath)
          .withColumn("doc_id", concat(col("doc_id"), lit("#" + i)))
      }.reduce(_ unionByName _)
      val (narrowRep, ((nTileN, nTileCk), (nPipN, nPipCk))) = tileAndPip(narrow)
      require(nTileN == 4 * tileN && nPipN == 4 * pipN,
        "narrow-layout results differ from the wide scan!")

      // --- within-distance spatial join (the north rule's literal headline
      // unit: join OUTPUT rows/s).  Unlike the scan-bound wide pipeline this
      // job is compute-bound — a codegen chord prefilter over per-row
      // precomputed unit-sphere (x,y,z) plus exact Karney geodesics in the
      // accept/reject band's thin annulus — so it is the spatial-join
      // component whose throughput grows with executors on a real cluster.
      val geoNarrow = spark.read.parquet(narrowPath)
      val dQueries = geoNarrow
        .where(pmod(xxhash64(col("doc_id")), lit(distQueryMod)) === 0)
        .select(col("doc_id").as("query_id"), col("lon"), col("lat"))
      val dData = geoNarrow
        .select(col("doc_id").as("data_id"), col("lon"), col("lat"))
      val (dist, (distN, distCk)) = timeRep(checksum(
        GeoEngine.distanceJoin(dQueries, dData, radiusMeters = 25000.0),
        Seq("query_id", "data_id")))

      RunStats(kernel, kernelRows, pipe, tileN, pipN, tileCk, pipCk,
        narrowRep, nTileCk, nPipCk, dist, distN, distCk)
    } finally spark.stop()
  }

  // ------------------------------------------------- dedup scaling mode

  final case class DedupStats(dedup: RepDiag, dedupPairs: Long,
                              dedupCk: String, corpus: RepDiag,
                              corpusDocs: Long, corpusCk: String,
                              stagedSec: Double,
                              dedupCpuSec: Double, corpusCpuSec: Double)

  /** Whole-process CPU seconds (user+sys across all threads) — the
    * work-conservation check for the scaling pairs: if a job burns the
    * same CPU-seconds at N and 4N but the wall ratio lags 4×, the gap is
    * stall time (one host's memory bandwidth shared by more threads),
    * not extra work — exactly the component a real multi-node 4×
    * scale-up removes by adding a memory system per node. */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Scaling pair for the data-pipeline headliners: MinHash near-dup over
    * the full corpus and the end-to-end corpus pipeline (url+exact+
    * near-dup+CC+quality gate+decontaminate+split+pack), each with an
    * order-insensitive checksum so bit-for-bit equality across
    * parallelism levels is asserted, same as the spatial jobs.  Both are
    * hash-deterministic by construction (content-addressed fingerprints,
    * no RNG), so the checksums must match exactly. */
  def runDedupAt(cpus: Int, textsPath: String,
                 alsoStaged: Boolean = false): DedupStats = {
    // dedup shuffles are DATA-sized, not core-sized: the banded
    // minhash exchange carries docs x bands rows (128M at 8M docs),
    // and `partitions = cpus` makes multi-GB sort partitions that
    // spill — both runs go disk-bound and the scaling ratio measures
    // the disk, not the cores.  Size for ~tens of MB per partition and
    // let AQE coalesce the small stages down (AQE can only merge,
    // never split).  Same value at BOTH parallelism levels.
    val spark = Bench.session(cpus, 96, 64L << 20)
    try {
      val texts = spark.read.parquet(textsPath)

      val mc0 = processCpuSec()
      val (dedup, (nPairs, pairCk)) = timeRep(checksum(
        graft.data.Dedup.minhashLsh(texts, jaccardThreshold = 0.5),
        Seq("left_id", "right_id")))
      val dedupCpuSec = processCpuSec() - mc0

      // end-to-end pipeline over the same corpus: deterministic url from
      // the content fingerprint (the corpus generator has no urls), eval
      // set as a hash-sampled slice — the q_corpus_pipeline shape at
      // bench scale.  Repetition gates off for the synthetic vocabulary.
      val docs = texts.withColumn("url",
        concat(lit("https://site"),
          pmod(xxhash64(col("doc_id")), lit(1000)).cast("string"),
          lit(".example.com/p/"), col("doc_id")))
      val eval = docs.where(pmod(xxhash64(col("doc_id")), lit(4001)) === 0)
        .select(col("doc_id").as("eval_id"), col("text"))
      def survivors(lineage: String): (Long, String) = {
        val r = graft.data.CorpusPipeline.build(docs,
          graft.data.CorpusPipeline.Config(
            evalSet = Some(eval),
            maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0,
            lineage = lineage))
        checksum(r.stages.last._2, Seq("doc_id"))
      }
      val cc0 = processCpuSec()
      // the DEFAULT build since round 5 — lineage = "production": cuts
      // only post-near-dup and post-gate (the r4 study's middle between
      // the staged build's per-stage barriers, 0.55 efficiency at 4→16,
      // and the lazy build's ~2.4× recompute wall)
      val (corpus, (nSurv, survCk)) = timeRep(survivors("production"))
      val corpusCpuSec = processCpuSec() - cc0

      // staged twin at the SMALL rung only: the wall-time yardstick the
      // production default must stay within ~1.5× of
      val stagedSec =
        if (!alsoStaged) -1.0
        else {
          val (staged, (nS, ckS)) = timeRep(survivors("staged"))
          require(nS == nSurv && ckS == survCk,
            "staged and production builds disagree on survivors!")
          staged.sec
        }

      DedupStats(dedup, nPairs, pairCk, corpus, nSurv, survCk,
        stagedSec, dedupCpuSec, corpusCpuSec)
    } finally spark.stop()
  }

  def run(args: Seq[String]): Unit = {
    val nDocs = args.lift(0).fold(8000000L)(_.toLong)
    val baseN = args.lift(1).fold(2)(_.toInt)
    val dedup = args.lift(2).contains("dedup")
    val corpusPath = Bench.corpusPath(nDocs)
    val narrowPath = corpusPath + "_geo"
    val textsPath = corpusPath + "_texts"
    val s = Bench.session(16, 32, Bench.DefaultSplitBytes)
    try {
      Bench.materialize(corpusPath)(Bench.writeCorpus(s, nDocs, _))
      if (dedup) {
        Bench.materialize(textsPath)(Bench.spanText(s.read.parquet(corpusPath))
          .repartition(64).write.mode("overwrite").parquet(_))
        // page-cache warm only (JIT is per-JVM anyway): one full read of
        // the texts table — a full dedup warm run at baseN would add
        // ~25 min of wall for no measurement benefit
        s.read.parquet(textsPath).agg(count(col("text"))).head()
      } else
        Bench.materialize(narrowPath)(GeoEngine.withGeoTag(s.read.parquet(corpusPath))
          .select("doc_id", "lon", "lat").repartition(64)
          .write.mode("overwrite").parquet(_))
    } finally s.stop()
    if (dedup) dedupPair(nDocs, baseN, textsPath)
    else spatialPair(nDocs, baseN, corpusPath, narrowPath)
  }

  private def record(table: String, json: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get("BASELINE.md"),
      table.getBytes("UTF-8"), java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    println(table)
    println(json)
  }

  private def diagPairs(jobs: (String, RepDiag, RepDiag)*): String =
    Bench.jsonObject(jobs.map { case (k, a, b) => k -> s"[${a.json},${b.json}]" })

  private def dedupPair(nDocs: Long, baseN: Int, textsPath: String): Unit = {
    val small = runDedupAt(baseN, textsPath, alsoStaged = true)
    val big = runDedupAt(baseN * 4, textsPath)
    require(small.dedupPairs == big.dedupPairs && small.dedupCk == big.dedupCk,
      "minhash dup pairs differ between parallelism levels!")
    require(small.corpusDocs == big.corpusDocs && small.corpusCk == big.corpusCk,
      "corpus-pipeline survivors differ between parallelism levels!")
    val dedupEff = small.dedup.sec / big.dedup.sec / 4.0
    val corpusEff = small.corpus.sec / big.corpus.sec / 4.0
    val stamp = java.time.Instant.now().toString
    val table =
      s"""
         |## Dedup scaling run $stamp — $nDocs docs, local[$baseN] vs local[${baseN * 4}]
         |
         || job | local[$baseN] wall s | local[${baseN * 4}] wall s | result rows | efficiency |
         ||---|---|---|---|---|
         || minhash near-dup (full corpus) | ${f"${small.dedup.sec}%.2f"} | ${f"${big.dedup.sec}%.2f"} | ${small.dedupPairs} dup pairs | ${f"$dedupEff%.3f"} |
         || corpus pipeline, production lineage (url+exact+near-dup+CC+gate+decontam+split) | ${f"${small.corpus.sec}%.2f"} | ${f"${big.corpus.sec}%.2f"} | ${small.corpusDocs} survivors | ${f"$corpusEff%.3f"} |
         |
         |Work conservation (process CPU-seconds, user+sys all threads):
         |minhash ${f"${small.dedupCpuSec}%.0f"} @${baseN} vs ${f"${big.dedupCpuSec}%.0f"} @${baseN * 4}
         |(ratio ${f"${big.dedupCpuSec / math.max(1e-9, small.dedupCpuSec)}%.2f"}); corpus pipeline
         |${f"${small.corpusCpuSec}%.0f"} vs ${f"${big.corpusCpuSec}%.0f"}
         |(ratio ${f"${big.corpusCpuSec / math.max(1e-9, small.corpusCpuSec)}%.2f"}).  A CPU ratio near 1.0 with a
         |wall ratio short of ${baseN * 4}/${baseN} means the gap is stall time — more
         |threads sharing ONE host's memory system — not extra work; a real
         |N→4N executor scale-up adds a memory system per node.
         |
         |Bit-for-bit across parallelism: dup-pair checksum equal =
         |${small.dedupCk == big.dedupCk}, survivor checksum equal =
         |${small.corpusCk == big.corpusCk} (order-insensitive split
         |xxhash64 sums).  **MinHash scaling efficiency = ${f"$dedupEff%.3f"};
         |corpus-pipeline efficiency = ${f"$corpusEff%.3f"}** (target >= 0.8).
         |Production-vs-staged wall at local[$baseN]: ${f"${small.corpus.sec}%.2f"} s
         |vs ${f"${small.stagedSec}%.2f"} s = ${f"${small.corpus.sec / math.max(1e-9, small.stagedSec)}%.2f"}×
         |(staged twin checksum-verified equal; bar <= ~1.5×).
         |""".stripMargin
    val diag = diagPairs(("minhash", small.dedup, big.dedup),
      ("corpus_pipeline", small.corpus, big.corpus))
    record(table, s"""{"metric":"dedup_scaling_efficiency","value":${f"$dedupEff%.4f"},"unit":"ratio","corpus_pipeline_efficiency":${f"$corpusEff%.4f"},"small_cpus":$baseN,"big_cpus":${baseN * 4},"docs":$nDocs,"diag":$diag}""")
  }

  private def spatialPair(nDocs: Long, baseN: Int, corpusPath: String,
                          narrowPath: String): Unit = {
    // ~2,000 distance-join queries: enough parallel Karney work that the
    // job's ~2 s of fixed cost (query-side scan, broadcast build, job
    // setup) amortizes away — at ~200 queries the fixed part dominated
    // local[8] and the measured "efficiency" was the overhead ratio, not
    // the compute scaling
    val distQueryMod = math.max(1L, nDocs / 4000)

    runAt(baseN, corpusPath, narrowPath, distQueryMod) // warm page cache / JIT

    val small = runAt(baseN, corpusPath, narrowPath, distQueryMod)
    val big = runAt(baseN * 4, corpusPath, narrowPath, distQueryMod)

    require(small.tileAssignments == big.tileAssignments &&
      small.tileChecksum == big.tileChecksum,
      "tile assignments differ between parallelism levels!")
    require(small.pipRows == big.pipRows && small.pipChecksum == big.pipChecksum,
      "PIP join rows differ between parallelism levels!")

    require(small.narrowTileCk == big.narrowTileCk &&
      small.narrowPipCk == big.narrowPipCk,
      "narrow-layout results differ between parallelism levels!")

    require(small.distRows == big.distRows && small.distCk == big.distCk,
      "distance-join rows differ between parallelism levels!")

    val kernelEff = small.kernel.sec / big.kernel.sec / 4.0
    val pipeEff = small.pipe.sec / big.pipe.sec / 4.0
    val narrowEff = small.narrow.sec / big.narrow.sec / 4.0
    val distEff = small.dist.sec / big.dist.sec / 4.0

    def rate(rows: Long, d: RepDiag): Long = (rows / d.sec).toLong
    val stamp = java.time.Instant.now().toString
    val table =
      s"""
         |## Scaling run $stamp — $nDocs docs, local[$baseN] vs local[${baseN * 4}]
         |
         || job | local[$baseN] wall s | local[${baseN * 4}] wall s | rows | rows/s @$baseN | rows/s @${baseN * 4} | efficiency |
         ||---|---|---|---|---|---|---|
         || kernel (UTM+cell, 120M pts) | ${f"${small.kernel.sec}%.2f"} | ${f"${big.kernel.sec}%.2f"} | ${small.kernelRows} | ${rate(small.kernelRows, small.kernel)} | ${rate(big.kernelRows, big.kernel)} | ${f"$kernelEff%.3f"} |
         || pipeline (tile+PIP, wide interleaved scan) | ${f"${small.pipe.sec}%.2f"} | ${f"${big.pipe.sec}%.2f"} | ${small.tileAssignments + small.pipRows} | ${rate(small.tileAssignments + small.pipRows, small.pipe)} | ${rate(big.tileAssignments + big.pipRows, big.pipe)} | ${f"$pipeEff%.3f"} |
         || pipeline (tile+PIP, narrow geo table, 4x rows) | ${f"${small.narrow.sec}%.2f"} | ${f"${big.narrow.sec}%.2f"} | ${4 * (small.tileAssignments + small.pipRows)} | ${rate(4 * (small.tileAssignments + small.pipRows), small.narrow)} | ${rate(4 * (big.tileAssignments + big.pipRows), big.narrow)} | ${f"$narrowEff%.3f"} |
         || distance join (25 km, ~2,000 queries, output rows/s) | ${f"${small.dist.sec}%.2f"} | ${f"${big.dist.sec}%.2f"} | ${small.distRows} | ${rate(small.distRows, small.dist)} | ${rate(big.distRows, big.dist)} | ${f"$distEff%.3f"} |
         |
         |Tile assignments: ${small.tileAssignments}; PIP join rows: ${small.pipRows}.
         |Bit-for-bit across parallelism levels: tile checksum equal = ${small.tileChecksum == big.tileChecksum},
         |PIP checksum equal = ${small.pipChecksum == big.pipChecksum}
         |(order-insensitive split xxhash64 sums).
         |Distance-join output rows: ${small.distRows}; checksum equal across
         |parallelism = ${small.distCk == big.distCk}.
         |**Numeric-core scaling efficiency = ${f"$kernelEff%.3f"}** (target >= 0.8);
         |**spatial-join (distance) efficiency = ${f"$distEff%.3f"}**;
         |**narrow-layout pipeline efficiency = ${f"$narrowEff%.3f"}**.
         |The wide-scan pipeline (${f"$pipeEff%.3f"}) is bounded on one host by the
         |shared memory controller while decoding nested span arrays; the
         |production layout extracts the narrow geo table once and runs all
         |joins over it (same rows, bit-for-bit identical checksums), and a
         |real multi-node cluster adds memory bandwidth with every node,
         |which local[] cannot emulate.
         |""".stripMargin
    val diag = diagPairs(("kernel", small.kernel, big.kernel),
      ("pipeline", small.pipe, big.pipe), ("narrow_pipeline", small.narrow, big.narrow),
      ("distance_join", small.dist, big.dist))
    record(table, s"""{"metric":"scaling_efficiency","value":${f"$kernelEff%.4f"},"unit":"ratio","distance_join_efficiency":${f"$distEff%.4f"},"pipeline_efficiency":${f"$pipeEff%.4f"},"narrow_pipeline_efficiency":${f"$narrowEff%.4f"},"small_cpus":$baseN,"big_cpus":${baseN * 4},"docs":$nDocs,"kernel_rows":${KernelRows},"diag":$diag}""")
  }
}
