package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `Bench corpus [nDocs]` (default 10M): one-off scale measurements for
  * ops outside the driver's headline Bench (whose job set is held stable
  * for round-over-round comparison): the corpus-assembly trio (paragraph
  * dedup, stratified sampling, sequence packing) on a synthetic N-doc
  * corpus, plus the round-3 additions — semantic dedup over N/10
  * synthetic 64-dim embeddings and the multi-level tile pyramid over N
  * points.  Results are recorded in BENCH.md.
  *
  * Corpus shape: every doc has a boilerplate header paragraph shared by
  * n/1000 docs (the C4 boilerplate situation), a unique body paragraph
  * with 1..37 filler tokens, and a unique trailer — so paragraph dedup
  * strips ~1/3 of paragraphs, sampling strata are 5 synthetic langs,
  * and packing sees realistic token-count variance.
  */
private[graft] object CorpusBench {
  private def synth(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws("\n",
        concat(lit("shared boilerplate header variant "), pmod(col("id"), lit(1000))),
        concat(trim(repeat(lit("tok "), (pmod(col("id"), lit(37)) + 1).cast("int"))),
          lit(" body "), col("id")),
        concat(lit("trailer of document "), col("id"))).as("text"),
      concat(lit("l"), pmod(col("id"), lit(5))).as("lang"))

  def run(args: Seq[String]): Unit = {
    val n = args.headOption.fold(10000000L)(_.toLong)
    val spark = Bench.session(Bench.envCpus, Bench.envCpus, Bench.DefaultSplitBytes)
    val docs = synth(spark, n)

    def time(label: String)(f: => Long): Unit =
      Bench.printJob(label, (rows, s) => s""""rows_per_s":${(rows / s).toLong}""")(f)

    time("paragraph_dedup")(
      graft.data.Corpus.paragraphDedup(docs).count())
    time("stratified_sample")(
      graft.data.Corpus.stratifiedSample(docs, "lang", n = 100000).count())
    time("pack_sequences")(
      graft.data.Corpus.packSequences(docs, budget = 2048).count())

    // URL-level dedup at N urls: the plant makes ~n/20 dup groups of ~20
    // messy spellings each (case/www/port/tracking variants of the same
    // canonical url) — the realistic crawl shape where most urls are
    // unique and dups cluster
    val urls = spark.range(n).select(col("id").as("doc_id"),
      concat(
        when(pmod(col("id"), lit(4)) === 0, lit("HTTPS://WWW."))
          .when(pmod(col("id"), lit(4)) === 1, lit("https://www."))
          .when(pmod(col("id"), lit(4)) === 2, lit("https://"))
          .otherwise(lit("HTTPS://")),
        lit("host"), pmod(col("id"), lit(100000)), lit(".example.com/p/"),
        pmod(col("id"), lit(math.max(1L, n / 20))),
        when(pmod(col("id"), lit(2)) === 0, lit("?utm_source=x"))
          .otherwise(lit(""))).as("url"))
    time("url_dedup")(
      graft.data.UrlOps.dedupByUrl(urls).count())

    // incremental (snapshot) dedup at N new docs vs an N/2-doc prior
    // snapshot with an N/50 planted overlap (snapshot ids ending the
    // doc-id range): the Bloom prefilter lets ~98-99% of the new batch
    // exit map-side; the exact anti-join sees only the overlap + false
    // positives.  Expected survivors: N - N/50.
    val snapshot = spark.range(n / 2).select(
      (col("id") + lit(2 * n)).as("doc_id"),
      when(pmod(col("id"), lit(5)) === 0, // every 5th snapshot doc = a new doc's text
        concat_ws("\n",
          concat(lit("shared boilerplate header variant "),
            pmod(col("id") * 10, lit(1000))),
          concat(trim(repeat(lit("tok "),
            (pmod(col("id") * 10, lit(37)) + 1).cast("int"))),
            lit(" body "), col("id") * 10),
          concat(lit("trailer of document "), col("id") * 10)))
        .otherwise(concat(lit("snapshot-only text "), col("id"))).as("text"))
    time("incremental_dedup")(
      graft.data.Dedup.incrementalDedup(docs, snapshot,
        expectedOldDocs = n / 2).count())

    // semantic dedup at N/10 vectors: clusters sized so occupancy stays
    // ~250/cluster (the within-cluster pairwise cost the paper accepts)
    val nVec = math.max(n / 10, 1000L)
    val vecs = spark.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        (pmod(xxhash64(col("id") * lit(64) + d), lit(2001)).cast("double")
          / lit(1000.0) - lit(1.0)).cast("float")).as("embedding"))
    // filter on the kept flag: a bare count() would let the optimizer
    // eliminate the distinct-keyed outer join and skip the pairwise work
    time("semantic_dedup")(
      graft.data.Dedup.semanticDedup(vecs,
          nClusters = math.max(16, (nVec / 250).toInt), threshold = 0.8)
        .where(col("kept")).count())

    // substring-duplicate spans at N docs: every doc gets a ~12-token
    // unique body, and 1 in 10 docs embeds one of 100 shared 20-token
    // passages — the boilerplate-passage situation ExactSubstr dedup
    // exists for.  Cost profile: one window-hash explosion per scan
    // (~N x 32 hash rows through partial aggregation), duplicate rows
    // only through the join and span merge.
    val spanDocs = spark.range(n).select(col("id").as("doc_id"),
      concat(
        array_join(transform(sequence(lit(0), lit(11)),
          i => concat(lit("b"), pmod(xxhash64(col("id") * 13 + i),
            lit(1000000000L)))), " "),
        when(pmod(col("id"), lit(10)) === 0,
          concat(lit(" "), array_join(transform(sequence(lit(0), lit(19)),
            i => concat(lit("p"), pmod(col("id"), lit(1000)), lit("x"), i)),
            " "))).otherwise(lit(""))).as("text"))
    time("duplicate_spans")(
      graft.data.Dedup.duplicateSpans(spanDocs, window = 8).count())

    // DSIR at N docs: weight estimation (two bucket-count aggregates over
    // ~N x 30 exploded bigrams) + one plan-constant scoring scan; target =
    // the l0 language stratum (N/5 docs)
    time("dsir_score") {
      val w = graft.data.Corpus.dsirWeights(
        docs, docs.where(col("lang") === "l0"), n = 2, buckets = 4096)
      docs.select(graft.data.Corpus.dsirScore(w, 2, 4096)(col("text")).as("s"))
        .agg(sum("s")).head()
      n
    }

    // hashed-bigram LM quality scoring at N docs: model training (two
    // bucket-count aggregates over the l0 stratum) + one plan-constant
    // scoring scan over the full corpus
    time("lm_logprob") {
      val m = graft.data.Corpus.lmTrain(
        docs.where(col("lang") === "l0"), buckets = 65536)
      docs.select(graft.data.Corpus.lmLogProbSum(m)(col("text")).as("lp"))
        .agg(sum("lp")).head()
      n
    }

    // the full corpus build end-to-end (url dedup -> exact dedup ->
    // minhash+CC near-dedup -> quality -> split -> pack) at N docs, timed
    // as ONE action on the packed output — the pipeline a training-data
    // team actually ships.  Repetition gates off: the synthetic text's
    // tiny vocabulary would trip caps tuned for natural prose.
    val pipeDocs = docs.join(urls, "doc_id")
    for (ckpt <- Seq(false, true))
      time(s"corpus_pipeline_ckpt_$ckpt")(
        graft.data.CorpusPipeline.build(pipeDocs,
          graft.data.CorpusPipeline.Config(
            maxDupWordFrac = 1.0, maxTopBigramFrac = 1.0,
            checkpointStages = ckpt))
          .packed.count())

    // storage-layout A/B: the same N-point table written plain (random
    // partitioning) vs cell-clustered (range-partition + sort on cell),
    // then an identical ~10%-selectivity cell-range scan on each — the
    // clustered write's one range exchange buys footer min/max pruning
    // for every later spatial predicate
    val pts = Bench.scatter(spark, n)
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-layout").toString
    time("layout_write_plain") {
      graft.geo.engine.GeoEngine.tiled(pts, 8)
        .write.mode("overwrite").parquet(s"$tmpDir/plain"); n
    }
    time("layout_write_clustered") {
      graft.geo.engine.GeoEngine.writeCellClustered(
        pts, 8, s"$tmpDir/clustered", numFiles = 64); n
    }
    val qs = spark.read.parquet(s"$tmpDir/clustered")
      .stat.approxQuantile("cell", Array(0.45, 0.55), 0.001)
    val (qLo, qHi) = (qs(0).toLong, qs(1).toLong)
    time("layout_scan_plain")(
      spark.read.parquet(s"$tmpDir/plain")
        .where(col("cell").between(qLo, qHi)).count())
    time("layout_scan_clustered")(
      spark.read.parquet(s"$tmpDir/clustered")
        .where(col("cell").between(qLo, qHi)).count())
    // manifest layer on the same clustered table: commit cost (footer
    // reads only) and the manifest-pruned variant of the same scan —
    // the file list shrinks on the DRIVER before any task exists
    time("layout_manifest_commit") {
      graft.geo.engine.GeoTable.writeManifest(spark, s"$tmpDir/clustered"); 64L
    }
    time("layout_scan_manifest") {
      val (df, nSel, nTot) =
        graft.geo.engine.GeoTable.readRanges(spark, s"$tmpDir/clustered",
          Array((qLo, qHi + 1)))
      val c = df.count()
      println(s"  manifest pruned to $nSel/$nTot files")
      c
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpDir))

    // tile pyramid at N points, 9 zoom levels in one scan+shuffle
    time("tile_pyramid_l4_12")(
      graft.geo.engine.GeoEngine.tilePyramid(pts, 4, 12).count())

    // temporal ops at N events over ~N/2000 keys (~2000 events/key, a
    // busy-device trajectory shape), timestamps quasi-randomly spread
    // over ~46 days so 30-minute sessions actually split.  asof: half
    // the events enrich against the other half — one keyed shuffle of
    // the union, running-last window, no range explosion regardless of
    // per-key density (the naive range join would be ~2000x2000 per key).
    val nKeys = math.max(n / 2000L, 16L)
    val events = spark.range(n).select(col("id").as("event_id"),
      pmod(xxhash64(col("id")), lit(nKeys)).as("user_id"),
      timestamp_seconds(pmod(col("id") * lit(2654435761L), lit(4000000L)))
        .as("ts"),
      (pmod(col("id"), lit(1000)) / lit(10.0)).as("value"))
    time("asof_join") {
      val clicks = events.where(pmod(col("event_id"), lit(2)) === 0)
      val views = events.where(pmod(col("event_id"), lit(2)) === 1)
      graft.data.AsOf.asofJoin(clicks, views, Seq("user_id"),
        tolerance = "30 minutes", tiebreak = "event_id").count()
    }
    time("sessionize")(
      graft.data.Sessions.sessionize(events, Seq("user_id"),
          gap = "30 minutes", tiebreak = "event_id", dropNullTimes = true)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events")).count())
    spark.stop()
  }
}
