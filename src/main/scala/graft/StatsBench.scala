package graft

import org.apache.spark.sql.functions._

import graft.geo.engine.SpatialStats

/** `Bench stats [nPoints]` (default 10M): one-off scale measurements for
  * the spatial-statistics suite (Gi*, local Moran, Mann–Kendall, Ripley's
  * K) on a synthetic N-point golden-ratio scatter — the ops whose design
  * claim is "only the first aggregation touches the corpus; every later
  * stage runs on the tiny cell frame".  Results are recorded in BENCH.md
  * alongside the `Bench corpus` rows (the driver's headline Bench job set
  * is held stable for round-over-round comparison).
  */
private[graft] object StatsBench {
  def run(args: Seq[String]): Unit = {
    val n = args.headOption.fold(10000000L)(_.toLong)
    val spark = Bench.session(Bench.envCpus, Bench.envCpus, Bench.DefaultSplitBytes)

    def time(label: String)(f: => Long): Unit =
      Bench.printJob(label, (_, s) => s""""points":$n,"points_per_s":${(n / s).toLong}""")(f)

    val pts = Bench.scatter(spark, n)
    val earthArea = 4.0 * math.Pi * 6371007.18 * 6371007.18

    // hot-spot z over ~100 km hexes: one N-row shuffle to ~60k cells,
    // then disk-explode + self-join on the cell frame only
    time("gi_star_hex_100km")(
      SpatialStats.giStarHex(pts, sizeMeters = 100000.0).count())
    time("local_moran_hex_100km")(
      SpatialStats.localMoranHex(pts, sizeMeters = 100000.0).count())

    // Mann-Kendall over 250 km hexes x ~46 day bins: the N-row scan
    // collapses to the (cell, bin) cube, the T(T-1)/2 pair frame and the
    // Sen median windows never see the corpus
    val tsPts = pts.select(col("pt_id"), col("lon"), col("lat"),
      timestamp_seconds(pmod(col("pt_id") * lit(2654435761L), lit(4000000L)))
        .as("ts"))
    time("mann_kendall_hex_250km_day")(
      SpatialStats.mannKendallHex(tsPts, sizeMeters = 250000.0,
        binSeconds = 86400L).count())
    // full emerging-hot-spot composition on the same cube: space-time
    // Gi* landscape + z-series MK + category chain, all on the
    // aggregate frame after the one corpus shuffle
    time("emerging_hex_250km_day")(
      SpatialStats.emergingHotSpotsHex(tsPts, sizeMeters = 250000.0,
        binSeconds = 86400L).count())
    // Knox space-time interaction at 10 km / 30 min on a 1/100 sample
    // (the three pair streams are corpus-quadratic in their marginals;
    // the statistic is designed for event sets, not the full corpus)
    time("knox_10km_30min_100k")(
      SpatialStats.knoxChord(
        tsPts.where(pmod(col("pt_id"), lit(100)) === 0),
        graft.geo.engine.GeoEngine.maxChord2For(10000.0), 1800L).count())

    // Ripley's K at a 2.5/5/10 km ladder: ~0.02 pts/km^2 worldwide puts
    // ~6 true neighbors per point inside 10 km — tens of millions of
    // candidate pairs from the single cell-cover self-join
    time("ripleys_k_10km") {
      SpatialStats.ripleysK(pts, Seq(2500.0, 5000.0, 10000.0), earthArea)
        .collect().map(_.getLong(2)).sum
    }

    // single-row global diagnostics on the same 100 km cell frame: the
    // corpus shuffle dominates, the statistic is one aggregate row
    time("quadrat_hex_100km")(
      SpatialStats.quadratHex(pts, sizeMeters = 100000.0).count())
    time("general_g_hex_100km")(
      SpatialStats.generalGHex(pts, sizeMeters = 100000.0).count())
    // IDW surface at 100 km cells / 300 km radius: kde-shaped disk fan
    // on the aggregate frame
    time("idw_hex_100km_300km")(
      SpatialStats.idwHex(pts.withColumn("v", pmod(col("pt_id"), lit(97))),
        sizeMeters = 100000.0, radiusMeters = 300000.0,
        valueCol = "v").count())
    // Clark-Evans mean-NN statistic, 10 km search bound: the
    // distance-join candidate stream (~6 neighbors/point) collapsed to
    // one exact-long row
    time("ann_stat_chord_10km")(
      SpatialStats.annStatChord(pts, earthArea,
        graft.geo.engine.GeoEngine.maxChord2For(10000.0)).count())
    // CSR envelope at 10 km on a 1/100 sample x 19 sims: the whole
    // ensemble (observed + 19 null patterns, ~2M points) rides one
    // (sim, cell)-keyed cover join
    time("l_envelope_10km_19sims_100k")(
      SpatialStats.lEnvelope(
        pts.where(pmod(col("pt_id"), lit(100)) === 0),
        Seq(5000.0, 10000.0), earthArea,
        nSims = 19).count())
    // Hausdorff trajectory join: n/10 points as 20-point tracks, two
    // tracks per route class ~18 km apart with a ~2 km twin; candidate
    // pairs are class-local so the exact bipartite stage is bounded
    time("hausdorff_join_2km") {
      val nT = n / 10
      val trk = spark.range(nT).select(
        (col("id") % (nT / 20)).as("traj_id"),
        col("id"))
        .select(col("traj_id"),
          (pmod(pmod(col("traj_id"), lit(25000)) * 0.18, lit(360.0))
            - 180.0 + pmod(col("id"), lit(20)) * 0.0025 +
            expr("traj_id DIV 25000") * 0.00055).as("lon"),
          (pmod(pmod(col("traj_id"), lit(25000)) * 7, lit(120)) * 0.7
            - 42.0 + pmod(col("id"), lit(20)) * 0.001 +
            expr("traj_id DIV 25000") * 0.0006).as("lat"))
      graft.geo.engine.GeoEngine.hausdorffJoin(trk,
        maxDistMeters = 2000.0).count()
    }
    spark.stop()
  }
}
