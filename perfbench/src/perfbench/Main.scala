package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one run.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --threads <n> --work <dir> --out <file>
  *
  * Sets up the workload's inputs three times (set-up time is the median),
  * runs warm-up passes, then timed passes until `--seconds` have elapsed,
  * then the output checks.  Writes the result object to `--out`; prints
  * the human-readable table on stdout.  With `--trace 1` the passes
  * alternate between untraced and traced, and the result holds the
  * per-layer metrics instead of the end-to-end ones. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, threads: Int, work: File, out: File)

  def parseArgs(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("threads").toInt, new File(need("work")),
      new File(need("out")))
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val w = Workloads.all.find(_.name == a.workload).getOrElse {
      Console.err.println(s"perfbench: unknown workload ${a.workload}; " +
        s"known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    deleteTree(a.work)
    a.work.mkdirs()
    val local = new File(a.work, "spark-local"); local.mkdirs()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.threads}]")
      .appName(s"perfbench-${w.name}")
      .config("spark.sql.shuffle.partitions", a.threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(a, w, spark, sessionS)
    finally {
      spark.stop()
      Option(a.work.listFiles).foreach(_.foreach(deleteTree))
    }
  }

  def run(a: Args, w: Workload, spark: SparkSession, sessionS: Double): Unit = {
    val probe = new Probe(spark)
    if (a.trace) probe.watchPlans()
    val h = new Harness(spark, probe)
    val ctx = new Ctx(spark, h, a.seed, a.threads, a.work)

    val (prepS, _) = h.timed(w.prepare(ctx))
    val setupReps = (0 until 3).map(_ => h.timed(w.setupRep(ctx))._1)
    val setupS = sessionS + prepS + Stats.median(setupReps)
    val cacheMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    val ops = w.ops(ctx)

    val warm = (0 until w.warmups).map(_ => h.runPass(ops, traced = false).wallS)
    h.spans.clear()
    val passes = ArrayBuffer.empty[PassRun]
    val start = System.nanoTime()
    // at least two passes of each kind, more while time is left
    val minPasses = if (a.trace) 4 else 2
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < a.seconds)
      // untraced and traced passes in ABBA order, so a drift over the run
      // (JIT warm-up) weighs on both kinds alike
      passes += h.runPass(ops, traced = a.trace && (passes.size % 4 == 1 || passes.size % 4 == 2))
    val (checkS, _) = h.timed(w.checks(ctx))

    val plain = passes.filter(!_.traced).toSeq
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.LinkedHashMap.empty[String, String]
    def med(f: PassRun => Double, ps: Seq[PassRun] = plain) = Stats.median(ps.map(f))

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (med(_.wallS), "s"),
      "rows_per_s" -> (med(p => p.rows / p.wallS), "rows/s"),
      "cpu_s" -> (med(_.total.cpuS), "s"),
      "cache_mb" -> (cacheMb, "MB"))

    def line(s: String): Unit = println(s)
    line(s"perfbench ${w.name} seed=${a.seed} threads=${a.threads} " +
      s"trace=${if (a.trace) 1 else 0} passes=${plain.size} untraced" +
      (if (a.trace) s" + ${passes.size - plain.size} traced" else "") +
      s" (after ${w.warmups} warm-up), set-up reps=${setupReps.size}")
    line(f"  set-up: session $sessionS%.3f s, prepare $prepS%.3f s, " +
      s"input+cache reps ${setupReps.map(s => f"$s%.3f").mkString(", ")} s" +
      f"; checks $checkS%.3f s")
    for ((k, (v, u)) <- e2e) line(f"  $k%-28s ${fmt(v)}%-22s $u")
    ops.zipWithIndex.foreach { case (op, i) =>
      val label = s"${op.metric} (engine.op${i + 1}.wall_s)"
      line(f"  $label%-28s ${fmt(med(_.ops(i)._2.wallS))}%-22s s")
    }
    def secs(xs: Seq[Double]) = xs.map(v => f"$v%.3f").mkString(" ")
    line(s"  warm-up wall_s: ${secs(warm)}; pass wall_s (t = traced): " +
      passes.map(p => f"${p.wallS}%.3f" + (if (p.traced) "t" else "")).mkString(" ") +
      ops.indices.map(i => s"; ${ops(i).name}: ${secs(passes.map(_.ops(i)._2.wallS).toSeq)}").mkString)
    val failRatio = h.failed.toDouble / math.max(1L, h.attempted)
    line(f"  ${"fail_ratio"}%-28s ${fmt(failRatio)}%-22s (${h.failed} failed of ${h.attempted} attempted)")
    line(s"  timings are medians of ${plain.size} passes; no tail percentile " +
      "is reported (it needs >= 10 samples beyond it)")
    for ((n, r) <- h.skipped) line(s"  skipped: $n ($r)")
    for (f <- h.failures) line(s"  failure: $f")

    if (!a.trace) metrics ++= e2e
    else {
      val traced = passes.filter(_.traced).toSeq
      ops.zipWithIndex.foreach { case (op, i) =>
        def om(f: Counters => Double) = med(p => f(p.ops(i)._2.counters), traced)
        val s = s"engine.op${i + 1}"
        metrics(s"$s.wall_s") = (med(_.ops(i)._2.wallS, traced), "s")
        metrics(s"$s.cpu_s") = (om(_.cpuS), "s")
        metrics(s"$s.jobs") = (om(_.jobs.toDouble), "count")
        metrics(s"$s.stages") = (om(_.stages.toDouble), "count")
        metrics(s"$s.tasks") = (om(_.tasks.toDouble), "count")
        metrics(s"$s.shuffle_mb") = (om(_.shuffleMb), "MB")
        metrics(s"$s.out_rows") = (med(_.ops(i)._2.rows.toDouble, traced), "count")
        metrics(s"$s.cand_rows") = (om(_.candRows.toDouble), "count")
      }
      def tm(f: Counters => Double) = med(p => f(p.total), traced)
      metrics("spark.task_wait_s") = (tm(_.taskWaitS), "s")
      notes("spark.fetch_wait_s") = s"${fmt(tm(_.fetchWaitMs / 1e3))} s; local mode reads " +
        "every shuffle block locally, so it is always 0 and is not a result field"
      // a pass that allocates less than the young generation collects
      // nothing, so these read 0 on such workloads: printed, not results
      notes("spark.task_gc_s") = s"${fmt(tm(_.gcMs / 1e3))} s (task GC time; " +
        "not a result field, since it is 0 whenever a pass triggers no collection)"
      notes("spark.drv_gc_s") = s"${fmt(med(_.drvGcS, traced))} s (JVM GC time during " +
        "the pass; not a result field, for the same reason)"
      metrics("spark.spill_mb") = (tm(_.spillB / 1048576.0), "MB")
      metrics("spark.failed_tasks") = (tm(_.failedTasks.toDouble), "count")
      metrics("spark.live_heap_mb") = (med(_.heapMb, traced), "MB")
      val corpus = new File(a.work, "corpus")
      // the corpus write is a pass operation of ingest_dedup; the other
      // workloads cache a generated corpus and write it once here
      val writeS = w match {
        case id: IngestDedup => Stats.median(id.writes.toSeq)
        case _ => Workloads.writeCorpus(ctx, w.corpusDocs, corpus.getPath)
      }
      metrics("synth.write.kdocs_s") = (w.corpusDocs / writeS / 1e3, "kdocs/s")
      metrics("synth.bytes_per_doc") =
        (Workloads.dirBytes(corpus).toDouble / w.corpusDocs, "B")
      val tt = w match {
        case t: TransformTile => t
        case _ => val t = new TransformTile; t.prepare(ctx); t
      }
      val (layers, layerNotes) = Layers.measure(ctx, tt, corpus.getPath)
      val units = Map("mpts_s" -> "Mpts/s", "mrows_s" -> "Mrows/s", "parse_ms" -> "ms",
        "fail_count" -> "count", "gap_x" -> "x")
      for ((k, v) <- layers)
        metrics(k) = (v, units.getOrElse(k.split('.').last, ""))
      notes ++= layerNotes

      line("  per-layer metrics (medians of traced passes; layer probes: " +
        "single-thread loops and spark.range expressions):")
      for ((k, (v, u)) <- metrics) line(f"    $k%-30s ${fmt(v)}%-22s $u")
      for ((k, r) <- notes) line(s"    $k: $r")
      line("  operation slots: " + ops.zipWithIndex.map { case (op, i) =>
        s"op${i + 1}=${op.name}" }.mkString(", "))
      w match {
        case _: JoinHot =>
          for ((nm, i) <- Seq("distance" -> 1, "pip" -> 2)) {
            val ratio = med(p => p.ops(i)._2.counters.candRows.toDouble /
              math.max(1L, p.ops(i)._2.rows), traced)
            line(f"    engine.$nm.pairs_per_out = ${fmt(ratio)} (candidate rows of join " +
              "and generate nodes / output rows)")
          }
        case id: IngestDedup =>
          line(s"    data.dedup.cpu_s = engine.op3.cpu_s, data.dedup.shuffle_mb = " +
            s"engine.op3.shuffle_mb; data.dedup.recall = ${fmt(id.recall)}")
        case _ =>
      }
      val overhead = med(_.wallS, traced) - med(_.wallS)
      line(f"  tracing overhead: traced wall_s - untraced wall_s = ${fmt(overhead)} s " +
        f"(${fmt(med(_.wallS, traced))} vs ${fmt(med(_.wallS))})")
      line("  self time per layer, seconds per traced pass (span minus its child spans):")
      val byPass = h.spans.groupBy(_.pass)
      val selfByLayer = mutable.LinkedHashMap.empty[String, Double]
      for ((_, ss) <- byPass; s <- ss) {
        val kids = ss.filter(_.parent == s.id).map(_.durS).sum
        selfByLayer(s.layer) = selfByLayer.getOrElse(s.layer, 0.0) + (s.durS - kids) / byPass.size
      }
      for ((l, v) <- selfByLayer) line(f"    $l%-10s ${fmt(v)}")
      writeSpans(new File(a.out.getParentFile, s"trace-${w.name}-${a.seed}.jsonl"), h.spans.toSeq)
    }
    val m = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    val result = s"""{"correct": ${h.failed == 0}, "attempted": ${h.attempted}, """ +
      s""""failed": ${h.failed}, "metrics": {${m.mkString(", ")}}}"""
    val pw = new PrintWriter(a.out, "UTF-8")
    try pw.println(result) finally pw.close()
  }

  def writeSpans(f: File, spans: Seq[Span]): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val c = s.counters
      pw.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "pass": ${s.pass}, """ +
        s""""name": "${s.name}", "layer": "${s.layer}", "start_ns": ${s.startNs}, """ +
        s""""end_ns": ${s.endNs}, "jobs": ${c.jobs}, "stages": ${c.stages}, """ +
        s""""tasks": ${c.tasks}, "cpu_s": ${fmt(c.cpuS)}, "shuffle_mb": ${fmt(c.shuffleMb)}, """ +
        s""""cand_rows": ${c.candRows}}""")
    } finally pw.close()
  }
}
