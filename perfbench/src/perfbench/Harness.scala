package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a pass: a public library call that returns the
  * number of rows it produced.  `verify` checks that number after the
  * clock stops; a message counts as a failed operation. */
final case class Op(name: String, metric: String, layer: String,
                    run: () => Long,
                    verify: Long => Option[String] = _ => None)

final case class OpRun(wallS: Double, rows: Long, counters: Counters)

final case class PassRun(traced: Boolean, wallS: Double, ops: Seq[(Op, OpRun)],
                         heapMb: Double, drvGcS: Double) {
  def rows: Long = ops.map(_._2.rows).sum
  def total: Counters = Counters.sum(ops.map(_._2.counters))
}

/** A traced interval around one public call (or a pass).  `layer` names
  * the module the call belongs to. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      pass: Int, startNs: Long, var endNs: Long = 0L,
                      counters: Counters = new Counters) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Runs passes as one closed-loop client: each call is submitted after the
  * previous one returned.  Counts attempts and failures, and in traced
  * passes keeps spans in memory, each tied to its Spark stages through
  * the job local property [[Probe.BucketKey]]. */
final class Harness(val spark: SparkSession, val probe: Probe) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val skipped = ArrayBuffer.empty[(String, String)]
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var tracing = false
  private var pass = 0
  private var currentOp = "setup"

  private def sc = spark.sparkContext

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 32) failures += msg
    Console.err.println(s"perfbench: FAIL $msg")
  }

  /** An output check, run outside any timed region. */
  def check(name: String)(body: => Option[String]): Unit = {
    attempted += 1
    try body.foreach(m => fail(s"$name: $m"))
    catch { case NonFatal(e) => fail(s"$name: $e") }
  }

  def skip(name: String, reason: String): Unit = {
    skipped += name -> reason
    Console.err.println(s"perfbench: SKIP $name: $reason")
  }

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!tracing) return body
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      layer, pass, System.nanoTime())
    spans += s
    stack ::= s
    val prev = sc.getLocalProperty(Probe.BucketKey)
    sc.setLocalProperty(Probe.BucketKey, s"$currentOp#${s.id}")
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Probe.BucketKey, prev)
    }
  }

  /** Wall time of `body` in seconds, with its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Live heap once the pass's own garbage is gone.  Checkpoints and
    * caches that a call dropped stay in memory until a collection hands
    * them to Spark's cleaner, so this collects until every RDD persisted
    * during the pass has been removed (at most 40 rounds). */
  private def settledHeapMb(persisted: Set[Int]): Double = {
    var rounds = 0
    System.gc()
    while (rounds < 40 && !sc.getPersistentRDDs.keySet.subsetOf(persisted)) {
      Thread.sleep(25)
      System.gc()
      rounds += 1
    }
    probe.drain()
    Probe.liveHeapMb()
  }

  def runPass(ops: Seq[Op], traced: Boolean): PassRun = {
    // start every pass from a collected heap with all earlier events
    // delivered, so one pass's garbage and stragglers do not land in the next
    System.gc()
    probe.take()
    tracing = traced
    pass += 1
    currentOp = "pass"
    val taken = ArrayBuffer.empty[Map[String, Counters]]
    val persisted = sc.getPersistentRDDs.keySet.toSet
    val gc0 = Probe.driverGcMs()
    val t0 = System.nanoTime()
    val runs = span(s"pass$pass", "bench") {
      ops.map { op =>
        attempted += 1
        currentOp = op.name
        sc.setLocalProperty(Probe.BucketKey, op.name)
        val s0 = System.nanoTime()
        val rows =
          try span(op.name, op.layer)(op.run())
          catch { case NonFatal(e) => fail(s"${op.name}: $e"); -1L }
        val w = (System.nanoTime() - s0) / 1e9
        sc.setLocalProperty(Probe.BucketKey, null)
        // traced passes credit each call's plan metrics to it right away
        if (traced) taken += probe.take(candBucket = op.name)
        (op, w, rows)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val drvGc = (Probe.driverGcMs() - gc0) / 1e3
    val heap = settledHeapMb(persisted)
    tracing = false
    currentOp = "after-pass"
    taken += probe.take()
    val byBucket = taken.flatten
    for ((b, c) <- byBucket; i = b.indexOf('#') if i > 0; id = b.substring(i + 1).toInt)
      spans(id).counters.add(c)
    val byOp = byBucket.groupBy(_._1.takeWhile(_ != '#'))
      .view.mapValues(bs => Counters.sum(bs.map(_._2))).toMap
    val opRuns = runs.map { case (op, w, rows) =>
      if (rows >= 0) op.verify(rows).foreach(m => fail(s"${op.name}: $m"))
      op -> OpRun(w, math.max(rows, 0L), byOp.getOrElse(op.name, new Counters))
    }
    PassRun(traced, wall, opRuns, heap, drvGc)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
