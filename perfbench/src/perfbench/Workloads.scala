package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.data.Dedup
import graft.geo.engine.GeoEngine
import graft.geo.expr.geo
import graft.geo.kernels.PointKernel
import graft.geo.proj.ProjString
import graft.geo.synth.DocCorpus

/** What every workload sees: the session, the harness, the seed and a
  * scratch directory inside the checkout. */
final class Ctx(val spark: SparkSession, val h: Harness, val seed: Long,
                val threads: Int, val work: File) {
  def path(name: String): String = new File(work, name).getPath
  /** a uniform draw in [0, 1) that depends only on the seed and `salt` */
  def unit(salt: Long): Double =
    (DocCorpus.mix(seed * 0x2545f4914f6cdd1dL + salt) >>> 11).toDouble / (1L << 53)
}

/** A workload: inputs made from the seed, the operations of one pass, and
  * the output checks that run after the timed passes.  Op slots `op1_s`
  * to `op3_s` are named per workload by `metric`. */
trait Workload {
  def name: String
  def warmups: Int
  /** one-off inputs that need no repetition (files, parsed pipelines) */
  def prepare(ctx: Ctx): Unit = ()
  /** input generation and cache fill; repeated to measure set-up time */
  def setupRep(ctx: Ctx): Unit
  def ops(ctx: Ctx): Seq[Op]
  def checks(ctx: Ctx): Unit
  def corpusDocs: Long
}

object Workloads {
  val all: Seq[Workload] = Seq(new JoinHot, new TransformTile, new IngestDedup)

  /** Hotspot boxes (Tokyo, New York, Paris clusters of the synthetic
    * corpus) plus one large background box. */
  val polys: Seq[GeoEngine.Polygon] = Seq(
    GeoEngine.Polygon("tokyo", Array(139.0, 35.1, 140.4, 35.1, 140.4, 36.3, 139.0, 36.3)),
    GeoEngine.Polygon("nyc", Array(-74.6, 40.1, -73.4, 40.1, -73.4, 41.3, -74.6, 41.3)),
    GeoEngine.Polygon("paris", Array(1.7, 48.2, 3.0, 48.2, 3.0, 49.5, 1.7, 49.5)),
    GeoEngine.Polygon("background",
      Array(-120.3, -30.2, -60.1, -30.2, -60.1, 10.4, -120.3, 10.4)))

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Generates the corpus and caches its narrow geo projection. */
  def cachedCorpus(ctx: Ctx, n: Long): DataFrame =
    ctx.h.span("withGeoTag.cache", "engine") {
      val docs = DocCorpus.generate(ctx.spark, n, ctx.seed, ctx.threads * 2).toDF()
      val g = GeoEngine.withGeoTag(docs).select("doc_id", "lon", "lat")
        .persist(StorageLevel.MEMORY_ONLY)
      g.count()
      g
    }

  /** Writes the corpus as parquet; returns the write time in seconds. */
  def writeCorpus(ctx: Ctx, n: Long, path: String): Double =
    ctx.h.timed(ctx.h.span("DocCorpus.write", "synth") {
      DocCorpus.write(ctx.spark, n, path, ctx.seed, parts = ctx.threads * 2)
    })._1

  /** `n` corpus rows with the smallest seeded hash, as a small cached
    * frame — a fixed-size query set that depends only on the seed. */
  def sample(ctx: Ctx, pts: DataFrame, n: Int, salt: Long): DataFrame = {
    val rows = pts.orderBy(xxhash64(col("doc_id"), lit(ctx.seed + salt)))
      .limit(n).collect()
    val df = ctx.spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), pts.schema)
    df.persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  def sameSets[T: Ordering](what: String, got: Seq[T], want: Seq[T]): Option[String] =
    if (got.sorted == want.sorted) None
    else {
      val g = got.toSet; val wn = want.toSet
      Some(s"$what differs: ${(g -- wn).size} unexpected, ${(wn -- g).size} missing " +
        s"(of ${want.size}); e.g. ${(g -- wn).take(2)} / ${(wn -- g).take(2)}")
    }
}

/** Spatial joins over the cached (doc_id, lon, lat) projection of a
  * hotspot-skewed corpus. */
final class JoinHot extends Workload {
  val name = "join_hot"
  val warmups = 1
  val corpusDocs = 40000L
  val knnQueries = 100
  val k = 10
  val distQueries = 2000
  val radiusM = 25000.0
  private var pts: DataFrame = _
  private var kq: DataFrame = _
  private var dq: DataFrame = _
  /** (query_id, data_id) rows of the last kNN call, for the check */
  private var knnOut: Array[Row] = Array.empty

  private def data = pts.select(col("doc_id").as("data_id"), col("lon"), col("lat"))
  private def asQueries(df: DataFrame) =
    df.select(col("doc_id").as("query_id"), col("lon"), col("lat"))

  def setupRep(ctx: Ctx): Unit = {
    Seq(pts, kq, dq).filter(_ != null).foreach(_.unpersist(true))
    pts = Workloads.cachedCorpus(ctx, corpusDocs)
    kq = Workloads.sample(ctx, pts, knnQueries, 1)
    dq = Workloads.sample(ctx, pts, distQueries, 2)
  }

  def ops(ctx: Ctx): Seq[Op] = Seq(
    Op("knn", "knn_s", "engine",
      () => {
        knnOut = GeoEngine.knnJoin(asQueries(kq), data, k = k, level = 12)
          .select("query_id", "data_id").collect()
        knnOut.length.toLong
      },
      rows => if (rows == knnQueries.toLong * k) None
              else Some(s"$rows rows, want ${knnQueries * k}")),
    Op("distance", "distance_join_s", "engine",
      () => GeoEngine.distanceJoin(asQueries(dq), data, radiusM).count(),
      rows => if (rows >= distQueries) None
              else Some(s"$rows rows, fewer than the $distQueries self-pairs")),
    Op("pip", "pip_join_s", "engine",
      () => GeoEngine.pipJoin(ctx.spark, pts, Workloads.polys).count()))

  def checks(ctx: Ctx): Unit = {
    val sampleIds = kq.orderBy(col("doc_id")).limit(12).collect().map(_.getString(0))
    ctx.h.check("knn equals knnBruteForce") {
      val ids = sampleIds.toSet
      val got = knnOut.filter(r => ids(r.getString(0))).map(r => (r.getString(0), r.getString(1)))
      val want = GeoEngine.knnBruteForce(
          asQueries(kq.where(col("doc_id").isin(sampleIds: _*))), data, k)
        .select("query_id", "data_id").collect().map(r => (r.getString(0), r.getString(1)))
      Workloads.sameSets("knn pairs", got.toSeq, want.toSeq)
    }
    val dIds = dq.orderBy(col("doc_id")).limit(12).collect().map(_.getString(0))
    ctx.h.check("distanceJoin equals a brute-force cross join") {
      val got = GeoEngine.distanceJoin(asQueries(dq), data, radiusM)
        .where(col("query_id").isin(dIds: _*))
        .select("query_id", "data_id").collect().map(r => (r.getString(0), r.getString(1)))
      val q = asQueries(dq.where(col("doc_id").isin(dIds: _*)))
        .select(col("query_id"), col("lon").as("q_lon"), col("lat").as("q_lat"))
      val want = q.crossJoin(data)
        .where(geo.geodDistance(col("q_lon"), col("q_lat"), col("lon"), col("lat")) <= radiusM)
        .select("query_id", "data_id").collect().map(r => (r.getString(0), r.getString(1)))
      Workloads.sameSets("distance pairs", got.toSeq, want.toSeq)
    }
    ctx.h.check("pipJoin counts equal a brute-force cross join") {
      val got = GeoEngine.pipJoin(ctx.spark, pts, Workloads.polys)
        .groupBy("poly_id").count().collect().map(r => (r.getString(0), r.getLong(1)))
      import ctx.spark.implicits._
      val rings = Workloads.polys.map(p => (p.poly_id, p.ring)).toDF("poly_id", "ring")
      val want = pts.crossJoin(rings)
        .where(geo.pointInPolygon(col("lon"), col("lat"), col("ring")))
        .groupBy("poly_id").count().collect().map(r => (r.getString(0), r.getLong(1)))
      Workloads.sameSets("pip counts", got.toSeq, want.toSeq)
    }
  }
}

/** The per-row numeric core: four projection pipelines over generated
  * points, then tiling of the cached corpus. */
final class TransformTile extends Workload {
  val name = "transform_tile"
  val warmups = 2
  val corpusDocs = 100000L
  val points = 1000000L
  val tinFile = "perfbench_tin.json"
  private var pts: DataFrame = _
  private var raster: DataFrame = _

  /** Affine shift of the synthetic TIN: linear interpolation inside its
    * triangles reproduces it exactly, which is the tinshift oracle. */
  def tinTarget(x: Double, y: Double): (Double, Double) =
    (x + 93.5 + 1e-4 * x - 2e-4 * y, y - 41.2 + 3e-4 * x + 1e-4 * y)

  final case class Pipeline(name: String, proj: String, lonMin: Double,
                            lonSpan: Double, latMin: Double, latSpan: Double,
                            epoch: Boolean = false)

  val pipelines: Seq[Pipeline] = Seq(
    Pipeline("webmerc", "+proj=webmerc +ellps=WGS84", -180, 360, -85, 170),
    Pipeline("tmerc", "+proj=utm +zone=32 +ellps=WGS84", 3, 12, -80, 164),
    Pipeline("helmert14",
      "+proj=pipeline +step +proj=cart +ellps=GRS80 " +
        "+step +proj=helmert +x=0.0127 +y=0.0065 +z=-0.0209 +s=-0.00195 " +
        "+rx=-0.00039 +ry=0.00080 +rz=-0.00114 +dx=-0.0029 +dy=-0.0002 " +
        "+dz=-0.0006 +ds=0.00001 +drx=-0.00011 +dry=-0.00019 +drz=0.00007 " +
        "+t_epoch=1988.0 +convention=coordinate_frame " +
        "+step +inv +proj=cart +ellps=GRS80",
      -180, 360, -89, 178, epoch = true),
    Pipeline("tinshift", s"+proj=tinshift +file=$tinFile", 5000, 260000, 5000, 260000))

  /** parsed kernels; a pipeline whose input is missing is skipped */
  val kernels = scala.collection.mutable.LinkedHashMap.empty[String, PointKernel]

  def writeTin(dir: File): Unit = {
    val g = 28
    val sb = new StringBuilder
    sb.append("""{"file_type":"triangulation_file","format_version":"1.1",""")
    sb.append(""""transformed_components":["horizontal"],""")
    sb.append(""""vertices_columns":["source_x","source_y","target_x","target_y"],""")
    sb.append(""""triangles_columns":["idx_vertex1","idx_vertex2","idx_vertex3"],"vertices":[""")
    for (j <- 0 until g; i <- 0 until g) {
      val x = i * 10000.0; val y = j * 10000.0
      val (tx, ty) = tinTarget(x, y)
      if (i > 0 || j > 0) sb.append(',')
      sb.append(s"[$x,$y,$tx,$ty]")
    }
    sb.append("],\"triangles\":[")
    for (j <- 0 until g - 1; i <- 0 until g - 1) {
      val v = j * g + i
      if (i > 0 || j > 0) sb.append(',')
      sb.append(s"[$v,${v + 1},${v + g}],[${v + 1},${v + g + 1},${v + g}]")
    }
    sb.append("]}")
    Files.write(new File(dir, tinFile).toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  override def prepare(ctx: Ctx): Unit = {
    writeTin(ctx.work)
    graft.geo.grids.Grids.addSearchDir(ctx.work.getPath)
    for (p <- pipelines) {
      try kernels(p.name) = ProjString.parse(p.proj)
      catch {
        case scala.util.control.NonFatal(e) => ctx.h.skip(s"transform.${p.name}", e.toString)
      }
    }
  }

  def setupRep(ctx: Ctx): Unit = {
    Seq(pts, raster).filter(_ != null).foreach(_.unpersist(true))
    pts = Workloads.cachedCorpus(ctx, corpusDocs)
    // the raster: every level-6 cell the corpus touches, valued from the seed
    val salt = (ctx.unit(7) * 1000).toLong
    raster = GeoEngine.tiled(pts, 6).select("cell").distinct()
      .withColumn("value", pmod(col("cell") + lit(salt), lit(97L)).cast("double"))
      .persist(StorageLevel.MEMORY_ONLY)
    raster.count()
  }

  /** `m` points of a seeded Weyl sequence over the pipeline's domain. */
  def inputs(ctx: Ctx, p: Pipeline, m: Long): DataFrame = {
    val o1 = ctx.unit(11); val o2 = ctx.unit(12)
    ctx.spark.range(0, m, 1, ctx.threads * 4).select(
      (pmod(col("id") * lit(0.6180339887498949) + lit(o1), lit(1.0)) * p.lonSpan + p.lonMin).as("x"),
      (pmod(col("id") * lit(0.7548776662466927) + lit(o2), lit(1.0)) * p.latSpan + p.latMin).as("y"),
      (lit(2000.0) + pmod(col("id"), lit(25L)).cast("double")).as("t"))
  }

  def project(p: Pipeline, k: PointKernel, forward: Boolean, x: String, y: String) =
    geo.transform(k, forward, 2, col(x), col(y), lit(0.0),
      if (p.epoch) col("t") else null)

  /** non-null outputs of one pipeline over `points` inputs (+ cell ids for
    * webmerc: the Web Mercator + cellId kernel shape) */
  def runPipeline(ctx: Ctx, p: Pipeline, k: PointKernel): Long = {
    val out = inputs(ctx, p, points).select(project(p, k, true, "x", "y").as("o"),
      (if (p.name == "webmerc") geo.cellId(col("x"), col("y"), 12) else lit(0L)).as("cell"))
    val r = out.agg(count(col("o")), max(col("cell"))).head()
    r.getLong(0)
  }

  def ops(ctx: Ctx): Seq[Op] = {
    val live = pipelines.filter(p => kernels.contains(p.name))
    Seq(
      Op("transform", "transform_s", "expr",
        () => live.map(p => ctx.h.span(p.name, "expr")(runPipeline(ctx, p, kernels(p.name)))).sum,
        rows => if (rows == points * live.size) None
                else Some(s"${points * live.size - rows} null outputs inside the domain")),
      Op("tile", "tile_s", "engine",
        () => {
          val a = ctx.h.span("tileOccupancy", "engine") {
            GeoEngine.tileOccupancy(pts, 12).agg(sum("n_docs")).head().getLong(0) }
          val b = ctx.h.span("hexOccupancy", "engine") {
            GeoEngine.hexOccupancy(pts, sizeMeters = 25000.0).agg(sum("n_docs")).head().getLong(0) }
          a + b
        },
        rows => if (rows == 2 * corpusDocs) None
                else Some(s"tile+hex counts sum to $rows, want ${2 * corpusDocs}")),
      Op("raster", "raster_s", "engine",
        () => GeoEngine.rasterVectorStats(pts, raster, 6).agg(sum("n_docs")).head().getLong(0),
        rows => if (rows == corpusDocs) None
                else Some(s"raster counts sum to $rows, want $corpusDocs")))
  }

  def checks(ctx: Ctx): Unit = {
    val sampleN = 20000L
    // gie's default tolerance, 0.5 mm, on inv(fwd(p)) - p in metres
    val tolM = 0.0005
    for (p <- pipelines if p.name != "tinshift"; k <- kernels.get(p.name))
      ctx.h.check(s"${p.name} inv(fwd) round trip") {
        val rt = inputs(ctx, p, sampleN)
          .withColumn("f", project(p, k, true, "x", "y"))
          .withColumn("fx", col("f.x")).withColumn("fy", col("f.y"))
          .withColumn("b", project(p, k, false, "fx", "fy"))
        val dev = sqrt(pow((col("b.x") - col("x")) * cos(radians(col("y"))), 2) +
          pow(col("b.y") - col("y"), 2)) * lit(111319.49)
        val r = rt.agg(count(col("b")), max(dev)).head()
        if (r.getLong(0) != sampleN) Some(s"${sampleN - r.getLong(0)} null round trips")
        else if (!(r.getDouble(1) <= tolM)) Some(f"max deviation ${r.getDouble(1) * 1e3}%.6f mm")
        else None
      }
    for (p <- pipelines.find(_.name == "tinshift"); k <- kernels.get(p.name))
      ctx.h.check("tinshift equals the analytic shift") {
        val rows = inputs(ctx, p, sampleN).select(col("x"), col("y"),
          project(p, k, true, "x", "y").as("o")).collect()
        val bad = rows.count { r =>
          val (ex, ey) = tinTarget(r.getDouble(0), r.getDouble(1))
          r.isNullAt(2) || {
            val o = r.getStruct(2)
            math.abs(o.getDouble(0) - ex) > 1e-6 || math.abs(o.getDouble(1) - ey) > 1e-6
          }
        }
        if (bad == 0) None else Some(s"$bad of $sampleN points off the analytic shift")
      }
  }
}

/** The cold write-then-read path: corpus write, uncached wide read,
  * cell-clustered write and near-duplicate detection. */
final class IngestDedup extends Workload {
  val name = "ingest_dedup"
  val warmups = 2
  val corpusDocs = 10000L
  val planted = 100
  private var dups: DataFrame = _
  private val scans = ArrayBuffer.empty[Row]
  private val recalls = ArrayBuffer.empty[Double]
  /** corpus write times of the passes, in seconds */
  val writes = ArrayBuffer.empty[Double]

  private def corpusPath(ctx: Ctx) = ctx.path("corpus")
  private def texts(docs: DataFrame) =
    docs.select(col("doc_id"), array_join(col("spans").getField("text"), " ").as("text"))

  /** the wide read: geo tag plus span text, folded to exact checksums */
  private def scanAgg(docs: DataFrame): Row = {
    val g = GeoEngine.withGeoTag(docs)
      .select(col("doc_id"), col("lon"), col("lat"),
        array_join(col("spans").getField("text"), " ").as("text"))
    val h = xxhash64(col("doc_id"), col("lon"), col("lat"), col("text"))
    g.agg(count(lit(1)), sum(shiftrightunsigned(h, 33)),
      sum(h.bitwiseAND(lit(0x7fffffffL))), sum(length(col("text")))).head()
  }

  /** Near-duplicates of seeded docs with four text spans (12 words): one
    * appended word keeps their word-3-shingle Jaccard at 10/11. */
  def setupRep(ctx: Ctx): Unit = {
    if (dups != null) dups.unpersist(true)
    val src = DocCorpus.generate(ctx.spark, corpusDocs, ctx.seed, ctx.threads * 2).toDF()
      .where(size(filter(col("spans"), s => s.getField("kind") === "text")) === 4)
    dups = texts(src)
      .orderBy(xxhash64(col("doc_id"), lit(ctx.seed + 3))).limit(planted)
      .select(concat(lit("dup_"), col("doc_id")).as("doc_id"),
        concat(col("text"), lit(" meridian")).as("text"))
      .persist(StorageLevel.MEMORY_ONLY)
    dups.count()
  }

  def ops(ctx: Ctx): Seq[Op] = Seq(
    Op("write", "write_s", "synth",
      () => {
        writes += Workloads.writeCorpus(ctx, corpusDocs, corpusPath(ctx))
        ctx.h.span("writeCellClustered", "engine") {
          GeoEngine.writeCellClustered(
            GeoEngine.withGeoTag(ctx.spark.read.parquet(corpusPath(ctx)))
              .select("doc_id", "lon", "lat"), 12, ctx.path("clustered"))
        }
        corpusDocs
      }),
    Op("scan", "scan_s", "engine",
      () => {
        val r = scanAgg(ctx.spark.read.parquet(corpusPath(ctx)))
        scans += r
        r.getLong(0)
      },
      rows => if (rows == corpusDocs) None else Some(s"read back $rows docs, want $corpusDocs")),
    Op("dedup", "dedup_s", "data",
      () => {
        val input = texts(ctx.spark.read.parquet(corpusPath(ctx))).unionByName(dups)
        val pairs = Dedup.minhashLsh(input, jaccardThreshold = 0.5)
          .select("left_id", "right_id").collect()
          .map(r => Set(r.getString(0), r.getString(1))).toSet
        val found = dups.select("doc_id").collect().count { r =>
          val d = r.getString(0)
          pairs.contains(Set(d, d.stripPrefix("dup_")))
        }
        recalls += found.toDouble / planted
        pairs.size.toLong
      },
      _ => if (recalls.last == 1.0) None
           else Some(s"recall ${recalls.last} of $planted planted pairs")))

  def recall: Double = if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq)

  def checks(ctx: Ctx): Unit = {
    val generated = DocCorpus.generate(ctx.spark, corpusDocs, ctx.seed, ctx.threads * 2).toDF()
    val readBack = ctx.spark.read.parquet(corpusPath(ctx))
    ctx.h.check("read-back spanChecksum equals the generated corpus") {
      val (got, want) = (DocCorpus.spanChecksum(readBack), DocCorpus.spanChecksum(generated))
      if (got == want) None else Some(s"checksum $got, want $want")
    }
    ctx.h.check("wide scans equal the generated corpus") {
      val want = scanAgg(generated)
      val bad = scans.count(_ != want)
      if (bad == 0) None else Some(s"$bad of ${scans.size} scans differ from $want")
    }
    ctx.h.check("cell-clustered write holds every doc") {
      val n = ctx.spark.read.parquet(ctx.path("clustered")).count()
      if (n == corpusDocs) None else Some(s"$n rows, want $corpusDocs")
    }
  }
}
