package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.epoch.CrawlEngine
import graft.fixtures.{CaptionCheck, FixtureGen}
import graft.functions.ImageOps
import graft.model.CrawlConfig
import graft.sim.ReferenceSim
import graft.sources.{FixtureFetcher, ParquetSnapshotTableIO}

/** Operations attempted and failed, across the warm-up and measured ops. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

/** One measured operation. `rate` is work items per second; `steps` are the
  * operation's step durations (ms); `extra` holds workload-specific figures. */
final case class Op(id: Int, start: Double, end: Double, rate: Double,
    steps: Seq[Double], extra: Map[String, Double] = Map.empty,
    stateDir: Option[String] = None, gcMs: Double = 0.0)

trait Workload {
  /** Inputs the workload prepares once per session (timed with the session
    * start as one set-up). */
  def prepare(spark: SparkSession): Unit
  def release(): Unit
  /** Measured ops per run, at least (more while `--seconds` has not passed). */
  def minOps: Int = 1
  /** Untimed warm-up; checks its output like a measured op. */
  def warm(spark: SparkSession, rec: Recorder, tally: Tally): Unit
  def op(spark: SparkSession, rec: Recorder, tally: Tally, id: Int): Op
  def params: Map[String, String]
}

object Workload {
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble
  }

  def labelled[T](spark: SparkSession, desc: String)(f: => T): T = {
    spark.sparkContext.setJobDescription(desc)
    try f finally spark.sparkContext.setJobDescription(null)
  }

  /** The fetch+verify row kernel of `graft.tools.ScaleProbe.kernel` over the
    * image ids [from, from + n) in `parts` partitions: synthesize → decode →
    * PSNR → phash gate. Returns the rows that pass the gate. */
  def kernel(spark: SparkSession, from: Long, n: Long, parts: Int): Long = {
    import spark.implicits._
    val idNum = regexp_extract(col("image_id"), "(\\d+)", 1).cast("long")
    spark.range(from, from + n, 1, parts).as[Long].map(FixtureGen.imageRow).toDF()
      .withColumn("v", ImageOps.validateUdf(col("bytes"), idNum, col("w"), col("h")))
      .where((col("fmt") === "png" && col("v.psnr") === 999.0) ||
        (col("fmt") =!= "png" && col("v.psnr") >= 40.0))
      .where(col("v.phash") === col("phash"))
      .count()
  }
}

/** Reference-checked crawl: sitemap cascade on, the 10^10 seen-admission
  * regime forced on, paused after fetch epoch 1 and finished by a fresh
  * engine on the same state dir (resume read path + Bloom rebuild). */
final class CrawlWorkload(opts: Opts) extends Workload {
  // (branching, skew) pairs whose reference crawls dispatch 208..213 URLs in
  // the same number of epochs, so every seed crawls a same-size graph
  private val shapes = Seq((5, 3), (5, 4), (6, 3), (7, 3), (8, 3))
  private val (branching, skew) = shapes(Math.floorMod(opts.seed, shapes.size.toLong).toInt)
  private val p =
    if (opts.toy) FixtureGen.Params(hosts = 2, pagesPerHost = 20, skew = 2, branching = 3)
    else FixtureGen.Params(hosts = 4, pagesPerHost = 50, skew = skew, branching = branching)
  private val cfg = CrawlConfig(seedUrls = FixtureGen.seeds(p),
    maxDepth = if (opts.toy) 2 else 3, epochSeconds = 60, seenScaleJoinMinRows = 1L)

  private var web: DataFrame = _
  private var imgs: DataFrame = _
  private var sitemaps: DataFrame = _
  private var sim: Map[String, ReferenceSim.HostResult] = _
  private var policies: Map[String, graft.operators.Robots.Policy] = _

  def params: Map[String, String] = Map("hosts" -> p.hosts.toString,
    "pages_per_host" -> p.pagesPerHost.toString, "skew" -> p.skew.toString,
    "branching" -> p.branching.toString, "max_depth" -> cfg.maxDepth.toString,
    "epoch_seconds" -> cfg.epochSeconds.toString,
    "seen_regime" -> "forced (seenScaleJoinMinRows=1)",
    "pause_after_fetch_epoch" -> "1")

  def prepare(spark: SparkSession): Unit = {
    web = FixtureGen.webGraphDF(spark, p).cache()
    imgs = FixtureGen.imagesDF(spark, p).cache()
    sitemaps = FixtureGen.sitemapsDF(spark, p).cache()
    Workload.labelled(spark, "perfbench setup") {
      web.count(); imgs.count(); sitemaps.count()
    }
    sim = ReferenceSim.crawlAll(p, cfg.maxDepth, cfg.language)
    policies = FixtureGen.robotsMap(p)
  }

  def release(): Unit = { web.unpersist(); imgs.unpersist(); sitemaps.unpersist() }

  // The first crawl in a JVM is the one a `graft.Crawl` user waits for, and
  // a warm-up crawl would cost as much again (the cold penalty is per code
  // path, not per row), so the measured crawl is the cold one.
  def warm(spark: SparkSession, rec: Recorder, tally: Tally): Unit = ()

  def op(spark: SparkSession, rec: Recorder, tally: Tally, id: Int): Op = {
    val dir = Paths.get(opts.work, "state", s"crawl-${id.toString.replace('-', 'n')}")
    Main.deleteTree(dir)
    def engine() = new CrawlEngine(spark, cfg, new FixtureFetcher(web), imgs,
      new TimedTableIO(new ParquetSnapshotTableIO(spark, dir.toString), rec), policies,
      sitemaps = Some(sitemaps))
    rec.op = id
    rec.commits.clear()
    val gc0 = Workload.gcMs
    val start = Clock.nowMs
    var paused = 0.0
    rec.span("crawl", "crawl") {
      rec.span("run (pause after fetch epoch 1)", "run")(
        engine().run(stopAfterFetchEpoch = Some(1)))
      paused = Clock.nowMs
      rec.span("run (fresh engine resume)", "run")(engine().run())
    }
    val end = Clock.nowMs
    val gc = Workload.gcMs - gc0
    val commitTimes = rec.commits.map(_._1)
    val steps = commitTimes.zip(commitTimes.drop(1)).map { case (a, b) => b - a }.toSeq
    // wall up to each commit return, by the committed phase
    val byPhase = (start +: commitTimes).zip(rec.commits).groupBy(_._2._2)
      .map { case (ph, iv) => s"${ph}_ms" -> iv.map { case (a, (b, _)) => b - a }.sum }
    val firstResumeCommit = commitTimes.find(_ > paused).map(_ - paused).getOrElse(0.0)
    val urls = Workload.labelled(spark, "perfbench check")(check(spark, dir.toString, tally))
    Op(id, start, end, urls / ((end - start) / 1000.0), steps,
      Map("urls" -> urls.toDouble, "resume_ms" -> (end - paused),
        "discover_ms" -> byPhase.getOrElse("discover_ms", 0.0),
        "fetch_ms" -> byPhase.getOrElse("fetch_ms", 0.0),
        "resume_first_commit_ms" -> firstResumeCommit,
        "state_mb" -> Main.treeBytes(dir) / 1e6),
      Some(dir.toString), gc)
  }

  /** Per-host dispatch order, seen set and dispositions plus the fetched
    * (url, image_id) set against the reference simulator, and the J7
    * PSNR/caption re-validation of the committed images. Returns the
    * dispatched URL count. */
  private def check(spark: SparkSession, dir: String, tally: Tally): Long = {
    import spark.implicits._
    val io = new ParquetSnapshotTableIO(spark, dir)
    val orderLog = io.read("order_log").get
      .select("host", "priority", "urlNorm", "disposition")
      .as[(String, Long, String, String)].collect()
    val seen = io.read("seen").get.select("host", "urlNorm").as[(String, String)].collect()
    val fetched = io.read("fetched").get
    val seenBy = seen.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val orderBy = orderLog.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val dispBy = orderLog.groupBy(_._1).view.mapValues(_.map(t => t._3 -> t._4).toMap).toMap
    (0 until p.hosts).foreach { h =>
      val host = FixtureGen.hostName(h)
      val ref = sim(host)
      tally.check(seenBy.getOrElse(host, Set.empty) == ref.seen &&
        orderBy.getOrElse(host, Seq.empty) == ref.order &&
        dispBy.getOrElse(host, Map.empty) == ref.dispositions,
        s"crawl: $host differs from the reference")
    }
    val gotImages = fetched.select("url", "image_id").as[(String, String)].collect().toSet
    val idNum = regexp_extract($"image_id", "(\\d+)", 1).cast("long")
    val bad = fetched
      .withColumn("psnr", ImageOps.psnrVsSyntheticUdf($"bytes", idNum, $"w", $"h"))
      .withColumn("cap2", CaptionCheck.expectedCaption(idNum))
      .where(($"fmt" === "png" && $"psnr" =!= 999.0) ||
        ($"fmt" === "jpg" && $"psnr" < 40.0) || ($"cap2" =!= $"caption")).count()
    tally.check(gotImages == sim.values.flatMap(_.fetchedImages).toSet && bad == 0,
      s"crawl: fetched images differ from the reference or fail J7 ($bad bad rows)")
    orderLog.length.toLong
  }
}

/** One query of each `SparkEntry.queries` family at sf0.01,
  * noop sink, checked once per run against recorded row counts and digests. */
final class OperatorSurfaceWorkload(opts: Opts) extends Workload {
  private val families: Seq[(String, Seq[String])] =
    if (opts.toy) Seq("relational" -> Seq("q01_pricing_agg"),
      "crawl_ops" -> Seq("q10_url_canonicalize"), "media" -> Seq("q41_video_gif"))
    else Seq(
      "relational" -> Seq("q01_pricing_agg"),
      "crawl_ops" -> Seq("q16_frontier_admission"),
      "text" -> Seq("q21_dedup_exact"),
      "vector" -> Seq("q24_embedding_neardup"),
      "media" -> Seq("q41_video_gif"),
      "pipeline" -> Seq("q72_wet_pipeline"))
  private val sf = if (opts.toy) "sf0.001" else "sf0.01"
  private val sfDir = Paths.get(opts.data, sf).toString
  private val familyOf = families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
  // the sf tables are fixed (seed 42), so no input here depends on --seed
  private val order: Seq[String] = families.flatMap(_._2)

  def params: Map[String, String] = Map("sf" -> sf, "queries" -> order.mkString(","))

  // the first passes after the warm-up still speed up by 10-15% each; a fixed
  // count makes the median the same (second) pass in every run
  override def minOps: Int = 3

  /** Opens every sf table once (footer and row count), as a job would on
    * loading its inputs. */
  def prepare(spark: SparkSession): Unit = Workload.labelled(spark, "perfbench setup") {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
  }
  def release(): Unit = ()

  private def expected: Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(s"${opts.expected}/$sf.tsv")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> (a(1).toLong, a(2))).toMap
    finally src.close()
  }

  /** The checked digest pass, which also compiles every query once. */
  def warm(spark: SparkSession, rec: Recorder, tally: Tally): Unit = {
    val exp = expected
    order.foreach { q =>
      val got = scala.util.Try(Workload.labelled(spark, s"perfbench check $q")(
        Digest.of(graft.SparkEntry.queries(q)(spark, sfDir))))
      val want = exp.get(q).map { case (n, d) =>
        if (opts.corruptExpected && q == order.head) (n + 1, d) else (n, d) }
      tally.check(got.toOption.exists(g => want.contains(g)),
        s"operator-surface: $q got ${got.fold(e => e.toString.take(120), _.toString)} want $want")
    }
  }

  def op(spark: SparkSession, rec: Recorder, tally: Tally, id: Int): Op = {
    rec.op = id
    val gc0 = Workload.gcMs
    val start = Clock.nowMs
    val times = rec.span("query pass", "pass") {
      order.map { q =>
        val t0 = Clock.nowMs
        val ok = rec.span(q, "query")(scala.util.Try(
          Workload.labelled(spark, s"perfbench query $q")(
            graft.SparkEntry.queries(q)(spark, sfDir)
              .write.format("noop").mode("overwrite").save())))
        tally.check(ok.isSuccess,
          s"operator-surface: $q threw ${ok.failed.map(_.toString.take(120))}")
        q -> (Clock.nowMs - t0)
      }
    }
    val end = Clock.nowMs
    val byFamily = times.groupBy { case (q, _) => familyOf(q) }
      .map { case (f, ts) => s"family_${f}_s" -> ts.map(_._2).sum / 1000.0 }
    Op(id, start, end, order.size / ((end - start) / 1000.0), times.map(_._2), byFamily,
      gcMs = Workload.gcMs - gc0)
  }
}

/** Order-insensitive content digest of a query result: the sorted xxhash64
  * of each row's JSON form, folded through SHA-256. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val row = struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val hashes = df.select(xxhash64(to_json(row))).collect().map(_.getLong(0)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    hashes.foreach { h => buf.clear(); buf.putLong(h); md.update(buf.array()) }
    (hashes.length.toLong, md.digest().take(12).map(b => f"$b%02x").mkString)
  }
}
