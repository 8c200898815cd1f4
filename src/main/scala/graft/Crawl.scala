package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.epoch.CrawlEngine
import graft.model.CrawlConfig
import graft.operators.{IdentityScorer, RelevanceScorer, Ssrf}
import graft.sources.{BootstrapFetch, Fetcher, HttpFetcher, ParquetSnapshotTableIO}

/** One-call user entry — the `POST /api/jobs` analog (reference E1,
  * `src/jobs/runner.py:113`): wires the real transport, bootstrap fetches
  * (robots.txt policies + sitemap bodies incl. `Sitemap:` directives), and
  * the snapshot table store, then runs the crawl to completion. Returns
  * the engine for table access (`orderLog`, `fetched`, `seen`, `table(_)`)
  * and post-processing (`operators.Postprocess.chunksTable` over ok pages).
  *
  * Every component stays overridable for tests/deployments (fixture or
  * custom transports, scorers, warm caches, permissive SSRF for loopback
  * fixtures) — the defaults are the production path.
  */
object Crawl {

  /** spark-submit entry (`--class graft.Crawl`, README deployment recipe):
    * {{{
    * graft.Crawl --iceberg-db prod.graft_crawl42 --images s3://…/images.parquet \
    *   [--max-depth 3] [--max-urls 1000] [--delay-ms 500] \
    *   [--epoch-seconds 30] [--num-buckets 32] [--language en] \
    *   [--warm-cache <parquet>] seedUrl [seedUrl …]
    * }}}
    * `--iceberg-db` selects the Iceberg table backend (cluster path);
    * `--state-dir` selects the parquet-snapshot store, whose manifest is
    * java.nio-local — a driver-local or locally-mounted directory, NOT an
    * object-store URL. Builds the session from the submit conf, reads the
    * image table, runs the crawl to completion, prints the dispatch count. */
  def main(args: Array[String]): Unit = {
    val known = Set("state-dir", "iceberg-db", "images", "max-depth",
      "max-urls", "delay-ms", "epoch-seconds", "num-buckets", "language",
      "warm-cache", "cdp-ws")
    def usage(msg: String): Nothing = {
      System.err.println(s"error: $msg\nusage: graft.Crawl " +
        "(--state-dir LOCAL_OR_DFS_DIR | --iceberg-db catalog.namespace) " +
        "--images PARQUET [--max-depth N] [--max-urls N] [--delay-ms N] " +
        "[--epoch-seconds N] [--num-buckets N] [--language L] " +
        "[--warm-cache PARQUET] [--cdp-ws WS_URL] seedUrl [seedUrl ...]")
      sys.exit(2)
    }
    val opts = scala.collection.mutable.Map.empty[String, String]
    val seeds = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val key = a.stripPrefix("--")
        if (!known.contains(key)) usage(s"unknown option $a") // typos must
        if (i + 1 >= args.length) usage(s"missing value for $a") // not run
        opts(key) = args(i + 1); i += 2 // a default-config crawl silently
      } else { seeds += a; i += 1 }
    }
    if (seeds.isEmpty) usage("at least one seed URL")
    val stateDir = opts.get("state-dir")
    val icebergDb = opts.get("iceberg-db")
    if (stateDir.isEmpty && icebergDb.isEmpty)
      usage("--state-dir or --iceberg-db required")
    // exclusive, as the usage line promises: accepting both and silently
    // ignoring --state-dir would leave an operator expecting local
    // snapshot state with an empty directory and no diagnostic
    if (stateDir.nonEmpty && icebergDb.nonEmpty)
      usage("--state-dir and --iceberg-db are mutually exclusive")
    // the parquet-snapshot backend keeps its manifest via java.nio — a
    // LOCAL (or locally-mounted DFS) path; object stores go through the
    // Iceberg backend instead
    stateDir.filter(_.contains("://")).foreach(d =>
      usage(s"--state-dir $d is not a local path; use --iceberg-db for " +
        "object-store state (ParquetSnapshotTableIO manifests are java.nio)"))
    val imagesPath = opts.getOrElse("images", usage("--images required"))
    // bad VALUES must reach usage() like bad flags do — not a raw
    // NumberFormatException / require() stack trace
    val cfg = try CrawlConfig(
      seedUrls = seeds.toSeq,
      delayMs = opts.get("delay-ms").map(_.toInt).getOrElse(500),
      maxDepth = opts.get("max-depth").map(_.toInt).getOrElse(3),
      language = opts.getOrElse("language", "en"),
      maxUrls = opts.get("max-urls").map(_.toInt).getOrElse(1000),
      epochSeconds = opts.get("epoch-seconds").map(_.toInt).getOrElse(30),
      numBuckets = opts.get("num-buckets").map(_.toInt).getOrElse(32))
    catch {
      case e: NumberFormatException => usage(s"non-numeric option value: ${e.getMessage}")
      case e: IllegalArgumentException => usage(e.getMessage)
    }
    val spark = SparkSession.builder().appName("graft-crawl").getOrCreate()
    val backend: Option[graft.sources.TableIO] = icebergDb.map(db =>
      new graft.sources.IcebergTableIO(spark, db, numBuckets = cfg.numBuckets))
    // run()'s own validation (e.g. the one-seed-per-host require) is bad
    // INPUT too — route it through usage() like the config requires above,
    // not a raw stack trace out of spark-submit
    val engine = try run(spark, cfg, stateDir.getOrElse(""),
      images = spark.read.parquet(imagesPath),
      warmCache = opts.get("warm-cache").map(spark.read.parquet(_)),
      // S8: --cdp-ws ws://browser:9222/devtools/browser/<id> renders the
      // heavy level through the browser (PlaywrightRenderClient)
      renderer = opts.get("cdp-ws")
        .map(ws => new graft.sources.PlaywrightRenderClient(cdpWsUrl = ws): graft.sources.RenderClient)
        .getOrElse(graft.sources.RenderClient.Static),
      io = backend)
    catch { case e: IllegalArgumentException => usage(e.getMessage) }
    // the ACTUAL committed counters (dequeued/ok/blocked/…), not a label —
    // this line is what an operator reads in spark-submit logs
    val counters = engine.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"crawl done: ${engine.orderLog.count()} URLs dispatched; $counters")
  }

  def run(spark: SparkSession, cfg: CrawlConfig, stateDir: String,
      /** image table the fetch phase joins refs against
        * (image_id, bytes, w, h, fmt, caption, phash). */
      images: DataFrame,
      fetcher: Option[Fetcher] = None,
      /** S8 heavy-level renderer used when `fetcher` is not overridden —
        * [[graft.sources.PlaywrightRenderClient]] on a cluster with a
        * browser, the validated static GET otherwise. */
      renderer: graft.sources.RenderClient = graft.sources.RenderClient.Static,
      scorer: RelevanceScorer = IdentityScorer,
      warmCache: Option[DataFrame] = None,
      /** Row-level F6 gate (discovery/dequeue) — literal-IP only by
        * default: a resolving check here would run blocking DNS inside a
        * per-row UDF on every epoch. DNS-resolving validation (reference
        * `validate_url_not_ssrf` → `socket.gethostbyname`) runs in the
        * TRANSPORT instead — the default HttpFetcher layers
        * `Ssrf.isSsrfResolving` onto this gate per request + redirect hop,
        * touching only URLs actually fetched. Tests inject loopback-
        * permissive gates AND their own fetcher. */
      ssrfCheck: String => Boolean = u => !Ssrf.isSsrf(u),
      stopAfterFetchEpoch: Option[Int] = None,
      /** Post-scrape output pipeline (reference `runner.py:543-620` runs
        * chunk→classify→cleanup inline per page): when true and the crawl
        * ran to completion, ok pages are chunked (C9), classified (O3/O4),
        * selectively cleaned, and committed as the `chunks` table. */
      postprocess: Boolean = true,
      chunkCleaner: graft.operators.Postprocess.ChunkCleaner =
        graft.operators.Postprocess.IdentityCleaner,
      /** table backend override (e.g. [[graft.sources.IcebergTableIO]] on
        * a cluster); default = parquet-snapshot store at `stateDir`. */
      io: Option[graft.sources.TableIO] = None): CrawlEngine = {
    import spark.implicits._
    val seedPairs = cfg.seedUrls.map(u =>
      graft.util.PyUrl.host(graft.util.PyUrl.canonicalize(u)) -> u)
    // fail the one-seed-per-host contract here, BEFORE the bootstrap
    // fetches issue real robots/sitemap requests for a doomed config
    require(seedPairs.map(_._1).distinct.size == seedPairs.size,
      "one seed per host (reference: one base_url per job) — for several " +
        "subtrees of one host run one job per seed via graft.jobs.JobManager; " +
        "got " + cfg.seedUrls)
    val seeds: Map[String, String] = seedPairs.toMap
    val (policies, sitemaps, defaultFetcher) =
      bootstrapWiring(spark, seeds, ssrfCheck, renderer)
    val tableIo = io.getOrElse(new ParquetSnapshotTableIO(spark, stateDir))
    val engine = new CrawlEngine(
      spark, cfg,
      fetcher.getOrElse(defaultFetcher),
      images,
      tableIo,
      policies,
      sitemaps = sitemaps,
      scorer = scorer,
      warmCache = warmCache,
      ssrfCheck = ssrfCheck)
    engine.run(stopAfterFetchEpoch = stopAfterFetchEpoch)
    // post-scrape pipeline over the committed ok pages (the page_cache
    // projection of order_log: the ok markdown, one row per urlNorm) —
    // snapshot table, so a re-run replaces it; skipped when the crawl was
    // paused mid-flight
    if (postprocess && stopAfterFetchEpoch.isEmpty)
      graft.operators.Postprocess.commitChunks(spark, engine, tableIo, chunkCleaner)
    engine
  }

  /** Production bootstrap + transport wiring for one job — ONE copy of the
    * security-relevant SSRF layering, shared by [[run]] and
    * [[Serve.submitter]]: per-seed robots policies, sitemap bodies as the
    * engine's cascade input (never-throw: a dead host means allow-all
    * robots and BFS-only discovery, not a failed job creation), and the
    * default transport whose request-time validate layers the
    * DNS-resolving SSRF check on the caller's row gate — a name resolving
    * into 10/8 or 169.254/16 is rejected at request time even when the
    * cheap row gate admitted it. `transportValidate` overrides that
    * layering for loopback fixture specs ONLY. */
  private[graft] def bootstrapWiring(spark: SparkSession,
      seeds: Map[String, String],
      ssrfCheck: String => Boolean,
      renderer: graft.sources.RenderClient,
      transportValidate: Option[String => Boolean] = None,
      /** fetch-chain knobs (JobRequest S5/S6/S7 + PR 3.4 converter);
        * defaults = the reference's defaults = [[run]]'s behavior. */
      useNativeMarkdown: Boolean = true,
      markdownProxyUrl: Option[String] = None,
      useHttpFastPath: Boolean = true,
      converter: graft.sources.MarkdownConverter =
        graft.sources.MarkdownConverters.Markdownify)
      : (Map[String, graft.operators.Robots.Policy], Option[DataFrame], HttpFetcher) = {
    import spark.implicits._
    val validate = transportValidate.getOrElse(
      (u: String) => ssrfCheck(u) && !Ssrf.isSsrfResolving(u))
    val policies = BootstrapFetch.robotsPolicies(seeds, validate = ssrfCheck)
    val bodies = BootstrapFetch.sitemapBodies(seeds, policies, validate = ssrfCheck)
    (policies,
      if (bodies.nonEmpty) Some(bodies.toDF("sitemap_url", "body", "gzipped"))
      else None,
      new HttpFetcher(
        useNativeMarkdown = useNativeMarkdown,
        markdownProxyUrl = markdownProxyUrl,
        useHttpFastPath = useHttpFastPath,
        validate = validate, converter = converter, renderer = renderer))
  }
}
