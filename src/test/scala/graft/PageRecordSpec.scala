package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.epoch.CrawlEngine
import graft.fixtures.FixtureGen
import graft.model.CrawlConfig
import graft.sim.ReferenceSim
import graft.sources.{Fetcher, FixtureFetcher, ParquetSnapshotTableIO}

/** `order_log` as the fetch epoch's single page record: the commit shape
  * (order_log + fetched, + pending on compaction epochs), the frontier
  * derived from it across compactions and resumes, and the drained-frontier
  * probe behind the early exit. */
class PageRecordSpec extends SparkSpec {
  import spark.implicits._

  private val params = FixtureGen.Params(hosts = 3, pagesPerHost = 60, skew = 4)
  private lazy val webGraph = FixtureGen.webGraphDF(spark, params).cache()
  private lazy val images = FixtureGen.imagesDF(spark, params).cache()
  private lazy val sim = ReferenceSim.crawlAll(params, 7, "en")

  // K = 2: fetch epochs 2, 4, … rewrite `pending`
  private val cfg = CrawlConfig(seedUrls = FixtureGen.seeds(params), maxDepth = 7,
    epochSeconds = 15, compactEveryEpochs = 2)

  private def newEngine(dir: String) =
    new CrawlEngine(spark, cfg, new FixtureFetcher(webGraph), images,
      new ParquetSnapshotTableIO(spark, dir), FixtureGen.robotsMap(params),
      sitemaps = Some(FixtureGen.sitemapsDF(spark, params)))

  private def orderRows(e: CrawlEngine): Seq[(String, Long, String, String, Int)] =
    e.orderLog.select("host", "priority", "urlNorm", "disposition", "epoch")
      .as[(String, Long, String, String, Int)].collect().sortBy(t => (t._1, t._2)).toSeq

  /** (phase, epoch, tables written) per commit, from `commits.jsonl`. */
  private def commits(dir: String): Seq[(String, Int, Set[String])] = {
    import scala.jdk.CollectionConverters._
    val Line = """\{"phase":"(\w+)","epoch":(\d+),"version":\d+,"bytes":\{([^}]*)\}.*""".r
    Files.readAllLines(Paths.get(dir, "commits.jsonl")).asScala.toSeq.map {
      case Line(phase, epoch, bytes) =>
        (phase, epoch.toInt, bytes.split(',').filter(_.nonEmpty)
          .map(_.takeWhile(_ != ':').stripPrefix("\"").stripSuffix("\"")).toSet)
    }
  }

  private lazy val uninterrupted: (String, CrawlEngine) = {
    val dir = Files.createTempDirectory("graft-pagerec").toString
    val e = newEngine(dir)
    e.run()
    (dir, e)
  }

  test("a fetch commit writes order_log + fetched (+ pending on compaction epochs) and nothing else") {
    val (dir, e) = uninterrupted
    val fetchCommits = commits(dir).filter { case (ph, ep, _) => ph == "fetch" && ep >= 1 }
    assert(fetchCommits.size >= 3, s"fixture must span a compaction: $fetchCommits")
    fetchCommits.foreach { case (_, ep, tables) =>
      val expected = Set("order_log", "fetched") ++ (if (ep % 2 == 0) Set("pending") else Set())
      assert(tables == expected, s"fetch/$ep wrote $tables")
    }
    val onDisk = Files.list(Paths.get(dir, "data"))
    try {
      val names = onDisk.iterator()
      var seenNames = Set.empty[String]
      while (names.hasNext) seenNames += names.next().getFileName.toString
      assert((seenNames intersect Set("seen_content", "page_cache", "ledger", "dequeued"))
        .isEmpty, s"derived tables on disk: $seenNames")
    } finally onDisk.close()
    // the crawl still matches the reference
    val got = orderRows(e).groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    sim.foreach { case (host, ref) => assert(got.getOrElse(host, Seq.empty) == ref.order) }
  }

  test("page_cache and ledger are order_log projections with the committed columns") {
    val (_, e) = uninterrupted
    val log = e.orderLog
    assert(log.columns.take(6).toSeq ==
      Seq("host", "priority", "urlNorm", "disposition", "fetchMethod", "epoch"))
    val pc = e.table("page_cache").get
    assert(pc.columns.toSeq ==
      (Fetcher.pageObservationSchema.fieldNames :+ "cachedEpoch").toSeq)
    assert(pc.count() == log.where($"disposition" === "ok").count())
    // the page payload lives on ok rows only
    assert(log.where($"disposition" =!= "ok" && $"content".isNotNull).count() == 0)
    val ledger = e.table("ledger").get
    assert(ledger.columns.toSeq == Seq("partitionId", "rowsIn", "rowsOk", "epoch", "phase"))
    val (rowsIn, rowsOk) = ledger.selectExpr("sum(rowsIn)", "sum(rowsOk)")
      .as[(Long, Long)].head()
    assert(rowsIn == log.count() && rowsOk == pc.count())
  }

  test("resume across a compaction epoch reproduces the uninterrupted crawl") {
    val dir = Files.createTempDirectory("graft-pagerec-resume").toString
    newEngine(dir).run(stopAfterFetchEpoch = Some(2)) // pauses right after a rewrite
    val io = new ParquetSnapshotTableIO(spark, dir)
    assert(io.lastCounters.get(CrawlEngine.PendingEpoch).contains(2L))
    newEngine(dir).run(stopAfterFetchEpoch = Some(3)) // one delta epoch past it
    assert(io.lastCounters.get(CrawlEngine.PendingEpoch).contains(2L))
    val resumed = newEngine(dir)
    resumed.run()
    assert(orderRows(resumed) == orderRows(uninterrupted._2))
    val fa = resumed.fetched.select("image_id", "url").as[(String, String)].collect().toSet
    val fb = uninterrupted._2.fetched.select("image_id", "url").as[(String, String)]
      .collect().toSet
    assert(fa == fb)
  }

  test("early exit: a duplicated transport row cannot strand a frontier URL") {
    val p = FixtureGen.Params(hosts = 1, pagesPerHost = 20)
    val web = FixtureGen.webGraphDF(spark, p).cache()
    val imgs = FixtureGen.imagesDF(spark, p).cache()
    def crawl(c: CrawlConfig, fetcher: Fetcher): CrawlEngine = {
      val e = new CrawlEngine(spark, c, fetcher, imgs,
        new ParquetSnapshotTableIO(spark,
          Files.createTempDirectory("graft-pagerec-dup").toString),
        FixtureGen.robotsMap(p))
      e.run()
      e
    }
    val base = CrawlConfig(seedUrls = FixtureGen.seeds(p), maxDepth = 5)
    val frontier = crawl(base.copy(epochSeconds = 600, delayMs = 1000),
      new FixtureFetcher(web)).orderLog.orderBy("priority").select("urlNorm").as[String]
      .collect().toSeq
    assert(frontier.size >= 3)
    // budget = |frontier| − 1: epoch 1 leaves exactly one URL for epoch 2.
    // Returning epoch 1's first page twice inflates the observed dequeue
    // count by one, so the observed remaining count reads 0 a URL early.
    val victim = frontier.head
    val doubling = new Fetcher {
      private val inner = new FixtureFetcher(web)
      override def fetchPages(urls: DataFrame): DataFrame = {
        val pages = inner.fetchPages(urls)
        pages.unionByName(pages.where($"urlNorm" === victim))
      }
      override def fetchPagesForDiscovery(urls: DataFrame): DataFrame =
        inner.fetchPagesForDiscovery(urls)
    }
    val e = crawl(base.copy(epochSeconds = frontier.size - 1, delayMs = 1000), doubling)
    val logged = e.orderLog.select("urlNorm", "epoch").as[(String, Int)].collect()
    assert(logged.map(_._1).toSet == frontier.toSet,
      s"frontier URLs missing from order_log: ${frontier.toSet -- logged.map(_._1)}")
    assert(logged.map(_._2).max == 2)
    web.unpersist(); imgs.unpersist()
  }
}
