package graft

import org.apache.spark.sql.functions._

import graft.operators.Seen
import graft.sources.TableIO

/** Bloom-admission equivalence property + Iceberg DDL strings. */
class TableSeenSpec extends SparkSpec {
  import spark.implicits._

  test("property: admitAtScale ≡ exact anti-join (no false negatives, nulls pass)") {
    val rnd = new scala.util.Random(1234)
    (1 to 5).foreach { trial =>
      val n = 200 + rnd.nextInt(800)
      val all = (0 until n).map(i => s"https://h${i % 7}.test/p${rnd.nextInt(n)}")
        .distinct
      val (seenPart, candPart) = all.partition(_ => rnd.nextBoolean())
      val seen = seenPart.toDF("urlNorm")
      // candidates overlap seen partially; a null key must pass through
      // both paths (an equi-join never matches null)
      val cands = (candPart.map(Option(_)) ++ seenPart.take(seenPart.size / 2)
        .map(Option(_)) :+ Option.empty[String]).toDF("urlNorm")
      val exact = Seen.admit(cands, seen).as[Option[String]].collect().sorted.toSeq
      val bloom = Seen.buildBloom(seen, 10000L, 0.01)
      val scale = Seen.admitAtScale(cands, seen, spark.sparkContext.broadcast(bloom),
          expectedCandidates = 10000L, fpp = 0.01)
        .as[Option[String]].collect().sorted.toSeq
      assert(scale == exact, s"trial $trial: admitAtScale differs from exact")
      assert(scale.contains(None), s"trial $trial: null candidate must pass through")
    }
    // empty-seen edge: everything is definitely new
    val cands = Seq("a", "b").toDF("urlNorm")
    val emptySeen = spark.emptyDataset[String].toDF("urlNorm")
    val bloom = Seen.buildBloom(emptySeen, 64L, 0.01)
    assert(Seen.admitAtScale(cands, emptySeen, spark.sparkContext.broadcast(bloom),
      64L, 0.01).count() == 2L)
  }

  test("admitAtScale plan: seen side Bloom-pruned BEFORE its exchange; negatives bypass the join") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, Union}
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ regime
    try {
      val seen = spark.range(20000).select(concat(lit("https://h/p"), $"id").as("urlNorm"))
      val cands = spark.range(200)
        .select(concat(lit("https://h/p"), $"id" * 150).as("urlNorm"), lit("h").as("host"))
      val bloom = Seen.buildBloom(seen, 20000L, 0.01)
      val df = Seen.admitAtScale(cands, seen, spark.sparkContext.broadcast(bloom),
        expectedCandidates = 256L, fpp = 0.01)
      val plan = df.queryExecution.optimizedPlan
      val joins = plan.collect { case j: Join => j }
      assert(joins.size == 1 && joins.head.joinType == LeftAnti)
      // the candidate-Bloom prune sits on the seen (right/build) side, below
      // the join — the filter Spark itself will not inject for a LeftAnti
      // (InjectRuntimeFilter.canPruneRight: Inner/LeftSemi/LeftOuter only)
      assert(joins.head.right.collect { case f: Filter => f }
        .exists(_.condition.exists(_.isInstanceOf[ScalaUDF])),
        s"seen side missing the Bloom prune:\n$plan")
      // the bloom-negative branch reaches the union without any join
      val union = plan.collect { case u: Union => u }
      assert(union.nonEmpty, s"expected a bypass union:\n$plan")
      assert(union.head.children.exists(_.collect { case j: Join => j }.isEmpty),
        s"no join-free bypass branch:\n$plan")
      // and the result is still the exact anti-join under forced SMJ
      val exact = Seen.admit(cands, seen).select("urlNorm")
        .as[String].collect().sorted.toSeq
      assert(df.select("urlNorm").as[String].collect().sorted.toSeq == exact)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("two-phase rankPerHost ≡ single-host-window rank on a skewed frontier; no per-host window over raw pending") {
    import org.apache.spark.sql.expressions.Window
    // one giant host (spans many range partitions) + a few tiny ones + rows
    // whose host failed to parse (null) — those must keep their rank as
    // their own partition, exactly like the single-window form
    val rows = ((0 until 5000).map(i => (f"https://big.test/p$i%06d", "big.test")) ++
      (0 until 40).map(i => (s"https://tiny-${i % 4}.test/p$i", s"tiny-${i % 4}.test")) ++
      (0 until 3).map(i => (s"opaque:unparseable-$i", null: String)))
      .toDF("urlNorm", "host")
    val naive = rows.withColumn("priority",
        row_number().over(Window.partitionBy("host").orderBy("urlNorm")).cast("long"))
      .select("host", "urlNorm", "priority")
      .as[(String, String, Long)].collect().toSet
    // the two branches of rankPerHost share one range exchange; __pid must
    // agree between them under BOTH planners (AQE reuses the stage, non-AQE
    // applies ReuseExchange) — a desync drops rows or corrupts offsets
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val got = graft.operators.Frontier.prioritize(rows)
          .select("host", "urlNorm", "priority")
          .as[(String, String, Long)].collect().toSet
        assert(got == naive, s"aqe=$aqe: two-phase rank differs from single-window rank")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    // Relevance.prioritize (F8) rides the same helper: scored skew fixture
    val scorer = new graft.operators.RelevanceScorer {
      def score(c: org.apache.spark.sql.DataFrame) =
        c.select($"urlNorm", (length($"urlNorm") % 7).cast("double").as("score"))
    }
    val rel = graft.operators.Relevance.prioritize(rows, scorer)
      .as[(String, String, Long)].collect().toSet
    val relNaive = rows
      .withColumn("score", (length($"urlNorm") % 7).cast("double"))
      .withColumn("priority", row_number().over(
        Window.partitionBy("host").orderBy($"score", $"urlNorm")).cast("long"))
      .select("urlNorm", "host", "priority")
      .as[(String, String, Long)].collect().toSet
    assert(rel == relNaive)
    // plan shape: every Window partitioned on host ALONE must sit above an
    // Aggregate (the per-(host,pid) count-prefix sums — ≤ numShufflePartitions
    // rows per host), never over the raw pending set
    val plan = graft.operators.Frontier.prioritize(rows).queryExecution.optimizedPlan
    val wins = plan.collect { case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.size < 2).foreach { w =>
      assert(w.child.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.nonEmpty,
        s"single-column window over raw rows:\n$plan")
    }
  }

  test("property: two-phase salted dequeue ≡ naive per-host top-k") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(99)
    val rows = (0 until 900).map { i =>
      val h = s"site-${rnd.nextInt(5)}.test"
      (s"https://$h/p$i", h)
    }.distinct.toDF("urlNorm", "host")
    val pending = graft.operators.Frontier.prioritize(rows)
    val budgets = Seq(("site-0.test", 3), ("site-1.test", 10), ("site-2.test", 50))
      .toDF("host", "budget")
    val got = graft.operators.Frontier.dequeue(pending, budgets, defaultBudget = 7, saltCount = 8)
      .select("host", "urlNorm").as[(String, String)].collect().toSet
    val budgetMap = Map("site-0.test" -> 3, "site-1.test" -> 10, "site-2.test" -> 50)
      .withDefaultValue(7)
    val naive = pending
      .withColumn("rn", row_number().over(Window.partitionBy("host").orderBy("priority")))
      .as[(String, String, Long, Int)].collect()
      .filter { case (_, host, _, rn) => rn <= budgetMap(host) }
      .map(t => (t._2, t._1)).toSet
    assert(got == naive)
  }

  test("iceberg DDL strings for the cluster backend") {
    val ddl = TableIO.icebergDDL("crawl.frontier",
      "urlNorm string, host string, depth int, priority bigint, epoch int, state string",
      "host", 256)
    assert(ddl ==
      "CREATE TABLE IF NOT EXISTS crawl.frontier (urlNorm string, host string, " +
        "depth int, priority bigint, epoch int, state string) USING iceberg " +
        "PARTITIONED BY (bucket(256, host))")
  }

  test("IcebergTableIO: SQL builders; graceful degrade without the runtime jar") {
    import graft.sources.IcebergTableIO
    // the sandbox ships no Iceberg runtime — the backend must refuse
    // construction with actionable guidance, not fail mid-crawl
    assert(!IcebergTableIO.available)
    val e = intercept[IllegalArgumentException] {
      new IcebergTableIO(spark, "prod.graft_crawl")
    }
    assert(e.getMessage.contains("iceberg-spark-runtime"))
    // pure SQL builders (the live path's exact statements)
    assert(IcebergTableIO.manifestDDL("prod.g.graft_manifest") ==
      "CREATE TABLE IF NOT EXISTS prod.g.graft_manifest (version INT, " +
        "phase STRING, epoch INT, entries MAP<STRING, BIGINT>, " +
        "counters MAP<STRING, BIGINT>) USING iceberg")
    assert(IcebergTableIO.latestSnapshotSql("prod.g.graft_seen") ==
      "SELECT snapshot_id FROM prod.g.graft_seen.snapshots " +
        "ORDER BY committed_at DESC, snapshot_id DESC LIMIT 1")
    val withHost = Seq(("u", "h")).toDF("urlNorm", "host")
    assert(IcebergTableIO.bucketColFor(withHost, "host") == "host")
    assert(IcebergTableIO.bucketColFor(withHost.drop("host"), "host") == "urlNorm")
  }

  test("append file count tracks previous delta bytes (data-sized, not constant)") {
    // ask-5 (round 3): at 10^10-URL scale one file per append is as wrong
    // as hundreds; files/commit must follow the delta's byte size. Sizing
    // uses the SAME table's bytes from the previous commit (ledger
    // counters), so this drives growing→shrinking deltas and a resume.
    val dir = java.nio.file.Files.createTempDirectory("graft-appendsz")
    val target = 4096L
    def files(version: Int): Long = {
      val s = java.nio.file.Files.walk(dir.resolve(s"data/t/v$version"))
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    def expectFiles(io: graft.sources.ParquetSnapshotTableIO): Long =
      math.max(1L, (io.lastCounters("bytes_t") + target - 1) / target)
    def delta(n: Int) =
      spark.range(n).select($"id", concat(lit("payload-"), $"id").as("s"))

    val io = new graft.sources.ParquetSnapshotTableIO(spark, dir.toString, target)
    io.commit("p", 1, Map.empty, Map("t" -> delta(2000)))
    assert(files(1) == 1, "first append has no history -> 1 file")
    val predict2 = expectFiles(io)
    assert(predict2 > 1, "fixture delta must exceed one target file")
    io.commit("p", 2, Map.empty, Map("t" -> delta(2000)))
    assert(files(2) == predict2, "second append sized from first's bytes")
    // shrinking delta: files follow DOWN one commit later
    io.commit("p", 3, Map.empty, Map("t" -> delta(1)))
    val predict4 = expectFiles(io)
    io.commit("p", 4, Map.empty, Map("t" -> delta(1)))
    assert(files(4) == predict4 && files(4) < files(2))
    // resume: a NEW instance over the same dir seeds sizing from the manifest
    val io2 = new graft.sources.ParquetSnapshotTableIO(spark, dir.toString, target)
    val predict5 = expectFiles(io2)
    io2.commit("p", 5, Map.empty, Map("t" -> delta(2000)))
    assert(files(5) == predict5, "resumed instance keeps data-driven sizing")
  }

  test("exchange barrier: each dequeued URL reaches the fetch transport exactly once") {
    // Round 4 replaced the pages.cache()+count() double-fetch guard with a
    // repartition barrier both downstream branches reuse. This guards the
    // exactly-once claim directly: an accumulator on the transport's input
    // must equal the dispatched-URL count — a regression that recomputes
    // the side-effecting fetch subtree (e.g. removing the barrier AND the
    // exchange reuse) would double it.
    val params = graft.fixtures.FixtureGen.Params(hosts = 2, pagesPerHost = 20)
    val acc = spark.sparkContext.longAccumulator("transport-fetches")
    val inner = new graft.sources.FixtureFetcher(
      graft.fixtures.FixtureGen.webGraphDF(spark, params))
    val discoveries = spark.sparkContext.longAccumulator("discovery-fetches")
    val counting = new graft.sources.Fetcher {
      private val tick = udf((u: String) => { acc.add(1L); true }).asNondeterministic()
      private val tickD = udf((u: String) => { discoveries.add(1L); true }).asNondeterministic()
      override def fetchPages(urls: org.apache.spark.sql.DataFrame) =
        inner.fetchPages(urls.filter(tick(urls("urlNorm"))))
      override def fetchPagesForDiscovery(urls: org.apache.spark.sql.DataFrame) =
        inner.fetchPagesForDiscovery(urls.filter(tickD(urls("urlNorm"))))
    }
    val cfg = graft.model.CrawlConfig(
      seedUrls = graft.fixtures.FixtureGen.seeds(params), maxDepth = 5)
    def crawlOnce(): Long = {
      val engine = new graft.epoch.CrawlEngine(spark, cfg, counting,
        graft.fixtures.FixtureGen.imagesDF(spark, params),
        new graft.sources.ParquetSnapshotTableIO(
          spark, java.nio.file.Files.createTempDirectory("graft-once").toString),
        graft.fixtures.FixtureGen.robotsMap(params))
      engine.run()
      engine.orderLog.count()
    }
    // the shuffle-identity guarantee must hold under BOTH planners — AQE
    // restructures stages aggressively, non-AQE plans them statically
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      acc.reset()
      try {
        val dispatched = crawlOnce()
        assert(dispatched > 0)
        assert(acc.value == dispatched,
          s"aqe=$aqe: transport saw ${acc.value} rows for $dispatched dispatched URLs")
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("ledger: per-partition lineage rows checkpointed per fetch epoch") {
    // reuse a tiny engine run
    val params = graft.fixtures.FixtureGen.Params(hosts = 2, pagesPerHost = 15)
    val cfg = graft.model.CrawlConfig(
      seedUrls = graft.fixtures.FixtureGen.seeds(params), maxDepth = 4)
    val io = new graft.sources.ParquetSnapshotTableIO(
      spark, java.nio.file.Files.createTempDirectory("graft-ledger").toString)
    val engine = new graft.epoch.CrawlEngine(spark, cfg,
      new graft.sources.FixtureFetcher(graft.fixtures.FixtureGen.webGraphDF(spark, params)),
      graft.fixtures.FixtureGen.imagesDF(spark, params), io,
      graft.fixtures.FixtureGen.robotsMap(params))
    engine.run()
    val ledger = engine.table("ledger").get
    assert(ledger.columns.toSet == Set("partitionId", "rowsIn", "rowsOk", "epoch", "phase"))
    val totalIn = ledger.agg(sum("rowsIn")).as[Long].head()
    assert(totalIn == engine.orderLog.count()) // lineage accounts every dispatch
    assert(ledger.select("epoch").distinct().count() >= 1)
  }
}
