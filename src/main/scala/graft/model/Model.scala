package graft.model

/** Data dictionary for the engine's committed tables (SURVEY.md §1 D1-D9).
  * These case classes DOCUMENT the row shapes and serve as typed
  * `Encoders.product` anchors for readers of the tables; the engine itself
  * constructs the frames with explicit column selects (never schema
  * inference), and the golden-replay/resume specs assert the committed
  * schemas match these shapes. RobotsRuleRow/CrawlDelayRow are also used
  * directly (Robots.toRuleRows).
  */

/** D1 — URL frontier (`pending` table) row. Hash-partitioned by host at
  * rest. Reference analog: the ordered `urls: list[str]` work list + BFS
  * `current_level` (`src/jobs/runner.py:255-342`,
  * `src/crawler/discovery.py:163-224`). */
final case class FrontierEntry(
    urlNorm: String,
    host: String,
    depth: Int,
    priority: Long)

/** D2 — URL-seen set row (`visited` set, `discovery.py:163,188-191`). */
final case class SeenEntry(urlNorm: String, host: String, depth: Int)

/** D4 — fetched row; payload is image+caption per the graft cell
  * (`BASELINE.json.input_hint`), provenance from the fetch chain
  * (reference `ScrapedPage`, `runner.py:921-931`). */
final case class FetchedRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    url: String,
    fetch_method: String,
    load_ms: Long,
    epoch: Int)

/** D7 — one robots.txt rule row (broadcast-sized; host-scoped).
  * kind ∈ allow|disallow. Reference: `src/crawler/robots.py:14-17`. */
final case class RobotsRuleRow(
    host: String,
    kind: String,
    pathPrefix: String,
    prefixLen: Int)

/** Per-host crawl-delay (seconds), from `Crawl-delay:` (`robots.py:53-58`). */
final case class CrawlDelayRow(host: String, crawlDelaySec: Double)

/** D6 — one per-partition lineage row of the `ledger` table, checkpointed
  * per epoch commit (north rule: "per-partition lineage and counters
  * checkpointed"; scalar counters live in the manifest, read via
  * `TableIO.lastCounters`). Reference analog: `.job_state.json`
  * (`src/jobs/state.py:35-62`). */
final case class EpochLedgerEntry(
    partitionId: Int, // host bucket (the at-rest partition key)
    rowsIn: Long,
    rowsOk: Long,
    epoch: Int,
    phase: String) // "discover" | "fetch"

/** D3 — job configuration. Field defaults/ranges transcribed from the
  * reference's `JobRequest` (`src/api/models.py:19-150`); validation via
  * constructor `require` mirrors the Pydantic validators (F9). */
final case class CrawlConfig(
    seedUrls: Seq[String],
    delayMs: Int = 500,
    maxConcurrent: Int = 3,
    maxDepth: Int = 3,
    respectRobotsTxt: Boolean = true,
    language: String = "en",
    maxUrls: Int = 1000,
    /** epoch length the politeness budget is computed against (W3):
      * hostBudget = max(1, epochSeconds*1000 / effectiveDelayMs). */
    epochSeconds: Int = 30,
    /** shuffle/bucket count for host-hash partitioning (scale knob). */
    numBuckets: Int = 32,
    /** hosts with more pending URLs than this get salted repartitioning. */
    skewThreshold: Long = 100000L,
    /** Bloom filter sizing for the seen-set probe (A5). */
    bloomExpectedItems: Long = 1000000L,
    bloomFpp: Double = 1e-3,
    /** fetch-phase frontier compaction period: the frontier is the pending
      * table ∖ the order_log rows appended since its last rewrite, and the
      * pending table is rewritten only every K epochs, so per-epoch commit
      * I/O is O(dequeued), not O(frontier). */
    compactEveryEpochs: Int = 8,
    /** When an epoch's Bloom-delta key count is STATICALLY bounded below
      * this (politeness budgets / per-host caps × hosts), the delta is
      * collected through an `Observation` riding an already-running action
      * and folded driver-side — zero extra jobs per epoch. Above it, the
      * distributed treeAggregate build runs instead (the 10^10-URL path).
      */
    bloomDeltaCollectMax: Long = 100000L,
    /** |seen| at-or-above which discovery admission switches from the plain
      * exact anti-join (which AQE broadcasts at this size — a Bloom cannot
      * improve a broadcast probe) to [[graft.operators.Seen.admitAtScale]],
      * the two-Bloom shape that keeps both confirm-join sides O(|level|)
      * instead of shuffling O(|seen|). Default ≈ what AQE will actually
      * broadcast: the 10 MB default threshold / ~50 B per urlNorm row. */
    seenScaleJoinMinRows: Long = 200000L,
    /** S9 warm-cache TTL in donor-run epochs (the deterministic analog of
      * the reference's 24h disk-cache TTL, `src/scraper/cache.py:23-44`).
      * None derives the 24h analog from `epochSeconds`; enforced by
      * default — cache rows older than this (relative to the donor cache's
      * newest epoch) are re-fetched, not served. */
    warmCacheTtlEpochs: Option[Int] = None) {

  /** Effective TTL: explicit, or 24h expressed in this config's epochs. */
  def warmCacheTtl: Int =
    warmCacheTtlEpochs.getOrElse(math.max(1, 86400 / epochSeconds))

  require(warmCacheTtlEpochs.forall(_ >= 1), "warmCacheTtlEpochs >= 1")
  require(epochSeconds >= 1 && epochSeconds <= 86400,
    "epochSeconds in [1, 86400]") // also keeps the derived 24h TTL >= 1
  require(bloomDeltaCollectMax >= 0, "bloomDeltaCollectMax >= 0")
  require(seenScaleJoinMinRows >= 1, "seenScaleJoinMinRows >= 1")
  require(seedUrls.nonEmpty, "at least one seed URL")
  require(delayMs >= 100 && delayMs <= 60000, "delay_ms in [100, 60000]") // models.py:27
  require(maxConcurrent >= 1 && maxConcurrent <= 10, "max_concurrent in [1, 10]") // models.py:28
  require(maxDepth >= 0 && maxDepth <= 10, "max_depth in [0, 10]")
  require(maxUrls >= 1, "max_urls >= 1")
  require(numBuckets >= 1, "numBuckets >= 1")
  require(compactEveryEpochs >= 1, "compactEveryEpochs >= 1")
  seedUrls.foreach { u =>
    require(u.startsWith("http://") || u.startsWith("https://"), s"seed must be http(s): $u")
  }

  /** Effective per-host delay in ms: `max(delay_ms, crawl_delay*1000)`
    * (reference `runner.py:205-228`). */
  def effectiveDelayMs(crawlDelaySec: Option[Double]): Long =
    math.max(delayMs.toLong, crawlDelaySec.map(d => (d * 1000).toLong).getOrElse(0L))

  /** W3 politeness budget: URLs dequeued per host per fetch epoch. */
  def hostBudget(crawlDelaySec: Option[Double]): Int =
    math.max(1L, epochSeconds * 1000L / math.max(1L, effectiveDelayMs(crawlDelaySec))).toInt
}
