package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    toy: Boolean, data: String, expected: String, work: String,
    corruptExpected: Boolean, gitSha: String, sourceDigest: String)

/** Benchmark driver. One case = one workload at one trace setting: set up
  * (several times), warm up, measure closed-loop for `--seconds`, check every
  * output, and print one `PERFBENCH_RESULT {json}` line (preceded by a
  * `PERFBENCH_INFO {json}` provenance line). `perfbench/run.py` is the entry
  * point; see perfbench/README.md. */
object Main {
  val SetupReps = 3

  val e2eUnits: Seq[(String, String)] = Seq("setup_s" -> "s", "work_per_s" -> "1/s")

  val committedTables: Seq[String] = Seq("seen", "level_next", "host_counts", "pending",
    "dequeued", "order_log", "seen_content", "page_cache", "ledger", "fetched")

  val families: Seq[String] = Seq("relational", "crawl_ops", "text", "vector", "media", "pipeline")

  val layerUnits: Seq[(String, String)] = Seq(
    "epoch.jobs" -> "count", "epoch.stages" -> "count", "epoch.task_ms" -> "ms",
    "epoch.active_ms" -> "ms", "epoch.driver_gap_ms" -> "ms",
    "epoch.unlabeled_jobs" -> "count", "epoch.unlabeled_ms" -> "ms",
    "epoch.unmapped_jobs" -> "count", "epoch.discover_ms" -> "ms", "epoch.fetch_ms" -> "ms",
    "epoch.resume_ms" -> "ms",
    "sources.tableio.commits" -> "count", "sources.tableio.commit_ms" -> "ms",
    "sources.tableio.write_jobs" -> "count") ++
    committedTables.map(t => s"sources.tableio.write_ms.$t" -> "ms") ++
    committedTables.map(t => s"sources.tableio.bytes.$t" -> "bytes") ++ Seq(
    "sources.tableio.files" -> "count", "sources.tableio.read_calls" -> "count",
    "sources.tableio.read_ms" -> "ms", "sources.tableio.resume_first_commit_ms" -> "ms",
    "sources.tableio.state_mb" -> "MB",
    "operators.seen.exact_ms" -> "ms", "operators.seen.bloom_ms" -> "ms",
    "operators.seen.admitted_ratio" -> "ratio",
    "operators.frontier.prioritize_ms" -> "ms",
    "sources.fetcher.classify_ms" -> "ms", "sources.fetcher.classify_task_ms" -> "ms",
    "sources.fetcher.rows" -> "count",
    "sources.sitemaps.cascade_ms" -> "ms",
    "functions.imageops.rows_per_s_c1" -> "1/s", "functions.imageops.task_us_per_row" -> "us",
    "functions.imageops.rows_per_s_cn" -> "1/s", "functions.imageops.scaling_eff" -> "ratio") ++
    families.map(f => s"sparkentry.${f}_s" -> "s") ++ Seq(
    "sparkentry.jobs" -> "count", "jvm.gc_ms" -> "ms", "jvm.peak_rss_mb" -> "MB",
    "epoch.step_ms_p50" -> "ms", "trace.overhead_ratio" -> "ratio")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opts(workload: String, trace: Boolean, corrupt: Boolean) = Opts(workload,
      kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toDouble, trace,
      kv.get("toy").contains("1"), kv("data"), kv("expected"), kv("work"), corrupt,
      kv.getOrElse("git-sha", ""), kv.getOrElse("source-digest", ""))
    kv.get("record") match {
      case Some(dump) => record(opts("operator-surface", false, false), dump)
      case None =>
        // cases: workload:trace[:corrupt], comma separated
        kv("cases").split(",").foreach { c =>
          val parts = c.split(":")
          runCase(opts(parts(0), parts(1) == "1", parts.length > 2 && parts(2) == "corrupt"))
        }
    }
  }

  def session(o: Opts): SparkSession = {
    val cpus = nproc
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def runCase(o: Opts): Unit = {
    val w: Workload = o.workload match {
      case "crawl" => new CrawlWorkload(o)
      case "operator-surface" => new OperatorSurfaceWorkload(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tally = new Tally
    val steal = new StealMeter
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) { w.release(); spark.stop() }
      val t0 = Clock.nowMs
      spark = session(o)
      w.prepare(spark)
      (Clock.nowMs - t0) / 1000.0
    }
    val plain = new Recorder(false)
    val warmStart = Clock.nowMs
    w.warm(spark, plain, tally)
    val warmS = (Clock.nowMs - warmStart) / 1000.0
    val jobs = if (o.trace) Some(new JobRecorder) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    val rec = if (o.trace) new Recorder(true) else plain
    val ops = ArrayBuffer.empty[Op]
    val t0 = Clock.nowMs
    while (ops.size < w.minOps || Clock.nowMs - t0 < o.seconds * 1000)
      ops += w.op(spark, rec, tally, ops.size + 1)
    // tracing overhead: one untraced then one traced op, after the measured ones
    val overhead = jobs.map { j =>
      spark.sparkContext.removeSparkListener(j)
      val untraced = w.op(spark, plain, tally, -2)
      val j2 = new JobRecorder
      spark.sparkContext.addSparkListener(j2)
      val traced = w.op(spark, new Recorder(true), tally, -3)
      spark.sparkContext.removeSparkListener(j2)
      spark.sparkContext.addSparkListener(j)
      untraced.rate / traced.rate
    }
    val control = kernelProbe(spark, jobs, tally)
    jobs.foreach(_ => org.apache.spark.ListenerDrain.drain(spark.sparkContext))

    val steps = ops.flatMap(_.steps).sorted
    val e2e = Map("setup_s" -> median(setups), "work_per_s" -> median(ops.map(_.rate)))
    val metrics =
      if (!o.trace) e2eUnits.map { case (n, u) => n -> (e2e(n), u) }
      else {
        val layers = perLayer(spark, o, ops.toSeq, rec, jobs.get) ++ control ++ Map(
          "trace.overhead_ratio" -> overhead.get, "jvm.peak_rss_mb" -> peakRssMb,
          "epoch.step_ms_p50" -> median(steps))
        layerUnits.map { case (n, u) => n -> (layers.getOrElse(n, 0.0), u) }
      }
    val spansFile = if (o.trace) Some(writeSpans(o, ops.toSeq, rec, jobs.get)) else None
    val tail = tailOf(steps.toSeq)
    val info = Map(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "toy" -> o.toy,
      "params" -> w.params,
      "nproc" -> nproc, "java" -> System.getProperty("java.version"),
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "git_sha" -> o.gitSha, "source_sha256" -> o.sourceDigest,
      "host_weather" -> control, "cpu_steal_pct" -> 100.0 * steal.fraction,
      "setup_samples_s" -> setups, "warmup_s" -> warmS,
      "ops" -> ops.size, "op_rates" -> ops.map(_.rate),
      "op_wall_ms" -> ops.map(o => o.end - o.start),
      "step_n" -> steps.size, "step_ms_p50" -> median(steps),
      "step_tail_pct" -> tail.map(_._1), "step_ms_tail" -> tail.map(_._2),
      "peak_rss_mb" -> peakRssMb,
      "extra_median" -> ops.flatMap(_.extra.keys).distinct.sorted
        .map(k => k -> median(ops.flatMap(_.extra.get(k)))).toMap,
      "fail_ratio" -> tally.failed.toDouble / math.max(1L, tally.attempted),
      "failures" -> tally.failures.toSeq,
      "spans_file" -> spansFile,
      "comparability" -> ("not comparable across hosts: not with round 6's 32 vCPU numbers, " +
        "nor with graft.Bench's 363-URL engine crawl (no sitemap cascade)"))
    println("PERFBENCH_INFO " + Json(info))
    val result = Map(
      "correct" -> (tally.failed == 0),
      "attempted" -> tally.attempted,
      "failed" -> tally.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (n, (v, u)) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }: _*))
    println("PERFBENCH_RESULT " + Json(result))
    w.release()
    spark.stop()
    deleteTree(Paths.get(o.work, "state"))
  }

  /** Host weather and the ImageOps layer: the fetch+verify kernel of
    * `graft.tools.ScaleProbe.kernel` on fixed image ids, at one partition
    * (one core) and at nproc partitions, after a short warm-up. */
  private def kernelProbe(spark: SparkSession, jobs: Option[JobRecorder],
      tally: Tally): Map[String, Double] = {
    val (n1, nN) = (96L, 96L * nproc)
    Workload.kernel(spark, 0L, nN / 2, nproc)
    def timed(n: Long, parts: Int): (Double, Double) = {
      val t0 = Clock.nowMs
      val ok = Workload.labelled(spark, s"perfbench kernel c$parts")(
        Workload.kernel(spark, 0L, n, parts))
      val t1 = Clock.nowMs
      tally.attempted += n
      tally.failed += n - ok
      if (ok != n) tally.failures += s"kernel probe: ${n - ok} of $n rows failed the gate"
      val taskUs = jobs.map { j =>
        org.apache.spark.ListenerDrain.drain(spark.sparkContext)
        j.within(t0 - 1, t1 + 1).map(_.taskMs).sum * 1000.0 / n
      }.getOrElse(0.0)
      (n / ((t1 - t0) / 1000.0), taskUs)
    }
    val (rps1, taskUs) = timed(n1, 1)
    val (rpsN, _) = timed(nN, nproc)
    Map("functions.imageops.rows_per_s_c1" -> rps1,
      "functions.imageops.rows_per_s_cn" -> rpsN,
      "functions.imageops.scaling_eff" -> rpsN / (nproc * rps1),
      "functions.imageops.task_us_per_row" -> taskUs)
  }

  private def perLayer(spark: SparkSession, o: Opts, ops: Seq[Op], rec: Recorder,
      jobs: JobRecorder): Map[String, Double] = {
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = acc(k) += v
    ops.foreach { op =>
      val js = jobs.within(op.start, op.end)
      def dur(j: JobRecorder#Job) = if (j.end.isNaN) op.end - j.start else j.end - j.start
      val byLayer = js.groupBy(j => Layers.of(j.desc)).withDefaultValue(Seq.empty)
      def layerMs(layer: String) = byLayer(layer).map(dur).sum
      val active = Layers.unionMs(js.map(j => (j.start, j.start + dur(j))), op.start, op.end)
      add("epoch.jobs", js.size)
      add("epoch.stages", js.map(_.stages).sum)
      add("epoch.task_ms", js.map(_.taskMs).sum)
      add("epoch.active_ms", active)
      add("epoch.driver_gap_ms", (op.end - op.start) - active)
      add("epoch.unlabeled_jobs", byLayer("unlabeled").size)
      add("epoch.unlabeled_ms", layerMs("unlabeled"))
      add("epoch.unmapped_jobs", byLayer("unmapped").size)
      Seq("discover_ms", "fetch_ms", "resume_ms").foreach(k =>
        add(s"epoch.$k", op.extra.getOrElse(k, 0.0)))
      val opSpans = rec.spans.filter(_.op == op.id)
      val commits = opSpans.filter(_.kind == "commit")
      val reads = opSpans.filter(_.kind == "read")
      add("sources.tableio.commits", commits.size)
      add("sources.tableio.commit_ms", commits.map(s => s.end - s.start).sum)
      add("sources.tableio.write_jobs", byLayer("sources.tableio").size)
      js.foreach { j =>
        Option(j.desc).collect { case Layers.CommitWrite(_, _, t) => t }
          .foreach(t => add(s"sources.tableio.write_ms.$t", dur(j)))
      }
      add("sources.tableio.read_calls", reads.size)
      add("sources.tableio.read_ms", reads.map(s => s.end - s.start).sum)
      Seq("resume_first_commit_ms", "state_mb").foreach(k =>
        add(s"sources.tableio.$k", op.extra.getOrElse(k, 0.0)))
      op.stateDir.foreach { dir =>
        val ledger = commitLedger(dir)
        ledger.foreach { c =>
          c.bytes.foreach { case (t, b) => add(s"sources.tableio.bytes.$t", b.toDouble) }
          add("sources.tableio.files", c.files.toDouble)
        }
        add("operators.seen.admitted_ratio", admittedRatio(spark, dir, ledger))
      }
      add("operators.seen.exact_ms", layerMs("operators.seen.exact"))
      add("operators.seen.bloom_ms", layerMs("operators.seen.bloom"))
      add("operators.frontier.prioritize_ms", layerMs("operators.frontier"))
      add("sources.fetcher.classify_ms", layerMs("sources.fetcher"))
      add("sources.fetcher.classify_task_ms", byLayer("sources.fetcher").map(_.taskMs).sum)
      add("sources.fetcher.rows", op.extra.getOrElse("urls", 0.0))
      add("sources.sitemaps.cascade_ms", layerMs("sources.sitemaps"))
      families.foreach(f => add(s"sparkentry.${f}_s", op.extra.getOrElse(s"family_${f}_s", 0.0)))
      if (o.workload == "operator-surface") add("sparkentry.jobs", js.size)
      add("jvm.gc_ms", op.gcMs)
    }
    acc.map { case (k, v) => k -> v / ops.size }.toMap
  }

  final case class Commit(phase: String, epoch: Int, version: Int,
      bytes: Map[String, Long], files: Long)

  /** `commits.jsonl`, the per-commit ledger `ParquetSnapshotTableIO` writes. */
  def commitLedger(dir: String): Seq[Commit] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    implicit val formats: Formats = DefaultFormats
    val f = Paths.get(dir, "commits.jsonl")
    if (!Files.exists(f)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.toSeq.map { line =>
        val j = parse(line)
        Commit((j \ "phase").extract[String], (j \ "epoch").extract[Int],
          (j \ "version").extract[Int], (j \ "bytes").extract[Map[String, Long]],
          (j \ "files_commit").extract[Long])
      }
    }
  }

  /** Σ admitted at depth d ≥ 1 ÷ Σ candidates of that level (the
    * `level_next` snapshot committed at depth d − 1). */
  private def admittedRatio(spark: SparkSession, dir: String, ledger: Seq[Commit]): Double =
    Workload.labelled(spark, "perfbench trace") {
      import spark.implicits._
      val levels = ledger.filter(c => c.phase == "discover" && c.bytes.contains("level_next"))
      val candidates = levels.map(c => c.epoch + 1 ->
        spark.read.parquet(Paths.get(dir, "data", "level_next", s"v${c.version}").toString).count())
        .toMap
      val io = new graft.sources.ParquetSnapshotTableIO(spark, dir)
      val admitted = io.read("seen").get.where($"depth" >= 1).groupBy("depth").count()
        .as[(Int, Long)].collect().toMap
      val cand = candidates.filter(_._1 >= 1).values.sum
      if (cand == 0) 0.0 else admitted.values.sum.toDouble / cand
    }

  /** Spans of the measured ops plus one span per Spark job, parented to the
    * innermost driver span open at the job's start; self time = duration
    * minus the union of the children's intervals. */
  private def writeSpans(o: Opts, ops: Seq[Op], rec: Recorder, jobs: JobRecorder): String = {
    val driver = rec.spans.toSeq
    val jobSpans = ops.flatMap { op =>
      jobs.within(op.start, op.end).map { j =>
        val end = if (j.end.isNaN) op.end else j.end
        val parent = driver.filter(s => s.op == op.id && s.start <= j.start && j.start <= s.end)
          .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)
        Span(rec.newId(), Option(j.desc).getOrElse("(no description)"), "job", j.start, end,
          parent, op.id, Layers.of(j.desc))
      }
    }
    val all = (driver ++ jobSpans).sortBy(_.id)
    val children = all.groupBy(_.parent)
    val rows = all.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty).map(k => (k.start, k.end))
      Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind, "layer" -> s.layer,
        "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op,
        "self_ms" -> ((s.end - s.start) - Layers.unionMs(kids, s.start, s.end)))
    }
    val f = Paths.get(o.work, "..", s"spans-${o.workload}-seed${o.seed}.json").normalize()
    Files.writeString(f, Json(rows))
    f.toString
  }

  /** Records expected (rows, digest) for every query but q29 from the live
    * query and from a dump written by `graft.Verify` (the one
    * tools/check_oracle.py checks); prints TSV lines and flags any query whose
    * two digests differ. */
  private def record(o: Opts, dump: String): Unit = {
    val spark = session(o)
    val sfDir = Paths.get(o.data, if (o.toy) "sf0.001" else "sf0.01").toString
    graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("q29")).foreach { q =>
      val live = Digest.of(graft.SparkEntry.queries(q)(spark, sfDir))
      val dumped = Digest.of(spark.read.parquet(s"$dump/$q"))
      val verdict = if (live == dumped) "dump-ok" else s"DUMP-DIFFERS $dumped"
      println(s"RECORD\t$q\t${live._1}\t${live._2}\t$verdict")
    }
    spark.stop()
  }

  def median(xs: scala.collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Highest percentile with at least ten samples beyond it: (pct, value). */
  def tailOf(sorted: scala.collection.Seq[Double]): Option[(Double, Double)] =
    if (sorted.size <= 10) None
    else {
      val k = sorted.size - 11
      Some((100.0 * (k + 1) / sorted.size, sorted(k)))
    }

  /** Share of CPU time the hypervisor stole since construction (/proc/stat). */
  final class StealMeter {
    private def read: (Double, Double) = {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toDouble)
      (f.sum, if (f.length > 7) f(7) else 0.0)
    }
    private val (total0, steal0) = read
    def fraction: Double = {
      val (t, st) = read
      if (t > total0) (st - steal0) / (t - total0) else 0.0
    }
  }

  def peakRssMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
