package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.sources.TableIO

/** One wall clock for driver spans and Spark job events (epoch ms, sub-ms
  * resolution from nanoTime). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A traced interval. `parent` is -1 for a root; `op` groups the spans of
  * one measured operation (a crawl, a kernel pass, a query). */
final case class Span(id: Int, name: String, kind: String, start: Double, end: Double,
    parent: Int, op: Int, layer: String = "")

/** Span recorder for the driver thread plus the per-operation commit clock.
  * Untraced, [[span]] only runs its body; the commit clock is the one read
  * that untraced runs make (per commit return, for the epoch cadence). */
final class Recorder(val traced: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  /** (return time, phase) of each commit of the current operation. */
  val commits = ArrayBuffer.empty[(Double, String)]

  def span[T](name: String, kind: String)(f: => T): T =
    if (!traced) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val start = Clock.nowMs
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans += Span(id, name, kind, start, Clock.nowMs, parent, op)
      }
    }

  def commitReturned(phase: String): Unit = commits += ((Clock.nowMs, phase))

  def newId(): Int = { val id = nextId; nextId += 1; id }
}

/** Delegating [[TableIO]]: times `commit`/`read` from outside the engine. */
final class TimedTableIO(inner: TableIO, rec: Recorder) extends TableIO {
  override def commit(phase: String, epoch: Int, tables: Map[String, DataFrame],
      appends: Map[String, DataFrame], counters: => Map[String, Long]): Unit = {
    rec.span(s"commit $phase/$epoch", "commit")(
      inner.commit(phase, epoch, tables, appends, counters))
    rec.commitReturned(phase)
  }
  override def read(table: String): Option[DataFrame] =
    rec.span(s"read $table", "read")(inner.read(table))
  override def lastCommitted: Option[(String, Int)] = inner.lastCommitted
  override def lastCounters: Map[String, Long] = inner.lastCounters
}

/** Records every Spark job: description, wall interval, stage count and
  * executor run time of its tasks. */
final class JobRecorder extends SparkListener {
  final class Job(val id: Int, val desc: String, val start: Double, val stages: Int) {
    @volatile var end: Double = Double.NaN
    @volatile var taskMs: Long = 0L
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    val j = new Job(e.jobId, desc, e.time.toDouble, e.stageIds.size)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      j.synchronized { j.taskMs += m.executorRunTime }

  /** Jobs that started inside [from, to]. */
  def within(from: Double, to: Double): Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.filter(j => j.start >= from && j.start <= to).sortBy(_.id)
  }
}

/** Job description → layer. The engine labels its actions
  * (`CrawlEngine.described`) and `ParquetSnapshotTableIO` labels each commit
  * write; a job with neither label is its own `unlabeled` layer. */
object Layers {
  private val Admit = "discover/\\d+ admit".r
  private val Classify = "fetch/\\d+ dequeue.*".r
  val CommitWrite = "commit (\\w+)/(\\d+) (\\w+)".r

  def of(desc: String): String = desc match {
    case null | "graft crawl engine" => "unlabeled"
    case CommitWrite(_, _, _) => "sources.tableio"
    case Admit() => "operators.seen.exact"
    case d if d.startsWith("seen count") || d.startsWith("level count") => "operators.seen.exact"
    case d if d.startsWith("bloom ") || d.startsWith("admission: candidate bloom") =>
      "operators.seen.bloom"
    case d if d.endsWith(" prioritize") => "operators.frontier"
    case Classify() => "sources.fetcher"
    case d if d.startsWith("cascade ") => "sources.sitemaps"
    case d if d.startsWith("perfbench ") => "perfbench"
    case _ => "unmapped"
  }

  /** Length of the union of [start, end] intervals, clipped to [from, to]. */
  def unionMs(iv: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curE.isNaN) total += curE - curS
    total
  }
}
