package graft.eltbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.PaginatedRest.{PageFetcher, ThrottledException}

/** One traced interval: a public call into a layer, or the operation
  * that composes them. `parent` is -1 for an operation's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    start: Long, var end: Long = 0L, var cachedBytes: Long = 0L)

/** Spark work attributed to one job group (one span). */
final class GroupStats {
  val jobs, tasks, gcMs, spillBytes, shuffleBytes = new AtomicLong
}

/** Counts Spark work per span: the tracer sets a job group per span, and
  * every job and task is charged to the group it ran under. Separately,
  * [[scannedRows]] totals the rows file scans under `scanRoot` read, from
  * the executed plans' `FileSourceScanExec` metrics as each query
  * succeeds; a node seen twice (a cached plan reused by later queries)
  * adds only its growth. */
final class SparkCounters(spark: SparkSession, scanRoot: String) extends SparkListener
    with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupStats]()
  private val seenScans = new java.util.IdentityHashMap[SparkPlan, java.lang.Long]()
  private val scanRows = new AtomicLong

  /** Rows scanned so far, once every queued event has been delivered. */
  def scannedRows(): Long = {
    org.apache.spark.eltbench.Bus.drain(spark.sparkContext)
    scanRows.get
  }

  def stats(group: String): GroupStats =
    groups.computeIfAbsent(group, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    stats(group).jobs.incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(Option(stageGroup.get(e.stageId)).getOrElse("none"))
    s.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      s.gcMs.addAndGet(m.jvmGCTime)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      s.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case m: InMemoryTableScanExec => fileScans(m.relation.cachedPlan)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    fileScans(qe.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains(scanRoot)))
      .foreach { scan =>
        val now = scan.metrics.get("numOutputRows").fold(0L)(_.value)
        seenScans.synchronized {
          val before = Option(seenScans.put(scan, now)).fold(0L)(_.longValue)
          scanRows.addAndGet(now - before)
        }
      }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Per-fetch time and counts, kept JVM-wide: the decorated fetcher is
  * serialized into every task, and in local mode the tasks share this
  * JVM. */
object FetchStats {
  val ok, nonEmpty, throttled, records, busyNanos = new AtomicLong
  def reset(): Unit = Seq(ok, nonEmpty, throttled, records, busyNanos).foreach(_.set(0))
}

/** Decorates the product's page fetcher with [[FetchStats]] counting. */
final case class CountingFetcher(inner: PageFetcher) extends PageFetcher {
  def fetch(startPosition: Long, maxResults: Int): Seq[String] = {
    val t0 = System.nanoTime()
    try {
      val recs = inner.fetch(startPosition, maxResults)
      FetchStats.ok.incrementAndGet()
      if (recs.nonEmpty) FetchStats.nonEmpty.incrementAndGet()
      FetchStats.records.addAndGet(recs.size)
      recs
    } catch {
      case e: ThrottledException => FetchStats.throttled.incrementAndGet(); throw e
    } finally FetchStats.busyNanos.addAndGet(System.nanoTime() - t0)
  }
}

/** Spans kept in memory. With tracing off, [[span]] runs its body and
  * records nothing, so the untraced path pays no bookkeeping. */
final class Tracer(spark: SparkSession, val on: Boolean, val counters: SparkCounters) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var opId = 0

  def nextOp(): Int = { opId += 1; opId }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), opId,
        System.nanoTime())
      spans += s
      stack ::= s
      val sc = spark.sparkContext
      sc.setJobGroup(group(s), name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        s.cachedBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def group(s: Span): String = s"span-${s.id}"

  /** Span duration minus the part its direct children cover (children
    * run one after another on the calling thread, so they never overlap). */
  def selfNanos(s: Span): Long =
    (s.end - s.start) - spans.filter(_.parent == s.id).map(c => c.end - c.start).sum

  /** The spans as JSON lines (name, start, end, parent, operation id). */
  def dump(out: java.io.Writer): Unit = spans.foreach { s =>
    out.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""op":${s.op},"start_ns":${s.start},"end_ns":${s.end}}""" + "\n")
  }
}
