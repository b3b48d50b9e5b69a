package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, with the counters the tracer attributes
  * to it. Counter fields are written by the listener-bus thread and read
  * by the client only after [[Tracer.drain]]. */
final class SpanRec(val name: String, val group: String, val startMs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  var wallS = 0.0
  var filesWritten = 0L
  var results = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  var tasks = 0L
  var shuffleBytes = 0L
  var planMs = 0L
  var rowsRead = 0L

  /** Seconds covered by at least one of the span's jobs. */
  def busySeconds: Double = {
    var total = 0L; var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total / 1e3
  }
}

/** The benchmark's own runtime profile: a SparkListener for jobs, tasks
  * and shuffle bytes, and a QueryExecutionListener for planning time
  * and scan row counts. Every span is tagged with a unique job group
  * (`<span>#<n>`, description `<span>`), so jobs submitted from the
  * client thread or from threads it spawns are keyed by span name.
  * Jobs from threads that set their own group (a streaming query's
  * micro-batch thread) fall back to the span open when the job started;
  * the client is single-threaded, so at most one span is open. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val recs = ArrayBuffer[SpanRec]()
  private val byGroup = new ConcurrentHashMap[String, SpanRec]()
  private val byJob = new ConcurrentHashMap[Int, SpanRec]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = PerfBenchBridge.drainListenerBus(sc)

  def open(name: String): SpanRec = recs.synchronized {
    val r = new SpanRec(name, s"$name#${recs.length}", System.currentTimeMillis())
    recs += r
    byGroup.put(r.group, r)
    r
  }

  private def openAt(ms: Long): Option[SpanRec] = recs.synchronized {
    recs.reverseIterator.find(r => r.startMs <= ms && ms <= r.endMs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(g => Option(byGroup.get(g))).orElse(openAt(e.time))
      .foreach { r =>
        byJob.put(e.jobId, r)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach { r =>
      r.synchronized {
        r.jobIntervals += ((jobStart.get(e.jobId).longValue, e.time))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(byJob.get(j)))
      .foreach { r =>
        r.synchronized {
          r.tasks += 1
          if (e.taskMetrics != null)
            r.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    if (phases.isEmpty) return
    val at = phases.get("planning").map(_.endTimeMs)
      .getOrElse(phases.values.map(_.endTimeMs).max)
    openAt(at).foreach { r =>
      val scanned = collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec =>
          s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      r.synchronized {
        r.planMs += phases.values.map(_.durationMs).sum
        r.rowsRead += scanned
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
