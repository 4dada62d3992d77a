package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchshim.ListenerBusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.services.{Downloader, FileResult, PageFetcher}

/** Spark's own counts per job: the traced run attaches one of these to
  * the session and attributes each job to the layer span that was open
  * when it started (the span name rides in a local property, which the
  * library's driver-side thread pools inherit).
  */
final class JobRecorder extends SparkListener {
  import JobRecorder._

  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stages = new ConcurrentHashMap[Int, StageAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.LayerKey))).getOrElse("")
    jobs.put(e.jobId, Job(layer, e.time, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val agg =
      if (m == null) StageAgg(i.numTasks, 0, 0, 0, 0)
      else StageAgg(i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.merge(i.stageId, agg, (a, b) => a + b)
  }

  def clear(): Unit = { jobs.clear(); stages.clear() }

  def jobsOf(layer: String): Seq[Job] =
    jobs.values.asScala.filter(_.layer == layer).toSeq

  def stageTotals(js: Seq[Job]): StageAgg =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
      .foldLeft(StageAgg(0, 0, 0, 0, 0))(_ + _)
}

object JobRecorder {
  final case class Job(layer: String, startMs: Long, endMs: Long, stages: Seq[Int])
  final case class StageAgg(tasks: Long, runMs: Long, cpuNs: Long,
                            shuffleBytes: Long, spillBytes: Long) {
    def +(o: StageAgg) = StageAgg(tasks + o.tasks, runMs + o.runMs,
      cpuNs + o.cpuNs, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  }
}

/** Timed service calls made inside a layer, recorded by the wrappers
  * below. Executors run in the driver JVM (`local[N]`), so one global
  * log sees every call.
  */
final class CallLog {
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]
  val bytes = new LongAdder
  val failed = new LongAdder
  def record(t0: Long, t1: Long): Unit = intervals.add((t0, t1))
  def calls: Int = intervals.size
  def busyNs: Long = intervals.asScala.map { case (a, b) => b - a }.sum
  def reset(): Unit = { intervals.clear(); bytes.reset(); failed.reset() }
}

object Calls {
  val fetch = new CallLog
  val download = new CallLog
}

/** Pass-through fetcher that logs each call's interval. */
final class TracedFetcher(inner: PageFetcher) extends PageFetcher {
  override def fetch(url: String): Option[String] = {
    val t0 = System.nanoTime()
    val r = inner.fetch(url)
    Calls.fetch.record(t0, System.nanoTime())
    r
  }
}

/** Pass-through downloader that logs each call, its bytes and failures. */
final class TracedDownloader(inner: Downloader) extends Downloader {
  override def download(url: String, destDir: String, filename: String): FileResult = {
    val t0 = System.nanoTime()
    val r = inner.download(url, destDir, filename)
    Calls.download.record(t0, System.nanoTime())
    if (r.ok) Calls.download.bytes.add(r.size) else Calls.download.failed.increment()
    r
  }
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * until the run ends. One tracer per traced pass.
  */
final class Tracer(spark: SparkSession, recorder: JobRecorder) {
  import Tracer.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Child spans by parent layer (nanoTime intervals). */
  val children = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  /** Layer-specific facts (`<layer>.<name>` → value). */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  recorder.clear()
  Calls.fetch.reset()
  Calls.download.reset()

  def span[A](layer: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.LayerKey, layer)
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try body
    finally {
      val ns1 = System.nanoTime()
      spans += Span(layer, ms0, System.currentTimeMillis(), ns0, ns1)
      sc.setLocalProperty(Tracer.LayerKey, null)
    }
  }

  /** A timed child interval of `layer` (e.g. one serve batch). */
  def child[A](layer: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally children.getOrElseUpdate(layer, mutable.ArrayBuffer.empty) +=
      ((t0, System.nanoTime()))
  }

  /** Jobs attributed to `layer` so far. */
  def jobCount(layer: String): Int = {
    ListenerBusShim.drain(spark.sparkContext)
    recorder.jobsOf(layer).size
  }

  /** The generic per-layer metrics of every layer in `layers`; layers
    * with no span in this pass read 0 (the layer sat idle).
    */
  def layerMetrics(layers: Seq[String]): Map[String, Double] = {
    ListenerBusShim.drain(spark.sparkContext)
    children.getOrElseUpdate("crawl", mutable.ArrayBuffer.empty) ++=
      Calls.fetch.intervals.asScala
    children.getOrElseUpdate("download", mutable.ArrayBuffer.empty) ++=
      Calls.download.intervals.asScala
    layers.flatMap { l =>
      val ss = spans.filter(_.layer == l).toSeq
      val js = recorder.jobsOf(l)
      val agg = recorder.stageTotals(js)
      val wallNs = ss.map(s => s.endNs - s.startNs).sum
      val childNs = ss.map(s => Stats.unionLength(
        children.get(l).map(_.toSeq).getOrElse(Nil), s.startNs, s.endNs)).sum
      val jobMs = ss.map(s => Stats.unionLength(
        js.map(j => (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)),
        s.startMs, s.endMs)).sum
      val wall = wallNs / 1e9
      Seq(
        s"$l.wall_s" -> wall,
        s"$l.self_s" -> (wallNs - childNs) / 1e9,
        s"$l.jobs" -> js.size.toDouble,
        s"$l.tasks" -> agg.tasks.toDouble,
        s"$l.task_s" -> agg.runMs / 1e3,
        s"$l.cpu_s" -> agg.cpuNs / 1e9,
        s"$l.shuffle_bytes" -> agg.shuffleBytes.toDouble,
        s"$l.spill_bytes" -> agg.spillBytes.toDouble,
        s"$l.driver_gap_s" -> (if (ss.isEmpty) 0.0 else math.max(0.0, wall - jobMs / 1e3)))
    }.toMap
  }
}

object Tracer {
  val LayerKey = "perfbench.layer"
  final case class Span(layer: String, startMs: Long, endMs: Long,
                        startNs: Long, endNs: Long)
}
