package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import graft.Graft

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally s.close()
  }

  def digest(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update((p + "\n").getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Heap in use after a full collection, in MiB. The second collection
    * follows Spark's context cleaner, which frees unreferenced cached and
    * checkpointed blocks only after the first one found them unreachable.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Waits (at most `maxMs`) until the JIT compiler has been idle for half
    * a second, so a timed pass does not share the cores with compilation
    * its predecessor queued.
    */
  def settle(maxMs: Long = 4000): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val end = System.currentTimeMillis() + maxMs
    var quiet = 0
    var last = jit.getTotalCompilationTime
    while (quiet < 2 && System.currentTimeMillis() < end) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last < 5) quiet + 1 else 0
      last = now
    }
  }
}

/** The benchmark's JVM side. `perfbench/run.py` builds it and calls
  *
  * {{{
  *   perfbench.Main --workload etl-links|corpus --seed N --seconds S
  *     --trace 0|1 [--per-layer name:unit,...] --work DIR --out FILE
  * }}}
  *
  * and prints FILE: summary lines, then the result JSON as the last line.
  * `--per-layer` lists the per-layer metrics `BENCHMARK.json` declares;
  * a traced run reports exactly those.
  */
object Main {
  /** Fixture generation is repeated this often in set-up; its median
    * counts. Rounds 2 and 3 cost 0.6–3.4 s a run, against 20–40 s for
    * the warm-up pass.
    */
  val GenRounds = 3
  /** Untimed passes before the window. Pass 1 costs 2–3.5× a warm pass
    * (code generation and class loading); pass 2 is within 1.03–1.5× of
    * pass 3. One pass plus a wait for the JIT to go idle is what the
    * run budget affords (perfbench/README.md, "Budget").
    */
  val WarmupPasses = 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val perLayer = opts.get("per-layer").toSeq.flatMap(_.split(",")).map { spec =>
      val Array(metric, unit) = spec.split(":", 2)
      metric -> unit
    }
    val lines = run(name, seed, seconds, traced, perLayer, work)
    val pw = new PrintWriter(new File(opts("out")), "UTF-8")
    try lines.foreach(pw.println) finally pw.close()
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean,
          perLayer: Seq[(String, String)], work: String): Seq[String] = {
    val t0 = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = Graft.session(s"local[$cores]")
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      val dir = s"$work/$name"
      val w: Workload = name match {
        case "etl-links" => new EtlWorkload(spark, IrSites.LinksProfile, seed, dir)
        case "corpus" => new CorpusWorkload(spark, seed, dir)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      new Runner(spark, w, name, seconds, traced, perLayer, sessionS).run()
    } finally spark.stop()
  }
}

/** Set-up, warm-up, the measured window and the report of one run. */
final class Runner(spark: org.apache.spark.sql.SparkSession, w: Workload, name: String,
                   seconds: Double, traced: Boolean, perLayer: Seq[(String, String)],
                   sessionS: Double) {
  private var attempted = 0
  private var failed = 0
  private var firstDigest: Option[String] = None
  private val notes = mutable.ArrayBuffer.empty[String]
  private val recorder = new JobRecorder
  spark.sparkContext.addSparkListener(recorder)

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** One pass with its check, heap reading and release. */
  private def runPass(tracer: Option[Tracer]): (PassOut, Double) = {
    attempted += 1
    val out =
      try w.pass(tracer)
      catch { case e: Exception =>
        PassOut(0, Seq(s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}"), Nil, 0, "")
      }
    val digestErr = firstDigest match {
      case None => firstDigest = Some(out.digest); Nil
      case Some(d) if d != out.digest => Seq(s"outputs differ from the first pass's ($d vs ${out.digest})")
      case _ => Nil
    }
    val errors = out.errors ++ digestErr
    if (errors.nonEmpty) {
      failed += 1
      errors.take(10).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
    }
    val heap = Util.liveHeapMb()
    w.release()
    System.gc() // lets the context cleaner drop this pass's blocks before the next
    Util.settle()
    (out.copy(errors = errors), heap)
  }

  def run(): Seq[String] = {
    val setup0 = System.nanoTime()
    val genS = (1 to Main.GenRounds).map { _ => val g = System.nanoTime(); w.generate(); secs(g) }
    val warm0 = System.nanoTime()
    val warm = (1 to Main.WarmupPasses).map(_ => runPass(None)._1.wallS)
    // every question in one call: the recall of the run, the answers the
    // window's batches must repeat, and a warm serving path for the window
    val answered = w.answerAll()
    answered.foreach { case (call, _) => countServe(call) }
    Util.settle()
    val warmS = secs(warm0)
    val setupS = sessionS + Stats.median(genS) + warmS
    notes += f"setup: session $sessionS%.2f s, fixtures ${genS.map(g => f"$g%.2f").mkString("/")} s, " +
      f"warm-up passes ${warm.map(x => f"$x%.2f").mkString("/")} s" +
      answered.fold("") { case (call, _) =>
        f", all questions in one call ${call.batchMs.head / 1e3}%.2f s" } +
      f", $warmS%.2f s in all (set-up wall ${secs(setup0) + sessionS}%.1f s)"
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val metrics =
      if (traced) tracedWindow(deadline) else window(deadline, setupS, answered.map(_._2))
    notes += s"passes attempted $attempted, failed $failed, error_share ${
      if (attempted == 0) 0.0 else failed.toDouble / attempted}"
    val result = Result(correct = failed == 0, attempted, failed, metrics)
    notes.map(n => s"[$name] $n").toSeq :+ result.json
  }

  private def countServe(s: ServeOut): Unit = {
    attempted += s.batches
    failed += s.failedBatches
    s.errors.take(10).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
  }

  private val servesQuestions = w.isInstanceOf[CorpusWorkload]

  /** The untraced window: the end-to-end metrics. `answeredRecall` is the
    * recall@5 of the set-up's call over every question (corpus only).
    */
  private def window(deadline: Long, setupS: Double,
                     answeredRecall: Option[Double]): Seq[(String, Metric)] = {
    val passDeadline =
      if (servesQuestions) System.nanoTime() + (deadline - System.nanoTime()) / 2 else deadline
    val passes = mutable.ArrayBuffer.empty[(PassOut, Double)]
    while (passes.isEmpty || System.nanoTime() < passDeadline) passes += runPass(None)
    val serve = w.serve(deadline, None)
    serve.foreach(countServe)
    val latency = serve.map(_.batchMs).getOrElse(passes.flatMap(_._1.latencyMs).toSeq)
    val (tailP, tailV, n) = Stats.tail(latency)
    notes += f"pass_s over ${passes.size} passes: ${passes.map(p => f"${p._1.wallS}%.3f").mkString(" ")}"
    notes += f"serve: p50 and p$tailP%.1f over $n samples (" +
      (if (servesQuestions) "hybridSearch batches" else "companies, pass start to last report") + ")"
    val recall = answeredRecall.getOrElse(Stats.median(passes.map(_._1.recall).toSeq))
    Seq(
      "setup_s" -> Metric(setupS, "s"),
      "pass_s" -> Metric(Stats.median(passes.map(_._1.wallS).toSeq), "s"),
      "ok_share" -> Metric(if (attempted == 0) 0 else (attempted - failed).toDouble / attempted, "share"),
      "live_heap_mb" -> Metric(Stats.median(passes.map(_._2).toSeq), "MiB"),
      "serve_p50_ms" -> Metric(Stats.median(latency), "ms"),
      "serve_tail_ms" -> Metric(tailV, "ms"),
      "recall" -> Metric(recall, "share"))
  }

  /** The traced window: untraced and traced passes alternate, starting
    * and ending untraced, so the traced passes sit between untraced ones
    * of the same warmth; the per-layer metrics are medians over the
    * traced passes.
    */
  private def tracedWindow(deadline: Long): Seq[(String, Metric)] = {
    val plain = mutable.ArrayBuffer.empty[PassOut]
    val layered = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tracedWall = mutable.ArrayBuffer.empty[Double]
    plain += runPass(None)._1
    while (layered.isEmpty || System.nanoTime() < deadline) {
      val t = new Tracer(spark, recorder)
      val (out, _) = runPass(Some(t))
      tracedWall += out.wallS
      val serve = w.serve(0L, Some(t))
      serve.foreach { s =>
        countServe(s)
        t.facts("retrieval.hybrid_batch_ms") = Stats.median(s.batchMs)
      }
      val m = t.layerMetrics(Workload.Layers) ++ t.facts ++ out.facts
      val perBatch = serve.map { s =>
        "retrieval.jobs_per_batch" ->
          (m("retrieval.jobs") - m.getOrElse("retrieval.build_jobs", 0.0)) / s.batches
      }
      layered += m ++ perBatch
      plain += runPass(None)._1
    }
    val plainS = Stats.median(plain.map(_.wallS).toSeq)
    val tracedS = Stats.median(tracedWall.toSeq)
    notes += f"tracing overhead: traced pass $tracedS%.3f s - untraced $plainS%.3f s = ${tracedS - plainS}%.3f s"
    val values = perLayer.map { case (k, _) =>
      k -> (k match {
        case "trace.pass_s" => plainS
        case "trace.traced_pass_s" => tracedS
        case "trace.overhead_s" => tracedS - plainS
        case _ if k.endsWith(".stamp_s") =>
          val xs = plain.flatMap(_.facts.get(k)).toSeq
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        case _ if !Workload.Layers.contains(k.takeWhile(_ != '.')) =>
          throw new IllegalArgumentException(s"per-layer metric $k names no layer")
        // facts of the layers the workload leaves idle read 0
        case _ => Stats.median(layered.map(_.getOrElse(k, 0.0)).toSeq)
      })
    }
    crossCheck(values.toMap)
    perLayer.zip(values).map { case ((k, unit), (_, v)) => k -> Metric(v, unit) }
  }

  /** Traced stage spans against the stage stamps the untraced passes
    * wrote: a large disagreement means the traced run did not mirror the
    * program's stages, and is reported (not failed).
    */
  private def crossCheck(v: Map[String, Double]): Unit =
    Seq("crawl", "extract", "download").foreach { l =>
      val (span, stamp) = (v(s"$l.wall_s"), v(s"$l.stamp_s"))
      if (stamp > 0)
        notes += f"stage check $l: traced span $span%.3f s, untraced stamp $stamp%.3f s" +
          (if (math.abs(span - stamp) > 0.5 + 0.5 * stamp) " (DISAGREE)" else "")
    }
}
