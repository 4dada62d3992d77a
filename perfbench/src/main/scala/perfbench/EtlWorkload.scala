package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Crawl, Extract, Orchestrator}
import graft.services.{LocalFileDownloader, SystemClock}

/** The pipeline's output for one company, as the check reads it. */
final case class FileOut(url: String, checksum: String, success: Boolean)
final case class CompanyOut(company: String, urlsVisited: Long, urlsFound: Long,
                            nDownloaded: Long, nFailed: Long, files: Seq[FileOut])

/** Ground-truth check of the ETL output against the generator. */
object EtlCheck {

  /** Every mismatch, as readable lines (empty means the pass is correct). */
  def check(expected: Seq[IrSites.Expected], got: Seq[CompanyOut]): Seq[String] = {
    val byName = got.groupBy(_.company)
    val missing = expected.map(_.company).filterNot(byName.contains)
    val extra = byName.keySet -- expected.map(_.company)
    val dupes = byName.collect { case (c, xs) if xs.size > 1 => s"$c: ${xs.size} rows" }
    val perCompany = expected.filter(e => byName.get(e.company).exists(_.size == 1))
      .flatMap { e =>
        val g = byName(e.company).head
        val live = e.reports.count(_._2.isDefined).toLong
        def field(n: String, want: Long, have: Long) =
          if (want == have) None else Some(s"${e.company}: $n $have, expected $want")
        val files = g.files.groupBy(_.url)
        val fileErrs = e.reports.toSeq.sortBy(_._1).flatMap { case (u, sum) =>
          files.get(u) match {
            case None => Some(s"${e.company}: report $u missing")
            case Some(Seq(f)) => sum match {
              case Some(s) if !f.success => Some(s"${e.company}: $u failed, expected a download")
              case Some(s) if f.checksum != s => Some(s"${e.company}: $u checksum ${f.checksum}, expected $s")
              case None if f.success => Some(s"${e.company}: $u downloaded, expected a dead link")
              case _ => None
            }
            case Some(fs) => Some(s"${e.company}: $u listed ${fs.size} times")
          }
        } ++ (files.keySet -- e.reports.keySet).toSeq.sorted
          .map(u => s"${e.company}: unexpected report $u")
        Seq(field("urls_visited", e.urlsVisited, g.urlsVisited),
          field("urls_found", e.urlsFound, g.urlsFound),
          field("n_downloaded", live, g.nDownloaded),
          field("n_failed", e.reports.size - live, g.nFailed)).flatten ++ fileErrs
      }
    missing.map(c => s"$c: no output row") ++ extra.toSeq.sorted.map(c => s"$c: unexpected row") ++
      dupes ++ perCompany
  }

  /** Share of expected reports reproduced exactly: downloaded with the
    * right checksum, or reported failed when planted dead.
    */
  def recall(expected: Seq[IrSites.Expected], got: Seq[CompanyOut]): Double = {
    val files = got.flatMap(c => c.files.map(f => (c.company, f.url) -> f)).toMap
    val want = expected.flatMap(e => e.reports.map { case (u, s) => (e.company, u) -> s })
    val hit = want.count { case (k, s) => files.get(k).exists(f =>
      s.fold(!f.success)(sum => f.success && f.checksum == sum)) }
    if (want.isEmpty) 1.0 else hit.toDouble / want.size
  }
}

/** `Orchestrator.run` over a seeded set of IR sites. */
final class EtlWorkload(spark: SparkSession, profile: IrSites.Profile, seed: Long,
                        workDir: String) extends Workload {
  import spark.implicits._

  private val pool = s"$workDir/pool"
  private val out = s"$workDir/out"
  private val fetcher = SiteFetcher(seed, profile, pool)
  private var expected: Seq[IrSites.Expected] = Nil
  private lazy val companies: DataFrame =
    (0 until profile.companies).map { i =>
      val n = IrSites.companyName(i)
      (n, n.drop(1).toUpperCase, IrSites.seedUrl(n))
    }.toDF("company", "ticker", "ir_url")


  def generate(): Unit = {
    Util.deleteTree(Paths.get(workDir))
    expected = IrSites.writePool(seed, profile, pool)
  }

  private def read(meta: DataFrame): Array[Row] =
    meta.select(col("company"), col("urls_visited"), col("urls_found"),
      col("n_downloaded"), col("n_failed"),
      col("downloaded_files.url").as("urls"),
      col("downloaded_files.checksum").as("sums"),
      col("downloaded_files.success").as("oks"),
      col("pipeline_start_time"), col("download_end_time"),
      col("scraping_secs"), col("extraction_secs"), col("download_start_time"))
      .collect()

  private def outcome(rows: Array[Row], wallS: Double,
                      facts: Map[String, Double]): PassOut = {
    val got = rows.toSeq.map { r =>
      val urls = r.getSeq[String](5)
      val sums = r.getSeq[String](6)
      val oks = r.getSeq[Boolean](7)
      CompanyOut(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        urls.indices.map(k => FileOut(urls(k), sums(k), oks(k))))
    }
    def ms(iso: String) = java.time.Instant.parse(iso).toEpochMilli.toDouble
    val windows = rows.toSeq.filter(r => !r.isNullAt(9))
    val ready = windows.map(r => ms(r.getString(9)) - ms(r.getString(8)))
    // the program's own stage stamps, for the traced run's cross-check
    val stamps =
      if (windows.isEmpty) Map.empty[String, Double]
      else Map(
        "crawl.stamp_s" -> rows.head.getDouble(10),
        "extract.stamp_s" -> rows.head.getDouble(11),
        "download.stamp_s" -> (windows.map(r => ms(r.getString(9))).max -
          windows.map(r => ms(r.getString(12))).min) / 1e3)
    val digest = Util.digest(got.sortBy(_.company).map(c =>
      (c.company, c.urlsVisited, c.urlsFound, c.files.sortBy(_.url)).toString))
    PassOut(wallS, EtlCheck.check(expected, got), ready,
      EtlCheck.recall(expected, got), digest, stamps ++ facts)
  }

  def pass(tracer: Option[Tracer]): PassOut = tracer match {
    case None =>
      val t0 = System.nanoTime()
      val rows = read(Orchestrator.run(spark, companies, fetcher,
        new LocalFileDownloader, out, IrSites.MaxYear))
      outcome(rows, (System.nanoTime() - t0) / 1e9, Map.empty)
    case Some(t) => tracedPass(t)
  }

  /** `Orchestrator.run`'s stage calls in its order, with its cache+count
    * materialisation points, each inside a layer span.
    */
  private def tracedPass(t: Tracer): PassOut = {
    val clock = SystemClock
    val t0 = System.nanoTime()
    val pipelineStart = clock.nowIso()
    val seeds = companies.select(col("company"), col("ir_url").as("url"))
    val scrapingStart = clock.nowIso()
    val (links, stats) = t.span("crawl") {
      val l = Crawl.crawl(spark, seeds, new TracedFetcher(fetcher)).cache()
      t.facts("crawl.links_out") = l.count().toDouble
      (l, Crawl.crawlStats(l))
    }
    val scrapingEnd = clock.nowIso()
    val extractionStart = clock.nowIso()
    val reports = t.span("extract") {
      val r = Extract.latestQuarterReports(
        links.withColumnRenamed("href", "url"), IrSites.MaxYear).cache()
      t.facts("extract.reports_out") = r.count().toDouble
      r
    }
    val extractionEnd = clock.nowIso()
    val downloads = t.span("download") {
      val d = Orchestrator.download(spark, reports,
        new TracedDownloader(new LocalFileDownloader), out, clock).cache()
      d.count()
      d
    }
    val pipelineEnd = clock.nowIso()
    val rows = t.span("metadata") {
      read(Orchestrator.metadata(companies, stats, downloads, modelUsed = "rule-based",
        times = Some(Orchestrator.StageTimes(pipelineStart, scrapingStart, scrapingEnd,
          extractionStart, extractionEnd, pipelineEnd))))
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    // counted outside every span, so no layer pays for it
    t.facts("extract.docs_in") =
      links.filter(col("link_type") === "document").count().toDouble
    val dl = Calls.download
    t.facts ++= Seq(
      "crawl.fetch_calls" -> Calls.fetch.calls.toDouble,
      "crawl.fetch_s" -> Calls.fetch.busyNs / 1e9,
      "download.calls" -> dl.calls.toDouble,
      "download.call_s" -> dl.busyNs / 1e9,
      "download.bytes" -> dl.bytes.sum.toDouble,
      "download.failed" -> dl.failed.sum.toDouble,
      "download.ok_share" ->
        (if (dl.calls == 0) 0.0 else (dl.calls - dl.failed.sum).toDouble / dl.calls))
    outcome(rows, wallS, Map.empty)
  }

  def release(): Unit = spark.catalog.clearCache()

  def serve(deadlineNs: Long, tracer: Option[Tracer]): Option[ServeOut] = None

  def answerAll(): Option[(ServeOut, Double)] = None
}
