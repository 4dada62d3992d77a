package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import graft.services.PageFetcher

/** Seeded synthetic investor-relations sites for the ETL workload.
  *
  * Every page is a pure function of (seed, profile, URL), so the fetcher
  * ships no page map to the executors, and the ground truth is derived
  * here from the same plan the pages render from:
  *
  *  - the seed page links promising internal sections (keyword-scored,
  *    some relative, some dead), score-0 navigation, external and
  *    excluded hosts, `mailto:` and `#fragment` links, and dated
  *    document links across 2022–2025;
  *  - section pages repeat that mix with more (older) documents;
  *  - each company has one latest quarter; its documents live in an
  *    on-disk pool, minus the planted dead ones.
  *
  * Names and paths carry no digits that could read as a year or quarter
  * (company names are consonant strings, the pool path is relative), so
  * the only dates the program can parse are the planted ones.
  */
object IrSites {

  final case class Profile(
      name: String, companies: Int,
      promising: (Int, Int), plainNav: Int, sectionNav: Int,
      external: Int, excluded: Int,
      oldDocsSeed: Int, oldDocsSection: Int,
      latestDocs: (Int, Int), latestOnSeed: Double,
      fileBytes: (Int, Int), deadPageShare: Double, deadDocShare: Double)

  /** Crawl-heavy: many sites, two depths, ~40 anchors a page, a few
    * small latest-quarter files per company.
    */
  val LinksProfile = Profile("etl-links", companies = 240,
    promising = (4, 8), plainNav = 10, sectionNav = 3,
    external = 4, excluded = 2, oldDocsSeed = 10, oldDocsSection = 16,
    latestDocs = (2, 4), latestOnSeed = 0.5, fileBytes = (1024, 4096),
    deadPageShare = 0.1, deadDocShare = 0.05)

  val MaxYear = 2025

  final case class Anchor(href: String, text: String, title: String) {
    def html: String =
      if (title.isEmpty) s"""<a href="$href">$text</a>"""
      else s"""<a href="$href" title="$title">$text</a>"""
  }

  final case class Doc(anchor: Anchor, year: Int, quarter: Int, ext: String,
                       latest: Boolean, dead: Boolean, bytes: Int)

  /** One company's site. `sections` maps absolute section URLs to their
    * anchors, or None for a dead page.
    */
  final case class Plan(name: String, host: String, seedUrl: String,
                        latest: (Int, Int), seedAnchors: Seq[Anchor],
                        sections: Map[String, Option[Seq[Anchor]]],
                        docs: Map[String, Doc])

  /** What the pipeline must report for one company. `reports` maps each
    * latest-quarter URL to its file's MD5, or None when planted dead.
    */
  final case class Expected(company: String, urlsVisited: Long,
                            urlsFound: Long, reports: Map[String, Option[String]])

  // ---- names ---------------------------------------------------------
  private val letters = "bcdfghjkmnpqrstvwxz"

  def companyName(i: Int): String = {
    val sb = new StringBuilder
    var v = i
    for (_ <- 0 until 4) { sb.insert(0, letters(v % letters.length)); v /= letters.length }
    "x" + sb.toString
  }

  def companyIndex(name: String): Int =
    name.drop(1).foldLeft(0)((acc, c) => acc * letters.length + letters.indexOf(c))

  def host(name: String) = s"ir.$name.example.com"
  def seedUrl(name: String) = s"https://${host(name)}/index.html"

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---- vocabularies ----------------------------------------------------
  private val promisingLabels = Seq(
    "Quarterly Results" -> "quarterly-results",
    "Earnings Materials" -> "earnings",
    "Financial Information" -> "financial-information",
    "SEC Filings" -> "sec-filings",
    "Annual Report" -> "annual-report",
    "Investor Presentations" -> "investor-presentations",
    "Quarterly Earnings" -> "quarterly-earnings",
    "Results Archive" -> "results-archive",
    "Investor Overview" -> "investor-overview",
    "Events and Presentations" -> "events-presentations")

  private val plainLabels = Seq(
    "About Us" -> "about", "Leadership" -> "leadership",
    "Careers" -> "careers", "Contact" -> "contact",
    "Sustainability" -> "sustainability", "Newsroom" -> "newsroom",
    "Governance" -> "governance", "Stock Information" -> "stock",
    "Dividends" -> "dividends", "Shareholder Services" -> "shareholder-services",
    "Email Alerts" -> "alerts", "Analyst Coverage" -> "analysts",
    "Corporate Overview" -> "corporate", "Board of Directors" -> "board",
    "Privacy Policy" -> "privacy", "Terms of Use" -> "terms",
    "Site Map" -> "sitemap", "Home" -> "index")

  private val docKinds = Seq(
    "Earnings Release", "Earnings Presentation", "Form 10-Q",
    "Financial Supplement", "Shareholder Letter", "Prepared Remarks",
    "Earnings Call Transcript", "Fact Sheet", "Segment Data",
    "Reconciliation Tables")

  private val exts = Seq("pdf", "pdf", "pdf", "xlsx", "docx", "zip", "txt")

  private def slug(s: String) = s.toLowerCase.replaceAll("[^a-z0-9]+", "-")

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  private def between(r: SplittableRandom, lo: Int, hi: Int) =
    if (hi <= lo) lo else lo + r.nextInt(hi - lo + 1)

  private def shuffled[A](r: SplittableRandom, xs: Seq[A]): Seq[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  // ---- plans -----------------------------------------------------------
  def plan(seed: Long, p: Profile, pool: String, i: Int): Plan = {
    val r = new SplittableRandom(mix64(seed * 1000003L + i))
    val name = companyName(i)
    val h = host(name)
    val latest = pick(r, Seq((2025, 1), (2025, 2), (2025, 3), (2024, 4)))
    val olderQuarters =
      (for (y <- 2022 to 2025; q <- 1 to 4) yield (y, q))
        .filter(yq => yq._1 * 4 + yq._2 < latest._1 * 4 + latest._2)

    var docs = Map.empty[String, Doc]
    def oldDoc(): Anchor = {
      val (y, q) = pick(r, olderQuarters)
      val kind = pick(r, docKinds)
      val text = s"Q$q $y $kind"
      val ext = if (y < 2023) "pdf" else pick(r, exts)
      val href =
        if (r.nextInt(4) == 0)
          s"https://s2.q4cdn.com/$name/doc_financials/$y/q$q/${slug(kind)}.$ext"
        else s"file:$pool/$name/q$q-$y-${slug(kind)}.$ext"
      val a = Anchor(href, text, "")
      docs += href -> Doc(a, y, q, ext, latest = false, dead = false, 0)
      a
    }
    val latestDocs = (0 until between(r, p.latestDocs._1, p.latestDocs._2)).map { j =>
      val (y, q) = latest
      val kind = docKinds(j % docKinds.size) +
        (if (j >= docKinds.size) s" Appendix ${('A' + j / docKinds.size - 1).toChar}" else "")
      val ext = pick(r, exts)
      val href = s"file:$pool/$name/q$q-$y-${slug(kind)}.$ext"
      val a = Anchor(href, s"Q$q $y $kind", if (r.nextBoolean()) s"$kind Q$q $y" else "")
      val d = Doc(a, y, q, ext, latest = true,
        dead = j > 0 && r.nextDouble() < p.deadDocShare,
        bytes = between(r, p.fileBytes._1, p.fileBytes._2))
      docs += href -> d
      a
    }
    def plain(k: Int): Seq[Anchor] = shuffled(r, plainLabels).take(k).map { case (t, s) =>
      Anchor(if (r.nextBoolean()) s"/$s.html" else s"company/$s.html", t, "") }
    def outside(): Seq[Anchor] =
      Seq.fill(p.external)(pick(r, Seq(
        Anchor(s"https://quotes.example.net/$name", "Stock Quote", ""),
        Anchor(s"https://news.example.org/$name/coverage", "Press Coverage", ""),
        Anchor(s"https://www.exchange.example.com/listing/$name", "Listing", ""),
        Anchor(s"https://ratings.example.net/$name", "Credit Ratings", "")))).distinct ++
      Seq.fill(p.excluded)(pick(r, Seq(
        Anchor(s"https://events.q4inc.com/$name/webcast", "Quarterly Earnings Webcast", ""),
        Anchor(s"https://zoom.us/webinar/$name", "Investor Day Stream", ""),
        Anchor(s"https://twitter.com/$name", "Follow us", ""),
        Anchor(s"https://www.linkedin.com/company/$name", "LinkedIn", "")))).distinct ++
      Seq(Anchor(s"mailto:ir@$name.example.com", "Email Investor Relations", ""),
        Anchor("#top", "Back to top", ""), Anchor("#main", "Skip to content", ""))
    def sectionAnchor(label: String, s: String): Anchor = {
      val href = r.nextInt(3) match {
        case 0 => s"$s.html"
        case 1 => s"/investors/$s.html"
        case _ => s"/ir/$s.html"
      }
      Anchor(href, label, if (r.nextBoolean()) s"$label page" else "")
    }

    val sectionLabels = shuffled(r, promisingLabels)
    val nPromising = between(r, p.promising._1, p.promising._2)
    val promising = sectionLabels.take(nPromising).map { case (t, s) => sectionAnchor(t, s) }
    val onSeed = latestDocs.take(1) ++ latestDocs.drop(1).filter(_ => r.nextDouble() < p.latestOnSeed)
    val elsewhere = latestDocs.filterNot(onSeed.contains)
    val seedAnchors = shuffled(r,
      promising ++ plain(p.plainNav) ++ outside() ++
        Seq.fill(p.oldDocsSeed)(oldDoc()).distinct ++ onSeed)

    val sectionUrls = promising.map(a => graft.expr.UrlKernels.resolve(a.href, seedUrl(name)))
    val placed = elsewhere.groupBy(_ =>
      if (sectionUrls.isEmpty) -1 else r.nextInt(sectionUrls.size))
    val sections = sectionUrls.zipWithIndex.map { case (u, k) =>
      val dead = r.nextDouble() < p.deadPageShare
      val anchors = shuffled(r,
        Seq(Anchor("/index.html", "Investor Home", "")) ++ plain(p.plainNav) ++
          sectionLabels.drop(nPromising).take(p.sectionNav).map { case (t, s) => sectionAnchor(t, s) } ++
          outside() ++ Seq.fill(p.oldDocsSection)(oldDoc()).distinct ++
          placed.getOrElse(k, Nil))
      u -> (if (dead) None else Some(anchors))
    }.toMap
    Plan(name, h, seedUrl(name), latest, seedAnchors, sections, docs)
  }

  def render(title: String, anchors: Seq[Anchor]): String = {
    val sb = new StringBuilder
    sb ++= s"<!DOCTYPE html><html><head><title>$title</title></head><body>\n<nav><ul>\n"
    anchors.foreach(a => sb ++= "<li>" ++= a.html ++= "</li>\n")
    sb ++= "</ul></nav>\n</body></html>\n"
    sb.toString
  }

  /** The page at `url`, or None for unknown and dead pages. */
  def page(seed: Long, p: Profile, pool: String, url: String): Option[String] = {
    val h = graft.expr.UrlKernels.host(url)
    if (h == null || !h.startsWith("ir.") || !h.endsWith(".example.com")) return None
    val name = h.stripPrefix("ir.").stripSuffix(".example.com")
    if (name.isEmpty || name.drop(1).exists(c => letters.indexOf(c) < 0)) return None
    val i = companyIndex(name)
    if (i >= p.companies) return None
    val pl = plan(seed, p, pool, i)
    if (url == pl.seedUrl) Some(render(s"$name investor relations", pl.seedAnchors))
    else pl.sections.get(url).flatten.map(render(s"$name section", _))
  }

  // ---- ground truth ----------------------------------------------------
  private val keywords = graft.expr.LinkFuncs.quarterlyKeywords

  /** The crawl's promising-link score, on the same text the crawl scores. */
  private def score(a: Anchor, resolved: String): Int = {
    val blob = Seq(a.html, a.text, a.title, resolved).mkString(" ").toLowerCase
    keywords.count(k => blob.contains(k))
  }

  def expected(seed: Long, p: Profile, pool: String, i: Int,
               md5: String => Option[String]): Expected = {
    val pl = plan(seed, p, pool, i)
    def resolved(a: Anchor) = graft.expr.UrlKernels.resolve(a.href, pl.seedUrl)
    val sections = pl.sections.keySet
    val frontier = pl.seedAnchors
      .filter(a => sections.contains(resolved(a)))
      .map(a => (score(a, resolved(a)), resolved(a)))
      .filter(_._1 > 0)
      .sortBy { case (s, u) => (-s, u) }
      .take(5).map(_._2)
    val live = frontier.flatMap(pl.sections(_))
    val found = (pl.seedAnchors ++ live.flatten).map(_.href).filter(pl.docs.contains).distinct
    val latest = found.map(u => (pl.docs(u).year, pl.docs(u).quarter)).max
    val reports = found.filter(u => (pl.docs(u).year, pl.docs(u).quarter) == latest)
      .map(u => u -> (if (pl.docs(u).dead) None else md5(u))).toMap
    Expected(pl.name, 1 + live.size, found.size, reports)
  }

  // ---- the file pool -----------------------------------------------------
  /** Bytes of one pool file, keyed by its path under the pool (not by
    * where the pool lives): the format's magic header, then seeded filler.
    */
  def fileBytes(seed: Long, key: String, ext: String, n: Int): Array[Byte] = {
    val head: Array[Byte] = ext match {
      case "pdf" => "%PDF-1.7\n".getBytes("US-ASCII")
      case "xlsx" | "docx" | "zip" => Array[Byte](0x50, 0x4b, 0x03, 0x04)
      case _ => "quarterly report\n".getBytes("US-ASCII")
    }
    val r = new SplittableRandom(mix64(seed ^ key.hashCode.toLong))
    val out = new Array[Byte](math.max(n, head.length))
    System.arraycopy(head, 0, out, 0, head.length)
    if (ext == "txt")
      for (k <- head.length until out.length) out(k) = ('a' + r.nextInt(26)).toByte
    else
      for (k <- head.length until out.length) out(k) = r.nextInt(256).toByte
    out
  }

  def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  /** Writes every live latest-quarter file under `pool` and returns the
    * expected outputs of every company.
    */
  def writePool(seed: Long, p: Profile, pool: String): Seq[Expected] = {
    (0 until p.companies).map { i =>
      val pl = plan(seed, p, pool, i)
      val sums = pl.docs.values.filter(d => d.latest && !d.dead).map { d =>
        val path: Path = Paths.get(d.anchor.href.stripPrefix("file:"))
        val bytes = fileBytes(seed, d.anchor.href.stripPrefix(s"file:$pool/"), d.ext, d.bytes)
        Files.createDirectories(path.getParent)
        Files.write(path, bytes)
        d.anchor.href -> md5Hex(bytes)
      }.toMap
      expected(seed, p, pool, i, sums.get)
    }
  }
}

/** The fixture fetcher: pages rendered from the seeded plan on demand. */
final case class SiteFetcher(seed: Long, profile: IrSites.Profile, pool: String)
    extends PageFetcher {
  override def fetch(url: String): Option[String] =
    IrSites.page(seed, profile, pool, url)
}
