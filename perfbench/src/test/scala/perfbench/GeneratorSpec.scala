package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the benchmark's inputs: one seed must always give
  * the same bytes, and another seed other bytes.
  */
class GeneratorSpec extends AnyFunSuite {
  private val profile = IrSites.LinksProfile.copy(companies = 8)
  private val pool = "pool"

  private def pages(seed: Long): Seq[String] =
    (0 until profile.companies).flatMap { i =>
      val plan = IrSites.plan(seed, profile, pool, i)
      (plan.seedUrl +: plan.sections.keys.toSeq.sorted)
        .flatMap(u => IrSites.page(seed, profile, pool, u))
    }

  test("the same seed renders byte-identical pages") {
    assert(pages(7) == pages(7))
    assert(pages(7).nonEmpty)
  }

  test("another seed renders other pages") {
    assert(pages(7) != pages(8))
  }

  test("pages render from the URL alone and unknown URLs have no page") {
    val name = IrSites.companyName(3)
    assert(SiteFetcher(7, profile, pool).fetch(IrSites.seedUrl(name)) ==
      IrSites.page(7, profile, pool, IrSites.seedUrl(name)))
    assert(IrSites.page(7, profile, pool, "https://elsewhere.example.org/").isEmpty)
    assert(IrSites.page(7, profile, pool,
      IrSites.seedUrl(IrSites.companyName(profile.companies))).isEmpty)
  }

  test("company names round-trip and carry no digits") {
    (0 until 500).foreach { i =>
      val n = IrSites.companyName(i)
      assert(IrSites.companyIndex(n) == i)
      assert(!n.exists(_.isDigit))
    }
  }

  private def poolBytes(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory("perfbench-pool")
    val root = dir.resolve("pool").toString
    IrSites.writePool(seed, profile, root)
    val files = Files.walk(dir).filter(f => Files.isRegularFile(f)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    val out = files.map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    Util.deleteTree(dir)
    out
  }

  test("the same seed writes byte-identical pool files; another seed other files") {
    val a = poolBytes(7)
    assert(a.nonEmpty)
    assert(a == poolBytes(7))
    assert(a != poolBytes(8))
  }

  test("the expected reports carry the pool files' checksums") {
    val dir = Files.createTempDirectory("perfbench-md5")
    val root = dir.resolve("pool").toString
    val expected = IrSites.writePool(7, profile, root)
    val live = expected.flatMap(_.reports.collect { case (u, Some(sum)) => u -> sum })
    assert(live.nonEmpty)
    live.foreach { case (u, sum) =>
      assert(IrSites.md5Hex(Files.readAllBytes(Paths.get(u.stripPrefix("file:")))) == sum)
    }
    Util.deleteTree(dir)
  }

  test("the same seed generates identical documents and questions") {
    val a = CorpusGen.generate(7, 400, 16)
    assert(a == CorpusGen.generate(7, 400, 16))
    val b = CorpusGen.generate(8, 400, 16)
    assert(a.docs != b.docs && a.questions != b.questions)
  }

  test("the corpus plants duplicates and copies questions from outside them") {
    val c = CorpusGen.generate(7, 3000, 64)
    assert(CorpusGen.vocabulary(7).distinct.length >= 10000)
    assert(c.exactGroups.nonEmpty)
    val byId = c.docs.map(d => d.docId -> d.text).toMap
    c.exactGroups.foreach(g => assert(g.map(byId).distinct.size == 1))
    val grouped = c.exactGroups.flatten.toSet
    c.questions.foreach { q =>
      assert(!grouped.contains(q.docId))
      assert(byId(q.docId).toLowerCase.contains(q.text.toLowerCase))
    }
  }
}
