package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The ETL ground-truth check accepts the pipeline's real output and
  * refuses tampered copies of it.
  */
class EtlCheckSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val profile = IrSites.LinksProfile.copy(companies = 6)
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "4").getOrCreate()
  private lazy val work = Files.createTempDirectory("perfbench-etl")
  private lazy val workload = new EtlWorkload(spark, profile, 5, work.resolve("etl").toString)

  override def afterAll(): Unit = {
    spark.stop()
    Util.deleteTree(work)
  }

  /** Output that matches the ground truth exactly. */
  private def perfect(expected: Seq[IrSites.Expected]): Seq[CompanyOut] =
    expected.map { e =>
      CompanyOut(e.company, e.urlsVisited, e.urlsFound,
        e.reports.count(_._2.isDefined).toLong, e.reports.count(_._2.isEmpty).toLong,
        e.reports.toSeq.sortBy(_._1).map { case (u, sum) =>
          FileOut(u, sum.getOrElse(""), sum.isDefined) })
    }

  private lazy val expected = {
    val dir = work.resolve("pool-only").toString
    IrSites.writePool(5, profile, dir)
  }

  test("an exact copy of the ground truth passes") {
    assert(EtlCheck.check(expected, perfect(expected)).isEmpty)
    assert(EtlCheck.recall(expected, perfect(expected)) == 1.0)
  }

  test("a dropped file fails the check") {
    val got = perfect(expected)
    val i = got.indexWhere(_.files.nonEmpty)
    val c = got(i)
    val dropped = got.updated(i, c.copy(files = c.files.tail))
    val errors = EtlCheck.check(expected, dropped)
    assert(errors.exists(_.contains("missing")), errors)
    assert(EtlCheck.recall(expected, dropped) < 1.0)
  }

  test("one flipped checksum byte fails the check") {
    val got = perfect(expected)
    val i = got.indexWhere(_.files.exists(_.success))
    val c = got(i)
    val k = c.files.indexWhere(_.success)
    val f = c.files(k)
    val flipped = f.copy(checksum = (if (f.checksum.head == '0') "1" else "0") + f.checksum.tail)
    val tampered = got.updated(i, c.copy(files = c.files.updated(k, flipped)))
    val errors = EtlCheck.check(expected, tampered)
    assert(errors.exists(_.contains("checksum")), errors)
  }

  test("wrong crawl counters fail the check") {
    val got = perfect(expected)
    val tampered = got.updated(0, got(0).copy(urlsVisited = got(0).urlsVisited + 1))
    assert(EtlCheck.check(expected, tampered).exists(_.contains("urls_visited")))
    assert(EtlCheck.check(expected, got.tail).exists(_.contains("no output row")))
  }

  test("the real pipeline passes the check, untraced and traced") {
    workload.generate()
    val plain = workload.pass(None)
    assert(plain.errors.isEmpty, plain.errors)
    assert(plain.recall == 1.0)
    workload.release()
    val traced = workload.pass(Some(new Tracer(spark, new JobRecorder)))
    assert(traced.errors.isEmpty, traced.errors)
    assert(traced.digest == plain.digest)
    workload.release()
  }
}
