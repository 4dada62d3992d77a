package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.llmops.Retrieval

/** The README's "prepare a training corpus" path: clean → mix → pack →
  * index, then a closed loop of one client sending question batches
  * through `hybridSearch`.
  */
final class CorpusWorkload(spark: SparkSession, seed: Long, workDir: String)
    extends Workload {
  import spark.implicits._

  private val nDocs = 300
  private val nQuestions = 64
  /** Questions per `hybridSearch` call. */
  private val batchSize = 8

  private val docsPath = s"$workDir/documents.parquet"
  private val indexPath = s"$workDir/index"
  private var corpus: CorpusGen.Corpus = _
  /** Token budget under the corpus total, so the mixture drops documents. */
  private var budget = 0L
  private var cached: Seq[DataFrame] = Nil
  /** (doc_id, chunk_idx) of the last built index. */
  private var chunkKeys: Set[(Long, Int)] = Set.empty
  private var cleanIds: Set[Long] = Set.empty


  def generate(): Unit = {
    Util.deleteTree(Paths.get(workDir))
    corpus = CorpusGen.generate(seed, nDocs, nQuestions)
    budget = (corpus.tokens.values.map(_.toLong).sum * 0.6).toLong
    corpus.docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(4).write.parquet(docsPath)
  }

  private def questions(qs: Seq[CorpusGen.Question]): DataFrame =
    qs.map(q => (q.queryId, q.text)).toDF("query_id", "text")

  private def timed[A](t: Option[Tracer], layer: String)(body: => A): A =
    t.fold(body)(_.span(layer)(body))

  def pass(tracer: Option[Tracer]): PassOut = {
    Util.deleteTree(Paths.get(indexPath))
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(docsPath)
    val (clean, nClean) = timed(tracer, "clean") {
      val c = Graft.cleanCorpus(docs).cache()
      (c, c.count())
    }
    val (rates, mixed) = timed(tracer, "mixture") {
      val r = Graft.temperatureWeights(clean, alpha = 0.7, tokenBudget = budget).cache()
      val m = Graft.applyMixture(clean, r).cache()
      r.collect()
      m.count()
      (r, m)
    }
    val packed = timed(tracer, "packing") {
      val p = Graft.packBins(mixed.filter(col("keep")), targetTokens = 4096).cache()
      p.count()
      p
    }
    tracer match {
      case None => Graft.buildRetrievalIndex(clean, indexPath)
      case Some(t) =>
        t.span("retrieval") {
          val b0 = System.nanoTime()
          t.child("retrieval")(Graft.buildRetrievalIndex(clean, indexPath))
          t.facts("retrieval.build_s") = (System.nanoTime() - b0) / 1e9
        }
        t.facts("retrieval.build_jobs") = t.jobCount("retrieval").toDouble
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    cached = Seq(clean, rates, mixed, packed)

    // the checks read the pass's outputs after the clock stopped
    cleanIds = clean.select(col("doc_id")).as[Long].collect().toSet
    val keptIds = mixed.filter(col("keep")).select(col("doc_id")).as[Long].collect().toSet
    val rateRows = rates.orderBy(col("source")).collect().map(_.toString).toSeq
    val packRows = packed.select(col("doc_id"), col("source"), col("stream"),
      col("bin_id"), col("n_tokens")).as[(Long, String, Long, Long, Long)].collect().toSeq
    val chunks = spark.read.parquet(s"$indexPath/chunks")
    chunkKeys = chunks.select(col("doc_id"), col("chunk_idx")).as[(Long, Int)].collect().toSet

    val tokens = corpus.tokens
    val errors = Seq.newBuilder[String]
    val foreign = cleanIds -- corpus.ids
    if (foreign.nonEmpty) errors += s"clean emitted ids not in the input: ${foreign.take(5)}"
    corpus.exactGroups.filter(g => g.count(cleanIds) > 1).take(5)
      .foreach(g => errors += s"exact-duplicate group ${g.mkString(",")} kept ${g.count(cleanIds)}")
    if (!keptIds.subsetOf(cleanIds)) errors += "mixture kept documents that clean dropped"
    val cleanTokens = cleanIds.toSeq.map(tokens(_).toLong).sum
    val keptTokens = keptIds.toSeq.map(tokens(_).toLong).sum
    if (keptTokens >= cleanTokens) errors += "the token budget dropped no documents"
    if (packRows.map(_._1).toSet != keptIds || packRows.size != keptIds.size)
      errors += "packBins rows differ from the kept documents"
    val want = packRows.groupBy(_._2).map { case (s, rs) => s -> rs.map(r => tokens(r._1).toLong).sum }
    val have = packRows.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._5).sum }
    if (want != have) errors += s"packBins token sums $have, expected $want"
    if (chunkKeys.map(_._1) != cleanIds) errors += "index chunks do not cover the cleaned corpus"

    val bins = packRows.map(r => (r._2, r._3, r._4)).distinct.size
    val facts = Map(
      "clean.docs_in" -> corpus.docs.size.toDouble,
      "clean.kept_share" -> nClean.toDouble / corpus.docs.size,
      "mixture.kept_token_share" -> keptTokens.toDouble / cleanTokens,
      "packing.bins" -> bins.toDouble,
      "packing.fill" -> packRows.map(_._5).sum.toDouble / (bins * 4096.0),
      "retrieval.chunks" -> chunkKeys.size.toDouble,
      "retrieval.index_bytes" -> Util.treeBytes(Paths.get(indexPath)).toDouble)
    val digest = Util.digest(Seq(cleanIds.toSeq.sorted.mkString(","), rateRows.mkString(";"),
      packRows.sortBy(_._1).map(r => (r._1, r._3, r._4)).mkString(",")))
    PassOut(wallS, errors.result(), Nil, 1.0, digest, facts)
  }

  /** (query_id, rk, doc_id, chunk_idx) of one `hybridSearch` batch. */
  private def search(qs: Seq[CorpusGen.Question]): Seq[(Long, Int, Long, Int)] =
    Retrieval.hybridSearch(spark, indexPath, questions(qs), k = 5)
      .select(col("query_id"), col("rk"), col("doc_id"), col("chunk_idx"))
      .as[(Long, Int, Long, Int)].collect().toSeq

  private def checkHits(hits: Seq[(Long, Int, Long, Int)]): Seq[String] =
    hits.filterNot(h => chunkKeys.contains((h._3, h._4))).take(5)
      .map(h => s"hit (doc ${h._3}, chunk ${h._4}) is not in the index")

  private def recall(qs: Seq[CorpusGen.Question], hits: Seq[(Long, Int, Long, Int)]): Double = {
    val top = hits.filter(_._2 <= 5).groupBy(_._1).map { case (q, hs) => q -> hs.map(_._3).toSet }
    qs.count(q => top.get(q.queryId).exists(_.contains(q.docId))).toDouble / qs.size
  }

  def release(): Unit = { cached.foreach(_.unpersist()); cached = Nil }

  /** Each question's hits as first answered: every index the run builds
    * must answer it the same way.
    */
  private val answers = scala.collection.mutable.Map.empty[Long, Seq[(Long, Int, Long, Int)]]

  /** One `hybridSearch` call for `qs` with its check: (ms, hits, errors). */
  private def ask(qs: Seq[CorpusGen.Question], tracer: Option[Tracer])
      : (Double, Seq[(Long, Int, Long, Int)], Seq[String]) = {
    val t0 = System.nanoTime()
    val hits = tracer.fold(search(qs))(_.child("retrieval")(search(qs)))
    val ms = (System.nanoTime() - t0) / 1e6
    val byQuery = hits.groupBy(_._1).map { case (q, hs) => q -> hs.sortBy(_._2) }
    val drift = qs.map(_.queryId)
      .filter(q => answers.get(q).exists(_ != byQuery.getOrElse(q, Nil)))
    qs.foreach(q => answers.getOrElseUpdate(q.queryId, byQuery.getOrElse(q.queryId, Nil)))
    (ms, hits, checkHits(hits) ++
      drift.take(3).map(q => s"question $q answered differently than before"))
  }

  def answerAll(): Option[(ServeOut, Double)] = {
    val (ms, hits, errors) = ask(corpus.questions, None)
    Some((ServeOut(Seq(ms), errors, 1, if (errors.isEmpty) 0 else 1),
      recall(corpus.questions, hits)))
  }

  /** Batches served so far in this run: each `serve` call goes on from
    * the next one, so successive calls cycle through every question.
    */
  private var served = 0

  def serve(deadlineNs: Long, tracer: Option[Tracer]): Option[ServeOut] = {
    val batches = corpus.questions.grouped(batchSize).toIndexedSeq
    val ms = Seq.newBuilder[Double]
    val errors = Seq.newBuilder[String]
    var n = 0
    var failed = 0
    def one(): Unit = {
      val qs = batches(served % batches.size)
      val (t, _, e) = ask(qs, tracer)
      ms += t
      if (e.nonEmpty) { failed += 1; errors ++= e }
      served += 1
      n += 1
    }
    def loop(): Unit = while (n < 1 || System.nanoTime() < deadlineNs) one()
    tracer.fold(loop())(_.span("retrieval")(loop()))
    Some(ServeOut(ms.result(), errors.result(), n, failed))
  }
}
