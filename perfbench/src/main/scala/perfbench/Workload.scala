package perfbench

/** One pass's outcome. `latencyMs` are the user-facing waits the pass
  * produced (ETL: per-company report-ready times); `recall` is measured
  * against the generator's ground truth (the corpus measures it by
  * answering every question instead, and its passes report 1); `digest`
  * must repeat across the passes of a run.
  */
final case class PassOut(wallS: Double, errors: Seq[String],
                         latencyMs: Seq[Double], recall: Double,
                         digest: String, facts: Map[String, Double] = Map.empty)

/** Checked `hybridSearch` calls (corpus only). */
final case class ServeOut(batchMs: Seq[Double], errors: Seq[String],
                          batches: Int, failedBatches: Int)

trait Workload {
  /** Regenerate the fixtures from the seed into a fresh directory. */
  def generate(): Unit
  /** One full pass; `tracer` set means the traced variant. */
  def pass(tracer: Option[Tracer]): PassOut
  /** Drop what the pass left cached, after its heap was measured. */
  def release(): Unit
  /** Serve question batches until `deadlineNs` (at least one), each
    * batch after the last one served; None when the workload has no
    * serving side.
    */
  def serve(deadlineNs: Long, tracer: Option[Tracer]): Option[ServeOut]
  /** Every question in one call, checked like a batch, with recall@5
    * against the generator's answers; None when the workload has no
    * serving side.
    */
  def answerAll(): Option[(ServeOut, Double)]
}

object Workload {
  val Layers = Seq("crawl", "extract", "download", "metadata",
    "clean", "mixture", "packing", "retrieval")
}
