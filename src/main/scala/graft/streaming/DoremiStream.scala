package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.CorpusOps

/** Streaming maintenance of the DATA-MIXTURE MODEL — the KN bigram
  * count table behind [[CorpusOps.mixDoremi]] as standing state, so
  * the DoReMi weights stay current while a corpus ingests: each batch
  * contributes its bigram counts, the model folds by pointwise SUM,
  * and the domain weights are a READ-TIME product of (folded model ×
  * current corpus) — the mixture a trainer samples by is always
  * computed under the model of everything seen so far, never a stale
  * snapshot.
  *
  * The count fold is a SUM — associative, NOT idempotent — so the
  * state rides [[SnapshotStream]]'s versioned rule: counts never
  * double-fold on a replay. State size is the model itself: |bigram
  * types| rows, vocabulary-bounded (the [[CorpusOps.taLmKn]] scale
  * argument), the LM cousin of the sketch-state streams.
  *
  * THE FOLD IDENTITY (what the gate pins): bigram counts over
  * disjoint batches SUM to the corpus counts EXACTLY (integer
  * arithmetic, no sketch error), so scoring the full corpus under the
  * folded model and running the weight trajectory equals the one-shot
  * [[CorpusOps.mixDoremi]] bit-for-bit — the gate's oracle IS
  * `mixDoremiSql`.
  *
  * Scale shape: per-batch cost is the batch's own gram aggregation +
  * one vocabulary-bounded merge; the read-time weight computation is
  * the mix_doremi shape (per-doc distinct-gram scoring joins, one
  * |domains|-row aggregate, driver trajectory).
  */
object DoremiStream {

  /** A batch's contribution to the model: its bigram count table. */
  private[graft] def modelOf(batch: DataFrame): DataFrame =
    CorpusOps.perDocBigrams(batch)
      .groupBy(col("g")).agg(sum(col("m")).as("c_bi"))

  /** Model merge — pointwise SUM over the gram key. */
  private[graft] def mergeModel(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("g"), col("c_bi").as("ca"))
      .join(b.select(col("g"), col("c_bi").as("cb")), Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L))).as("c_bi"))

  /** foreachBatch sink: fold this batch's counts over the predecessor
    * version. */
  def doremiSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/model"
    val local = modelOf(batch)
    SnapshotStream.commit(SnapshotStream.predecessor(s, dir, batchId)
      .fold(local)(mergeModel(_, local)), dir, batchId)
  }

  /** The maintained model: newest committed version. */
  def storedModel(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.latest(s, s"$tableDir/model", "model")

  /** Read-time mixture weights: score `docs` under a folded model and
    * run the [[CorpusOps.mixDoremiOver]] trajectory. */
  private[graft] def weightsUnder(s: SparkSession, docs: DataFrame,
      model: DataFrame): DataFrame =
    CorpusOps.mixDoremiOver(s, docs,
      // materializeModel (r17): the folded model — two batch gram
      // aggregations + a full-outer merge — feeds knScoreFrom's four
      // consumers; without the checkpoint the whole fold re-executed
      // once per consumer (no exchange reuse across gram-kernel branch
      // copies), and the trajectory's collect prunes none of it
      CorpusOps.knScoreFrom(docs.select(col("doc_id")),
        CorpusOps.perDocBigrams(docs), model, materializeModel = true))

  /** Gate: two crawl-ordered batches fold their counts, then the full
    * corpus is scored under the folded model and the trajectory runs —
    * must equal one-shot mix_doremi exactly (oracle IS mixDoremiSql,
    * the fold identity). */
  def streamDoremi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val Seq(b1, b2) = graft.Graft.rangeSplit(docs, "doc_id", 2)
    val folded = mergeModel(modelOf(b1), modelOf(b2))
    weightsUnder(s, docs, folded)
  }
}
