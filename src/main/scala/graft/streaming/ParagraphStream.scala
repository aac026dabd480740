package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import graft.operators.ParagraphDedup

/** Streaming twin of the paragraph-dedup lens: a stream of document
  * batches maintains a SEEN-PARAGRAPH table and emits each batch with
  * only its first-ever-seen paragraphs — the continuous form of
  * [[ParagraphDedup.dedupParagraphIncr]], and the shape a crawl
  * pipeline actually runs (docs arrive forever; the seen set is the
  * standing state).
  *
  * State and output both follow [[SnapshotStream]]'s versioned rule,
  * so an at-least-once batch feed yields exactly-once state
  * maintenance.
  *
  * THE ORDER-FOLD IDENTITY (what the gate pins): if batches partition
  * the corpus into doc_id RANGES fed in order, the per-batch keeper
  * rule (first batch to see a paragraph wins; min (doc_id, chunk_id)
  * within the batch) composes to exactly the global min-(doc_id,
  * chunk_id) rule — so the UNION of cleaned batch outputs equals the
  * one-shot [[ParagraphDedup.dedupParagraph]] over the whole corpus,
  * for ANY range split. The gate runs the two-batch fold; its oracle
  * IS the one-shot `dedup_paragraph` SQL, so any drift between the
  * incremental kernel and the global rule breaks the hash.
  * StreamingSpec drives the same fold through a real checkpointed
  * `foreachBatch` query, chops it differently, replays a batch, and
  * pins the converged tables.
  *
  * Scale: each batch costs one anti-join of the batch's paragraphs
  * against the seen table (keyed by paragraph; at 100 TB the seen
  * table is bucketed on the chunk key so the probe co-locates) plus an
  * append of the batch's fresh paragraphs — batch-bounded work, and
  * the seen-set append (not rewrite) keeps state maintenance O(batch)
  * too.
  */
object ParagraphStream {

  /** The seen-paragraph table before the first batch. */
  private def noneSeen(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("chunk",
          org.apache.spark.sql.types.StringType))))

  /** foreachBatch sink: dedup `batch` against the seen-paragraph table
    * (versions under `$tableDir/seen`), write the cleaned batch as
    * version `batchId` of `$tableDir/out`, and the updated seen set as
    * version `batchId` of `$tableDir/seen`. */
  def paragraphSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val seenDir = s"$tableDir/seen"
    val seen = SnapshotStream.predecessor(s, seenDir, batchId).getOrElse(noneSeen(s))
    // ONE split + anti-join feeds both writes (processAgainst
    // localCheckpoints the shared frames — the two writes are separate
    // actions and would otherwise each re-run the batch scan)
    val (cleaned, keptChunks) = ParagraphDedup.processAgainst(batch, seen)
    SnapshotStream.commit(cleaned, s"$tableDir/out", batchId)
    // fresh paragraphs = the batch's kept occurrences; the union stays
    // distinct because kept chunks were anti-joined against `seen`
    SnapshotStream.commit(seen.unionByName(keptChunks), seenDir, batchId)
  }

  /** Cleaned output across all committed batches (reader view). */
  def cleanedOutput(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.allVersions(s, s"$tableDir/out", "output")

  /** Gate: the two-batch range fold (see the order-fold identity in
    * the object scaladoc) — batch 1 = doc_id below the midpoint, batch
    * 2 = the rest, seen-set carried between them. Oracle = the ONE-SHOT
    * `dedup_paragraph` SQL. */
  def streamParagraph(s: SparkSession, dir: String): DataFrame = {
    val Seq(b1, b2) = graft.Graft.rangeSplit(Tables.documents(s, dir), "doc_id", 2)
    val (out1, seen1) = ParagraphDedup.processAgainst(b1, noneSeen(s))
    val out2 = ParagraphDedup.paragraphDedupAgainst(b2, seen1)
    out1.unionByName(out2)
  }
}
