package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.web.WebIngest

/** The STREAMING WEB CAPSTONE — the r10 batch web family composed
  * end-to-end as a standing ingest pipeline: WARC batches →
  * [[WebIngest.pipelineRowsOf]] row extraction (wire bytes → HTTP →
  * HTML → links → robots, one narrow pass) → content-fingerprint
  * dedup against ALL previous batches → packed training rows appended
  * per batch, with the crawl frontier ([[FrontierStream]]) maintained
  * alongside from the same batch. This is the "crawl → training-ready"
  * story as a STREAM: each batch's cost is batch-bounded — no
  * snapshot text is ever rescanned.
  *
  * State under `tableDir`: [[MinKeeper]]'s on the column `fp`
  * (content fingerprint → MIN owning doc_id, bucketed; admitted
  * training rows appended per batch; replay-safe), plus `frontier/` —
  * [[FrontierStream]]'s two monotone tables, folded from the SAME
  * batch by the same sink.
  *
  * THE FOLD IDENTITY (what the gate pins): the union of emitted
  * batches must reproduce `pipeline_web` filtered to fingerprint
  * keepers (MinKeeper's identity) — the gate's oracle nests
  * [[WebIngest.pipelineWebSql]] verbatim (the `stream_feat_scale`
  * pattern: a member regression flips this capstone's hash too).
  *
  * The fingerprint is md5 of the first [[WebStream.FpPrefix]] chars of
  * the extracted text BODY (after the synthetic `doc N & ` marker):
  * chrome-stripped because the marker is per-doc noise that would make
  * every page unique, and PREFIX-scoped because crawl near-dups agree
  * at the head and differ in tail boilerplate — the cheap
  * leading-content fingerprint tier below the shingle/MinHash lenses
  * (those live in [[graft.operators.Dedup]]; this stream needs a
  * per-row O(1) key it can fold incrementally).
  */
object WebStream {

  /** Body-prefix length the fingerprint covers. */
  val FpPrefix = 32

  /** Fingerprint of the training row's content body. The expression is
    * written once and mirrored in the oracle: the body starts after
    * the first ` & ` marker, and the key is its first FpPrefix chars. */
  private[graft] def fpCol: Column =
    md5(expr(s"substring(text, instr(text, ' & ') + 3, $FpPrefix)"))

  private[graft] val fps = new MinKeeper("fp")

  /** Batch-local fingerprint state: fp → min owning doc_id. */
  private[graft] def fpOf(rows: DataFrame): DataFrame =
    fps.stateOf(rows.select(fpCol.as("fp"), col("doc_id")))

  /** Admission under a (folded) fingerprint state, fingerprint first. */
  private[graft] def admittedUnder(rows: DataFrame, state: DataFrame): DataFrame =
    fps.admittedUnder(rows.withColumn("fp", fpCol), state)
      .select(col("fp") +: rows.columns.map(col): _*)

  /** foreachBatch sink: extract the batch's training rows once
    * (persisted — the gzip/WARC/HTML pass is the expensive tier and
    * feeds both the fold and the admission), fold the frontier, then
    * the fingerprint state and the admission (the [[MinKeeper]] body). */
  def webSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val rows = WebIngest.pipelineRowsOf(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      FrontierStream.frontierSink(s"$tableDir/frontier")(batch, batchId)
      fps.fold(tableDir, batchId, fpOf(rows))(admittedUnder(rows, _))
    } finally rows.unpersist()
  }

  /** The maintained training set: every admitted batch. */
  def storedTraining(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.readAppended(s, tableDir, "admitted training rows")

  /** Gate: two crawl-ordered batches through the extract → fold →
    * admit chain; must equal the one-shot min-keeper filter of
    * `pipeline_web` (the fold identity — oracle nests its SQL). */
  def streamWeb(s: SparkSession, dir: String): DataFrame = {
    val Seq(b1, b2) = graft.Graft.rangeSplit(Tables.documents(s, dir), "doc_id", 2)
    val (rows1, rows2) = (WebIngest.pipelineRowsOf(b1), WebIngest.pipelineRowsOf(b2))
    val folded = fps.merge(fpOf(rows1), fpOf(rows2))
    admittedUnder(rows1.unionByName(rows2), folded)
  }
}
