package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Cleaning

/** Streaming maintenance of the CHUNK-PACKING CURSOR — the
  * corpus→trainer last mile ([[Cleaning.packChunks]]) as a standing
  * pipeline: documents arrive in crawl order, each batch's rows are
  * assigned their chunk spans immediately (a trainer can start
  * consuming chunk files while ingest continues), and the only
  * carried state is ONE RUNNING CURSOR PER STREAM — Σ tokens packed
  * so far, |langs| rows.
  *
  * The cursor is a SUM — associative but NOT idempotent — so the
  * state rides [[SnapshotStream]]'s versioned rule: a replayed batch
  * recomputes the same spans and never double-advances the cursor.
  * Span assignment itself rides THE chunk-manifest kernel
  * ([[Cleaning.chunkManifest]]) with the carried cursor as its `base`
  * — one packing definition across the batch, multimodal, and
  * streaming packers.
  *
  * THE FOLD IDENTITY (what the gate pins): the kernel's spans are a
  * function of each row's absolute cursor position, and cursor(base +
  * batch-local running sum) over crawl-ordered batches equals the
  * one-shot running sum — so the union of per-batch manifests must
  * reproduce `ta_pack_chunks` EXACTLY; the gate's oracle IS
  * [[Cleaning.taPackChunksSql]].
  *
  * Scale shape: per-batch cost is the batch's own window (batch-
  * bounded); state I/O is |langs| rows per version. The sharded
  * (lang, shard) kernel form applies unchanged when one stream's
  * batch outgrows a task.
  */
object PackStream {

  /** The packer's token accounting over an arriving document batch. */
  private[graft] def tokensOf(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"), col("lang"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tokens"))

  /** Per-stream cursor advance contributed by a batch. */
  private[graft] def cursorsOf(toks: DataFrame): DataFrame =
    toks.groupBy(col("lang")).agg(sum(col("n_tokens")).as("cursor"))

  /** Cursor merge — pointwise SUM (associative, not idempotent: see
    * the versioning discipline above). NULL-SAFE on the stream key:
    * the window kernel (and the oracle's PARTITION BY) group NULL
    * langs into ONE stream, so the carry must too — a plain equi-join
    * would silently restart the NULL stream's cursor every batch. */
  private[graft] def mergeCursors(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("lang").as("la"), col("cursor").as("ca"))
      .join(b.select(col("lang").as("lb"), col("cursor").as("cb")),
        col("la") <=> col("lb"), "full_outer")
      .select(coalesce(col("la"), col("lb")).as("lang"),
        (coalesce(col("ca"), lit(0L)) + coalesce(col("cb"), lit(0L))).as("cursor"))

  /** A batch's manifest under carried per-stream cursors: the kernel
    * with `base` = this stream's cursor (0 for a first-seen stream).
    * The state lookup is null-safe for the same reason as
    * [[mergeCursors]]. */
  private[graft] def manifestUnder(toks: DataFrame, state: Option[DataFrame]): DataFrame = {
    val based = state match {
      case Some(st) =>
        toks.join(
            st.select(col("lang").as("lang_s"), col("cursor").as("cursor_base")),
            col("lang") <=> col("lang_s"), "left")
          .drop("lang_s")
          .na.fill(0L, Seq("cursor_base"))
      case None => toks.withColumn("cursor_base", lit(0L))
    }
    Cleaning.chunkManifest(based, Seq("lang"), base = Some("cursor_base"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("first_chunk"), col("last_chunk"), col("n_chunks"))
  }

  /** foreachBatch sink: spans for this batch's rows under the
    * predecessor cursor state, then the advanced cursors as
    * `v=<batchId>`. */
  def packSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val toks = tokensOf(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val prev = SnapshotStream.predecessor(s, s"$tableDir/cursor", batchId)
      SnapshotStream.appendBatch(manifestUnder(toks, prev), tableDir, batchId)
      val local = cursorsOf(toks)
      // |langs| rows — the sketch-state class: one file per version
      SnapshotStream.commit(prev.fold(local)(mergeCursors(_, local)).coalesce(1),
        s"$tableDir/cursor", batchId)
    } finally toks.unpersist()
  }

  /** The maintained manifest: every packed batch. */
  def storedManifest(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.readAppended(s, tableDir, "packed manifests")

  /** Gate: two crawl-ordered batches through the cursor-carry chain;
    * the manifests' union must reproduce the one-shot packer exactly
    * (oracle IS ta_pack_chunks' SQL — the fold identity).
    *
    * @note the returned frame's plan pins a PERSISTED token frame
    *       (toks1 feeds two consumers). The harness releases it between
    *       gates via [[graft.Graft.releaseState]]; a direct library
    *       caller owns that release — `Graft.releaseState(spark)` after
    *       consuming the result, or |batch|-sized cache blocks
    *       accumulate across calls. */
  def streamPack(s: SparkSession, dir: String): DataFrame = {
    val Seq(d1, d2) = graft.Graft.rangeSplit(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")), "doc_id", 2)
    // toks1 feeds two consumers (its own manifest + batch 2's carried
    // cursors) — persisted so the scan+tokenize runs once; released by
    // the harness clearCache between queries (the allpairs contract)
    val toks1 = tokensOf(d1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks2 = tokensOf(d2)
    manifestUnder(toks1, None)
      .unionByName(manifestUnder(toks2, Some(cursorsOf(toks1))))
  }

  /** The TOKENIZER-TRUE streaming packer — [[streamPack]] with the
    * batch token accounting swapped for trained-BPE symbol counts
    * ([[graft.operators.Tokenizer.bpeTokenCounts]], the exact counts
    * [[graft.operators.Tokenizer.packBpe]] cuts by). The segmentation
    * table is FROZEN across batches — trained once over the corpus and
    * carried like the IVF index's frozen quantizer: a serving
    * tokenizer never retrains per batch (retraining would re-segment
    * history and invalidate every cursor already advanced). Everything
    * else — the cursor SUM state, `v=<batchId>` versioning, the
    * null-safe carry, the shared chunk kernel — is [[streamPack]]'s
    * machinery VERBATIM, so the replay discipline StreamingSpec pins
    * there covers this member by construction; what this gate adds is
    * the fold identity under the REAL token metric: the union of
    * per-batch manifests must reproduce one-shot `pack_bpe` exactly
    * (the oracle IS packBpeSql). */
  def streamPackBpe(s: SparkSession, dir: String): DataFrame = {
    val Seq(d1, d2) = graft.Graft.rangeSplit(Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text")), "doc_id", 2)
    val seg = graft.operators.Tokenizer.vocabBpe(s, dir)
      .select(col("term"), col("n_sym"))
    // toks1 feeds two consumers (manifest + carried cursors) — the
    // streamPack persist contract, released by harness clearCache
    val toks1 = graft.operators.Tokenizer.bpeTokenCounts(d1, seg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks2 = graft.operators.Tokenizer.bpeTokenCounts(d2, seg)
    manifestUnder(toks1, None)
      .unionByName(manifestUnder(toks2, Some(cursorsOf(toks1))))
  }
}
