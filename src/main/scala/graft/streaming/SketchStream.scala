package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.HeavyHitters

/** Streaming maintenance of a mergeable sketch — the Count-Min counter
  * matrix as STANDING STATE over an unbounded document stream, the way
  * a 100-TB ingest keeps "how often has this token ever appeared"
  * queryable without a corpus-scale recount. Each micro-batch builds
  * its own batch-local sketch (one mergeable aggregation, d·w longs of
  * shuffle no matter the batch size) and pointwise-ADDS it into the
  * stored sketch — the merge is the UDAF's own
  * [[graft.functions.CountMinAgg.merge]], so the streaming fold and
  * the one-shot aggregation are THE SAME arithmetic by construction.
  *
  * State follows [[SnapshotStream]]'s versioned rule, so an
  * at-least-once batch feed maintains the sketch exactly-once.
  *
  * THE FOLD IDENTITY (what the gate pins): counter addition is
  * associative and commutative, so ANY batching of the corpus — and
  * any arrival order — folds to exactly the one-shot sketch. The gate
  * runs a two-range-batch fold and grades the merged sketch with the
  * one-shot eval's probe harness; its oracle IS `ta_cms_eval`'s SQL,
  * so a drift anywhere in the fold (a lost batch, a double-merge, a
  * mis-indexed counter) breaks the hash. StreamingSpec drives the same
  * fold through a real checkpointed `foreachBatch` query with a
  * restart and a replayed batch, and pins convergence.
  */
object SketchStream {

  /** One-row frame holding a sketch (the stored-state encoding). */
  private def sketchFrame(s: SparkSession, sk: Seq[Long]): DataFrame = {
    import s.implicits._
    Seq(sk).toDF("cms")
  }

  private def readSketch(stored: DataFrame): Seq[Long] =
    stored.select(col("cms")).head().getSeq[Long](0)

  /** Batch-local sketch: ONE mergeable aggregation over the batch's
    * token stream. */
  private[graft] def sketchOf(batch: DataFrame): IndexedSeq[Long] = {
    val s = batch.sparkSession
    import s.implicits._
    HeavyHitters.cmsToksOf(batch).select(col("x")).as[Long]
      .select(HeavyHitters.cmsAgg.toColumn.name("cms")).head().toIndexedSeq
  }

  /** foreachBatch sink: merge `batch`'s sketch into the stored one
    * (versions under `$tableDir/cms`) and write `v=<batchId>`. */
  def cmsSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/cms"
    val prev = SnapshotStream.predecessor(s, dir, batchId).map(readSketch)
    val local = sketchOf(batch).toArray
    val merged = prev.fold(local.toSeq)(p =>
      HeavyHitters.cmsAgg.merge(local, p.toArray).toSeq)
    SnapshotStream.commit(sketchFrame(s, merged).coalesce(1), dir, batchId)
  }

  /** The maintained sketch (latest committed version). */
  def storedSketch(s: SparkSession, tableDir: String): IndexedSeq[Long] =
    readSketch(SnapshotStream.latest(s, s"$tableDir/cms", "sketch")).toIndexedSeq

  /** Gate: the two-batch range fold of the corpus through the sketch
    * merge, graded by the one-shot probe harness. Oracle =
    * `ta_cms_eval`'s relational replay — the fold identity. */
  def streamCms(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val Seq(b1, b2) = graft.Graft.rangeSplit(docs, "doc_id", 2)
    val (s1, s2) = (sketchOf(b1), sketchOf(b2))
    val merged = HeavyHitters.cmsAgg.merge(s1.toArray, s2.toArray).toIndexedSeq
    HeavyHitters.cmsProbe(s, HeavyHitters.cmsToksOf(docs), merged)
  }

  // -------------------- stream_hll (KEYED register state) ------------
  // The CMS state above is one global row; per-language HLL registers
  // are the KEYED generalization — the shape real ingest state takes
  // ("distinct tokens ever seen, per language/source/shard"). State is
  // |keys| × m small ints; the merge is a full-outer key join whose
  // per-key work is a pointwise max over m registers, so a batch costs
  // one batch-scan aggregation + one |keys|-bounded join no matter how
  // large the history is.

  /** Per-language register state of one batch — the PRODUCTION path
    * (raw token stream, no distinct upstream; HllSpec pins that the
    * registers are multiplicity-invariant), ONE mergeable aggregation. */
  private[graft] def hllRegsOf(batch: DataFrame): DataFrame = {
    val hll = udaf(HeavyHitters.hllAgg)
    HeavyHitters.hllLangToks(batch)
      .withColumn("x", HeavyHitters.hllItemCol)
      .groupBy(col("lang")).agg(hll(col("x")).as("regs"))
  }

  /** Keyed state merge: full-outer on lang, pointwise register MAX — a
    * lang absent on one side contributes the all-zero vector. Register
    * max is associative, commutative AND idempotent, so the fold is
    * replay-safe by arithmetic alone; the versioned discipline still
    * guards torn writes (a half-written version is never read). */
  private[graft] def mergeHllRegs(a: DataFrame, b: DataFrame): DataFrame = {
    val zeros = array_repeat(lit(0), HeavyHitters.HllM)
    a.select(col("lang"), col("regs").as("ra"))
      .join(b.select(col("lang"), col("regs").as("rb")), Seq("lang"), "full_outer")
      .select(col("lang"),
        zip_with(coalesce(col("ra"), zeros), coalesce(col("rb"), zeros),
          (x, y) => greatest(x, y)).as("regs"))
  }

  /** foreachBatch sink: merge the batch's per-lang registers into the
    * stored keyed state (versions under `$tableDir/hll`). */
  def hllSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/hll"
    val local = hllRegsOf(batch)
    SnapshotStream.commit(SnapshotStream.predecessor(s, dir, batchId)
      .fold(local)(mergeHllRegs(_, local)), dir, batchId)
  }

  /** The maintained keyed register table (latest committed version). */
  def storedHllRegs(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.latest(s, s"$tableDir/hll", "register")

  /** Gate: two-range-batch fold of per-lang registers, graded with the
    * one-shot eval projection against the exact distinct counts.
    * Oracle IS `ta_hll_eval`'s SQL — the keyed fold identity: register
    * max over any batching of the corpus equals the one-shot
    * registers, so even the raw ESTIMATE doubles hash-check. */
  def streamHll(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val Seq(b1, b2) = graft.Graft.rangeSplit(docs, "doc_id", 2)
    val merged = mergeHllRegs(hllRegsOf(b1), hllRegsOf(b2))
    val exact = HeavyHitters.hllLangToks(docs).distinct()
      .groupBy(col("lang")).agg(count(lit(1)).as("n_exact"))
    HeavyHitters.hllEvalOver(exact.join(merged, Seq("lang")))
  }

  // ----------------- stream_quantile (KEYED counter state) -----------

  /** Per-language (n, sketch) state of one batch: group size + the
    * octave-bucket counter vector, ONE mergeable aggregation. */
  private[graft] def quantileStateOf(batch: DataFrame): DataFrame = {
    val qa = udaf(HeavyHitters.quantileAgg)
    HeavyHitters.quantileValsOf(batch)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), qa(col("v")).as("sk"))
  }

  /** Keyed state merge: counts add, bucket counters add pointwise —
    * NOT idempotent (unlike the HLL max), so exactly-once rests
    * entirely on the versioned replay discipline, which is exactly
    * what the replay spec exercises. */
  private[graft] def mergeQuantileState(a: DataFrame, b: DataFrame): DataFrame = {
    val zeros = array_repeat(lit(0L), HeavyHitters.QuantSize)
    a.select(col("lang"), col("n").as("na"), col("sk").as("ska"))
      .join(b.select(col("lang"), col("n").as("nb"), col("sk").as("skb")),
        Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))).as("n"),
        zip_with(coalesce(col("ska"), zeros), coalesce(col("skb"), zeros),
          (x, y) => x + y).as("sk"))
  }

  /** foreachBatch sink: fold the batch's per-lang quantile state into
    * the stored keyed state (versions under `$tableDir/quant`). */
  def quantileSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/quant"
    val local = quantileStateOf(batch)
    SnapshotStream.commit(SnapshotStream.predecessor(s, dir, batchId)
      .fold(local)(mergeQuantileState(_, local)), dir, batchId)
  }

  /** The maintained keyed quantile state (latest committed version). */
  def storedQuantileState(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.latest(s, s"$tableDir/quant", "quantile-state")

  /** Gate: two-range-batch fold of per-lang (n, sketch) state, graded
    * with the one-shot eval harness (driver estimates + exact rank
    * walk). Oracle IS `ta_quantile_eval`'s SQL — counter addition is
    * associative, so the fold reproduces the one-shot sketch and every
    * percentile ESTIMATE hash-checks. */
  def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val Seq(b1, b2) = graft.Graft.rangeSplit(docs, "doc_id", 2)
    val merged = mergeQuantileState(quantileStateOf(b1), quantileStateOf(b2))
    val perLang = merged.collect().toSeq.map { r =>
      (r.getString(0), r.getLong(1), r.getSeq[Long](2).toIndexedSeq)
    }
    HeavyHitters.quantileEvalOver(s,
      HeavyHitters.quantileValsOf(docs), perLang)
  }
}
