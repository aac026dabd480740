package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.CorpusOps

/** Streaming maintenance of the FIRST-OCCURRENCE gram table — the
  * state behind incremental novelty scoring: "which 3-grams has this
  * corpus ever seen, and where first?" kept fresh per ingest batch, so
  * an arriving document scores against ALL history without a corpus
  * rescan ([[CorpusOps.taNovelty]]'s signal as standing state).
  *
  * The state is (g → min doc_id). MIN is associative, commutative AND
  * idempotent, so — like the HLL registers and unlike the CMS/quantile
  * counters — the fold is replay-safe by arithmetic alone. That
  * idempotence is what licenses the bucket-localized layout below: a
  * crash that lands only a subset of the touched buckets converges on
  * the at-least-once redelivery ([[graft.sources.ZMaintain
  * .mergeBucketed]]'s crash/replay contract).
  *
  * Scale honesty: unlike the sketch states this table is
  * CORPUS-VOCABULARY-SIZED (one row per distinct gram ever seen), so
  * per-batch I/O must be O(batch), never O(corpus vocab). The state
  * therefore lives GRAM-BUCKETED under `b=` partition dirs
  * ([[NBuckets]] dirs, b = hash(g) mod NBuckets) and each batch folds
  * through [[graft.sources.ZMaintain.mergeBucketed]]: one batch-scan
  * aggregation, a merge that READS ONLY the buckets the batch's grams
  * hash to, and a dynamic partition overwrite of exactly those dirs —
  * untouched bucket files are never opened (byte-stable,
  * StreamingSpec-pinned). At 100 TB NBuckets scales to thousands
  * (the [[graft.sources.Bucketing]] sizing rule) and the per-batch
  * cost is Σ touched-bucket bytes, batch-bounded.
  *
  * THE FOLD IDENTITY (what the gate pins): min over any batching of
  * the corpus equals the one-shot min, so the folded state regrouped
  * by doc must reproduce `ta_novelty` exactly — oracle IS
  * [[CorpusOps.taNoveltySql]].
  */
object NoveltyStream {

  /** Batch-local first-occurrence table: ONE mergeable aggregation. */
  private[graft] def firstSeenOf(batch: DataFrame): DataFrame =
    CorpusOps.noveltyGramsOf(batch)
      .groupBy(col("g")).agg(min(col("doc_id")).as("doc_id"))

  /** Keyed state merge: full-outer on the gram, pointwise MIN (LEAST
    * with a null-absorbing coalesce on each side). */
  private[graft] def mergeFirstSeen(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("g"), col("doc_id").as("da"))
      .join(b.select(col("g"), col("doc_id").as("db")), Seq("g"), "full_outer")
      .select(col("g"),
        least(coalesce(col("da"), col("db")), coalesce(col("db"), col("da")))
          .as("doc_id"))

  /** Gram-bucket fan-out of the stored state — small for the fixture;
    * thousands at 100 TB (the [[graft.sources.Bucketing]] sizing rule). */
  val NBuckets = 64

  /** The bucket recipe: a pure function of the stored gram column,
    * recomputed by every merge (never stored stale). */
  private[graft] def gramBucket: org.apache.spark.sql.Column =
    pmod(hash(col("g")), lit(NBuckets)).cast("long")

  /** foreachBatch sink: fold the batch's first-occurrence table into
    * the gram-bucketed stored state under `$tableDir/firstseen` —
    * reads and rewrites ONLY the buckets the batch's grams hash to. */
  def noveltySink(tableDir: String)(batch: DataFrame, batchId: Long): Unit =
    graft.sources.ZMaintain.mergeBucketed(batch.sparkSession,
      s"$tableDir/firstseen", firstSeenOf(batch), gramBucket,
      mergeFirstSeen, sortWithin = Some("g"))

  /** The maintained first-occurrence table. */
  def storedFirstSeen(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.readDir(s, s"$tableDir/firstseen", "first-seen state")
      .select(col("g"), col("doc_id"))

  /** Gate: two-range-batch fold of the first-occurrence state, scored
    * with the shared novelty projection. Oracle IS `ta_novelty`'s SQL
    * — the min-merge fold identity. */
  def streamNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val Seq(b1, b2) = graft.Graft.rangeSplit(docs, "doc_id", 2)
    val merged = mergeFirstSeen(firstSeenOf(b1), firstSeenOf(b2))
    CorpusOps.noveltyOver(CorpusOps.noveltyGramsOf(docs), merged)
  }
}
