package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Features

/** Streaming maintenance of the per-group SCALING STATISTICS — the
  * state behind online feature normalization: a trainer consuming an
  * ingest stream needs z-score/min-max parameters that cover
  * everything seen so far, without rescanning the corpus per batch.
  *
  * The state is tiny and fully mergeable: per lang (Σx, Σx² as
  * DECIMAL, n, min, max). Sums and counts are associative+commutative
  * (NOT idempotent — so the state rides [[SnapshotStream]]'s
  * versioned rule and a replay never double-adds); extrema are
  * idempotent anyway.
  * |langs| rows of driver-free state — the sketch-stream class, so a
  * single-file write per version is correct here (unlike the
  * corpus-shaped ER/novelty states).
  *
  * THE FOLD IDENTITY (what the gate pins): addition/least/greatest
  * over any batching equal the one-shot aggregation, so scoring the
  * corpus under the FOLDED stats must reproduce `feat_scale` exactly
  * — the gate's oracle IS [[Features.featScaleSql]].
  */
object FeatureStream {

  private[graft] def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("lang"), col("sx").as("sxa"), col("sxx").as("sxxa"),
        col("n").as("na"), col("lo").as("loa"), col("hi").as("hia"))
      .join(b.select(col("lang"), col("sx").as("sxb"), col("sxx").as("sxxb"),
        col("n").as("nb"), col("lo").as("lob"), col("hi").as("hib")), Seq("lang"), "full_outer")
      .select(col("lang"),
        (coalesce(col("sxa"), lit(0)) + coalesce(col("sxb"), lit(0)))
          .cast("decimal(38,0)").as("sx"),
        (coalesce(col("sxxa"), lit(0)) + coalesce(col("sxxb"), lit(0)))
          .cast("decimal(38,0)").as("sxx"),
        (coalesce(col("na"), lit(0L)) + coalesce(col("nb"), lit(0L))).as("n"),
        least(coalesce(col("loa"), col("lob")), coalesce(col("lob"), col("loa"))).as("lo"),
        greatest(coalesce(col("hia"), col("hib")), coalesce(col("hib"), col("hia"))).as("hi"))

  /** foreachBatch sink: fold the batch's stats into version
    * `batchId` over its predecessor. */
  def scaleSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val batchStats = Features.statsOf(
      batch.select(col("doc_id"), col("lang"), col("n_chars")))
    val merged = SnapshotStream.predecessor(batch.sparkSession, tableDir, batchId)
      .fold(batchStats)(merge(_, batchStats))
    SnapshotStream.commit(merged.coalesce(1), tableDir, batchId)
  }

  /** The maintained stats (newest committed version). */
  def storedStats(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.latest(s, tableDir, "scaling-stats")

  /** Gate: two-range-batch fold of the stats, corpus scored under the
    * FOLDED table. Oracle IS `feat_scale`'s SQL — the fold identity. */
  def streamFeatScale(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars"))
    val Seq(d1, d2) = graft.Graft.rangeSplit(d, "doc_id", 2)
    val folded = merge(Features.statsOf(d1), Features.statsOf(d2))
    Features.scaleOver(d, folded)
  }
}
