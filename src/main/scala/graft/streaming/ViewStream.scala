package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.Ivm

/** Streaming incremental view maintenance — the fourth
  * stream-maintenance fold (alongside [[ParagraphStream]],
  * [[SketchStream]], and [[HistoryStream]]): each micro-batch is a
  * CHANGE FEED ([[Ivm.changeFeedOver]] rows: op + old/new values) and
  * folds into the standing aggregate view via [[Ivm.applyFeed]], under
  * [[SnapshotStream]]'s versioned rule — an at-least-once feed
  * maintains the view exactly-once (signed deltas are NOT idempotent
  * on their own — applying a feed twice double-counts — so the
  * versioned sink is load-bearing here, more than for any other fold).
  *
  * THE MAINTENANCE IDENTITY (what `stream_ivm` pins and StreamingSpec
  * re-drives through a real checkpointed query): bootstrap-from-empty
  * plus the feed fold equals the from-scratch recompute over the
  * latest version — one code path backfills a new view and keeps it
  * fresh.
  */
object ViewStream {

  /** foreachBatch sink: fold the change-feed `batch` into the view
    * (versions under `$tableDir/view`) as version `batchId`. */
  def viewSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/view"
    val prev = SnapshotStream.predecessor(s, dir, batchId).getOrElse(
      batch.select(col("n_source").as("source"), col("n_lang").as("lang"),
        lit(0L).as("n_docs"), lit(0L).as("sum_chars")).where(lit(false)))
    SnapshotStream.commit(Ivm.applyFeed(prev, batch), dir, batchId)
  }

  /** The maintained view (latest committed version). */
  def currentView(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.latest(s, s"$tableDir/view", "view")
}
