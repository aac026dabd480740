package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.operators.Snapshots

/** Streaming SCD-2 maintenance — the third stream-maintenance fold
  * (alongside [[ParagraphStream]]'s anti-join state and
  * [[SketchStream]]'s counter state): each micro-batch of row versions
  * folds into the standing history table via
  * [[Snapshots.historyStep]] (close open intervals for arriving keys,
  * append the new open row-versions), under [[SnapshotStream]]'s
  * versioned rule — so an at-least-once feed maintains the history
  * exactly-once.
  *
  * THE MAINTENANCE IDENTITY (what `stream_history` pins and
  * StreamingSpec re-drives through a real checkpointed query): the
  * incremental fold equals [[Snapshots.historyOver]]'s whole-log
  * rebuild for any batch split — so AS-OF reads against the
  * stream-maintained table are exactly the reads the rebuild would
  * serve.
  */
object HistoryStream {

  /** foreachBatch sink: fold `batch` into the history table (versions
    * under `$tableDir/hist`) as version `batchId`. */
  def historySink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/hist"
    val prev = SnapshotStream.predecessor(s, dir, batchId).getOrElse(batch
      .withColumn("valid_from", lit(0L)).withColumn("valid_to", lit(0L)).where(lit(false)))
    SnapshotStream.commit(Snapshots.historyStep(prev, batch, batchId), dir, batchId)
  }

  /** The maintained history (latest committed version). */
  def currentHistory(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.latest(s, s"$tableDir/hist", "history")
}
