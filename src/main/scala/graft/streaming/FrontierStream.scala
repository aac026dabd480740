package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.web.{UrlOps, WebIngest}

/** Streaming maintenance of the CRAWL FRONTIER — "which URLs have we
  * discovered but not yet fetched, and who referred to them first?" —
  * kept fresh per ingest batch ([[WebIngest.webFrontier]]'s result as
  * standing state).
  *
  * The frontier is an anti-join, which is NOT monotone: a URL leaves
  * the frontier when a later batch crawls it. Folding the anti-join
  * itself would make replay unsafe. So the state is TWO monotone
  * tables instead — `discovered` (norm → MIN referring doc) and
  * `crawled` (norm) — each folded with an idempotent merge (MIN /
  * set-union), and the frontier is computed at READ time as
  * discovered ⟕̸ crawled. Idempotence means an at-least-once replay
  * of any batch is a no-op by arithmetic alone, the
  * [[graft.streaming.NoveltyStream]] contract.
  *
  * Scale honesty: both tables are CORPUS-SIZED (one row per distinct
  * URL ever seen), so — like the first-seen gram table — they live
  * URL-hash-BUCKETED under `b=` dirs and each batch folds through
  * [[graft.sources.ZMaintain.mergeBucketed]]: per-batch I/O is Σ
  * touched-bucket bytes, untouched bucket files never opened. The
  * read-time anti-join co-partitions for free when both sides use the
  * same bucket recipe.
  *
  * THE FOLD IDENTITY (what the gate pins): min/union over any
  * batching equals the one-shot aggregation, so the folded frontier
  * must reproduce the batch `web_frontier`'s URL set with first_seen
  * = the min referrer — the gate's oracle is that projection of
  * [[WebIngest.webFrontierSql]]'s CTEs.
  */
object FrontierStream {

  /** Batch-local discoveries: one row per distinct outlink URL with
    * its earliest referring doc (ONE mergeable aggregation). */
  private[graft] def discoveredOf(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    WebIngest.linksOf(batch)
      .select(col("doc_id"), col("url")).as[(Long, String)]
      .mapPartitions(_.map { case (id, u) => (UrlOps.normalize(u), id) })
      .toDF("norm", "first_seen")
      .groupBy(col("norm")).agg(min(col("first_seen")).as("first_seen"))
  }

  private[graft] def crawledBatchOf(batch: DataFrame): DataFrame =
    WebIngest.crawledOf(batch).distinct()

  /** Keyed state merges — both idempotent: pointwise MIN / set union. */
  private[graft] def mergeDiscovered(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("norm"), col("first_seen").as("fa"))
      .join(b.select(col("norm"), col("first_seen").as("fb")), Seq("norm"), "full_outer")
      .select(col("norm"),
        least(coalesce(col("fa"), col("fb")), coalesce(col("fb"), col("fa")))
          .as("first_seen"))

  private[graft] def mergeCrawled(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("norm")).union(b.select(col("norm"))).distinct()

  val NBuckets = 64

  private[graft] def urlBucket: Column =
    pmod(hash(col("norm")), lit(NBuckets)).cast("long")

  /** foreachBatch sink: fold the batch's discoveries and crawled URLs
    * into the two bucketed state tables. */
  def frontierSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    graft.sources.ZMaintain.mergeBucketed(s, s"$tableDir/discovered",
      discoveredOf(batch), urlBucket, mergeDiscovered, sortWithin = Some("norm"))
    graft.sources.ZMaintain.mergeBucketed(s, s"$tableDir/crawled",
      crawledBatchOf(batch), urlBucket, mergeCrawled, sortWithin = Some("norm"))
  }

  /** The maintained frontier: read-time anti-join of the two states. */
  def storedFrontier(s: SparkSession, tableDir: String): DataFrame = {
    def read(part: String) = SnapshotStream.readDir(s, s"$tableDir/$part", "frontier state")
    read("discovered").select(col("norm"), col("first_seen"))
      .join(read("crawled").select(col("norm")), Seq("norm"), "left_anti")
  }

  /** Gate: two-range-batch fold, frontier read back from the folded
    * states. Oracle is the URL-set projection of `web_frontier` —
    * the min/union fold identity. */
  def streamFrontier(s: SparkSession, dir: String): DataFrame = {
    val Seq(b1, b2) = graft.Graft.rangeSplit(Tables.documents(s, dir), "doc_id", 2)
    mergeDiscovered(discoveredOf(b1), discoveredOf(b2))
      .join(mergeCrawled(crawledBatchOf(b1), crawledBatchOf(b2)), Seq("norm"), "left_anti")
  }
}
