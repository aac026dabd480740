package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.KMeans

/** Streaming maintenance of k-means cell state — the mini-batch
  * clustering shape (Sculley's web-scale/mini-batch k-means, WWW 2010)
  * under a FROZEN assignment codebook: each arriving embedding batch
  * is assigned to its nearest frozen seed and folded into standing
  * per-(cell, dim) (Σ, count) state, so "centroids over everything
  * ingested so far" stays queryable without a corpus-scale rescan.
  *
  * Seeds are frozen by a corpus-membership-independent rule
  * ([[KMeans.frozenSeeds]]); assignment therefore depends only on the
  * row itself, and (Σ, n) addition is associative/commutative — THE
  * FOLD IDENTITY: any batching, any arrival order folds to exactly the
  * one-shot Lloyd update round. The gate runs a two-range-batch fold
  * and its oracle is the one-shot first assign/update round of
  * [[KMeans.embKmeansSql]]'s CTE chain — a drift anywhere (lost batch,
  * double merge, seed skew) breaks the hash. A refreshed codebook is a
  * new epoch: re-seed, replay state from the change log (the
  * [[SnapshotStream]] versioning below), not an in-place mutation.
  *
  * State is O(KmC × dim) longs regardless of corpus size — the
  * mergeable-sketch discipline ([[SketchStream]]) applied to vector
  * state. [[SnapshotStream]]'s versioned rule makes an at-least-once
  * feed exactly-once.
  */
object CentroidStream {

  /** Pointwise state merge: (Σ, n) addition per (cell, dim). */
  private[graft] def mergeState(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("cell"), col("i"))
      .agg(sum(col("s")).as("s"), sum(col("n")).as("n"))

  /** Maintained state → centroid table: every seed cell appears, empty
    * cells keep their seed coordinates (the embKmeans empty-cell rule);
    * `div` is truncating on both engines' twins. */
  private def centroidsOf(s: SparkSession, cents: Array[Array[Long]],
      state: DataFrame): DataFrame =
    KMeans.seedFrame(s, cents).join(state, Seq("cell", "i"), "left")
      .select(col("cell").cast("long").as("cell"), col("i").cast("long").as("i"),
        coalesce(col("n"), lit(0L)).as("n_members"),
        coalesce(expr("s div n"), col("e0")).as("e"))

  /** foreachBatch sink: fold `batch`'s cell state into the stored one
    * (versions under `$tableDir/cells`). `seedDir` pins the frozen
    * codebook's home (the corpus the seed RULE reads). */
  def centroidSink(tableDir: String, seedDir: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/cells"
    val local = KMeans.cellStateOf(batch, KMeans.frozenSeeds(s, seedDir))
    val merged = SnapshotStream.predecessor(s, dir, batchId)
      .fold(local)(mergeState(_, local))
    SnapshotStream.commit(merged.coalesce(1), dir, batchId)
  }

  /** The maintained centroid table (latest committed version). */
  def storedCentroids(s: SparkSession, tableDir: String,
      seedDir: String): DataFrame = {
    val state = SnapshotStream.latest(s, s"$tableDir/cells", "cell-state")
    centroidsOf(s, KMeans.frozenSeeds(s, seedDir), state)
  }

  /** Gate: two-range-batch fold of the embedding corpus through the
    * cell-state merge; oracle = the ONE-SHOT first assign/update round
    * (the fold identity). */
  def streamKmeans(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val Seq(e1, e2) = graft.Graft.rangeSplit(emb, "vec_id", 2)
    val cents = KMeans.frozenSeeds(s, dir)
    val st = mergeState(KMeans.cellStateOf(e1, cents), KMeans.cellStateOf(e2, cents))
    centroidsOf(s, cents, st)
  }

  /** One-shot first assign/update round with member counts — textually
    * the `ev/c0/a1` chain of [[KMeans.embKmeansSql]] plus the
    * truncating-division update, LEFT-joined so empty cells surface
    * with their seed coordinates. */
  val streamKmeansSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id, i, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
       |c0 AS (SELECT vec_id AS cell, i, e FROM ev WHERE vec_id < ${KMeans.KmC}),
       |a1 AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT ev.vec_id, c.cell,
       |           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
       |                              ORDER BY SUM(ev.e * c.e) DESC, c.cell) AS rn
       |    FROM ev JOIN c0 c ON ev.i = c.i
       |    GROUP BY ev.vec_id, c.cell)
       |  WHERE rn = 1),
       |u AS (
       |  -- SUM over BIGINT is HUGEINT in DuckDB; cast back so e stays
       |  -- BIGINT end-to-end like the Spark side
       |  SELECT a.cell, ev.i, CAST(SUM(ev.e) AS BIGINT) AS s, COUNT(1) AS n
       |  FROM a1 a JOIN ev ON ev.vec_id = a.vec_id
       |  GROUP BY a.cell, ev.i)
       |SELECT CAST(p.cell AS BIGINT) AS cell, CAST(p.i - 1 AS BIGINT) AS i,
       |       CAST(COALESCE(u.n, 0) AS BIGINT) AS n_members,
       |       CAST(COALESCE(CASE WHEN u.s >= 0 THEN u.s // u.n
       |                          ELSE 0 - ((0 - u.s) // u.n) END, p.e) AS BIGINT) AS e
       |FROM c0 p LEFT JOIN u ON u.cell = p.cell AND u.i = p.i""".stripMargin
}
