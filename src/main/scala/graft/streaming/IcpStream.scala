package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Similarity

/** Streaming maintenance of the IN-CONTEXT-PRETRAINING ORDER
  * ([[Similarity.corpusIcp]]) — the curriculum as a standing pipeline:
  * vectors arrive in crawl-ordered batches, each batch's members are
  * assigned to their (cell, shard) chains under the FROZEN quantizer
  * and shard counts (the `sim_index_upsert` frozen-index contract, so
  * chain keys never re-shuffle as data arrives), and each chain is
  * EXTENDED by the shared greedy kernel ([[Similarity.chainFrom]])
  * continuing from the chain's carried TAIL — the arriving docs pack
  * next to their nearest already-ordered neighbors without
  * re-ordering anything already emitted (an ordering already consumed
  * by a trainer is immutable; only appends are allowed).
  *
  * Chain extension is ORDER-SENSITIVE (appending is neither
  * commutative nor idempotent), so the tail state rides
  * [[SnapshotStream]]'s versioned rule: a replayed batch re-reads the
  * same predecessor tails, recomputes the same segment, rewrites the
  * same version. State = one row per chain
  * (tail id, absolute position, tail vector): |chains| ≈ N/cap rows —
  * heavier than the |langs|-row cursor class, so versions are written
  * partitioned; at 100 TB the version would be bucketed by chain hash
  * with only touched buckets rewritten (the [[graft.sources.ZMaintain]]
  * layout), the documented next step if chain counts grow hot.
  *
  * THE FOLD IDENTITY (what the gate pins): batch-wise greedy appending
  * equals ONE greedy walk whose hop rule prefers the EARLIEST BATCH
  * first, then max dot, then min id — so the oracle is the corpus_icp
  * recursive walk with the candidate's batch prepended to its ORDER BY.
  */
object IcpStream {

  /** Batch members with chain keys and vectors — the frozen
    * [[Similarity.icpAssign]] restricted to the arriving ids. */
  private[graft] def membersOf(s: SparkSession, dir: String,
      batch: DataFrame): DataFrame =
    Similarity.icpAssign(s, dir)
      .join(batch.select(col("vec_id")), "vec_id")
      .join(Similarity.scaled(s, dir), "vec_id")
      .select(col("cell"), col("sub"), col("vec_id"), col("ev"))

  /** Extend each touched chain with this batch's members, continuing
    * from the carried tails (fresh chains start at their min id). */
  private[graft] def appendSegment(members: DataFrame,
      state: Option[DataFrame]): DataFrame = {
    val s = members.sparkSession
    import s.implicits._
    val based = state match {
      case Some(st) =>
        members.join(st.select(col("cell"), col("sub"),
            col("tail_pos"), col("tail_ev")), Seq("cell", "sub"), "left")
      case None =>
        members.withColumn("tail_pos", lit(null).cast("long"))
          .withColumn("tail_ev", lit(null).cast("array<long>"))
    }
    based.select(col("cell"), col("sub"), col("vec_id"), col("ev"),
        col("tail_pos"), col("tail_ev"))
      .as[(Long, Long, Long, Seq[Long], Option[Long], Option[Seq[Long]])]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, Long),
          it: Iterator[(Long, Long, Long, Seq[Long], Option[Long], Option[Seq[Long]])]) =>
        val (cell, sub) = key
        val rows = it.toArray
        val m = rows.map(r => (r._3, r._4.toArray)).sortBy(_._1)
        val tail = rows.head._6.map(tv => (tv.toArray, rows.head._5.get.toInt))
        Similarity.chainFrom(m, tail)
          .map { case (pos, id, d) => (cell, sub, pos, id, d) }
      }.toDF("cell", "sub", "pos", "vec_id", "dot_prev")
  }

  /** The chains' new tails after a segment: the max-pos member of each
    * touched chain, vector re-read from the embeddings table. */
  private[graft] def tailsOf(s: SparkSession, dir: String,
      segment: DataFrame): DataFrame =
    segment.groupBy(col("cell"), col("sub"))
      .agg(max(col("pos")).cast("long").as("tail_pos"),
        expr("max_by(vec_id, pos)").as("vec_id"))
      .join(Similarity.scaled(s, dir), "vec_id")
      .select(col("cell"), col("sub"), col("vec_id").as("tail_id"),
        col("tail_pos"), col("ev").as("tail_ev"))

  /** Tail merge — REPLACE per touched chain, carry the rest. Chain
    * keys are never null, so a plain full-outer coalesce is exact. */
  private[graft] def mergeTails(prev: DataFrame, fresh: DataFrame): DataFrame =
    prev.select(col("cell").as("ca"), col("sub").as("sa"),
        col("tail_id").as("ia"), col("tail_pos").as("pa"), col("tail_ev").as("ea"))
      .join(fresh.select(col("cell").as("cb"), col("sub").as("sb"),
          col("tail_id").as("ib"), col("tail_pos").as("pb"), col("tail_ev").as("eb")),
        col("ca") === col("cb") && col("sa") === col("sb"), "full_outer")
      .select(coalesce(col("ca"), col("cb")).as("cell"),
        coalesce(col("sa"), col("sb")).as("sub"),
        coalesce(col("ib"), col("ia")).as("tail_id"),
        coalesce(col("pb"), col("pa")).as("tail_pos"),
        coalesce(col("eb"), col("ea")).as("tail_ev"))

  /** foreachBatch sink: this batch's chain segments under the
    * predecessor tails, then the advanced tails as `v=<batchId>`. */
  def icpSink(dir: String, tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val members = membersOf(s, dir, batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val prev = SnapshotStream.predecessor(s, s"$tableDir/tail", batchId)
      val segment = appendSegment(members, prev)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        SnapshotStream.appendBatch(segment, tableDir, batchId)
        val fresh = tailsOf(s, dir, segment)
        SnapshotStream.commit(prev.fold(fresh)(mergeTails(_, fresh)),
          s"$tableDir/tail", batchId)
      } finally segment.unpersist()
    } finally members.unpersist()
  }

  /** The maintained order: every appended segment. */
  def storedOrder(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.readAppended(s, tableDir, "ordered segments")

  /** Gate: two crawl-ordered batches through the tail-carry chain; the
    * segments' union must equal the batch-preferring greedy walk the
    * oracle replays (the fold identity above).
    *
    * @note the returned frame's plan pins a PERSISTED segment (seg1
    *       feeds two consumers). The harness releases it between gates
    *       via [[graft.Graft.releaseState]]; a direct library caller
    *       owns that release — `Graft.releaseState(spark)` after
    *       consuming the result, or segment-sized cache blocks
    *       accumulate across calls. */
  def streamIcp(s: SparkSession, dir: String): DataFrame = {
    val Seq(e1, e2) = graft.Graft.rangeSplit(
      Tables.embeddings(s, dir).select(col("vec_id")), "vec_id", 2)
    // seg1 feeds two consumers (its own output + batch 2's carried
    // tails) — persisted so the assignment+greedy runs once; released
    // by the harness clearCache between queries (the allpairs contract)
    val seg1 = appendSegment(membersOf(s, dir, e1), None)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seg2 = appendSegment(membersOf(s, dir, e2),
      Some(tailsOf(s, dir, seg1)))
    seg1.unionByName(seg2)
  }

  /** Twin: the corpus_icp recursive walk with the candidate's BATCH
    * prepended to the hop ORDER BY — batch-wise greedy appending is
    * exactly the earliest-batch-first walk. */
  val streamIcpSql: String =
    s"""WITH RECURSIVE ${Similarity.icpAssignCtesSql},
       |mid AS (
       |  SELECT MIN(vec_id) + (MAX(vec_id) - MIN(vec_id)) // 2 AS m
       |  FROM embeddings),
       |bassign AS (
       |  SELECT a.vec_id, a.cell, a.sub,
       |         CASE WHEN a.vec_id <= (SELECT m FROM mid) THEN 1 ELSE 2 END AS batch
       |  FROM iassign a),
       |pairdots AS (
       |  SELECT x.cell, x.sub, x.vec_id AS a, y.vec_id AS b, y.batch AS bb,
       |         CAST(SUM(ea.e * eb.e) AS BIGINT) AS d
       |  FROM bassign x
       |  JOIN bassign y ON x.cell = y.cell AND x.sub = y.sub AND x.vec_id <> y.vec_id
       |  JOIN ev ea ON ea.vec_id = x.vec_id
       |  JOIN ev eb ON eb.vec_id = y.vec_id AND ea.i = eb.i
       |  GROUP BY 1, 2, 3, 4, 5),
       |starts AS (
       |  SELECT cell, sub, vec_id FROM (
       |    SELECT cell, sub, vec_id,
       |           ROW_NUMBER() OVER (PARTITION BY cell, sub ORDER BY batch, vec_id) AS rn
       |    FROM bassign) WHERE rn = 1),
       |walk(cell, sub, vec_id, pos, seen, dprev) AS (
       |  SELECT s.cell, s.sub, s.vec_id, 1, '|' || s.vec_id || '|', CAST(0 AS BIGINT)
       |  FROM starts s
       |  UNION ALL
       |  SELECT w.cell, w.sub, nx.b, w.pos + 1, w.seen || nx.b || '|', nx.d
       |  FROM walk w, LATERAL (
       |    SELECT d.b, d.d FROM pairdots d
       |    WHERE d.cell = w.cell AND d.sub = w.sub AND d.a = w.vec_id
       |      AND POSITION('|' || d.b || '|' IN w.seen) = 0
       |    ORDER BY d.bb, d.d DESC, d.b LIMIT 1) nx)
       |SELECT cell, sub, CAST(pos AS INT) AS pos, vec_id, dprev AS dot_prev
       |FROM walk""".stripMargin
}
