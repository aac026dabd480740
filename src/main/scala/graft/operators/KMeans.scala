package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Lloyd-iteration k-means over the embeddings table — the "real"
  * IVF training step that [[Similarity.simIvfTopk]]'s first-C-vectors
  * seeding stands in for (its scaladoc promises to "swap in k-means
  * offline at scale"; this is that operator).
  *
  * Distributed shape per iteration (the only shape that works at
  * 100 TB):
  *  - ASSIGN: centroids (C×dim longs, ~KB) broadcast; one
  *    mapPartitions pass scores every vector against all C and emits
  *    (cell, dim, element) triples — no shuffle of vectors, no driver
  *    traffic.
  *  - UPDATE: hash aggregation on (cell, dim) — C×dim distinct keys, so
  *    map-side partial aggregation caps shuffle volume at
  *    partitions × C × dim regardless of corpus size; the C×dim
  *    centroid table collected to the driver is O(KB).
  * Iterations are a driver loop over broadcasts — same round structure
  * GraphX/MLlib k-means uses.
  *
  * Exact cross-engine determinism (hash-checked oracle, rare for an
  * iterative ML op): elements are ×10⁶-scaled longs; dots are exact
  * integer sums; the centroid mean is TRUNCATING integer division
  * (Spark `div`; mirrored in DuckDB with an explicit sign-handling
  * floor-division wrapper since `//` floors); assignment ties break to
  * the smaller cell id; empty cells keep their previous centroid. The
  * oracle unrolls the [[KmIters]] iterations as a CTE chain.
  */
object KMeans {

  /** Cell count (also the seed vectors: cell j starts at vec_id j). */
  val KmC = 16
  /** Lloyd iterations (assign→update); one final assignment after. */
  val KmIters = 2

  private def dot(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** argmax-dot cell for one vector; ties to the smaller cell id. */
  private def bestCell(ev: Array[Long], cents: Array[Array[Long]]): Int = {
    var best = 0; var bestD = Long.MinValue
    var c = 0
    while (c < cents.length) {
      val d = dot(ev, cents(c))
      if (d > bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Frozen seed centroids (the [[embKmeans]] round-1 init): the first
    * [[KmC]] vectors by id — a corpus-MEMBERSHIP-independent rule, so
    * every batch of an incremental fold sees identical seeds (the
    * precondition for the centroid-state fold identity
    * [[graft.streaming.CentroidStream]] gates). */
  private[graft] def frozenSeeds(s: SparkSession, dir: String): Array[Array[Long]] = {
    val (ids, vecs) = VecKernel.collectScaled(s, dir, Some(col("vec_id") < KmC))
    require(ids.length == KmC, s"need $KmC seed vectors, got ${ids.length}")
    vecs
  }

  /** Batch-local centroid state: assign each vector of `batch` (an
    * embeddings-shaped frame) to its argmax-dot frozen seed, then
    * aggregate (Σe, count) per (cell, dim) — the MERGEABLE half of a
    * Lloyd update round. (Σ, n) addition is associative/commutative,
    * so any batching folds to the one-shot round exactly. */
  private[graft] def cellStateOf(batch: DataFrame,
      cents: Array[Array[Long]]): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val scaled = batch.select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("ev"))
      .as[(Long, Seq[Long])]
    val bc = s.sparkContext.broadcast(cents)
    scaled.mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { case (_, emb) =>
          val ev = emb.toArray
          val cell = bestCell(ev, cs)
          ev.iterator.zipWithIndex.map { case (e, i) => (cell, i, e) }
        }
      }.toDF("cell", "i", "e")
      .groupBy(col("cell"), col("i"))
      .agg(sum(col("e")).as("s"), count(lit(1)).as("n"))
  }

  /** Seed centroids as a (cell, i, e) frame (driver-built: KmC×dim
    * rows), for joining maintained state back to its init. */
  private[graft] def seedFrame(s: SparkSession,
      cents: Array[Array[Long]]): DataFrame = {
    import s.implicits._
    cents.iterator.zipWithIndex.flatMap { case (v, c) =>
      v.iterator.zipWithIndex.map { case (e, i) => (c, i, e) }
    }.toSeq.toDF("cell", "i", "e0")
  }

  def embKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scaled = scaledDs(s, dir) // shared ×10⁶ convention with the PQ family

    // seed: first C vectors, pushed-down scan, O(C·dim) driver traffic
    val (seedIds, seedVecs) =
      VecKernel.collectScaled(s, dir, Some(col("vec_id") < KmC))
    require(seedIds.length == KmC, s"need $KmC seed vectors, got ${seedIds.length}")
    var cents: Array[Array[Long]] = seedVecs

    for (_ <- 1 to KmIters) {
      val bc = s.sparkContext.broadcast(cents)
      // one pass: assign + emit (cell, dim, element) for the update agg
      val contrib = scaled.mapPartitions { rows =>
        val cs = bc.value
        rows.flatMap { case (_, emb) =>
          val ev = emb.toArray
          val cell = bestCell(ev, cs)
          ev.iterator.zipWithIndex.map { case (e, i) => (cell, i, e) }
        }
      }.toDF("cell", "i", "e")
      val upd = contrib.groupBy(col("cell"), col("i"))
        .agg(sum(col("e")).as("sum_e"), count(lit(1)).as("n"))
        .selectExpr("cell", "i", "sum_e div n as e") // truncating int div
        .collect()
      val next = cents.map(_.clone()) // empty cells keep old centroid
      upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      cents = next
      // non-blocking: destroy() blocks on a cleaner RPC round (default
      // ask timeout 120 s) and can stall the whole query if the
      // BlockManager is busy; async unpersist drops executor copies and
      // the ContextCleaner reclaims the rest once the ref is GC'd
      bc.unpersist(blocking = false)
    }

    val bc = s.sparkContext.broadcast(cents)
    val assigned = scaled.mapPartitions { rows =>
      val cs = bc.value
      rows.map { case (id, emb) => (id, bestCell(emb.toArray, cs).toLong) }
    }.toDF("vec_id", "cell")
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    assigned.join(broadcast(sizes), "cell")
      .select(col("vec_id"), col("cell"), col("n_members"))
  }

  // ------------------------------------------------------------ emb_pq
  /** Product-quantization encode — the ANN-index compression step that
    * follows scalar quantization: the vector is split into [[PqM]]
    * subspaces and each subvector is replaced by the id of its nearest
    * codebook centroid, storing M bytes per vector instead of dim
    * floats. Codebooks here are seeded from the first [[PqC]] vectors
    * (codebook TRAINING is [[embKmeans]]'s job — at scale you run Lloyd
    * per subspace offline; the encode operator is identical either way).
    *
    * Distributed shape: codebooks are C×dim longs (~KB) broadcast; one
    * mapPartitions pass encodes every vector — shuffle-free, linear,
    * O(C·dim) work per row. Exact integer L2 on ×10⁶-scaled elements
    * (ties to the smaller centroid id), so codes AND total distortion
    * hash-check against DuckDB. */
  val PqM = 4
  val PqC = 8

  /** The oracle's `cell = vec_id` twin and the positional codes rely on
    * codebook ids being dense and 0-based; a sparse or 1-based id space
    * would silently shift every code. */
  private[operators] def requirePqCodebook(cbIds: Array[Long], cb: Array[Array[Long]]): Unit = {
    require(cbIds.nonEmpty,
      s"empty pq codebook: no vec_id < $PqC rows in the embeddings table")
    require(cbIds.sameElements(0L until cbIds.length.toLong),
      s"pq codebook expects dense 0-based vec_ids, got [${cbIds.mkString(",")}]")
    require(PqM == 4,
      s"pq output row is built for exactly 4 subspace codes, got PqM=$PqM")
    require(cb(0).length % PqM == 0,
      s"dim ${cb(0).length} not divisible into $PqM subspaces")
  }

  /** Exact integer L2 argmin of subspace `m` of `ev` over the packed
    * codebook (ties to the smaller cell id). Returns (cell, distance). */
  private[operators] def bestPqCell(ev: Array[Long], cents: Array[Array[Long]],
      m: Int, dsub: Int): (Int, Long) = {
    var best = 0; var bestD = Long.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0L; var k = m * dsub; val end = (m + 1) * dsub
      while (k < end) {
        val diff = ev(k) - cents(c)(k); d += diff * diff; k += 1
      }
      if (d < bestD) { bestD = d; best = c } // strict < : ties keep smaller id
      c += 1
    }
    (best, bestD)
  }

  /** ×10⁶-scaled embeddings as a typed Dataset. */
  private def scaledDs(s: SparkSession, dir: String) = {
    import s.implicits._
    Tables.embeddings(s, dir).select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("ev"))
      .as[(Long, Seq[Long])]
  }

  /** Shuffle-free encode pass against a broadcast packed codebook
    * (cents(c)(k) holds subspace sub(k)'s centroid c at dimension k). */
  private def pqEncode(s: SparkSession, dir: String,
      packed: Array[Array[Long]]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(packed)
    scaledDs(s, dir).mapPartitions { rows =>
      val cents = bc.value
      val dsub = cents(0).length / PqM
      rows.map { case (id, emb) =>
        val ev = emb.toArray
        val codes = new Array[Int](PqM)
        var distortion = 0L
        var m = 0
        while (m < PqM) {
          val (best, bestD) = bestPqCell(ev, cents, m, dsub)
          codes(m) = best; distortion += bestD; m += 1
        }
        (id, codes(0), codes(1), codes(2), codes(3), distortion)
      }
    }.toDF("vec_id", "code_0", "code_1", "code_2", "code_3", "distortion")
  }

  def embPq(s: SparkSession, dir: String): DataFrame = {
    // codebook: first C vectors, filter pushed into the scan
    val (cbIds, cb) = VecKernel.collectScaled(s, dir, Some(col("vec_id") < PqC))
    requirePqCodebook(cbIds, cb)
    pqEncode(s, dir, cb)
  }

  // ----------------------------------------------------- emb_pq_trained
  /** Per-subspace Lloyd iterations for the PQ training step. */
  val PqIters = 2

  /** Product quantization with TRAINED codebooks — the full PQ recipe:
    * [[PqIters]] rounds of per-subspace Lloyd (assign each subvector to
    * its nearest codebook entry by exact integer L2, recenter each
    * entry on the truncating integer mean of its members), then the
    * same shuffle-free encode as [[embPq]]. All [[PqM]] subspaces train
    * in ONE distributed pass per round: the contribution triples key on
    * (cell, dim) and dim determines the subspace, so the update
    * aggregation has C×dim distinct keys and map-side partial
    * aggregation caps shuffle volume exactly as in [[embKmeans]].
    * Empty (subspace, cell) pairs keep their previous centroid;
    * assignment ties break to the smaller cell id; the truncating
    * integer mean mirrors the oracle's sign-handling wrapper — so
    * trained codes AND total distortion hash-check against the
    * [[PqIters]]-unrolled DuckDB CTE chain. */
  def embPqTrained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scaled = scaledDs(s, dir)
    val (cbIds, cb0) = VecKernel.collectScaled(s, dir, Some(col("vec_id") < PqC))
    requirePqCodebook(cbIds, cb0)
    var packed: Array[Array[Long]] = cb0.map(_.clone())
    for (_ <- 1 to PqIters) {
      val bc = s.sparkContext.broadcast(packed)
      val contrib = scaled.mapPartitions { rows =>
        val cents = bc.value
        val dsub = cents(0).length / PqM
        rows.flatMap { case (_, emb) =>
          val ev = emb.toArray
          (0 until PqM).iterator.flatMap { m =>
            val (cell, _) = bestPqCell(ev, cents, m, dsub)
            (m * dsub until (m + 1) * dsub).iterator.map(k => (cell, k, ev(k)))
          }
        }
      }.toDF("cell", "i", "e")
      val upd = contrib.groupBy(col("cell"), col("i"))
        .agg(sum(col("e")).as("sum_e"), count(lit(1)).as("n"))
        .selectExpr("cell", "i", "sum_e div n as e") // truncating int div
        .collect()
      val next = packed.map(_.clone()) // empty (sub, cell)s keep old centroid
      upd.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      packed = next
      bc.unpersist(blocking = false) // non-blocking, per embKmeans note
    }
    pqEncode(s, dir, packed)
  }

  /** DuckDB twin of [[embPqTrained]]: [[PqIters]] unrolled per-subspace
    * assign/update rounds, then the encode argmin. The update joins the
    * assignment back on (vec_id, sub) so each centroid dimension
    * averages only its own subspace's members; `//` is wrapped for
    * truncating (not flooring) division exactly as in [[embKmeansSql]]. */
  val embPqTrainedSql: String = {
    def assign(cte: String, cents: String): String =
      s"""$cte AS (
         |  SELECT vec_id, sub, cell FROM (
         |    SELECT v.vec_id, v.sub, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
         |                              ORDER BY SUM((v.e - c.e) * (v.e - c.e)), c.cell) AS rn
         |    FROM ev v JOIN $cents c ON v.i = c.i
         |    GROUP BY v.vec_id, v.sub, c.cell)
         |  WHERE rn = 1)""".stripMargin
    def update(cte: String, prevAssign: String, prevCents: String): String =
      s"""$cte AS (
         |  SELECT p.cell, p.i, p.sub,
         |         COALESCE(CASE WHEN u.s >= 0 THEN u.s // u.n
         |                       ELSE 0 - ((0 - u.s) // u.n) END, p.e) AS e
         |  FROM $prevCents p LEFT JOIN (
         |    SELECT a.cell, ev.i, SUM(ev.e) AS s, COUNT(1) AS n
         |    FROM $prevAssign a JOIN ev ON ev.vec_id = a.vec_id AND ev.sub = a.sub
         |    GROUP BY a.cell, ev.i) u
         |  ON u.cell = p.cell AND u.i = p.i)""".stripMargin
    s"""WITH ev AS (
       |  SELECT vec_id, i,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e,
       |    (i - 1) // (len(embedding) // $PqM) AS sub
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
       |c0 AS (SELECT vec_id AS cell, i, e, sub FROM ev WHERE vec_id < $PqC),
       |${assign("a1", "c0")},
       |${update("c1", "a1", "c0")},
       |${assign("a2", "c1")},
       |${update("c2", "a2", "c1")},
       |dfin AS (
       |  SELECT vec_id, sub, cell, d2 FROM (
       |    SELECT v.vec_id, v.sub, c.cell,
       |           SUM((v.e - c.e) * (v.e - c.e)) AS d2,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub
       |                              ORDER BY SUM((v.e - c.e) * (v.e - c.e)), c.cell) AS rn
       |    FROM ev v JOIN c2 c ON v.i = c.i
       |    GROUP BY v.vec_id, v.sub, c.cell)
       |  WHERE rn = 1)
       |SELECT vec_id,
       |  CAST(MAX(CASE WHEN sub = 0 THEN cell END) AS INT) AS code_0,
       |  CAST(MAX(CASE WHEN sub = 1 THEN cell END) AS INT) AS code_1,
       |  CAST(MAX(CASE WHEN sub = 2 THEN cell END) AS INT) AS code_2,
       |  CAST(MAX(CASE WHEN sub = 3 THEN cell END) AS INT) AS code_3,
       |  CAST(SUM(d2) AS BIGINT) AS distortion
       |FROM dfin GROUP BY vec_id""".stripMargin
  }

  /** DuckDB twin: per-(vector, subspace, centroid) exact integer L2,
    * argmin by ROW_NUMBER (d, cell) — same tie rule as the kernel. */
  val embPqSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id, i,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e,
       |    (i - 1) // (len(embedding) // $PqM) AS sub
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
       |cb AS (SELECT vec_id AS cell, i, e FROM ev WHERE vec_id < $PqC),
       |d AS (
       |  SELECT v.vec_id, v.sub, c.cell, SUM((v.e - c.e) * (v.e - c.e)) AS d2
       |  FROM ev v JOIN cb c ON v.i = c.i
       |  GROUP BY v.vec_id, v.sub, c.cell),
       |best AS (
       |  SELECT vec_id, sub, cell, d2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cell) AS rn
       |  FROM d)
       |SELECT vec_id,
       |  CAST(MAX(CASE WHEN sub = 0 THEN cell END) AS INT) AS code_0,
       |  CAST(MAX(CASE WHEN sub = 1 THEN cell END) AS INT) AS code_1,
       |  CAST(MAX(CASE WHEN sub = 2 THEN cell END) AS INT) AS code_2,
       |  CAST(MAX(CASE WHEN sub = 3 THEN cell END) AS INT) AS code_3,
       |  CAST(SUM(d2) AS BIGINT) AS distortion
       |FROM best WHERE rn = 1
       |GROUP BY vec_id""".stripMargin

  // ------------------------------------------------------ emb_quantize
  /** Int8 scalar quantization of the embedding store — the 4×
    * compression step a 100 TB vector lake applies before ANN indexing
    * (each dimension affine-mapped to 0..255 by its corpus-wide
    * min/max). Shapes: one flatten pass → a 64-row per-dimension
    * range table (broadcast back) → per-vector re-aggregation; nothing
    * grows with corpus size except the two linear scans.
    *
    * Everything is exact integer arithmetic on the ×10⁶-scaled
    * elements: q = (e−min)·255 div (max−min) (non-negative, so
    * truncation == floor in both engines), reconstruction
    * r = min + q·(max−min) div 255, and the per-vector distortion
    * Σ(e−r)² is an exact BIGINT — so even the lossy-compression
    * operator hash-checks against DuckDB. */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val flat = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("vec_id"), col("i"),
        round(col("x").cast("double") * lit(1000000.0)).cast("long").as("e"))
    val ranges = flat.groupBy(col("i"))
      .agg(min(col("e")).as("mn"), max(col("e")).as("mx"))
    val q = flat.join(broadcast(ranges), "i")
      .withColumn("q", when(col("mx") === col("mn"), lit(0L))
        .otherwise(expr("((e - mn) * 255) div (mx - mn)")))
      .withColumn("r", col("mn") + expr("(q * (mx - mn)) div 255"))
    q.groupBy(col("vec_id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("i"), col("q")))),
          x => x.getField("q").cast("string")), ",").as("q_csv"),
        sum(expr("(e - r) * (e - r)")).as("sq_err"),
        count(lit(1)).as("dim"))
  }

  val embQuantizeSql: String =
    """WITH ev AS (
      |  SELECT vec_id, i, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
      |ranges AS (SELECT i, MIN(e) AS mn, MAX(e) AS mx FROM ev GROUP BY i),
      |q AS (
      |  SELECT ev.vec_id, ev.i, ev.e,
      |         CASE WHEN r.mx = r.mn THEN 0
      |              ELSE ((ev.e - r.mn) * 255) // (r.mx - r.mn) END AS q,
      |         r.mn, r.mx
      |  FROM ev JOIN ranges r ON ev.i = r.i),
      |qr AS (SELECT vec_id, i, e, q, mn + (q * (mx - mn)) // 255 AS rec FROM q)
      |SELECT vec_id,
      |       string_agg(CAST(q AS VARCHAR), ',' ORDER BY i) AS q_csv,
      |       CAST(SUM((e - rec) * (e - rec)) AS BIGINT) AS sq_err,
      |       CAST(COUNT(1) AS BIGINT) AS dim
      |FROM qr GROUP BY vec_id""".stripMargin

  /** DuckDB twin: [[KmIters]] unrolled assign/update rounds. `tdiv` =
    * truncating division mirroring Spark's `div` (DuckDB `//` floors,
    * which differs on negative sums). */
  val embKmeansSql: String = {
    def assign(cte: String, cents: String): String =
      s"""$cte AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT ev.vec_id, c.cell,
         |           ROW_NUMBER() OVER (PARTITION BY ev.vec_id
         |                              ORDER BY SUM(ev.e * c.e) DESC, c.cell) AS rn
         |    FROM ev JOIN $cents c ON ev.i = c.i
         |    GROUP BY ev.vec_id, c.cell)
         |  WHERE rn = 1)""".stripMargin
    def update(cte: String, prevAssign: String, prevCents: String): String =
      s"""$cte AS (
         |  SELECT p.cell, p.i,
         |         COALESCE(CASE WHEN u.s >= 0 THEN u.s // u.n
         |                       ELSE 0 - ((0 - u.s) // u.n) END, p.e) AS e
         |  FROM $prevCents p LEFT JOIN (
         |    SELECT a.cell, ev.i, SUM(ev.e) AS s, COUNT(1) AS n
         |    FROM $prevAssign a JOIN ev ON ev.vec_id = a.vec_id
         |    GROUP BY a.cell, ev.i) u
         |  ON u.cell = p.cell AND u.i = p.i)""".stripMargin
    s"""WITH ev AS (
       |  SELECT vec_id, i, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
       |c0 AS (SELECT vec_id AS cell, i, e FROM ev WHERE vec_id < $KmC),
       |${assign("a1", "c0")},
       |${update("c1", "a1", "c0")},
       |${assign("a2", "c1")},
       |${update("c2", "a2", "c1")},
       |${assign("af", "c2")},
       |sizes AS (SELECT cell, CAST(COUNT(1) AS BIGINT) AS n_members FROM af GROUP BY cell)
       |SELECT af.vec_id, af.cell, sizes.n_members
       |FROM af JOIN sizes ON af.cell = sizes.cell""".stripMargin
  }

  // ----------------------------------------------------- emb_kmeans_pp
  /** Seeds selected by the farthest-point init. */
  val PpSeeds = 6

  /** DETERMINISTIC k-means seeding — farthest-point (maximin) init,
    * the derandomized k-means++ (k-means++ D²-samples; maximin takes
    * the argmax, which is its greedy limit and the only variant an
    * oracle can replay): seed 1 is the min-id vector, each next seed
    * is the vector farthest (scaled-integer squared L2) from ALL
    * chosen seeds, ties to the smallest id. Good seeding is why Lloyd
    * converges in the few fixed rounds `emb_kmeans` runs — this is
    * the missing first stage of that pipeline, and at 100 TB it is
    * the textbook scalable init (k passes, each one broadcast +
    * map + argmax aggregation).
    *
    * Round state is one (vec_id, dmin) table maintained
    * INCREMENTALLY: each round broadcasts ONLY the newest seed vector
    * (a d-long literal), updates dmin = least(dmin, dist²(v, seed)),
    * localCheckpoints, and takes the argmax via max(struct(dmin,
    * −vec_id)) — a partial-aggregated 1-row collect, no window, no
    * k×N distance matrix. Output: (round, vec_id, d2) where d2 is the
    * chosen vector's distance-to-cover at selection time (0 for the
    * first seed) — the init-quality curve an operator actually reads
    * (d2 collapsing early = intrinsic cluster count reached). */
  def embKmeansPp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = graft.Graft.compactCheckpoint(scaledDs(s, dir).toDF("vec_id", "ev"))
    def centerOf(id: Long): Seq[Long] =
      sc.where(col("vec_id") === id).select(col("ev"))
        .as[Seq[Long]].head()
    def dist2To(center: Seq[Long]): org.apache.spark.sql.Column =
      expr(s"""aggregate(
        |  zip_with(ev, array(${center.mkString(",")}), (x, y) -> (x - y) * (x - y)),
        |  cast(0 as bigint), (acc, v) -> acc + v)""".stripMargin)
    val first = sc.agg(min(col("vec_id"))).head().getLong(0)
    var chosen = Vector((first, 0L))
    // argmax (dmin, -vec_id): farthest vector, smallest id on ties
    def pick(dmin: DataFrame): Long = {
      val p = dmin.agg(max(struct(col("dmin"), (-col("vec_id")).as("nid"))).as("p"))
        .select(col("p.nid"), col("p.dmin")).head()
      val (id, d2) = (-p.getLong(0), p.getLong(1))
      chosen = chosen :+ (id, d2)
      id
    }
    val init = graft.Graft.compactCheckpoint(
      sc.select(col("vec_id"), dist2To(centerOf(first)).as("dmin")))
    // every round but the last picks a seed and folds it into dmin
    val dmin = graft.Graft.iterate(init, PpSeeds - 2) { dmin =>
      dmin.join(sc.select(col("vec_id"), dist2To(centerOf(pick(dmin))).as("d2new")), "vec_id")
        .select(col("vec_id"), least(col("dmin"), col("d2new")).as("dmin"))
    }.state
    pick(dmin)
    // the result is a driver-side table — nothing below reads the
    // checkpoints, so release them here rather than leaving them to the
    // harness
    Seq(dmin, init, sc).foreach(graft.Graft.releaseCheckpoint)
    chosen.zipWithIndex
      .map { case ((id, d2), i) => (i + 1, id, d2) }
      .toDF("round", "vec_id", "d2")
  }

  /** Unrolled rounds: each round a LEAST-update CTE against the
    * previous pick's vector and a (dmin DESC, vec_id) argmin pick. */
  val embKmeansPpSql: String = {
    val rounds = (2 to PpSeeds).map { k =>
      val prev = s"d${k - 1}"
      val prevPick = s"p${k - 1}"
      s"""d$k AS MATERIALIZED (
         |  SELECT d.vec_id,
         |         LEAST(d.dmin, (
         |           SELECT list_sum(list_transform(generate_series(1, len(e.ev)),
         |             i -> (e.ev[i] - c.ev[i]) * (e.ev[i] - c.ev[i])))
         |           FROM ev c WHERE c.vec_id = (SELECT vec_id FROM $prevPick)
         |         )) AS dmin
         |  FROM $prev d JOIN ev e ON d.vec_id = e.vec_id),
         |p$k AS MATERIALIZED (
         |  SELECT vec_id, dmin FROM d$k ORDER BY dmin DESC, vec_id LIMIT 1)""".stripMargin
    }.mkString(",\n")
    val seedRows = (2 to PpSeeds)
      .map(k => s"SELECT $k AS round, vec_id, dmin AS d2 FROM p$k")
      .mkString("\n  UNION ALL ")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ev
       |  FROM embeddings),
       |p1 AS (SELECT MIN(vec_id) AS vec_id FROM ev),
       |d1 AS MATERIALIZED (
       |  SELECT e.vec_id,
       |         (SELECT list_sum(list_transform(generate_series(1, len(e.ev)),
       |            i -> (e.ev[i] - c.ev[i]) * (e.ev[i] - c.ev[i])))
       |          FROM ev c WHERE c.vec_id = (SELECT vec_id FROM p1)) AS dmin
       |  FROM ev e),
       |$rounds
       |SELECT CAST(1 AS INT) AS round, vec_id, CAST(0 AS BIGINT) AS d2 FROM p1
       |UNION ALL
       |SELECT CAST(round AS INT), vec_id, CAST(d2 AS BIGINT) FROM (
       |  $seedRows)""".stripMargin
  }
}
