package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  *  - simTopk:    exact brute-force top-k for a query subset — the
  *                correctness baseline (O(Q·N) dot products).
  *  - simLshTopk: random-hyperplane LSH — every vector gets a bit
  *                signature from the SIGN of integer hyperplane dots;
  *                candidates come only from band-key collisions, then
  *                exact re-ranking. At 100 TB this is a bucket-join
  *                (shuffle on band key) instead of a cross join.
  *
  * All arithmetic is integer (embeddings scaled ×10⁶, hyperplanes are
  * small deterministic ints), so Spark and DuckDB agree bit-for-bit —
  * both queries are fully oracle-checked, including the approximate one.
  */
object Similarity {

  /** Embeddings with elements scaled to exact integers (×10⁶). */
  private[graft] def scaled(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("ev"))

  private[operators] def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** DuckDB twin of [[scaled]], flattened to (vec_id, i, e) rows —
    * shared by every embedding-family oracle. */
  private[operators] val evSql =
    """ev AS (
      |  SELECT vec_id, i, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t)""".stripMargin

  // --------------------------------------------------------- sim_topk
  val NQueries = 10
  val TopK = 5

  def simTopk(s: SparkSession, dir: String): DataFrame =
    VecKernel.bruteTopk(s, dir, k = TopK, probeFilter = _ < NQueries)
      .withColumn("cos_sim", col("dot_scaled").cast("double") / lit(1e12))

  val simTopkSql: String =
    s"""WITH $evSql,
       |dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         CAST(SUM(a.e * b.e) AS BIGINT) AS dot_scaled
       |  FROM ev a JOIN ev b ON a.i = b.i AND a.vec_id < $NQueries AND b.vec_id <> a.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dot_scaled,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY dot_scaled DESC, neighbor_id) AS rank
       |  FROM dots)
       |SELECT query_id, neighbor_id, dot_scaled, CAST(rank AS INT) AS rank,
       |       CAST(dot_scaled AS DOUBLE) / 1e12 AS cos_sim
       |FROM ranked WHERE rank <= $TopK""".stripMargin

  // ----------------------------------------------------- sim_lsh_topk
  /** H integer hyperplanes over the embedding dimension; w(j,i) is a
    * fixed LCG-style formula so both engines derive identical planes. */
  val H = 16
  val LshBands = 2    // gate operating point: 2 bands × 8 bits
  val LshBandBits = 8
  val LshTopK = 3

  private def wFormula(j: String, i: String): String =
    s"((1103515245 * ($j + 1) + 12345 * ($i + 1)) % 997) - 498"

  /** Max members considered per (band, bucket): with b-bit band keys,
    * bucket occupancy grows O(N/2^b) and candidate pairs O(N²/2^b) —
    * unbounded LSH buckets turn quadratic on large or duplicate-heavy
    * corpora (the 10× rehearsal measured 45 s → the cap brings the
    * worst case to buckets·cap²). Members are kept deterministically
    * (first by vec_id); overfull buckets lose recall — the honest LSH
    * tradeoff, FAISS-style probe limits do the same. Buckets at the
    * driver SFs stay under the cap, so small-scale results are
    * unchanged. */
  val MaxBucket = 64

  // ----------------------------------------------------- sim_ivf_topk
  /** IVF (inverted-file) ANN: C coarse cells (deterministic "training":
    * the first C vectors serve as centroids — swap in k-means offline
    * at scale), every vector assigned to its nearest cell, queries
    * probe their `NProbe` nearest cells and re-rank exactly.
    *
    * C SCALES WITH THE CORPUS: candidate volume is N²·nprobe/C, so a
    * fixed C is quadratic — C = 2·⌈√N⌉ keeps it at O(N^1.5) (the 10×
    * scale rehearsal measured the fixed-C version at 100× the pairs).
    * The same formula is computed inside the oracle SQL. */
  val NProbe = 2
  val IvfTopK = 3

  /** Max members SCORED per probed cell (FAISS-style inverted-list
    * truncation, deterministic by vec_id). C = 2·⌈√N⌉ keeps candidate
    * volume at O(N^1.5) only when cells stay near-uniform; a clustered
    * or duplicate-heavy corpus concentrates into hot cells and pairs
    * grow as Σ|cell|² — the 10× rehearsal (20k vectors, max cell 140 vs
    * median 70) measured the uncapped exact re-rank at 37 s. With the
    * cap, total candidates are ≤ N·nprobe·cap — linear in N no matter
    * how degenerate the corpus — at the standard recall loss on
    * overfull cells. Gate-SF cells (max 17 at sf0.01) never reach the
    * cap, so oracle results are unchanged there; the cap is mirrored in
    * both oracle SQLs for when it does bind. */
  val IvfMaxCell = 128

  /** 2·⌈√N⌉, floored at 16. */
  def nCentroids(n: Long): Int =
    math.max(16, 2 * math.ceil(math.sqrt(n.toDouble)).toLong).toInt

  /** Cell membership with the [[IvfMaxCell]] cap applied
    * ([[Dedup.capped]]): the bounded aggregate shuffles on `cell` (the
    * same key the candidate join needs next, so the cap costs no extra
    * exchange) with ≤ K ids per (cell, partition) in the shuffle: a hot
    * cell in a clustered corpus never serializes into one window task.
    * Selection is identical to the oracle's windowed form (the K
    * smallest vec_ids per cell). */
  private[operators] def cappedAssign(cells: DataFrame): DataFrame =
    Dedup.capped(cells, "vec_id", Seq("cell"), IvfMaxCell)

  /** Shared coarse-quantizer oracle chain: scaled vectors → centroid
    * count → centroid rows → per-vector centroid dots. Every IVF-family
    * oracle (search, SemDeDup, semantic CC) composes from here, so a
    * fix to the gate-critical index SQL lands in ONE place. */
  private[operators] val ivfCoarseCtesSql: String =
    s"""$evSql,
       |nc AS (SELECT GREATEST(16, 2 * CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS c
       |       FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, i, e FROM ev WHERE vec_id < (SELECT c FROM nc)),
       |cdots AS (
       |  SELECT a.vec_id, c.c_id, CAST(SUM(a.e * c.e) AS BIGINT) AS d
       |  FROM ev a JOIN cent c ON a.i = c.i
       |  GROUP BY 1, 2)""".stripMargin

  /** [[ivfCoarseCtesSql]] extended with the ranked assignment, the
    * [[IvfMaxCell]]-capped cell membership, and the [[NProbe]]-cell
    * probe lists — the full index side of the 2-probe searches. */
  private[operators] val ivfIndexCtesSql: String =
    s"""$ivfCoarseCtesSql,
       |ranked_c AS (
       |  SELECT vec_id, c_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, c_id) AS rn
       |  FROM cdots),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, c_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY vec_id) AS mrn
       |    FROM ranked_c WHERE rn = 1)
       |  WHERE mrn <= $IvfMaxCell),
       |probes AS (SELECT vec_id AS query_id, c_id AS cell FROM ranked_c WHERE rn <= $NProbe)""".stripMargin

  /** Fan-out salt for the probe×member candidate join: the join's
    * INPUT is tiny (probe rows + capped memberships) but its OUTPUT is
    * the N·nprobe·cap candidate set, so byte-based partition sizing
    * coalesces the whole expansion into ~one task (measured: 2–4 s of
    * sim_ivf_topk's 10× wall in a single task — and the per-task
    * fan-out grows as √N with C = 2·⌈√N⌉, so the serialization WORSENS
    * with scale). Salting the member side `vec_id mod S` and
    * replicating probes ×S spreads the expansion S ways at the cost of
    * S−1 duplicate probe rows — candidates are byte-identical. */
  val CandSalt = 16

  /** The probed-cell candidate set every IVF consumer shares:
    * (query_id, neighbor_id) pairs from the capped cell membership of
    * each query's [[NProbe]] nearest cells. */
  private[operators] def ivfCandidates(s: SparkSession, dir: String): DataFrame = {
    val c = nCentroids(Tables.embeddings(s, dir).count())
    // the cell table is referenced twice (assignment + probe explode);
    // it roots in a mapPartitions kernel with no exchange, so a
    // deliberate repartition gives ReuseExchange a node to share — the
    // kernel runs once at shuffle write and nothing stays persisted
    // after the action (DedupSpec pins getPersistentRDDs)
    val cells = VecKernel.ivfCells(s, dir, c, NProbe).repartition(col("vec_id"))
    val assign = cappedAssign(cells)
      .withColumn("salt", pmod(col("vec_id"), lit(CandSalt)))
    val probes = cells.select(col("vec_id").as("query_id"),
        explode(col("probes")).as("cell"))
      .withColumn("salt", explode(lit((0 until CandSalt).toArray)))
    // NO trailing distinct — (query_id, neighbor_id) is UNIQUE by
    // construction, and the distinct's (q, n)-keyed exchange was the
    // r12 100× StageProbe finding: its rows are two longs, so AQE's
    // byte-based coalescing packed the whole downstream CPU-dense
    // stage (candidate dots + window partials in the same codegen
    // span) into 3 tasks — 72 s of CPU, 24.7 s max task in an 18.6 s
    // wall. Uniqueness proof: cappedAssign emits each vector under
    // exactly ONE cell (ivfCells assigns the single nearest centroid;
    // the cap only drops members), a query's probe list holds DISTINCT
    // cells, and exactly one salt replica matches each member's
    // pmod(vec_id) — so each qualifying (q, n) joins on precisely one
    // (cell, salt) row. Measured dup=0 at sf0.001/0.01/0.1/sf1
    // (2.98M candidates); with the distinct gone the dots ride the
    // salted-join stage directly. 100× StageProbe: the fixed stage's
    // CPU drops 72 → 26 s (max task 24.7 → 9.0 s) and one full
    // candidate exchange disappears; wall is scan-dominated either way
    // (the N^1.5 coarse-assignment kernels: 127 + 101 s of CPU at
    // 100×). Hashes byte-identical across the family.
    probes.join(assign, Seq("cell", "salt"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

  def simIvfTopk(s: SparkSession, dir: String): DataFrame = {
    val cand = ivfCandidates(s, dir)
    VecKernel.pairDots(s, dir, cand)
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("dot_scaled").desc, col("neighbor_id"))))
      .where(col("rank") <= IvfTopK)
      .withColumn("cos_sim", col("dot_scaled").cast("double") / lit(1e12))
  }

  val simIvfTopkSql: String =
    s"""WITH $ivfIndexCtesSql,
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
       |exact AS (
       |  SELECT c.query_id, c.neighbor_id, CAST(SUM(ea.e * eb.e) AS BIGINT) AS dot_scaled
       |  FROM cand c
       |  JOIN ev ea ON ea.vec_id = c.query_id
       |  JOIN ev eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dot_scaled,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY dot_scaled DESC, neighbor_id) AS rank
       |  FROM exact)
       |SELECT query_id, neighbor_id, dot_scaled, CAST(rank AS INT) AS rank,
       |       CAST(dot_scaled AS DOUBLE) / 1e12 AS cos_sim
       |FROM ranked WHERE rank <= $IvfTopK""".stripMargin

  // ----------------------------------------------- sim_hard_negatives
  /** Hard negatives mined per anchor. */
  val NegK = 3

  /** Hard-negative mining for contrastive training (the DPR recipe,
    * Karpukhin et al. 2020, applied corpus-wide): for EVERY vector,
    * the most-similar candidates that are NOT near-duplicates — high
    * similarity makes the negative informative, and the dup exclusion
    * keeps false negatives (actual positives mislabeled as negatives,
    * the classic contrastive-training poison) out of the batch. "Not a
    * near-duplicate" is pinned to the SAME threshold `dedup_semantic`
    * flags dups at ([[Dedup.SemDedupTauScaled]], compared on the EXACT
    * integer dot), so the mined set is exactly the complement of what
    * the dedup would remove — one shared definition across the corpus
    * pipeline.
    *
    * Plan: the [[ivfCandidates]] chain verbatim (cell-bucketed, capped
    * — never all-pairs), exact integer re-rank, band filter BELOW the
    * rank window (the pool per anchor is ≤ NProbe·[[IvfMaxCell]], so
    * the window is candidate-bounded). At 100 TB this is the
    * mining-over-the-stored-index pattern; `sim_index_upsert` holds
    * the maintained-index side. */
  def simHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val cand = ivfCandidates(s, dir)
    VecKernel.pairDots(s, dir, cand)
      .where(col("dot_scaled") < Dedup.SemDedupTauScaled)
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("dot_scaled").desc, col("neighbor_id"))))
      .where(col("rank") <= NegK)
      .withColumn("cos_sim", col("dot_scaled").cast("double") / lit(1e12))
  }

  /** Twin: the IVF index chain verbatim + the dup-threshold band. */
  val simHardNegativesSql: String =
    s"""WITH $ivfIndexCtesSql,
       |cand AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
       |exact AS (
       |  SELECT c.query_id, c.neighbor_id, CAST(SUM(ea.e * eb.e) AS BIGINT) AS dot_scaled
       |  FROM cand c
       |  JOIN ev ea ON ea.vec_id = c.query_id
       |  JOIN ev eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dot_scaled,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY dot_scaled DESC, neighbor_id) AS rank
       |  FROM exact WHERE dot_scaled < ${Dedup.SemDedupTauScaled})
       |SELECT query_id, neighbor_id, dot_scaled, CAST(rank AS INT) AS rank,
       |       CAST(dot_scaled AS DOUBLE) / 1e12 AS cos_sim
       |FROM ranked WHERE rank <= $NegK""".stripMargin

  // -------------------------------------------------------- sim_bitext
  /** Neighbors feeding each side's margin denominator. */
  val BitextK = 4

  /** Ratio-margin acceptance threshold ×1000 (1.02 — CCMatrix mines at
    * 1.06 on LASER embeddings; the synthetic fixture's similarity mass
    * sits lower, same criterion). */
  val BitextThreshold1000 = 1020

  /** Cross-lingual BITEXT MINING — margin-based parallel-pair mining
    * (Artetxe & Schwenk 2019's ratio margin, the CCMatrix/LASER
    * recipe): candidate translation pairs (x in a non-English doc, y
    * in English) score by cos(x,y) normalized by BOTH endpoints'
    * neighborhood density — margin(x,y) = 2k·dot(x,y) /
    * (Σ top-k fwd dots of x + Σ top-k bwd dots of y) — so a pair only
    * mines when it stands OUT of each side's generic-similarity
    * floor (raw-cosine thresholds drown in hubness; the margin is the
    * published fix). Accepted pairs rank per source by exact dot.
    *
    * Everything is integer: dots ride the ×10⁶ fixed-point embeddings,
    * the margin test is cross-multiplied (2k·dot·1000 ≥ T·(fsum+bsum))
    * so no engine ever divides, and both sides' top-k sums come from
    * the SAME [[ivfCandidates]] chain the rest of the family uses —
    * cell-bucketed and capped, never all-pairs (at 100 TB this is
    * mining over the stored FAISS-style index, exactly how CCMatrix
    * ran; the window pools are candidate-bounded ≤ NProbe·IvfMaxCell).
    * Missing bwd neighborhoods contribute 0 (COALESCE'd identically in
    * both engines). */
  def simBitext(s: SparkSession, dir: String): DataFrame = {
    val langs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val cand = ivfCandidates(s, dir)
      .join(langs.select(col("doc_id").as("query_id"), col("lang").as("qlang")), "query_id")
      .join(langs.select(col("doc_id").as("neighbor_id"), col("lang").as("nlang")), "neighbor_id")
      .where(col("qlang") =!= col("nlang") &&
        (col("qlang") === "en" || col("nlang") === "en"))
    // three consumers (fwd window, bwd window, the scored join) share
    // this subtree — it roots in the pairDots mapPartitions kernel, so
    // the deliberate repartition gives ReuseExchange a node to share
    // (the ivfCandidates idiom) AND is the very exchange the per-query
    // windows need
    val dots = VecKernel.pairDots(s, dir,
        cand.select(col("query_id"), col("neighbor_id")))
      .join(cand.select(col("query_id"), col("neighbor_id"), col("qlang")),
        Seq("query_id", "neighbor_id"))
      .repartition(col("query_id"))
    val rn = row_number().over(Window.partitionBy(col("query_id"))
      .orderBy(col("dot_scaled").desc, col("neighbor_id")))
    // fwd: x (non-en) → its en candidates; bwd: y (en) → non-en
    val fwd = dots.where(col("qlang") =!= "en").withColumn("rn", rn)
    val bwd = dots.where(col("qlang") === "en").withColumn("rn", rn)
    val fsum = fwd.where(col("rn") <= BitextK).groupBy(col("query_id"))
      .agg(sum(col("dot_scaled")).as("fsum"))
    val bsum = bwd.where(col("rn") <= BitextK).groupBy(col("query_id"))
      .agg(sum(col("dot_scaled")).as("bsum"))
    val scored = fwd.select(col("query_id").as("src_id"),
        col("neighbor_id").as("tgt_id"), col("dot_scaled"))
      .join(fsum.withColumnRenamed("query_id", "src_id"), Seq("src_id"))
      .join(bsum.withColumnRenamed("query_id", "tgt_id"), Seq("tgt_id"), "left")
      .select(col("src_id"), col("tgt_id"), col("dot_scaled"),
        (lit(2L * BitextK) * col("dot_scaled")).as("margin_num"),
        (col("fsum") + coalesce(col("bsum"), lit(0L))).as("margin_den"))
      .where(col("margin_num") * lit(1000L) >=
        lit(BitextThreshold1000.toLong) * col("margin_den"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("src_id"))
        .orderBy(col("dot_scaled").desc, col("tgt_id"))))
      .withColumn("cos_sim", col("dot_scaled").cast("double") / lit(1e12))
      .select(col("src_id"), col("tgt_id"), col("dot_scaled"),
        col("margin_num"), col("margin_den"), col("rank"), col("cos_sim"))
  }

  /** Twin: the IVF index chain verbatim + lang sides from documents +
    * both directions' windowed top-k sums + the cross-multiplied
    * margin test. */
  val simBitextSql: String =
    s"""WITH $ivfIndexCtesSql,
       |cand0 AS (
       |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
       |cand AS (
       |  SELECT c.query_id, c.neighbor_id, dq.lang AS qlang
       |  FROM cand0 c
       |  JOIN documents dq ON dq.doc_id = c.query_id
       |  JOIN documents dn ON dn.doc_id = c.neighbor_id
       |  WHERE dq.lang <> dn.lang AND (dq.lang = 'en' OR dn.lang = 'en')),
       |exact AS (
       |  SELECT c.query_id, c.neighbor_id, c.qlang,
       |         CAST(SUM(ea.e * eb.e) AS BIGINT) AS dot_scaled
       |  FROM cand c
       |  JOIN ev ea ON ea.vec_id = c.query_id
       |  JOIN ev eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2, 3),
       |rk AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |                               ORDER BY dot_scaled DESC, neighbor_id) AS rn
       |  FROM exact),
       |fsum AS (
       |  SELECT query_id, CAST(SUM(dot_scaled) AS BIGINT) AS fsum
       |  FROM rk WHERE qlang <> 'en' AND rn <= $BitextK GROUP BY 1),
       |bsum AS (
       |  SELECT query_id, CAST(SUM(dot_scaled) AS BIGINT) AS bsum
       |  FROM rk WHERE qlang = 'en' AND rn <= $BitextK GROUP BY 1),
       |scored AS (
       |  SELECT r.query_id AS src_id, r.neighbor_id AS tgt_id, r.dot_scaled,
       |         2 * $BitextK * r.dot_scaled AS margin_num,
       |         f.fsum + COALESCE(b.bsum, 0) AS margin_den
       |  FROM rk r
       |  JOIN fsum f ON f.query_id = r.query_id
       |  LEFT JOIN bsum b ON b.query_id = r.neighbor_id
       |  WHERE r.qlang <> 'en'
       |    AND 2 * $BitextK * r.dot_scaled * 1000 >=
       |        $BitextThreshold1000 * (f.fsum + COALESCE(b.bsum, 0))),
       |ranked AS (
       |  SELECT src_id, tgt_id, dot_scaled, margin_num, margin_den,
       |         ROW_NUMBER() OVER (PARTITION BY src_id
       |                            ORDER BY dot_scaled DESC, tgt_id) AS rank
       |  FROM scored)
       |SELECT src_id, tgt_id, dot_scaled, margin_num, margin_den,
       |       CAST(rank AS INT) AS rank,
       |       CAST(dot_scaled AS DOUBLE) / 1e12 AS cos_sim
       |FROM ranked""".stripMargin

  // --------------------------------------------------------- corpus_icp
  /** In-context pretraining ordering (Shi et al. 2023, "In-Context
    * Pretraining: Language Modeling Beyond Document Boundaries"):
    * instead of shuffling documents independently, place RELATED
    * documents adjacent in the training stream so cross-document
    * context is learnable. Structure is the paper's cluster-then-chain
    * shape on this engine's primitives: docs group by the IVF coarse
    * quantizer, oversized cells SHARD into ≈[[IvfMaxCell]]-sized
    * sub-groups (deterministic `vec_id mod ⌈|cell|/cap⌉` — a training
    * order must be a PERMUTATION, so unlike the search family's capped
    * candidate lists, nothing is dropped; the 10× duplicate-heavy
    * rehearsal caught exactly this), and within each (cell, shard) a
    * GREEDY MAX-SIMILARITY CHAIN orders the members — start at the min
    * vec_id, repeatedly hop to the most-similar unvisited member by
    * exact integer dot, ties to the smaller id. The macro-order across
    * chains is (cell, shard) — cells are already semantically coherent
    * groups.
    *
    * Scale shape: the greedy is sequential ONLY within a shard, so
    * per-task state is ≈cap vectors and the O(cap²·dim) chain cost is
    * a constant per shard — embarrassingly parallel across the corpus;
    * the only corpus exchange is the groupByKey, and the shard-count
    * table is |cells|-bounded (broadcast back). Output
    * (cell, sub, pos, vec_id, dot_prev): the training-stream order
    * with each hop's exact similarity (0 at chain heads). The oracle
    * replays the greedy walk as a recursive CTE over the nested IVF
    * index SQL — every hop's argmax is re-derived independently. */
  /** The ICP (cell, shard) assignment — every vector kept (see
    * [[corpusIcp]]). Shared by the batch ordering and the streaming
    * maintenance ([[graft.streaming.IcpStream]]): one definition of
    * the chain key. */
  private[graft] def icpAssign(s: SparkSession, dir: String): DataFrame = {
    val c = nCentroids(Tables.embeddings(s, dir).count())
    val member = VecKernel.ivfCells(s, dir, c, 1).select(col("vec_id"), col("cell"))
    val nsub = member.groupBy(col("cell"))
      .agg(floor((count(lit(1)) + lit(IvfMaxCell - 1)) / lit(IvfMaxCell))
        .cast("long").as("nsub"))
    member.join(broadcast(nsub), "cell")
      .select(col("cell"), pmod(col("vec_id"), col("nsub")).as("sub"), col("vec_id"))
  }

  /** The greedy chain kernel, shared by [[corpusIcp]] and the
    * streaming appender: orders `m` (MUST be sorted by id — the tie
    * rule rides that) by repeated max-dot hops, continuing from an
    * optional carried `tail` (vector + already-emitted position
    * count). Returns (pos, vec_id, dot_prev) with ABSOLUTE positions;
    * a fresh chain starts at the min id with dot_prev 0. */
  private[graft] def chainFrom(m: Array[(Long, Array[Long])],
      tail: Option[(Array[Long], Int)]): Vector[(Int, Long, Long)] = {
    val n = m.length
    val visited = new Array[Boolean](n)
    val out = Vector.newBuilder[(Int, Long, Long)]
    var cur: Array[Long] = null
    var pos = 0
    tail match {
      case Some((tv, tp)) => cur = tv; pos = tp
      case None =>
        visited(0) = true
        out += ((1, m(0)._1, 0L))
        cur = m(0)._2; pos = 1
    }
    var remaining = n - (if (tail.isEmpty) 1 else 0)
    while (remaining > 0) {
      var best = -1; var bestDot = Long.MinValue
      var j = 0
      while (j < n) { // ascending ids ⇒ first max wins = tie to smaller id
        if (!visited(j)) {
          val d = VecKernel.dot(cur, m(j)._2)
          if (d > bestDot) { best = j; bestDot = d }
        }
        j += 1
      }
      visited(best) = true
      pos += 1
      out += ((pos, m(best)._1, bestDot))
      cur = m(best)._2; remaining -= 1
    }
    out.result()
  }

  def corpusIcp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    icpAssign(s, dir)
      .join(scaled(s, dir), "vec_id")
      .select(col("cell"), col("sub"), col("vec_id"), col("ev"))
      .as[(Long, Long, Long, Seq[Long])]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Long, Long), it: Iterator[(Long, Long, Long, Seq[Long])]) =>
        val (cell, sub) = key
        val m = it.map { case (_, _, id, ev) => (id, ev.toArray) }.toArray.sortBy(_._1)
        chainFrom(m, None).map { case (pos, id, d) => (cell, sub, pos, id, d) }
      }.toDF("cell", "sub", "pos", "vec_id", "dot_prev")
  }

  /** Twin: the IVF coarse chain + the shard assignment + within-shard
    * pair dots + the greedy walk as a RECURSIVE CTE — each hop picks
    * the max-dot unvisited member (visited set carried as a delimited
    * id string). */
  /** The ICP assignment as oracle CTEs (cell + shard per vector) —
    * shared by [[corpusIcpSql]] and the streaming twin. */
  private[graft] val icpAssignCtesSql: String =
    s"""$ivfIndexCtesSql,
       |iassign0 AS (SELECT vec_id, c_id AS cell FROM ranked_c WHERE rn = 1),
       |icnt AS (
       |  SELECT cell,
       |         CAST(FLOOR((COUNT(*) + ${IvfMaxCell - 1}) / ${IvfMaxCell}.0) AS BIGINT) AS nsub
       |  FROM iassign0 GROUP BY 1),
       |iassign AS (
       |  SELECT a.vec_id, a.cell, a.vec_id % c.nsub AS sub
       |  FROM iassign0 a JOIN icnt c ON c.cell = a.cell)""".stripMargin

  val corpusIcpSql: String =
    s"""WITH RECURSIVE $icpAssignCtesSql,
       |pairdots AS (
       |  SELECT x.cell, x.sub, x.vec_id AS a, y.vec_id AS b,
       |         CAST(SUM(ea.e * eb.e) AS BIGINT) AS d
       |  FROM iassign x
       |  JOIN iassign y ON x.cell = y.cell AND x.sub = y.sub AND x.vec_id <> y.vec_id
       |  JOIN ev ea ON ea.vec_id = x.vec_id
       |  JOIN ev eb ON eb.vec_id = y.vec_id AND ea.i = eb.i
       |  GROUP BY 1, 2, 3, 4),
       |starts AS (SELECT cell, sub, MIN(vec_id) AS vec_id FROM iassign GROUP BY 1, 2),
       |walk(cell, sub, vec_id, pos, seen, dprev) AS (
       |  SELECT s.cell, s.sub, s.vec_id, 1, '|' || s.vec_id || '|', CAST(0 AS BIGINT)
       |  FROM starts s
       |  UNION ALL
       |  SELECT w.cell, w.sub, nx.b, w.pos + 1, w.seen || nx.b || '|', nx.d
       |  FROM walk w, LATERAL (
       |    SELECT d.b, d.d FROM pairdots d
       |    WHERE d.cell = w.cell AND d.sub = w.sub AND d.a = w.vec_id
       |      AND POSITION('|' || d.b || '|' IN w.seen) = 0
       |    ORDER BY d.d DESC, d.b LIMIT 1) nx)
       |SELECT cell, sub, CAST(pos AS INT) AS pos, vec_id, dprev AS dot_prev
       |FROM walk""".stripMargin

  // ----------------------------------------------------------- pack_icp
  /** The ICP training stream PACKED — the paper's end product: feed
    * [[corpusIcp]]'s related-docs-adjacent order through THE
    * chunk-manifest kernel ([[Cleaning.chunkManifest]] — the single
    * definition the text, multimodal, and streaming packers already
    * ride, here ordered by CHAIN POSITION instead of doc id), so the
    * fixed-token training chunks' neighbors are semantic neighbors.
    * Streams are the (cell, shard) chains; token counts are the
    * whitespace stand-in the packing family shares. Scale shape =
    * corpusIcp's (shard-bounded greedy) + one window per chain (pool
    * = chain length ≈ cap). The oracle nests the FULL recursive
    * corpusIcp SQL as a subquery and replays the cumulative-cut
    * arithmetic — a regression in the ordering, the chain key, or the
    * kernel flips this gate too. */
  def packIcp(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir).select(col("doc_id").as("vec_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_tokens"))
    Cleaning.chunkManifest(corpusIcp(s, dir).join(toks, "vec_id"),
        Seq("cell", "sub"), None, orderCol = "pos")
      .select(col("vec_id"), col("cell"), col("sub"), col("pos"),
        col("n_tokens"), col("first_chunk"), col("last_chunk"), col("n_chunks"))
  }

  /** Twin: the recursive ICP walk as a subquery + the kernel's exact
    * cumulative-cut arithmetic per (cell, sub) chain. Built by plain
    * concatenation — an outer stripMargin would eat the embedded
    * SQL's || operators. */
  val packIcpSql: String = {
    val ct = Cleaning.ChunkTokens
    "WITH t AS (\n" +
      "  SELECT i.vec_id, i.cell, i.sub, i.pos,\n" +
      "    CAST(len(regexp_extract_all(d.text, '\\S+')) AS BIGINT) AS n_tokens\n" +
      "  FROM (" + corpusIcpSql + ") i\n" +
      "  JOIN documents d ON d.doc_id = i.vec_id),\n" +
      "c AS (\n" +
      "  SELECT vec_id, cell, sub, pos, n_tokens,\n" +
      "    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY cell, sub ORDER BY pos\n" +
      "      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb\n" +
      "  FROM t)\n" +
      "SELECT vec_id, cell, sub, pos, n_tokens,\n" +
      s"  cb // $ct AS first_chunk,\n" +
      s"  CASE WHEN n_tokens = 0 THEN cb // $ct - 1\n" +
      s"       ELSE (cb + n_tokens - 1) // $ct END AS last_chunk,\n" +
      s"  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)\n" +
      s"       ELSE (cb + n_tokens - 1) // $ct - cb // $ct + 1 END AS n_chunks\n" +
      "FROM c"
  }

  // --------------------------------------------------- sim_ivfpq_topk
  /** Neighbors returned per query by the IVF-PQ search. */
  val IvfPqTopK = 3

  /** IVF-PQ approximate search — the composition that actually runs at
    * 100 TB (FAISS's IVFPQ): IVF restricts WHICH vectors are scored
    * (probe `NProbe` coarse cells), PQ restricts WHAT scoring costs
    * (a candidate is its M codebook codes; its approximate dot is M
    * lookups in the query's ADC table, never a raw-vector read). The
    * codebook here is seeded from the first [[KMeans.PqC]] vectors —
    * codebook TRAINING is [[KMeans.embPqTrained]]'s per-subspace Lloyd
    * loop; the search operator is identical either way.
    *
    * Distributed shape: a shuffle-free index pass
    * ([[VecKernel.ivfPqEncode]]) feeding one shuffle on `cell` that
    * joins probe lists against cell membership. No distinct is needed:
    * each neighbor lives in exactly one cell, so a (query, neighbor)
    * pair can only arise once. Everything is exact integer arithmetic,
    * so the approximate scores themselves hash-check against DuckDB. */
  def simIvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val c = nCentroids(Tables.embeddings(s, dir).count())
    // The index pass feeds both join sides. Exchange reuse CANNOT be
    // made to fire here (attempted r6): the membership branch needs
    // (vec_id, cell, codes) and the probe branch (vec_id, probes, lut),
    // ColumnPruning pushes each branch's projection below any deliberate
    // repartition, and anchor predicates referencing the other branch's
    // columns are themselves pushed through the exchange (deterministic
    // filters always push through RepartitionByExpression), so the
    // subtrees can never be canonically identical — unlike taTfidf,
    // whose two branches need the SAME column set and do share one
    // exchange. Accepted: the encode kernel is O(N·√N·dim) scoring,
    // small next to the candidate join that dominates at scale, and the
    // real 100 TB deployment stores the index ([[simIvfPqTopkOver]]),
    // which removes the encode from the query entirely; persist() would
    // share it in-process but leaks cache entries past the action.
    val enc = VecKernel.ivfPqEncode(s, dir, c, NProbe, KMeans.PqC, KMeans.PqM)
      .repartition(col("vec_id"))
    simIvfPqTopkOver(enc)
  }

  /** The stored-index entry: search over an ALREADY-MATERIALIZED IVF-PQ
    * index frame (the [[VecKernel.ivfPqEncode]] schema — at 100 TB this
    * is a table you wrote once at ingest, like the signature index and
    * prior labels [[Dedup.dedupCcVs]] folds through
    * [[Dedup.foldComponents]]), so the encode kernel never runs at
    * query time. */
  def simIvfPqTopkOver(enc: DataFrame): DataFrame = {
    // same [[IvfMaxCell]] inverted-list cap as simIvfTopk: ADC makes
    // each candidate cheap, but hot-cell pair COUNTS still grow Σ|cell|².
    // The cap CARRIES the codes through the bounded aggregate
    // ([[graft.functions.TopKAgg]] over [[graft.functions.IdCodes]]:
    // ≤ K (id, codes) entries per (cell, partition) in the shuffle,
    // map-side combined) — an earlier
    // version capped ids with [[cappedAssign]] and semi-joined the
    // codes back, which re-evaluated the encode branch a THIRD time
    // (column pruning defeats exchange reuse here, see [[simIvfPqTopk]])
    // and added an exchange; 10× rehearsal min-of-4: one-pass 2.0 s ==
    // the skew-unsafe window cap, join-back ≥ 5.4 s in every sample.
    // Selection (K smallest vec_ids per cell) and results are identical
    val topk = udaf(new graft.functions.TopKAgg[graft.functions.IdCodes](IvfMaxCell))
    val assign = enc.select(col("vec_id"), col("cell"), col("codes"))
      .groupBy(col("cell")).agg(topk(col("vec_id"), col("codes")).as("members"))
      .select(col("cell"), explode(col("members")).as("m"))
      .select(col("m.id").as("neighbor_id"), col("cell"),
        col("m.codes").as("codes"))
    val probes = enc.select(col("vec_id").as("query_id"),
      explode(col("probes")).as("cell"), col("lut"))
    val adcExpr = (0 until KMeans.PqM)
      .map(m => s"lut[${m * KMeans.PqC} + codes[$m]]").mkString(" + ")
    probes.join(assign, "cell")
      .where(col("neighbor_id") =!= col("query_id"))
      .selectExpr("query_id", "neighbor_id", s"$adcExpr as adc_scaled")
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("adc_scaled").desc, col("neighbor_id"))))
      .where(col("rank") <= IvfPqTopK)
      .withColumn("cos_sim_adc", col("adc_scaled").cast("double") / lit(1e12))
  }

  /** DuckDB twin: coarse assign/probes as [[simIvfTopkSql]], PQ codes
    * as [[KMeans.embPqSql]]'s argmin, ADC via a per-(query, subspace,
    * codebook-entry) lookup join. */
  val simIvfPqTopkSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id, i,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e,
       |    (i - 1) // (len(embedding) // ${KMeans.PqM}) AS sub
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
       |nc AS (SELECT GREATEST(16, 2 * CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS c
       |       FROM embeddings),
       |cent AS (SELECT vec_id AS c_id, i, e FROM ev WHERE vec_id < (SELECT c FROM nc)),
       |cdots AS (
       |  SELECT a.vec_id, c.c_id, CAST(SUM(a.e * c.e) AS BIGINT) AS d
       |  FROM ev a JOIN cent c ON a.i = c.i
       |  GROUP BY 1, 2),
       |ranked_c AS (
       |  SELECT vec_id, c_id,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, c_id) AS rn
       |  FROM cdots),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, c_id AS cell,
       |           ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY vec_id) AS mrn
       |    FROM ranked_c WHERE rn = 1)
       |  WHERE mrn <= $IvfMaxCell),
       |probes AS (SELECT vec_id AS query_id, c_id AS cell FROM ranked_c WHERE rn <= $NProbe),
       |cb AS (SELECT vec_id AS cb_cell, i, e, sub FROM ev WHERE vec_id < ${KMeans.PqC}),
       |cdist AS (
       |  SELECT v.vec_id, v.sub, c.cb_cell, SUM((v.e - c.e) * (v.e - c.e)) AS d2
       |  FROM ev v JOIN cb c ON v.i = c.i
       |  GROUP BY 1, 2, 3),
       |codes AS (
       |  SELECT vec_id, sub, cb_cell FROM (
       |    SELECT vec_id, sub, cb_cell,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cb_cell) AS rn
       |    FROM cdist)
       |  WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.cb_cell, c.sub, SUM(q.e * c.e) AS d
       |  FROM ev q JOIN cb c ON q.i = c.i
       |  GROUP BY 1, 2, 3),
       |cand AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON p.cell = a.cell AND a.vec_id <> p.query_id),
       |adc AS (
       |  SELECT cd.query_id, cd.neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc_scaled
       |  FROM cand cd
       |  JOIN codes n ON n.vec_id = cd.neighbor_id
       |  JOIN lut l ON l.query_id = cd.query_id AND l.sub = n.sub AND l.cb_cell = n.cb_cell
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adc_scaled,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY adc_scaled DESC, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, neighbor_id, adc_scaled, CAST(rank AS INT) AS rank,
       |       CAST(adc_scaled AS DOUBLE) / 1e12 AS cos_sim_adc
       |FROM ranked WHERE rank <= $IvfPqTopK""".stripMargin

  /** Banding stage over the H-bit sign signature, parameterized by the
    * (bands, bitsPerBand) operating point — the vector-side mirror of
    * [[Dedup.bandCandidates]]. Band b's key is bits
    * [b·w, (b+1)·w) of the signature, so at larger corpus sizes the
    * band WIDTH can grow (~log₂ N, SCALE.md) to keep expected bucket
    * population N/2^w bounded without recomputing signatures. Coarser
    * points are strict refinements: a (b, 2w)-band collision forces
    * both of its (2b, w)-halves to collide, so every coarse candidate
    * survives at the finer point (DedupSpec pins the inclusion chain).
    * Buckets capped deterministically per [[MaxBucket]]. */
  private[graft] def vecBandCandidates(sig: DataFrame, bands: Int = LshBands,
      bitsPerBand: Int = LshBandBits, maxBucket: Int = MaxBucket): DataFrame = {
    require(bands * bitsPerBand <= H,
      s"bands ($bands) x bitsPerBand ($bitsPerBand) exceeds the $H-bit signature")
    val stackArgs = (0 until bands).map { b =>
      s"'p$b', shiftright(sig, ${b * bitsPerBand}) & ${(1L << bitsPerBand) - 1}"
    }.mkString(", ")
    val banded = Dedup.capped(
      sig.selectExpr("vec_id", s"stack($bands, $stackArgs) as (band_id, band_key)"),
      "vec_id", Seq("band_id", "band_key"), maxBucket)
    Dedup.bandPairs(banded, banded, "vec_id", _ =!= _, "query_id", "neighbor_id")
  }

  def simLshTopk(s: SparkSession, dir: String): DataFrame = {
    val cand = vecBandCandidates(VecKernel.signatures(s, dir, H))
    VecKernel.pairDots(s, dir, cand)
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("dot_scaled").desc, col("neighbor_id"))))
      .where(col("rank") <= LshTopK)
      .withColumn("cos_sim", col("dot_scaled").cast("double") / lit(1e12))
  }

  val simLshTopkSql: String =
    s"""WITH $evSql,
       |planes AS (
       |  SELECT j, i, ${wFormula("j", "i")} AS w
       |  FROM (SELECT unnest(generate_series(0, ${H - 1})) AS j),
       |       LATERAL (SELECT unnest(generate_series(0, (SELECT MAX(i) FROM ev) - 1)) AS i) t),
       |dots AS (
       |  SELECT ev.vec_id, planes.j, SUM(ev.e * planes.w) AS d
       |  FROM ev JOIN planes ON ev.i = planes.i + 1
       |  GROUP BY 1, 2),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN j < 8 AND d >= 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS b0,
       |    CAST(SUM(CASE WHEN j >= 8 AND d >= 0 THEN (1 << (j - 8)) ELSE 0 END) AS BIGINT) AS b1
       |  FROM dots GROUP BY vec_id),
       |bands0 AS (
       |  SELECT vec_id, 'p0' AS band_id, b0 AS band_key FROM sig
       |  UNION ALL SELECT vec_id, 'p1', b1 FROM sig),
       |bands AS (
       |  SELECT vec_id, band_id, band_key FROM (
       |    SELECT vec_id, band_id, band_key,
       |           ROW_NUMBER() OVER (PARTITION BY band_id, band_key ORDER BY vec_id) AS rn
       |    FROM bands0) WHERE rn <= $MaxBucket),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id <> b.vec_id),
       |exact AS (
       |  SELECT c.query_id, c.neighbor_id, CAST(SUM(ea.e * eb.e) AS BIGINT) AS dot_scaled
       |  FROM cand c
       |  JOIN ev ea ON ea.vec_id = c.query_id
       |  JOIN ev eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, neighbor_id, dot_scaled,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY dot_scaled DESC, neighbor_id) AS rank
       |  FROM exact)
       |SELECT query_id, neighbor_id, dot_scaled, CAST(rank AS INT) AS rank,
       |       CAST(dot_scaled AS DOUBLE) / 1e12 AS cos_sim
       |FROM ranked WHERE rank <= $LshTopK""".stripMargin

  // --------------------------------------------------- sim_index_upsert
  /** Arrival batch for the index-maintenance gates: vec_id ≡ 1 (mod 4)
    * plays the newly-ingested vectors, the rest the stored index. */
  val IndexUpsertMod = 4

  /** ANN index MAINTENANCE — the composition a 100 TB vector lake runs
    * continuously: the IVF-PQ index is a stored table
    * ([[simIvfPqTopkOver]]'s input schema), new vectors arrive in
    * batches, and an update must NOT re-encode the corpus. The batch is
    * encoded against the FROZEN training-time quantizer (coarse
    * centroids + PQ codebook — re-training is an offline event that
    * rebuilds the index wholesale; FAISS's `add` has the same
    * contract), then merged by [[Snapshots.upsertOver]]: one key
    * shuffle of (index + batch), batch-bounded encode COMPUTE (the
    * filter sits below the encode kernel, so the N·(C+pqC)·dim dot
    * work runs over arrival rows only; the mod predicate is a
    * gate-scale stand-in and does not push to the parquet scan — in
    * production the arrival batch is its own table and the stored side
    * is read from the index table, not re-encoded at all). At 100 TB
    * the index table is vec_id-bucketed and the merge join is
    * co-located ([[graft.sources.Bucketing]]), making the whole update
    * O(batch) I/O plus one bounded merge.
    *
    * The gate searches the MAINTAINED index and hash-checks against the
    * one-pass index oracle ([[simIvfPqTopkSql]] verbatim): per-row
    * encoding under a frozen quantizer means base ∪ upserted-batch must
    * reconstruct the full index EXACTLY — any drift (a batch row
    * assigned to a different cell, a lost or duplicated id, update
    * not winning over a stale row) breaks the hash. */
  def simIndexUpsert(s: SparkSession, dir: String): DataFrame = {
    val c = nCentroids(Tables.embeddings(s, dir).count())
    // ONE quantizer collect serves both encode passes — the frozen
    // training-time artifact, collected once and broadcast per pass
    // (ivfPqEncode would otherwise re-collect centroids + codebook for
    // each side)
    val q = VecKernel.collectQuantizer(s, dir, c, KMeans.PqC)
    def enc(pred: Column) = VecKernel.ivfPqEncodeWith(
      s, dir, q, NProbe, KMeans.PqC, KMeans.PqM, Some(pred))
    // the "stored" side: everything that was indexed at ingest time
    val stored = enc(col("vec_id") % IndexUpsertMod =!= 1)
    // the arrival batch: encoded alone — batch-bounded kernel work
    val batch = enc(col("vec_id") % IndexUpsertMod === 1)
    val merged = Snapshots.upsertOver(stored, batch, "vec_id").drop("op")
    simIvfPqTopkOver(merged.repartition(col("vec_id")))
  }

  /** Recall@[[IvfPqTopK]] of the MAINTAINED index against brute-force
    * ground truth on the [[NQueries]] probe sample — the metric that
    * tells an operator whether incremental maintenance degraded the
    * index (it must not: frozen-quantizer encoding is order-independent,
    * so maintained recall ≡ rebuilt recall, which this gate pins
    * cross-engine). Same one-pass hit-count shape as
    * [[simRecallEval]]. */
  def simIndexRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = VecKernel.bruteTopk(s, dir, IvfPqTopK, _ < NQueries)
      .select(col("query_id"), col("neighbor_id"))
    val approx = simIndexUpsert(s, dir)
      .where(col("query_id") < NQueries)
      .select(col("query_id"), col("neighbor_id"))
    exact.join(approx.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")).as("recall"))
  }

  /** Oracle: the maintained index must search exactly like the one-pass
    * index, so both sides nest the EXISTING gate oracles verbatim. */
  val simIndexRecallSql: String =
    s"""WITH approx AS (
       |  SELECT query_id, neighbor_id FROM ($simIvfPqTopkSql) WHERE query_id < $NQueries),
       |brute AS (
       |  SELECT query_id, neighbor_id FROM ($simTopkSql) WHERE rank <= $IvfPqTopK),
       |hits AS (
       |  SELECT b.query_id, COUNT(1) AS n_hits
       |  FROM brute b JOIN approx a
       |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY 1),
       |ex AS (SELECT query_id, COUNT(1) AS n_exact FROM brute GROUP BY 1)
       |SELECT ex.query_id, ex.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(ex.n_exact AS DOUBLE) AS recall
       |FROM ex LEFT JOIN hits h ON ex.query_id = h.query_id""".stripMargin

  // ---------------------------------------------------- sim_recall_eval
  /** Index-quality evaluation: recall@[[IvfTopK]] of the IVF search
    * against the exact brute-force ground truth on the [[NQueries]]
    * probe sample — the metric an ANN deployment watches when tuning
    * (nprobe, cells, caps). The 100 TB shape is exactly this: ground
    * truth is affordable only on a SAMPLED probe set (brute cost is
    * probes×N — bounded by the sample), while the approx side runs the
    * real index; per-query integer hit counts hash-check, the recall
    * ratio is one IEEE division. */
  def simRecallEval(s: SparkSession, dir: String): DataFrame = {
    val exact = VecKernel.bruteTopk(s, dir, IvfTopK, _ < NQueries)
      .select(col("query_id"), col("neighbor_id"))
    val approx = simIvfTopk(s, dir)
      .where(col("query_id") < NQueries)
      .select(col("query_id"), col("neighbor_id"))
    // ONE pass over the brute kernel: a hit marker rides the left join
    // and both counts come from the same aggregation (a separate
    // n_exact branch would re-execute the probes×N scoring loop, which
    // sits above the exchange where ReuseExchange can't share it)
    exact.join(approx.withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"), count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_exact"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_exact").cast("double")).as("recall"))
  }

  /** Oracle: both sides are the EXISTING gate oracles verbatim, nested
    * as subqueries — the eval can't drift from what it evaluates. */
  val simRecallEvalSql: String =
    s"""WITH approx AS (
       |  SELECT query_id, neighbor_id FROM ($simIvfTopkSql) WHERE query_id < $NQueries),
       |brute AS (
       |  SELECT query_id, neighbor_id FROM ($simTopkSql) WHERE rank <= $IvfTopK),
       |hits AS (
       |  SELECT b.query_id, COUNT(1) AS n_hits
       |  FROM brute b JOIN approx a
       |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY 1),
       |ex AS (SELECT query_id, COUNT(1) AS n_exact FROM brute GROUP BY 1)
       |SELECT ex.query_id, ex.n_exact, COALESCE(h.n_hits, 0) AS n_hits,
       |       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(ex.n_exact AS DOUBLE) AS recall
       |FROM ex LEFT JOIN hits h ON ex.query_id = h.query_id""".stripMargin
}
