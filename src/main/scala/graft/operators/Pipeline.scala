package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Composed pipeline + remaining join-type coverage. */
object Pipeline {

  /** q39: FULL OUTER join — the one join type the per-query inventory
    * didn't yet gate-check. High-balance suppliers vs customers per
    * nation: at fixture scale several nations have suppliers but no
    * qualifying customers (and vice versa), so both null sides of the
    * full outer are exercised; COALESCE makes the output total and
    * deterministic. Plans as a shuffle full-outer SMJ on the nation
    * key — both sides are pre-aggregated to ≤ #nations rows, so at
    * 100 TB the join input is dimension-sized regardless of fact
    * volume. */
  def q39FullOuter(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir).where(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
    // tighter than the supplier cut so BOTH null sides occur at the
    // gate scale factor (nations with suppliers but no qualifying
    // customers, and vice versa)
    val cust = Tables.customer(s, dir).where(col("c_acctbal") > 9900)
      .groupBy(col("c_nationkey").as("nk2")).agg(count(lit(1)).as("n_cust"))
    sup.join(cust, col("nk") === col("nk2"), "full_outer")
      .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"))
  }

  val q39FullOuterSql: String =
    """SELECT COALESCE(s.nk, c.nk) AS nationkey,
      |       COALESCE(s.n_supp, 0) AS n_supp,
      |       COALESCE(c.n_cust, 0) AS n_cust
      |FROM (SELECT s_nationkey AS nk, CAST(COUNT(1) AS BIGINT) AS n_supp
      |      FROM supplier WHERE s_acctbal > 9000 GROUP BY 1) s
      |FULL OUTER JOIN
      |     (SELECT c_nationkey AS nk, CAST(COUNT(1) AS BIGINT) AS n_cust
      |      FROM customer WHERE c_acctbal > 9900 GROUP BY 1) c
      |ON s.nk = c.nk""".stripMargin

  /** The training-data pipeline CAPSTONE: the stages every LLM corpus
    * pass runs, composed end to end on the engine's own operators —
    *  1. exact-dup collapse (keep the md5-canonical copy,
    *     [[Dedup.dedupExact]]),
    *  2. near-dup collapse (keep each LSH-connected-component's
    *     canonical doc, [[Dedup.dedupCc]]),
    *  3. quality floor ([[TextAnalysis.taQuality]] composite ≥ 0.5).
    * Output: the SURVIVING corpus with its quality stats — what you'd
    * actually feed a tokenizer. Each stage is the already-verified
    * operator, so the composition inherits their scale properties
    * (hash shuffle, capped LSH candidates, O(diameter) CC rounds); the
    * oracle composes the same three DuckDB subqueries. */
  def pipelineClean(s: SparkSession, dir: String): DataFrame = {
    val exactCanon = Dedup.dedupExact(s, dir)
      .where(col("is_dup") === 0).select(col("doc_id"))
    val ccCanon = Dedup.dedupCc(s, dir)
      .where(col("is_canonical") === 1).select(col("doc_id"))
    TextAnalysis.taQuality(s, dir)
      .select(col("doc_id"), col("n_chars"), col("quality_score"))
      .join(exactCanon, "doc_id")
      .join(ccCanon, "doc_id")
      .where(col("quality_score") >= 0.5)
  }

  val pipelineCleanSql: String =
    s"""SELECT q.doc_id, q.n_chars, q.quality_score
       |FROM (${TextAnalysis.taQualitySql}) q
       |JOIN (SELECT doc_id FROM (${Dedup.dedupExactSql}) WHERE is_dup = 0) ex
       |  ON q.doc_id = ex.doc_id
       |JOIN (SELECT doc_id FROM (${Dedup.dedupCcSql}) WHERE is_canonical = 1) cc
       |  ON q.doc_id = cc.doc_id
       |WHERE q.quality_score >= 0.5e0""".stripMargin

  /** Repetition ceiling for [[pipelineFull]] survivors: documents whose
    * duplicate-trigram mass reaches this fraction are degenerate
    * boilerplate and dropped (MassiveText drops at 0.30; the fixture
    * corpus is a 40-word synthetic vocabulary, so a looser cut keeps
    * the gate populated while still exercising the filter). */
  val FullDupTriMax = 0.5

  /** The raw-crawl → tokenizer-manifest CAPSTONE over the round-4
    * cleaning stages (the dedup-side capstone is [[pipelineClean]]):
    *  1. denylist scrub ([[Cleaning.taDenylistScrub]]) — training text
    *     is the SCRUBBED text from here on,
    *  2. benchmark decontamination ([[Cleaning.taDecontaminate]]) —
    *     contaminated docs (and the benchmark split itself) drop,
    *  3. repetition filter ([[Cleaning.taRepetition]]) — degenerate
    *     docs (duplicate-trigram mass ≥ [[FullDupTriMax]]) drop,
    *  4. sequence packing ([[Cleaning.packChunks]]'s manifest shape) —
    *     survivors are concatenated per language stream and cut every
    *     [[Cleaning.ChunkTokens]] tokens, counting the scrubbed tokens.
    * Output: the per-document chunk manifest you would hand a
    * tokenizer, with the scrub hit count carried through. Every stage
    * is an already-verified operator, so the composition inherits their
    * scale shapes (per-row regex, broadcast semi-join, bounded-key agg,
    * per-stream window); the oracle composes the same DuckDB
    * subqueries. */
  def pipelineFull(s: SparkSession, dir: String): DataFrame = {
    val keepDecont = Cleaning.taDecontaminate(s, dir)
      .where(col("contaminated") === 0).select(col("doc_id"))
    val keepRep = Cleaning.taRepetition(s, dir)
      .where(col("dup_trigram_frac") < FullDupTriMax).select(col("doc_id"))
    // count tokens ON THE SCRUB OUTPUT, before any join: the regex is
    // CPU-dense per byte, so it must run in the fully-parallel scan
    // stage — left after the doc_id joins it lands in the post-shuffle
    // stage, where AQE's byte-based coalescing sees "small" shuffle
    // bytes and packs ~the whole corpus into one task (measured at the
    // 10× rehearsal: 8.5 s of a 10.2 s wall in a single task; this
    // form distributes it and stops shipping full text through three
    // shuffles)
    val scrubbed = Cleaning.taDenylistScrub(s, dir)
      .select(col("doc_id"), col("n_hits"),
        size(regexp_extract_all(col("scrubbed"), lit("\\S+"), lit(0)))
          .cast("long").as("n_tokens"))
    val surv = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(keepDecont, "doc_id")
      .join(keepRep, "doc_id")
      .join(scrubbed, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_hits").as("n_denylist_hits"),
        col("n_tokens"))
    // packing delegates to the SAME manifest kernel as taPackChunks —
    // the span arithmetic (incl. the zero-token empty-span rule) lives
    // in one place and cannot drift between packer and capstone
    Cleaning.chunkManifest(surv, Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("n_denylist_hits"), col("first_chunk"), col("last_chunk"),
        col("n_chunks"))
  }

  val pipelineFullSql: String = {
    val ct = Cleaning.ChunkTokens
    s"""WITH surv AS (
       |  SELECT d.doc_id, d.lang, s.n_hits AS n_denylist_hits,
       |         CAST(len(regexp_extract_all(s.scrubbed, '\\S+')) AS BIGINT) AS n_tokens
       |  FROM documents d
       |  JOIN (SELECT doc_id FROM (${Cleaning.taDecontaminateSql})
       |        WHERE contaminated = 0) dc ON d.doc_id = dc.doc_id
       |  JOIN (SELECT doc_id FROM (${Cleaning.taRepetitionSql})
       |        WHERE dup_trigram_frac < ${FullDupTriMax}e0) r ON d.doc_id = r.doc_id
       |  JOIN (${Cleaning.taDenylistScrubSql}) s ON d.doc_id = s.doc_id),
       |c AS (
       |  SELECT doc_id, lang, n_tokens, n_denylist_hits,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |  FROM surv)
       |SELECT doc_id, lang, n_tokens, n_denylist_hits,
       |  cb // $ct AS first_chunk,
       |  CASE WHEN n_tokens = 0 THEN cb // $ct - 1
       |       ELSE (cb + n_tokens - 1) // $ct END AS last_chunk,
       |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
       |       ELSE (cb + n_tokens - 1) // $ct - cb // $ct + 1 END AS n_chunks
       |FROM c""".stripMargin
  }

  // ------------------------------------------------------ search_hybrid
  /** Candidate-pool size taken from each retriever before fusion. */
  val HybridPoolK = 100
  /** Fused results returned. */
  val HybridTopK = 20
  /** Reciprocal-rank-fusion smoothing constant (the standard 60). */
  val RrfK = 60

  /** Pool-parameterized reciprocal-rank-fusion core over two
    * (doc_id, score) rankings: each side is cut to its top-`poolK`,
    * ranked, and fused by rrf = 1/(k+r_bm) + 1/(k+r_vec) over the docs
    * present in BOTH pools; the top-`topK` fused rows return.
    *
    * SIZING poolK is result-quality-critical on duplicate-heavy
    * corpora: near-exact copies of each side's champions fill a fixed
    * pool (d duplicates of each top doc leave only poolK/d distinct
    * docs per pool), and the cross-pool id intersection — and with it
    * the fused result — can go EMPTY. The 10×-duplicated rehearsal
    * measured exactly that at poolK=100. Rule: poolK ≥ duplication
    * factor × the distinct-doc depth you need fused; or dedup upstream
    * (this engine's dedup family exists for that). SimilaritySpec's
    * "search_hybrid pool sizing" test pins the saturation case and its
    * poolK-scaled recovery.
    *
    * 100 TB shape: each side's pool is a TakeOrdered (per-partition
    * top-k, no global sort of scores), so the only globally-sorted data
    * is 2·poolK rows; rank assignment and fusion run on those — the
    * unpartitioned windows are safe by construction (≤ poolK rows each
    * after the limit). The fusion arithmetic is two IEEE divisions of
    * exact small integers summed in fixed order — bit-equal across
    * engines, so even the fused float ranking hash-checks. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, poolK: Int, topK: Int): DataFrame = {
    require(poolK >= 1, s"poolK must be >= 1, got $poolK")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def pool(scores: DataFrame, rName: String) = scores
      .orderBy(col("score").desc, col("doc_id")).limit(poolK)
      .withColumn(rName, row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id"), col(rName))
    pool(lex, "r_bm").join(pool(vec, "r_vec"), "doc_id")
      .withColumn("rrf",
        lit(1.0) / (lit(RrfK) + col("r_bm")) + lit(1.0) / (lit(RrfK) + col("r_vec")))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf").desc, col("doc_id"))))
      .where(col("rank") <= topK)
  }

  /** Hybrid retrieval — the RAG-serving read path over this engine's own
    * indexes: a lexical ranking ([[CorpusOps.taBm25]] over the fixed
    * query terms) and a vector ranking (exact dots against query vector
    * 0 through the [[VecKernel.pairDots]] kernel), fused by [[rrfFuse]]
    * at the caller's (poolK, topK) operating point. The gate query runs
    * the ([[HybridPoolK]], [[HybridTopK]]) = (100, 20) oracle point. */
  def searchHybrid(s: SparkSession, dir: String,
      poolK: Int = HybridPoolK, topK: Int = HybridTopK): DataFrame = {
    val bm = CorpusOps.taBm25(s, dir)
      .select(col("doc_id"), col("bm25_total").as("score"))
    val pairs = Tables.embeddings(s, dir).select(col("vec_id"))
      .where(col("vec_id") =!= 0L)
      .select(lit(0L).as("query_id"), col("vec_id").as("neighbor_id"))
    val vec = VecKernel.pairDots(s, dir, pairs)
      .select(col("neighbor_id").as("doc_id"), col("dot_scaled").as("score"))
    rrfFuse(bm, vec, poolK, topK)
  }

  /** Second gate operating point for the r6 (poolK, topK)
    * parameterization — wider pools, deeper fusion, hash-checked
    * against the SAME oracle shape at different constants (so the
    * parameters are oracle-verified, not just spec'd). */
  val HybridWidePoolK = 250
  val HybridWideTopK = 30

  def searchHybridWide(s: SparkSession, dir: String): DataFrame =
    searchHybrid(s, dir, HybridWidePoolK, HybridWideTopK)

  val searchHybridSql: String = searchHybridSqlAt(HybridPoolK, HybridTopK)
  lazy val searchHybridWideSql: String =
    searchHybridSqlAt(HybridWidePoolK, HybridWideTopK)

  def searchHybridSqlAt(poolK: Int, topK: Int): String =
    s"""WITH bm AS (
       |  SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25_total DESC, doc_id) AS INT) AS r_bm
       |  FROM (SELECT * FROM (${CorpusOps.taBm25Sql}) t
       |        ORDER BY bm25_total DESC, doc_id LIMIT $poolK)),
       |ev AS (
       |  SELECT vec_id, i, CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS e
       |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t),
       |vd AS (
       |  SELECT ev.vec_id, CAST(SUM(ev.e * q0.e) AS BIGINT) AS dot_scaled
       |  FROM ev JOIN (SELECT i, e FROM ev WHERE vec_id = 0) q0 USING (i)
       |  WHERE ev.vec_id <> 0 GROUP BY 1),
       |vr AS (
       |  SELECT vec_id AS doc_id, CAST(ROW_NUMBER() OVER (ORDER BY dot_scaled DESC, vec_id) AS INT) AS r_vec
       |  FROM (SELECT * FROM vd ORDER BY dot_scaled DESC, vec_id LIMIT $poolK)),
       |fused AS (
       |  SELECT doc_id, r_bm, r_vec,
       |         1.0 / ($RrfK + r_bm) + 1.0 / ($RrfK + r_vec) AS rrf
       |  FROM bm JOIN vr USING (doc_id))
       |SELECT doc_id, r_bm, r_vec, rrf,
       |       CAST(rank AS INT) AS rank
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rank FROM fused)
       |WHERE rank <= $topK""".stripMargin

  // --------------------------------------------------- pipeline_scored
  /** The filter table a training-data pipeline actually materializes:
    * the cleaning capstone's survivors ([[pipelineFull]] — scrubbed,
    * decontaminated, repetition-filtered) annotated with the TRAINED
    * quality classifier's score and prediction
    * ([[Classifier.taQualityClf]]). Composed at the OPERATOR level —
    * both inputs are themselves oracle-gated, and the oracle nests
    * their two oracle SQLs verbatim, so this capstone cannot drift
    * from its parts (the same guarantee [[Similarity.simRecallEvalSql]]
    * uses). Downstream keeps `WHERE clf_pred = 1` (or thresholds
    * `clf_score`) before packing. */
  def pipelineScored(s: SparkSession, dir: String): DataFrame =
    pipelineFull(s, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_denylist_hits"))
      .join(Classifier.taQualityClf(s, dir)
        .select(col("doc_id"), col("score").as("clf_score"),
          col("pred").as("clf_pred")), "doc_id")

  val pipelineScoredSql: String =
    s"""WITH pf AS (
       |  SELECT doc_id, lang, n_tokens, n_denylist_hits FROM ($pipelineFullSql)),
       |clf AS (
       |  SELECT doc_id, score AS clf_score, pred AS clf_pred FROM (${Classifier.taQualityClfSql}))
       |SELECT pf.doc_id, pf.lang, pf.n_tokens, pf.n_denylist_hits,
       |       clf.clf_score, clf.clf_pred
       |FROM pf JOIN clf USING (doc_id)""".stripMargin

  // ------------------------------------------------------ pipeline_ppl
  /** CCNet-style perplexity partitioning (Wenzek et al. 2020): train a
    * KN-smoothed bigram LM on a held-out high-quality split (stand-in:
    * doc_id % 3 == 0, the engine-wide split convention), score every
    * remaining document under it ([[CorpusOps.taLmKnVs]]), and cut the
    * corpus into head/middle/tail TERCILES by exact order statistics of
    * the score — head = most reference-like. CCNet cuts on perplexity
    * (a log); this cuts on the mean transition probability, a monotone
    * per-doc statistic of the same model that keeps every number one
    * IEEE division of exact integers (the [[CorpusOps.taLmKn]]
    * determinism argument — no libm in the hash path).
    *
    * The tercile cuts ride [[Selection.exactFracRanksOver]] on
    * kn_ppm = floor(kn_score·10^12) (exact: the product of two doubles
    * is one correctly-rounded op, floor is exact, so both engines
    * derive the same long): two bounded kernel passes, cut values land
    * on the driver as two literals, bucket assignment is a
    * comparison — no global sort anywhere. 100 TB: scoring is the
    * linear KN join; the kernel's driver state is |score range|/W
    * histogram rows; the scored frame is persisted across its three
    * consumers (two kernel passes + the final bucketing). RELEASE
    * CONTRACT: the terminal action runs in the caller — harnesses
    * clearCache() between queries; a long-lived library session owns
    * the sweep. */
  def pipelinePpl(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val ref = docs.where(col("doc_id") % 3 === 0)
    val rest = docs.where(col("doc_id") % 3 =!= 0)
    val scored = CorpusOps.taLmKnVs(rest, ref)
      .withColumn("kn_ppm", floor(col("kn_score") * lit(1e12)))
      .persist()
    val cuts = Selection.exactFracRanksOver(s,
      scored.select(col("kn_ppm").as("cents")), Seq((1, 1L, 3L), (2, 2L, 3L)))
      .orderBy("p").collect().map(_.getAs[Long]("cents"))
    val (t1, t2) = (cuts(0), cuts(1))
    scored.select(col("doc_id"), col("n_bigrams"), col("n_oov_bigrams"),
      col("kn_score"),
      when(col("kn_ppm") < t1, "tail").when(col("kn_ppm") < t2, "middle")
        .otherwise("head").as("bucket"))
  }

  val pipelinePplSql: String =
    """WITH refdocs AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g')), ' ') AS w
      |  FROM documents WHERE doc_id % 3 = 0),
      |restdocs AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g')), ' ') AS w
      |  FROM documents WHERE doc_id % 3 <> 0),
      |rbi AS (
      |  SELECT unnest(list_transform(
      |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM refdocs WHERE len(w) >= 2),
      |cbi AS (SELECT g, COUNT(1) AS c FROM rbi GROUP BY g),
      |lstats AS (
      |  SELECT string_split(g, ' ')[1] AS w1,
      |         CAST(SUM(c) AS BIGINT) AS cl, COUNT(1) AS n1l
      |  FROM cbi GROUP BY 1),
      |rstats AS (
      |  SELECT string_split(g, ' ')[2] AS w2, COUNT(1) AS n1r
      |  FROM cbi GROUP BY 1),
      |nbt AS (SELECT COUNT(1) AS nb FROM cbi),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM restdocs WHERE len(w) >= 2),
      |p AS (
      |  SELECT bi.doc_id,
      |         CAST(CASE
      |           WHEN cbi.c IS NOT NULL
      |             THEN (4 * cbi.c - 3) * nbt.nb + 3 * lstats.n1l * rstats.n1r
      |           WHEN lstats.cl IS NOT NULL
      |             THEN 3 * lstats.n1l * COALESCE(rstats.n1r, 0)
      |           ELSE COALESCE(rstats.n1r, 0) END AS DOUBLE)
      |         / CAST(CASE
      |           WHEN lstats.cl IS NOT NULL THEN 4 * lstats.cl * nbt.nb
      |           ELSE GREATEST(nbt.nb, 1) END AS DOUBLE) AS p
      |  FROM bi
      |  LEFT JOIN cbi ON bi.g = cbi.g
      |  LEFT JOIN lstats ON string_split(bi.g, ' ')[1] = lstats.w1
      |  LEFT JOIN rstats ON string_split(bi.g, ' ')[2] = rstats.w2
      |  CROSS JOIN nbt),
      |sc AS (
      |  SELECT doc_id, COUNT(1) AS n_bigrams,
      |         SUM(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS n_oov,
      |         list_reduce(list_sort(list(p)), (a, b) -> a + b) AS sum_p
      |  FROM p GROUP BY doc_id),
      |scored AS (
      |  SELECT d.doc_id,
      |    CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |    CAST(COALESCE(sc.n_oov, 0) AS BIGINT) AS n_oov_bigrams,
      |    CASE WHEN COALESCE(sc.n_bigrams, 0) > 0
      |         THEN sc.sum_p / CAST(sc.n_bigrams AS DOUBLE)
      |         ELSE CAST(0 AS DOUBLE) END AS kn_score
      |  FROM restdocs d LEFT JOIN sc ON d.doc_id = sc.doc_id),
      |sp AS (
      |  SELECT *, CAST(floor(kn_score * 1000000000000.0) AS BIGINT) AS kn_ppm
      |  FROM scored),
      |nt AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM sp),
      |r AS (SELECT kn_ppm, ROW_NUMBER() OVER (ORDER BY kn_ppm) AS rn FROM sp),
      |e AS (
      |  SELECT lbl, r.kn_ppm AS edge
      |  FROM (VALUES (1), (2)) AS v(lbl)
      |  CROSS JOIN nt JOIN r ON r.rn = (lbl * nt.n + 2) // 3)
      |SELECT sp.doc_id, sp.n_bigrams, sp.n_oov_bigrams, sp.kn_score,
      |  CASE WHEN sp.kn_ppm < e1.edge THEN 'tail'
      |       WHEN sp.kn_ppm < e2.edge THEN 'middle'
      |       ELSE 'head' END AS bucket
      |FROM sp, (SELECT edge FROM e WHERE lbl = 1) e1,
      |         (SELECT edge FROM e WHERE lbl = 2) e2""".stripMargin

  // ------------------------------------------------------ pipeline_mix
  /** Docs kept per source domain in the final mix. */
  val MixCapK = 15
  /** Epoch-shuffle seed and shard count for the mix manifest. */
  val MixSeed = 7
  val MixShards = 8

  /** The GRAND capstone — the full "build a training mix" run a data
    * team ships: [[pipelineScored]]'s cleaned/decontaminated/scored
    * survivors, filtered to docs scoring ABOVE the integer corpus-mean
    * classifier score (a relative quality floor — the absolute sign of
    * the scores depends on the training labels, the top-of-corpus cut
    * does not), CAPPED per source domain ([[MixCapK]], the bounded
    * top-K aggregate — no domain can dominate the mix), then
    * epoch-SHUFFLED into [[MixShards]] training shards by seeded
    * permutation. Output is the training-order manifest
    * (doc_id, source, shard, pos) a loader consumes directly.
    *
    * Every stage is a verified gate composed unchanged — the oracle
    * nests pipeline_scored's SQL verbatim under the mean cut, the cap
    * window, and the shuffle permutation, so the END-TO-END manifest
    * hash-checks, not just the stages. The mean is a truncating
    * integer division (scores can be negative, so the DuckDB twin
    * spells out truncation — `//` floors). Scale: additive — the
    * scored capstone's budget plus one 1-row broadcast, one K-bounded
    * aggregation, and one exchange on shard. */
  // ------------------------------------------------- pipeline_incr
  /** Quality floor for the incremental capstone (the `corpus_report`
    * threshold). */
  val IncrQualityFloor = 0.5

  /** The STEADY-STATE capstone — what the pipeline runs every day once
    * the initial corpus exists: an arrival batch (doc_id ≡ 1 mod 3) is
    * content-deduped against the standing snapshot (md5-fingerprint
    * anti-join, [[Cleaning.dedupIncrementalVs]]), deduped WITHIN
    * itself (min-id keeper per fingerprint — two crawls of the same
    * page in one batch must not both land), floored on quality
    * (≥ [[IncrQualityFloor]]), and MERGED into the snapshot by the
    * generic upsert — whose key-uniqueness guard the within-batch
    * dedup satisfies by construction. Output: the post-merge snapshot
    * manifest (doc_id, source, op) — `insert` rows are exactly the
    * batch's surviving novel content, everything else `keep` (same-
    * content recrawls die in the dedup, so `update` does not occur
    * here; the update path is pinned by `snapshot_upsert` /
    * `snapshot_diff`).
    *
    * Scale: every stage is the verified incremental member — the
    * anti-join probes the snapshot's fingerprint index (batch-bounded
    * with the Bloom escalation), quality is per-row, the merge is one
    * co-locatable key shuffle. Nothing rescans the snapshot's text. */
  def pipelineIncr(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Cleaning, Snapshots}
    val docs = Tables.documents(s, dir)
    val batch = docs.where(col("doc_id") % 3 === 1)
    val snapshot = docs.where(col("doc_id") % 3 =!= 1)
    val fp = md5(TextAnalysis.normalized(col("text"))).as("fp_norm")
    val novel = Cleaning.dedupIncrementalVs(
        batch.select(col("doc_id"), fp),
        snapshot.select(fp))
      .where(col("is_new") === 1)
    // within-batch keeper: first (min-id) occurrence per fingerprint
    val keeper = novel.groupBy(col("fp_norm")).agg(min(col("doc_id")).as("doc_id"))
    val survivors = batch
      .join(keeper.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(TextAnalysis.taQuality(s, dir)
          .select(col("doc_id"), col("quality_score")), "doc_id")
      .where(col("quality_score") >= IncrQualityFloor)
      .select(docs.columns.map(col): _*)
    Snapshots.upsertOver(snapshot, survivors, "doc_id")
      .select(col("doc_id"), col("source"), col("op"))
  }

  /** Oracle composes the member oracles: the fingerprint anti-join,
    * the min-id keeper, the quality gate's score (nested verbatim),
    * and the full-outer merge — over the same mod-3 split. */
  lazy val pipelineIncrSql: String =
    s"""WITH b AS (SELECT * FROM documents WHERE doc_id % 3 = 1),
       |snap AS (SELECT * FROM documents WHERE doc_id % 3 <> 1),
       |fpb AS (SELECT doc_id,
       |        md5(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g'))) AS fp
       |        FROM b),
       |fps AS (SELECT DISTINCT
       |        md5(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g'))) AS fp
       |        FROM snap),
       |novel AS (
       |  SELECT fpb.doc_id, fpb.fp FROM fpb LEFT JOIN fps USING (fp)
       |  WHERE fps.fp IS NULL),
       |keeper AS (SELECT MIN(doc_id) AS doc_id FROM novel GROUP BY fp),
       |q AS (SELECT doc_id, quality_score FROM (${TextAnalysis.taQualitySql})),
       |surv AS (
       |  SELECT b.* FROM b
       |  JOIN keeper USING (doc_id)
       |  JOIN q USING (doc_id)
       |  WHERE q.quality_score >= $IncrQualityFloor)
       |SELECT COALESCE(surv.doc_id, snap.doc_id) AS doc_id,
       |       COALESCE(surv.source, snap.source) AS source,
       |       CASE WHEN surv.doc_id IS NOT NULL AND snap.doc_id IS NOT NULL THEN 'update'
       |            WHEN surv.doc_id IS NOT NULL THEN 'insert'
       |            ELSE 'keep' END AS op
       |FROM snap FULL OUTER JOIN surv ON snap.doc_id = surv.doc_id""".stripMargin

  def pipelineMix(s: SparkSession, dir: String): DataFrame = {
    // materialize the scored table ONCE (r16): it feeds two consumers —
    // the threshold aggregate (a broadcast subquery) and the kept
    // filter — and without the cut each re-executed the ENTIRE
    // pipelineFull+classifier subtree (JobProbe: 52 jobs, sum-job-wall
    // 6.1 s of a 5.4 s wall). Size-compacted like every loop state.
    val scored = graft.Graft.compactCheckpoint(pipelineScored(s, dir))
    val thr = scored.agg(
      expr("sum(clf_score) div count(1)").cast("long").as("thr"))
    val kept = scored.crossJoin(broadcast(thr))
      .where(col("clf_score") > col("thr"))
      .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
    val qa = udaf(new graft.functions.TopKAgg[String](MixCapK))
    val capped = kept
      .select(col("source"), CorpusOps.hashIdKey(col("doc_id")).as("k"))
      .groupBy(col("source")).agg(qa(col("k")).as("topk"))
      .select(col("source"), explode(col("topk")).as("k"))
      .select(col("source"), CorpusOps.hashIdKeyDecode(col("k")).as("doc_id"))
    CorpusOps.epochShuffleOver(
        capped.select(col("doc_id"), col("source")), MixSeed, MixShards)
      .select(col("doc_id"), col("source"), col("shard"), col("pos"))
  }

  val pipelineMixSql: String =
    s"""WITH scall AS (SELECT doc_id, clf_score FROM ($pipelineScoredSql)),
       |thr AS (
       |  SELECT CASE WHEN SUM(clf_score) >= 0
       |              THEN SUM(clf_score) // COUNT(1)
       |              ELSE 0 - ((0 - SUM(clf_score)) // COUNT(1)) END AS t
       |  FROM scall),
       |sc AS (SELECT doc_id FROM scall, thr WHERE clf_score > thr.t),
       |keepd AS (
       |  SELECT sc.doc_id, d.source FROM sc JOIN documents d USING (doc_id)),
       |h1 AS (
       |  SELECT doc_id, source,
       |         md5(CAST(doc_id AS VARCHAR)) || ':' || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS k
       |  FROM keepd),
       |r1 AS (
       |  SELECT doc_id, source,
       |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY k) AS rn
       |  FROM h1),
       |cap AS (SELECT doc_id, source FROM r1 WHERE rn <= $MixCapK),
       |h2 AS (
       |  SELECT doc_id, source,
       |         md5('ep$MixSeed:' || CAST(doc_id AS VARCHAR)) AS hkey
       |  FROM cap),
       |sh AS (
       |  SELECT doc_id, source, hkey,
       |         CAST(CAST(('0x' || substr(hkey, 1, 15)) AS BIGINT) % $MixShards AS INT) AS shard
       |  FROM h2)
       |SELECT doc_id, source, shard,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id) AS INT) AS pos
       |FROM sh""".stripMargin

  // --------------------------------------------------- pipeline_rules
  /** Rule-gated ingestion funnel — the per-source accounting of the
    * standard "filter cheap, dedup what survives" front half:
    * [[graft.operators.TextAnalysis.taGopherRules]]' `passes` is the
    * scan-speed floor, exact-dup keepers are chosen AMONG THE PASSERS
    * (filter-then-dedup: the dedup shuffle carries only surviving
    * rows), and the per-source card reports docs in → rule-passers →
    * kept canonicals → kept token mass (the gopher pass's own
    * `n_words` — ONE scan feeds both the rules and the budget).
    * Composes three verified operators; the oracle nests the gopher
    * SQL verbatim, so a rule change re-verifies the whole funnel. */
  def pipelineRules(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val g = TextAnalysis.taGopherRules(s, dir)
      .select(col("doc_id"), col("n_words"), col("passes"))
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      md5(TextAnalysis.normalized(col("text"))).as("fp"))
    val p = d.join(g, "doc_id").where(col("passes") === 1)
    val keep = p.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    val kept = p.join(keep,
      p("fp") === keep("fp") && p("doc_id") === keep("keeper"))
    val tot = Tables.documents(s, dir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val pass = p.groupBy(col("source")).agg(count(lit(1)).as("n_pass"))
    val kk = kept.groupBy(p("source").as("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_words")).as("tokens_kept"))
    tot.join(pass, Seq("source"), "left").join(kk, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_pass"), lit(0L)).as("n_pass"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
  }

  val pipelineRulesSql: String =
    s"""WITH g AS (${graft.operators.TextAnalysis.taGopherRulesSql}),
       |d AS (SELECT doc_id, source,
       |             md5(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g'))) AS fp
       |      FROM documents),
       |p AS (SELECT d.doc_id, d.source, d.fp, g.n_words
       |      FROM d JOIN g ON d.doc_id = g.doc_id WHERE g.passes = 1),
       |k AS (SELECT fp, MIN(doc_id) AS keeper FROM p GROUP BY fp),
       |kept AS (SELECT p.* FROM p JOIN k ON p.fp = k.fp AND p.doc_id = k.keeper),
       |tot AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_docs
       |        FROM documents GROUP BY source),
       |pp AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_pass FROM p GROUP BY source),
       |kk AS (SELECT source, CAST(COUNT(1) AS BIGINT) AS n_kept,
       |              CAST(SUM(n_words) AS BIGINT) AS tokens_kept
       |       FROM kept GROUP BY source)
       |SELECT tot.source, tot.n_docs,
       |       COALESCE(pp.n_pass, 0) AS n_pass,
       |       COALESCE(kk.n_kept, 0) AS n_kept,
       |       COALESCE(kk.tokens_kept, 0) AS tokens_kept
       |FROM tot LEFT JOIN pp ON tot.source = pp.source
       |LEFT JOIN kk ON tot.source = kk.source""".stripMargin

  // -------------------------------------------------- corpus_waterfall
  /** The dedup WATERFALL card — per source, how many docs each tier of
    * the dedup stack would remove, attributed in waterfall order so
    * the columns are disjoint and sum to n_docs: exact byte-normalized
    * copies first (`dedup_exact`), then MinHash near-dups at the CC
    * threshold among the exact-survivors (`dedup_minhash`), then
    * semantic (SemDeDup) dups among what's left (`dedup_semantic`),
    * then keepers. This is the planning table behind "what does each
    * tier buy us" — the reason pipelines run cheap tiers first — and
    * it composes three verified operators under one #sources-keyed
    * aggregation, so its cost IS the members' cost (the
    * `corpus_report` discipline).
    *
    * The MinHash tier's flag is derived at [[Dedup.CcThreshold]] — the
    * SAME operating point `dedup_cc` clusters at, so the card counts
    * what the cluster pass would actually merge. */
  def corpusWaterfall(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val ex = Dedup.dedupExact(s, dir)
      .select(col("doc_id"), (col("is_dup") === 1).as("e"))
    val nh = Dedup.dedupMinhash(s, dir)
      .select(col("doc_id"),
        (col("best_est_jaccard") >= Dedup.CcThreshold).as("n"))
    val sm = Dedup.dedupSemantic(s, dir)
      .select(col("vec_id").as("doc_id"), col("is_dup").as("m"))
    docs
      .join(ex, Seq("doc_id"), "left")
      .join(nh, Seq("doc_id"), "left")
      .join(sm, Seq("doc_id"), "left")
      .select(col("source"),
        coalesce(col("e"), lit(false)).as("e"),
        coalesce(col("n"), lit(false)).as("n"),
        coalesce(col("m"), lit(false)).as("m"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("e"), 1L).otherwise(0L)).as("n_exact"),
        sum(when(!col("e") && col("n"), 1L).otherwise(0L)).as("n_near_new"),
        sum(when(!col("e") && !col("n") && col("m"), 1L).otherwise(0L)).as("n_sem_new"),
        sum(when(!col("e") && !col("n") && !col("m"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Twin: the three member oracles verbatim as parenthesized
    * subqueries (the `pipeline_mix` nesting idiom), the same disjoint
    * waterfall attribution. */
  lazy val corpusWaterfallSql: String =
    s"""WITH ex AS (SELECT doc_id, is_dup = 1 AS e FROM (${Dedup.dedupExactSql})),
       |nh AS (SELECT doc_id, best_est_jaccard >= ${Dedup.CcThreshold} AS n
       |       FROM (${Dedup.dedupMinhashSql})),
       |sm AS (SELECT vec_id AS doc_id, is_dup AS m FROM (${Dedup.dedupSemanticSql})),
       |f AS (
       |  SELECT d.source,
       |         COALESCE(ex.e, FALSE) AS e,
       |         COALESCE(nh.n, FALSE) AS n,
       |         COALESCE(sm.m, FALSE) AS m
       |  FROM documents d
       |  LEFT JOIN ex ON d.doc_id = ex.doc_id
       |  LEFT JOIN nh ON d.doc_id = nh.doc_id
       |  LEFT JOIN sm ON d.doc_id = sm.doc_id)
       |SELECT source,
       |       CAST(COUNT(1) AS BIGINT) AS n_docs,
       |       CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |       CAST(SUM(CASE WHEN NOT e AND n THEN 1 ELSE 0 END) AS BIGINT) AS n_near_new,
       |       CAST(SUM(CASE WHEN NOT e AND NOT n AND m THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_new,
       |       CAST(SUM(CASE WHEN NOT e AND NOT n AND NOT m THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM f GROUP BY 1""".stripMargin
}
