package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Corpus-level operators for an LLM training-data pipeline: term
  * weighting (TF-IDF), n-gram language-model counts, and deterministic
  * stratified sampling. These complement the per-document operators in
  * [[TextAnalysis]] — each one is a corpus-wide aggregation whose
  * shuffle keys (term / n-gram / stratum) are the natural partitioning
  * at 100 TB.
  *
  * Cross-engine determinism: scores are single IEEE-754 divisions of
  * exact integer products (no transcendentals — libm log() differs per
  * engine, ULP flips would reorder near-tied ranks); sampling buckets
  * derive from md5, bit-identical everywhere.
  */
object CorpusOps {

  import TextAnalysis.normalized

  /** Non-empty normalized tokens, one row per occurrence. */
  private[operators] def tokens(s: SparkSession, dir: String): DataFrame =
    tokensOf(Tables.documents(s, dir))

  private[operators] def tokensOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(split(normalized(col("text")), " ")).as("term"))
      .where(col("term") =!= "")

  private[operators] val tokensCteSql: String =
    """toks AS (
      |  SELECT doc_id,
      |         unnest(string_split(trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g')), ' ')) AS term
      |  FROM documents)""".stripMargin

  // ----------------------------------------------------------- ta_tfidf
  /** Top terms kept per document. */
  val TfidfTopK = 5

  /** Top-[[TfidfTopK]] characteristic terms per document by TF-IDF.
    *
    * The idf factor is the raw rarity ratio N/df rather than its log:
    * score = tf·N/df is one IEEE division of exact integers — bit-equal
    * in any engine — and ranks identically to tf·(N/df) under any
    * monotone transform of the second factor per fixed tf. (log-damped
    * variants put near-equal scores at the mercy of libm ULP
    * differences, which flip ranks across engines.)
    *
    * Plan shape: one token scan feeds both tf (groupBy doc,term) and df
    * (distinct doc,term → groupBy term); N is a broadcast scalar; the
    * tf⋈df join shuffles on `term`. At 100 TB df/N are small side
    * tables (vocabulary-sized) — the join broadcasts.
    */
  def taTfidf(s: SparkSession, dir: String): DataFrame = {
    // tf feeds df AND the scored join, through ONE materialized
    // exchange: tf roots in a deliberate repartition on `term` (the
    // join key, so the join adds no further shuffle) and the df branch
    // aggregates count(when(tf > 0, doc_id)) — semantically count(1)
    // (tf ≥ 1 by construction, doc_id non-null) but it REFERENCES all
    // three tf columns, so ColumnPruning cannot prune the df branch
    // below the repartition into a non-identical subtree and
    // ReuseExchange fires (PlanSpec asserts exactly one tf aggregate
    // materializes; a plain count(1) df measured ~+30% from executing
    // the token pipeline once per branch). persist() would be the naive
    // alternative, but it leaks cache past the action; df as a window
    // over PARTITION BY term would serialize the Zipf head ("the" puts
    // its entire posting list in one task at 100 TB).
    val tf = tokens(s, dir)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .repartition(col("term"))
    val df = tf.groupBy(col("term"))
      .agg(count(when(col("tf") > 0, col("doc_id"))).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        ((col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
          .as("score"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term"))))
      .where(col("rnk") <= TfidfTopK)
  }

  val taTfidfSql: String =
    s"""WITH $tokensCteSql,
       |tf AS (SELECT doc_id, term, COUNT(1) AS tf FROM toks GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY term),
       |n AS (SELECT COUNT(1) AS n_docs FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |         CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
       |  FROM tf JOIN df USING (term) CROSS JOIN n),
       |r AS (
       |  SELECT doc_id, term, tf, df, score,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk
       |  FROM scored)
       |SELECT * FROM r WHERE rnk <= $TfidfTopK""".stripMargin

  // ------------------------------------------------------------ ta_bm25
  /** BM25 length-normalization parameters (standard values). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** Query terms scored against every document. */
  val Bm25Query: Seq[String] = Seq("model", "data", "learning")

  /** BM25 retrieval scoring of a fixed term query against the corpus —
    * the search/relevance counterpart of [[taTfidf]]. Standard BM25 tf
    * saturation ((tf·(k1+1)) / (tf + k1·(1−b+b·len/avglen))) with a
    * RATIONAL idf, (N−df+0.5)/(df+0.5), in place of its log: the log is
    * monotone, so per-term score ordering is preserved, and the chain
    * stays IEEE +,−,×,÷ on exact inputs — bit-equal across engines
    * (libm log is not). Plan: tokens → per-doc tf for query terms only
    * (predicate pushes into the scan of the exploded stream), df/avglen
    * are broadcast scalars, final score is one shuffle on doc_id. */
  def taBm25(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(s, dir).where(col("term").isin(Bm25Query: _*))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val lens = Tables.documents(s, dir) // plain (r17): fan-out lost on the light lens scan (search_hybrid x0.85)
      .select(col("doc_id"),
        size(split(normalized(col("text")), " ")).cast("long").as("dlen"))
    val stats = Tables.documents(s, dir)
      .agg(count(lit(1)).as("n_docs")).crossJoin(
        lens.agg(sum(col("dlen")).as("total_len")))
    val scored = tf.join(df, "term")
      .join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        // avglen = total_len/n_docs (IEEE div of exact longs); the whole
        // chain below is the same expression tree on both engines
        ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) *
          (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * col("dlen") /
              (col("total_len").cast("double") / col("n_docs").cast("double")))))
          .as("bm25"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"),
        // per-term scores are bit-identical; the 1-3 element sum is
        // ordered by sort_array so addition order matches the oracle's
        expr("aggregate(sort_array(collect_list(bm25)), cast(0.0 as double), (a, x) -> a + x)")
          .as("bm25_total"))
  }

  val taBm25Sql: String = {
    val inList = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""WITH $tokensCteSql,
       |tf AS (
       |  SELECT doc_id, term, COUNT(1) AS tf FROM toks
       |  WHERE term IN ($inList) GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(1) AS df FROM tf GROUP BY term),
       |lens AS (
       |  SELECT doc_id,
       |         CAST(len(string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ')) AS BIGINT) AS dlen
       |  FROM documents),
       |stats AS (
       |  SELECT (SELECT COUNT(1) FROM documents) AS n_docs,
       |         (SELECT SUM(dlen) FROM lens) AS total_len),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    (stats.n_docs - df.df + 0.5e0) / (df.df + 0.5e0) *
       |    (tf.tf * ${Bm25K1 + 1.0}e0) /
       |    (tf.tf + ${Bm25K1}e0 * (${1.0 - Bm25B}e0 +
       |      ${Bm25B}e0 * lens.dlen /
       |        (CAST(stats.total_len AS DOUBLE) / CAST(stats.n_docs AS DOUBLE)))) AS bm25
       |  FROM tf JOIN df USING (term) JOIN lens ON tf.doc_id = lens.doc_id
       |  CROSS JOIN stats)
       |SELECT doc_id, COUNT(1) AS n_terms_hit,
       |       list_aggregate(list_sort(list(bm25)), 'sum') AS bm25_total
       |FROM scored GROUP BY doc_id""".stripMargin
  }

  // --------------------------------------------------------- ta_bigrams
  /** Corpus bigram rows kept (count-desc, bigram-asc tiebreak). */
  val BigramTopN = 100

  /** Corpus-wide bigram frequency table (top-[[BigramTopN]]) — the
    * n-gram counting pass of language-model training data prep. One
    * occurrence per adjacent token pair (NOT distinct-per-doc: LM
    * counts weigh by frequency). The groupBy shuffles on the bigram
    * itself; top-N is a TakeOrdered over partial per-partition tops, no
    * global sort materialization. */
  def taBigrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(split(normalized(col("text")), " ").as("w"))
      .where(size(col("w")) >= 2)
      .selectExpr(
        s"${TextAnalysis.gramExplodeExpr(2, distinctPerDoc = false)} as bigram")
      .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram"))
      .limit(BigramTopN)

  val taBigramsSql: String =
    s"""WITH docs AS (
       |  SELECT string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ') AS w
       |  FROM documents),
       |bg AS (
       |  SELECT unnest(list_transform(
       |    generate_series(1, len(w) - 1),
       |    i -> w[i] || ' ' || w[i+1])) AS bigram
       |  FROM docs WHERE len(w) >= 2)
       |SELECT bigram, COUNT(1) AS cnt FROM bg GROUP BY bigram
       |ORDER BY cnt DESC, bigram LIMIT $BigramTopN""".stripMargin

  // ------------------------------------------------------ corpus_drift
  /** Hashed feature space for the drift monitor (coarser than the
    * importance model's — drift wants stable per-bucket mass). */
  val DriftBuckets = 256

  /** Distribution-drift monitor — "does today's crawl still look like
    * the corpus": hashed-unigram bucket masses for the arrival batch
    * (doc_id ≡ 1 mod 3) vs the standing snapshot, summarized per
    * bucket with both sides' counts and the batch's expected count
    * under the snapshot distribution (exact integer
    * `n_batch·c_snap div n_snap` — the χ²-style per-bucket expectation
    * a monitoring system thresholds on), plus the absolute deviation.
    * Everything is integer, so the drift table hash-checks; the IEEE
    * log-ratio tests (KL/JSD) a notebook might run downstream consume
    * these counts, which is the part a 100-TB engine must get
    * exactly right.
    *
    * Scale: two map-side-combinable censuses onto [[DriftBuckets]]
    * rows; the comparison is a [[DriftBuckets]]-row join — driver-size
    * state at any corpus size. */
  def corpusDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // is_batch derives from doc_id, which the token stream already
    // carries — no join back onto documents on the per-token hot path
    val toks = tokensOf(docs.select(col("doc_id"), col("text")))
      .withColumn("is_batch", col("doc_id") % 3 === 1)
      .withColumn("bucket",
        expr("cast(conv(substr(md5(term), 1, 15), 16, 10) as bigint)") % DriftBuckets)
    val census = toks.groupBy(col("bucket"))
      .agg(sum(when(col("is_batch"), 1L).otherwise(0L)).as("c_batch"),
        sum(when(col("is_batch"), 0L).otherwise(1L)).as("c_snap"))
    val tot = census.agg(sum(col("c_batch")).as("n_batch"),
      sum(col("c_snap")).as("n_snap"))
    // the n_batch·c_snap product overflows Int64 once both sides carry
    // ~10⁹+ tokens (Spark would wrap silently, DuckDB's HUGEINT twin
    // would not) — widen through DECIMAL(38,0) and come back to BIGINT
    // after the division, whose result is ≤ n_batch by construction
    val expected = expr(
      "cast((cast(n_batch as decimal(38,0)) * c_snap) div n_snap as bigint)")
    census.crossJoin(broadcast(tot))
      .select(col("bucket"), col("c_batch"), col("c_snap"),
        expected.as("expected"),
        abs(col("c_batch") - expected).as("abs_dev"))
  }

  val corpusDriftSql: String =
    s"""WITH $tokensCteSql,
       |tk AS (
       |  SELECT CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % $DriftBuckets AS bucket,
       |         doc_id % 3 = 1 AS is_batch
       |  FROM toks WHERE term <> ''),
       |c AS (
       |  SELECT bucket,
       |         CAST(SUM(CASE WHEN is_batch THEN 1 ELSE 0 END) AS BIGINT) AS c_batch,
       |         CAST(SUM(CASE WHEN is_batch THEN 0 ELSE 1 END) AS BIGINT) AS c_snap
       |  FROM tk GROUP BY 1),
       |n AS (SELECT CAST(SUM(c_batch) AS BIGINT) AS n_batch,
       |             CAST(SUM(c_snap) AS BIGINT) AS n_snap FROM c)
       |SELECT bucket, c_batch, c_snap,
       |       CAST((CAST(n.n_batch AS HUGEINT) * c.c_snap) // n.n_snap AS BIGINT) AS expected,
       |       ABS(c.c_batch - CAST((CAST(n.n_batch AS HUGEINT) * c.c_snap) // n.n_snap AS BIGINT)) AS abs_dev
       |FROM c CROSS JOIN n""".stripMargin

  // ----------------------------------------------------- corpus_overlap
  /** Cross-source duplication matrix — the release-engineering table
    * behind "how much of source A is already in source B" (dataset
    * provenance audits, crawl-vendor overlap, benchmark-split
    * leakage between sources): one row per UNORDERED source pair
    * (src_a < src_b lexicographically) and lens, carrying the shared
    * fingerprint count, BOTH sides' distinct totals, and
    * `overlap_of_a` = |A∩B| / |A| for the smaller-named side (the
    * B-side containment is n_shared / n_b from the same row — both
    * totals ship so neither direction needs a second lookup).
    *
    * Scale: the per-(source, fp) distinct table partial-aggregates
    * map-side; the self-join key is the FINGERPRINT, whose cross-source
    * multiplicity is bounded by the SOURCE COUNT (each source
    * contributes one distinct row per fp) — so the pair fan-out per fp
    * is ≤ sources², independent of how many documents share the
    * content. */
  def corpusOverlap(s: SparkSession, dir: String): DataFrame = {
    // two lenses per document: the exact-content fp and the reorder-
    // invariant bag fp (shuffled boilerplate — ingredient lists, tag
    // clouds — shows up cross-source ONLY under the bag lens)
    val fp = Tables.documents(s, dir)
      .select(col("source"), explode(array(
        struct(lit("norm").as("kind"),
          md5(TextAnalysis.normalized(col("text"))).as("fp")),
        struct(lit("bag").as("kind"),
          md5(array_join(array_sort(array_distinct(
            split(TextAnalysis.normalized(col("text")), " "))), " ")).as("fp"))))
        .as("e"))
      .select(col("source"), col("e.kind").as("kind"), col("e.fp").as("fp"))
      .distinct()
    val totals = fp.groupBy(col("source"), col("kind")).agg(count(lit(1)).as("n"))
    val shared = fp.as("a").join(fp.as("b"),
        col("a.kind") === col("b.kind") && col("a.fp") === col("b.fp") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.kind").as("kind"),
        col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(totals.select(col("source").as("src_a"), col("kind"),
        col("n").as("n_a")), Seq("src_a", "kind"))
      .join(totals.select(col("source").as("src_b"), col("kind"),
        col("n").as("n_b")), Seq("src_b", "kind"))
      .select(col("kind"), col("src_a"), col("src_b"),
        col("n_a"), col("n_b"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_a").cast("double"))
          .as("overlap_of_a"))
  }

  val corpusOverlapSql: String =
    """WITH nz AS (
      |  SELECT source,
      |         trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g')) AS t
      |  FROM documents),
      |fp AS (
      |  SELECT DISTINCT source, 'norm' AS kind, md5(t) AS fp FROM nz
      |  UNION
      |  SELECT DISTINCT source, 'bag' AS kind,
      |         md5(array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' ')) AS fp
      |  FROM nz),
      |tt AS (SELECT source, kind, CAST(COUNT(1) AS BIGINT) AS n FROM fp GROUP BY 1, 2),
      |sh AS (
      |  SELECT a.kind, a.source AS src_a, b.source AS src_b,
      |         CAST(COUNT(1) AS BIGINT) AS n_shared
      |  FROM fp a JOIN fp b ON a.kind = b.kind AND a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2, 3)
      |SELECT sh.kind, sh.src_a, sh.src_b, ta.n AS n_a, tb.n AS n_b, sh.n_shared,
      |       CAST(sh.n_shared AS DOUBLE) / CAST(ta.n AS DOUBLE) AS overlap_of_a
      |FROM sh JOIN tt ta ON sh.src_a = ta.source AND sh.kind = ta.kind
      |        JOIN tt tb ON sh.src_b = tb.source AND sh.kind = tb.kind""".stripMargin

  // ------------------------------------------------------ corpus_budget
  /** Training-token budget projection — the planning table behind every
    * data-mix decision: per source, document and token counts (the
    * BPE-ish token measure from `ta_token_count`), the scheduled epoch
    * multiplier ([[EpochMixTargets]]), and the tokens the model will
    * actually SEE (`n_tokens × epochs`). Composes the verified token
    * counter with the verified mix recipe, so "will this mix reach 2T
    * tokens" is answered by the same arithmetic that builds the
    * schedule. One partial-aggregated pass; the multiplier is a
    * literal map lookup. */
  def corpusBudget(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = TextAnalysis.taTokenCount(s, dir).select(col("doc_id"), col("n_bpe"))
    docs.select(col("doc_id"), col("source")).join(toks, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bpe")).as("n_tokens"))
      .withColumn("n_epochs",
        coalesce(element_at(typedLit(EpochMixTargets), col("source")), lit(1))
          .cast("long"))
      .withColumn("training_tokens", col("n_tokens") * col("n_epochs"))
  }

  /** (lazy: references [[EpochMixTargets]], declared later in this
    * object — a strict val would capture null at class init.) */
  lazy val corpusBudgetSql: String = {
    val cases = EpochMixTargets.toSeq.sortBy(_._1)
      .map { case (src, n) => s"WHEN '$src' THEN $n" }.mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_extract_all(text, '[\\p{L}]+|[0-9]+|[^\\s\\p{L}0-9]')) AS BIGINT) AS n_bpe
       |  FROM documents)
       |SELECT source, CAST(COUNT(1) AS BIGINT) AS n_docs,
       |       CAST(SUM(n_bpe) AS BIGINT) AS n_tokens,
       |       CAST(CASE source $cases ELSE 1 END AS BIGINT) AS n_epochs,
       |       CAST(SUM(n_bpe) * (CASE source $cases ELSE 1 END) AS BIGINT) AS training_tokens
       |FROM t GROUP BY source""".stripMargin
  }

  // --------------------------------------------------- sample_temperature
  /** Sample budget denominator (target kept = corpus div this). */
  val TempBudgetDen = 2

  /** Temperature-based source re-balancing at α = 1/2 — the
    * multilingual-training recipe (sampled share ∝ n_source^α flattens
    * the head without starving the tail; XLM-R popularized α ≈ 0.3–0.7
    * over languages). α = 1/2 is the one exponent with an EXACT
    * integer form: weight = ⌊√n⌋, where IEEE sqrt of an integer
    * < 2^52 floors exactly in both engines (perfect squares are exact;
    * near-misses sit 1/(2k) away, orders beyond the ulp) — so unlike
    * arbitrary-α pow() the rates hash-check. Keep-rates follow
    * [[sampleMixture]]'s integer-ppm discipline with per-row md5
    * membership: deterministic, retry-stable, census-broadcast. */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val census = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      .withColumn("w", expr("cast(floor(sqrt(cast(n_src as double))) as bigint)"))
    val tot = census.agg(sum(col("n_src")).as("total"), sum(col("w")).as("sw"))
    val rates = census.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1000000L),
          expr(s"((total div $TempBudgetDen) * w) * 1000000 div (sw * n_src)"))
          .as("rate_ppm"))
    docs.join(broadcast(rates), "source")
      .where((expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
        % 1000000L) < col("rate_ppm"))
      .select(col("doc_id"), col("source"), col("rate_ppm"))
  }

  val sampleTemperatureSql: String =
    s"""WITH c AS (
       |  SELECT source, CAST(COUNT(1) AS BIGINT) AS n_src,
       |         CAST(floor(sqrt(CAST(COUNT(1) AS DOUBLE))) AS BIGINT) AS w
       |  FROM documents GROUP BY 1),
       |n AS (SELECT CAST(SUM(n_src) AS BIGINT) AS total,
       |             CAST(SUM(w) AS BIGINT) AS sw FROM c),
       |r AS (
       |  SELECT c.source,
       |         LEAST(1000000, ((n.total // $TempBudgetDen) * c.w) * 1000000 // (n.sw * c.n_src)) AS rate_ppm
       |  FROM c CROSS JOIN n)
       |SELECT d.doc_id, d.source, r.rate_ppm
       |FROM documents d JOIN r USING (source)
       |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < r.rate_ppm""".stripMargin

  // ---------------------------------------------------- ta_collocations
  /** Minimum pair/word count for a collocation candidate. */
  val CollocMinCount = 5

  /** PMI collocation mining — the "new-phrase discovery" pass ahead of
    * tokenizer training (a bigram whose co-occurrence far exceeds the
    * independence expectation is a unit the vocabulary should carry
    * whole). PMI = log(c_xy·N / (c_x·c_y)) is ranked here by its
    * integer floor-log2 surrogate
    * `pmi_int = ilog2(c_xy·N) − ilog2(c_x·c_y)` (the [[ilog2]] `bin`
    * device, exact in both engines), with the exact integer triple
    * (c_xy, c_x, c_y) carried so any finer rescoring downstream is
    * lossless. Low-count pairs are floored at [[CollocMinCount]] —
    * PMI's classic rare-pair pathology.
    *
    * Scale: bigram and unigram counts partial-aggregate map-side; the
    * unigram table joins the (already-MinCount-filtered) bigram table
    * twice on single-word keys; N is a 1-row broadcast. (c_xy·N stays
    * in Int64 while total tokens < ~3·10⁹ per training shard — beyond
    * that, run per-shard and merge counts first, the same regime note
    * as the classifier.) */
  def taCollocations(s: SparkSession, dir: String): DataFrame = {
    val tk = tokens(s, dir)
    val uni = tk.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val n = tk.agg(count(lit(1)).as("n"))
    val pairs = Tables.documents(s, dir)
      .select(split(normalized(col("text")), " ").as("w"))
      .where(size(col("w")) >= 2)
      .selectExpr(
        s"${TextAnalysis.gramExplodeExpr(2, distinctPerDoc = false)} as bigram")
      .select(split(col("bigram"), " ").getItem(0).as("w1"),
        split(col("bigram"), " ").getItem(1).as("w2"))
      .where(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .where(col("c_xy") >= CollocMinCount)
    pairs
      .join(uni.select(col("term").as("w1"), col("c").as("c_x")), "w1")
      .join(uni.select(col("term").as("w2"), col("c").as("c_y")), "w2")
      .where(col("c_x") >= CollocMinCount && col("c_y") >= CollocMinCount)
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        (ilog2(col("c_xy") * col("n")) - ilog2(col("c_x") * col("c_y")))
          .cast("long").as("pmi_int"))
  }

  val taCollocationsSql: String =
    s"""WITH $tokensCteSql,
       |tk AS (SELECT doc_id, term FROM toks WHERE term <> ''),
       |uni AS (SELECT term, CAST(COUNT(1) AS BIGINT) AS c FROM tk GROUP BY 1),
       |nn AS (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM tk),
       |docs2 AS (
       |  SELECT string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ') AS w
       |  FROM documents),
       |bg AS (
       |  SELECT w[i] AS w1, w[i+1] AS w2
       |  FROM docs2, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t
       |  WHERE len(w) >= 2),
       |pairs AS (
       |  SELECT w1, w2, CAST(COUNT(1) AS BIGINT) AS c_xy
       |  FROM bg WHERE w1 <> '' AND w2 <> ''
       |  GROUP BY 1, 2 HAVING COUNT(1) >= $CollocMinCount)
       |SELECT p.w1, p.w2, p.c_xy, ux.c AS c_x, uy.c AS c_y,
       |       CAST((length(bin(p.c_xy * nn.n)) - 1)
       |          - (length(bin(ux.c * uy.c)) - 1) AS BIGINT) AS pmi_int
       |FROM pairs p
       |JOIN uni ux ON p.w1 = ux.term
       |JOIN uni uy ON p.w2 = uy.term
       |CROSS JOIN nn
       |WHERE ux.c >= $CollocMinCount AND uy.c >= $CollocMinCount""".stripMargin

  // -------------------------------------------------------- ta_lm_score
  /** Corpus-bigram-LM quality scoring (the CCNet/RedPajama filter
    * family's "how typical is this text" signal, minus the external
    * model): the corpus's own bigram table IS the language model, and
    * each document is scored by the mean conditional probability
    * p(w2|w1) = c(w1 w2)/c(w1 ·) of its adjacent token pairs, plus the
    * most surprising transition (min p). Boilerplate and templated text
    * score high, token salad scores low — threshold either way.
    *
    * Cross-engine determinism: every p is ONE IEEE division of exact
    * counts; the per-doc mean folds the p's in SORTED order (the
    * [[taBm25]] trick — both engines reduce an identically-sorted list
    * left-to-right, and 0.0 + p1 == p1 exactly, so Spark's 0-seeded
    * fold equals DuckDB's first-element-seeded one bit-for-bit); min is
    * order-free. No transcendentals — a log-perplexity variant would put
    * ranks at libm's mercy.
    *
    * 100 TB shape: bigram and left-word counts are corpus aggregates
    * (vocabulary-bounded after partial agg); the probability join runs
    * at per-doc DISTINCT-bigram granularity — (doc, gram, multiplicity)
    * keys, bounded by doc length — then multiplicity re-expands INSIDE
    * the doc (array_repeat) so no instance-level stream ever shuffles;
    * the fold's collect_list is bounded by doc length (a doc must fit
    * an executor anyway). The gram-keyed join inherits Zipf skew on the
    * hottest bigram — AQE skew-join splits it. */
  /** Per-doc bigram multiplicities of a (doc_id, text) frame — the ONE
    * corpus explode every LM-scoring path shares. */
  private[graft] def perDocBigrams(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(normalized(col("text")), " ").as("w"))
    .where(size(col("w")) >= 2)
    .selectExpr("doc_id",
      s"${TextAnalysis.gramExplodeExpr(2, distinctPerDoc = false)} as g")
    .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("m"))

  /** Shared scoring tail: join per-doc gram multiplicities against a
    * bigram-count table (c_bi per gram; left-word totals derive from it
    * — vocabulary-sized inputs, never a corpus re-explode; the join is
    * UNHINTED — at web scale the unigram table outgrows any broadcast
    * limit and must be allowed to shuffle), re-expand multiplicity
    * inside the doc, sorted-fold. Unmatched grams score p = 0.0 (OOV). */
  private def lmScoreFrom(ids: DataFrame, perDocGram: DataFrame,
      cBi: DataFrame): DataFrame = {
    val cLeft = cBi.groupBy(split(col("g"), " ")(0).as("w1"))
      .agg(sum(col("c_bi")).as("c_left"))
    val p = perDocGram
      .join(cBi, Seq("g"), "left")
      .join(cLeft, split(col("g"), " ")(0) === col("w1"), "left")
      .select(col("doc_id"), col("m"),
        coalesce(col("c_bi").cast("double") / col("c_left").cast("double"),
          lit(0.0)).as("p"))
    foldDocScores(ids, p)
  }

  /** Shared per-doc fold for every LM-scoring path: expand each
    * (doc_id, m, p) gram probability to instance level INSIDE the doc
    * (array_repeat — no instance-level shuffle), then the sorted fold.
    * p = 0.0 counts as OOV. Output: (doc_id, n_bigrams, n_oov_bigrams,
    * lm_score = mean p, min_p), zero-filled for gram-less docs. */
  private def foldDocScores(ids: DataFrame, pm: DataFrame): DataFrame = {
    val scored = pm
      .select(col("doc_id"), explode(expr("array_repeat(p, cast(m as int))")).as("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((col("p") === 0.0).cast("long")).as("n_oov_bigrams"),
        expr("aggregate(sort_array(collect_list(p)), cast(0.0 as double), (a, x) -> a + x)")
          .as("sum_p"),
        min(col("p")).as("min_p"))
    ids.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov_bigrams"), lit(0L)).as("n_oov_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0,
          col("sum_p") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).as("lm_score"),
        coalesce(col("min_p"), lit(0.0)).as("min_p"))
  }

  def taLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // self-scored: the corpus IS the reference, so the bigram counts
    // derive from the SAME per-doc aggregate the scoring join consumes.
    // The subtree still executes once per consumer branch: exchange
    // reuse CANNOT fire for any gram-based kernel on this Spark version
    // — the explode goes through transform(...) lambdas, and plans
    // containing higher-order-function lambda variables never
    // canonicalize equal across branch copies (verified on the final
    // adaptive plan after equalizing every filter and column set; the
    // lambda-free taTfidf pipeline reuses fine under the same
    // treatment). Measured cost is negligible (0.4 s at the 100×
    // rehearsal, linear), and the genuine scale path is [[taLmScoreVs]]
    // against a stored reference LM, which explodes each side once.
    val pdg = perDocBigrams(docs)
    val cBi = pdg.groupBy(col("g")).agg(sum(col("m")).as("c_bi"))
    lmScoreFrom(docs.select(col("doc_id")), pdg, cBi)
      .drop("n_oov_bigrams") // impossible under self-reference
  }

  /** TWO-TABLE form — the real CCNet shape: score `corpus` documents
    * under a bigram LM trained on a separate high-quality `reference`
    * table (both (doc_id, text, ...)). Transitions absent from the
    * reference LM score p = 0.0 (maximal surprise) and are counted in
    * `n_oov_bigrams`; a document full of reference-like text scores
    * high. The gate query [[taLmScore]] remains the self-scored
    * operating point (reference = corpus, where OOV is impossible —
    * CorpusOpsSpec pins that equivalence and the OOV accounting). */
  def taLmScoreVs(corpus: DataFrame, reference: DataFrame): DataFrame = {
    // reference exploded once for its gram counts, corpus once for its
    // per-doc multiplicities; the shared tail does the rest
    val cBi = perDocBigrams(reference)
      .groupBy(col("g")).agg(sum(col("m")).as("c_bi"))
    lmScoreFrom(corpus.select(col("doc_id")), perDocBigrams(corpus), cBi)
  }

  val taLmScoreSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM docs WHERE len(w) >= 2),
      |cbi AS (SELECT g, COUNT(1) AS c_bi FROM bi GROUP BY g),
      |cleft AS (
      |  SELECT string_split(g, ' ')[1] AS w1, COUNT(1) AS c_left
      |  FROM bi GROUP BY 1),
      |p AS (
      |  SELECT bi.doc_id,
      |         CAST(cbi.c_bi AS DOUBLE) / CAST(cleft.c_left AS DOUBLE) AS p
      |  FROM bi
      |  JOIN cbi ON bi.g = cbi.g
      |  JOIN cleft ON string_split(bi.g, ' ')[1] = cleft.w1),
      |sc AS (
      |  SELECT doc_id, COUNT(1) AS n_bigrams,
      |         list_reduce(list_sort(list(p)), (a, b) -> a + b) AS sum_p,
      |         MIN(p) AS min_p
      |  FROM p GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CASE WHEN COALESCE(sc.n_bigrams, 0) > 0
      |       THEN sc.sum_p / CAST(sc.n_bigrams AS DOUBLE)
      |       ELSE CAST(0 AS DOUBLE) END AS lm_score,
      |  COALESCE(sc.min_p, CAST(0 AS DOUBLE)) AS min_p
      |FROM docs d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin

  // ------------------------------------------------------- ta_lm_kn
  /** Interpolated Kneser–Ney bigram LM score — the smoothed upgrade of
    * [[taLmScore]] and the model behind CCNet-style perplexity
    * filtering (Kneser & Ney 1995; Chen & Goodman 1998 §2.7; Wenzek et
    * al. 2020). MLE assigns p = 0 to any transition absent from the
    * reference, so MLE scores saturate on OOV-heavy docs; KN reserves
    * discounted mass for unseen transitions via the CONTINUATION
    * distribution (how many distinct left-contexts a word follows, not
    * how often it occurs), which is what separates "unusual but
    * well-formed" from "token salad".
    *
    * Exact-rational form, discount D = 3/4 exactly:
    *
    *   p(w2|w1) = [max(4c−3, 0)·NB + 3·N1L(w1)·N1R(w2)] / (4·cl(w1)·NB)
    *
    * with c = c(w1 w2), cl(w1) = Σ_w c(w1 w), N1L(w1) = |{w: c(w1 w)>0}|,
    * N1R(w2) = |{w: c(w w2)>0}|, NB = |{(w1,w2): c>0}| — the standard
    * interpolated-KN equation max(c−D,0)/cl + D·N1L/cl · N1R/NB
    * multiplied through by 4·cl·NB. Numerator and denominator are exact
    * int64 products, p is ONE IEEE division — bit-identical in any
    * engine (the [[taLmScore]] determinism argument; per-w1 the
    * numerators sum exactly to the denominator over the full vocabulary,
    * CorpusOpsSpec pins it). int64 bound: den = 4·cl·NB needs
    * cl·NB < 2^61 — ample at any tested SF (sf0.1: cl ≤ 6·10^5,
    * NB ≈ 3·10^5); at a web-scale corpus (cl ~ 10^10 of "of the",
    * NB ~ 10^9 types) switch to the algebraically-equal factored form
    * max(4c−3,0)/(4·cl) + (3·n1l·n1r)/(4·cl·NB) evaluated per-term in
    * doubles — any FIXED +,−,×,÷ tree of correctly-rounded IEEE ops
    * stays cross-engine deterministic; only the single-division form is
    * also overflow-proof by inspection, so the gate uses it.
    *
    * OOV tiers (two-table form): bigram seen → the formula; w1 seen,
    * bigram unseen → pure smoothed mass 3·N1L·N1R/(4·cl·NB) (> 0 when
    * w2 is seen anywhere — the KN point); w1 unseen → backoff to the
    * continuation distribution alone, p = N1R(w2)/NB; w2 never seen →
    * p = 0, counted in n_oov_bigrams. The self-scored gate has no OOV
    * tier (reference = corpus), so the column is dropped there,
    * mirroring [[taLmScore]].
    *
    * 100 TB shape identical to [[taLmScore]]: all four model tables
    * (c_bi, left stats, right stats, NB) are vocabulary-bounded corpus
    * aggregates; the scoring join runs at per-doc DISTINCT-bigram
    * granularity and multiplicity re-expands inside the doc; NB is a
    * broadcast 1-row frame. The gram-keyed joins inherit Zipf skew on
    * the hottest bigram — AQE skew-join splits them. */
  def taLmKn(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pdg = perDocBigrams(docs)
    val cBi = pdg.groupBy(col("g")).agg(sum(col("m")).as("c_bi"))
    knScoreFrom(docs.select(col("doc_id")), pdg, cBi)
      .drop("n_oov_bigrams") // impossible under self-reference
  }

  /** TWO-TABLE form — score `corpus` documents under a KN bigram LM
    * trained on a separate high-quality `reference` table (the real
    * CCNet shape; both (doc_id, text, ...)). See [[taLmKn]] for the
    * OOV tiers. */
  def taLmKnVs(corpus: DataFrame, reference: DataFrame): DataFrame = {
    val cBi = perDocBigrams(reference)
      .groupBy(col("g")).agg(sum(col("m")).as("c_bi"))
    knScoreFrom(corpus.select(col("doc_id")), perDocBigrams(corpus), cBi)
  }

  /** KN probability join + the shared [[foldDocScores]] tail; the
    * score column lands as `kn_score`. */
  private[graft] def knScoreFrom(ids: DataFrame, perDocGram: DataFrame,
      cBi0: DataFrame, materializeModel: Boolean = false): DataFrame = {
    // materializeModel (r17): cBi has FOUR consumers here (probability
    // join, left stats, right stats, NB) and gram-kernel subtrees never
    // reuse exchanges across branch copies (lambda canonicalization —
    // taLmScore's note), so the model aggregation — for the streaming
    // fold, TWO batch aggregations plus a full-outer merge — executes
    // once per consumer. Callers whose downstream action CONSUMES the
    // probabilities (the doremi trajectory's driver collect) opt into
    // ONE vocabulary-bounded checkpoint instead. The count()-actioned
    // scoring gates (ta_lm_kn) stay lazy: their action prunes the
    // model's values down to far less than one full materialization
    // (measured — the eager cut cost ta_lm_kn ×7 at sf0.1), and a
    // pruned redundant subtree beats an unprunable checkpoint there.
    val cBi =
      if (materializeModel) graft.Graft.compactCheckpoint(cBi0) else cBi0
    val lStats = cBi.groupBy(split(col("g"), " ")(0).as("w1"))
      .agg(sum(col("c_bi")).as("cl"), count(lit(1)).as("n1l"))
    val rStats = cBi.groupBy(split(col("g"), " ")(1).as("w2"))
      .agg(count(lit(1)).as("n1r"))
    val nb = cBi.agg(count(lit(1)).as("nb"))
    val num =
      when(col("c_bi").isNotNull, // bigram seen ⇒ w1/w2 stats all present
        (lit(4L) * col("c_bi") - lit(3L)) * col("nb") +
          lit(3L) * col("n1l") * col("n1r"))
        .otherwise(when(col("cl").isNotNull, // w1 seen, transition unseen
          lit(3L) * col("n1l") * coalesce(col("n1r"), lit(0L)))
          .otherwise(coalesce(col("n1r"), lit(0L)))) // w1 unseen: continuation backoff
    val den =
      when(col("cl").isNotNull, lit(4L) * col("cl") * col("nb"))
        .otherwise(greatest(col("nb"), lit(1L))) // nb ≥ 1 whenever n1r matched
    val p = perDocGram
      .join(cBi, Seq("g"), "left")
      .join(lStats, split(col("g"), " ")(0) === col("w1"), "left")
      .join(rStats, split(col("g"), " ")(1) === col("w2"), "left")
      .crossJoin(broadcast(nb))
      .select(col("doc_id"), col("m"),
        (num.cast("double") / den.cast("double")).as("p"))
    foldDocScores(ids, p).withColumnRenamed("lm_score", "kn_score")
  }

  val taLmKnSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |bi AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM docs WHERE len(w) >= 2),
      |cbi AS (SELECT g, COUNT(1) AS c FROM bi GROUP BY g),
      |lstats AS (
      |  SELECT string_split(g, ' ')[1] AS w1,
      |         CAST(SUM(c) AS BIGINT) AS cl, COUNT(1) AS n1l
      |  FROM cbi GROUP BY 1),
      |rstats AS (
      |  SELECT string_split(g, ' ')[2] AS w2, COUNT(1) AS n1r
      |  FROM cbi GROUP BY 1),
      |nbt AS (SELECT COUNT(1) AS nb FROM cbi),
      |p AS (
      |  SELECT bi.doc_id,
      |         CAST((4 * cbi.c - 3) * nbt.nb + 3 * lstats.n1l * rstats.n1r AS DOUBLE)
      |         / CAST(4 * lstats.cl * nbt.nb AS DOUBLE) AS p
      |  FROM bi
      |  JOIN cbi ON bi.g = cbi.g
      |  JOIN lstats ON string_split(bi.g, ' ')[1] = lstats.w1
      |  JOIN rstats ON string_split(bi.g, ' ')[2] = rstats.w2
      |  CROSS JOIN nbt),
      |sc AS (
      |  SELECT doc_id, COUNT(1) AS n_bigrams,
      |         list_reduce(list_sort(list(p)), (a, b) -> a + b) AS sum_p,
      |         MIN(p) AS min_p
      |  FROM p GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(COALESCE(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CASE WHEN COALESCE(sc.n_bigrams, 0) > 0
      |       THEN sc.sum_p / CAST(sc.n_bigrams AS DOUBLE)
      |       ELSE CAST(0 AS DOUBLE) END AS kn_score,
      |  COALESCE(sc.min_p, CAST(0 AS DOUBLE)) AS min_p
      |FROM docs d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin

  // ----------------------------------------------------- emb_centroids
  /** Per-label embedding centroids — the vector aggregation primitive
    * (k-means update step / IVF codebook training / class prototypes).
    * One posexplode → groupBy(label, dim) pass: the shuffle key is
    * (label, dim), so even a single giant label spreads over dim
    * partitions — no per-label skew. Elements are scaled to exact
    * integers (×10⁶, round — same convention as the similarity
    * kernels); the centroid is ONE IEEE division of exact ints, so
    * engines agree bitwise. At 100 TB this is a map-side-combined
    * partial agg per partition (64·#labels longs) before the shuffle.
    */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    graft.Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .select(col("label"), col("dim"),
        expr("cast(round(cast(e as double) * 1000000.0) as bigint)").as("se"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("se")).as("s"), count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim"), col("n_vecs"),
        (col("s").cast("double") / col("n_vecs").cast("double")).as("centroid"))

  val embCentroidsSql: String =
    """WITH ev AS (
      |  SELECT label, i - 1 AS dim,
      |         CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS se
      |  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t)
      |SELECT label, dim, COUNT(1) AS n_vecs,
      |       CAST(SUM(se) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS centroid
      |FROM ev GROUP BY label, dim""".stripMargin

  // ------------------------------------------------- sample_stratified
  /** Per-stratum keep-rate in percent. */
  val SampleRatePct = 20

  /** Deterministic stratified sampling: keep [[SampleRatePct]]% of
    * documents per (lang, source) stratum, selected by an md5-derived
    * bucket of the doc id. Hash sampling beats RNG sampling at scale:
    * no seed coordination across executors, stable under retries and
    * re-partitioning, and the SAME rows are kept on every engine — which
    * is also what makes it oracle-checkable. The filter is a pure
    * per-row predicate (no shuffle); the stratum columns just come
    * along for audit. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        (expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)") % 100)
          .as("bucket"))
      .where(col("bucket") < SampleRatePct)

  val sampleStratifiedSql: String =
    s"""SELECT doc_id, lang, source,
       |       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
       |FROM documents
       |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < $SampleRatePct""".stripMargin

  // --------------------------------------------------- sample_fixed_k
  /** Rows kept per stratum. */
  val SampleK = 3

  /** Exactly-k-per-stratum sample: the first [[SampleK]] docs per
    * (lang, source) in md5-of-id order — a deterministic bottom-k-by-
    * hash sketch, i.e. a uniform without-replacement sample that is
    * mergeable (min-k of a union = min-k of mins) and identical under
    * any partitioning/retry. Spark plans the row_number filter as
    * WindowGroupLimit: each partition keeps ≤ k rows per stratum BEFORE
    * the shuffle, so the exchange moves O(k·strata), not the corpus. */
  def sampleFixedK(s: SparkSession, dir: String): DataFrame = {
    val h = expr("md5(cast(doc_id as string))")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"), h.as("hkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang"), col("source"))
          .orderBy(col("hkey"), col("doc_id"))))
      .where(col("rn") <= SampleK)
      .select(col("doc_id"), col("lang"), col("source"), col("rn"))
  }

  val sampleFixedKSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS hkey
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, lang, source,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY hkey, doc_id) AS INT) AS rn
       |  FROM h)
       |SELECT doc_id, lang, source, rn FROM r WHERE rn <= $SampleK""".stripMargin

  // ---------------------------------------------------- corpus_split
  /** Percent of docs routed to train / val (rest = test). */
  val SplitTrainPct = 90
  val SplitValPct = 5

  /** Deterministic train/val/test HOLDOUT split — the assignment every
    * training run needs frozen before anything else touches the data.
    * The split is a pure per-row function of doc_id (salted md5 bucket
    * mod 100), so it is: stable under retries/speculation/partitioning,
    * reproducible years later from the id alone, disjoint and
    * exhaustive by construction, and — because the bucket comes from a
    * hash, not position — adding or removing OTHER docs never moves an
    * existing doc across splits (the property a positional split
    * violates and leakage audits depend on). Zero shuffle, zero
    * coordination; the same predicate can gate any downstream operator
    * ("train-split only") without materializing anything. */
  /** The salted split bucket as a reusable predicate kernel — any
    * operator can gate on "train-split only" without materializing the
    * assignment ([[graft.operators.Tokenizer.vocabCoverage]] does). */
  private[graft] def splitBucketExpr =
    expr("cast(conv(substr(md5(concat('split:', cast(doc_id as string))), 1, 15), 16, 10) as bigint) % 100")

  /** DuckDB twin of [[splitBucketExpr]]. */
  private[graft] val splitBucketSql =
    "CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100"

  def corpusSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = splitBucketExpr
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .select(col("doc_id"), col("lang"),
        when(col("bucket") < SplitTrainPct, lit("train"))
          .when(col("bucket") < SplitTrainPct + SplitValPct, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  val corpusSplitSql: String =
    s"""SELECT doc_id, lang,
       |  CASE WHEN b < $SplitTrainPct THEN 'train'
       |       WHEN b < ${SplitTrainPct + SplitValPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM (SELECT doc_id, lang,
       |        CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS b
       |      FROM documents)""".stripMargin

  // ---------------------------------------------------- corpus_report
  /** Per-SOURCE data card — the summary table a corpus release ships:
    * docs, exact-duplicate count and rate, docs clearing the quality
    * floor, and mean length, per crawl source. Composes two verified
    * operators ([[Dedup.dedupExact]], [[TextAnalysis.taQuality]]) under
    * one groupBy; every measure is integer-exact except the two rates,
    * each ONE IEEE division of exact counts (no double SUMMATION
    * anywhere — cross-engine mean-of-doubles depends on addition order,
    * so the card reports above-threshold counts instead of mean
    * scores). Scale: the dedup/quality inputs are the operators' own
    * budgets; the report adds one #sources-keyed aggregation. */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("n_ws"))
    base
      .join(Dedup.dedupExact(s, dir).select(col("doc_id"), col("is_dup")), "doc_id")
      .join(TextAnalysis.taQuality(s, dir)
        .select(col("doc_id"), col("quality_score")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup")).cast("long").as("n_exact_dups"),
        sum(when(col("quality_score") >= 0.5, 1L).otherwise(0L)).as("n_quality"),
        sum(col("n_ws")).as("tot_ws"))
      .select(col("source"), col("n_docs"), col("n_exact_dups"),
        (col("n_exact_dups").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"),
        col("n_quality"),
        (col("tot_ws").cast("double") / col("n_docs").cast("double"))
          .as("mean_ws_tokens"))
  }

  val corpusReportSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws
       |  FROM documents),
       |dup AS (SELECT doc_id, is_dup FROM (${Dedup.dedupExactSql})),
       |q AS (SELECT doc_id, quality_score FROM (${TextAnalysis.taQualitySql}))
       |SELECT d.source,
       |       CAST(COUNT(1) AS BIGINT) AS n_docs,
       |       CAST(SUM(dup.is_dup) AS BIGINT) AS n_exact_dups,
       |       CAST(SUM(dup.is_dup) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS dup_rate,
       |       CAST(SUM(CASE WHEN q.quality_score >= 0.5e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
       |       CAST(SUM(d.n_ws) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS mean_ws_tokens
       |FROM d
       |JOIN dup ON d.doc_id = dup.doc_id
       |JOIN q ON d.doc_id = q.doc_id
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------ sample_domain_cap
  /** Docs kept per source domain. */
  val DomainCapK = 10

  private[graft] def topKAgg = new graft.functions.TopKAgg[String](DomainCapK)

  /** The compound (md5(id), id) selection key, encoded as ONE
    * lexicographically-faithful string — the SINGLE definition shared
    * by [[sampleDomainCap]], [[sampleClusterCap]], and
    * [[Pipeline.pipelineMix]]'s cap stage (each oracle mirrors it as
    * `md5(...) || ':' || lpad(...)`), so a key-format change can never
    * de-synchronize one cap site from the others. The 19-digit pad
    * covers every NON-NEGATIVE long (max 9.2·10¹⁸), so no in-range id
    * can widen Spark's %d past the pad while DuckDB's lpad truncates —
    * the silent cross-engine divergence the previous 12-digit pad left
    * open for ids ≥ 10¹². Negative ids remain out of contract ('%019d'
    * emits a sign that lpad would place differently). */
  private[operators] def hashIdKey(id: Column): Column =
    format_string("%s:%019d", md5(id.cast("string")), id)

  /** Inverse of [[hashIdKey]]: the id back out of a selected key. */
  private[operators] def hashIdKeyDecode(k: Column): Column =
    substring_index(k, ":", -1).cast("long")

  /** Per-DOMAIN quota capping — "at most K docs per crawl host", the
    * standard guard against a handful of giant domains dominating a
    * training mix — as ONE aggregation: the bounded [[topKAgg]] top-K
    * state and the domain's total count ride the same groupBy, so the
    * cap, the rank, and the kept/total bookkeeping come out of a single
    * corpus pass. The windowed formulation ([[sampleFixedK]]'s shape)
    * can't do that: window functions don't compose with aggregates in
    * one pass, and its per-group state after WindowGroupLimit is
    * k·partitions vs the aggregate's hard K. Selection is bottom-K by
    * md5(doc_id) — a uniform without-replacement choice, deterministic
    * under any partitioning — with the compound (hash, id) sort key
    * encoded as ONE lexicographically-faithful string so the DuckDB
    * twin sorts identically. Output: (source, n_domain, rank_in_domain,
    * doc_id). */
  def sampleDomainCap(s: SparkSession, dir: String): DataFrame = {
    val qa = udaf(topKAgg)
    Tables.documents(s, dir)
      .select(col("source"), hashIdKey(col("doc_id")).as("k"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_domain"), qa(col("k")).as("topk"))
      .select(col("source"), col("n_domain"),
        posexplode(col("topk")).as(Seq("pos", "k")))
      .select(col("source"), col("n_domain"),
        (col("pos") + 1).cast("long").as("rank_in_domain"),
        hashIdKeyDecode(col("k")).as("doc_id"))
  }

  // ----------------------------------------------- sample_cluster_cap
  /** Vectors kept per k-means cell. */
  val ClusterCapK = 10

  /** SEMANTIC-diversity sampling — per-CLUSTER quotas instead of
    * per-domain: assign every embedding to its [[KMeans.embKmeans]]
    * Lloyd cell, then keep at most [[ClusterCapK]] vectors per cell
    * (bottom-K by md5, the [[sampleDomainCap]] selection rule). Capping
    * clusters instead of domains balances the sample across CONTENT
    * modes — a corpus that is 90% one topic contributes at most K docs
    * from that topic's cells, the curation step cluster-based pipelines
    * run after semantic dedup. Composition of two verified kernels:
    * the integer-exact Lloyd assignment and the bounded mergeable
    * top-K aggregate; the oracle nests the k-means CTE chain verbatim
    * under the window formulation of the cap.
    *
    * Scale: the assignment is [[KMeans.embKmeans]]'s budget (broadcast
    * centroids, one linear pass per iteration); the cap adds ONE
    * aggregation whose shuffle carries ≤ K keys per (cell, partition).
    * Output is K × cells rows at any corpus size. */
  def sampleClusterCap(s: SparkSession, dir: String): DataFrame = {
    val qa = udaf(new graft.functions.TopKAgg[String](ClusterCapK))
    KMeans.embKmeans(s, dir) // (vec_id, cell, n_members)
      .select(col("cell"), col("n_members"),
        hashIdKey(col("vec_id")).as("k"))
      .groupBy(col("cell"), col("n_members"))
      .agg(qa(col("k")).as("topk"))
      .select(col("cell"), col("n_members"),
        posexplode(col("topk")).as(Seq("pos", "k")))
      .select(col("cell"), col("n_members"),
        (col("pos") + 1).cast("long").as("rank_in_cluster"),
        hashIdKeyDecode(col("k")).as("vec_id"))
  }

  /** The k-means oracle nested verbatim (subquery-WITH), capped by the
    * same window formulation as [[sampleDomainCapSql]]. */
  val sampleClusterCapSql: String =
    s"""WITH base AS (SELECT * FROM (${KMeans.embKmeansSql})),
       |h AS (
       |  SELECT cell, n_members, vec_id,
       |         md5(CAST(vec_id AS VARCHAR)) || ':' || lpad(CAST(vec_id AS VARCHAR), 19, '0') AS k
       |  FROM base),
       |r AS (
       |  SELECT cell, n_members, vec_id,
       |         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY k) AS rn
       |  FROM h)
       |SELECT cell, n_members, CAST(rn AS BIGINT) AS rank_in_cluster, vec_id
       |FROM r WHERE rn <= $ClusterCapK""".stripMargin

  /** Oracle twin: the window formulation over the same compound string
    * key — sorted identically by both engines, so rank and membership
    * hash-check. */
  val sampleDomainCapSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, source,
       |         md5(CAST(doc_id AS VARCHAR)) || ':' || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS k
       |  FROM documents),
       |r AS (
       |  SELECT source, doc_id, k,
       |         CAST(COUNT(1) OVER (PARTITION BY source) AS BIGINT) AS n_domain,
       |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY k) AS rn
       |  FROM h)
       |SELECT source, n_domain, CAST(rn AS BIGINT) AS rank_in_domain, doc_id
       |FROM r WHERE rn <= $DomainCapK""".stripMargin

  // ---------------------------------------------------- sample_mixture
  /** Target language mixture (percent of the sample budget). */
  val MixTargetPct: Seq[(String, Int)] =
    Seq("en" -> 40, "zh" -> 25, "fr" -> 15, "es" -> 10, "de" -> 10)
  /** Sample budget = corpus size div this. */
  val MixBudgetDen = 2

  /** Domain-mixture sampling: draw a corpus-half sample whose language
    * proportions hit [[MixTargetPct]] — the data-mixing step of LLM
    * training (reweighting web/code/books/per-language shares before
    * tokenization). Per-language keep-rate (ppm, exact integers):
    * rate_g = min(1, desired_g / n_g) with desired_g = budget·pct/100 —
    * min(1, ·) because an under-represented language can't be
    * oversampled without replacement; membership is the same md5 bucket
    * as [[sampleStratified]] (retry-stable, partition-invariant,
    * engine-identical).
    *
    * 100 TB shape: the language census is a groupBy over a handful of
    * keys (map-side combined, output rows = #languages); the rate table
    * broadcasts back and the keep decision is a pure per-row predicate
    * — the corpus is never shuffled. */
  def sampleMixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val weights = MixTargetPct.toDF("lang", "pct")
    val total = docs.agg(count(lit(1)).as("total"))
    val rates = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      .join(weights, "lang")
      .crossJoin(broadcast(total))
      .select(col("lang"),
        least(lit(1000000L),
          expr(s"((total div $MixBudgetDen) * pct div 100) * 1000000 div n_lang"))
          .as("rate_ppm"))
    docs.join(broadcast(rates), "lang")
      .where((expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)")
        % 1000000L) < col("rate_ppm"))
      .select(col("doc_id"), col("lang"), col("rate_ppm"))
  }

  val sampleMixtureSql: String = {
    val values = MixTargetPct.map { case (l, p) => s"('$l', $p)" }.mkString(", ")
    s"""WITH w(lang, pct) AS (VALUES $values),
       |n AS (SELECT COUNT(1) AS total FROM documents),
       |c AS (SELECT lang, COUNT(1) AS n_lang FROM documents GROUP BY lang),
       |r AS (
       |  SELECT c.lang,
       |         LEAST(1000000, ((n.total // $MixBudgetDen) * w.pct // 100) * 1000000 // c.n_lang) AS rate_ppm
       |  FROM c JOIN w USING (lang) CROSS JOIN n)
       |SELECT d.doc_id, d.lang, r.rate_ppm
       |FROM documents d JOIN r USING (lang)
       |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 < r.rate_ppm""".stripMargin
  }

  // --------------------------------------------------- corpus_shuffle
  /** Gate operating point: epoch seed and shard count. */
  val EpochSeed = 1
  val EpochShards = 8

  /** Deterministic training-epoch shuffle: every document gets a
    * (shard, pos) — the global read order for one training epoch — from
    * a seeded md5 permutation. Changing the seed re-permutes the whole
    * corpus (the next epoch); the same seed reproduces the identical
    * order on any partitioning, any retry, any cluster size, which is
    * what makes a training run resumable and an ablation repeatable.
    *
    * Distributed shape: this is a DISTRIBUTED shuffle, not a global
    * sort — ONE exchange on `shard` (hash of the seeded key), then each
    * shard sorts independently inside its own task (spill-backed). The
    * trainer reads shards in shard order, rows in pos order; no
    * global-order coordination exists anywhere. At 100 TB you raise
    * `nShards` until a shard fits an executor (the shard count is the
    * parallelism of the epoch), exactly like [[Cleaning.taPackChunks]]'
    * packing shards. */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame =
    corpusShuffleWith(s, dir, EpochSeed, EpochShards)

  def corpusShuffleWith(s: SparkSession, dir: String, seed: Int, nShards: Int): DataFrame =
    epochShuffleOver(Tables.documents(s, dir).select(col("doc_id")), seed, nShards)

  /** The seeded-permutation kernel over any frame with a `doc_id` —
    * ONE definition shared by the gate and [[Pipeline.pipelineMix]]'s
    * shuffle stage, so a seed-format or hash-slice change can never
    * de-synchronize them (the [[graft.operators.Dedup]] `shinglesOf`
    * discipline). Extra input columns ride through unchanged. */
  private[operators] def epochShuffleOver(docs: DataFrame, seed: Int, nShards: Int): DataFrame = {
    val carried = docs.columns.filter(_ != "doc_id").map(col).toSeq
    docs
      .withColumn("hkey", expr(s"md5(concat('ep$seed:', cast(doc_id as string)))"))
      .withColumn("shard",
        (expr("cast(conv(substr(hkey, 1, 15), 16, 10) as bigint)") % nShards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("hkey"), col("doc_id"))))
      .select(col("doc_id") +: carried :+ col("shard") :+ col("pos"): _*)
  }

  val corpusShuffleSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, md5('ep$EpochSeed:' || CAST(doc_id AS VARCHAR)) AS hkey
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, hkey,
       |         CAST(CAST(('0x' || substr(hkey, 1, 15)) AS BIGINT) % $EpochShards AS INT) AS shard
       |  FROM h)
       |SELECT doc_id, shard,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hkey, doc_id) AS INT) AS pos
       |FROM sh""".stripMargin

  // ------------------------------------------------------ corpus_rank
  /** Rank-space buckets (first byte of the md5 key). At 100 TB widen
    * to a 2–3-byte prefix so each bucket's window stays executor-sized
    * — the bucket count is the ONLY knob. */
  val RankBuckets = 256

  /** GLOBAL RANK in a deterministic shuffle order — the sort-benchmark
    * kernel of the MapReduce lineage (TeraSort's range-partition
    * shape) as a rank table: every doc's exact position under the md5
    * key order. The textbook `ROW_NUMBER() OVER (ORDER BY key)` puts
    * the whole corpus through ONE window task; this is the two-phase
    * idiom that doesn't: (1) bucket by the key's first byte — the key
    * is a hash, so buckets are uniform — and count per bucket (map-side
    * partial), cumulative offsets over the 256-row census; (2)
    * row_number WITHIN each bucket (corpus/256 rows per window task)
    * + the broadcast offset. rank = offset + intra-bucket position;
    * md5 keys are unique per doc (unique doc_id), so the order — and
    * the hash-check — is total without a tie-break column.
    *
    * This is also `corpus_shuffle`'s missing complement: that operator
    * permutes into UNRANKED shards; this one prices the exact global
    * position when a consumer (curriculum order, resumable readers)
    * needs it. */
  def corpusRank(s: SparkSession, dir: String): DataFrame = {
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("k"))
      .withColumn("bucket", expr("cast(conv(substr(k, 1, 2), 16, 10) as int)"))
    val offsets = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("off"))
    keyed.join(broadcast(offsets), Seq("bucket"))
      .withColumn("rank", col("off") +
        row_number().over(Window.partitionBy(col("bucket")).orderBy(col("k"))))
      .select(col("doc_id"), col("k"), col("rank").cast("long").as("rank"))
  }

  val corpusRankSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents)
      |SELECT doc_id, k,
      |       CAST(ROW_NUMBER() OVER (ORDER BY k) AS BIGINT) AS rank
      |FROM keyed""".stripMargin

  // ------------------------------------------------------ ta_novelty
  /** Per-document NOVELTY score — the data-pruning signal "how much of
    * this doc has the corpus never seen before": the fraction of its
    * distinct 3-grams whose GLOBAL first occurrence (min doc_id —
    * arrival order) is this document. Late exact copies score 0, the
    * template-spam tail scores low, genuinely new material scores high
    * — the per-doc lens on the same redundancy the dedup family
    * removes pairwise.
    *
    * The plan never joins back on the gram key (a hot stop-gram would
    * be a skewed join key): n_novel(d) = \|{g : first_doc(g) = d}\| is
    * read DIRECTLY off the first-occurrence aggregation by regrouping
    * its (gram → min doc) output on the doc — two map-side-combinable
    * aggregations over the (doc, gram) stream plus one doc-keyed join
    * of two per-doc tables. Gram idiom shared with the dedup/bigram
    * family ([[TextAnalysis.gramExplodeExpr]]). */
  /** The per-doc distinct-3-gram stream — shared by [[taNovelty]] and
    * its streaming first-occurrence twin. */
  private[graft] def noveltyGramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(TextAnalysis.normalized(col("text")), " ").as("w"))
      .where(size(col("w")) >= 3)
      .selectExpr("doc_id",
        s"${TextAnalysis.gramExplodeExpr(3, distinctPerDoc = true)} as g")

  /** The novelty projection over any (doc_id, g) gram stream and any
    * (g, doc_id) first-occurrence table — shared by the one-shot gate
    * and the streamed fold so the two cannot drift. */
  private[graft] def noveltyOver(dg: DataFrame, firstSeen: DataFrame): DataFrame = {
    val perDoc = dg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    val novel = firstSeen
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty_ppm", expr("1000000 * n_novel div n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"), col("novelty_ppm"))
  }

  def taNovelty(s: SparkSession, dir: String): DataFrame = {
    val dg = noveltyGramsOf(Tables.documents(s, dir))
    noveltyOver(dg, dg.groupBy(col("g")).agg(min(col("doc_id")).as("doc_id")))
  }

  val taNoveltySql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '[^\p{L}]+', ' ', 'g')), ' ') AS w
      |  FROM documents),
      |dg AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(w)-2),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS g
      |  FROM docs WHERE len(w) >= 3),
      |per_doc AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_grams FROM dg GROUP BY 1),
      |fo AS (SELECT g, MIN(doc_id) AS doc_id FROM dg GROUP BY 1),
      |novel AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_novel FROM fo GROUP BY 1)
      |SELECT p.doc_id, p.n_grams,
      |       COALESCE(n.n_novel, 0) AS n_novel,
      |       CAST(1000000 * COALESCE(n.n_novel, 0) // p.n_grams AS BIGINT) AS novelty_ppm
      |FROM per_doc p LEFT JOIN novel n ON p.doc_id = n.doc_id""".stripMargin

  // ------------------------------------------------------ ta_entropy
  /** Token-entropy quality signal in EXACT integer arithmetic — the
    * "is this document repetitive spam" filter, as the floor-log2
    * surrogate
    *
    *   h_int = n·⌊log2 n⌋ − Σ_t c_t·⌊log2 c_t⌋
    *
    * (n = token count, c_t = per-term counts). h_int/n tracks Shannon
    * token entropy (it IS n·H when every count is a power of two) and
    * preserves its ordering signal: h_int = 0 ⟺ one term repeated
    * (c = n), h_int maximal when all terms are distinct. Floor-log2 is
    * bit-length − 1 via the shared `bin` rendering
    * ([[sampleImportanceOver]]'s [[ilog2]]), so — unlike IEEE
    * `log(x)/log(2)` whose last-ulp rounding differs per engine — the
    * scores hash-check exactly. Complements [[Cleaning]]'s
    * `ta_repetition` (which measures LOCAL n-gram repetition; entropy
    * measures global term-distribution collapse).
    *
    * Scale: two partial-aggregated groupBys over the token stream
    * ((doc, term) then doc) — both key on doc-scoped keys, so no
    * corpus-global skew key exists. */
  def taEntropy(s: SparkSession, dir: String): DataFrame = {
    val tc = tokens(s, dir)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
    val a = tc.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_terms"),
        sum(col("c") * ilog2(col("c"))).as("sumc"))
      .select(col("doc_id"), col("n"), col("n_terms"),
        (col("n") * ilog2(col("n")) - col("sumc")).as("h_int"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(a, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_toks"),
        coalesce(col("n_terms"), lit(0L)).as("n_terms"),
        coalesce(col("h_int"), lit(0L)).as("h_int"))
  }

  val taEntropySql: String =
    s"""WITH $tokensCteSql,
       |tc AS (
       |  SELECT doc_id, term, CAST(COUNT(1) AS BIGINT) AS c
       |  FROM toks WHERE term <> '' GROUP BY 1, 2),
       |a AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
       |         CAST(COUNT(1) AS BIGINT) AS n_terms,
       |         CAST(SUM(c * (length(bin(c)) - 1)) AS BIGINT) AS sumc
       |  FROM tc GROUP BY 1)
       |SELECT d.doc_id,
       |       COALESCE(a.n, 0) AS n_toks,
       |       COALESCE(a.n_terms, 0) AS n_terms,
       |       COALESCE(a.n * (length(bin(a.n)) - 1) - a.sumc, 0) AS h_int
       |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id""".stripMargin

  // ------------------------------------------------ sample_epoch_mix
  /** Per-source epoch multipliers (sources not listed run 1 epoch) —
    * the integer-quantized data-mix recipe: a source you want
    * over-sampled gets whole extra EPOCHS rather than a fractional
    * per-row rate, which keeps the schedule exactly replayable. */
  val EpochMixTargets: Map[String, Int] = Map("src1" -> 3, "src2" -> 2)

  /** Multi-epoch training schedule — the composition of the mixture
    * recipe with the deterministic epoch shuffle: each doc appears
    * once per epoch its SOURCE is scheduled for, and every (epoch)
    * pass is independently shuffled (the permutation is seeded by the
    * epoch, so epoch 2 visits docs in a different order than epoch 1 —
    * the property training loops rely on). Output: the full
    * (doc_id, source, epoch, shard, pos) manifest, ready to stream
    * shard-by-shard.
    *
    * Scale: ONE pass — the epoch fan-out is a per-row explode of at
    * most max(multiplier) copies, the shard key is a per-row hash, and
    * `pos` is a window over (epoch, shard): partitions are
    * hash-balanced by CONSTRUCTION (md5 keys), so the window argument
    * that disqualifies skewed-key windows does not apply — same
    * budget as [[corpusShuffleWith]], times the mix's total epoch
    * count. */
  def sampleEpochMix(s: SparkSession, dir: String): DataFrame = {
    val nEpochs = coalesce(
      element_at(typedLit(EpochMixTargets), col("source")), lit(1))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), nEpochs.as("n_ep"))
      .withColumn("epoch", explode(expr("sequence(1, n_ep)")))
      .withColumn("hkey", expr("md5(concat('ep', epoch, ':', cast(doc_id as string)))"))
      .withColumn("shard",
        (expr("cast(conv(substr(hkey, 1, 15), 16, 10) as bigint)") % EpochShards).cast("int"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard")).orderBy(col("hkey"), col("doc_id"))))
      .select(col("doc_id"), col("source"), col("epoch"), col("shard"), col("pos"))
  }

  val sampleEpochMixSql: String = {
    val cases = EpochMixTargets.toSeq.sortBy(_._1)
      .map { case (src, n) => s"WHEN '$src' THEN $n" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |         CASE source $cases ELSE 1 END AS n_ep
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, source, CAST(unnest(generate_series(1, n_ep)) AS INT) AS epoch
       |  FROM d),
       |h AS (
       |  SELECT doc_id, source, epoch,
       |         md5('ep' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS hkey
       |  FROM e),
       |sh AS (
       |  SELECT doc_id, source, epoch, hkey,
       |         CAST(CAST(('0x' || substr(hkey, 1, 15)) AS BIGINT) % $EpochShards AS INT) AS shard
       |  FROM h)
       |SELECT doc_id, source, epoch, shard,
       |       CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY hkey, doc_id) AS INT) AS pos
       |FROM sh""".stripMargin
  }

  // ------------------------------------------------ sample_importance
  /** Hashed feature space for the importance model (md5 bucket per
    * token — the [[Classifier]] idiom at DSIR's coarser granularity). */
  val ImpBuckets = 1024
  /** Docs selected by the resampling step. */
  val ImpKeep = 50
  /** The "target" (quality-reference) sources; everything else is the
    * raw pool being selected FROM. */
  val ImpTargetSources: Seq[String] = Seq("src1", "src2")

  /** floor(log2(x)) for x ≥ 1 as pure integer arithmetic — bit length
    * minus one via the binary-string rendering BOTH engines share
    * (`bin`), so the log-ratio scores hash-check exactly (IEEE log
    * would round differently per engine and per summation order). */
  private def ilog2(c: Column): Column = length(bin(c)) - lit(1)

  /** DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * each raw-pool document by how much more likely its hashed
    * bag-of-words is under the TARGET unigram distribution than under
    * the RAW pool's own, then keep the top scorers. The log-ratio is
    * the add-one-smoothed integer floor-log2
    * `lr[b] = ilog2(1 + cnt_target[b]) − ilog2(1 + cnt_raw[b])` and a
    * doc's score is the sum of `lr` over its token OCCURRENCES — all
    * integers, so the scores (not just the ranking) hash-check
    * cross-engine. (True DSIR adds Gumbel noise before the top-k; the
    * deterministic variant keeps the same estimator and breaks ties by
    * doc_id, which is what makes an oracle possible at all.)
    *
    * Output: every raw-pool doc with its token count, score, and
    * `kept` ∈ {0,1} marking top-[[ImpKeep]] membership (score desc,
    * doc_id asc).
    *
    * 100-TB shape: the two bucket censuses are map-side-combinable
    * counts onto [[ImpBuckets]] rows each; the joined log-ratio table
    * is ~1024 rows and BROADCAST to the token stream, so scoring is
    * one partial-aggregated sum per doc with zero corpus shuffle
    * beyond the per-doc combine; selection is TakeOrdered (never a
    * global sort), and `kept` is a broadcast semi-probe of that K-row
    * result — the [[Tokenizer]] `vocab_build` discipline. */
  def sampleImportance(s: SparkSession, dir: String): DataFrame =
    sampleImportanceOver(Tables.documents(s, dir),
      col("source").isin(ImpTargetSources: _*), ImpKeep)

  /** The un-materialized score pipeline — split out so PlanSpec can
    * assert its shape (the gate path localCheckpoints it, which cuts
    * the visible plan at the checkpoint). */
  private[graft] def importanceScores(docs: DataFrame, isTarget: Column): DataFrame = {
    val toks = tokensOf(docs.select(col("doc_id"), col("text")))
      .join(docs.select(col("doc_id"), isTarget.as("tgt")), "doc_id")
      .withColumn("bucket",
        expr("cast(conv(substr(md5(term), 1, 15), 16, 10) as bigint)") % ImpBuckets)
    val census = toks.groupBy(col("bucket"))
      .agg(sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("tgt"), 0L).otherwise(1L)).as("cr"))
      .select(col("bucket"),
        (ilog2(col("ct") + 1) - ilog2(col("cr") + 1)).as("lr"))
    val scored = toks.where(!col("tgt"))
      .join(broadcast(census), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        coalesce(sum(col("lr")), lit(0L)).as("score"))
    docs.where(!isTarget).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("score"), lit(0L)).as("score"))
  }

  /** The operator over any documents-shaped frame: `isTarget` names
    * the quality-reference rows, `keepK` the resample size. */
  private[graft] def sampleImportanceOver(docs: DataFrame, isTarget: Column,
      keepK: Int): DataFrame = {
    val s = docs.sparkSession
    // localCheckpoint: the score table is read twice (the take-ordered
    // action and the returned frame) and is tiny (3 integer columns) —
    // materializing it runs the token pipeline ONCE, and unlike
    // persist() leaves nothing registered after callers drop the frame
    val raw = graft.Graft.compactCheckpoint(importanceScores(docs, isTarget))
    import s.implicits._
    val top = raw.select(col("score"), col("doc_id"))
      .as[(Long, Long)].rdd
      .takeOrdered(keepK)(Ordering.by { case (sc, id) => (-sc, id) })
      .map(_._2)
    raw.withColumn("kept",
      col("doc_id").isin(top.toSeq: _*).cast("int"))
  }

  val sampleImportanceSql: String = {
    val tgt = ImpTargetSources.map(x => s"'$x'").mkString(", ")
    s"""WITH $tokensCteSql,
       |tk AS (
       |  SELECT t.doc_id,
       |         CAST(('0x' || substr(md5(t.term), 1, 15)) AS BIGINT) % $ImpBuckets AS bucket,
       |         d.source IN ($tgt) AS tgt
       |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id
       |  WHERE t.term <> ''),
       |census AS (
       |  SELECT bucket,
       |         CAST(length(bin(1 + SUM(CASE WHEN tgt THEN 1 ELSE 0 END))) - 1 AS BIGINT)
       |       - CAST(length(bin(1 + SUM(CASE WHEN tgt THEN 0 ELSE 1 END))) - 1 AS BIGINT) AS lr
       |  FROM tk GROUP BY bucket),
       |scored AS (
       |  SELECT tk.doc_id, CAST(COUNT(1) AS BIGINT) AS n_toks,
       |         CAST(SUM(census.lr) AS BIGINT) AS score
       |  FROM tk JOIN census USING (bucket) WHERE NOT tk.tgt GROUP BY tk.doc_id),
       |raw AS (
       |  SELECT d.doc_id, COALESCE(s.n_toks, 0) AS n_toks,
       |         COALESCE(s.score, 0) AS score
       |  FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
       |  WHERE d.source NOT IN ($tgt)),
       |top AS (SELECT doc_id FROM raw ORDER BY score DESC, doc_id LIMIT $ImpKeep)
       |SELECT r.doc_id, r.n_toks, r.score,
       |       CAST(r.doc_id IN (SELECT doc_id FROM top) AS INT) AS kept
       |FROM raw r""".stripMargin
  }

  // ------------------------------------------------------ mix_doremi
  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining") —
    * the multiplicative-weights / Group-DRO structure of the paper's
    * step 2 with this engine's [[taLmKn]] as the loss proxy: domains
    * whose documents score WORSE than the corpus average under the KN
    * bigram LM (the paper's "excess loss" — here, fluency shortfall
    * relative to the mixture) are upweighted each round, then the
    * weight vector is renormalized and finally smoothed 9:1 with the
    * uniform mixture (the paper's uniform-smoothing step). This is the
    * STATIC-PROXY variant: the paper retrains its proxy between
    * updates, which is out of scope for a query engine, so rel-excess
    * is fixed and the [[DoremiRounds]] rounds compound one trajectory —
    * the structure (excess → multiplicative update → renormalize →
    * smooth) is the paper's.
    *
    * All arithmetic is exact int64 fixed-point so the DuckDB twin
    * hash-matches: per-doc score si = ⌊kn_score·10⁶⌋; domain mean
    * m_dom = si-sum·10⁶/n (truncating ints, 10⁻¹² probability units);
    * relative excess rel = (m_all − m_dom)·10⁶/m_all (ppm, positive =
    * below-average fluency); per round w ← w·max(10⁴, 10⁶ +
    * [[DoremiEta]]·rel)/10⁶ then w ← w·10⁶/Σw; final w_doremi =
    * 9·w/10 + 10⁶/(10·K). Truncating division on BOTH sides (Scala
    * Long `/` ≡ DuckDB `//` — both round toward zero).
    *
    * 100 TB shape: the LM scoring is [[taLmKn]]'s (vocabulary-bounded
    * model tables, per-doc distinct-gram scoring); the only new work is
    * ONE map-side-combined groupBy(source) down to |domains| rows, and
    * the trajectory is driver arithmetic over that bounded vector
    * (LIMIT-guarded like the selection kernel — a high-cardinality
    * "domain" column fails loudly rather than flooding the driver).
    * int64 headroom: si-sum·10⁶ caps at ~9.2·10¹⁸, i.e. ~10¹² docs
    * per domain at full fluency — ample past 100 TB. */
  val DoremiEta = 10L
  val DoremiRounds = 3
  val DoremiMaxDomains = 100000

  def mixDoremi(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // taLmKn's scoring chain, with the KN model MATERIALIZED (r17):
    // the trajectory's driver collect consumes every probability, so
    // the count()-prune argument that keeps the ta_lm_kn gate lazy
    // does not apply — here the four model consumers genuinely re-ran
    // the corpus explode + count each (see knScoreFrom).
    val pdg = perDocBigrams(docs)
    val cBi = pdg.groupBy(col("g")).agg(sum(col("m")).as("c_bi"))
    mixDoremiOver(s, docs,
      knScoreFrom(docs.select(col("doc_id")), pdg, cBi, materializeModel = true))
  }

  /** The trajectory over an externally-scored corpus — shared by the
    * one-shot gate and [[graft.streaming.DoremiStream]]'s read-time
    * weight computation (`scored` needs a kn_score column). */
  private[graft] def mixDoremiOver(s: SparkSession, docs: DataFrame,
      scored: DataFrame): DataFrame = {
    import s.implicits._
    val si = scored
      .select(col("doc_id"), floor(col("kn_score") * lit(1e6)).cast("long").as("si"))
    val agg = docs.select(col("doc_id"), col("source"))
      .join(si, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("si")).as("s_si"))
    val rows = agg.limit(DoremiMaxDomains + 1).collect()
    require(rows.length <= DoremiMaxDomains && rows.nonEmpty,
      s"mix_doremi: ${rows.length} domains — the domain column is too " +
        "high-cardinality for a driver-side weight vector; bucket domains first")
    val doms = rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val k = doms.length
    // m = s·10⁶/n decomposed as (s/n)·10⁶ + (s%n)·10⁶/n — algebraically
    // identical for non-negative s, immune to s·10⁶ overflow
    def scaleDiv(sum: Long, n: Long): Long =
      (sum / n) * 1000000L + (sum % n) * 1000000L / n
    val m = doms.map { case (_, n, ss) => scaleDiv(ss, n) }
    val mAll = scaleDiv(doms.map(_._3).sum, doms.map(_._2).sum)
    // rel = (mAll−md)·10⁶/mAll via a SIGNED scaleDiv: the naive
    // (mAll−md)·10⁶ wraps once the domain/corpus means diverge past
    // ~9.2·10¹² (mean kn_score divergence ≈ 9.2 — reachable in-contract
    // on a skewed corpus). Scala's / and % truncate toward zero exactly
    // like DuckDB's // and % (measured), so the twin's identical
    // decomposition stays value-equal including for negative numerators.
    def relOf(md: Long): Long = {
      val a = mAll - md
      (a / mAll) * 1000000L + (a % mAll) * 1000000L / mAll
    }
    val rel = m.map(md => if (mAll == 0) 0L else relOf(md))
    var w = Array.fill(k)(1000000L / k)
    for (_ <- 1 to DoremiRounds) {
      val up = w.zip(rel).map { case (wd, rd) =>
        // rel is unbounded below (≈ −(m_dom/m_all)·10⁶ when the corpus
        // mean is near zero but nonzero), so Eta·rel could wrap Long —
        // Scala would wrap silently into a bogus winner while DuckDB
        // errors on BIGINT overflow. Clamp the update term at −10⁶
        // before multiplying (identically in the SQL twin): any
        // rel ≤ −99000 already lands on the 10⁴ floor, so the clamp
        // changes no reachable weight.
        wd * math.max(10000L, 1000000L + DoremiEta * math.max(rd, -1000000L)) / 1000000L
      }
      val tot = up.sum
      w = up.map(wd => if (tot == 0) 0L else wd * 1000000L / tot)
    }
    val out = doms.zipWithIndex.map { case ((dom, n, _), i) =>
      (dom, n, m(i), rel(i), w(i) * 9 / 10 + 1000000L / (10L * k))
    }
    s.createDataFrame(out.toSeq)
      .toDF("domain", "n_docs", "m_dom", "rel_excess", "w_doremi")
  }

  /** Analytic twin: the KN scoring CTE + the same fixed-point
    * trajectory unrolled round by round (window-SUM renormalization). */
  val mixDoremiSql: String = {
    val rounds = (1 to DoremiRounds).map { r =>
      val prev = if (r == 1) "w0" else s"r${r - 1}"
      s"""u$r AS (
         |  SELECT domain, n_docs, m_dom, rel_excess,
         |         -- same −10⁶ clamp as the Scala update: overflow
         |         -- guard only, unreachable weights unchanged
         |         (w * GREATEST(10000, 1000000 + $DoremiEta * GREATEST(rel_excess, -1000000))) // 1000000 AS wu
         |  FROM $prev),
         |r$r AS (
         |  SELECT domain, n_docs, m_dom, rel_excess,
         |         (wu * 1000000) // (SUM(wu) OVER ()) AS w
         |  FROM u$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH kn AS (
       |$taLmKnSql),
       |si AS (
       |  SELECT d.doc_id, d.source,
       |         CAST(FLOOR(kn.kn_score * 1000000) AS BIGINT) AS si
       |  FROM documents d JOIN kn USING (doc_id)),
       |agg AS (
       |  SELECT source AS domain, COUNT(1) AS n_docs,
       |         CAST(SUM(si) AS BIGINT) AS s_si
       |  FROM si GROUP BY 1),
       |stats AS (
       |  SELECT domain, n_docs, s_si,
       |         -- same decomposed form as the Scala scaleDiv: exact for
       |         -- non-negative s, immune to the s*10^6 int64 overflow
       |         (s_si // n_docs) * 1000000
       |           + ((s_si % n_docs) * 1000000) // n_docs AS m_dom,
       |         (SELECT (SUM(s_si) // SUM(n_docs)) * 1000000
       |                 + ((SUM(s_si) % SUM(n_docs)) * 1000000) // SUM(n_docs)
       |          FROM agg) AS m_all
       |  FROM agg),
       |rel AS (
       |  SELECT domain, n_docs, m_dom,
       |         CASE WHEN m_all = 0 THEN 0
       |              -- signed scaleDiv, same decomposition as the Scala
       |              -- relOf: immune to the (m_all−m_dom)·10⁶ wrap
       |              ELSE ((m_all - m_dom) // m_all) * 1000000
       |                   + ((m_all - m_dom) % m_all) * 1000000 // m_all
       |              END AS rel_excess
       |  FROM stats),
       |w0 AS (
       |  SELECT domain, n_docs, m_dom, rel_excess,
       |         1000000 // (SELECT COUNT(1) FROM rel) AS w
       |  FROM rel),
       |$rounds
       |SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
       |       CAST(m_dom AS BIGINT) AS m_dom,
       |       CAST(rel_excess AS BIGINT) AS rel_excess,
       |       CAST((w * 9) // 10
       |            + 1000000 // (10 * (SELECT COUNT(1) FROM rel)) AS BIGINT) AS w_doremi
       |FROM r$DoremiRounds""".stripMargin
  }
}
