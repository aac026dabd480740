package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Tokenizer-dictionary operators: the vocabulary-build / corpus-encode
  * pair every LLM training pipeline runs between cleaning and packing
  * (the fixed-vocab analog of BPE training + encoding; the reference's
  * wc app — `mrapps/wc.go` — is the count half of the build step).
  *
  *  - vocabBuild:  global token counts → the top-[[VocabSize]] terms,
  *    ids assigned by rank (count desc, term asc). Id 0 is reserved for
  *    out-of-vocabulary terms.
  *  - vocabEncode: every document re-expressed as (doc_id, pos,
  *    token_id) rows — the integer stream a tokenizer hands to
  *    [[Cleaning.taPackChunks]]-style sequence packing.
  *
  * 100 TB shape: the build is one groupBy(term) with map-side partial
  * aggregation (shuffle volume = partitions × vocabulary, not corpus
  * size) and the top-V is a TakeOrdered over per-partition tops — no
  * global sort; the V-row id assignment is the only single-task window
  * and it runs on V rows. The encode never shuffles the corpus at all:
  * the dictionary broadcasts and the join is map-side.
  */
object Tokenizer {

  /** Kept vocabulary entries; ids 1..V, 0 = OOV. */
  val VocabSize = 24

  /** Non-empty normalized tokens (shared convention with [[CorpusOps]]). */
  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalized(col("text")), " ")).as("term"))
      .where(col("term") =!= "")

  /** Top-[[VocabSize]] vocabulary with rank-assigned ids.
    *
    * The limit runs BEFORE the id window: orderBy+limit plans as
    * TakeOrderedAndProject (each partition ships only its top V), and
    * the unpartitioned row_number — the classic single-task trap on a
    * corpus-sized input — sees exactly V rows. */
  def vocabBuild(s: SparkSession, dir: String): DataFrame =
    vocabOf(tokens(s, dir))

  /** The builder over any (term) token stream — shared by the
    * full-corpus gate and the train-split build inside
    * [[vocabCoverage]]. */
  private[graft] def vocabOf(toks: DataFrame): DataFrame =
    toks
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(VocabSize)
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("term"))).cast("int"))
      .select(col("token_id"), col("term"), col("cnt"))

  val vocabBuildSql: String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ')) AS term
       |  FROM documents),
       |cnts AS (SELECT term, COUNT(1) AS cnt FROM toks WHERE term <> '' GROUP BY term),
       |r AS (
       |  SELECT term, cnt,
       |         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS token_id
       |  FROM cnts)
       |SELECT token_id, term, cnt FROM r WHERE token_id <= $VocabSize""".stripMargin

  /** Corpus encoded against the built dictionary: one row per token
    * occurrence, position-preserving, OOV → id 0. The dictionary side
    * is V rows — broadcast, so the corpus stream is encoded map-side
    * with zero shuffle (the plan must show BroadcastHashJoin; a shuffle
    * here would move the whole corpus to re-key it by term). */
  def vocabEncode(s: SparkSession, dir: String): DataFrame = {
    val dict = vocabBuild(s, dir).select(col("term"), col("token_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        posexplode(split(TextAnalysis.normalized(col("text")), " ")).as(Seq("pos", "term")))
      .where(col("term") =!= "")
      .join(broadcast(dict), Seq("term"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(0)).cast("int").as("token_id"))
  }

  val vocabEncodeSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |         string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ') AS w
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id, i - 1 AS pos, w[i] AS term
       |  FROM docs, LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
       |  WHERE w[i] <> ''),
       |cnts AS (SELECT term, COUNT(1) AS cnt FROM (SELECT term FROM toks) GROUP BY term),
       |vocab AS (
       |  SELECT term, token_id FROM (
       |    SELECT term, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS INT) AS token_id
       |    FROM cnts)
       |  WHERE token_id <= $VocabSize)
       |SELECT t.doc_id, t.pos, CAST(COALESCE(v.token_id, 0) AS INT) AS token_id
       |FROM toks t LEFT JOIN vocab v ON t.term = v.term""".stripMargin

  // ------------------------------------------------------ vocab_coverage

  /** Tokenizer COVERAGE EVAL under the held-out discipline: the
    * vocabulary is built on the TRAIN split only (the
    * [[CorpusOps.corpusSplit]] salted-md5 predicate — a pure per-row
    * function, so "train" here is the same frozen set every other
    * operator sees) and evaluated on the HELD-OUT docs it never saw —
    * the number that predicts OOV behavior on incoming data, which
    * in-sample coverage systematically overstates. Per source: token
    * occurrences, OOV occurrences and ppm rate, character mass and OOV
    * character mass (coverage BY MASS — long rare words hurt more than
    * short ones), and distinct-term counts. All integers + one integer
    * division; the vocab side is V rows — broadcast, zero corpus
    * shuffle (the [[vocabEncode]] plan discipline).
    *
    * Scale: one train-split aggregation (the builder's own budget),
    * one held-out scan encoded map-side, one #sources-keyed aggregate.
    * The two count_distincts add one Expand over the token stream —
    * the [[Profiling.dqProfile]] multi-distinct trade, swap to the HLL
    * UDAF at extreme scale. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bucket = CorpusOps.splitBucketExpr
    val trainToks = docs.where(bucket < CorpusOps.SplitTrainPct)
      .select(explode(split(TextAnalysis.normalized(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
    val dict = vocabOf(trainToks).select(col("term"), col("token_id"))
    val heldOut = docs.where(bucket >= CorpusOps.SplitTrainPct)
      .select(col("source"),
        explode(split(TextAnalysis.normalized(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
    heldOut
      .join(broadcast(dict), Seq("term"), "left")
      .withColumn("oov", col("token_id").isNull)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        sum(length(col("term")).cast("long")).as("n_chars"),
        sum(when(col("oov"), length(col("term")).cast("long")).otherwise(0L))
          .as("oov_chars"),
        count_distinct(col("term")).as("distinct_terms"),
        count_distinct(when(col("oov"), col("term"))).as("distinct_oov"))
      .withColumn("oov_ppm", expr("1000000 * n_oov div n_tokens"))
      .select(col("source"), col("n_tokens"), col("n_oov"), col("oov_ppm"),
        col("n_chars"), col("oov_chars"), col("distinct_terms"),
        col("distinct_oov"))
  }

  /** Twin: train-bucket CASE inline, the same builder CTE restricted
    * to it, LEFT JOIN encode of the held-out stream. */
  val vocabCoverageSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, source, text,
       |         ${CorpusOps.splitBucketSql} AS bucket
       |  FROM documents),
       |train_toks AS (
       |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ')) AS term
       |  FROM b WHERE bucket < ${CorpusOps.SplitTrainPct}),
       |cnts AS (SELECT term, COUNT(1) AS cnt FROM train_toks WHERE term <> '' GROUP BY term),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS token_id
       |    FROM cnts)
       |  WHERE token_id <= $VocabSize),
       |held AS (
       |  SELECT source,
       |         unnest(string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ')) AS term
       |  FROM b WHERE bucket >= ${CorpusOps.SplitTrainPct}),
       |enc AS (
       |  SELECT h.source, h.term, v.term IS NULL AS oov
       |  FROM held h LEFT JOIN vocab v ON h.term = v.term
       |  WHERE h.term <> '')
       |SELECT source,
       |       CAST(COUNT(1) AS BIGINT) AS n_tokens,
       |       CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       CAST(1000000 * SUM(CASE WHEN oov THEN 1 ELSE 0 END) // COUNT(1) AS BIGINT) AS oov_ppm,
       |       CAST(SUM(length(term)) AS BIGINT) AS n_chars,
       |       CAST(SUM(CASE WHEN oov THEN length(term) ELSE 0 END) AS BIGINT) AS oov_chars,
       |       CAST(COUNT(DISTINCT term) AS BIGINT) AS distinct_terms,
       |       CAST(COUNT(DISTINCT CASE WHEN oov THEN term END) AS BIGINT) AS distinct_oov
       |FROM enc GROUP BY 1""".stripMargin

  // ---------------------------------------------------------- vocab_bpe
  /** BPE merge rounds to unroll (oracle replays each as one CTE step). */
  val BpeMerges = 6

  /** REAL byte-pair-encoding training — the merge-rule learning loop
    * [[vocabBuild]]'s fixed-word vocabulary sidesteps. Exactly what
    * Sennrich et al.'s reference algorithm does, on Spark:
    *
    *   1. collapse the corpus to its WORD-FREQUENCY table (one
    *      map-side-combinable groupBy — the corpus is touched once and
    *      never again; all [[BpeMerges]] rounds run over the vocabulary,
    *      which is orders of magnitude smaller than the corpus),
    *   2. seed each word as a space-joined character sequence,
    *   3. per round: count adjacent symbol pairs weighted by word
    *      frequency, pick the most frequent (count desc, then (a, b)
    *      lexicographic — a total order, so the winner is deterministic
    *      across engines and partitionings), and apply the merge to
    *      every word's sequence.
    *
    * The merge application is an ENGINE-PORTABLE string kernel: pad
    * `' ' || replace(seq, ' ', '  ') || ' '`, plain-replace
    * `' a  b ' -> ' ab '`, collapse spaces. Doubling the separators
    * gives every adjacent pair its own private delimiter pair, so
    * candidate matches can never share a character — plain left-to-right
    * non-overlapping replace() then implements exactly BPE's greedy
    * leftmost-first application ("a a a" merges to "aa a", "a b a b" to
    * "ab ab") in both Spark and DuckDB, with no lookaround regex (which
    * DuckDB's RE2 lacks).
    *
    * Output: the trained segmentation table (term, freq, seq, n_sym) —
    * one row per vocabulary word with its post-merge symbol sequence.
    * Any divergence in any round's count, tie-break, or application
    * changes some word's segmentation, so the gate hash covers the
    * whole training trajectory, not just the final rule list.
    *
    * 100-TB shape: per round ONE aggregation over the vocabulary
    * (shuffle = distinct symbol pairs, partial-aggregated map-side) and
    * one 1-row driver collect (the argmax — same bounded-driver-state
    * pattern as [[KMeans.embKmeans]]'s centroid collect); the merge
    * itself is a broadcast-free map over the vocabulary. Round state is
    * the small (term, freq, seq) table, localCheckpointed so lineage
    * stays one round deep instead of re-deriving round k-1 inside
    * round k. */
  def vocabBpe(s: SparkSession, dir: String): DataFrame =
    bpeOver(tokens(s, dir).groupBy(col("term")).agg(count(lit(1)).as("freq")))

  /** The merge rounds over any (term, freq) word-frequency frame. */
  private[graft] def bpeOver(wordFreq: DataFrame): DataFrame = {
    val init = graft.Graft.compactCheckpoint(wordFreq
      .withColumn("seq", concat_ws(" ", split(col("term"), ""))))
    // plain localCheckpoint per round (r17): the pre-loop
    // compactCheckpoint already set the round partition count and
    // withColumn preserves it, so the per-round size lookup + coalesce
    // was pure overhead (~200 rounds x an AppStatusStore scan; r16
    // measured the trainer gates x0.78-0.87 under it)
    val words = graft.Graft.iterate(init, BpeMerges, materialize = _.localCheckpoint()) { words =>
      val best = words
        .select(col("freq"), split(col("seq"), " ").as("l"))
        .where(size(col("l")) >= 2)
        .select(col("freq"), explode(arrays_zip(
          slice(col("l"), lit(1), size(col("l")) - 1),
          slice(col("l"), lit(2), size(col("l")) - 1))).as("p"))
        .select(col("p.0").as("a"), col("p.1").as("b"), col("freq"))
        .groupBy(col("a"), col("b")).agg(sum(col("freq")).as("wsum"))
        .orderBy(col("wsum").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) words // no pair left: the round changes nothing
      else {
        val a = best(0).getString(0)
        val b = best(0).getString(1)
        // symbols are normalized-letter runs; anything else means the
        // seed column drifted — fail loudly before interpolating
        require(a.matches("[\\p{L}]+") && b.matches("[\\p{L}]+"),
          s"non-letter BPE symbol: '$a' '$b'")
        words.withColumn("seq",
          expr(s"trim(regexp_replace(replace(' ' || replace(seq, ' ', '  ') || ' '," +
            s" ' $a  $b ', ' $a$b '), ' +', ' '))"))
      }
    }.state
    words.select(col("term"), col("freq"), col("seq"),
      size(split(col("seq"), " ")).cast("long").as("n_sym"))
  }

  /** Corpus encoded under the trained BPE: per-document token and
    * SYMBOL counts — "how long is each doc under this tokenizer", the
    * number every packing/budgeting stage needs. The trained
    * segmentation table is vocabulary-sized, so it BROADCASTS and the
    * corpus stream is annotated map-side (the [[vocabEncode]]
    * zero-corpus-shuffle discipline); the only exchange is the
    * doc_id-keyed partial-aggregated count. */
  def vocabBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val seg = vocabBpe(s, dir).select(col("term"), col("n_sym"))
    tokens(s, dir)
      .join(broadcast(seg), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("n_sym")).as("n_sym"))
  }

  /** The unrolled rounds as a CTE chain w0/p_k/b_k/w_k with the
    * identical padded-replace kernel; assumes a doc-carrying `dtoks`
    * (doc_id, term) CTE is already defined. */
  private[graft] def bpeCtesSql: String = {
    val rounds = (1 to BpeMerges).map { k =>
      val prev = s"w${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS wsum
         |  FROM (SELECT freq, string_split(seq, ' ') AS l FROM $prev),
         |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) t
         |  WHERE len(l) >= 2 GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT a, b FROM p$k ORDER BY wsum DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT term, freq,
         |         trim(regexp_replace(
         |           replace(' ' || replace(seq, ' ', '  ') || ' ',
         |                   ' ' || a || '  ' || b || ' ', ' ' || a || b || ' '),
         |           ' +', ' ', 'g')) AS seq
         |  FROM $prev, b$k)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT term, CAST(COUNT(1) AS BIGINT) AS freq,
       |         trim(regexp_replace(term, '(.)', '\\1 ', 'g')) AS seq
       |  FROM dtoks GROUP BY term),
       |$rounds""".stripMargin
  }

  private[graft] val dtoksCteSql: String =
    s"""dtoks AS MATERIALIZED (
       |  SELECT doc_id, w[i] AS term
       |  FROM (SELECT doc_id,
       |          string_split(trim(regexp_replace(lower(text), '[^\\p{L}]+', ' ', 'g')), ' ') AS w
       |        FROM documents),
       |       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t
       |  WHERE w[i] <> '')""".stripMargin

  val vocabBpeSql: String =
    s"""WITH $dtoksCteSql,
       |$bpeCtesSql
       |SELECT term, freq, seq,
       |       CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
       |FROM w$BpeMerges""".stripMargin

  val vocabBpeEncodeSql: String =
    s"""WITH $dtoksCteSql,
       |$bpeCtesSql,
       |seg AS (SELECT term, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
       |        FROM w$BpeMerges)
       |SELECT t.doc_id, CAST(COUNT(1) AS BIGINT) AS n_tok,
       |       CAST(SUM(s.n_sym) AS BIGINT) AS n_sym
       |FROM dtoks t JOIN seg s ON t.term = s.term
       |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------- pack_bpe
  /** TOKENIZER-TRUE sequence packing — the composition the two families
    * above and [[Cleaning.taPackChunks]] existed for but never met: the
    * chunk manifest cut by TRAINED-BPE symbol counts instead of the
    * whitespace surrogate. A trainer packs by what its tokenizer
    * actually emits; the surrogate under-counts every word the BPE
    * leaves multi-symbol (and is off ~2× on morphology-heavy or
    * CJK-like text), so surrogate-cut chunks systematically overflow
    * the real token budget. TokenizerSpec pins that the two manifests
    * genuinely DIVERGE on the fixtures — the composition changes the
    * cuts, it is not a relabeling.
    *
    * Plumbing is the two components' own scale shapes, unchanged: the
    * trained segmentation table is vocabulary-sized and BROADCASTS, so
    * per-doc symbol counts are one map-side join + doc-keyed partial
    * agg ([[vocabBpeEncode]]); the cut arithmetic is the ONE shared
    * chunk-manifest kernel ([[Cleaning.chunkManifest]] — same code the
    * whitespace packer, the capstone and the streaming packer ride, so
    * the packing contract cannot drift by construction). Zero-LETTER
    * docs emit no BPE symbol at all: they re-enter via a left join as
    * n_tokens = 0 and take the kernel's empty-span rule — under the
    * whitespace surrogate the same docs may well carry tokens
    * (numbers, punctuation runs), which is part of the measured
    * divergence, not a bug. */
  /** Per-doc BPE symbol counts of any documents-shaped frame under a
    * GIVEN trained segmentation table: (doc_id, lang, n_tokens) with
    * zero-LETTER docs re-entering at 0 via the left join — the packing
    * kernel's input row shape. Shared by [[packBpe]] and the streaming
    * packer ([[graft.streaming.PackStream.streamPackBpe]], which feeds
    * a FROZEN table — the serving contract), so the count definition
    * cannot drift between the batch and streaming members. Scale: seg
    * is vocabulary-sized → broadcast; the corpus is never shuffled on
    * content, the doc-keyed count partial-aggregates map-side. */
  private[graft] def bpeTokenCounts(docs: DataFrame, seg: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        explode(split(TextAnalysis.normalized(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
    val counts = toks.join(broadcast(seg), Seq("term"))
      .groupBy(col("doc_id")).agg(sum(col("n_sym")).as("n_sym"))
    docs.select(col("doc_id"), col("lang"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_sym"), lit(0L)).as("n_tokens"))
  }

  def packBpe(s: SparkSession, dir: String): DataFrame =
    Cleaning.chunkManifest(
      bpeTokenCounts(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("text")),
        vocabBpe(s, dir).select(col("term"), col("n_sym"))),
      Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("first_chunk"), col("last_chunk"), col("n_chunks"))

  /** The BPE-encode CTE chain feeding the kernel's cut arithmetic
    * (the [[Cleaning.taPackChunksSql]] window, verbatim). */
  val packBpeSql: String =
    s"""WITH $dtoksCteSql,
       |$bpeCtesSql,
       |seg AS (SELECT term, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_sym
       |        FROM w$BpeMerges),
       |enc AS (SELECT t.doc_id, CAST(SUM(s.n_sym) AS BIGINT) AS n_sym
       |        FROM dtoks t JOIN seg s ON t.term = s.term GROUP BY t.doc_id),
       |t AS (
       |  SELECT d.doc_id, d.lang, COALESCE(e.n_sym, 0) AS n_tokens
       |  FROM documents d LEFT JOIN enc e ON d.doc_id = e.doc_id),
       |c AS (
       |  SELECT doc_id, lang, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |  FROM t)
       |SELECT doc_id, lang, n_tokens,
       |  cb // ${Cleaning.ChunkTokens} AS first_chunk,
       |  CASE WHEN n_tokens = 0 THEN cb // ${Cleaning.ChunkTokens} - 1
       |       ELSE (cb + n_tokens - 1) // ${Cleaning.ChunkTokens} END AS last_chunk,
       |  CASE WHEN n_tokens = 0 THEN CAST(0 AS BIGINT)
       |       ELSE (cb + n_tokens - 1) // ${Cleaning.ChunkTokens}
       |            - cb // ${Cleaning.ChunkTokens} + 1 END AS n_chunks
       |FROM c""".stripMargin

  // ------------------------------------------------------- pack_report
  /** Packing-efficiency report over the tokenizer-true manifest — the
    * metric sheet a trainer reads before committing a packing run:
    * per stream (lang), doc/token totals, chunks consumed, fill rate
    * in ppm of the [[Cleaning.ChunkTokens]] capacity, how many docs
    * straddle a chunk boundary (each straddle is an attention-mask
    * discontinuity), the worst single-doc spread, and the tail-chunk
    * waste. Contiguous packing makes the invariants exact: the cursor
    * equals the token total, so chunks_used = ⌈total/capacity⌉ and
    * tail_waste < capacity (TokenizerSpec pins both). Pure integer
    * arithmetic; ONE |streams|-sized aggregate after the shared
    * kernel — report cost is manifest-scan cost at any SF. */
  /** The fill arithmetic over columns (total_tokens, chunks_used), for
    * chunks_used > 0: ⌊total·10⁶/denom⌋ = 10⁶ − ⌈waste·10⁶/denom⌉ with
    * waste = denom − total < cap (see packReport's comment). Shared
    * with TokenizerSpec's overflow-zone regression vectors. */
  private[graft] def fillPpmExpr(cap: Long): String =
    s"1000000 - (chunks_used * $cap - total_tokens) * 1000000 " +
    s"div (chunks_used * $cap) - " +
    s"(case when (chunks_used * $cap - total_tokens) * 1000000 " +
    s"% (chunks_used * $cap) > 0 then 1 else 0 end)"

  def packReport(s: SparkSession, dir: String): DataFrame = {
    val cap = Cleaning.ChunkTokens.toLong
    packBpe(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(col("last_chunk")) + lit(1L)).as("chunks_used"),
        sum(when(col("n_chunks") > 1, 1L).otherwise(0L)).as("n_split_docs"),
        max(col("n_chunks")).as("max_doc_chunks"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("chunks_used"),
        // fill = ⌊total·10⁶/denom⌋ computed from the SMALL complement:
        // total = denom − waste with 0 ≤ waste < cap (contiguous
        // packing; TokenizerSpec pins it), so
        // ⌊total·10⁶/denom⌋ = 10⁶ − ⌈waste·10⁶/denom⌉ exactly, and the
        // only product formed is waste·10⁶ < cap·10⁶ ≈ 2.6·10⁸ — no
        // int64 wrap at ANY stream size. (The r13 scaleDiv
        // decomposition was vacuous here: chunks_used = ⌈total/cap⌉
        // forces total div denom ∈ {0,1} and remainder ≈ total, so its
        // (total % denom)·10⁶ term wrapped at the same ~9.2·10¹²-token
        // threshold as the naive form — r14 ADVICE finding.)
        when(col("chunks_used") === 0, 0L)
          .otherwise(expr(fillPpmExpr(cap)))
          .as("fill_ppm"),
        (col("chunks_used") * lit(cap) - col("total_tokens")).as("tail_waste"),
        col("n_split_docs"), col("max_doc_chunks"))
  }

  /** Analytic twin: the pack_bpe manifest CTE aggregated per stream
    * with the same integer fill/waste arithmetic. */
  val packReportSql: String = {
    val cap = graft.operators.Cleaning.ChunkTokens
    s"""WITH m AS (
       |$packBpeSql)
       |SELECT lang, COUNT(1) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(MAX(last_chunk) + 1 AS BIGINT) AS chunks_used,
       |  CAST(CASE WHEN MAX(last_chunk) + 1 = 0 THEN 0
       |       -- same complement form as the Spark side: fill =
       |       -- 10^6 - ceil(waste*10^6/denom) with waste < $cap, so the
       |       -- only product is waste*10^6 — bounded at any stream size
       |       ELSE 1000000
       |            - ((MAX(last_chunk) + 1) * $cap - SUM(n_tokens)) * 1000000
       |              // ((MAX(last_chunk) + 1) * $cap)
       |            - (CASE WHEN ((MAX(last_chunk) + 1) * $cap - SUM(n_tokens))
       |                         * 1000000 % ((MAX(last_chunk) + 1) * $cap) > 0
       |                    THEN 1 ELSE 0 END)
       |       END AS BIGINT) AS fill_ppm,
       |  CAST((MAX(last_chunk) + 1) * $cap - SUM(n_tokens) AS BIGINT) AS tail_waste,
       |  CAST(SUM(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
       |  CAST(MAX(n_chunks) AS BIGINT) AS max_doc_chunks
       |FROM m GROUP BY lang""".stripMargin
  }

  // ---------------------------------------------------- vocab_wordpiece
  /** Longest candidate piece length and multi-char inventory size for
    * the maximal-munch tokenizer (small at fixture scale; the oracle's
    * jump table is Σ word_len × MaxPiece probes over the
    * vocabulary-sized word table, so both knobs are oracle-cheap). */
  val WpMaxPiece = 4
  val WpTopPieces = 16

  /** WordPiece-INFERENCE-style segmentation (greedy maximal munch) —
    * the third tokenizer scheme next to the fixed-word vocabulary
    * ([[vocabBuild]]) and the BPE merge trainer ([[vocabBpe]]), and a
    * genuinely different algorithm from both: no merge rounds, no id
    * table — a piece INVENTORY (every observed character, for total
    * coverage, plus the [[WpTopPieces]] heaviest multi-char substrings
    * by occurrence-weighted frequency, ties lexicographic) and the
    * deterministic greedy walk "at each position take the LONGEST
    * inventory piece that matches" (WordPiece/maximal-munch inference;
    * true WordPiece training differs — documented, not claimed).
    *
    * Everything runs at VOCABULARY scale after one corpus collapse:
    * the word-frequency table feeds candidate extraction (explode of
    * ≤ len·[[WpMaxPiece]] substrings per DISTINCT word), a TakeOrdered
    * top-K picks the inventory, and the walk segments distinct words
    * in mapPartitions under a broadcast piece set — the corpus itself
    * is touched once for the word table and once per downstream
    * encode, never shuffled on content ([[vocabEncode]]'s discipline).
    *
    * The greedy walk is exactly replayable in SQL: a (word, position)
    * → longest-match jump table (plain aggregation), then a recursive
    * walk stepping pos += jump — so the gate hash covers the full
    * segmentation of every word, not just piece counts. Single chars
    * are always in the inventory, so jump ≥ 1 and every word of the
    * training corpus segments fully (an unseen-at-encode character
    * would need an UNK rule — out of the gate's closed-corpus scope,
    * noted here). Output: (term, freq, seg, n_pieces). */
  def vocabWordpiece(s: SparkSession, dir: String): DataFrame =
    wordpieceOver(s,
      tokens(s, dir).groupBy(col("term")).agg(count(lit(1)).as("freq")))

  /** The inventory + greedy walk over any (term, freq) word table. */
  private[graft] def wordpieceOver(s: SparkSession, wordFreq: DataFrame): DataFrame = {
    import s.implicits._
    val words = graft.Graft.compactCheckpoint(wordFreq)
    val multi = words
      .withColumn("i", explode(expr("sequence(1, length(term))")))
      .where(length(col("term")) - col("i") + 1 >= 2)
      .withColumn("l",
        explode(expr(s"sequence(2, least($WpMaxPiece, length(term) - i + 1))")))
      .select(expr("substring(term, i, l)").as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("w"))
      .orderBy(col("w").desc, col("piece"))
      .limit(WpTopPieces)
      .collect().map(_.getString(0))
    val chars = words
      .select(explode(split(col("term"), "")).as("piece"))
      .where(col("piece") =!= "").distinct()
      .collect().map(_.getString(0))
    val bc = s.sparkContext.broadcast((multi ++ chars).toSet)
    words.as[(String, Long)].mapPartitions { it =>
      val inv = bc.value
      it.map { case (t, f) =>
        val sb = new StringBuilder
        var p = 0; var n = 0L
        while (p < t.length) {
          var l = math.min(WpMaxPiece, t.length - p)
          while (l > 1 && !inv.contains(t.substring(p, p + l))) l -= 1
          // l == 1 always matches: every observed char is in the inventory
          if (sb.nonEmpty) sb.append(' ')
          sb.append(t.substring(p, p + l))
          n += 1; p += l
        }
        (t, f, sb.toString, n)
      }
    }.toDF("term", "freq", "seg", "n_pieces")
  }

  /** Corpus encoded under the maximal-munch inventory: per-doc word
    * and piece counts — broadcast segmentation table, zero corpus
    * shuffle (the [[vocabBpeEncode]] shape). */
  def vocabWordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val seg = vocabWordpiece(s, dir).select(col("term"), col("n_pieces"))
    tokens(s, dir)
      .join(broadcast(seg), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("n_pieces")).as("n_pieces"))
  }

  /** Inventory + jump-table + recursive greedy walk, shared by both
    * wordpiece oracles; assumes `dtoks` is defined and the WITH is
    * RECURSIVE. */
  private def wordpieceCtesSql: String =
    s"""w0 AS MATERIALIZED (
       |  SELECT term, CAST(COUNT(1) AS BIGINT) AS freq FROM dtoks GROUP BY term),
       |subs AS (
       |  SELECT substring(term, i, l) AS piece, SUM(freq) AS w
       |  FROM w0,
       |       LATERAL (SELECT unnest(generate_series(1, length(term))) AS i) ti,
       |       LATERAL (SELECT unnest(generate_series(2, $WpMaxPiece)) AS l) tl
       |  WHERE i + l - 1 <= length(term)
       |  GROUP BY 1),
       |multi AS (SELECT piece FROM subs ORDER BY w DESC, piece LIMIT $WpTopPieces),
       |chars AS (
       |  SELECT DISTINCT substring(term, i, 1) AS piece
       |  FROM w0, LATERAL (SELECT unnest(generate_series(1, length(term))) AS i) t),
       |vocab AS MATERIALIZED (
       |  SELECT piece FROM multi UNION SELECT piece FROM chars),
       |jumps AS MATERIALIZED (
       |  SELECT term, i, MAX(l) AS jump
       |  FROM w0,
       |       LATERAL (SELECT unnest(generate_series(1, length(term))) AS i) ti,
       |       LATERAL (SELECT unnest(generate_series(1, $WpMaxPiece)) AS l) tl
       |  WHERE i + l - 1 <= length(term)
       |    AND substring(term, i, l) IN (SELECT piece FROM vocab)
       |  GROUP BY 1, 2),
       |walk(term, pos, seg, n) AS (
       |  SELECT term, 1, '', 0 FROM w0
       |  UNION ALL
       |  SELECT w.term, w.pos + j.jump,
       |         CASE WHEN w.seg = '' THEN substring(w.term, w.pos, j.jump)
       |              ELSE w.seg || ' ' || substring(w.term, w.pos, j.jump) END,
       |         w.n + 1
       |  FROM walk w JOIN jumps j ON j.term = w.term AND j.i = w.pos
       |  WHERE w.pos <= length(w.term)),
       |wpseg AS MATERIALIZED (
       |  SELECT term, seg, CAST(n AS BIGINT) AS n_pieces
       |  FROM walk WHERE pos = length(term) + 1)""".stripMargin

  val vocabWordpieceSql: String =
    s"""WITH RECURSIVE $dtoksCteSql,
       |$wordpieceCtesSql
       |SELECT w0.term, w0.freq, wpseg.seg, wpseg.n_pieces
       |FROM w0 JOIN wpseg USING (term)""".stripMargin

  val vocabWordpieceEncodeSql: String =
    s"""WITH RECURSIVE $dtoksCteSql,
       |$wordpieceCtesSql
       |SELECT t.doc_id, CAST(COUNT(1) AS BIGINT) AS n_tok,
       |       CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces
       |FROM dtoks t JOIN wpseg s USING (term)
       |GROUP BY t.doc_id""".stripMargin
}
