package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Entity resolution (fuzzy record linkage) — the blocking → bounded
  * pairwise-verify → transitive-cluster pipeline of the record-linkage
  * literature (Fellegi–Sunter framing; blocking surveys by Christen):
  * find records that name the SAME real-world entity despite textual
  * drift, without ever comparing all pairs.
  *
  * Not in the reference (SURVEY.md §2.4 extended surface); ER is the
  * standard pre-join cleanup any warehouse runs over vendor/product
  * catalogs, here gated over `part` names.
  *
  * Scale design — the decisive trick for duplicate-heavy catalogs is
  * to COLLAPSE EXACT-IDENTICAL NAMES FIRST: a name occurring 10⁶ times
  * is one node with a count, not 10¹² intra-name pairs. The first
  * version of this operator matched at record level and spent 45 s at
  * sf0.1 almost entirely on distance-0 copies of the same 64 strings —
  * the textbook blocking failure the distinct-name contraction exists
  * to prevent. The pipeline:
  *   1. CONTRACT: group records by normalized name → (name, min-key
  *      representative, count). |distinct names| is vocabulary-bounded,
  *      orders of magnitude below |records| on any real catalog.
  *   2. BLOCK: candidates only within a block (the name's head noun);
  *      blocks over [[ErMaxBlock]] DISTINCT names are dropped (the
  *      stop-noun analog of [[Dedup]]'s MaxDf — a count census that
  *      partial-aggregates map-side), so pair fan-out is ≤ ErMaxBlock²
  *      per block by construction.
  *   3. VERIFY: `levenshtein` ≤ [[ErMaxDist]] per distinct-name pair —
  *      a codegen'd built-in, evaluated once per name pair no matter
  *      how many records carry the names.
  *   4. CLUSTER: connected components over representative keys (the
  *      shared [[Dedup.propagateMin]] kernel); labels broadcast back
  *      to records through the name table. Records with identical
  *      names are one entity EVEN in dropped blocks (they share a
  *      representative) — exact-dup merging never degrades.
  * Entity id = min part key of the component (representatives are
  * per-name minima, so the component minimum is the true record-level
  * minimum); sizes via the skew-safe aggregate + join-back idiom.
  * The blocking-recall eval quantifies what the block key loses, the
  * [[Dedup.dedupRecallEval]] discipline: measure the trade, don't
  * hide it.
  *
  * Determinism: levenshtein is exact integer edit distance; blocks,
  * caps and thresholds are integer comparisons; entity ids are min()
  * fixpoints — unique regardless of partitioning or round count.
  */
object EntityResolution {

  /** Drop blocks with more DISTINCT names than this (stop-noun analog
    * of Dedup.MaxDf): bounds per-block pair fan-out at any corpus
    * size. */
  private val ErMaxBlock = 4096
  /** Max edit distance for a verified match. */
  private val ErMaxDist = 2
  /** Deterministic representative-key sample modulus for the
    * blocking-recall eval. */
  private val ErSampleMod = 7

  /** (k, name, blk) — normalized name + blocking key per RECORD, for
    * any part-shaped frame. */
  private def namesOf(parts: DataFrame): DataFrame =
    parts.select(
      col("p_partkey").as("k"),
      lower(col("p_name")).as("name"),
      element_at(split(lower(col("p_name")), " "), 2).as("blk"))

  private def names(s: SparkSession, dir: String): DataFrame =
    namesOf(Tables.part(s, dir))

  /** Public batch-ingest entry for the streaming sink: any part-shaped
    * frame → (k, name, blk) rows. */
  private[graft] def namesOfParts(parts: DataFrame): DataFrame = namesOf(parts)

  /** The exact-name contraction: one node per distinct name, with its
    * min-key representative and record count. (blk is functionally
    * determined by name, so the group key is just a carry.) */
  private def dnOf(names: DataFrame): DataFrame =
    names.groupBy(col("name"), col("blk"))
      .agg(min(col("k")).as("rep"), count(lit(1)).as("cnt"))

  private def distinctNames(s: SparkSession, dir: String): DataFrame =
    dnOf(names(s, dir))

  private val namesSql: String =
    """names AS (
      |  SELECT p_partkey AS k, lower(p_name) AS name,
      |         split_part(lower(p_name), ' ', 2) AS blk
      |  FROM part),
      |dn AS (
      |  SELECT name, blk, MIN(k) AS rep, CAST(COUNT(1) AS BIGINT) AS cnt
      |  FROM names GROUP BY name, blk)""".stripMargin

  /** Verified distinct-name match pairs, with representative keys for
    * clustering. */
  private def pairsWithReps(s: SparkSession, dir: String): DataFrame = {
    val dn = distinctNames(s, dir)
    val keep = dn.groupBy(col("blk")).agg(count(lit(1)).as("df"))
      .where(col("df") <= ErMaxBlock).select(col("blk"))
    val kept = dn.join(keep, Seq("blk"), "left_semi")
    // THRESHOLD-BANDED verify (r17, guide §4 — cheaper per-task
    // expression, same rows): levenshtein(a, b, t) runs the banded
    // O(len·t) DP (with a |len(a)−len(b)| > t early exit) and returns
    // −1 past the threshold, where the unbounded form fills the full
    // O(len²) matrix only for the filter to discard it. For every
    // SURVIVING pair the banded value IS the exact distance, so
    // `dist` and the kept set are unchanged (ErSpec pins both).
    kept.as("a").join(kept.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        levenshtein(col("a.name"), col("b.name"), ErMaxDist).cast("int").as("dist"),
        col("a.cnt").as("n_a"), col("b.cnt").as("n_b"),
        col("a.rep").as("rep_a"), col("b.rep").as("rep_b"))
      .where(col("dist") >= 0)
  }

  /** The pairs CTE chain (names/dn/keep/kept/pairs), shared textually
    * by the pairs, entities, and recall oracles. */
  private val pairsCtesSql: String =
    s"""$namesSql,
       |keep AS (SELECT blk FROM dn GROUP BY blk HAVING COUNT(1) <= $ErMaxBlock),
       |kept AS (SELECT dn.* FROM dn JOIN keep ON dn.blk = keep.blk),
       |pairs AS (
       |  SELECT a.name AS name_a, b.name AS name_b,
       |         CAST(levenshtein(a.name, b.name) AS INT) AS dist,
       |         a.cnt AS n_a, b.cnt AS n_b, a.rep AS rep_a, b.rep AS rep_b
       |  FROM kept a JOIN kept b ON a.blk = b.blk AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= $ErMaxDist)""".stripMargin

  /** Gate: the verified distinct-name pairs with their record counts
    * (record-level pair mass is n_a·n_b, derivable — never
    * materialized). */
  def erPairs(s: SparkSession, dir: String): DataFrame =
    pairsWithReps(s, dir)
      .select(col("name_a"), col("name_b"), col("dist"), col("n_a"), col("n_b"))

  val erPairsSql: String =
    s"""WITH $pairsCtesSql
       |SELECT name_a, name_b, dist, n_a, n_b FROM pairs""".stripMargin

  /** The match graph [[erEntities]] clusters: (distinct-name table, the
    * symmetric rep-key edge list hash-positioned on `src` and PERSISTED
    * — the caller unpersists it). */
  private[graft] def erSymEdges(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    (distinctNames(s, dir), Dedup.symmetrize(
        pairsWithReps(s, dir).select(col("rep_a").as("da"), col("rep_b").as("db")))
      .repartition(col("src")).persist())

  /** Transitive entity clusters broadcast back to records: every part
    * keyed to the min part key of its match component; singletons keep
    * themselves. Sizes via aggregate + join-back (no window over
    * entity_id — a mega-entity would serialize into one window task). */
  def erEntities(s: SparkSession, dir: String): DataFrame = {
    val (dn, sym) = erSymEdges(s, dir)
    val labels = Dedup.propagateMin(s,
      dn.select(col("rep").as("doc_id"), col("rep").as("label")),
      sym, "erEntities")
    sym.unpersist()
    val rec = names(s, dir)
      .join(dn.select(col("name"), col("rep")), "name")
      .join(labels.withColumnRenamed("doc_id", "rep"), "rep")
    val sizes = rec.groupBy(col("label")).agg(count(lit(1)).as("entity_size"))
    rec.join(sizes, "label")
      .select(col("k").as("p_partkey"), col("label").as("entity_id"),
        col("entity_size"),
        (col("k") === col("label")).cast("int").as("is_canonical"))
  }

  val erEntitiesSql: String =
    s"""WITH RECURSIVE $pairsCtesSql,
       |e AS MATERIALIZED (SELECT rep_a AS da, rep_b AS db FROM pairs),
       |sym AS MATERIALIZED (SELECT da AS src, db AS dst FROM e
       |        UNION ALL SELECT db, da FROM e),
       |reach(src, dst) AS (
       |  SELECT rep, rep FROM dn
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON s.src = r.dst),
       |lab AS MATERIALIZED (
       |  SELECT src AS rep, MIN(dst) AS entity_id FROM reach GROUP BY src),
       |rec AS (
       |  SELECT n.k, l.entity_id
       |  FROM names n JOIN dn ON n.name = dn.name JOIN lab l ON dn.rep = l.rep),
       |sizes AS (SELECT entity_id, COUNT(1) AS entity_size FROM rec GROUP BY entity_id)
       |SELECT rec.k AS p_partkey, rec.entity_id, sizes.entity_size,
       |       CAST(rec.k = rec.entity_id AS INT) AS is_canonical
       |FROM rec JOIN sizes ON rec.entity_id = sizes.entity_id""".stripMargin

  // ------------------------------------------------------------ er_incr
  /** INCREMENTAL entity resolution — the daily-catalog shape: the
    * stored state is the name table (name, rep, cnt, entity label); an
    * arriving record batch folds into it through [[erEntitiesVs]] at
    * O(batch-new names × touched blocks), never a corpus re-match.
    * Gate: the catalog split into two key ranges and folded from
    * [[emptyState]] (the bootstrap is the same step over an empty
    * state — ONE code path backfills and maintains, the
    * [[Ivm.streamIvm]] discipline), relabeled over all records.
    *
    * EXACTNESS: bit-identical to the full recompute (the oracle IS
    * [[erEntitiesSql]]) under two documented preconditions — batch
    * keys ≥ stored keys (append-only ingest keeps representatives
    * stable; a smaller key re-entering an old name routes to rebuild)
    * and the block cap not NEWLY binding (same caveat as
    * dedup_cc_incr's bucket caps; gate SFs sit far below it). */
  def erIncr(s: SparkSession, dir: String): DataFrame = rangeFold(s, dir, 2)

  /** Gate: [[erIncr]]'s fold over three key ranges, so the last batch
    * folds over a state that a fold built, not the bootstrap's
    * ([[graft.streaming.ErStream]] runs the same step per micro-batch).
    * Same oracle, same preconditions. */
  def streamEr(s: SparkSession, dir: String): DataFrame = rangeFold(s, dir, 3)

  private def rangeFold(s: SparkSession, dir: String, batches: Int): DataFrame = {
    val all = names(s, dir)
    val state = graft.Graft.rangeSplit(all, "k", batches).foldLeft(emptyState(s)) {
      (st, batch) => erEntitiesVs(s, batch, dnOfState(st), priorOfState(st))
    }
    recordsUnder(all, state)
  }

  /** The genuine steady-state entry: `batchNames` (k, name, blk) rows,
    * the STORED distinct-name table, and the STORED prior labels
    * (rep → entity). Returns the UPDATED name state
    * (name, rep, cnt, label) — the table a real pipeline writes back;
    * per-record output is a label join over it (see [[erIncr]]).
    *   1. contract the batch to its own distinct names; split into
    *      ALREADY-KNOWN names (counts grow, zero new edges — their
    *      pairs are baked into the prior labels) and NEW names;
    *   2. verify new names against (snapshot ∪ new) names within
    *      blocks, under the COMBINED block census (the full-recompute
    *      cap semantics — the [[Dedup]] incremental-containment
    *      lesson: per-side caps admit pairs the single-table rule
    *      drops);
    *   3. fold the new-rep pairs into the prior entities
    *      ([[Dedup.foldComponents]]: a new name bridging two prior
    *      entities merges them);
    *   4. join the rep labels onto the merged name table. */
  def erEntitiesVs(s: SparkSession, batchNames: DataFrame, dnS: DataFrame,
      prior: DataFrame): DataFrame = {
    val dnB = dnOf(batchNames)
    val dnBNew = dnB.join(dnS.select(col("name")), Seq("name"), "left_anti")
    // merged state: reps stay stable under append-only keys (min is
    // the stored rep for known names), counts add
    val dnAll = dnS.unionByName(dnB).groupBy(col("name"), col("blk"))
      .agg(min(col("rep")).as("rep"), sum(col("cnt")).as("cnt"))
      .persist()
    // combined census — full-recompute cap semantics
    val keep = dnAll.groupBy(col("blk")).agg(count(lit(1)).as("df"))
      .where(col("df") <= ErMaxBlock).select(col("blk"))
    val keptNew = dnBNew.join(keep, Seq("blk"), "left_semi")
    val keptAll = dnAll.join(keep, Seq("blk"), "left_semi")
    val newEdges = keptNew.as("a").join(keptAll.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") =!= col("b.name") &&
          levenshtein(col("a.name"), col("b.name"), ErMaxDist) >= 0)
      .select(col("a.rep").as("da"), col("b.rep").as("db"))
    val repLab = Dedup.foldComponents(s, dnBNew.select(col("rep").as("doc_id")),
      newEdges, prior, "erEntitiesVs")
    // plain localCheckpoint (r17): the r16 compaction of this fold
    // state regressed stream_er on BOTH the builder's closing record
    // (3.23->3.67 within-boot) and the driver's bench (3.70->5.00) —
    // the state feeds the NEXT fold's blocking join, where the
    // collapsed partitioning costs more than the tiny-task launches
    // it saved (VERDICT r16 item 2; per-site A/B re-run this round)
    val state = dnAll.select(col("name"), col("rep"), col("cnt"))
      .join(repLab.withColumnRenamed("doc_id", "rep"), "rep")
      .select(col("name"), col("rep"), col("cnt"), col("label"))
      .localCheckpoint()
    dnAll.unpersist()
    state
  }

  // ----------------------------------------------- name state (fold I/O)
  /** Empty name-state frame (the bootstrap predecessor): erEntitiesVs
    * run against it degenerates to a from-scratch build over the batch
    * alone. */
  private[graft] def emptyState(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq.empty[(String, Long, Long, Long)].toDF("name", "rep", "cnt", "label")
  }

  /** Stored state → the (dn, prior) pair the steady-state entry reads.
    * blk is functionally determined by name, so it is recomputed rather
    * than stored. */
  private[graft] def dnOfState(state: DataFrame): DataFrame =
    state.select(col("name"),
      element_at(split(col("name"), " "), 2).as("blk"),
      col("rep"), col("cnt"))

  private[graft] def priorOfState(state: DataFrame): DataFrame =
    state.select(col("rep").as("doc_id"), col("label")).distinct()

  /** Record-level output from a name state: label join + skew-safe
    * sizes — the write-back view of [[erIncr]]. */
  private def recordsUnder(records: DataFrame, state: DataFrame): DataFrame = {
    val sizes = state.groupBy(col("label")).agg(sum(col("cnt")).as("entity_size"))
    records.select(col("k"), col("name"))
      .join(state.select(col("name"), col("label")), "name")
      .join(sizes, "label")
      .select(col("k").as("p_partkey"), col("label").as("entity_id"),
        col("entity_size"),
        (col("k") === col("label")).cast("int").as("is_canonical"))
  }

  /** Blocking-recall eval: over a deterministic representative-key
    * sample of DISTINCT names, compare the blocked pipeline's matches
    * against EXHAUSTIVE pairwise truth (every sampled name pair, no
    * blocking). The exhaustive side is the eval harness, not the
    * production path — quadratic ON THE SAMPLE ONLY (broadcastable),
    * the sampled-truth discipline of [[Dedup.dedupRecallEval]]. One
    * output row: truth size, found size, recall. */
  def erBlockRecall(s: SparkSession, dir: String): DataFrame = {
    val sample = distinctNames(s, dir).where(col("rep") % ErSampleMod === 0)
    val truth = sample.as("a").join(broadcast(sample.as("b")),
        col("a.name") < col("b.name") &&
          levenshtein(col("a.name"), col("b.name"), ErMaxDist) >= 0)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    val found = pairsWithReps(s, dir)
      .where(col("rep_a") % ErSampleMod === 0 && col("rep_b") % ErSampleMod === 0)
      .select(col("name_a"), col("name_b"))
    val joined = truth.join(found, Seq("name_a", "name_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth")).crossJoin(
        joined.agg(count(lit(1)).as("n_found")))
      .select(col("n_truth"), col("n_found"),
        when(col("n_truth") === 0, lit(1.0))
          .otherwise(col("n_found").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }

  val erBlockRecallSql: String =
    s"""WITH $pairsCtesSql,
       |sample AS (SELECT * FROM dn WHERE rep % $ErSampleMod = 0),
       |truth AS (
       |  SELECT a.name AS name_a, b.name AS name_b
       |  FROM sample a JOIN sample b ON a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= $ErMaxDist),
       |found AS (
       |  SELECT p.name_a, p.name_b FROM pairs p
       |  WHERE p.rep_a % $ErSampleMod = 0 AND p.rep_b % $ErSampleMod = 0),
       |hit AS (SELECT t.* FROM truth t
       |        WHERE EXISTS (SELECT 1 FROM found f
       |                      WHERE f.name_a = t.name_a AND f.name_b = t.name_b))
       |SELECT (SELECT CAST(COUNT(1) AS BIGINT) FROM truth) AS n_truth,
       |       (SELECT CAST(COUNT(1) AS BIGINT) FROM hit) AS n_found,
       |       CASE WHEN (SELECT COUNT(1) FROM truth) = 0 THEN 1.0
       |            ELSE CAST((SELECT COUNT(1) FROM hit) AS DOUBLE)
       |                 / CAST((SELECT COUNT(1) FROM truth) AS DOUBLE) END AS recall""".stripMargin
}
