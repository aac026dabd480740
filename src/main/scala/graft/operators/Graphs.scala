package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over corpus-derived graphs.
  *
  * PageRank is THE canonical MapReduce application (named as the
  * motivating workload in Dean & Ghemawat's MapReduce paper and every
  * descendant framework, including the reference's lineage:
  * `/root/reference/6.5840/src/mr/coordinator.go` schedules exactly
  * the map→shuffle→reduce shape one PR iteration needs). Here it runs
  * over the near-duplicate pair graph the dedup family already
  * produces — centrality over the dup graph is how a production
  * pipeline picks the canonical representative of a duplicate cluster
  * (the most-connected copy, not an arbitrary min-id) and how crawl
  * frontiers weight recrawls.
  *
  * Arithmetic is FIXED-POINT INTEGER so the DuckDB oracle matches
  * bit-for-bit (the same discipline as the trained classifier's
  * integer gradients): every node starts with [[PrScale]] units of
  * mass; one round is
  *
  *   share(u)  = mass(u) div deg(u)            (integer floor div)
  *   pot       = (Σ dangling mass + Σ division remainders) div N
  *   mass'(v)  = 150000 + (85 · (Σ_{u→v} share(u) + pot)) div 100
  *
  * i.e. damped PageRank (d = 0.85, teleport 0.15·[[PrScale]]) with the
  * dangling-node mass and the flooring remainders redistributed
  * uniformly — mass is conserved up to the final flooring, and every
  * operation is order-invariant BIGINT arithmetic, so the result is
  * deterministic across engines, partitionings, and retries. Exactly
  * [[PrIters]] rounds run (no convergence test: a fixed round count is
  * what the unrolled-CTE oracle can replay exactly).
  *
  * Scale: per round one shuffle joins the O(N) mass table with the
  * localCheckpointed symmetric edge list on src (map-side partial sums
  * absorb in-degree skew on the dst aggregation — a supernode's
  * contributions combine per-partition before the exchange), plus a
  * broadcast singleton for the dangling pot. State per round is one
  * (doc_id, mass) table, localCheckpointed like [[Dedup.propagateMin]]
  * so lineage stays one round deep. K rounds on a 1000-executor
  * cluster cost K·shuffle(E) — the standard Pregel budget.
  */
object Graphs {

  /** Fixed PageRank round count (unrolled in the oracle). */
  val PrIters = 5

  /** Fixed-point scale: initial per-node mass (1.0 ≡ 1e6). */
  val PrScale = 1000000L

  /** PageRank over an arbitrary node/edge set: `nodes` is (doc_id),
    * `edges` is a SYMMETRIC (src, dst) list with no self-loops or
    * multi-edges (symmetrize one-direction pairs first). Returns
    * (doc_id, out_deg, pr_scaled, pr).
    *
    * The round state is (doc_id, deg, mass): deg is STATIC, so joining
    * it once up front and carrying it through the rounds saves a
    * per-round O(N) join — each round is exactly one shuffle join with
    * the edge list, one partial-agg exchange on dst, and one join back
    * onto the carried state (whose partitioning the previous round's
    * localCheckpoint preserved). */
  def pagerankOver(s: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    val nd = graft.Graft.compactCheckpoint(nodes.select(col("doc_id")))
    val sym = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    pagerankPrepared(s, nd, sym)
  }

  /** The rounds over ALREADY-POSITIONED frames: `nd` (doc_id) and `sym`
    * (src, dst) must be materialized (persisted or checkpointed) and
    * `sym` hash-positioned on `src` by the caller — both are scanned
    * every round. [[graphCanonical]] enters here so its one persisted
    * edge exchange feeds CC and PR without a second materialization. */
  private[graft] def pagerankPrepared(s: SparkSession, nd: DataFrame,
      sym: DataFrame): DataFrame = {
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n = nd.count()

    val init = graft.Graft.compactCheckpoint(
      nd.join(deg, col("doc_id") === col("src"), "left")
        .select(col("doc_id"), coalesce(col("deg"), lit(0L)).as("deg"),
          lit(PrScale).as("mass")))
    val state = graft.Graft.iterate(init, PrIters) { state =>
      // dangling mass + flooring remainders, redistributed uniformly
      // (integer div throughout — a double division here would round
      // differently from the oracle's `//` near integer boundaries)
      val pot = state.agg(sum(when(col("deg") === 0L, col("mass"))
          .otherwise(col("mass") - col("deg") * expr("mass div deg"))).as("potsum"))
        .select(expr(s"potsum div ${n}L").cast("long").as("pot"))
      val contrib = state.where(col("deg") > 0L)
        .select(col("doc_id"), expr("mass div deg").as("share"))
        .join(sym, col("doc_id") === col("src"))
        .groupBy(col("dst")).agg(sum(col("share")).as("inc"))
      state.join(contrib, col("doc_id") === col("dst"), "left")
        .crossJoin(broadcast(pot))
        .select(col("doc_id"), col("deg"),
          (lit(150000L) +
            expr(s"(85 * (coalesce(inc, 0L) + pot)) div 100").cast("long")).as("mass"))
    }.state
    state.select(col("doc_id"), col("deg").as("out_deg"),
      col("mass").as("pr_scaled"),
      (col("mass").cast("double") / lit(1e6)).as("pr"))
  }

  /** Gate entry: PageRank over the SimHash near-dup pair graph (the
    * pairs [[Dedup.dedupSimhashPairs]] already verifies, symmetrized).
    * Docs with no near-dup are dangling nodes and settle at the
    * teleport floor; cluster members rank by connectivity. */
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    pagerankOver(s, graft.Tables.documents(s, dir).select(col("doc_id")),
      Dedup.symmetrize(Dedup.dedupSimhashPairs(s, dir).select(col("da"), col("db"))))

  /** The unrolled rounds as a CTE chain `deg/nn/r0/wd_k..r_K` — the
    * same integer updates as Spark's round loop, graph-agnostic:
    * assumes `sym`(src, dst) and `nodes`(doc_id) are already defined.
    * Shared by [[graphPagerankSql]] (simhash pair graph) and
    * [[graphCanonicalSql]] (minhash pair graph). `//` is DuckDB floor
    * division — identical to Spark's `div` on the non-negative masses
    * here. Every chained CTE is `MATERIALIZED`: wd_k is referenced
    * twice (pot_k, con_k), so inlining would re-evaluate r_{k-1} twice
    * per round — a 2^K blow-up of the seed pair pipeline that turns a
    * sub-second oracle into minutes. */
  private[graft] def prRoundsCtesSql: String = {
    val rounds = (1 to PrIters).map { k =>
      val prev = s"r${k - 1}"
      s"""wd$k AS MATERIALIZED (
         |  SELECT r.doc_id, r.mass, COALESCE(d.deg, 0) AS deg
         |  FROM $prev r LEFT JOIN deg d ON r.doc_id = d.src),
         |pot$k AS MATERIALIZED (
         |  SELECT CAST(SUM(CASE WHEN deg = 0 THEN mass
         |                       ELSE mass - deg * (mass // deg) END)
         |              // (SELECT n FROM nn) AS BIGINT) AS pot
         |  FROM wd$k),
         |con$k AS MATERIALIZED (
         |  SELECT e.dst, CAST(SUM(w.mass // w.deg) AS BIGINT) AS inc
         |  FROM wd$k w JOIN sym e ON w.doc_id = e.src
         |  WHERE w.deg > 0 GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT nd.doc_id,
         |         CAST(150000 + (85 * (COALESCE(c.inc, 0) + (SELECT pot FROM pot$k)))
         |              // 100 AS BIGINT) AS mass
         |  FROM nodes nd LEFT JOIN con$k c ON nd.doc_id = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""deg AS MATERIALIZED (SELECT src, CAST(COUNT(1) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |nn AS MATERIALIZED (SELECT CAST(COUNT(1) AS BIGINT) AS n FROM nodes),
       |r0 AS MATERIALIZED (SELECT doc_id, CAST($PrScale AS BIGINT) AS mass FROM nodes),
       |$rounds""".stripMargin
  }

  lazy val graphPagerankSql: String =
    s"""WITH shp AS MATERIALIZED (${Dedup.dedupSimhashPairsSql}),
       |sym AS MATERIALIZED (SELECT da AS src, db AS dst FROM shp
       |        UNION ALL SELECT db AS src, da AS dst FROM shp),
       |nodes AS MATERIALIZED (SELECT doc_id FROM documents),
       |$prRoundsCtesSql
       |SELECT nd.doc_id, CAST(COALESCE(d.deg, 0) AS BIGINT) AS out_deg,
       |       r.mass AS pr_scaled, CAST(r.mass AS DOUBLE) / 1e6 AS pr
       |FROM nodes nd
       |JOIN r$PrIters r ON nd.doc_id = r.doc_id
       |LEFT JOIN deg d ON nd.doc_id = d.src""".stripMargin

  /** CENTRALITY-CANONICAL cluster representatives: connected components
    * over the minhash near-dup pair graph (the exact edge set
    * [[Dedup.dedupCc]] clusters) plus PageRank over the SAME graph, one
    * shared persisted edge exchange feeding both fixpoints. The
    * representative of each cluster is its highest-PR member (doc_id
    * tie-break) — "keep the most-connected copy", the production
    * upgrade over min-id canonicals, which pick an arbitrary member.
    *
    * Scale: the edge list is built once (the dedup family's bucketed
    * candidate generation, never all-pairs) and persisted across both
    * traversals. The per-cluster argmax and size come from ONE
    * aggregate + join-back, NOT windows over cluster_id: bucket caps
    * bound EDGES per bucket, but a connected component chains across
    * buckets without bound (boilerplate at 100 TB), and a window would
    * land a mega-cluster's every member in one unsplittable task. The
    * argmax is the struct-min idiom (min over (−pr, doc_id) ≡ highest
    * PR, smallest doc_id tie-break — same as LPA's plurality argmax),
    * partial-aggregated map-side; results are hash-identical to the
    * windowed form. */
  def graphCanonical(s: SparkSession, dir: String): DataFrame = {
    val (mh, sym) = Dedup.ccSymEdges(s, dir)
    val docs = graft.Graft.compactCheckpoint(
      graft.Tables.documents(s, dir).select(col("doc_id")))
    val labels = Dedup.propagateMin(s,
      docs.select(col("doc_id"), col("doc_id").as("label")), sym, "graphCanonical")
    val pr = pagerankPrepared(s, docs, sym)
    val members = labels.select(col("doc_id"), col("label").as("cluster_id"))
      .join(pr.select(col("doc_id"), col("pr_scaled")), "doc_id")
    val out = canonicalOver(members)
      .localCheckpoint() // sever lineage before releasing the edge cache
    sym.unpersist()
    mh.unpersist()
    out
  }

  /** The keeper-stats step over a (doc_id, cluster_id, pr_scaled)
    * membership frame — separated so PlanSpec can pin its shape (the
    * localCheckpoint in [[graphCanonical]] severs the plan). */
  private[graft] def canonicalOver(members: DataFrame): DataFrame = {
    val perCluster = members.groupBy(col("cluster_id"))
      .agg(min(struct((-col("pr_scaled")).as("neg_pr"), col("doc_id"))).as("top"),
           count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("top.doc_id").as("canonical_id"),
        col("cluster_size"))
    members.join(perCluster, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("pr_scaled"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("int").as("is_canonical"))
  }

  // ------------------------------------------------ graph_communities
  /** Fixed label-propagation round count (unrolled in the oracle). */
  val LpaIters = 5

  /** Community detection by SYNCHRONOUS label propagation (Raghavan et
    * al. 2007) — the next canonical MapReduce-lineage graph workload
    * after PageRank, and the standard cheap community pass over a dup
    * graph (finer than connected components: CC merges everything
    * reachable; LPA splits a chain of weakly-bridged clusters at the
    * bridges). Each round every node adopts the most frequent label
    * among its neighbors, ties to the SMALLEST label; nodes with no
    * neighbors keep their own. All updates are simultaneous
    * (synchronous) and run exactly [[LpaIters]] rounds — no convergence
    * test, no random tie-breaks, no asynchronous visit order, so unlike
    * textbook LPA the result is fully deterministic: counting + an
    * order-invariant argmax, replayable round-for-round by the
    * unrolled-CTE oracle. (Synchronous LPA can oscillate on bipartite
    * substructures; a fixed round count makes that a defined outcome,
    * the same trade [[PrIters]] makes for PageRank.)
    *
    * Scale: per round one shuffle join of the O(N) label table with the
    * positioned edge list plus one (dst, label) partial-count exchange
    * — map-side combine absorbs label skew inside hot communities; the
    * argmax is an order-invariant `min(struct(-c, label))`, not a
    * window, so it needs no second exchange. K rounds cost K·shuffle(E),
    * the same Pregel budget as PageRank, with state localCheckpointed
    * one round deep. */
  def labelPropagationOver(s: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    val nd = graft.Graft.compactCheckpoint(nodes.select(col("doc_id")))
    val sym = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    labelPropagationPrepared(s, nd, sym)
  }

  /** The rounds over ALREADY-POSITIONED frames ([[pagerankPrepared]]'s
    * contract): share one persisted edge exchange with CC/PR when
    * composing. */
  private[graft] def labelPropagationPrepared(s: SparkSession, nd: DataFrame,
      sym: DataFrame): DataFrame = {
    val init = graft.Graft.compactCheckpoint(
      nd.select(col("doc_id"), col("doc_id").as("label")))
    val labels = graft.Graft.iterate(init, LpaIters) { labels =>
      val best = labels.join(sym, col("doc_id") === col("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        // argmax by (c desc, label asc): lexicographic struct-min —
        // order-invariant, no window exchange
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("negc"), col("label"))).as("b"))
        .select(col("dst"), col("b.label").as("new_label"))
      labels.join(best, col("doc_id") === col("dst"), "left")
        .select(col("doc_id"),
          coalesce(col("new_label"), col("label")).as("label"))
    }.state
    // community sizes via aggregate + join-back (the ccOutput idiom),
    // not a window over community_id: a mega-community would land every
    // member in one window task, and AQE cannot split window partitions
    // (it CAN split the skewed equi-join)
    val out = labels.select(col("doc_id"), col("label").as("community_id"))
    val sizes = out.groupBy(col("community_id"))
      .agg(count(lit(1)).as("community_size"))
    out.join(sizes, "community_id")
      .select(col("doc_id"), col("community_id"), col("community_size"))
  }

  /** Gate entry: communities of the SimHash near-dup pair graph (same
    * edge set as [[graphPagerank]]). Singletons are their own
    * community; clusters partition by label plurality. */
  def graphCommunities(s: SparkSession, dir: String): DataFrame =
    labelPropagationOver(s, graft.Tables.documents(s, dir).select(col("doc_id")),
      Dedup.symmetrize(Dedup.dedupSimhashPairs(s, dir).select(col("da"), col("db"))))

  /** The unrolled LPA rounds: per round a neighbor-label count and a
    * ROW_NUMBER argmax (c desc, label asc) — the same deterministic
    * tie-break as the struct-min. */
  lazy val graphCommunitiesSql: String = {
    val rounds = (1 to LpaIters).map { k =>
      val prev = s"l${k - 1}"
      s"""cnt$k AS MATERIALIZED (
         |  SELECT e.dst, l.label, CAST(COUNT(1) AS BIGINT) AS c
         |  FROM $prev l JOIN sym e ON l.doc_id = e.src GROUP BY 1, 2),
         |best$k AS MATERIALIZED (
         |  SELECT dst, label FROM (
         |    SELECT dst, label,
         |           ROW_NUMBER() OVER (PARTITION BY dst ORDER BY c DESC, label) AS rn
         |    FROM cnt$k) WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT p.doc_id, COALESCE(b.label, p.label) AS label
         |  FROM $prev p LEFT JOIN best$k b ON p.doc_id = b.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH shp AS MATERIALIZED (${Dedup.dedupSimhashPairsSql}),
       |sym AS MATERIALIZED (SELECT da AS src, db AS dst FROM shp
       |        UNION ALL SELECT db AS src, da AS dst FROM shp),
       |nodes AS MATERIALIZED (SELECT doc_id FROM documents),
       |l0 AS MATERIALIZED (SELECT doc_id, doc_id AS label FROM nodes),
       |$rounds
       |SELECT doc_id, label AS community_id,
       |       COUNT(1) OVER (PARTITION BY label) AS community_size
       |FROM l$LpaIters""".stripMargin
  }

  /** Composed oracle: the recursive-CTE CC labels (same chain as
    * [[Dedup.dedupCcSql]]) joined with the unrolled PR rounds, both over
    * the one minhash-threshold edge CTE. */
  lazy val graphCanonicalSql: String =
    s"""${Dedup.minhashEstCteSql(recursive = true)},
       |${Dedup.ccCtesSql},
       |nodes AS MATERIALIZED (SELECT doc_id FROM documents),
       |$prRoundsCtesSql
       |SELECT doc_id, cluster_id, cluster_size, pr_scaled, canonical_id,
       |       CAST(doc_id = canonical_id AS INT) AS is_canonical
       |FROM (SELECT l.doc_id, l.cluster_id,
       |             COUNT(1) OVER (PARTITION BY l.cluster_id) AS cluster_size,
       |             r.mass AS pr_scaled,
       |             FIRST_VALUE(l.doc_id) OVER (PARTITION BY l.cluster_id
       |               ORDER BY r.mass DESC, l.doc_id) AS canonical_id
       |      FROM lab l JOIN r$PrIters r ON l.doc_id = r.doc_id)""".stripMargin

  // ---------------------------------------------------- graph_triangles
  /** Per-node triangle counts over the near-dup pair graph — the
    * transitivity/clustering-coefficient numerator. On a dup graph this
    * measures how CLIQUE-LIKE clusters are: near-duplicate is not a
    * transitive relation, so a cluster formed by chaining (A~B, B~C
    * without A~C) has low triangle density, and triangle counts
    * distinguish genuine replica groups from chain-collapse — the
    * standard audit before trusting CC output at 100 TB.
    *
    * The Spark plan is the degree-ordered "compact-forward" algorithm
    * (Suri & Vassilvitskii's MR-triangle shape): orient every
    * undirected edge from its lower to its higher endpoint under the
    * total order (degree, id), enumerate wedges by self-joining
    * oriented edges on their source, and close each wedge with one join
    * back against the oriented edge set. Orientation bounds out-degree
    * by O(sqrt(E)), so the wedge fan-out is sum(outdeg^2) = O(E^1.5)
    * worst-case instead of sum(deg^2) — a supernode (boilerplate hub in
    * a dup graph) generates NO wedges from itself because all its edges
    * point INTO it. The oracle enumerates triangles in the
    * orientation-free a<b<c form: the triangle SET is identical, so the
    * per-node counts hash-match while the plans differ — the oracle may
    * be O(sum deg^2); the Spark side must not be.
    *
    * Both joins key on node ids (high cardinality); the only skew risk
    * is a hot oriented-edge source, bounded by the O(sqrt(E)) out-degree
    * cap that orientation provides. No windows anywhere. */
  def graphTriangles(s: SparkSession, dir: String): DataFrame =
    trianglesOver(graft.Tables.documents(s, dir).select(col("doc_id")),
      Dedup.dedupSimhashPairs(s, dir).select(col("da"), col("db")))

  /** The count over any node set (doc_id) and canonical undirected pair
    * list (da, db) with da < db, no duplicates. */
  private[graft] def trianglesOver(nodes: DataFrame, rawPairs: DataFrame): DataFrame = {
    val pairs = graft.Graft.compactCheckpoint(rawPairs) // feeds 3 scans below
    val deg = Dedup.symmetrize(pairs)
      .groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val withDeg = pairs
      .join(deg.select(col("src").as("da"), col("deg").as("dega")), Seq("da"))
      .join(deg.select(col("src").as("db"), col("deg").as("degb")), Seq("db"))
    // orient low (deg, id) -> high (deg, id); keys carried as structs so
    // the wedge inequality and the closing join compare the total order
    val ka = struct(col("dega").as("d"), col("da").as("id"))
    val kb = struct(col("degb").as("d"), col("db").as("id"))
    val oriented = graft.Graft.compactCheckpoint(withDeg.select(
        when(ka < kb, struct(ka.as("sk"), kb.as("dk")))
          .otherwise(struct(kb.as("sk"), ka.as("dk"))).as("e"))
      .select(col("e.sk").as("sk"), col("e.dk").as("dk")))
      // scanned twice (wedge self-join + closing join)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.sk") === col("e2.sk") && col("e1.dk") < col("e2.dk"))
      .select(col("e1.sk").as("ak"), col("e1.dk").as("bk"), col("e2.dk").as("ck"))
    val tris = wedges.join(oriented.as("e3"),
        col("bk") === col("e3.sk") && col("ck") === col("e3.dk"))
      .select(col("ak.id").as("a"), col("bk.id").as("b"), col("ck.id").as("c"))
    val roles = tris.select(col("a").as("doc_id"))
      .unionAll(tris.select(col("b").as("doc_id")))
      .unionAll(tris.select(col("c").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("tri_cnt"))
    nodes.join(roles, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"))
  }

  /** Orientation-free twin: with da<db canonical pairs, each triangle
    * {a<b<c} appears exactly once as (e1=(a,b), e2=(b,c), e3=(a,c)). */
  lazy val graphTrianglesSql: String =
    s"""WITH shp AS MATERIALIZED (${Dedup.dedupSimhashPairsSql}),
       |e AS MATERIALIZED (SELECT da AS u, db AS v FROM shp),
       |tri AS MATERIALIZED (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM e e1
       |  JOIN e e2 ON e2.u = e1.v
       |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
       |roles AS (
       |  SELECT a AS doc_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri),
       |cnt AS (SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n FROM roles GROUP BY 1)
       |SELECT d.doc_id, COALESCE(cnt.n, 0) AS tri_cnt
       |FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id""".stripMargin

  // ---------------------------------------------------- graph_jaccard
  /** Wedge centers above this degree are EXCLUDED from common-neighbor
    * enumeration — the count-first df-cap discipline applied to link
    * prediction: a boilerplate hub with 10⁶ neighbors would fan out
    * 10¹² wedges while carrying ~zero Jaccard signal (its presence in
    * N(u)∩N(v) says "both touch the hub", not "u and v are alike").
    * With the cap, \|wedges\| ≤ Σ_{deg≤D} deg² ≤ D·E — linear in edges. */
  val JacMaxCenterDeg = 32
  /** Minimum common-neighbor count for a reported candidate link. */
  val JacMinCommon = 2

  /** Link prediction by neighborhood overlap (Liben-Nowell &
    * Kleinberg 2003) over the near-dup pair graph: for node pairs NOT
    * directly connected, the count of shared LOW-DEGREE neighbors and
    * the Jaccard coefficient \|N(u)∩N(v)\| / \|N(u)∪N(v)\| in ppm. On a
    * dup graph this is the "missed pair" auditor — two docs that share
    * [[JacMinCommon]]+ near-dup neighbors but no direct edge are a
    * likely banding miss (the same reading `dedup_recall_eval`
    * quantifies globally, here localized to concrete candidates).
    *
    * Plan: degree census (map-side combined) → filter centers ≤
    * [[JacMaxCenterDeg]] (count FIRST, never collect) → wedge
    * self-join on the center → (u,v) partial-agg count → LEFT ANTI
    * against the edge list → degree join + one integer division.
    * The numerator restriction to low-degree commons makes the
    * reported coefficient a documented LOWER BOUND; the denominator
    * uses full degrees. No windows, no collects. */
  def graphJaccard(s: SparkSession, dir: String): DataFrame =
    jaccardOver(Dedup.dedupSimhashPairs(s, dir).select(col("da"), col("db")))

  /** Over any canonical (da < db, distinct) undirected pair list. */
  private[graft] def jaccardOver(rawPairs: DataFrame): DataFrame = {
    val pairs = graft.Graft.compactCheckpoint(rawPairs) // feeds sym + anti-join
    val sym = Dedup.symmetrize(pairs)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val centers = deg.where(col("deg") <= JacMaxCenterDeg)
      .select(col("src"))
    val adj = sym.join(centers, Seq("src"))
    val wedges = adj.as("e1").join(adj.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("v"))
    val common = wedges.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= JacMinCommon)
    val unlinked = common.join(pairs,
        col("u") === col("da") && col("v") === col("db"), "left_anti")
    unlinked
      .join(deg.select(col("src").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("src").as("v"), col("deg").as("dv")), Seq("v"))
      .select(col("u").as("da"), col("v").as("db"), col("common"),
        expr("1000000 * common div (du + dv - common)")
          .cast("long").as("jaccard_ppm"))
  }

  /** Twin: the identical census → cap → wedge → anti-join chain. */
  lazy val graphJaccardSql: String =
    s"""WITH shp AS MATERIALIZED (${Dedup.dedupSimhashPairsSql}),
       |e AS MATERIALIZED (SELECT da AS u, db AS v FROM shp),
       |sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |deg AS (SELECT u AS n, CAST(COUNT(1) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |adj AS (
       |  SELECT s.u AS c, s.v AS x
       |  FROM sym s JOIN deg d ON s.u = d.n
       |  WHERE d.deg <= $JacMaxCenterDeg),
       |cm AS (
       |  SELECT a.x AS u, b.x AS v, CAST(COUNT(1) AS BIGINT) AS common
       |  FROM adj a JOIN adj b ON a.c = b.c AND a.x < b.x
       |  GROUP BY 1, 2
       |  HAVING COUNT(1) >= $JacMinCommon),
       |ne AS (
       |  SELECT cm.u, cm.v, cm.common
       |  FROM cm LEFT JOIN e ON cm.u = e.u AND cm.v = e.v
       |  WHERE e.u IS NULL)
       |SELECT ne.u AS da, ne.v AS db, ne.common,
       |       CAST(1000000 * ne.common // (du.deg + dv.deg - ne.common) AS BIGINT) AS jaccard_ppm
       |FROM ne
       |JOIN deg du ON ne.u = du.n
       |JOIN deg dv ON ne.v = dv.n""".stripMargin

  // ---------------------------------------------------- graph_bfs
  /** Fixed BFS round count (unrolled in the oracle) — also the max
    * reported hop distance; farther nodes stay at [[BfsInf]]. */
  val BfsIters = 5

  /** "Unreached" sentinel distance. */
  val BfsInf = 9999L

  /** Seed predicate for the gate: doc_id ≡ 0 (mod 10) plays the
    * curated / known-contaminated set. */
  val BfsSeedMod = 10

  /** Multi-source BFS over the near-dup pair graph — provenance
    * distance from a SEED set: for every doc, the hop distance to the
    * nearest seed and WHICH seed (smallest seed id among equidistant
    * ones — the deterministic tie-break that makes an oracle
    * possible). The LLM-pipeline reading is benchmark-contamination
    * blast radius: seeds are known benchmark docs, and a doc 2 hops
    * away in the near-dup graph is a paraphrase-of-a-paraphrase the
    * direct n-gram decontaminator no longer sees.
    *
    * One round is one FRONTIER edge join + a struct-MIN partial
    * aggregation on dst (the [[labelPropagationPrepared]] argmax idiom
    * — no window, supernode contributions combine map-side) + a join
    * back onto the localCheckpointed state. Only rows whose
    * (dist, seed) improved last round relax their out-edges — delta
    * propagation; the inline note argues round-for-round equality with
    * the full relaxation the oracle unrolls. Exactly [[BfsIters]]
    * rounds run: distances beyond the cap report [[BfsInf]]/-1, the
    * "outside the blast radius" verdict.
    */
  def bfsOver(s: SparkSession, nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame): DataFrame = {
    val (state, _, _) = bfsState(s, nodes, edges, seeds)
    state.select(col("doc_id"), col("dist"), col("seed").as("seed_id"),
      (col("dist") < BfsInf).cast("int").as("reached"))
  }

  /** The [[BfsIters]]-round loop, exposing (state, final frontier, sym)
    * so the convergence canary can probe one round past the cap. */
  private def bfsState(s: SparkSession, nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val nd = graft.Graft.compactCheckpoint(nodes.select(col("doc_id")))
    val sym = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    // round state = bfsRound's output; the seeds are round 0's improved
    val init = graft.Graft.compactCheckpoint(
      nd.join(seeds.select(col("doc_id"), lit(true).as("is_seed")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("is_seed").isNotNull.as("improved"),
          when(col("is_seed"), lit(0L)).otherwise(lit(BfsInf)).as("dist"),
          when(col("is_seed"), col("doc_id")).otherwise(lit(-1L)).as("seed")))
    // DELTA propagation: only rows whose (dist, seed) CHANGED last
    // round relax their out-edges. A settled node's contribution was
    // folded into its neighbors the round it changed, and min is
    // idempotent — so the per-round state equals the full-relax
    // oracle's exactly, while each round's edge join touches only the
    // frontier's out-edges (full-relax re-shuffles ~O(E) per round on
    // a dense graph once most nodes are reached).
    def state(merged: DataFrame) = merged.select(col("doc_id"), col("dist"), col("seed"))
    def frontier(merged: DataFrame) = state(merged.where(col("improved")))
    val merged = graft.Graft.iterate(init, BfsIters) { merged =>
      bfsRound(state(merged), frontier(merged), sym)
    }.state
    (state(merged), frontier(merged), sym)
  }

  /** Convergence canary for the fixed round cap: the number of rows a
    * (BfsIters+1)-th round would still improve — ONE extra frontier
    * join, frontier-bounded like every other round. 0 means the cap
    * reached the true fixpoint at this SF, so `reached = 0` genuinely
    * means "outside the blast radius", not "propagation truncated
    * mid-flight". GraphsSpec asserts 0 at both fixture SFs — a
    * deeper-than-cap graph at a new scale fails the suite loudly
    * instead of silently shipping cap-truncated distances (the
    * mm_phash_cc diameter lesson, generalized). */
  private[graft] def bfsResidual(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, seeds: DataFrame): Long = {
    val (state, frontier, sym) = bfsState(s, nodes, edges, seeds)
    bfsRound(state, frontier, sym).where(col("improved")).count()
  }

  /** [[bfsResidual]] over exactly the [[graphBfs]] gate's graph. */
  private[graft] def graphBfsResidual(s: SparkSession, dir: String): Long = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"))
    bfsResidual(s, docs,
      Dedup.symmetrize(Dedup.dedupSimhashPairs(s, dir).select(col("da"), col("db"))),
      docs.where(col("doc_id") % BfsSeedMod === 0))
  }

  /** ONE un-materialized BFS round (frontier relax + min-merge with a
    * per-row `improved` flag) — split out so PlanSpec can assert the
    * round's plan shape (the loop localCheckpoints each round, which
    * cuts the visible plan at the checkpoint). */
  private[graft] def bfsRound(state: DataFrame, frontier: DataFrame,
      sym: DataFrame): DataFrame = {
    val cand = frontier
      .join(sym, col("doc_id") === col("src"))
      .groupBy(col("dst"))
      .agg(min(struct((col("dist") + 1).as("dist"), col("seed").as("seed"))).as("c"))
    state.join(cand, col("doc_id") === col("dst"), "left")
      .withColumn("cc", coalesce(col("c"),
        struct(lit(BfsInf).as("dist"), lit(-1L).as("seed"))))
      .withColumn("improved",
        col("cc") < struct(col("dist").as("dist"), col("seed").as("seed")))
      .select(col("doc_id"), col("improved"),
        when(col("improved"), col("cc.dist")).otherwise(col("dist")).as("dist"),
        when(col("improved"), col("cc.seed")).otherwise(col("seed")).as("seed"))
  }

  // ---------------------------------------------------- graph_kcore
  /** Core order (minimum within-core degree) and fixed peel rounds. */
  val KCoreK = 2
  val KCoreRounds = 4

  /** k-core peeling over the near-dup pair graph — the structural
    * audit between [[graphTriangles]] (local transitivity) and CC
    * (mere reachability): a node is in the k-core iff it keeps ≥ k
    * neighbors after everyone below k is recursively removed, so
    * chain-collapse artifacts (degree-2 paths) peel away while true
    * replica cliques survive intact. Exactly [[KCoreRounds]] peel
    * rounds run (the unrolled-oracle contract — the fixed budget
    * bounds peel DEPTH, which on a near-dup graph is the longest
    * chain, not corpus size; DedupSpec-style fixtures converge in 2).
    *
    * One round = one edge join against the alive set (both endpoints)
    * + a partial-agg degree count + a filter — no window, supernode
    * in-degrees combine map-side; alive state localCheckpoints like
    * every round loop in this family. Output: every doc with
    * `in_core` and its within-core degree (0 outside). */
  def kcoreOver(s: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    val nd = graft.Graft.compactCheckpoint(nodes.select(col("doc_id")))
    val sym = edges.select(col("src"), col("dst"))
      .repartition(col("src")).localCheckpoint()
    def aliveDeg(alive: DataFrame): DataFrame =
      sym
        .join(alive.select(col("doc_id").as("src")), Seq("src"))
        .join(alive.select(col("doc_id").as("dst")), Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("deg"))
    // nd is iterate's initial state, never released: the output
    // join below still reads it
    val alive = graft.Graft.iterate(nd, KCoreRounds) { alive =>
      aliveDeg(alive).where(col("deg") >= KCoreK).select(col("doc_id"))
    }.state
    val coreDeg = aliveDeg(alive)
    nd.join(alive.withColumn("in_core", lit(1)), Seq("doc_id"), "left")
      .join(coreDeg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("in_core"), lit(0)).as("in_core"),
        coalesce(col("deg"), lit(0L)).as("core_deg"))
  }

  /** Gate: the [[KCoreK]]-core of the SimHash pair graph. */
  def graphKcore(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"))
    kcoreOver(s, docs,
      Dedup.symmetrize(Dedup.dedupSimhashPairs(s, dir).select(col("da"), col("db"))))
  }

  /** Unrolled peel rounds; the final degree pass reuses the same
    * alive-restricted count. */
  lazy val graphKcoreSql: String = {
    def degCte(name: String, alive: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT e.src AS doc_id, CAST(COUNT(1) AS BIGINT) AS deg
         |  FROM sym e
         |  JOIN $alive s ON e.src = s.doc_id
         |  JOIN $alive t ON e.dst = t.doc_id
         |  GROUP BY 1)""".stripMargin
    val rounds = (1 to KCoreRounds).map { k =>
      s"""${degCte(s"d$k", s"a${k - 1}")},
         |a$k AS MATERIALIZED (SELECT doc_id FROM d$k WHERE deg >= $KCoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH shp AS MATERIALIZED (${Dedup.dedupSimhashPairsSql}),
       |sym AS MATERIALIZED (SELECT da AS src, db AS dst FROM shp
       |        UNION ALL SELECT db AS src, da AS dst FROM shp),
       |nodes AS MATERIALIZED (SELECT doc_id FROM documents),
       |a0 AS MATERIALIZED (SELECT doc_id FROM nodes),
       |$rounds,
       |${degCte("dfinal", s"a$KCoreRounds")}
       |SELECT n.doc_id,
       |       CAST(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_core,
       |       COALESCE(d.deg, 0) AS core_deg
       |FROM nodes n
       |LEFT JOIN a$KCoreRounds a ON n.doc_id = a.doc_id
       |LEFT JOIN dfinal d ON n.doc_id = d.doc_id""".stripMargin
  }

  /** Gate: blast radius of the mod-[[BfsSeedMod]] seed set over the
    * SimHash pair graph (the [[graphPagerank]] edge set). */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"))
    bfsOver(s, docs,
      Dedup.symmetrize(Dedup.dedupSimhashPairs(s, dir).select(col("da"), col("db"))),
      docs.where(col("doc_id") % BfsSeedMod === 0))
  }

  /** Unrolled rounds: per round candidate distances from the reached
    * frontier, a ROW_NUMBER argmin (dist, seed), and a guarded merge —
    * the same lexicographic (dist, seed) order as the struct-min. */
  lazy val graphBfsSql: String = {
    val rounds = (1 to BfsIters).map { k =>
      val prev = s"b${k - 1}"
      s"""cand$k AS MATERIALIZED (
         |  SELECT e.dst, p.dist + 1 AS dist, p.seed
         |  FROM $prev p JOIN sym e ON p.doc_id = e.src
         |  WHERE p.dist < $BfsInf),
         |best$k AS MATERIALIZED (
         |  SELECT dst, dist, seed FROM (
         |    SELECT dst, dist, seed,
         |           ROW_NUMBER() OVER (PARTITION BY dst ORDER BY dist, seed) AS rn
         |    FROM cand$k) WHERE rn = 1),
         |b$k AS MATERIALIZED (
         |  SELECT p.doc_id,
         |         CASE WHEN c.dst IS NOT NULL AND (c.dist < p.dist
         |                   OR (c.dist = p.dist AND c.seed < p.seed))
         |              THEN c.dist ELSE p.dist END AS dist,
         |         CASE WHEN c.dst IS NOT NULL AND (c.dist < p.dist
         |                   OR (c.dist = p.dist AND c.seed < p.seed))
         |              THEN c.seed ELSE p.seed END AS seed
         |  FROM $prev p LEFT JOIN best$k c ON p.doc_id = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH shp AS MATERIALIZED (${Dedup.dedupSimhashPairsSql}),
       |sym AS MATERIALIZED (SELECT da AS src, db AS dst FROM shp
       |        UNION ALL SELECT db AS src, da AS dst FROM shp),
       |nodes AS MATERIALIZED (SELECT doc_id FROM documents),
       |b0 AS MATERIALIZED (
       |  SELECT doc_id,
       |         CAST(CASE WHEN doc_id % $BfsSeedMod = 0 THEN 0 ELSE $BfsInf END AS BIGINT) AS dist,
       |         CAST(CASE WHEN doc_id % $BfsSeedMod = 0 THEN doc_id ELSE -1 END AS BIGINT) AS seed
       |  FROM nodes),
       |$rounds
       |SELECT doc_id, dist, seed AS seed_id,
       |       CAST(dist < $BfsInf AS INT) AS reached
       |FROM b$BfsIters""".stripMargin
  }
}
