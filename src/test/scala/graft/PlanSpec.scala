package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._

/** Physical-plan quality gates: the properties that make these queries
  * scale (pushdown, pruning, broadcast, partial aggregation, top-k
  * short-circuit) asserted on the actual Catalyst output, so a
  * regression in plan shape fails CI even while results stay correct.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.sparkPlan
  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    plan(df).collect { case f: FileSourceScanExec => f }

  test("q2: filters push down to the parquet scan; columns pruned") {
    val sc = scans(Relational.q2SelectiveAgg(spark, dir))
    assert(sc.nonEmpty)
    val meta = sc.head.metadata
    assert(meta("PushedFilters").contains("l_shipdate"),
      s"shipdate filter must reach parquet: ${meta("PushedFilters")}")
    assert(meta("PushedFilters").contains("l_quantity"))
    val readSchema = meta("ReadSchema")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_returnflag"),
      s"unused columns must be pruned: $readSchema")
  }

  test("q1: aggregation is partial (map-side) before the shuffle") {
    val aggs = plan(Relational.q1Agg(spark, dir))
      .collect { case h: HashAggregateExec => h }
    assert(aggs.size >= 2, "expect partial+final HashAggregate pair")
  }

  test("q7: dimension join is broadcast, not shuffled") {
    val p = plan(Relational.q7BroadcastJoin(spark, dir))
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      "part table must broadcast")
  }

  test("q6: all four dimension tables broadcast") {
    val p = plan(Relational.q6MultiJoin(spark, dir))
    assert(p.collect { case b: BroadcastHashJoinExec => b }.size >= 4)
  }

  test("q10: global top-k plans as TakeOrderedAndProject, not full sort") {
    val p = plan(Relational.q10TopK(spark, dir))
    assert(p.collect { case t: TakeOrderedAndProjectExec => t }.nonEmpty)
  }

  test("q4: semi join plans as LeftSemi (no dedup shuffle)") {
    val txt = plan(Relational.q4SemiJoin(spark, dir)).toString
    assert(txt.contains("LeftSemi"), s"expected LeftSemi join:\n$txt")
  }

  test("mr_wc: token count aggregates partially before the shuffle") {
    val aggs = plan(MrQueries.mrWc(spark, dir))
      .collect { case h: HashAggregateExec => h }
    assert(aggs.size >= 2, "explode->count must partial-aggregate map-side")
  }

  test("dedup_exact: min-id keeper aggregates, no window over fp_norm") {
    // a mega-duplicate-group must never serialize into one window task:
    // the keeper is a partial-combined min + an AQE-splittable join-back
    val p = plan(graft.operators.Dedup.dedupExact(spark, dir))
    val txt = p.toString
    assert(!txt.contains("windowspecdefinition"),
      s"keeper must not window over fp_norm:\n$txt")
    assert(txt.contains("partial_min"),
      s"keeper min must partial-aggregate map-side:\n$txt")
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.size <= 2, s"keeper agg + join-back only:\n$p")
  }

  test("mm_dedup / graph_canonical: per-group keeper stats aggregate, no window over the group key") {
    // same skew argument as dedup_exact: duplicate groups and connected
    // components are unbounded at corpus scale (boilerplate), so the
    // canonical/size computations must be aggregate + join-back, never
    // a window over checksum / cluster_id
    val mmTxt = plan(graft.multimodal.Media.mmDedup(spark, dir)).toString
    assert(!mmTxt.contains("windowspecdefinition"),
      "mm_dedup keeper must not window over the checksum")
    assert(mmTxt.contains("partial_min"),
      "mm_dedup keeper min must partial-aggregate map-side")
    import spark.implicits._
    val members = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 3L, 5L))
      .toDF("doc_id", "cluster_id", "pr_scaled")
    val gcTxt = plan(graft.operators.Graphs.canonicalOver(members)).toString
    assert(!gcTxt.contains("windowspecdefinition"),
      "graph_canonical argmax/size must not window over cluster_id")
    assert(gcTxt.contains("partial_min") && gcTxt.contains("partial_count"),
      "graph_canonical per-cluster stats must partial-aggregate map-side")
  }

  test("pii_mask / denylist scrub: pure per-row plans — zero shuffles") {
    def exchanges(df: DataFrame): Int =
      plan(df).collect { case e if e.getClass.getSimpleName.startsWith("ShuffleExchange") => e }.size
    assert(exchanges(Cleaning.piiMask(spark, dir)) == 0)
    assert(exchanges(Cleaning.taDenylistScrub(spark, dir)) == 0)
    // the Gopher rule bundle is the pre-filter that must run at scan
    // speed: per-row expressions only, nothing may introduce a shuffle
    assert(exchanges(TextAnalysis.taGopherRules(spark, dir)) == 0)
  }

  test("decontaminate: benchmark gram set broadcasts; the corpus side never shuffles to the probe") {
    val p = plan(Cleaning.taDecontaminate(spark, dir))
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"benchmark grams must broadcast:\n$p")
  }

  test("sample_mixture: rate table broadcasts; the corpus side never shuffles") {
    val p = plan(CorpusOps.sampleMixture(spark, dir))
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"per-language rates must broadcast to the corpus scan:\n$p")
    // shuffles exist only under the tiny census branch (lang agg +
    // global count); the kept-rows side is scan → broadcast-join filter
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.size <= 2, s"only census aggregations may shuffle:\n$p")
  }

  test("ta_tfidf: the token pipeline materializes ONCE (df branch reuses the tf exchange)") {
    // run to let AQE finalize, then read the executed plan: the tf
    // aggregate's repartition-on-term must be consumed by BOTH the df
    // branch and the scored join via ReusedExchange — i.e. exactly one
    // text-reading scan of documents executes (the n_docs census scan
    // reads zero columns and doesn't count)
    val q = CorpusOps.taTfidf(spark, dir)
    q.collect()
    val executed = q.queryExecution.executedPlan
    val nodes = collectAdaptive(executed)
    val textScans = nodes.collect {
      case f: FileSourceScanExec
        if f.metadata("Location").contains("documents") &&
           f.metadata("ReadSchema").contains("text") => f
    }
    assert(textScans.size == 1,
      s"token pipeline must execute once, found ${textScans.size} text scans:\n$executed")
    assert(nodes.exists(_.getClass.getSimpleName.startsWith("ReusedExchange")),
      s"df branch must reuse the tf exchange:\n$executed")
  }

  /** Walk an adaptive executed plan including materialized query stages. */
  private def collectAdaptive(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = p match {
      case a: AdaptiveSparkPlanExec => collectAdaptive(a.executedPlan)
      case q: QueryStageExec => q +: collectAdaptive(q.plan)
      case other => other +: other.children.flatMap(collectAdaptive)
    }
    here ++ p.subqueries.flatMap(collectAdaptive)
  }

  test("sample_domain_cap: partial top-K state before the one exchange; 2-column scan") {
    val p = plan(CorpusOps.sampleDomainCap(spark, dir))
    // the whole point of the aggregate form: the shuffle input is the
    // map-side-combined partial state (≤ K keys per partition per
    // group), never the raw corpus rows
    assert(p.toString.contains("partial_topkagg"),
      s"top-K must partial-aggregate before the exchange:\n$p")
    // sparkPlan precedes EnsureRequirements, so exchanges may not be
    // materialized yet — the bound proves no EXTRA shuffle was planned
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    assert(exchanges.size <= 1, s"one aggregation exchange only:\n$p")
    val rs = scans(CorpusOps.sampleDomainCap(spark, dir)).head.metadata("ReadSchema")
    assert(!rs.contains("text"), s"text column must be pruned: $rs")
  }

  test("ta_quantile_eval sketch side: partial quantileagg before one exchange, text+lang scan") {
    // the PRODUCTION path (sketch aggregation alone), as a frame:
    // assert the mergeable partial state combines map-side
    import org.apache.spark.sql.functions._
    val vals = Tables.documents(spark, dir).select(
      col("lang"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long").as("v"))
    val qa = udaf(HeavyHitters.quantileAgg)
    val sketch = vals.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), qa(col("v")).as("sk"))
    val p = plan(sketch)
    assert(p.toString.contains("partial_quantileagg"),
      s"sketch must partial-aggregate before the exchange:\n$p")
    assert(p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size <= 1, s"one exchange for the sketch pass:\n$p")
  }

  test("graph_communities: no cartesian products; rounds join the positioned edge list") {
    val p = plan(Graphs.graphCommunities(spark, dir))
    val cart = p.collect {
      case c if c.getClass.getSimpleName.contains("Cartesian") => c
    }
    assert(cart.isEmpty, s"LPA must never plan a cartesian product:\n${p.toString.take(2000)}")
    // community_size via aggregate + join-back, never a window over the
    // community key (one-task-per-mega-community)
    assert(!p.toString.contains("windowspecdefinition(community_id"),
      "community_size must not window over community_id")
  }

  test("q3: only needed lineitem columns are read") {
    val sc = scans(Relational.q3JoinTopk(spark, dir))
      .filter(_.metadata("Location").contains("lineitem"))
    assert(sc.nonEmpty)
    val readSchema = sc.head.metadata("ReadSchema")
    assert(!readSchema.contains("l_quantity") && !readSchema.contains("l_tax"),
      s"q3 must not read unused lineitem columns: $readSchema")
  }

  test("dedup_ngram / containment: df cap COUNTS before posting lists collect") {
    // the OOM-class hazard this pins: collect_list has no partial-
    // aggregation cap, so collecting THEN filtering size(ds) <= MaxDf
    // builds a stop-shingle's full posting list (df-length array) in one
    // aggregation buffer. The safe order counts df first (partial_count
    // combines map-side), semi-joins the shingle stream against the kept
    // keys, and only then collects — every collect_list subtree must
    // therefore contain the LeftSemi join and a partial count aggregate.
    def assertCountsBeforeCollect(df: DataFrame, name: String): Unit = {
      val collects = plan(df).collect {
        case a if a.getClass.getSimpleName.startsWith("ObjectHashAggregate") &&
          a.toString.contains("collect_list") => a
      }
      assert(collects.nonEmpty, s"$name: expected a collect_list aggregate")
      collects.foreach { c =>
        val sub = c.toString
        assert(sub.contains("LeftSemi"),
          s"$name: posting-list collect must sit above the df-kept semi-join:\n$sub")
        assert(sub.contains("partial_count"),
          s"$name: df must partial-count below the collect:\n$sub")
      }
    }
    assertCountsBeforeCollect(Dedup.dedupNgram(spark, dir), "dedup_ngram")
    assertCountsBeforeCollect(Dedup.dedupContainment(spark, dir), "dedup_containment")
  }

  test("band-bucket / cell caps partial-aggregate; no window over a bucket key") {
    // the skew hazard this pins: row_number() over (band/cell) lands a
    // hot bucket's every member in ONE window task (AQE cannot split
    // window partitions); the TopKAgg form caps each partition's
    // shuffle contribution at K ids
    def check(df: DataFrame, name: String, bucketCols: Seq[String]): String = {
      val txt = plan(df).toString
      assert(txt.contains("partial_topkagg"),
        s"$name: bucket cap must partial-aggregate before the exchange")
      bucketCols.foreach { c =>
        assert(!txt.contains(s"windowspecdefinition($c"),
          s"$name: no window may partition on the bucket key $c")
      }
      txt
    }
    check(Dedup.dedupMinhash(spark, dir), "dedup_minhash", Seq("band_id"))
    check(Dedup.dedupSimhashPairs(spark, dir), "dedup_simhash_pairs", Seq("band_id"))
    check(Dedup.dedupSemantic(spark, dir), "dedup_semantic", Seq("cell"))
    check(Similarity.simIvfTopk(spark, dir), "sim_ivf_topk", Seq("cell"))
    check(Similarity.simLshTopk(spark, dir), "sim_lsh_topk", Seq("band_id"))
    check(graft.multimodal.Media.mmPhashPairs(spark, dir), "mm_phash_pairs", Seq("band_id"))
    check(graft.multimodal.Media.mmAudioPairs(spark, dir), "mm_audio_pairs",
      Seq("n_frames", "band_id"))
    // the IVF-PQ cap carries the codes payload through the aggregate
    // (one pass, no join-back): its members are (id, codes) structs,
    // and the probe-to-cell join is the plan's only join
    val pq = Similarity.simIvfPqTopk(spark, dir)
    val pqTxt = check(pq, "sim_ivfpq_topk", Seq("cell"))
    assert("topkagg\\(vec_id#\\d+L?, codes#".r.findFirstIn(pqTxt).nonEmpty,
      s"sim_ivfpq_topk: the cap must carry the codes:\n$pqTxt")
    val joins = plan(pq).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size == 1, s"sim_ivfpq_topk: no join-back of the codes (${joins.size} joins):\n$pqTxt")
  }

  test("sample_importance: the log-ratio table broadcasts; no window in the scoring pipeline") {
    // assert on the PRE-checkpoint pipeline (the gate localCheckpoints
    // it, which cuts the visible plan at the checkpoint)
    import org.apache.spark.sql.functions.col
    val p = plan(CorpusOps.importanceScores(
      Tables.documents(spark, dir), col("source").isin("src1", "src2")))
    val txt = p.toString
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"the ~1K-row census must broadcast to the token stream:\n$txt")
    assert(!txt.contains("Window"), s"no window anywhere in the scoring plan:\n$txt")
  }

  test("snapshot_diff: one full-outer key join, keep rows filtered before any further exchange") {
    val p = plan(operators.Snapshots.snapshotDiff(spark, dir))
    val txt = p.toString
    assert(txt.contains("FullOuter"), "the diff IS the full-outer join")
    assert(!txt.contains("Window") && !txt.contains("CartesianProduct"))
  }

  test("ta_entropy: both aggregations are partial before their exchange; 2-column scan") {
    val df = CorpusOps.taEntropy(spark, dir)
    val aggs = plan(df).collect { case h: HashAggregateExec => h }
    assert(aggs.size >= 4, "both groupBys need partial+final pairs")
    val sc = scans(df)
    val read = sc.map(_.metadata("ReadSchema")).mkString
    assert(!read.contains("source") && !read.contains("lang"),
      s"entropy needs only doc_id+text: $read")
  }

  test("MRJob.runKV: one key-hashed exchange into nReduce partitions, no round-robin") {
    import spark.implicits._
    val input = Seq("a.txt" -> "x y x", "b.txt" -> "y z").toDS()
    val txt = graft.mr.MRJob.runKV(input, graft.mr.Apps.wcMap, graft.mr.Apps.wcReduce,
      nReduce = 7).queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(txt).length == 1, txt)
    assert("Exchange hashpartitioning\\(key#\\d+, 7\\)".r.findFirstIn(txt).isDefined, txt)
    assert(!txt.contains("RoundRobinPartitioning"), txt)
  }

  test("events_transitions: exactly one user-keyed exchange (the lag window's), no cartesian") {
    val prepared = Relational2.eventsTransitions(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!prepared.contains("CartesianProduct"))
    assert(prepared.contains("Window"), s"expected the lag window:\n$prepared")
    // the window is the ONLY operator keyed on user_id; the pair and
    // out-degree counts re-key on event types (tiny domains)
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(prepared).length
    assert(userExchanges == 1,
      s"expected exactly one user_id exchange, got $userExchanges:\n$prepared")
  }

  test("graph_bfs: a round's plan (pre-checkpoint) joins the frontier, no cartesian, partial min") {
    // assert on ONE un-materialized round: the loop localCheckpoints
    // each round, so the gate query's own plan stops at the checkpoint
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when}
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val state = nodes.select(col("doc_id"),
      when(col("doc_id") === 1L, lit(0L)).otherwise(lit(Graphs.BfsInf)).as("dist"),
      when(col("doc_id") === 1L, col("doc_id")).otherwise(lit(-1L)).as("seed"))
    val frontier = state.where(col("dist") === 0L)
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val p = plan(Graphs.bfsRound(state, frontier, sym))
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no cartesian in a BFS round:\n$p")
    // min over a STRUCT cannot use hash aggregation — it plans as
    // Sort/ObjectHashAggregate — so match the common base class
    val aggs = p.collect {
      case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => h
    }
    assert(aggs.size >= 2,
      s"the struct-min must partial-aggregate before its exchange:\n$p")
  }

  test("er_pairs: name contraction partial-aggregates; no cartesian; 2-column scan") {
    val p = plan(graft.operators.EntityResolution.erPairs(spark, dir))
    val txt = p.toString
    // the distinct-name contraction must combine map-side — at scale
    // the raw record stream never crosses the wire. (Catalyst prunes
    // the unused min(k) representative and the p_partkey column out of
    // this path entirely — the pairs gate reads ONE column.)
    assert(txt.contains("partial_count"),
      s"contraction must partial-aggregate:\n$txt")
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"no cartesian in blocked ER:\n$txt")
    val rs = scans(graft.operators.EntityResolution.erPairs(spark, dir))
      .head.metadata("ReadSchema")
    assert(rs.contains("p_name") && !rs.contains("p_partkey") &&
      !rs.contains("p_type") && !rs.contains("p_retailprice"),
      s"only the name column may be read: $rs")
  }

  test("skyline: one shuffle total (the candidate repartition); census broadcasts") {
    val p = plan(graft.operators.Skyline.q44Skyline(spark, dir))
    val exchanges = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }
    // local frontiers → repartition(1) is the ONLY shuffle of point
    // data; the dominance census joins via broadcast, and the final
    // n_dominated aggregation groups the already-tiny frontier
    assert(p.collect {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }.isEmpty, s"census must broadcast, not cartesian:\n$p")
    assert(p.toString.contains("BroadcastNestedLoopJoin"),
      s"dominance census must be a broadcast nested-loop join:\n$p")
    assert(exchanges.size <= 3, s"frontier shuffle + census agg only:\n$p")
  }

  test("stream_kmeans state: (Σ, n) partial-aggregates before one exchange") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val p = plan(graft.operators.KMeans.cellStateOf(emb,
      graft.operators.KMeans.frozenSeeds(spark, dir)))
    assert(p.toString.contains("partial_sum") && p.toString.contains("partial_count"),
      s"cell state must combine map-side:\n$p")
    assert(p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size <= 1, s"one state exchange only:\n$p")
  }

  test("keyed sketch batch states: ONE mergeable aggregation each, partial before the exchange") {
    // a batch's cost must be one scan + one combine no matter the
    // history size — the property that makes the streaming fold linear
    val docs = Tables.documents(spark, dir)
    val hll = plan(graft.streaming.SketchStream.hllRegsOf(docs))
    assert(hll.toString.contains("partial_hllagg"),
      s"HLL registers must combine map-side:\n$hll")
    val qnt = plan(graft.streaming.SketchStream.quantileStateOf(docs))
    assert(qnt.toString.contains("partial_quantileagg"),
      s"quantile counters must combine map-side:\n$qnt")
    for ((p, n) <- Seq((hll, "hll"), (qnt, "quantile")))
      assert(p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.size <= 1, s"$n: one state exchange only:\n$p")
  }

  test("vocab_coverage: dict broadcasts to the held-out stream (no corpus re-key)") {
    val p = plan(Tokenizer.vocabCoverage(spark, dir))
    assert(p.collect { case b: BroadcastHashJoinExec => b }.nonEmpty,
      s"the V-row dictionary must broadcast:\n$p")
  }

  test("corpus_rank: the corpus-side window is bucket-partitioned; unpartitioned windows see only the census") {
    // the operator's entire reason to exist: ROW_NUMBER over everything
    // is one task; here the only unpartitioned window must sit above
    // the 256-row bucket census (an aggregate), never above the scan
    val p = plan(CorpusOps.corpusRank(spark, dir))
    val wins = p.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(wins.nonEmpty)
    for (w <- wins if w.partitionSpec.isEmpty) {
      val aggBelow = w.collect {
        case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => h
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window must ride the bucket census, not the corpus:\n$p")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      s"the corpus rank window must partition by bucket:\n$p")
  }

  test("graph_jaccard / events_dau: no cartesian; dau windows only the day curve") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    def noCartesian(df: DataFrame, name: String): Unit = {
      val p = plan(df)
      assert(p.collect {
        case c: CartesianProductExec => c
        case b: BroadcastNestedLoopJoinExec => b
      }.isEmpty, s"$name must not plan a cartesian:\n$p")
    }
    noCartesian(Graphs.graphJaccard(spark, dir), "graph_jaccard")
    val dau = Relational2.eventsDau(spark, dir)
    noCartesian(dau, "events_dau")
    // the only window may be the |days|-row running sum: it must sort
    // on `day`, never partition by user
    val wins = plan(dau).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(wins.size == 1 && wins.head.partitionSpec.isEmpty,
      s"one unpartitioned curve window expected:\n${plan(dau)}")
  }

  test("q23 / dq_skew_report: exact percentiles ride the selection kernel, not a percentile() buffer") {
    // both queries route their exact tiers through Selection's two-pass
    // counting kernel: the RETURNED frame is a driver-assembled bounded
    // pivot (LocalRelation), and no single-aggregation-buffer
    // `percentile` survives anywhere in its lineage. A regression that
    // reintroduces the percentile() aggregate would surface here as a
    // non-local plan carrying the function name.
    for ((df, name) <- Seq(
        Relational.q23Stats(spark, dir) -> "q23_stats",
        Relational.dqSkewReport(spark, dir) -> "dq_skew_report")) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.toLowerCase.contains("percentile"),
        s"$name: single-buffer percentile aggregate crept back:\n$p")
      assert(p.contains("LocalRelation"),
        s"$name: expected a bounded driver-assembled result:\n$p")
    }
  }

  test("no exact-percentile consumer plans a percentile() buffer (rfm, anomaly, q31)") {
    // the remaining order-statistics consumers: fences/baselines come
    // from the selection kernel as literals or a tiny broadcast table;
    // only the mergeable approx_percentile sketch may appear in a plan
    for ((df, name) <- Seq(
        Relational2.eventsRfm(spark, dir) -> "events_rfm",
        Relational2.eventsAnomaly(spark, dir) -> "events_anomaly",
        Relational.q31ApproxPercentile(spark, dir) -> "q31_approx_pctile")) {
      val p = df.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!p.replace("approx_percentile", "").contains("percentile"),
        s"$name: single-buffer percentile aggregate crept back:\n$p")
    }
  }

  test("web family: decode/extract passes shuffle-free; frontier plans a real anti-join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    // the narrow passes: per-partition parse chains with ZERO exchanges
    for ((name, df) <- Seq(
        "web_warc_extract" -> graft.web.WebIngest.webWarcExtract(spark, dir),
        "web_links"        -> graft.web.WebIngest.webLinks(spark, dir),
        "web_boilerplate"  -> graft.web.WebIngest.webBoilerplate(spark, dir),
        "web_url_normalize" -> graft.web.WebIngest.webUrlNormalize(spark, dir),
        "web_charset"      -> graft.web.WebIngest.webCharset(spark, dir))) {
      assert(plan(df).collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"$name must stay a narrow map")
    }
    // link extraction reads exactly its three input columns
    assert(scans(graft.web.WebIngest.webLinks(spark, dir)).head
      .requiredSchema.fieldNames.toSet == Set("doc_id", "lang", "source"))
    // the frontier: a hash/merge LeftAnti on the normalized key, never
    // a nested-loop (a non-equi anti would be quadratic at 100 TB)
    val p = plan(graft.web.WebIngest.webFrontier(spark, dir))
    assert(p.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "frontier anti-join must be an equi-join")
    val anti = p.collect {
      case j: SortMergeJoinExec if j.joinType.sql == "LEFT ANTI" => j
      case j: ShuffledHashJoinExec if j.joinType.sql == "LEFT ANTI" => j
      case j: BroadcastHashJoinExec if j.joinType.sql == "LEFT ANTI" => j
    }
    assert(anti.nonEmpty, "frontier must plan a keyed anti-join")
  }

  test("feature family: join-backs broadcast; hashed cross is a pure narrow map") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // scaling and one-hot join the corpus against a bounded-domain
    // table: that join must broadcast, never re-key the corpus
    for ((name, df) <- Seq(
        "feat_scale"  -> Features.featScale(spark, dir),
        "feat_onehot" -> Features.featOnehot(spark, dir))) {
      val p = plan(df)
      assert(p.collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
        s"$name join-back must broadcast")
      assert(p.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"$name must not sort-merge the corpus")
    }
    // the hashing trick never shuffles at all
    assert(plan(Features.featHashedCross(spark, dir))
      .collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "feat_hashed_cross must stay a narrow map")
  }

  test("r11 codec/pack family: decode passes shuffle-free; pack and image-dedup stages bound their exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    // the per-row codec gates: one WARC/image per task, ZERO exchanges
    for ((name, df) <- Seq(
        "mm_gif"        -> graft.multimodal.Media.mmGif(spark, dir),
        "mm_gif_frames" -> graft.multimodal.Media.mmGifFrames(spark, dir),
        "mm_alaw"       -> graft.multimodal.Media.mmAlaw(spark, dir),
        "web_images"    -> graft.web.WebIngest.webImages(spark, dir))) {
      assert(plan(df).collect { case e: ShuffleExchangeExec => e }.isEmpty,
        s"$name must stay a narrow decode map")
      // and the scan reads only the two synthesis columns
      assert(scans(df).head.requiredSchema.fieldNames.toSet ==
        Set("doc_id", "n_chars"), s"$name scan must prune to the synthesis columns")
    }
    // stream_images: decode narrow; the fold/admission stages key on
    // the canonical-pixel md5 — equi-joins only, never a nested loop
    val si = plan(graft.streaming.ImageStream.streamImages(spark, dir))
    assert(si.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "stream_images admission must be an equi-join")
    // mm_pack_pairs: the only exchanges are the pair join and the
    // per-format pack windows — the decode subtree itself adds none
    // (window partition count is bounded by |fmt| streams, the
    // documented per-language operating point)
    val pp = plan(graft.multimodal.Media.mmPackPairs(spark, dir))
    assert(pp.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "mm_pack_pairs must not plan a nested-loop join")
    // stream_pack: the kernel's window is the only corpus exchange per
    // batch side; no cartesian anywhere
    val sp = plan(graft.streaming.PackStream.streamPack(spark, dir))
    assert(sp.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "stream_pack must not plan a nested-loop join")
    // sim_bitext: mining rides the capped IVF candidate chain — every
    // join is an equi-join (never all-pairs), like the rest of the
    // family
    val bt = plan(graft.operators.Similarity.simBitext(spark, dir))
    assert(bt.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      "sim_bitext must not plan a nested-loop join")
  }

  test("plan fingerprints are run-order-free under the bench's no-truncation configs") {
    // The r12 invariant: a query's fingerprint must not depend on how
    // many plans the session built before it. Pre-r12 it did — FileScan
    // metadata truncates at a RAW-text char budget, so exprId digit
    // width (a session-lifetime counter) shifted the cut point and
    // flipped fps of queries downstream of any added/changed gate.
    // Bench disables the truncation; this pins that under those configs
    // the fp is identical before and after thousands of exprIds are
    // burned by planning OTHER queries.
    val keys = Seq("spark.sql.maxMetadataStringLength" -> "100000",
      "spark.sql.debug.maxToStringFields" -> "10000")
    val saved = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def fp() = Bench.planFingerprint(
        SparkEntry.queries("dedup_ngram")(spark, dir))
      val before = fp()
      // burn exprIds: planning alone allocates them (no execution needed)
      (1 to 3).foreach { _ =>
        SparkEntry.queries("dedup_containment")(spark, dir)
          .queryExecution.executedPlan
        SparkEntry.queries("pack_bpe")(spark, dir)
          .queryExecution.executedPlan
      }
      assert(fp() === before,
        "fingerprint moved with session plan count — truncation (or a new " +
          "session-lifetime token) is leaking into the normalized plan text")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("persisting gates return the same rows with cached-plan coalescing on and off") {
    // the setting in Graft.applySettings changes only how many partitions a
    // persisted frame is cached in; one gate per persisting operator
    // family (dedup candidate and verify tables, incremental
    // components, entity resolution, the stream fold, skew report,
    // classifier features) must not see it in its rows
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val gates = Seq("dedup_containment", "dedup_containment_incr", "dedup_allpairs",
      "dedup_allpairs_incr", "dedup_recall_eval", "dedup_cc", "er_entities",
      "stream_cc", "dq_skew_report", "ta_quality_clf")
    def rows(coalesce: Boolean): Map[String, Seq[String]] = {
      spark.conf.set(key, coalesce.toString)
      gates.map { g =>
        try g -> SparkEntry.queries(g)(spark, dir).collect().map(_.toString).toSeq.sorted
        finally Graft.releaseState(spark)
      }.toMap
    }
    val saved = spark.conf.get(key)
    val (on, off) = try (rows(coalesce = true), rows(coalesce = false))
      finally spark.conf.set(key, saved)
    for (g <- gates) {
      assert(on(g).nonEmpty, s"$g returned no rows")
      assert(on(g) == off(g), s"$g: rows differ with cached-plan coalescing on and off")
    }
  }
}
