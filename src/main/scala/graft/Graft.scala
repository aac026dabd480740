package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}

/** The engine's public entry point — one object a user drives without
  * knowing the internal package layout:
  *
  * {{{
  * val g = Graft.local()                       // or Graft(existingSession, dir)
  * g.tableNames                                // -> region, nation, ..., embeddings
  * g.table("lineitem").show()
  * g.ops                                       // -> 100+ operator names
  * g.run("dedup_minhash").show()               // any operator as a DataFrame
  * g.explain("ta_tfidf")                       // formatted physical plan
  * g.sql("SELECT count(*) FROM documents")     // tables pre-registered as views
  * }}}
  *
  * Operators needing more than (session, dir) — the parameterized
  * entries like [[operators.Pipeline.rrfFuse]] or
  * [[operators.Relational.q18AsOfSalted]] — remain on their operator
  * objects; [[run]] executes each one at its gate operating point.
  */
final class Graft private (val spark: SparkSession, val dataDir: String) {

  /** One source of truth: loader per table name — [[tableNames]], view
    * registration, and [[table]] all derive from it. */
  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region"     -> (Tables.region _),
    "nation"     -> (Tables.nation _),
    "customer"   -> (Tables.customer _),
    "supplier"   -> (Tables.supplier _),
    "part"       -> (Tables.part _),
    "orders"     -> (Tables.orders _),
    "lineitem"   -> (Tables.lineitem _),
    "events"     -> (Tables.events _),
    "documents"  -> (Tables.documents _),
    "embeddings" -> (Tables.embeddings _))

  /** Fixture tables available under [[dataDir]]. */
  val tableNames: Seq[String] = loaders.map(_._1)

  def table(name: String): DataFrame =
    loaders.collectFirst { case (`name`, load) => load(spark, dataDir) }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown table '$name' (have: ${tableNames.mkString(", ")})"))

  /** Every registered operator, by gate name. */
  def ops: Seq[String] = SparkEntry.names

  /** Run an operator at its gate operating point. The returned frame is
    * lazy — call an action (show/count/write) to execute. */
  def run(op: String): DataFrame = SparkEntry.queries.get(op) match {
    case Some(q) => q(spark, dataDir)
    case None => throw new IllegalArgumentException(
      s"unknown operator '$op' — see Graft.ops for the catalog")
  }

  /** The operator's formatted physical plan (what actually executes —
    * check PushedFilters / WholeStageCodegen / Exchange placement). */
  def explain(op: String): String =
    run(op).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  /** ANSI SQL over the fixture tables (registered as temp views once
    * per facade). */
  def sql(query: String): DataFrame = spark.sql(query)

  // ------------------------------------------------ two-corpus ops ----
  // The gate wrappers in SparkEntry split ONE fixture table to exercise
  // these; production use is two genuinely different corpora (today's
  // crawl vs the ingested snapshot, training corpus vs eval benchmark).
  // Uniform input contract: BOTH frames are documents-shaped —
  // (doc_id LONG, text STRING) — extra columns are ignored. The facade
  // derives fingerprints/signatures internally where the underlying
  // operator wants a prepared frame.

  private def fingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, md5}
    docs.select(col("doc_id"),
      md5(operators.TextAnalysis.normalized(col("text"))).as("fp_norm"))
  }

  /** name -> ((left, right) => result); see [[runVs]] for semantics. */
  private val vsCatalog: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    // perplexity of `left` under a bigram LM trained on `right`
    "ta_lm_score_vs" -> ((corpus, ref) =>
      operators.CorpusOps.taLmScoreVs(corpus, ref)),
    // flag docs of `left` sharing contamination n-grams with `right`
    "ta_decontaminate_vs" -> ((corpus, bench) =>
      operators.Cleaning.taDecontaminateVs(corpus, bench)),
    // exact-dup check of `left` (incoming batch) vs `right` (snapshot):
    // (doc_id, fp_norm, is_new)
    "dedup_incremental_vs" -> ((incoming, snapshot) =>
      operators.Cleaning.dedupIncrementalVs(
        fingerprints(incoming), fingerprints(snapshot))),
    // near-dup (MinHash) check of `left` vs `right`: best-match estimate
    // per incoming doc
    "dedup_minhash_vs" -> ((batch, snapshot) =>
      operators.Dedup.dedupMinhashVs(spark, batch, snapshot)),
    // asymmetric containment of `left` (batch) docs vs `right`
    // (snapshot): new×old pairs with containment ≥ the threshold
    "dedup_containment_vs" -> ((batch, snapshot) =>
      operators.Dedup.containmentVs(batch, snapshot)))

  /** Two-corpus operators available through [[runVs]]. */
  def vsOps: Seq[String] = vsCatalog.map(_._1)

  /** Run a two-corpus operator. Both inputs must be documents-shaped
    * (`doc_id LONG, text STRING`); `left` is the corpus being scored /
    * deduped, `right` the reference / benchmark / snapshot. */
  def runVs(op: String, left: DataFrame, right: DataFrame): DataFrame =
    vsCatalog.collectFirst { case (`op`, f) => f(left, right) }
      .getOrElse(throw new IllegalArgumentException(
        s"unknown two-corpus operator '$op' (have: ${vsOps.mkString(", ")})"))
}

object Graft {

  /** Release ALL engine-held block storage: cached Datasets
    * (CacheManager) PLUS raw persisted/localCheckpointed RDDs — which
    * `spark.catalog.clearCache` does NOT touch. SparkContext's
    * persistentRdds registry holds STRONG references (Spark 4:
    * `concurrent.Map[Int, RDD]`), so a localCheckpointed round table
    * (the Pregel/CC/BPE loop state) stays pinned until explicitly
    * unpersisted — GC and ContextCleaner can never reclaim it, and a
    * long-lived session accumulates block storage per call (the r12
    * leak-sweep discovery: stream_pack_bpe left the BPE trainer's 7
    * per-round checkpoints live after clearCache).
    *
    * THE HARNESS CONTRACT: Bench, Verify and ScaleRehearsal call this
    * between queries; a library caller embedding operators in a
    * long-lived session owns the same one-line sweep. Safe at any
    * query boundary by construction — no operator carries cross-query
    * RDD state (durable state lives in parquet tables), which the
    * DedupSpec leak sweep pins. */
  def releaseState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Size-compacted localCheckpoint for ITERATIVE LOOP STATE (r16,
    * guide §2: derive partitioning from data size, never a constant).
    * A checkpointed round table pins whatever partition count its plan
    * happened to execute with (32 from the session default, 64+ after
    * unions) — AQE cannot coalesce through a LogicalRDD — so every
    * subsequent round launches that many tasks even when the whole
    * state is a few hundred KB (JobProbe r16: stream_cc's checkpoint
    * map stages ran 128 tasks × ~0.2 s runtime for ~1 MB of labels,
    * almost all of it task-launch contention). After the eager
    * checkpoint materializes, the state's TRUE size is known from the
    * block manager; tiny states coalesce (narrow, no shuffle) to
    * ceil(bytes / targetBytes) partitions. At production scale the
    * state is GBs and the coalesce is a no-op — this is a small-input
    * floor, the same shape as Tables.fanOutSmall's small-input
    * fan-out. Hash partitioning is NOT preserved through coalesce, but
    * loop states are re-shuffled by their round joins anyway (the
    * mapPartitions-era kernels never preserved it either). */
  private[graft] def compactCheckpoint(df: DataFrame,
      targetBytes: Long = 8L << 20): DataFrame = {
    val ck = df.localCheckpoint()
    val rdd = ck.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.headOption
    val parts = rdd.map(_.getNumPartitions).getOrElse(1)
    // AppStatusStore is fed by the async listener bus, so the block info
    // can lag the eager checkpoint job by a beat. UNKNOWN SIZE MUST MEAN
    // UNTOUCHED (r17, ADVICE): the r16 code fell back to Long.MaxValue,
    // whose ceil-division OVERFLOWED to a negative want clamped to 1 —
    // silently collapsing a possibly-GB production state to ONE
    // partition, the opposite of the documented no-op. A short bounded
    // poll (≤5×4 ms, only while the info is absent) keeps the fixture
    // behavior deterministic; past it the state stays as checkpointed.
    def lookup(id: Int): Option[Long] =
      df.sparkSession.sparkContext.getRDDStorageInfo.find(_.id == id)
        .map(i => i.memSize + i.diskSize)
    val bytesOpt: Option[Long] = rdd.flatMap { r =>
      var info = lookup(r.id)
      var tries = 0
      while (info.isEmpty && tries < 5) {
        Thread.sleep(4); info = lookup(r.id); tries += 1
      }
      info
    }
    bytesOpt match {
      case None => ck // size unknown — leave the state untouched
      case Some(bytes) =>
        val want = math.max(1L, math.min(parts.toLong,
          (bytes + targetBytes - 1) / targetBytes)).toInt
        if (want < parts) ck.coalesce(want) else ck
    }
  }

  /** Release the block storage behind a localCheckpointed frame —
    * the in-operator half of the leak discipline: iterative loops
    * call this on each SUPERSEDED round's checkpoint so live storage
    * during a query stays O(current round), not O(all rounds); the
    * FINAL round's blocks are [[releaseState]]'s job at the query
    * boundary. A no-op on frames that are not localCheckpoints. */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** `df` cut into `parts` contiguous ranges of its Long column `key` —
    * the batches every fold gate feeds through its maintenance step.
    * The cuts are `lo + i * (hi - lo) / parts` (multiplied before
    * divided); range 0 holds the keys up to the first cut, the last
    * range the keys above the last cut, each middle one (cut i, cut
    * i+1]. An empty `df` has no range: IllegalArgumentException naming
    * `key`. */
  private[graft] def rangeSplit(df: DataFrame, key: String, parts: Int): Seq[DataFrame] = {
    require(parts >= 2, s"rangeSplit needs at least 2 parts, got $parts")
    val r = df.agg(functions.min(key), functions.max(key)).collect()(0)
    require(!r.isNullAt(0), s"cannot range-split an empty input on `$key`")
    val (lo, hi, k) = (r.getLong(0), r.getLong(1), functions.col(key))
    val cut = (1 until parts).map(i => lo + i * (hi - lo) / parts)
    (0 until parts).map {
      case 0 => df.where(k <= cut.head)
      case i if i == parts - 1 => df.where(k > cut.last)
      case i => df.where(k > cut(i - 1) && k <= cut(i))
    }
  }

  /** `df` with `metric` (an aggregate over its rows) observed inside
    * whichever job first runs it, plus a reader of the value for after
    * that job. The value decodes as Spark returns it (a Long for an
    * integral sum or count, a Row for a struct), except that null — an
    * integral aggregate over no rows — reads as 0L. */
  private[graft] def observed(df: DataFrame, metric: Column): (DataFrame, () => Any) = {
    val obs = new org.apache.spark.sql.Observation() // UUID name: never collides
    (df.observe(obs, metric.as("m")), () => obs.get.getOrElse("m", null) match {
      case null => 0L
      case v => v
    })
  }

  /** A convergence test for [[iterate]]: `metric` is [[observed]] on
    * every round's output inside the job that materializes the round
    * (no extra pass, no extra job), and the loop stops after the first
    * round where `done(previous value, this round's value)` holds.
    * `start` is the previous value round 1 compares against. Under task
    * retries an observed metric can over-count, so `done` must only
    * ever hold for a value every attempt agrees on. */
  private[graft] final case class Until(metric: Column, done: (Any, Any) => Boolean, start: Any = null)

  /** What [[iterate]] returns: the last materialized state (the
    * caller's, like the initial one), the rounds run, and whether the
    * [[Until]] test held — false for a capped loop, and always for a
    * fixed-round loop. */
  private[graft] final case class Fixpoint(state: DataFrame, rounds: Int, converged: Boolean)

  /** THE ROUND LOOP behind every iterative operator (PageRank, LPA,
    * BFS, k-core, CC propagation and star contraction, BPE, k-means++):
    * from the materialized `init`, each round materializes
    * `step(state)` projected onto `init`'s columns (a step may add
    * columns its [[Until]] metric reads), releases the round it
    * supersedes, and stops at `maxRounds` or when `until` holds.
    *
    * Storage stays O(current round): persistentRdds pins checkpoint
    * blocks strongly, so a superseded round is released eagerly (the
    * r12 leak discipline). `init` is never released — the caller may
    * still read it — and neither is the returned state; both are the
    * caller's, or [[releaseState]]'s at the query boundary. A step that
    * returns its input unchanged (nothing left to apply) costs no
    * materialization; the round still counts. */
  private[graft] def iterate(init: DataFrame, maxRounds: Int,
      until: Option[Until] = None,
      materialize: DataFrame => DataFrame = compactCheckpoint(_))(
      step: DataFrame => DataFrame): Fixpoint = {
    val cols = init.columns.map(functions.col)
    var state = init
    var prev = until.map(_.start).orNull
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val out = step(state)
      if (out ne state) {
        val next = until match {
          case None => materialize(out.select(cols: _*))
          case Some(u) =>
            val (obs, value) = observed(out, u.metric)
            val m = materialize(obs.select(cols: _*))
            val v = value()
            converged = u.done(prev, v)
            prev = v
            m
        }
        if (state ne init) releaseCheckpoint(state)
        state = next
      }
      rounds += 1
    }
    Fixpoint(state, rounds, converged)
  }

  /** Wrap an existing session. Registers the fixture tables as temp
    * views and the engine's native functions (dot_i64). */
  def apply(spark: SparkSession, dataDir: String): Graft = {
    val g = new Graft(spark, dataDir)
    graft.functions.DotProductI64.register(spark)
    g.tableNames.foreach(n => g.table(n).createOrReplaceTempView(n))
    g
  }

  /** [[session]] wrapped as a [[Graft]] over `dataDir`. */
  def local(dataDir: String = "/root/testdata/sf0.001",
      cpus: Int = Runtime.getRuntime.availableProcessors()): Graft =
    apply(session(cpus), dataDir)

  /** The one session builder: a local session at the engine's standard
    * operating point (AQE on, `partitions` shuffle partitions, UTC,
    * ns-parquet handling). If a SparkSession already exists in this
    * JVM, getOrCreate returns IT and the builder configs (master/cpus
    * included) are ignored — so the session-level settings the engine
    * depends on are re-applied explicitly below, and they take effect
    * either way; only the master/cpus request is best-effort on a
    * pre-existing session. Bucketed-table gates (q38) saveAsTable into
    * the warehouse, so it is pinned under java.io.tmpdir unless the JVM
    * was given `-Dspark.sql.warehouse.dir`: no run depends on the
    * working directory being writable. */
  def session(cpus: Int, partitions: Int = 32): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.ui.enabled", "false")
    if (!sys.props.contains("spark.sql.warehouse.dir"))
      builder.config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
    val spark = builder.getOrCreate()
    // runtime-settable session confs: applied even when getOrCreate
    // returned someone else's session
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
