package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Graft, SparkEntry}
import java.nio.file.Files

/** 10× scale rehearsal: replicates the sf0.1 fixtures with shifted keys
  * into a scratch directory (≈6M lineitem rows, 50k docs/vectors, 1M
  * events) and times the headline operators there. The point is not the
  * absolute numbers — it's catching operators whose cost or memory
  * curves are super-linear before a real cluster does.
  *
  * Usage: scripts/run.sh graft.tools.ScaleRehearsal [outDir] [copies]
  * (SPARK_GRAFT_REHEARSAL_ONLY=a,b,c restricts the operator list —
  * the 100× pass times a focused subset, not all ~50.)
  *
  * SPARK_GRAFT_REHEARSAL_MODE selects the fixture extreme (the replica
  * fixture alone measures only ONE end of each family's cost curve):
  *   - `replica` (default): every copy keeps its TEXT and dim content
  *     verbatim, keys shifted. Duplication-heavy extreme — the
  *     exact-duplicate contraction makes the dedup families nearly free
  *     here, so it measures contraction + answer-expansion cost.
  *   - `distinct`: each copy's document text is salted by appending a
  *     copy-unique letter tag to EVERY word, so copies share ZERO
  *     shingles while each copy keeps the unsalted corpus's exact
  *     shingle-df distribution — `copies`×|docs| genuinely DISTINCT
  *     texts (500k+ at 100×) with realistic per-copy statistics. This
  *     is the extreme the contraction cannot help: prefix filtering,
  *     banding, df-caps and the packed-array verify all run at full
  *     distinct cardinality. Embeddings stay replicated (vector
  *     machinery is never text-contracted; its cost is row-driven
  *     either way).
  *   - `dimscale`: dims replicate WITH key shifts and fact FK columns
  *     are remapped consistently (copy i of lineitem points at copy i
  *     of part/supplier, etc.), so each copy is a closed FK universe —
  *     the dim-primary gates (er_*, sql_*, skyline, scalar batteries)
  *     get a genuine 100× dim-cardinality story instead of the fixed
  *     sf0.1 dims the r13 fixture fix left them. p_name gets a
  *     copy-local tag fused into its second word (the ER blocking
  *     key), and s_name/c_name a suffix tag, so name-keyed machinery
  *     sees true 100× distinct entities, not 100-way exact-name
  *     groups its contraction would collapse.
  *   - `boilerplate` (r15): the `distinct` salt PLUS a shared,
  *     UNSALTED header+footer on every doc — the regime the r14
  *     kept/dropped decomposition was built for, and the one neither
  *     r14 extreme produced: every doc's dropped shingle set is
  *     non-empty (the boilerplate's internal trigrams have
  *     df = |corpus| ≫ MaxDf) while candidates still form at full
  *     distinct cardinality, so the `inter_dropped` merge runs
  *     non-trivially on every candidate pair. The header is EXACTLY
  *     2 × [[graft.operators.ParagraphDedup.ParaWords]] normalized
  *     words, so chunks 0–1 of every doc are corpus-wide identical
  *     paragraphs (the paragraph lens's boilerplate target); the
  *     12-word footer lands at arbitrary per-doc alignment — shared
  *     at trigram granularity, never as an aligned paragraph.
  *   - `mixed` (r15): the realistic crawl composition — 10% of docs
  *     (orig doc_id ≡ 0 mod 10) salted per GROUP of 10 copies (each
  *     such text appears exactly 10× ⇒ the exact-dup contraction
  *     engages, and its body trigrams' combined df = 10 × base-df
  *     puts a band of them over MaxDf ⇒ df-caps and dropped sets
  *     engage mid-scale), the other 90% per-copy distinct, plus the
  *     boilerplate header/footer on every doc. Contraction, df-caps,
  *     dropped-set merges, and the paragraph lens all interact here.
  */
object ScaleRehearsal {
  /** Fixture layout identity. Bump whenever replicate()'s output
    * changes shape so pre-existing fixture dirs REBUILD instead of
    * silently reproducing a fixed defect (a stale dir once kept the
    * 100×-replicated dims and their q6/q7 join inflation). v4 = the
    * per-word, df-distribution-preserving distinct salt. */
  private val FixtureVersion = 4

  /** Per-copy doc_id/vec_id shift. ONE constant for the replicate()
    * shifts map AND mixedText's pmod recovery of the original id, so
    * the mixed mode's 10% replica-group partition cannot drift.
    * 10_010_400 = 97·3·34400 — preserves doc_id residues mod the
    * two-table stand-in moduli (BenchMod=97, IncomingMod=3). */
  private val DocStride = 10010400L

  /** Copy-unique letter-only token (normalization strips non-letters,
    * so the salt must survive [[graft.operators.Dedup.normalized]]). */
  private def copyTag(i: Int): String =
    s"qq${('a' + i / 26).toChar}${('a' + i % 26).toChar}"

  def main(args: Array[String]): Unit = {
    val src = "/root/testdata/sf0.1"
    val out = args.headOption.getOrElse("/tmp/graft_sf1")
    val copies = if (args.length > 1) args(1).toInt else 10
    // SPARK_GRAFT_CPUS: parallel-scaling evidence (8 vs 32 cores) must
    // come from these legs — the sf0.1 bench is choreography-bound
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val mode = sys.env.getOrElse("SPARK_GRAFT_REHEARSAL_MODE", "replica")
    require(Set("replica", "distinct", "dimscale", "boilerplate", "mixed")(mode),
      s"unknown SPARK_GRAFT_REHEARSAL_MODE '$mode' " +
        "(replica|distinct|dimscale|boilerplate|mixed)")

    // ---- fixture-version marker: the fixture's identity is (layout
    // version, mode, copies, source). A dir whose marker mismatches —
    // including every pre-marker dir — is wiped and rebuilt; mere
    // existence is never trusted again.
    val markerFile = new java.io.File(s"$out/_fixture_meta.txt")
    val markerWant = s"v$FixtureVersion mode=$mode copies=$copies src=$src"
    val markerHave =
      if (markerFile.isFile) Files.readString(markerFile.toPath).trim else ""
    if (markerHave != markerWant && new java.io.File(out).exists()) {
      // DESTRUCTION GUARD: a marker mismatch triggers a recursive
      // delete, and every NON-fixture directory (a typo'd args(0), e.g.
      // the source fixture root itself) has no marker either. Only a dir that
      // demonstrably IS a rehearsal fixture may be wiped: it carries a
      // marker file (any version), or it holds the full replicated
      // table set AND nothing else (a fresh scratch dir from a
      // pre-marker build). Anything else aborts loudly and leaves the
      // dir untouched.
      val tableSet = Set("region", "nation", "supplier", "part", "customer",
        "orders", "lineitem", "events", "documents", "embeddings")
        .map(_ + ".parquet")
      val entries = Option(new java.io.File(out).list())
        .map(_.toSet).getOrElse(Set.empty[String])
      // an EMPTY existing DIRECTORY is the safe case (nothing to lose)
      // and must be wipeable — the empty set is a subset of the table
      // set. But File.list() is null for a regular FILE too, and a
      // typo'd path to an existing file must abort, not be deleted.
      val looksLikeFixture = markerFile.isFile ||
        (new java.io.File(out).isDirectory &&
          entries.subsetOf(tableSet + "_fixture_meta.txt"))
      require(looksLikeFixture,
        s"refusing to wipe '$out': marker mismatch ('$markerHave' != " +
          s"'$markerWant') but the directory does not look like a " +
          s"rehearsal fixture (no _fixture_meta.txt, unexpected entries: " +
          s"${entries.diff(tableSet).take(5).mkString(", ")}). Delete it " +
          "manually or point the tool at an empty/new directory.")
      println(s"[rehearsal] fixture marker mismatch ('$markerHave' != " +
        s"'$markerWant') — rebuilding $out from scratch")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(out))
    }

    // per-table guard (not one lineitem-keyed guard for the whole
    // block) so a single stale/deleted table rebuilds without nuking
    // the rest; the marker above guards the LAYOUT, this guards
    // presence only
    def replicate(table: String, shifts: Map[String, Long], nCopies: Int,
        mutate: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      if (new java.io.File(s"$out/$table.parquet").exists()) return
      val base = spark.read.parquet(s"$src/$table.parquet")
      val union = (0 until nCopies).map { i =>
        mutate(shifts.foldLeft(base) { case (df, (c, stride)) =>
          df.withColumn(c, col(c) + lit(i * stride))
        }, i)
      }.reduce(_ unionByName _)
      union.write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    // `distinct` text salt: the copy tag is appended to EVERY
    // alphabetic run, so each copy's vocabulary is copy-local — no
    // shingle is ever shared across copies — while WITHIN a copy the
    // word sequence, the per-doc shingle count, and every shingle's
    // document frequency are EXACTLY the unsalted corpus's (the map
    // w → w·tag is a bijection on words applied uniformly). That
    // df-distribution preservation is the point: a salt that inserts
    // tokens gives boundary shingles BIGRAM-level dfs, inflating PPJoin
    // prefix candidates ~10× and turning the leg into a worst-case-df
    // benchmark instead of a distinct-cardinality one. Near-dup
    // structure per copy is untouched, so the lossless answer scales
    // linearly with copies.
    def saltText(df: DataFrame, i: Int): DataFrame =
      df.withColumn("text",
        regexp_replace(col("text"), "(\\p{L}+)", "$1" + copyTag(i)))
    // `boilerplate`/`mixed` shared paragraphs (r15): letter-only
    // (normalization-stable) and UNSALTED — shared verbatim by every
    // doc of every copy, so each internal trigram's df is the whole
    // corpus (≫ MaxDf ⇒ dropped everywhere). Header = exactly 16
    // normalized words = 2 aligned 8-word paragraph chunks; footer =
    // 12 words, deliberately NOT a multiple of the chunk width.
    val boilerHeader = "navbar home products pricing docs blog careers " +
      "contact login signup search menu language region currency help"
    val boilerFooter = "copyright all rights reserved terms privacy " +
      "cookies sitemap newsletter social media footer"
    def withBoiler(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      concat_ws(" ", lit(boilerHeader), text, lit(boilerFooter))
    def boilerText(df: DataFrame, i: Int): DataFrame =
      df.withColumn("text", withBoiler(
        regexp_replace(col("text"), "(\\p{L}+)", "$1" + copyTag(i))))
    // `mixed`: orig-id ≡ 0 (mod 10) docs salt by copy GROUP (i/10 ⇒
    // each text exactly 10× across the 100 copies: the contraction's
    // food), the rest per-copy distinct; boilerplate on everything.
    // doc_id was already shifted by i·stride when mutate runs, so the
    // original id is recovered mod the stride.
    def mixedText(df: DataFrame, i: Int): DataFrame =
      df.withColumn("text", withBoiler(
        when(pmod(col("doc_id"), lit(DocStride)) % 10 === 0,
          regexp_replace(col("text"), "(\\p{L}+)", "$1" + copyTag(i / 10)))
          .otherwise(
            regexp_replace(col("text"), "(\\p{L}+)", "$1" + copyTag(i)))))
    // `dimscale` name tags: fuse the tag INTO p_name's 2nd word — the
    // ER blocking key — so blocks become copy-local (100× more blocks
    // of original size: the honest "more entities" axis) instead of
    // 100×-deeper blocks that the df-cap would just drop; suffix-tag
    // s_name/c_name so name-keyed grouping sees distinct entities.
    def tagSecondWord(c: String)(df: DataFrame, i: Int): DataFrame =
      df.withColumn(c,
        regexp_replace(col(c), "^(\\S+\\s+\\S+)", "$1" + copyTag(i)))
    def tagSuffix(c: String)(df: DataFrame, i: Int): DataFrame =
      df.withColumn(c, concat(col(c), lit("-" + copyTag(i))))

    {
      if (mode == "dimscale") {
        // every copy is a CLOSED FK universe: dim keys shift by a
        // per-dim stride and every fact/dim FK column shifts by the SAME
        // stride, so copy i's facts join exactly copy i's dims — dim
        // cardinality scales with copies at constant join fan-out.
        // Strides dominate the base key ranges (nation 25, region 5,
        // supplier 1k, part 20k at sf0.1).
        replicate("region", Map("r_regionkey" -> 100L), copies)
        replicate("nation",
          Map("n_nationkey" -> 1000L, "n_regionkey" -> 100L), copies)
        replicate("supplier",
          Map("s_suppkey" -> 1000000L, "s_nationkey" -> 1000L), copies,
          tagSuffix("s_name"))
        replicate("part", Map("p_partkey" -> 10000000L), copies,
          tagSecondWord("p_name"))
        replicate("customer",
          Map("c_custkey" -> 10000000L, "c_nationkey" -> 1000L), copies,
          tagSuffix("c_name"))
        replicate("lineitem",
          Map("l_orderkey" -> 1000000000L, "l_partkey" -> 10000000L,
            "l_suppkey" -> 1000000L), copies)
      } else {
        // dims stay as-is: ONE copy, shared content — the facts keep
        // their dim foreign keys unshifted, so dim keys must stay unique:
        // dims duplicated `copies` times would multiply every fact→dim
        // join's output by the copy count per dim hop (SCALE.md r13d).
        Seq("region", "nation", "supplier", "part")
          .foreach(t => replicate(t, Map.empty, 1))
        replicate("customer", Map("c_custkey" -> 10000000L), copies)
        replicate("lineitem", Map("l_orderkey" -> 1000000000L), copies)
      }
      replicate("orders", Map("o_orderkey" -> 1000000000L, "o_custkey" -> 10000000L), copies)
      replicate("events", Map("event_id" -> 100000000L, "user_id" -> 1000000L), copies)
      // the doc shift must preserve doc_id residues mod the two-table
      // stand-in moduli (BenchMod=97, IncomingMod=3), or each copy
      // rotates into a different benchmark/batch split and the
      // simulated benchmark balloons to the whole corpus (measured:
      // pipeline_full drops to 0 survivors at 100× with a 10M stride);
      // 10_010_400 = 97·3·34400; embeddings use the SAME stride so the
      // doc_id↔vec_id correspondence (search_hybrid's fusion join)
      // survives replication
      replicate("documents", Map("doc_id" -> DocStride), copies,
        mode match {
          case "distinct" => saltText
          case "boilerplate" => boilerText
          case "mixed" => mixedText
          case _ => (df: DataFrame, _: Int) => df
        })
      replicate("embeddings", Map("vec_id" -> DocStride), copies)
      // marker written only after every table landed: a crashed build
      // leaves no marker and rebuilds clean on the next run
      Files.writeString(markerFile.toPath, markerWant + "\n")
    }

    // the FULL registry by default: coverage IS the canary surface
    // (corpus_icp's silent permutation loss and dedup_allpairs' 11.6x
    // wall were caught only because their operators were listed).
    // SPARK_GRAFT_REHEARSAL_ONLY=a,b,c still restricts for focused probes.
    val names = sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY") match {
      case Some(list) => list.split(",").toSeq
      case None => SparkEntry.names
    }
    // per-task metrics listener: the 100×-class question is not only
    // wall time but whether any single task's memory footprint or
    // spill grows super-linearly — that's what OOMs a real executor
    // long before the driver notices. peakExecutionMemory is the
    // max unroll+execution memory any one task held; spills are the
    // pressure-release signal that memory WOULD have been exceeded.
    val listener = RunListener.of(spark)
    names.foreach { n => // warmup pass then timed pass
      try {
        SparkEntry.queries(n)(spark, out).count()
        // release the WARMUP pass's shuffle files before the timed pass:
        // they live until ContextCleaner GCs their dependency objects,
        // and holding ~2× a shuffle-heavy gate's scratch footprint is
        // ENOSPC at the 100× distinct tier. releaseState drops the cache
        // handles, System.gc() lets the cleaner collect the warmup
        // plan's shuffles; the timed pass still runs in a warm JVM.
        Graft.releaseState(spark)
        System.gc()
        // reset drains the listener bus first, so no warmup task end
        // lands after it and inflates the timed pass's numbers
        listener.reset()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, out).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val t = listener.totals
        println(f"[rehearsal] $n%-26s $wall%7.1f s  ($rows rows)  " +
          f"peak-task-mem=${t.peakMem / (1 << 20)}%d MB  " +
          f"spilled=${t.memSpill / (1 << 20)}%d MB  max-task=${t.maxTaskMs}%d ms")
      } catch { case e: Throwable =>
        // a full-registry sweep must not die on one gate: record the
        // failure as its own line (a 10x-only failure IS a canary —
        // exactly what the sweep exists to surface) and keep going
        println(s"[rehearsal] $n FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
      } finally {
        Graft.releaseState(spark) // caches + checkpointed state
      }
    }
    spark.stop()
  }
}
