package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Planted-duplicate tests: the fixture corpus is random text that may
  * contain no near-duplicates at all, so these specs build a corpus
  * where ground truth is known and assert each detector finds it.
  */
class DedupSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    val near = base.replace("tonight", "today") // 1-token edit
    val reorder = base.split(' ').reverse.mkString(" ")
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src0", base.length.toLong),          // exact dup of 0
      (2L, near, "en", "src1", near.length.toLong),          // near dup of 0
      (3L, "completely different words about spark engines shuffling partitions with columnar vectors", "en", "src2", 90L),
      (4L, reorder, "en", "src3", reorder.length.toLong),    // bag-dup of 0
      (5L, "tiny doc", "en", "src4", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    def vec(seed: Int, eps: Float): Seq[Float] = {
      val r = new scala.util.Random(seed)
      val v = Array.fill(8)(r.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n + eps)
    }
    Seq(
      (0L, vec(1, 0f), 0), (1L, vec(1, 0.001f), 0), // 1 ≈ 0
      (2L, vec(7, 0f), 1), (3L, vec(13, 0f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("exact dedup groups identical normalized text") {
    val m = Dedup.dedupExact(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getInt(3))).toMap
    assert(m(0L) == (0L, 0))
    assert(m(1L) == (0L, 1))       // doc 1 is a dup with canonical 0
    assert(m(3L) == (3L, 0))
  }

  test("ngram jaccard finds exact and near duplicates") {
    val m = Dedup.dedupNgram(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(0L)._1 == 1L && m(0L)._2 == 1.0)  // identical docs: J=1
    assert(m(2L)._1 == 0L || m(2L)._1 == 1L)   // near-dup points at base
    assert(m(2L)._2 > 0.5)
    assert(m(3L)._2 == 0.0 && m(3L)._1 == -1L) // unrelated: no candidates
  }

  test("minhash LSH surfaces exact and near duplicates") {
    val m = Dedup.dedupMinhash(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(0L)._1 == 1L && m(0L)._2 == 1.0)  // identical signatures
    assert(m(2L)._2 > 0.3)                     // near-dup caught by a band
    assert(m(3L)._1 == -1L)                    // unrelated: no band collision
  }

  test("ngram-verify tier: exact jaccard on LSH candidates, df-cap-free, with a correct verdict") {
    val rows = Dedup.dedupNgramVerify(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getInt(5))).toMap
    // candidates are exactly the est >= threshold LSH pairs
    assert(rows.contains((0L, 1L)), "exact dup pair must be a candidate")
    val (_, _, j01, dup01) = rows((0L, 1L))
    assert(j01 == 1.0 && dup01 == 1, "identical docs: exact J = 1")
    // the planted near-dup (one token edited out of a 3-gram window):
    // verify exact jaccard against hand-computed sets
    def sh(t: String): Set[String] = {
      val w = t.toLowerCase.replaceAll("[^\\p{L}]+", " ").trim.split(" ")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    val near = base.replace("tonight", "today")
    val expJ = sh(base).intersect(sh(near)).size.toDouble /
      sh(base).union(sh(near)).size
    rows.get((0L, 2L)).orElse(rows.get((1L, 2L))).foreach {
      case (est, nCommon, j, dup) =>
        assert(j == expJ, s"exact jaccard must match brute force: $j vs $expJ")
        assert(nCommon == sh(base).intersect(sh(near)).size.toLong)
        assert((dup == 1) == (j >= Dedup.CcThreshold))
        assert(est >= Dedup.CcThreshold)
    }
    // unrelated doc 3 never appears
    assert(!rows.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("substring dedup: cross-doc repeated spans measured exactly; unique docs untouched") {
    val m = Dedup.dedupSubstring(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    // docs 0 and 1 are exact copies: every 8-gram window is repeated
    val baseWords = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
      .split(" ").length
    val (g0, rep0, f0, df0) = m(0L)
    assert(g0 == baseWords - Dedup.SpanGram + 1)
    assert(rep0 == g0 && f0 == 1.0 && df0 >= 2)
    assert(m(1L) == m(0L))
    // doc 2 edits only the LAST token, so exactly the one window
    // covering it is unique; the rest are shared with docs 0/1
    val (g2, rep2, f2, _) = m(2L)
    assert(g2 == g0 && rep2 == g0 - 1)
    assert(f2 == (g0 - 1).toDouble / g0)
    // unrelated doc 3 and the reversed bag-dup 4 share no 8-token span
    assert(m(3L)._3 == 0.0 && m(4L)._3 == 0.0)
    // doc 5 ("tiny doc") is too short for any window: 0-gram, frac 0.0
    assert(m(5L) == ((0L, 0L, 0.0, 0L)))
  }

  test("containment flags a doc embedded in a longer one that Jaccard misses") {
    // small = 12 distinct words -> 10 shingles, all inside big;
    // big adds 30 unique words so J = 10/(10+38) ≈ 0.21 < CcThreshold
    // while containment = 10/10 = 1.0 — the asymmetric case the
    // symmetric measures structurally under-weight
    val small = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // letter-only fillers: normalization strips digits, which would
    // collapse "filler1".."filler30" into one repeated token
    val filler = (0 until 30)
      .map(i => s"filler${('a' + i % 26).toChar}${('a' + i / 26).toChar}")
      .mkString(" ")
    val big = s"$filler $small"
    val docs = Seq(
      (1L, small), (2L, big),
      (3L, "unrelated corpus words entirely disjoint from both documents here now"))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentOver(docs).collect()
    assert(rows.length == 1, s"exactly the planted pair: ${rows.mkString}")
    val r = rows.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(5) == 1.0, s"containment must be exact 1.0: $r")
    assert(r.getDouble(6) < Dedup.CcThreshold, s"Jaccard must miss this pair: $r")
    assert(r.getLong(7) == 1L, "the smaller doc is the contained one")
    assert(r.getInt(8) == 1, "jaccard_missed must flag the pair")
    // and a symmetric exact dup is NOT jaccard_missed
    val dup = Seq((1L, small), (2L, small)).toDF("doc_id", "text")
    val d = Dedup.containmentOver(dup).collect()
    assert(d.length == 1 && d.head.getInt(8) == 0 && d.head.getDouble(6) == 1.0)
  }

  test("containment inter_dropped branch: a df>MaxDf stop-shingle still counts toward n_common") {
    // The r14 kept/dropped decomposition's DROPPED term had zero
    // non-trivial executions anywhere (r14 verdict): every gate SF and
    // both 100× fixtures have max shingle-df ≤ MaxDf, so droppedSets was
    // empty everywhere the oracle hashes, and the hash-green gates
    // proved only inter_kept + the null arm. This corpus plants the
    // branch: 60 filler docs of EXACTLY the words "alpha beta gamma"
    // (each contributes the single shingle "alpha beta gamma", so its
    // df = 62 > MaxDf = 50 → dropped), plus an embedded pair whose true
    // intersection INCLUDES that stop-shingle:
    //   A = "alpha beta gamma dog emu fox"          (4 shingles)
    //   B = A ++ "gnu hat ink"                      (7 shingles)
    // shared: "beta gamma dog"/"gamma dog emu"/"dog emu fox" (df 2,
    // KEPT — they also generate the candidate) + "alpha beta gamma"
    // (DROPPED). Exact n_common = 3 kept + 1 dropped = 4:
    //   - dropped term returns 0  → n_common 3, containment 3/4 = 0.75
    //     < ContainT and the row VANISHES;
    //   - dropped term double-counts → containment 1.25 ≠ exact 1.0.
    // A control pair C ⊂ D shares NO stop-shingle, pinning the
    // left-join null arm (ssa/ssb null ⇒ +0) in the same plan.
    val fillers = (0 until 60).map(i => (100L + i, "alpha beta gamma"))
    val a = "alpha beta gamma dog emu fox"
    val b = "alpha beta gamma dog emu fox gnu hat ink"
    val c = "pig owl rat cat bat ant"
    val dd = "pig owl rat cat bat ant eel fly hen"
    val docs = (fillers ++ Seq((1L, a), (2L, b), (3L, c), (4L, dd)))
      .toDF("doc_id", "text")
    val rows = Dedup.containmentOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    // fillers share ONLY the dropped shingle → no kept posting pairs →
    // they never become candidates; exactly the two planted pairs
    assert(rows.keySet == Set((1L, 2L), (3L, 4L)),
      s"exactly the planted pairs: ${rows.keySet}")
    val (na, nb, common, cont, jac) = rows((1L, 2L))
    assert(na == 4L && nb == 7L, s"full (uncapped) set sizes: $na/$nb")
    assert(common == 4L,
      s"n_common must include the dropped stop-shingle: got $common")
    assert(cont == 1.0, s"containment must be exact 4/min(4,7) = 1.0: $cont")
    assert(jac == 4.0 / 7.0, s"jaccard must be the exact division 4/7: $jac")
    // the null arm: no dropped shingle on either side, count is kept-only
    val (nc, nd, common2, cont2, _) = rows((3L, 4L))
    assert(nc == 4L && nd == 7L && common2 == 4L && cont2 == 1.0,
      s"control pair (null dropped sets) must count kept-only exactly: " +
        s"$nc/$nd/$common2/$cont2")
  }

  test("containmentVs inter_dropped branch: combined-df stop-shingle counts toward n_common") {
    import org.apache.spark.sql.functions.col
    // The two-table twin of the planted-stop-shingle case: the batch
    // holds A (df_batch("alpha beta gamma") = 1), the snapshot holds B
    // plus the 60 fillers (df_snap = 61) — COMBINED df 62 > MaxDf, so
    // the shingle is dropped by the combined rule while appearing on
    // both sides (the only way it can contribute to a cross
    // intersection at all). Exact n_common = 3 kept + 1 dropped = 4.
    // Control pair C (batch) ⊂ D (snapshot) has null dropped sets.
    val fillers = (0 until 60).map(i => (100L + i, "alpha beta gamma"))
    val docs = (fillers ++ Seq(
      (1L, "alpha beta gamma dog emu fox"),
      (2L, "alpha beta gamma dog emu fox gnu hat ink"),
      (3L, "pig owl rat cat bat ant"),
      (4L, "pig owl rat cat bat ant eel fly hen")))
      .toDF("doc_id", "text")
    val out = Dedup.containmentVs(
        docs.where(col("doc_id").isin(1L, 3L)),
        docs.where(col("doc_id") =!= 1L && col("doc_id") =!= 3L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(7)))).toMap
    assert(out.keySet == Set((1L, 2L), (3L, 4L)),
      s"exactly the planted new×old pairs: ${out.keySet}")
    val (nNew, nOld, common, cont, containedId) = out((1L, 2L))
    assert(nNew == 4L && nOld == 7L, s"full set sizes: $nNew/$nOld")
    assert(common == 4L,
      s"n_common must include the combined-df stop-shingle: got $common")
    assert(cont == 1.0 && containedId == 1L)
    val (_, _, common2, cont2, _) = out((3L, 4L))
    assert(common2 == 4L && cont2 == 1.0,
      s"null-dropped control must count kept-only exactly: $common2/$cont2")
  }

  test("simhash: identical docs agree; reordered bag-dup agrees; distinct differs") {
    val m = Dedup.dedupSimhash(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(0L) == m(1L))
    assert(m(0L) == m(4L))                     // simhash is order-invariant
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(m(0L), m(2L)) < hamming(m(0L), m(3L)),
      "near-dup must be closer in hamming space than unrelated doc")
  }

  test("embedding nearest neighbor pairs the planted twins") {
    val m = Dedup.dedupEmbedding(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(m(0L)._1 == 1L && m(0L)._2 > 0.99)
    assert(m(1L)._1 == 0L)
  }

  test("band operating points form a refinement chain: finer bands only add candidates") {
    // (2,8) ⊆ (4,4) ⊆ (8,2) ⊆ (16,1): a band of 2r rows matching implies
    // both constituent r-row bands match, so coarsening (r↑) can only
    // DROP candidates — the precision/recall dial a pipeline turns as N
    // grows (r must rise ~log N to keep per-bucket population bounded).
    val mh = Dedup.minhashSignatures(spark, dir).persist()
    def pairs(b: Int, r: Int): Set[(Long, Long)] =
      Dedup.bandCandidates(mh, bands = b, rowsPerBand = r, maxBucket = 10000)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val p28 = pairs(2, 8); val p44 = pairs(4, 4)
    val p82 = pairs(8, 2); val p161 = pairs(16, 1)
    mh.unpersist()
    assert(p28.subsetOf(p44) && p44.subsetOf(p82) && p82.subsetOf(p161),
      s"refinement chain broken: ${p28.size}/${p44.size}/${p82.size}/${p161.size}")
    // exact dup (0,1) collides at EVERY operating point; at the loosest
    // point the near-dup is also caught
    assert(p28.contains((0L, 1L)))
    assert(p161.contains((0L, 2L)), "near-dup must surface at r=1")
  }

  test("band cap bounds candidate pairs on a degenerate all-duplicates corpus") {
    // 200 identical docs = one clique sharing every band key — the
    // worst case for LSH banding. Uncapped: C(200,2) = 19900 candidate
    // pairs (O(N²)); the deterministic per-bucket cap keeps the first
    // MaxBucket doc_ids per (band, key) ⇒ exactly C(64,2) = 2016.
    val d = java.nio.file.Files.createTempDirectory("graft-cap").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    (0L until 200L).map(i => (i, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val (mh, est) = Dedup.minhashEst(spark, d)
    val nPairs = est.count()
    mh.unpersist()
    val cap = Dedup.MaxBucket.toLong
    assert(nPairs == cap * (cap - 1) / 2,
      s"expected C($cap,2) capped pairs, got $nPairs")

    // every doc still gets an output row; docs inside the cap pair up
    // (the overflow docs' recall loss is the documented LSH tradeoff —
    // a real pipeline runs dedup_exact first to collapse such cliques)
    val rows = Dedup.dedupMinhash(spark, d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 200)
    assert((0L until cap).forall(rows(_) != -1L))
  }

  test("vector-LSH operating points form a refinement chain") {
    import graft.operators.{Similarity, VecKernel}
    val sig = VecKernel.signatures(spark, dir, Similarity.H)
    def pairs(b: Int, w: Int): Set[(Long, Long)] =
      Similarity.vecBandCandidates(sig, bands = b, bitsPerBand = w, maxBucket = 10000)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1x16 = pairs(1, 16); val p2x8 = pairs(2, 8); val p4x4 = pairs(4, 4)
    assert(p1x16.subsetOf(p2x8) && p2x8.subsetOf(p4x4),
      s"refinement chain broken: ${p1x16.size}/${p2x8.size}/${p4x4.size}")
    // vectors 0 and 1 are near-identical: same sign on all 16 planes,
    // so they collide even at the strictest (single 16-bit band) point
    assert(p1x16.contains((0L, 1L)))
  }

  test("containmentVs flags a batch doc embedded in a snapshot doc; never old×old or new×new pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // snapshot: 0 (the long page), 2 and 3 (snapshot-INTERNAL exact
    // dups of each other); batch: 1 (verbatim substring of 0 — the
    // containment case), 7 (batch-internal copy of 1), 4 (novel)
    val docs = Seq(
      (0L, long),
      (2L, "old internal duplicate page body text here"),
      (3L, "old internal duplicate page body text here"),
      (1L, "beta gamma delta epsilon zeta"),
      (7L, "beta gamma delta epsilon zeta"),
      (4L, "unrelated zebra words nothing shared at all"))
      .toDF("doc_id", "text")
    val out = Dedup.containmentVs(
        docs.where(col("doc_id").isin(1L, 7L, 4L)),
        docs.where(col("doc_id").isin(0L, 2L, 3L)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(5), r.getLong(7), r.getInt(8)))).toMap
    // ONLY the two new-doc-inside-old-doc pairs: the 2↔3 old dup pair
    // and the 1↔7 batch dup pair are structurally out of scope
    assert(out.keySet == Set((1L, 0L), (7L, 0L)),
      s"new×old containment pairs only: ${out.keySet}")
    for (((n, _), (cont, containedId, missed)) <- out) {
      assert(cont == 1.0, "verbatim substring ⇒ containment 1.0")
      assert(containedId == n, "the shorter (batch) doc is the contained one")
      // J = 3 shared shingles / 8 total < CcThreshold: Jaccard misses it
      assert(missed == 1, "the containment lens catches what Jaccard missed")
    }
  }

  test("dedup_minhash_incr flags batch docs near-duplicating the snapshot, never batch-internal dups") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep green forest tonight"
    val d = java.nio.file.Files.createTempDirectory("graft-incr").toString
    // snapshot: 0 (base), 3 (unrelated); batch: 1 (near-dup of 0), 2
    // (dup of batch-mate 1 ONLY relative to snapshot semantics — also
    // near 0), 4 (novel)
    Seq(
      (0L, base), (3L, "completely different words about spark engines shuffling partitions"),
      (1L, base.replace("tonight", "today")),
      (2L, base.replace("tonight", "today at dusk")),
      (4L, "zebra yak xylophone walrus viper unicorn tiger snake rabbit quail"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$d/documents.parquet")
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val out = Dedup.dedupMinhashVs(spark,
        docs.where($"doc_id".isin(1L, 2L, 4L)), docs.where($"doc_id".isin(0L, 3L)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 4L), "one row per batch doc, none for snapshot docs")
    assert(out(1L)._1 == 0L && out(1L)._2, "batch doc 1 must match snapshot doc 0")
    assert(out(2L)._1 == 0L && out(2L)._2, "batch doc 2 must match snapshot doc 0")
    assert(out(4L) == ((-1L, false)), "novel doc has no snapshot match")
    // candidates are new×old only: best match ids always from the snapshot
    assert(out.values.map(_._1).forall(Set(-1L, 0L, 3L)))
  }

  test("dedup_cc_incr equals the full recompute and merges batch docs into snapshot components") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._1).toSeq
    val full = rows(Dedup.dedupCc(spark, dir))
    val incr = rows(Dedup.dedupCcIncr(spark, dir))
    assert(incr === full, "incremental maintenance must reproduce the full recompute")
    // the planted cluster spans the batch/snapshot split: doc 1 (batch,
    // exact dup of 0) lands in snapshot docs 0/2's component, canonical 0
    val byDoc = incr.map(r => r._1 -> r._2).toMap
    assert(byDoc(1L) == 0L && byDoc(0L) == 0L && byDoc(2L) == 0L)
  }

  test("allpairs: prefix/length pruning is lossless on randomized corpora (differential vs brute)") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val vocabWords = (0 until 40).map(i => s"w$i")
    // random base docs + planted near-dups (append/drop a few words)
    val base = (0 until 25).map { i =>
      (i.toLong, (0 until (5 + rng.nextInt(20)))
        .map(_ => vocabWords(rng.nextInt(vocabWords.size))).mkString(" "))
    }
    val nearDups = base.take(8).map { case (id, t) =>
      val ws = t.split(" ")
      (100L + id, (ws.drop(rng.nextInt(2)) ++
        Seq.fill(rng.nextInt(2))(vocabWords(rng.nextInt(vocabWords.size)))).mkString(" "))
    }
    // exact-copy groups, appended after the random draws (the docs above
    // do not change), in letter-only words so they share no gram with
    // the drawn docs: a three-member group (one copy differs only in
    // case and punctuation, so it normalizes equal) with a near-dup, a
    // group whose members fall on both sides of the % 3 split with a
    // near-dup, and a shingle-less doc with an identical copy, which
    // must not pair
    val textA = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val textB = "lima mike november oscar papa quebec romeo sierra"
    val copies = Seq(
      200L -> textA, 203L -> textA, 206L -> (textA.toUpperCase + "!"),
      209L -> (textA + " kilo"),
      301L -> textB, 302L -> textB, 304L -> textB, 305L -> (textB + " tango"),
      400L -> "uniform victor", 401L -> "uniform victor")
    val all = base ++ nearDups ++ copies
    val docs = all.toDF("doc_id", "text")
    def grams(t: String): Set[String] = {
      val w = t.toLowerCase.replaceAll("[^\\p{L}]+", " ").trim.split(" ").filter(_.nonEmpty)
      if (w.length < 3) Set.empty
      else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val gs = all.map { case (id, t) => id -> grams(t) }.toMap
    val brute = (for {
      (a, ga) <- gs.toSeq; (b, gb) <- gs.toSeq if a < b && ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size.toLong if inter > 0
      union = ga.size + gb.size - inter
      if 1000000L * inter >= Dedup.AllPairsTauPpm * union
    } yield (a, b, inter, ga.size.toLong, gb.size.toLong,
      1000000L * inter / union)).toSet
    val got = Dedup.allpairsOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(3)} extra=${(got -- brute).take(3)}")
    assert(brute.nonEmpty, "fixture must plant qualifying pairs")
    // the contraction's two legs are exercised: intra-group copy pairs
    // at J = 1, and no pair for the shingle-less copies
    val copyPairs = Seq((200L, 203L), (200L, 206L), (203L, 206L),
      (301L, 302L), (301L, 304L), (302L, 304L))
    assert(copyPairs.forall { case (a, b) =>
      got.exists(r => r._1 == a && r._2 == b && r._6 == 1000000L) }, copyPairs)
    assert(Seq(200L, 203L, 206L).forall(a => got.exists(r => r._1 == a && r._2 == 209L)))
    assert(!got.exists(r => r._1 >= 400L || r._2 >= 400L))
    // two-table form: exact batch×snapshot join must equal the brute
    // cross-pairs under the same split (union-census prefix discipline)
    val (batchIds, snapIds) = gs.keySet.partition(_ % 3 == 1)
    val bruteVs = (for {
      a <- batchIds.toSeq; b <- snapIds.toSeq
      ga = gs(a); gb = gs(b) if ga.nonEmpty && gb.nonEmpty
      inter = (ga & gb).size.toLong if inter > 0
      union = ga.size + gb.size - inter
      if 1000000L * inter >= Dedup.AllPairsTauPpm * union
    } yield (a, b, inter, ga.size.toLong, gb.size.toLong,
      1000000L * inter / union)).toSet
    val gotVs = Dedup.allpairsVs(
        docs.where(col("doc_id") % 3 === 1), docs.where(col("doc_id") % 3 =!= 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(gotVs == bruteVs,
      s"vs: missing=${(bruteVs -- gotVs).take(3)} extra=${(gotVs -- bruteVs).take(3)}")
    // the split group pairs across the two tables through its reps
    assert(Seq((301L, 302L), (304L, 302L), (301L, 305L), (304L, 305L))
      .forall(p => gotVs.exists(r => (r._1, r._2) == p)))
  }

  test("dedup_cc convergence canary holds at both fixture SFs") {
    // dedupCc solves fixture-scale graphs on the driver, and a capped
    // loop would escalate to star contraction with the same labels, so
    // the gate itself cannot show a capped loop: run the distributed
    // rounds on its own graph and require them to converge
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val d = s"/root/testdata/$sf"
      val (mh, sym) = Dedup.ccSymEdges(spark, d)
      val fx = Dedup.propagateRounds(
        Tables.documents(spark, d).select(col("doc_id"), col("doc_id").as("label")), sym)
      sym.unpersist()
      mh.unpersist()
      assert(fx.converged, s"$sf: dedup_cc's rounds must converge within " +
        s"${Dedup.CcMaxIters} rounds (ran ${fx.rounds})")
    }
  }

  test("dedupMinhashVsSig over a stored (parquet round-tripped) signature table equals the in-process path") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = docs.where(col("doc_id") % 3 === 1)
    val snapshot = docs.where(col("doc_id") % 3 =!= 1)
    val sigS = Dedup.minhashSignaturesOf(spark, snapshot)
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-idx").toString
    sigS.write.mode("overwrite").parquet(idx)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet
    val stored = rows(Dedup.dedupMinhashVsSig(spark, batch,
      spark.read.parquet(idx).repartition(col("doc_id"))))
    val inline = rows(Dedup.dedupMinhashVs(spark, batch, snapshot))
    assert(stored.nonEmpty && stored == inline)
    // the planted cross-split duplicate still surfaces through the
    // stored index (doc 1 in the batch is an exact copy of snapshot 0)
    assert(stored.exists { case (d, dup, j, isDup) =>
      d == 1L && dup == 0L && j == 1.0 && isDup })
  }

  test("dedupCcVs over a stored (parquet round-tripped) index equals the in-process path") {
    // the steady-state contract: yesterday's signature table and prior
    // labels are TABLES a production pipeline writes at ingest — prove
    // the schema survives a parquet round trip and the probe gives
    // bit-identical labels when read back cold
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = docs.where(col("doc_id") % 3 === 1)
    val snapshot = docs.where(col("doc_id") % 3 =!= 1)
    val sigS = Dedup.minhashSignaturesOf(spark, snapshot)
    val symS = Dedup.symmetrize(
      Dedup.estOf(sigS.repartition(col("doc_id")))
        .where(col("est_j") >= Dedup.CcThreshold)
        .select(col("da"), col("db")))
    val prior = Dedup.propagateMin(spark,
      snapshot.select(col("doc_id"), col("doc_id").as("label")),
      symS, "spec/prior")
    val idx = java.nio.file.Files.createTempDirectory("graft-ccvs-idx").toString
    sigS.write.mode("overwrite").parquet(s"$idx/sig")
    prior.write.mode("overwrite").parquet(s"$idx/prior")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._1).toSeq
    val stored = rows(Dedup.dedupCcVs(spark, batch,
      spark.read.parquet(s"$idx/sig"), spark.read.parquet(s"$idx/prior")))
    val inline = rows(Dedup.dedupCcVs(spark, batch, sigS, prior))
    assert(stored.nonEmpty && stored === inline)
    assert(stored === rows(Dedup.dedupCc(spark, dir)),
      "stored-state probe must still equal the full recompute")
  }

  test("single-action operators leave nothing newly persisted after their action") {
    // the minhash/fingerprint/cell tables are shared through exchange
    // reuse (shuffle files, reclaimed automatically), NOT persist —
    // a long interactive session running these repeatedly must not
    // accumulate cached RDDs (r4 verdict: dedupMinhash/dedupEdit leaked
    // the persisted signature table)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.dedupMinhash(spark, dir).count()
    Dedup.dedupEdit(spark, dir).count()
    Dedup.dedupNgram(spark, dir).count()
    Dedup.dedupSimhashPairs(spark, dir).count()
    graft.operators.CorpusOps.taTfidf(spark, dir).count()
    graft.operators.Similarity.simIvfTopk(spark, dir).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"newly persisted RDD ids after actions: $leaked")
  }

  test("cut-point persists are released by the harness clearCache contract") {
    // These gates persist a deliberate cut point (a candidate table, a
    // two-consumer batch segment, or checkpointed loop rounds) whose
    // release contract is Graft.releaseState between queries — Bench,
    // Verify and ScaleRehearsal all call it. This sweep mechanizes the
    // contract: storage must be LIVE after the action (the cut point
    // is real, not vestigial) and GONE after releaseState (no
    // unreleasable handle). clearCache alone is NOT enough — this very
    // sweep caught stream_pack_bpe leaving the BPE trainer's 7
    // per-round localCheckpoints pinned (SparkContext.persistentRdds
    // holds strong refs, so GC can never reclaim them), which is what
    // releaseState exists to close.
    val sf = "/root/testdata/sf0.001"
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Seq("dedup_allpairs", "dedup_allpairs_incr", "dedup_recall_eval",
        "dedup_containment", "dedup_containment_incr",
        "stream_icp", "stream_pack",
        "stream_pack_bpe", "dedup_cc", "dedup_cc_star", "stream_cc",
        "graph_pagerank", "graph_communities", "graph_bfs", "graph_kcore",
        "vocab_bpe", "pipeline_ppl")
      .foreach { n =>
        SparkEntry.queries(n)(spark, sf).count()
        assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
          s"$n no longer persists its cut point — drop it from this sweep")
        Graft.releaseState(spark)
        val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(leaked.isEmpty,
          s"$n left persisted RDDs that releaseState could not release: $leaked")
      }
  }

  /** Transparent SemDeDup fixture: dim 16, the first 16 vectors are the
    * unit basis (so they seed the centroids and cell = argmax coord),
    * then four planted vectors whose assignments and pair dots are
    * hand-computable: 16/17 share cell 3 with dot 0.627e12 (a dup pair
    * that does NOT clear tau against the centroid vector itself — each
    * coord stays under 0.4), 18 shares cell 3 but correlates only 0.09,
    * 19 is an exact copy of basis vector 9. */
  private def basis(i: Int): Seq[Float] =
    Seq.tabulate(16)(j => if (j == i) 1.0f else 0.0f)
  private def sparse(m: Map[Int, Float]): Seq[Float] =
    Seq.tabulate(16)(j => m.getOrElse(j, 0.0f))

  private def writeSemFixture(extra: Seq[(Long, Seq[Float])]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    val planted = Seq(
      16L -> sparse((3 to 9).map(_ -> 0.30f).toMap),
      17L -> sparse((3 to 8).map(_ -> 0.30f).toMap + (9 -> 0.29f)),
      18L -> sparse(Map(3 -> 0.30f, 10 -> 0.29f)),
      19L -> basis(9))
    ((0L to 15L).map(i => i -> basis(i.toInt)) ++ planted ++ extra)
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  lazy val semDir: String = writeSemFixture(Nil)

  test("semantic dedup: within-cell near-dups flagged with min-id keeper; cell-mates below tau and cross-cell pairs untouched") {
    val rows = Dedup.dedupSemantic(spark, semDir).collect()
    assert(rows.length == 20, "every vector appears exactly once")
    val m = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getBoolean(2), if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    // assignments are argmax-coordinate by construction
    assert(m(16L)._1 == 3L && m(17L)._1 == 3L && m(18L)._1 == 3L && m(19L)._1 == 9L)
    // the planted pair: 17 dups 16 at the hand-computed exact dot
    assert(m(17L)._2 && m(17L)._3 == 16L && m(17L)._4 == 627000000000L)
    // keeper keeps: 16 has no smaller-id cell-mate above tau (its dot
    // with the basis centroid vector is 0.3e12 < 0.4e12)
    assert(!m(16L)._2 && m(16L)._3 == -1L)
    // same cell, low correlation: never flagged
    assert(!m(18L)._2)
    // exact copy collapses onto the smaller id, dot = 1e12
    assert(m(19L)._2 && m(19L)._3 == 9L && m(19L)._4 == 1000000000000L)
    assert(!m(9L)._2, "the keeper side of an exact pair stays")
    // nothing else flagged; every dup_of is a smaller id in the same cell
    assert(rows.count(_.getBoolean(2)) == 2)
    rows.filter(_.getBoolean(2)).foreach { r =>
      assert(r.getLong(3) < r.getLong(0))
      assert(m(r.getLong(3))._1 == r.getLong(1), "dup_of shares the cell")
    }
  }

  test("recall eval on the transparent fixture: perfect where probing covers the truth, 1/3 where it can't") {
    val m = graft.operators.Similarity.simRecallEval(spark, semDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m.size == 10 && m.values.forall(_._1 == 3L), "ground truth is top-3 for each probe")
    // query 3 probes its own cell {16,17,18} — exactly the brute top-3
    assert(m(3L) == ((3L, 3L, 1.0)))
    // query 9's true neighbors are {19, 16, 17} but probing reaches only
    // cells 9 and 0 → finds 19 alone; same 1/3 shape for query 0, whose
    // zero-dot ties {1,2,3} are reachable only via cell 1
    assert(m(9L)._2 == 1L && m(9L)._3 == 1.0 / 3.0)
    assert(m(0L)._2 == 1L)
    m.values.foreach { case (_, hits, rec) =>
      assert(hits >= 0L && hits <= 3L && rec >= 0.0 && rec <= 1.0)
    }
  }

  test("semantic dedup tau is a real parameter: raising it to 0.7e12 keeps only the exact copy") {
    val flagged = Dedup.dedupSemanticWith(spark, semDir, 700000000000L)
      .where(col("is_dup")).collect().map(_.getLong(0)).toSet
    assert(flagged == Set(19L))
  }

  /** semDir plus a planted CROSS-CELL pair: 20 = (5:0.70, 6:0.71) lands
    * in cell 6, 21 = (5:0.71, 6:0.70) in cell 5, each probing the
    * other's cell at nprobe=2 — with edges to basis 5/6 (dots 0.70e12 /
    * 0.71e12) they form one 4-vector component spanning two cells,
    * which within-cell pairing can never produce. */
  lazy val semCcDir: String = writeSemFixture(Seq(
    20L -> sparse(Map(5 -> 0.70f, 6 -> 0.71f)),
    21L -> sparse(Map(5 -> 0.71f, 6 -> 0.70f))))

  test("semantic CC: components span cell boundaries via the 2-probe edge graph; unprobed pairs stay apart even above tau") {
    val rows = Dedup.dedupSemanticCc(spark, semCcDir).collect()
    assert(rows.length == 22, "every vector appears exactly once")
    val m = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    // the cross-cell component: 21—5 (0.71e12), 20—21 (0.994e12),
    // 6—20 (0.71e12) chain into one cluster rooted at min id 5, with
    // members assigned to cell 5 (5, 21) AND cell 6 (6, 20)
    Seq(5L, 6L, 20L, 21L).foreach { id =>
      assert(m(id) == (5L, 4L, if (id == 5L) 1 else 0), s"vec $id: ${m(id)}")
    }
    // the within-cell pairs from the base fixture are unchanged
    assert(m(16L) == (16L, 2L, 1) && m(17L) == (16L, 2L, 0))
    assert(m(9L) == (9L, 2L, 1) && m(19L) == (9L, 2L, 0))
    // recall boundary, pinned: dot(16, 20) = 0.423e12 clears tau, but
    // neither probes the other's cell (16: cells 3,4; 20: cells 6,5),
    // so ANN semantics keep them in different clusters
    assert(m(16L)._1 != m(20L)._1)
    // everything else is a singleton canonical
    val others = m.keySet -- Set(5L, 6L, 20L, 21L, 16L, 17L, 9L, 19L)
    others.foreach(id => assert(m(id) == (id, 1L, 1), s"vec $id: ${m(id)}"))
  }

  test("recall eval: sampled truth pairs surface with their LSH-candidacy verdict") {
    // mod-2 sample of the planted corpus = {0, 2, 4}: the (0,2) 1-token
    // edit is the only true pair ≥ threshold inside the sample — the
    // (0,1) EXACT dup is excluded because 1 is odd (pair sampling at
    // work), and (0,4) reverses word order so its 3-gram sets are
    // nearly disjoint
    val rows = Dedup.dedupRecallEval(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(4), r.getInt(5))).toMap
    assert(rows.keySet == Set((0L, 2L)), s"truth set: ${rows.keySet}")
    val (j, cand) = rows((0L, 2L))
    assert(j >= Dedup.RecallThresh)
    // a 1-token edit shares almost all shingles: LSH banding must
    // surface it, or the index's recall story is broken at the easiest
    // possible pair
    assert(cand == 1)
  }

  test("keep-longest policy: keeper is the cluster's longest member, and the policy genuinely differs from min-id") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.dedupKeepLongest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty && rows.length == 500)
    val byCluster = rows.groupBy(_._2)
    for ((c, g) <- byCluster) {
      val keeper = g.map(_._4).distinct
      assert(keeper.length == 1, s"cluster $c has ${keeper.length} keepers")
      val k = g.find(_._1 == keeper.head).get
      // keeper maximizes (n_ws, then min id)
      assert(g.forall(m => m._3 < k._3 || (m._3 == k._3 && m._1 >= k._1)),
        s"cluster $c keeper ${k._1} not the longest member")
      assert(g.count(_._5 == 1) == 1)
    }
    // the policy must actually diverge from the min-id canonical
    // somewhere on the fixture, else this gate pins nothing
    val diverges = byCluster.values.exists { g =>
      g.map(_._4).head != g.map(_._1).min
    }
    assert(diverges, "keep-longest never differed from min-id on the fixture")
  }

  test("pairsOfLists emits each unordered pair once, (least, greatest), like the old flatMap") {
    // pins the r17 codegen pair generator (posexplode + suffix-slice
    // explode) against the typed-flatMap reference semantics it
    // replaced in dedupNgram / containmentOver: same MULTISET of
    // (da, db) pairs over arbitrary (distinct-element, unordered)
    // posting lists, including singleton and empty lists emitting none
    val lists = Seq(
      Seq(5L, 2L, 9L),          // unordered — value order must rule
      Seq(3L, 8L),
      Seq(7L),                  // singleton: no pairs
      Seq.empty[Long],          // empty: no pairs
      Seq(4L, 1L, 6L, 2L)       // 6 pairs
    ).toDF("ds")
    val got = Dedup.pairsOfLists(lists).as[(Long, Long)].collect().toSeq.sorted
    val want = Seq(
      Seq(5L, 2L, 9L), Seq(3L, 8L), Seq(7L), Seq.empty[Long], Seq(4L, 1L, 6L, 2L))
      .flatMap { ds =>
        for { x <- ds; y <- ds if x < y } yield (x, y)
      }.sorted
    assert(got == want, s"got $got want $want")
  }
}
