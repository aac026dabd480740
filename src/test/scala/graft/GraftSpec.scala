package graft

import org.scalatest.funsuite.AnyFunSuite

/** The public facade: catalog, table access, operator execution, SQL
  * over registered views, and explain — the surface a user drives
  * without knowing the package layout.
  */
class GraftSpec extends AnyFunSuite {

  lazy val g = Graft(TestSpark.session, "/root/testdata/sf0.001")

  test("catalog lists every registered operator and all fixture tables") {
    assert(g.ops.size == SparkEntry.queries.size)
    assert(g.ops.contains("q1_agg") && g.ops.contains("dedup_minhash"))
    assert(g.tableNames.forall(n => g.table(n).columns.nonEmpty))
  }

  test("run executes an operator at its gate point; unknown names fail loudly") {
    assert(g.run("q1_agg").count() > 0)
    intercept[IllegalArgumentException] { g.run("no_such_op") }
    intercept[IllegalArgumentException] { g.table("no_such_table") }
  }

  test("rangeSplit cuts at lo + i*(hi-lo)/parts and rejects an empty input naming the key") {
    val s = TestSpark.session
    import s.implicits._
    val df = (0L to 11L).toDF("k")
    def ranges(parts: Int): Seq[Seq[Long]] = Graft.rangeSplit(df, "k", parts)
      .map(_.collect().map(_.getLong(0)).sorted.toSeq)
    assert(ranges(2) == Seq(0L to 5L, 6L to 11L))
    // multiply before divide: the second cut is 2*11/3 = 7, not 2*(11/3) = 6
    assert(ranges(3) == Seq(0L to 3L, 4L to 7L, 8L to 11L))
    val e = intercept[IllegalArgumentException] {
      Graft.rangeSplit(df.where($"k" < 0L), "k", 2)
    }
    assert(e.getMessage.contains("`k`"), e.getMessage)
  }

  test("sql sees the fixture tables as views") {
    assert(g.sql("SELECT count(*) AS n FROM documents").head().getLong(0) > 0)
    assert(g.sql(
      "SELECT dot_i64(array(1L, 2L), array(3L, 4L)) AS d").head().getLong(0) == 11L)
  }

  test("explain returns the formatted physical plan") {
    val plan = g.explain("q2_selective_agg")
    assert(plan.contains("PushedFilters") || plan.contains("Scan parquet"),
      s"expected a formatted plan, got:\n${plan.take(500)}")
  }

  test("runVs: two-corpus operators run end-to-end on documents-shaped inputs") {
    import org.apache.spark.sql.functions._
    assert(g.vsOps == Seq("ta_lm_score_vs", "ta_decontaminate_vs",
      "dedup_incremental_vs", "dedup_minhash_vs", "dedup_containment_vs"))
    intercept[IllegalArgumentException] {
      g.runVs("no_such_vs", g.table("documents"), g.table("documents"))
    }

    val docs = g.table("documents")
    val snapshot = docs.where(col("doc_id") % 3 =!= 0)
    // plant one incoming doc duplicating a snapshot doc's text exactly
    val incoming = docs.where(col("doc_id") % 3 === 0).unionByName(
      docs.where(col("doc_id") === 1).withColumn("doc_id", lit(999999L)))

    // exact incremental dedup: the planted dup is flagged seen, and
    // genuinely new docs exist too
    val incr = g.runVs("dedup_incremental_vs", incoming, snapshot)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(incr(999999L) == 0, "planted exact dup must be flagged as seen")
    assert(incr.valuesIterator.contains(1), "fresh docs must be is_new=1")
    assert(incr.size == incoming.count())

    // near-dup vs snapshot: the planted doc's best match is doc 1, an
    // identical signature → est 1.0, flagged dup
    val mh = g.runVs("dedup_minhash_vs", incoming, snapshot)
    val planted = mh.where(col("doc_id") === 999999L).collect()
    assert(planted.length == 1 && planted.head.getLong(1) == 1L
      && planted.head.getBoolean(3),
      s"planted near-dup must match doc 1: ${planted.mkString}")

    // containment vs snapshot: the planted doc is byte-identical to
    // doc 1, so the (new, old) pair surfaces at containment 1.0
    val cont = g.runVs("dedup_containment_vs", incoming, snapshot)
      .where(col("new_id") === 999999L && col("old_id") === 1L).collect()
    assert(cont.length == 1 && cont.head.getDouble(5) == 1.0,
      s"planted exact copy must be fully contained: ${cont.mkString}")

    // scoring shapes: one row per left doc for LM score and decontaminate
    assert(g.runVs("ta_lm_score_vs", incoming, snapshot).count() == incoming.count())
    assert(g.runVs("ta_decontaminate_vs", incoming, snapshot).count() == incoming.count())
  }
}
