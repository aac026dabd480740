package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{DotProductI64, GraftExtensions, IntersectSizeSorted}

class FunctionsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  test("dot_i64: exact value via SQL registration") {
    DotProductI64.register(spark)
    val r = spark.sql(
      "SELECT dot_i64(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").head().getLong(0)
    assert(r == 4 + 10 + 18)
  }

  test("dot_i64 == interpreted zip_with/aggregate on real embeddings") {
    DotProductI64.register(spark)
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(50)
      .select(col("vec_id"), transform(col("embedding"),
        x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("ev"))
    val both = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .selectExpr(
        "dot_i64(a.ev, b.ev) as fast",
        "aggregate(zip_with(a.ev, b.ev, (x, y) -> x * y), 0L, (acc, v) -> acc + v) as slow")
    assert(both.where(col("fast") =!= col("slow")).count() == 0)
    assert(both.count() == 50 * 49 / 2)
  }

  test("dot_i64 nulls propagate; length mismatch fails loudly (no silent truncation)") {
    DotProductI64.register(spark)
    val row = spark.sql(
      """SELECT dot_i64(cast(null as array<bigint>), array(1L)) AS n,
        |       dot_i64(array(1L, cast(null as bigint)), array(1L, 1L)) AS en,
        |       dot_i64(array(2L, 3L), array(4L, 5L)) AS ok""".stripMargin).head()
    assert(row.isNullAt(0), "null array in -> null out")
    // a null ELEMENT also null-propagates, matching the zip_with/
    // aggregate formulation (reading the slot as 0 would corrupt dots)
    assert(row.isNullAt(1), "null element in -> null out")
    assert(row.getLong(2) == 23)
    // different-dimension vectors have no meaningful dot: loud failure,
    // never silent min-length truncation
    val e = intercept[Exception] {
      spark.sql("SELECT dot_i64(array(1L, 2L), array(3L)) AS d").head()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null && c.getMessage.contains("length mismatch")),
      s"expected a length-mismatch failure, got: $e")
  }

  test("approx_count_distinct lands within its error bound") {
    val r = graft.operators.Relational
      .q20ApproxDistinct(spark, "/root/testdata/sf0.001").head()
    assert(r.getLong(r.fieldIndex("exact_parts")) > 0)
    assert(r.getLong(r.fieldIndex("exact_orders")) > 0)
    // the within-5% flags ARE the error-bound check (and what the
    // DuckDB oracle asserts as constant 1)
    assert(r.getInt(r.fieldIndex("parts_within_tol")) === 1)
    assert(r.getInt(r.fieldIndex("orders_within_tol")) === 1)
  }

  test("GraftExtensions wires dot_i64 into a session built with it") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; injection list accepts it
  }

  test("intersect_size_sorted == size(array_intersect) on random sets; edges; codegen path") {
    import spark.implicits._
    IntersectSizeSorted.register(spark)
    val rng = new scala.util.Random(23)
    // random gram-id SETS (duplicate-free, the call-site contract)
    val rows = (0 until 200).map { i =>
      val a = rng.shuffle((0 until 500).map(_.toLong)).take(rng.nextInt(80)).distinct
      val b = rng.shuffle((0 until 500).map(_.toLong)).take(rng.nextInt(80)).distinct
      (i, a, b)
    }
    val df = rows.toDF("id", "a", "b")
      .selectExpr("id", "sort_array(a) as sa", "sort_array(b) as sb")
    def differential(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val q = d.selectExpr("id",
        "intersect_size_sorted(sa, sb) as merged",
        "cast(size(array_intersect(sa, sb)) as bigint) as builtin")
      val got = q.collect()
      assert(got.length == rows.length)
      got.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"row ${r.getInt(0)}: merged ${r.getLong(1)} vs builtin ${r.getLong(2)}"))
      q
    }
    differential(df)  // interpreted / constant-folded path
    // edges: empty sides, disjoint, identical
    val edge = Seq(
      (Seq.empty[Long], Seq(1L, 2L), 0L),
      (Seq(1L, 2L), Seq.empty[Long], 0L),
      (Seq(1L, 3L), Seq(2L, 4L), 0L),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L))
      .toDF("a", "b", "want")
      .selectExpr("intersect_size_sorted(sort_array(a), sort_array(b)) as got", "want")
      .collect()
    edge.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // the expression must run INSIDE whole-stage codegen on the hot
    // path, not fall back interpreted (the reason it exists), and give
    // the builtin's values there too. A bare local relation
    // constant-folds to LocalTableScan, so force a real exchange first
    // — the shape the dedup verify tiers actually have.
    val staged = differential(df.repartition(2))
    // AQE plan strings mark codegen'd nodes with a `*(n)` prefix (the
    // literal WholeStageCodegen node name only appears in non-adaptive
    // explain output); the Project lists `id` before the merge
    val plan = staged.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[[^\n]*intersect_size_sorted""".r
        .findFirstIn(plan).isDefined,
      s"intersect_size_sorted fell out of codegen:\n$plan")
  }

  test("intersect_size_sorted: null elements null the result wherever they sit") {
    import spark.implicits._
    IntersectSizeSorted.register(spark)
    // Position-INDEPENDENT null propagation: before the r12 pre-scan a
    // null past the point where the shorter array exhausted slipped
    // through ([1] vs [1, null] → 1 while [1] vs [null, 1] →
    // NULL). Now any null member on either side nulls the result, in
    // both interpreted (LocalTableScan) and codegen (post-exchange)
    // paths. toDF on Seq[Option[Long]] yields containsNull=true
    // arrays, so the null branch is genuinely exercised.
    val rows = Seq(
      (1, Seq(Option(1L)), Seq(Option(1L), None)),            // null AFTER exhaustion
      (2, Seq(Option(1L)), Seq(None, Option(1L))),            // null BEFORE
      (3, Seq(Option(1L), None), Seq(Option(1L))),            // left side, after
      (4, Seq(Option(1L), Option(2L)), Seq(Option(1L), Option(2L))))
      .toDF("id", "a", "b")
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = df.selectExpr("id", "intersect_size_sorted(a, b) as x")
        .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toMap
      assert(got === Map(1 -> -1L, 2 -> -1L, 3 -> -1L, 4 -> 2L), s"got $got")
    }
    check(rows)                 // interpreted / constant-folded path
    check(rows.repartition(2))  // whole-stage codegen path
  }

  test("intersect_size_sorted: array<bigint> variant matches array_intersect; mixed types rejected") {
    import spark.implicits._
    IntersectSizeSorted.register(spark)
    // the random-set differential vs the builtin is the first
    // intersect_size_sorted test. Negative-ID ordering: sort_array puts
    // negatives first and the signed Long.compare merge must agree (gram
    // ids are non-negative on the in-repo path, but the SQL surface
    // makes no such promise)
    val neg = Seq((Seq(-5L, -1L, 3L), Seq(-5L, 2L, 3L), 2L))
      .toDF("a", "b", "want")
      .selectExpr("intersect_size_sorted(sort_array(a), sort_array(b)) as got", "want")
      .collect()
    neg.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // mixed element types must fail analysis, not mis-compare
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1L), Seq("a"))).toDF("a", "b")
        .selectExpr("intersect_size_sorted(a, b)").collect()
    }
    assert(err.getMessage.contains("intersect_size_sorted"))
    // every call site packs gram ids, so string arrays are rejected too,
    // and the failure names both argument types
    val str = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq("a"), Seq("a"))).toDF("a", "b")
        .selectExpr("intersect_size_sorted(a, b)").collect()
    }
    assert(str.getMessage.contains("(array<string>, array<string>)"), str.getMessage)
  }
}
