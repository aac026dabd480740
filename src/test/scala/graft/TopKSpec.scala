package graft

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import scala.util.Random
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{IdCodes, TopKAgg}
import graft.operators.CorpusOps

/** The bounded top-K aggregate: reduce/merge equal sorted-take(K), the
  * state cap holds at every step, partition order can't change the
  * result, and the domain-cap gate equals its window twin.
  */
class TopKSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val K = 7
  private val agg = new TopKAgg[String](K)

  /** Random `keys` split in two, each half folded by reduce, then
    * merged: equals sorted.take(K), and no state ever exceeds K. */
  private def checkReduceMerge[T: Ordering: ClassTag: TypeTag](draw: Random => T): Unit = {
    val agg = new TopKAgg[T](K)
    val rnd = new Random(3)
    (1 to 50).foreach { _ =>
      val keys = Seq.fill(rnd.between(0, 60))(draw(rnd))
      val (l, r) = keys.splitAt(rnd.between(0, keys.size + 1))
      def fold(vs: Seq[T]) = vs.foldLeft(agg.zero) { (b, k) =>
        val nb = agg.reduce(b, k); assert(nb.length <= K); nb
      }
      val merged = agg.merge(fold(l), fold(r))
      assert(merged.toSeq == keys.sorted.take(K))
    }
  }

  test("reduce+merge == sorted.take(K) on random streams, state never exceeds K") {
    checkReduceMerge(_.alphanumeric.take(8).mkString)
    checkReduceMerge(_.between(0L, 40L)) // small range: duplicate keys are kept
    // distinct ids (vector ids are): the payload must follow its id
    val ids = Iterator.from(0).map(_.toLong * 7919 % 100003)
    checkReduceMerge(r => IdCodes(ids.next(), Seq.fill(3)(r.nextInt(256))))
  }

  test("distributed: skewed partitioning yields the identical top-K per group") {
    import spark.implicits._
    val rows = (1L to 5000L).map(i =>
      (if (i % 10 == 0) "small" else "huge", f"${(i * 48271) % 99991}%06d:$i%012d"))
    val qa = udaf(agg)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("g")).agg(qa(col("k")).as("topk"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val base = run(rows.toDF("g", "k"))
    val skewed = run(rows.toDF("g", "k").repartition(17, col("k")))
    assert(base == skewed)
    base.foreach { case (g, ks) =>
      val want = rows.filter(_._1 == g).map(_._2).sorted.take(K)
      assert(ks == want, s"group $g top-K wrong")
    }
  }

  test("sample_domain_cap == its window-rank formulation, with exact domain counts") {
    import org.apache.spark.sql.expressions.Window
    val dir = "/root/testdata/sf0.001"
    val got = CorpusOps.sampleDomainCap(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("source")).orderBy(col("k"))
    val want = docs
      .select(col("doc_id"), col("source"),
        format_string("%s:%012d", md5(col("doc_id").cast("string")), col("doc_id")).as("k"))
      .withColumn("n_domain", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= CorpusOps.DomainCapK)
      .select(col("source"), col("n_domain"), col("rn").cast("long"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want && got.nonEmpty)
    // every domain is actually capped
    got.groupBy(_._1).values.foreach(g =>
      assert(g.size <= CorpusOps.DomainCapK))
  }

  test("sample_cluster_cap: kept vectors are a capped subset of their k-means cell") {
    val dir = "/root/testdata/sf0.001"
    val kept = CorpusOps.sampleClusterCap(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.nonEmpty)
    val assign = graft.operators.KMeans.embKmeans(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    kept.groupBy(_._1).foreach { case (cell, rows) =>
      assert(rows.size <= CorpusOps.ClusterCapK, s"cell $cell over cap")
      assert(rows.map(_._4).toSet.size == rows.size, "vec kept once")
      rows.foreach { case (c, n, _, vec) =>
        assert(assign(vec) == (c, n), s"vec $vec not in cell $c per k-means")
      }
      // a full cell keeps exactly K; a small cell keeps all members
      val full = rows.head._2 >= CorpusOps.ClusterCapK
      assert(rows.size == (if (full) CorpusOps.ClusterCapK else rows.head._2.toInt))
    }
  }
}
