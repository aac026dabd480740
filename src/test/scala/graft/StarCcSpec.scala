package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, EntityResolution}

/** Adversarial-topology tests for the large-star/small-star connected
  * components variant: a 1000-node path is the worst case for
  * min-label propagation (diameter 999 ⇒ 500 two-hop rounds) and the
  * exact case star contraction exists for — it must converge in O(log n)
  * rounds to the same unique fixpoint (min node id per component).
  */
class StarCcSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  /** [[Dedup.propagateMin]]'s (doc_id, label) rows on both paths: the
    * forced distributed rounds, then the driver union-find — which the
    * default call takes, since `sym` fits [[Dedup.LocalCcMaxEdges]]. */
  private def bothPaths(init: DataFrame, sym: DataFrame,
      what: String): (Set[(Long, Long)], Set[(Long, Long)]) = {
    assert(sym.count() <= Dedup.LocalCcMaxEdges, s"$what must fit the local path")
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = Dedup.propagateMin(spark, init, sym, s"$what/distributed", localMaxEdges = -1)
    val local = Dedup.propagateMin(spark, init, sym, s"$what/local")
    assert(local.schema.map(f => f.name -> f.dataType) ==
      dist.schema.map(f => f.name -> f.dataType))
    (rows(dist), rows(local))
  }

  test("1000-node path converges in O(log n) rounds to the component min") {
    val n = 1000
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("src", "dst")
    val (star, rounds) = Dedup.starContract(edges)
    assert(rounds <= 15, s"path of $n nodes must need O(log n) rounds, took $rounds")
    val labels = star.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fixpoint = star: every non-min node points straight at node 0
    assert(labels.size == n - 1)
    assert(labels.values.forall(_ == 0L), "all nodes must label to the component min")
  }

  test("a cap one round short of the signature-stable round still returns the star") {
    // the observed loop stops one round before it could SEE the fixpoint
    // (signatures of rounds R-1 and R equal); the deterministic re-check
    // must confirm the capped state is already the star, not throw
    val n = 1000
    val edges = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
      .toDF("src", "dst")
    val (_, stable) = Dedup.starContract(edges)
    val (star, rounds) = Dedup.starContract(edges, maxIters = stable - 1)
    assert(rounds == stable - 1)
    val labels = star.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n - 1 && labels.values.forall(_ == 0L),
      "the re-checked capped state must be the star onto node 0")
  }

  test("a cap far too small throws instead of returning a partial contraction") {
    val edges = (0 until 999).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    intercept[IllegalStateException](Dedup.starContract(edges, maxIters = 2))
  }

  test("multiple components + isolated nodes keep distinct minima") {
    // components {0..4} (cycle), {10..12} (triangle), {20,21}; 30 isolated
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L)).toDF("src", "dst")
    val (star, _) = Dedup.starContract(edges)
    val labels = star.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(labels(_) == 0L))
    assert(Seq(11L, 12L).forall(labels(_) == 10L))
    assert(labels(21L) == 20L)
    assert(!labels.contains(30L) && !labels.contains(0L))
  }

  test("star fixpoint equals one-hop min-label propagation fixpoint") {
    // random-ish deterministic graph: chains + cross links
    val edges = (0 until 200).map { i =>
      val a = (i * 37) % 100; val b = (i * 53 + 7) % 100
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }.toDF("src", "dst")

    val (star, _) = Dedup.starContract(edges)
    val starLabels = star.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reference: driver-side union-find over the same edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = parent.keys.toSeq
    val expect = nodes.map(x => x -> find(x)).filter { case (x, r) => x != r }.toMap
    assert(starLabels == expect)
  }

  test("propagateMin escalates past the round cap to star contraction, preserving min-INIT-label semantics") {
    // A 40-hop path needs all 40 hops of CcMaxIters = 20 two-hop
    // rounds: hop 40 still lowers node 0's label in round 20, so the
    // loop is capped, forcing the r15 escalation (the mixed/
    // boilerplate 100× legs proved deep chains are the NORMAL topology
    // of a boilerplate corpus — three gates died of the old throw). The fallback must reproduce
    // propagateMin's fixpoint for an ARBITRARY init labeling — per
    // node, the minimum INIT LABEL over its component (not the
    // component-min node id): init label = 1000 − doc_id makes the
    // component minimum 1000 − 40 = 960, owned by the LAST node, so a
    // fallback that returned component-min ids (= node 0's label 1000)
    // would fail. Isolated node 99 must keep its own init label.
    val n = 41
    val sym = Dedup.symmetrize(
      (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("da", "db"))
      .persist()
    val init = ((0 until n).map(_.toLong) :+ 99L)
      .map(id => (id, 1000L - id)).toDF("doc_id", "label")
    val rounds = Dedup.propagateRounds(init, sym)
    assert(!rounds.converged && rounds.rounds == Dedup.CcMaxIters,
      "the 40-hop chain must hit the round cap, or escalation never runs")
    // one hop shorter settles on round 20's second hop: no escalation
    val shorter = Dedup.propagateRounds(init.where($"doc_id" < n - 1),
      sym.where($"src" < n - 1 && $"dst" < n - 1))
    assert(shorter.converged && shorter.rounds == Dedup.CcMaxIters)
    // forced onto the rounds: the 40-edge chain would otherwise be
    // solved on the driver and never escalate
    val (dist, local) = bothPaths(init, sym, "escalation-spec")
    sym.unpersist()
    assert(local == dist, "the driver solve must give the escalation's labels")
    val out = dist.toMap
    assert((0 until n).forall(i => out(i.toLong) == 1000L - (n - 1)),
      s"every chain node must take the component's min init label: $out")
    assert(out(99L) == 1000L - 99L, "isolated node keeps its own init label")
  }

  test("two-hop rounds converge exactly on odd-diameter chains (fixpoint mid-round)") {
    // r17: propagateMin propagates TWO hops per checkpointed round and
    // tests convergence on the SECOND hop's change count. An
    // odd-diameter chain reaches its fixpoint on a round's FIRST hop —
    // the subtle exit case: the second hop observes 0 changes, which
    // must mean "hop-1's labeling is the fixpoint and it IS what the
    // round checkpointed", not "exit one hop early". A 4-node path
    // 0–1–2–3 (diameter 3) with min id at the far end via init labels:
    // round 1 = hops 1–2 (changes), round 2 = hop 3 (change) + hop 4
    // (none) → converged with hop 3's change INCLUDED.
    val sym = Dedup.symmetrize(
      Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("da", "db")).persist()
    val init = (0L to 3L).map(id => (id, 10L + (3L - id))).toDF("doc_id", "label")
    val (dist, local) = bothPaths(init, sym, "two-hop-odd-spec")
    sym.unpersist()
    assert(local == dist, "the driver solve must give the rounds' labels")
    val out = dist.toMap
    assert((0L to 3L).forall(out(_) == 10L),
      s"all chain nodes must carry the component-min init label 10: $out")
  }

  test("local and distributed propagateMin agree on dedup_cc's graph at both fixture SFs") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = s"/root/testdata/$sf"
      val (mh, sym) = Dedup.ccSymEdges(spark, dir)
      val init = Tables.documents(spark, dir).select($"doc_id", $"doc_id".as("label"))
      val (dist, local) = bothPaths(init, sym, s"dedup_cc-$sf")
      sym.unpersist()
      mh.unpersist()
      assert(dist.exists { case (d, l) => d != l }, s"$sf: the graph must merge something")
      assert(local == dist, s"$sf: ${(local -- dist).take(3)} vs ${(dist -- local).take(3)}")
    }
  }

  test("local and distributed propagateMin agree on er_entities' match graph") {
    val (dn, sym) = EntityResolution.erSymEdges(spark, "/root/testdata/sf0.01")
    val (dist, local) = bothPaths(dn.select($"rep".as("doc_id"), $"rep".as("label")),
      sym, "er_entities")
    sym.unpersist()
    assert(dist.exists { case (d, l) => d != l }, "the match graph must merge something")
    assert(local == dist, s"${(local -- dist).take(3)} vs ${(dist -- local).take(3)}")
  }

  test("an endpoint init never labeled blocks the merge on both paths") {
    // 1–2–3 bridges through node 2, which init does not label: no label
    // moves through it, so 1 keeps 10 instead of taking 3's label, and
    // 2 stays out of the output; 4–5 merges normally
    val sym = Dedup.symmetrize(
      Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("da", "db")).persist()
    val init = Seq((1L, 10L), (3L, 3L), (4L, 4L), (5L, 5L)).toDF("doc_id", "label")
    val (dist, local) = bothPaths(init, sym, "bridge-spec")
    sym.unpersist()
    assert(dist.toMap == Map(1L -> 10L, 3L -> 3L, 4L -> 4L, 5L -> 4L))
    assert(local == dist)
  }
}
