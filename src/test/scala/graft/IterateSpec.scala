package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Graft.iterate]]'s storage and convergence contract, on toy loops
  * small enough to count every persisted RDD. */
class IterateSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddIds(df: DataFrame): Seq[Int] = df.queryExecution.analyzed.collect {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
  }

  test("a 30-round loop keeps live storage bounded: superseded rounds are released") {
    val before = live
    val init = Graft.compactCheckpoint(spark.range(100).toDF("x"))
    var peak = 0
    val fx = Graft.iterate(init, 30) { cur =>
      peak = math.max(peak, (live -- before).size)
      cur.select((col("x") + 1).as("x"))
    }
    assert(fx.rounds == 30 && !fx.converged)
    assert(fx.state.agg(min(col("x")), max(col("x"))).head().toSeq == Seq(30L, 129L))
    // init + the latest round, whatever the round count
    assert(peak <= 2, s"live checkpoints grew with the rounds: $peak")
    assert((live -- before).size <= 2)
    Graft.releaseState(spark)
  }

  test("an empty state converges after round 1: its null observation reads as zero") {
    val init = Graft.compactCheckpoint(spark.range(0).toDF("x"))
    val fx = Graft.iterate(init, 10,
      Some(Graft.Until(sum(col("x")), (_, v) => v == 0L))) { cur =>
      cur.select((col("x") + 1).as("x"))
    }
    assert(fx.converged && fx.rounds == 1)
    Graft.releaseState(spark)
  }

  test("the initial state is never released, the superseded rounds always are") {
    val init = Graft.compactCheckpoint(spark.range(10).toDF("x"))
    var rounds = Seq.empty[DataFrame]
    val fx = Graft.iterate(init, 4) { cur =>
      if (cur ne init) rounds :+= cur
      cur.select((col("x") * 2).as("x"))
    }
    assert(rddIds(init).nonEmpty && rddIds(init).forall(live.contains),
      "the caller's initial state must stay persisted")
    assert(init.count() == 10L)
    assert(rounds.size == 3 && rounds.flatMap(rddIds).forall(id => !live.contains(id)),
      "every superseded round must be released")
    assert(rddIds(fx.state).forall(live.contains))
    Graft.releaseState(spark)
  }
}
