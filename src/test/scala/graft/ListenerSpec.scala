package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite
import graft.mr.{Apps, MRJob}
import graft.tools.RunListener
import scala.collection.concurrent.TrieMap

/** SURVEY §2.2 A6 (jobcount): the reference asserts every map task ran
  * exactly once — 8 input files ⇒ 8 marker files
  * (`main/test-mr.sh:200-223`, `mrapps/jobcount.go:22-46`). The Spark
  * analog is scheduler-level: a SparkListener counts task-end events
  * for a no-failure MRJob run and asserts exactly one successful
  * attempt (attemptNumber 0) per (stage, partition) — no
  * over-execution, no speculative re-runs, no silent retries.
  * (Retry-correctness under injected failures is FormatsSpec's chaos
  * test; this spec pins the exactly-once scheduling of the happy
  * path.)
  */
class ListenerSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  test("jobcount: no-failure MRJob runs every task exactly once") {
    // (stageId, partitionIndex) -> every observed (attemptNumber, successful)
    val attempts = TrieMap.empty[(Int, Int), List[(Int, Boolean)]]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val k = (e.stageId, e.taskInfo.index)
        val v = (e.taskInfo.attemptNumber, e.taskInfo.successful)
        attempts.updateWith(k)(cur => Some(v :: cur.getOrElse(Nil)))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val corpus = Seq(
        "a.txt" -> "x y z x", "b.txt" -> "y z", "c.txt" -> "z z q",
        "d.txt" -> "q r s", "e.txt" -> "s t u v", "f.txt" -> "v w",
        "g.txt" -> "w x", "h.txt" -> "x y")
      val out = MRJob.run(corpus.toDS(), Apps.wcMap, Apps.wcReduce).collect()
      assert(out.nonEmpty)
      // the listener bus delivers asynchronously — wait until the
      // event count is stable before asserting
      var last = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val n = attempts.values.map(_.size.toLong).sum
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(attempts.nonEmpty, "listener saw no tasks")
    val flat = attempts.values.flatten
    assert(flat.forall { case (att, ok) => att == 0 && ok },
      s"every task must succeed on attempt 0: ${attempts.filter(_._2.exists(v => v._1 != 0 || !v._2))}")
    val multi = attempts.filter(_._2.size != 1)
    assert(multi.isEmpty, s"tasks ran more than once: $multi")
  }

  test("runFiles runs two jobs: the map stage, then the reduce stage that writes") {
    val in = java.nio.file.Files.createTempDirectory("graft-jobs-in")
    for (i <- 1 to 5) java.nio.file.Files.writeString(in.resolve(s"f$i.txt"), s"w$i x y x")
    val out = s"${java.nio.file.Files.createTempDirectory("graft-jobs-out")}/out"
    val listener = RunListener.of(spark)
    listener.reset()
    MRJob.runFiles(spark, in.toString, out, Apps.wcMap, Apps.wcReduce)
    assert(listener.jobs.size == 2, listener.jobs)
  }

  test("in-flight data-quality counters (Observation API) match a separate audit query, at zero extra passes") {
    // the production shape for pipeline health metrics at 100 TB: a
    // run the pipeline is ALREADY making carries its own audit counters
    // (row count, empty-text count, length extremes) via df.observe —
    // no second scan, no separate audit job. The spec pins (a) the
    // counters equal a standalone audit aggregate, and (b) they
    // describe the rows AT the observe point even though the action
    // only consumed a filtered subset downstream.
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val obs = Observation("dq")
    val docs = Tables.documents(spark, sf)
      .observe(obs,
        count(lit(1)).as("rows"),
        sum(when(length(col("text")) === 0, 1).otherwise(0)).as("empty_text"),
        max(col("n_chars")).as("max_chars"))
    val enOnly = docs.where(col("lang") === "en").count() // the real action
    val m = obs.get
    val audit = Tables.documents(spark, sf)
      .agg(count(lit(1)), sum(when(length(col("text")) === 0, 1).otherwise(0)),
        max(col("n_chars"))).head()
    assert(m("rows") == audit.getLong(0), "row counter == audit count")
    assert(m("empty_text") == audit.getLong(1))
    assert(m("max_chars") == audit.getLong(2))
    assert(enOnly < audit.getLong(0),
      "the downstream filter consumed a strict subset, yet counters saw every row")
  }
}
