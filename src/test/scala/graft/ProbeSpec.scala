package graft

import graft.tools.{Probe, RunListener, Tally}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

/** [[Probe]] driven through `Probe.run` on the shared test session (its
  * `main` would build a 32-partition session over this one), and the
  * [[RunListener]] it reads. */
class ProbeSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def field(line: String, name: String): Long =
    s"""\\b$name=(\\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
      .getOrElse(fail(s"no $name= in: $line"))

  // sql_direct's oracle SQL is portable, so the sql mode answers on both
  // sides (most twins are DuckDB dialect and report a FAILED line there)
  test("every mode runs a gate and reports no failure") {
    for (mode <- Probe.Modes) {
      val lines = Probe.run(spark, mode, sf, Seq("sql_direct"))
      assert(lines.nonEmpty, mode)
      assert(!lines.exists(_.contains("FAILED")), s"$mode: ${lines.mkString("\n")}")
      if (mode == "sql") {
        val rows = lines.map(l => """\((\d+) rows\)""".r.findFirstMatchIn(l).get.group(1))
        assert(lines.size == 4 && rows.distinct.size == 1, lines.mkString("\n"))
      }
    }
    val out = java.nio.file.Files.createTempDirectory("probe-explain").toFile
    val Seq(line) = Probe.run(spark, "explain", sf, Seq("sql_direct"), Some(out.getPath))
    assert(line.endsWith("sql_direct.txt"))
    assert(new java.io.File(out, "sql_direct.txt").length() > 0)
  }

  test("explain --out writes normalized plans: two runs of one gate are byte-identical") {
    // the plan-identity check is `diff -r` of two --out dirs, so run-
    // varying ids must not reach the files; stdout stays raw
    val gate = "dedup_allpairs"
    val dirs = Seq("a", "b").map(n =>
      java.nio.file.Files.createTempDirectory(s"probe-explain-$n").toFile)
    dirs.foreach(d => Probe.run(spark, "explain", sf, Seq(gate), Some(d.getPath)))
    val Seq(a, b) = dirs.map(d =>
      java.nio.file.Files.readAllBytes(new java.io.File(d, s"$gate.txt").toPath))
    assert(a.nonEmpty && java.util.Arrays.equals(a, b))
    val text = new String(a, "UTF-8")
    assert("#\\d".r.findFirstIn(text).isEmpty, "expression ids must be normalized away")
    val Seq(raw) = Probe.run(spark, "explain", sf, Seq(gate))
    assert("#\\d".r.findFirstIn(raw).isDefined, "stdout keeps the raw plan")
  }

  test("final reads the executed adaptive plan, finalized") {
    val lines = Probe.run(spark, "final", sf, Seq("dedup_exact", "dedup_containment"))
    assert(lines.size == 2)
    assert(lines.forall(_.contains(" isFinalPlan=true ")), lines.mkString("\n"))
  }

  test("jobs reports the listener's jobs and tasks") {
    val lines = Probe.run(spark, "jobs", sf, Seq("dedup_exact"))
    val head = lines.head
    val listener = RunListener.of(spark)
    assert(field(head, "jobs") > 0, head)
    assert(field(head, "jobs") == listener.jobs.size)
    assert(lines.count(_.startsWith("[job] ")) == listener.jobs.size)
    assert(field(head, "tasks") == listener.totals.tasks, head)
    assert(field(head, "stages") == listener.stages.size, head)
  }

  test("reset after a gate runs leaves every counter at zero: no late task end bleeds in") {
    val listener = RunListener.of(spark)
    // a slow listener on the same bus holds task ends back past the
    // action's return, as a busy bus would: 64 tasks end in a burst
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      SparkEntry.queries("dedup_exact")(spark, sf).count()
      spark.range(0, 64, 1, 64).count()
      listener.reset()
      assert(listener.totals == Tally())
      assert(listener.jobs.isEmpty && listener.stages.isEmpty)
    } finally {
      spark.sparkContext.removeSparkListener(slow)
      Graft.releaseState(spark)
    }
  }

  test("an unknown mode or gate fails before running, naming it") {
    val mode = intercept[IllegalArgumentException](
      Probe.run(spark, "no_such_mode", sf, Seq("dedup_exact")))
    assert(mode.getMessage.contains("no_such_mode"))
    val gate = intercept[IllegalArgumentException](
      Probe.run(spark, "jobs", sf, Seq("dedup_exact", "no_such_gate")))
    assert(gate.getMessage.contains("no_such_gate"))
  }
}
