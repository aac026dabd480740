package graft.tools

import graft.{Bench, Graft, SparkEntry}
import graft.operators.SqlSurface
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** One probe for how a registered gate runs:
  * `scripts/run.sh graft.tools.Probe <mode> <sfDir> [--out <dir>] [gate...]`
  * (no gate = every registered gate, in name order). Modes:
  *   - `explain`: the formatted physical plan before execution (with
  *     `--out`, one `<gate>.txt` per gate instead of stdout, passed
  *     through [[graft.Bench.normalizePlan]] so expression ids, plan
  *     ids and paths drop out and `diff -r` of two runs' directories
  *     shows only real plan moves; stdout stays raw).
  *   - `final`: executes the gate's OWN plan and prints the node census
  *     of the final adaptive plan — executed scans and exchanges vs the
  *     ones AQE served by stage reuse, which the static explain cannot
  *     tell apart. A plan that did not finalize prints a FAILED line.
  *   - `jobs`: per Spark job, wall time, stages and tasks that ran.
  *   - `stages`: per stage, tasks, executor time, the dominant task,
  *     CPU/GC/deserialize split, shuffle and spill bytes, operators.
  *   - `io`: task input bytes and rows, shuffle bytes and CPU.
  *   - `sql`: the gate's oracle SQL run in Spark over the raw fixture
  *     tables, then its DataFrame form, each warm then timed — the A/B
  *     that tells an expensive question from an expensive build.
  * jobs and stages report the second of two runs with the first run's
  * persisted state released in between (a warm JVM, the full job set);
  * io reports the second run WITHOUT that release — the bench
  * protocol, where run 2 reuses run 1's persisted intermediates.
  * `SPARK_GRAFT_CPUS` (default 32) sets the local cores. */
object Probe {
  val Modes = Seq("explain", "final", "jobs", "stages", "io", "sql")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <mode> <sfDir> [--out <dir>] [gate...]")
    val (mode, dir) = (args(0), args(1))
    val (out, gates) = args.drop(2).toSeq match {
      case Seq("--out", o, rest @ _*) => (Some(o), rest)
      case rest => (None, rest)
    }
    val spark = Graft.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, mode, dir, gates, out, println) finally spark.stop()
  }

  /** Runs `mode` over `gates` (all registered gates when empty) and
    * returns the lines it reports, handing each to `emit` as soon as it
    * exists. A gate that throws reports one FAILED line; an unknown mode
    * or gate throws before anything runs. Every gate's persisted state
    * is released after it. */
  def run(spark: SparkSession, mode: String, dir: String, gates: Seq[String],
      out: Option[String] = None, emit: String => Unit = _ => ()): Seq[String] = {
    val lines = Seq.newBuilder[String]
    def say(line: String): Unit = { lines += line; emit(line) }
    resolve(mode, gates, out).foreach { gate =>
      try probe(spark, mode, dir, gate, out, say)
      catch { case NonFatal(e) => say(s"[$mode] $gate FAILED: $e") }
      finally Graft.releaseState(spark)
    }
    lines.result()
  }

  private def resolve(mode: String, gates: Seq[String], out: Option[String]): Seq[String] = {
    require(Modes.contains(mode), s"unknown mode '$mode' (${Modes.mkString("|")})")
    require(out.isEmpty || mode == "explain", s"--out is explain-only, not '$mode'")
    val unknown = gates.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
    if (gates.isEmpty) SparkEntry.queries.keys.toSeq.sorted else gates
  }

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def mb(bytes: Long): Double = bytes / 1e6

  private def probe(spark: SparkSession, mode: String, dir: String,
      gate: String, out: Option[String], say: String => Unit): Unit = {
    def query() = SparkEntry.queries(gate)(spark, dir)
    val listener = RunListener.of(spark)
    // warm run, optional release, listener reset, reported run
    def measured(release: Boolean): String = {
      query().count()
      if (release) Graft.releaseState(spark)
      listener.reset()
      val (rows, wall) = seconds(query().count())
      f"[$mode] $gate: $rows rows, wall=$wall%.2f s"
    }
    mode match {
      case "explain" =>
        val text = query().queryExecution.explainString(FormattedMode)
        out match {
          case None => say(s"===== $gate =====\n$text")
          case Some(o) =>
            new java.io.File(o).mkdirs()
            val path = s"$o/$gate.txt"
            val w = new java.io.PrintWriter(path, "UTF-8")
            try w.println(Bench.normalizePlan(text)) finally w.close()
            say(s"[explain] $gate -> $path")
        }

      case "final" =>
        val df = query()
        // Execute df's OWN plan without collecting: count() would run a
        // new Dataset's plan and leave df's executedPlan unfinalized
        // (isFinalPlan=false, zero query stages — the artifact this mode
        // exists to avoid reading), and df.rdd runs a separate
        // rddQueryExecution, the same trap. toRdd runs df's
        // queryExecution; foreach discards rows in the executors, so
        // row-explosive operators are never collected.
        df.queryExecution.toRdd.foreach(_ => ())
        val plan = df.queryExecution.executedPlan.toString
        val root = plan.linesIterator.next()
        val adaptive = root.startsWith("AdaptiveSparkPlan")
        if (adaptive && !root.contains("isFinalPlan=true"))
          say(s"[final] $gate FAILED: executed plan is not final: $root")
        else {
          def n(re: String) = re.r.findAllIn(plan).size
          // AQE prints a reused stage as a repeated ShuffleQueryStage
          // id: refs > distinct ids ⇒ stage-level reuse happened
          val ids = "ShuffleQueryStage (\\d+)".r.findAllMatchIn(plan).map(_.group(1)).toSeq
          say(s"[final] $gate ${if (adaptive) "isFinalPlan=true" else "adaptive=false"}" +
            s" scans=${n("Scan parquet")} exchanges=${n("Exchange (hash|range|single)")}" +
            s" reusedStage=${n("ReusedQueryStage")} reusedExch=${n("ReusedExchange")}" +
            s" tableCache=${n("TableCacheQueryStage")} subqueries=${n("Subquery")}" +
            s" mapPartitions=${n("MapPartitions")}" +
            s" shuffleStageRefs=${ids.size} distinct=${ids.distinct.size}")
        }

      case "jobs" =>
        val head = measured(release = true)
        val jobs = listener.jobs
        say(f"$head, jobs=${jobs.size}, stages=${jobs.map(_.stages).sum}, " +
          f"tasks=${jobs.map(_.tally.tasks).sum}, " +
          f"sum-job-wall=${jobs.map(_.wallMs).sum / 1000.0}%.2f s")
        jobs.foreach(j => say(f"[job] ${j.id}%4d ${j.wallMs / 1000.0}%7.2f s " +
          f"stages=${j.stages}%2d tasks=${j.tally.tasks}%4d"))

      case "stages" =>
        say(measured(release = true))
        listener.stages.foreach { case StageRun(id, ops, t) =>
          say(f"[stage] $id%4d tasks=${t.tasks}%4d total=${t.runMs / 1000.0}%8.1f s " +
            f"max-task=${t.maxTaskMs / 1000.0}%7.1f s cpu=${t.cpuNs / 1e9}%7.1f s " +
            f"gc=${t.gcMs / 1000.0}%5.1f s deser=${t.deserMs / 1000.0}%5.1f s " +
            f"sread=${mb(t.shuffleRead)}%8.1f MB swrite=${mb(t.shuffleWrite)}%8.1f MB " +
            f"spill=${mb(t.diskSpill)}%8.1f MB  ${ops.take(160)}")
        }

      case "io" =>
        val head = measured(release = false)
        val t = listener.totals
        say(f"$head, input=${mb(t.inputBytes)}%.1f MB (${t.inputRecords / 1e6}%.2f M rows) " +
          f"shufR=${mb(t.shuffleRead)}%.1f MB shufW=${mb(t.shuffleWrite)}%.1f MB " +
          f"cpu=${t.cpuNs / 1e9}%.1f s")

      case "sql" =>
        SqlSurface.registerViews(spark, dir)
        spark.read.parquet(s"$dir/events.parquet").createOrReplaceTempView("events")
        // the SQL side first: its answer prints even when the df side
        // would blow the time budget
        val sides = Seq[(String, () => Long)](
          "sql" -> (() => spark.sql(SparkEntry.oracleSql(gate)).count()),
          "df" -> (() => query().count()))
        for ((side, count) <- sides; pass <- Seq("warm", "timed")) {
          val (rows, wall) = seconds(count())
          say(f"[sql] $gate $side $pass%-5s $wall%8.2f s ($rows rows)")
        }
    }
  }
}
