package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{Graft, SparkEntry}
import graft.mr.{Apps, MRJob}

/** One benchmark run in one JVM, driving the engine only through its
  * public entry points (`Graft.local`, `SparkEntry.queries`,
  * `MRJob.runFiles`, `Graft.releaseState`).
  *
  * It sets the session up once (timed from process launch, `--launch-ms`),
  * then runs `--passes` passes over the workload's gates, in the order
  * given, the first one cold. Every gate writes its result under
  * `<out>/p<pass>/<gate>`. With `--trace 1` three more passes follow, the
  * middle one run under a [[Tracer]], so one run yields both the
  * per-layer counters and the tracing overhead.
  *
  * Nothing is printed on stdout: the record (JSON at `--record`, spans as
  * JSON lines at `--spans`) holds raw timings and error strings, and
  * perfbench/run.py checks the outputs and derives the metrics. */
object Harness {

  /** `local[Cpus]`: the benchmark's fixed core count. */
  val Cpus = 4

  /** The reference workflow's MapReduce apps, run by `MRJob.runFiles` over
    * the whole files under `<data>/files`. */
  val FileJobs: Map[String, (MRJob.MapF, MRJob.ReduceF)] = Map(
    "mrjob_wc" -> ((Apps.wcMap, Apps.wcReduce)),
    "mrjob_indexer" -> ((Apps.indexerMap, Apps.indexerReduce)))

  private def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Peak resident set of this process in MB of 10^6 bytes (VmHWM). */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble * 1024 / 1e6 }
      .getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val arg = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val data = arg("data")
    val out = arg("out")
    val gates = arg("gates").split(",").filter(_.nonEmpty).toSeq
    val traced = arg("trace") == "1"

    // set-up: from process launch until the session is ready and has run
    // its first query
    val g = Graft.local(data, Cpus)
    g.sql("SELECT lang, count(*) FROM documents GROUP BY lang").collect()
    val setupS = Clock.now() - arg("launch-ms").toLong / 1e3
    val spark = g.spark
    val sc = spark.sparkContext

    def pass(k: Int, tracer: Option[Tracer]): Map[String, Any] = {
      def span(kind: String, name: String, parent: Option[Span]) =
        tracer.map(t => t.open(kind, name, parent.fold(t.run.id)(_.id)))
      def timed[T](kind: String, parent: Option[Span])(f: => T): (T, Double) = {
        val s = span(kind, kind, parent)
        s.foreach(x => sc.setLocalProperty(Tracer.ParentKey, x.id.toString))
        val t0 = Clock.now()
        try (f, Clock.now() - t0)
        finally tracer.foreach(t => s.foreach(t.close))
      }
      val passSpan = span("pass", s"p$k", None)
      val cpu0 = processCpuS()
      val t0 = Clock.now()
      var lastWrite = t0
      val results = gates.map { gate =>
        val gs = span("gate", gate, passSpan)
        gs.foreach(s => sc.setJobGroup(s.id.toString, gate))
        val path = s"$out/p$k/$gate"
        val g0 = Clock.now()
        var build = 0.0
        var action = 0.0
        val error = try {
          FileJobs.get(gate) match {
            case Some((m, r)) =>
              action = timed("action", gs)(
                MRJob.runFiles(spark, s"$data/files", path, m, r))._2
            case None =>
              val (df, b) = timed("build", gs)(SparkEntry.queries(gate)(spark, data))
              build = b
              action = timed("action", gs)(
                df.write.mode("overwrite").parquet(path))._2
          }
          null
        } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
        val wall = Clock.now() - g0
        lastWrite = Clock.now()
        val r0 = Clock.now()
        Graft.releaseState(spark)
        val release = Clock.now() - r0
        tracer.foreach(t => gs.foreach(t.close))
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.ParentKey, null)
        Map("gate" -> gate, "path" -> path, "build_s" -> build,
          "action_s" -> action, "wall_s" -> wall, "release_s" -> release,
          "error" -> error)
      }
      val rec = Map("pass" -> k, "traced" -> tracer.isDefined,
        "wall_s" -> (lastWrite - t0), "cpu_s" -> (processCpuS() - cpu0),
        "span" -> passSpan.fold(0)(_.id), "gates" -> results)
      tracer.foreach(t => passSpan.foreach(t.close))
      rec
    }

    val passes = ArrayBuffer.empty[Map[String, Any]]
    for (_ <- 0 until arg("passes").toInt)
      passes += pass(passes.size, None)
    val tracer = if (!traced) None else {
      // untraced, traced, untraced: the mean of the two untraced passes is
      // as warm as the traced one, so their difference is the overhead
      val t = new Tracer
      passes += pass(passes.size, None)
      sc.addSparkListener(t)
      passes += pass(passes.size, Some(t))
      org.apache.spark.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(t)
      passes += pass(passes.size, None)
      t.close(t.run)
      Some(t)
    }

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    tracer.foreach { t =>
      val lines = t.snapshot.map { s =>
        json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
          "kind" -> s.kind, "name" -> s.name, "start" -> s.start,
          "end" -> s.end, "attrs" -> s.attrs.toMap))
      }
      Files.writeString(Paths.get(arg("spans")), lines.mkString("", "\n", "\n"))
    }
    val record = Map("cpus" -> Cpus, "setup_s" -> setupS,
      "passes" -> passes.toList, "peak_rss_mb" -> peakRssMb(),
      "storage_peak_bytes" -> tracer.fold(0L)(_.storagePeakBytes))
    Files.writeString(Paths.get(arg("record")), json.writeValueAsString(record))
    spark.stop()
  }
}

/** Prints `SparkEntry.oracleSql` as one JSON object: for each gate, the
  * DuckDB query whose result the gate's output must equal. */
object OracleSql {
  def main(args: Array[String]): Unit =
    println(new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(SparkEntry.oracleSql))
}
