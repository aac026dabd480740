package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}

/** One string key/value pair — the single datatype of the reference
  * engine's data plane (reference `mr/worker.go:19-22`). */
case class KV(key: String, value: String)

/** Faithful MapReduce façade over Spark (SURVEY.md §7.1 layer 1).
  *
  * Reproduces the reference pipeline — whole-file input → user Map →
  * hash-partitioned shuffle → group-by-key → user Reduce → `"key value"`
  * text lines (reference `mr/worker.go:121-258`,
  * `main/mrsequential.go:25-87`) — as a declarative Spark job:
  *
  *   flatMap(mapf) → groupByKey → mapGroups(reducef) → lines
  *
  * Contract notes carried over from the reference (SURVEY.md §2.3):
  *  - grouped values are an unordered multiset; the reference's ordering
  *    into Reduce is nondeterministic (`mr/worker.go:197-216`). We SORT
  *    the values before calling reducef so goldens are stable — a legal
  *    refinement of the contract (reference apps that care already sort
  *    inside Reduce, e.g. `mrapps/nocrash.go:41-44`).
  *  - no combiner exists in the reference (`mr/worker.go:228-243`):
  *    reducef always sees the full value list, so this layer uses
  *    groupByKey, NOT reduceByKey/Aggregator. The DataFrame-native layer
  *    (graft.operators) uses real partial aggregation instead.
  *  - the map→reduce barrier (`mr/coordinator.go:61-66`) is Spark's
  *    shuffle stage boundary; scheduling/stragglers/retry
  *    (`mr/coordinator.go:199-231`) are the DAGScheduler's job.
  *
  * `nReduce` (reference `main/mrcoordinator.go:23`) only controls output
  * fan-out, never results; the partition function itself (FNV-32a in the
  * reference, `mr/worker.go:30-34`) is not output-observable.
  */
object MRJob {

  type MapF = (String, String) => IterableOnce[(String, String)]
  type ReduceF = (String, Seq[String]) => String

  /** Run a MapReduce job, returning the grouped/reduced pairs. */
  def runKV(input: Dataset[(String, String)], mapf: MapF, reducef: ReduceF,
            nReduce: Int = 10): Dataset[KV] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .flatMap { case (name, contents) => mapf(name, contents) }
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        // sorted multiset: deterministic reducef input (see scaladoc)
        KV(key, reducef(key, it.map(_._2).toSeq.sorted))
      }
      .repartition(nReduce)
  }

  /** Run a job and format as the reference's output lines
    * (`"%v %v\n"` → `key SP value`, `mr/worker.go:240`). */
  def run(input: Dataset[(String, String)], mapf: MapF, reducef: ReduceF,
          nReduce: Int = 10): Dataset[String] = {
    val spark = input.sparkSession
    import spark.implicits._
    runKV(input, mapf, reducef, nReduce).map(kv => s"${kv.key} ${kv.value}")
  }

  /** End-to-end job matching the reference's user workflow: point the
    * engine at a bucket/directory of text files, give it (Map, Reduce),
    * get `mr-out` text files (reference `main/mrcoordinator.go` +
    * `mrworker.go` invocation: files + nReduce + plugin fns). The
    * coordinator/worker/RPC machinery in between (≈500 LoC of the
    * reference) is Spark's scheduler. */
  def runFiles(spark: SparkSession, inputGlob: String, outPath: String,
               mapf: MapF, reducef: ReduceF, nReduce: Int = 10): Unit =
    run(WholeFiles.read(spark, inputGlob), mapf, reducef, nReduce)
      .write.mode("overwrite").text(outPath)

  /** Single-threaded sequential oracle mirroring the reference's
    * `main/mrsequential.go:25-87`: map everything, global sort by key,
    * group-adjacent, reduce. Used by differential tests. */
  def sequential(files: Seq[(String, String)], mapf: MapF,
                 reducef: ReduceF): Seq[String] = {
    // (the reference sorts the flat kva stream before grouping; groupBy
    // + per-group value sort reproduces the same reducef inputs without
    // that dead O(n log n) pass)
    val kva = files.flatMap { case (n, c) => mapf(n, c) }
    kva.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, vs) =>
      s"$k ${reducef(k, vs.map(_._2).sorted)}"
    }
  }
}

/** Whole-file sources (reference F1–F3, SURVEY.md §2.1).
  *
  * The reference's input unit is an ENTIRE file: one S3 object = one map
  * task = one `(filename, contents)` record (`mr/coordinator.go:337-339`,
  * `mr/worker.go:127-132`). `spark.read.text` would silently line-split,
  * so files are read whole through `wholeTextFiles`. Works for file://,
  * s3a://, hdfs:// alike.
  */
object WholeFiles {
  /** Default source: `wholeTextFiles` — unlike the binaryFile format it
    * keeps ZERO-BYTE files (an empty S3 object is still a map task in
    * the reference, and the per-file app counts it). */
  def read(spark: SparkSession, pathGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(pathGlob)
      .map { case (path, contents) => (path.split('/').last, contents) }
      .toDS()
  }
}
