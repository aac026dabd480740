package graft.mr

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SerializableWritable
import org.apache.spark.sql.{Dataset, SparkSession}

/** One string key/value pair — the single datatype of the reference
  * engine's data plane (reference `mr/worker.go:19-22`). */
case class KV(key: String, value: String)

/** Faithful MapReduce façade over Spark (SURVEY.md §7.1 layer 1).
  *
  * Reproduces the reference pipeline — whole-file input → user Map →
  * hash-partitioned shuffle → per-reduce-task sort and group → user
  * Reduce → `"key value"` text lines (reference `mr/worker.go:121-258`,
  * `main/mrsequential.go:25-87`) — as a Spark job with ONE shuffle:
  *
  *   flatMap(mapf) → repartition(nReduce, key) → sortWithinPartitions(key)
  *     → mapPartitions(group adjacent keys, reducef) → lines
  *
  * Each of the `nReduce` partitions is one reference reduce task: it
  * sorts its pairs by key, walks the adjacent runs of equal keys and
  * calls reducef once per key (`mr/worker.go:228-243`). So the lines of
  * every output partition, and of every `part-` file [[runFiles]]
  * writes, ascend in key order — byte order of the UTF-8 key, as the
  * reference's Go string sort gives per `mr-out-Y` (SURVEY.md §2.3).
  * A reduce partition that gets no keys writes no `part-` file, because
  * Spark's file writer skips empty tasks; only partition 0 always writes
  * one, empty if it got no keys. So a job leaves 1 to `nReduce` files.
  *
  * Contract notes carried over from the reference (SURVEY.md §2.3):
  *  - grouped values are an unordered multiset; the reference's ordering
  *    into Reduce is nondeterministic (`mr/worker.go:197-216`). We SORT
  *    the values before calling reducef so goldens are stable — a legal
  *    refinement of the contract (reference apps that care already sort
  *    inside Reduce, e.g. `mrapps/nocrash.go:41-44`).
  *  - no combiner exists in the reference (`mr/worker.go:228-243`):
  *    reducef always sees the full value list, so every map output pair
  *    crosses the shuffle; there is no reduceByKey or Aggregator here.
  *    The DataFrame-native layer (graft.operators) uses real partial
  *    aggregation instead.
  *  - the map→reduce barrier (`mr/coordinator.go:61-66`) is Spark's
  *    shuffle stage boundary; scheduling/stragglers/retry
  *    (`mr/coordinator.go:199-231`) are the DAGScheduler's job.
  *
  * `nReduce` (reference `main/mrcoordinator.go:23`) is the partition
  * count of the result and controls only output fan-out, never results;
  * the partition function itself (FNV-32a in the reference,
  * `mr/worker.go:30-34`, Murmur3 here) is not output-observable.
  */
object MRJob {

  type MapF = (String, String) => IterableOnce[(String, String)]
  type ReduceF = (String, Seq[String]) => String

  /** Run a MapReduce job, returning the reduced pairs in `nReduce`
    * partitions, each in key order. */
  def runKV(input: Dataset[(String, String)], mapf: MapF, reducef: ReduceF,
            nReduce: Int = 10): Dataset[KV] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .flatMap { case (name, contents) => mapf(name, contents) }
      .toDF("key", "value")
      .repartition(nReduce, $"key")
      .sortWithinPartitions("key")
      .as[(String, String)]
      .mapPartitions { sorted =>
        // one element per run of equal keys, consumed as it is emitted
        val rows = sorted.buffered
        Iterator.continually(rows).takeWhile(_.hasNext).map { _ =>
          val key = rows.head._1
          val values = Vector.newBuilder[String]
          while (rows.hasNext && rows.head._1 == key) values += rows.next()._2
          // sorted multiset: deterministic reducef input (see scaladoc)
          KV(key, reducef(key, values.result().sorted))
        }
      }
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
    * reference) is Spark's scheduler. Two Spark jobs: the map stage up
    * to the shuffle, then the reduce stage, which also writes the
    * `part-` files. */
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
  * so files are listed up front and each is read whole by a task,
  * through the Hadoop FileSystem of its path's scheme: file://, s3a://,
  * hdfs:// alike.
  */
object WholeFiles {
  /** `(file name, UTF-8 contents)`, one record per file.
    *
    * `pathGlob` is a file, a directory or a Hadoop glob; a matched
    * directory stands for the files directly in it. Names starting with
    * `_` or `.` (`_SUCCESS`, `.x.crc`) are skipped, as Hadoop's
    * `FileInputFormat` skips them; a glob that matches nothing else
    * throws. A zero-byte file is still a record (an empty S3 object is
    * still a map task in the reference, and the per-file app counts it).
    * Invalid UTF-8 decodes to U+FFFD, as Hadoop's `Text` decodes it.
    *
    * The sorted paths are spread over `min(files, 4 × defaultParallelism)`
    * tasks: whole files, grouped so that every core gets map work. */
  def read(spark: SparkSession, pathGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val glob = new Path(pathGlob)
    val fs = glob.getFileSystem(sc.hadoopConfiguration)
    val visible = (s: FileStatus) => !Seq("_", ".").exists(s.getPath.getName.startsWith)
    val matched = Option(fs.globStatus(glob)).getOrElse(Array.empty[FileStatus]).filter(visible)
    if (matched.isEmpty) throw new java.io.FileNotFoundException(s"no input files match $pathGlob")
    val paths = matched.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).filter(f => f.isFile && visible(f)) else Array(s)
    }.map(_.getPath.toString).sorted.toSeq
    val conf = new SerializableWritable(sc.hadoopConfiguration)
    sc.parallelize(paths, (4 * sc.defaultParallelism).min(paths.size).max(1)).map { p =>
      val path = new Path(p)
      val in = path.getFileSystem(conf.value).open(path)
      try (path.getName, new String(in.readAllBytes(), UTF_8)) finally in.close()
    }.toDS()
  }
}
