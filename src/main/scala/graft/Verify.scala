package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session(cpus, partitions = cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.names.filter(name => only.forall(_.contains(name))).foreach { name =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1f s)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // operators persist internal intermediates (MinHash
        // signatures, checkpointed loop rounds) whose lineage is only
        // released after the terminal action — sweep them so block
        // storage doesn't accumulate across the run (the harness
        // contract, Graft.releaseState scaladoc)
        Graft.releaseState(spark)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
