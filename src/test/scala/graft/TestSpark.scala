package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test JVM, at the
  * engine's operating point ([[Graft.applySettings]]) with its own master
  * and 8 shuffle partitions. */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8, 4]") // 4 task-failure retries: chaos tests inject failures
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Graft.applySettings(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
