package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import graft.mr.{Apps, MRJob, WholeFiles}

/** Differential + property tests for the MapReduce compat layer,
  * mirroring the reference's test strategy (SURVEY.md §5): distributed
  * output vs the sequential oracle (`main/mrsequential.go`), order- and
  * partition-count-insensitive.
  */
class MRJobSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session
  import spark.implicits._

  /** FIXTURES.md §1 corpus: case variants, digits as separators,
    * non-ASCII letters, duplicates within/across files, an empty file,
    * a letterless file. */
  val corpus: Seq[(String, String)] = Seq(
    "f1.txt" -> "The quick brown fox\njumps over the lazy dog the END",
    "f2.txt" -> "quick2quick3quick done4done",
    "f3.txt" -> "såå blåbär smörgåsbord Ärger äther über\nsåå été",
    "f4.txt" -> "the the THE The tHe",
    "f5.txt" -> "",
    "f6.txt" -> "123 456 !!! ~~ 789",
    "f7.txt" -> "alpha,beta;gamma.alpha-beta_gamma",
    "f8.txt" -> "one\ntwo\nthree one")

  def runApp(input: Seq[(String, String)], mapf: MRJob.MapF,
             reducef: MRJob.ReduceF): Seq[String] =
    MRJob.run(input.toDS(), mapf, reducef).collect().toSeq.sorted

  def oracle(input: Seq[(String, String)], mapf: MRJob.MapF,
             reducef: MRJob.ReduceF): Seq[String] =
    MRJob.sequential(input, mapf, reducef).sorted

  test("wc matches sequential oracle") {
    assert(runApp(corpus, Apps.wcMap, Apps.wcReduce) ===
           oracle(corpus, Apps.wcMap, Apps.wcReduce))
  }

  test("wc tokenization: digits split, case-sensitive, unicode letters kept") {
    val out = runApp(corpus, Apps.wcMap, Apps.wcReduce).toMap_
    assert(out("quick") == "4")      // f1×1 + quick2quick3quick→3 tokens
    assert(out("the") == "4")        // case-sensitive: 'the' f1×3 + f4×1
    assert(out("THE") == "1")
    assert(out("såå") == "2")        // non-ASCII letters are one token
    assert(!out.contains("123"))     // digits are separators, not tokens
    assert(out("done") == "2")
  }

  test("indexer matches sequential oracle and dedups per document") {
    val got = runApp(corpus, Apps.indexerMap, Apps.indexerReduce)
    assert(got === oracle(corpus, Apps.indexerMap, Apps.indexerReduce))
    val m = got.toMap_
    assert(m("one") == "1 f8.txt")         // twice in f8, counted once
    assert(m("quick") == "2 f1.txt,f2.txt") // docs sorted, comma-joined
  }

  test("per-file count matches oracle") {
    assert(runApp(corpus, Apps.perFileMap, Apps.perFileReduce) ===
           oracle(corpus, Apps.perFileMap, Apps.perFileReduce))
  }

  test("metadata app matches oracle; values sorted as strings") {
    val got = runApp(corpus, Apps.metadataMap, Apps.metadataReduce)
    assert(got === oracle(corpus, Apps.metadataMap, Apps.metadataReduce))
    val m = got.toMap_
    assert(m("d") == Seq.fill(8)("xyzzy").mkString(" "))
    assert(m("a") == corpus.map(_._1).sorted.mkString(" "))
  }

  test("result is invariant to shuffle partition count (nReduce intent)") {
    val base = runApp(corpus, Apps.wcMap, Apps.wcReduce)
    for (n <- Seq("1", "3", "17")) {
      spark.conf.set("spark.sql.shuffle.partitions", n)
      try assert(runApp(corpus, Apps.wcMap, Apps.wcReduce) === base,
        s"diverged at shuffle.partitions=$n")
      finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
  }

  test("result is invariant to input order") {
    assert(runApp(corpus.reverse, Apps.indexerMap, Apps.indexerReduce) ===
           runApp(corpus, Apps.indexerMap, Apps.indexerReduce))
  }

  test("nReduce controls only output fan-out, never content") {
    val a = MRJob.run(corpus.toDS(), Apps.wcMap, Apps.wcReduce, nReduce = 1)
    val b = MRJob.run(corpus.toDS(), Apps.wcMap, Apps.wcReduce, nReduce = 7)
    assert(a.rdd.getNumPartitions == 1)
    assert(b.rdd.getNumPartitions == 7)
    assert(a.collect().sorted === b.collect().sorted)
  }

  /** A temp dir holding `files` (name → bytes). */
  private def dirOf(files: (String, Array[Byte])*): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-wholefiles")
    files.foreach { case (name, bytes) => java.nio.file.Files.write(dir.resolve(name), bytes) }
    dir
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)

  private def corpusDir: java.nio.file.Path = dirOf(corpus.map { case (n, c) => n -> utf8(c) }: _*)

  test("whole-file source: one file = one record, never line-split") {
    val ds = WholeFiles.read(spark, corpusDir.toString)
    val got = ds.collect().toMap
    assert(got.size == corpus.size)
    assert(got("f1.txt").contains("\n"), "multi-line file must stay one record")
    assert(got === corpus.toMap)
  }

  test("whole-file source: a zero-byte file is a record") {
    val dir = dirOf("empty.txt" -> Array.emptyByteArray, "a.txt" -> utf8("a b"))
    assert(WholeFiles.read(spark, dir.toString).collect().toSet ==
      Set("empty.txt" -> "", "a.txt" -> "a b"))
  }

  test("whole-file source: _ and . names are skipped; a directory equals its glob") {
    val dir = dirOf("a.txt" -> utf8("x"), "b.txt" -> utf8("y z"),
      "_SUCCESS" -> Array.emptyByteArray, ".x.crc" -> utf8("crc"))
    val byDir = WholeFiles.read(spark, dir.toString).collect().sorted.toSeq
    assert(byDir == Seq("a.txt" -> "x", "b.txt" -> "y z"))
    assert(WholeFiles.read(spark, s"$dir/*.txt").collect().sorted.toSeq == byDir)
  }

  test("whole-file source: a glob that matches nothing throws") {
    val dir = dirOf("a.txt" -> utf8("x"))
    intercept[java.io.IOException](WholeFiles.read(spark, s"$dir/*.csv").collect())
    intercept[java.io.IOException](WholeFiles.read(spark, s"$dir/none").collect())
  }

  test("whole-file source: multi-byte letters and an invalid byte decode as wholeTextFiles does") {
    val bytes = utf8("grüße 日本語 été\n") ++ Array(0xff.toByte) ++ utf8(" fin")
    val dir = dirOf("u.txt" -> bytes)
    val oracle = spark.sparkContext.wholeTextFiles(dir.toString).collect()
      .map { case (p, c) => (p.split('/').last, c) }.toSeq
    assert(WholeFiles.read(spark, dir.toString).collect().toSeq == oracle)
    assert(oracle.head._2.contains('\uFFFD'))
  }

  /** `runFiles` over `corpus` in a temp dir: the `part-` files' lines. */
  private def runFilesParts(mapf: MRJob.MapF, reducef: MRJob.ReduceF): Seq[Seq[String]] = {
    val out = s"${java.nio.file.Files.createTempDirectory("graft-mr-out")}/out"
    MRJob.runFiles(spark, corpusDir.toString, out, mapf, reducef, nReduce = 3)
    new java.io.File(out).listFiles().toSeq.filter(_.getName.startsWith("part-"))
      .map(f => java.nio.file.Files.readAllLines(f.toPath, UTF_8).asScala.toSeq)
  }

  test("runFiles over files (an empty one, multi-line ones) equals the sequential oracle") {
    for ((mapf, reducef) <- Seq(Apps.wcMap -> Apps.wcReduce,
        Apps.indexerMap -> Apps.indexerReduce))
      assert(runFilesParts(mapf, reducef).flatten.sorted == oracle(corpus, mapf, reducef))
  }

  test("runFiles: every part- file is in ascending key order (UTF-8 byte order)") {
    val parts = runFilesParts(Apps.wcMap, Apps.wcReduce)
    assert(parts.count(_.nonEmpty) > 1, "the keys must spread over several reducers")
    for (lines <- parts) {
      val keys = lines.map(l => utf8(l.takeWhile(_ != ' ')))
      assert(keys.zip(keys.drop(1)).forall { case (a, b) =>
        java.util.Arrays.compareUnsigned(a, b) < 0 }, lines)
    }
  }

  implicit class LinesOps(lines: Seq[String]) {
    /** "key value..." lines → Map(key -> value...) */
    def toMap_ : Map[String, String] =
      lines.map { l => val i = l.indexOf(' '); l.take(i) -> l.drop(i + 1) }.toMap
  }
}
