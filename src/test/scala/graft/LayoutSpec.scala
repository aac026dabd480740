package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Layout rules for `src/main/scala` code (comment lines skipped): one
  * session builder with one settings list, one scheduler listener, one
  * copy of each dedup pair-join step, one incremental-components fold,
  * one bucket cap, one whole-file reader and one registry row per gate,
  * so the copies cannot come back one tool or one function at a time. */
class LayoutSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** `file:line` of every code line under [[root]] that contains `needle`. */
  private def codeMentions(needle: String): Seq[String] = codeLines(_.contains(needle))

  /** `file:line` of every code line under [[root]] that `matches`. */
  private def codeLines(matches: String => Boolean): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if matches(line) &&
            !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          s"${root.relativize(f)}:${i + 1}"
      }
    }
  }

  test("SparkSession.builder appears once, in Graft.session") {
    val hits = codeMentions("SparkSession.builder")
    assert(hits.size == 1 && hits.head.startsWith("graft/Graft.scala:"), hits)
  }

  test("the cached-plan coalescing setting is set once, in Graft's settings list") {
    val hits = codeMentions("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning")
    assert(hits.size == 1 && hits.head.startsWith("graft/Graft.scala:"), hits)
  }

  test("addSparkListener appears once, in the run listener") {
    val hits = codeMentions("addSparkListener")
    assert(hits.size == 1 && hits.head.startsWith("graft/tools/RunListener.scala:"), hits)
  }

  test("the versioned-state layout lives in SnapshotStream") {
    val snapshot = "graft/streaming/SnapshotStream.scala:"
    val paths = (codeMentions("\"v=") ++ codeMentions("/v=")).distinct
    assert(paths.nonEmpty && paths.forall(_.startsWith(snapshot)), paths)
    val listings = codeMentions("versionsIn(")
    assert(listings.forall(h =>
      h.startsWith(snapshot) || h.startsWith("graft/streaming/CcStream.scala:")), listings)
    val fs = codeMentions("getFileSystem").filter(_.startsWith("graft/streaming/"))
    assert(fs.nonEmpty && fs.forall(_.startsWith(snapshot)), fs)
  }

  test("no range split pattern-matches the min/max row (MatchError on empty input)") {
    val hits = codeMentions("Row(lo: Long, hi: Long)")
    assert(hits.isEmpty, hits)
  }

  test("the dedup pair-join steps are each written once") {
    for (needle <- Seq("n - ((n * 3 + 4) div 5) + 1", "explode(col(\"ma\"))",
        "sort_array(collect_list(gramId(")) {
      val hits = codeMentions(needle)
      assert(hits.size == 1 && hits.head.startsWith("graft/operators/Dedup.scala:"),
        s"$needle: $hits")
    }
  }

  test("the incremental-components contraction and prior relabel are each written once") {
    for (needle <- Seq("coalesce(col(\"label\"), col(\"db\"))",
        "coalesce(col(\"rlabel\"), col(\"label\"))")) {
      val hits = codeMentions(needle)
      assert(hits.size == 1 && hits.head.startsWith("graft/operators/Dedup.scala:"),
        s"$needle: $hits")
    }
  }

  test("the bucket cap is one aggregate, one capped-members step and one band join") {
    for (needle <- Seq("TopKLongAgg", "TopKPayloadAgg", "col(\"a.band_key\")"))
      assert(codeMentions(needle).isEmpty, s"$needle: ${codeMentions(needle)}")
    val topk = codeMentions("new graft.functions.TopKAgg[Long]")
    assert(topk.size == 1 && topk.head.startsWith("graft/operators/Dedup.scala:"), topk)
  }

  test("whole files are read by the listed reader, not wholeTextFiles") {
    assert(codeMentions("wholeTextFiles").isEmpty, codeMentions("wholeTextFiles"))
  }

  test("SparkEntry names each gate once, in its row: no \"name\" -> map literal") {
    val arrow = "\"[a-z0-9_]+\"\\s*->".r
    val hits = codeLines(arrow.findFirstIn(_).isDefined)
      .filter(_.startsWith("graft/SparkEntry.scala:"))
    assert(hits.isEmpty, hits)
  }
}
