package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Layout rules for `src/main/scala` code (comment lines skipped): one
  * session builder, one scheduler listener and one copy of each dedup
  * pair-join step, so the copies cannot come back one tool or one
  * function at a time. */
class LayoutSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** `file:line` of every code line under [[root]] that contains `needle`. */
  private def codeMentions(needle: String): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) &&
            !Seq("//", "*", "/*").exists(line.trim.startsWith) =>
          s"${root.relativize(f)}:${i + 1}"
      }
    }
  }

  test("SparkSession.builder appears once, in Graft.session") {
    val hits = codeMentions("SparkSession.builder")
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
}
