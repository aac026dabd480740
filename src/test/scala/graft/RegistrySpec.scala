package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Dataset, SparkSession}

/** Registry drift canary — the r9 lesson mechanized. The gate rows of
  * [[SparkEntry.gates]] (name, operator and oracle SQL in one row, so a
  * gate cannot exist without its oracle) are the correctness gate's
  * ground truth; r9 shipped a whole operator (Selection) as dead code
  * because nothing asserted "every public gate function is
  * registered". This spec closes that class of drift:
  *
  *   1. no gate name is registered twice (`queries` and `oracleSql`
  *      are built with `toMap`, which would silently keep only the
  *      last of two rows).
  *   2. every `benchQueries` headline name is a registered query.
  *   3. every PUBLIC method with the driver's gate signature
  *      `(SparkSession, String) => DataFrame` on any object in the
  *      gate-bearing packages (operators / streaming / multimodal /
  *      web / mr / sources) appears as a method reference in
  *      SparkEntry.scala — the registration style is eta-expanded
  *      `Obj.method _`, so a source-text scan is exact. A helper that
  *      genuinely isn't a gate goes on the explicit allowlist BELOW
  *      with a reason, never silently.
  */
class RegistrySpec extends AnyFunSuite {

  test("no gate name is registered twice") {
    val dups = SparkEntry.gates.groupBy(_.name).collect {
      case (n, rows) if rows.size > 1 => n
    }
    assert(dups.isEmpty, s"gates registered twice: ${dups.toSeq.sorted}")
  }

  test("every benchQueries headline name is a registered query") {
    val missing = SparkEntry.benchQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"benchQueries not in the registry: $missing")
    val dups = SparkEntry.benchQueries.groupBy(identity).collect {
      case (n, occ) if occ.size > 1 => n
    }
    assert(dups.isEmpty, s"benchQueries listed twice: $dups")
  }

  /** Gate-shaped public methods that are deliberately NOT registered
    * as queries, each with the reason it is exempt. Additions here are
    * a reviewed decision, not an accident. */
  private val Allowlist: Set[String] = Set(
    // graft.Tables: fixture readers, the input side of every gate
    "Tables.region", "Tables.nation", "Tables.customer", "Tables.supplier",
    "Tables.part", "Tables.orders", "Tables.lineitem", "Tables.events",
    "Tables.documents", "Tables.embeddings",
    // r16: documents + the scale-adaptive small-scan fan-out — an input
    // reader variant (same rows), consumed by the CPU-dense text gates
    "Tables.documentsWide", "Tables.lineitemWide",
    // intermediate producers consumed by registered gates (the gate
    // composes them; registering the stage alone would double-count)
    "CorpusOps.tokens", "Dedup.minhashSignatures", "Dedup.shingleHashes",
    "Similarity.ivfCandidates", "Similarity.scaled",
    // deterministic fixture slices for the IVM delta gates (inputs,
    // not operators — ivm_* gates consume them)
    "Ivm.custV1", "Ivm.ordersV0", "Ivm.ordersV1", "Ivm.v1", "Ivm.v2",
    // streaming stored-state readers: the stream_* gates run the fold
    // then read these; alone they are just parquet reads of state
    "CcStream.storedLabels", "ErStream.storedState",
    "FeatureStream.storedStats", "FrontierStream.storedFrontier",
    "HistoryStream.currentHistory", "NoveltyStream.storedFirstSeen",
    "ParagraphStream.cleanedOutput", "SketchStream.storedHllRegs",
    "SketchStream.storedQuantileState", "SnapshotStream.currentSnapshot",
    "ViewStream.currentView", "WebStream.storedTraining",
    "ImageStream.storedImages", "AudioStream.storedAudio",
    "DoremiStream.storedModel",
    "PackStream.storedManifest",
    "IcpStream.storedOrder",
    // the shared ICP (cell, shard) assignment — an input both the
    // corpus_icp gate and the IcpStream appender consume, not a gate
    "Similarity.icpAssign",
    // IO plumbing: raw readers under registered source/sink gates
    "Formats.readIntermediate", "Formats.readOutputLines", "Formats.readOrc",
    "WholeFiles.read", "Manifest.keyed")

  test("every public gate-shaped method in the gate packages is registered in SparkEntry") {
    val srcRoot = new java.io.File("src/main/scala/graft")
    assert(srcRoot.isDirectory, s"run from the repo root: ${srcRoot.getAbsolutePath}")
    val pkgs = Seq("operators", "streaming", "multimodal", "web", "mr", "sources", "")
    val objRe = """(?m)^object ([A-Za-z0-9_]+)""".r
    val entrySrc = {
      val f = new java.io.File(srcRoot, "SparkEntry.scala")
      val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
      try src.mkString finally src.close()
    }
    val unregistered = for {
      pkg <- pkgs
      dir = if (pkg.isEmpty) srcRoot else new java.io.File(srcRoot, pkg)
      if dir.isDirectory
      f <- dir.listFiles().toSeq.filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      objName <- {
        val src = scala.io.Source.fromFile(f)(scala.io.Codec.UTF8)
        try objRe.findAllMatchIn(src.mkString).map(_.group(1)).toList
        finally src.close()
      }
      fqcn = if (pkg.isEmpty) s"graft.$objName$$" else s"graft.$pkg.$objName$$"
      cls <- scala.util.Try(Class.forName(fqcn)).toOption.toSeq
      // SparkEntry itself hosts the registry; its own members are exempt
      if objName != "SparkEntry"
      m <- cls.getMethods.toSeq.sortBy(_.getName)
      if m.getParameterTypes.toSeq == Seq(classOf[SparkSession], classOf[String]) &&
        classOf[Dataset[_]].isAssignableFrom(m.getReturnType) &&
        java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        !m.getName.contains("$")
      ref = s"$objName.${m.getName}"
      if !Allowlist.contains(ref) && !entrySrc.contains(ref)
    } yield ref
    assert(unregistered.isEmpty,
      "gate-shaped public methods with no SparkEntry registration (register " +
        s"them or allowlist with a reason): ${unregistered.distinct.sorted}")
  }
}
