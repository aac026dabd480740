package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Dedup

/** Streaming maintenance of the near-dup CLUSTER state — the daily
  * ingest loop of `dedup_cc_incr` run continuously: per micro-batch,
  * batch signatures probe the STORED band index, snapshot endpoints
  * contract to their stored component canonicals, the components of
  * the reduced (batch + touched components)-sized graph relabel, and both
  * state tables (the signature index and the labels) advance one
  * version. Each batch is one [[Dedup.ccFold]], the step `stream_cc`
  * and `dedup_cc_incr` run in-process (its components fold is
  * [[Dedup.foldComponents]], shared with entity resolution) — the sink
  * adds only the state plumbing, so the streamed fold and the batch
  * gates cannot drift.
  *
  * Bootstrap-from-empty is the SAME code path: from
  * [[Dedup.ccEmptyState]] the cross probes and the prior relabel
  * degenerate to nothing and the fold is exactly a from-scratch CC of
  * the batch (the `stream_er` discipline).
  *
  * Two tables, one commit point: `sig` writes BEFORE `labels`, and
  * readers and successor batches pin the newest version committed in
  * BOTH (see [[committedVersions]]) — a crash between the writes
  * leaves a sig version without its labels twin, which is never
  * paired up. Otherwise each table follows [[SnapshotStream]]'s
  * versioned rule.
  *
  * Scale honesty: the signature index is CORPUS-SIZED state (one row
  * per doc ever seen) — bucketed on doc_id and bucket-localized at
  * 100 TB, the ZMaintain composition; the labels table likewise. The
  * per-batch COMPUTE, though, is batch-bounded: batch signatures +
  * band probes + the components of a reduced graph over batch docs and
  * touched components only ([[Dedup.foldComponents]]'s scaladoc carries
  * the argument). That reduced graph is what makes the per-batch solve
  * cheap: while its edge list fits [[Dedup.LocalCcMaxEdges]],
  * [[Dedup.propagateMin]] collects it once and solves it on the driver
  * instead of running checkpointed propagation rounds.
  *
  * THE FOLD IDENTITY (what the gate pins): contraction preserves
  * connectivity and canonicals are component minima, so ANY batching
  * folded through the maintenance step reproduces the full-corpus CC
  * bit-identically — the gate runs a THREE-range-batch fold (bootstrap
  * + two maintenance steps, so a REAL intermediate state is exercised
  * on both sides of the induction) and its oracle IS `dedup_cc`'s
  * recursive-CTE recompute. (Exactness caveat shared with
  * `dedup_cc_incr`: above the band-bucket cap, per-side vs joint
  * banding may keep different members — gate-SF buckets stay far
  * below it.)
  */
object CcStream {

  /** Versions committed in BOTH state tables (the readable pairs). */
  private[graft] def committedVersions(s: SparkSession, tableDir: String): Seq[Long] = {
    val sig = SnapshotStream.versionsIn(s, s"$tableDir/sig").toSet
    SnapshotStream.versionsIn(s, s"$tableDir/labels").filter(sig)
  }

  /** The (sig, labels) pair of committed version `v`. */
  private def stateAt(s: SparkSession, tableDir: String, v: Long): (DataFrame, DataFrame) =
    (SnapshotStream.readVersion(s, s"$tableDir/sig", v),
      SnapshotStream.readVersion(s, s"$tableDir/labels", v))

  /** foreachBatch sink: fold `batch` (documents-shaped) into the
    * stored (sig, labels) state and write version `batchId` of both.
    * The merge target is the newest committed PAIR strictly below the
    * batch id — [[SnapshotStream.predecessor]]'s rule over
    * [[committedVersions]]. */
  def ccSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val state = committedVersions(s, tableDir).filter(_ < batchId).lastOption
      .fold(Dedup.ccEmptyState(batch))(stateAt(s, tableDir, _))
    val (sig, labels) = Dedup.ccFold(s, state, batch)
    SnapshotStream.commit(sig, s"$tableDir/sig", batchId)
    SnapshotStream.commit(labels, s"$tableDir/labels", batchId)
  }

  /** The maintained labels (newest version committed in both tables). */
  def storedLabels(s: SparkSession, tableDir: String): DataFrame = {
    val v = committedVersions(s, tableDir).lastOption
    require(v.nonEmpty, s"no committed (sig, labels) pair under $tableDir")
    SnapshotStream.readVersion(s, s"$tableDir/labels", v.get)
  }

  /** Gate: the three-range-batch fold as its batch composition —
    * bootstrap on the first third, then one maintenance step
    * ([[Dedup.ccFold]]) and the final [[Dedup.dedupCcVs]] against the
    * accumulated state. Oracle IS `dedup_cc`'s SQL — the maintenance
    * identity through a real intermediate state. */
  def streamCc(s: SparkSession, dir: String): DataFrame = {
    val Seq(b1, b2, b3) =
      graft.Graft.rangeSplit(graft.Tables.documents(s, dir), "doc_id", 3)
    val (sig2, lab2) = Seq(b1, b2).foldLeft(Dedup.ccEmptyState(b1))(Dedup.ccFold(s, _, _))
    Dedup.dedupCcVs(s, b3, sig2, lab2)
  }
}
