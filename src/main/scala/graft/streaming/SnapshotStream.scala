package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path
import graft.Tables
import graft.operators.Snapshots

/** Streaming twin of the snapshot-maintenance family: a stream of
  * re-crawled documents maintains an on-disk snapshot table through
  * [[Snapshots.upsertOver]] inside `foreachBatch` — the continuous
  * version of the batch `snapshot_upsert` gate, and the writer side of
  * everything the incremental dedups (`dedup_incremental`,
  * `dedup_minhash_incr`, `dedup_cc_incr`) probe.
  *
  * Durability model — versioned snapshot directories:
  * each micro-batch writes the post-upsert table to `v=<batchId>`,
  * reading the latest version strictly BELOW its own id as the merge
  * target. Micro-batch ids from a checkpointed query are strictly
  * increasing across restarts, so this gives exactly-once table
  * maintenance over an at-least-once batch feed for free:
  *  - a batch replayed after a crash mid-write re-reads the same
  *    predecessor version (its own half-written `v=N` is ignored — N is
  *    not < N — and then overwritten whole);
  *  - a batch replayed after a complete write but lost checkpoint
  *    commit recomputes byte-identical output over the same inputs.
  * This is the same recipe as [[EventStreams.idempotentParquetSink]]
  * (deterministic path per batch + overwrite), upgraded from append
  * tables to read-modify-write tables; it is also the transactional
  * core of how Delta/Iceberg maintain tables (monotone versions,
  * readers pin one, old ones are GC'd by retention). READERS are
  * protected separately: only versions carrying Spark's `_SUCCESS`
  * commit marker are visible (see [[versionsIn]]) — the replay
  * argument above makes writes converge, the marker keeps a torn
  * in-progress version from ever being read or merged against.
  *
  * The layout is this object's: every versioned sink and stored-state
  * reader in `graft.streaming` goes through [[predecessor]],
  * [[commit]] and [[latest]]; append-only batch outputs through
  * [[appendBatch]] and [[readAppended]]; min-keeper dedup state
  * through [[MinKeeper]].
  *
  * Scale: each version rewrite costs one key-shuffle of target+batch
  * (the upsert's full-outer join) plus a table write. At 100 TB the
  * target is key-bucketed and the rewrite is restricted to touched
  * buckets — [[graft.sources.ZMaintain.upsertZBucketed]] is exactly
  * that composition; this sink contributes the versioning/replay
  * discipline, ZMaintain the bucket-localized I/O.
  */
object SnapshotStream {

  /** Versions with a COMMIT MARKER only: a version dir is visible iff
    * Spark's job-level `_SUCCESS` file exists in it. Without the
    * filter, a reader racing a crash-mid-write sees the half-written
    * `v=N` as newest and silently reads a torn table (the committed
    * subset of part files — rows missing, no error); the writer-side
    * replay safety below never protected readers. This is the same
    * reader gate table formats implement with a commit record; it also
    * keeps the SINK honest — a torn predecessor is skipped as a merge
    * target too. (If `mapreduce.fileoutputcommitter.marksuccessfuljobs`
    * is disabled, every version is invisible and [[latest]] fails
    * loudly rather than tearing — re-enable the marker.) */
  private[graft] def versionsIn(s: SparkSession, tableDir: String): Seq[Long] = {
    val root = new Path(tableDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("v=") &&
        fs.exists(new Path(p, "_SUCCESS")))
      .map(_.getName.drop(2).toLong)
      .sorted
  }

  /** Version `v` of the table under `dir`, committed or not — callers
    * pick `v` from [[versionsIn]]. */
  private[graft] def readVersion(s: SparkSession, dir: String, v: Long): DataFrame =
    s.read.parquet(s"$dir/v=$v")

  /** Batch `batchId`'s merge target: the newest committed version
    * STRICTLY BELOW the batch id, or None before the first commit (the
    * caller's bootstrap). A replayed batch skips its own half-written
    * version and re-reads the predecessor it read the first time. */
  private[graft] def predecessor(s: SparkSession, dir: String,
      batchId: Long): Option[DataFrame] =
    versionsIn(s, dir).filter(_ < batchId).lastOption.map(readVersion(s, dir, _))

  /** Write `df` as version `batchId` of the table under `dir`, whole
    * (a replay overwrites it); Spark's `_SUCCESS` lands last and is
    * the commit point. The caller shapes the write: `coalesce(1)` for
    * |keys|-row state, a hash `repartition` for corpus-shaped state. */
  private[graft] def commit(df: DataFrame, dir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$dir/v=$batchId")

  /** The newest committed version — what a reader pins; fails naming
    * `what` when nothing is committed yet. */
  private[graft] def latest(s: SparkSession, dir: String, what: String): DataFrame = {
    val vs = versionsIn(s, dir)
    require(vs.nonEmpty, s"no $what versions under $dir")
    readVersion(s, dir, vs.last)
  }

  /** Every committed version, unioned by name (per-batch outputs kept
    * as versions); fails naming `what` when nothing is committed. */
  private[graft] def allVersions(s: SparkSession, dir: String, what: String): DataFrame = {
    val vs = versionsIn(s, dir)
    require(vs.nonEmpty, s"no $what versions under $dir")
    vs.map(readVersion(s, dir, _)).reduce(_ unionByName _)
  }

  /** Append-only batch output: batch `batchId` overwrites its own
    * `out/batch=<id>` dir under `tableDir`, so a replay lands on the
    * same path instead of duplicating rows. */
  private[graft] def appendBatch(df: DataFrame, tableDir: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$tableDir/out/batch=$batchId")

  /** Every appended batch output under `tableDir`, unioned by
    * partition discovery over the `batch=` dirs. */
  private[graft] def readAppended(s: SparkSession, tableDir: String, what: String): DataFrame =
    readDir(s, s"$tableDir/out", what).drop("batch")

  /** The parquet table under `dir` (appended outputs, bucketed state);
    * fails naming `what` when the dir does not exist yet. */
  private[graft] def readDir(s: SparkSession, dir: String, what: String): DataFrame = {
    val p = new Path(dir)
    require(p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p),
      s"no $what under $dir")
    s.read.parquet(dir)
  }

  /** The foreachBatch sink: merge `batch` into the latest snapshot
    * version below `batchId` (or `init` when none exists yet) and write
    * the result as `v=<batchId>`. Safe to re-invoke with the same
    * (batch, batchId) — see the object scaladoc's replay argument. */
  def versionedUpsertSink(tableDir: String, key: String, init: DataFrame)(
      batch: DataFrame, batchId: Long): Unit = {
    val target = predecessor(batch.sparkSession, tableDir, batchId).getOrElse(init)
    commit(Snapshots.upsertOver(target, batch, key).drop("op"), tableDir, batchId)
  }

  /** Read the table as of its newest version (what a reader pins). */
  def currentSnapshot(s: SparkSession, tableDir: String): DataFrame =
    latest(s, tableDir, "snapshot")

  // ------------------------- batch twin (driver oracle gate) ---------

  /** Gate: the two-batch re-crawl fold the streaming sink applies,
    * expressed as the equivalent batch composition — upsert batch 1
    * (doc_id ≡ 0 mod 5, re-extracted/uppercased), then batch 2
    * (doc_id ≡ 0 mod 7, a tagged second re-crawl with 5 extra chars)
    * into the doc_id ≢ 0 (mod 3) snapshot. Last-write-wins per key
    * (docs in both batches end at batch 2's value); the final `op`
    * column audits batch 2's effect against the post-batch-1 state.
    * StreamingSpec drives the SAME fold through the checkpointed
    * `foreachBatch` sink, chops it differently, replays a batch, and
    * pins that the converged on-disk table equals this frame. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val target = docs.where(col("doc_id") % 3 =!= 0)
    val b1 = docs.where(col("doc_id") % 5 === 0)
      .withColumn("text", upper(col("text")))
    val b2 = docs.where(col("doc_id") % 7 === 0)
      .withColumn("text", concat(lit("<r2> "), col("text")))
      .withColumn("n_chars", col("n_chars") + lit(5L))
    val after1 = Snapshots.upsertOver(target, b1, "doc_id").drop("op")
    Snapshots.upsertOver(after1, b2, "doc_id")
  }

  /** Nested full-outer twin: the same two merge rounds as SQL CTEs,
    * per-column update-wins COALESCE at each round. */
  val streamUpsertSql: String =
    """WITH t0 AS (SELECT doc_id, text, lang, source, n_chars
      |            FROM documents WHERE doc_id % 3 <> 0),
      |u1 AS (SELECT doc_id, upper(text) AS text, lang, source, n_chars
      |       FROM documents WHERE doc_id % 5 = 0),
      |t1 AS (SELECT COALESCE(u.doc_id, t.doc_id) AS doc_id,
      |              COALESCE(u.text, t.text) AS text,
      |              COALESCE(u.lang, t.lang) AS lang,
      |              COALESCE(u.source, t.source) AS source,
      |              COALESCE(u.n_chars, t.n_chars) AS n_chars
      |       FROM t0 t FULL OUTER JOIN u1 u ON t.doc_id = u.doc_id),
      |u2 AS (SELECT doc_id, concat('<r2> ', text) AS text, lang, source,
      |              n_chars + 5 AS n_chars
      |       FROM documents WHERE doc_id % 7 = 0)
      |SELECT COALESCE(u.doc_id, t.doc_id) AS doc_id,
      |       COALESCE(u.text, t.text) AS text,
      |       COALESCE(u.lang, t.lang) AS lang,
      |       COALESCE(u.source, t.source) AS source,
      |       COALESCE(u.n_chars, t.n_chars) AS n_chars,
      |       CASE WHEN u.doc_id IS NOT NULL AND t.doc_id IS NOT NULL THEN 'update'
      |            WHEN u.doc_id IS NOT NULL THEN 'insert'
      |            ELSE 'keep' END AS op
      |FROM t1 t FULL OUTER JOIN u2 u ON t.doc_id = u.doc_id""".stripMargin

  /** Version retention — the VACUUM for the versioned-state sinks: a
    * long-running stream accumulates one snapshot directory per batch;
    * this keeps the newest `keep` COMMITTED versions and deletes the
    * rest, plus any TORN version (no `_SUCCESS`) older than the newest
    * committed one (a torn dir newer than every committed version may
    * be a write in progress and is left alone). Readers are unaffected
    * by construction: they resolve through [[versionsIn]], which only
    * ever serves committed versions, and the newest `keep` survive.
    * Returns the deleted version ids (committed ones only).
    *
    * Replay caveat, stated loudly: a batch replay REREADS the latest
    * version strictly below its own id — vacuum must therefore keep at
    * least as many versions as the stream's maximum replay depth
    * (`keep` ≥ 2 covers the restart-last-batch case the specs pin). */
  def vacuum(s: SparkSession, tableDir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the current version")
    val root = new Path(tableDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val committed = versionsIn(s, tableDir)
    val dropCommitted = committed.dropRight(keep)
    val newestCommitted = committed.lastOption.getOrElse(Long.MinValue)
    val tornOld = fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("v=") &&
        !fs.exists(new Path(p, "_SUCCESS")) &&
        p.getName.drop(2).toLong < newestCommitted)
    dropCommitted.foreach(v => fs.delete(new Path(root, s"v=$v"), true))
    tornOld.foreach(p => fs.delete(p, true))
    dropCommitted
  }
}

/** Min-keeper dedup state keyed by the column `key`: key → MIN owning
  * doc_id — the state [[WebStream]] (`fp`), [[ImageStream]] and
  * [[AudioStream]] (`key`) fold. It is corpus-shaped, so it lives
  * key-hash-BUCKETED under `<tableDir>/<key>` and folds through
  * [[graft.sources.ZMaintain.mergeBucketed]] (per-batch I/O = Σ
  * touched-bucket bytes); MIN is idempotent, so an at-least-once
  * replay is a no-op on it. Admission reads the FOLDED state — a row
  * is kept iff its key's keeper is its own doc_id — so a replayed
  * batch recomputes identical rows and overwrites its own
  * `out/batch=` dir with them ([[SnapshotStream.appendBatch]]; the
  * state is in-place, not versioned, so the strictly-monotone
  * admission rule stands in for the predecessor-version rule).
  *
  * THE FOLD IDENTITY: with crawl-ordered batches (doc ids monotone
  * across batches), min-keeper admission over any batching equals the
  * one-shot "keep the min doc_id per key" over the whole input.
  * Out-of-order batching still converges the STATE (MIN is
  * order-free); only already-emitted superseded keepers linger in old
  * `batch=` dirs, the at-least-once append semantics. */
private[graft] final class MinKeeper(key: String) {

  /** Key-hash bucket fan-out — small for the fixture; thousands at
    * 100 TB (the [[graft.sources.Bucketing]] sizing rule). */
  val NBuckets = 64

  def bucket: Column = pmod(hash(col(key)), lit(NBuckets)).cast("long")

  /** Batch-local state: ONE mergeable aggregation over rows carrying
    * `key` and `doc_id`. */
  def stateOf(rows: DataFrame): DataFrame =
    rows.groupBy(col(key)).agg(min(col("doc_id")).as("keeper"))

  /** Keyed state merge — pointwise MIN, idempotent. */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col(key), col("keeper").as("ka"))
      .join(b.select(col(key), col("keeper").as("kb")), Seq(key), "full_outer")
      .select(col(key),
        least(coalesce(col("ka"), col("kb")), coalesce(col("kb"), col("ka")))
          .as("keeper"))

  /** The rows whose key's keeper is their own doc_id, in `rows`'
    * columns. Batch-keyed join, never corpus-keyed. */
  def admittedUnder(rows: DataFrame, state: DataFrame): DataFrame =
    rows.join(state, Seq(key))
      .where(col("doc_id") === col("keeper"))
      .select(rows.columns.map(col): _*)

  /** Fold the batch-local `state` into the stored state, then append
    * the rows `admit` keeps under the FOLDED state as batch `batchId`'s
    * output. A batch that touches no bucket (no rows) changes no
    * state, so it admits against its own empty `state` without reading
    * the stored one and appends an empty output. */
  def fold(tableDir: String, batchId: Long, state: DataFrame)(
      admit: DataFrame => DataFrame): Unit = {
    val s = state.sparkSession
    val touched = graft.sources.ZMaintain.mergeBucketed(s, s"$tableDir/$key",
      state, bucket, merge, sortWithin = Some(key))
    val folded = if (touched.isEmpty) state else s.read.parquet(s"$tableDir/$key")
    SnapshotStream.appendBatch(
      admit(folded.select(col(key), col("keeper"))), tableDir, batchId)
  }

  /** The sink body for rows that carry `key`: persisted once (the
    * decode pass feeds the fold AND the admission), folded, admitted. */
  def sink(rows: DataFrame, tableDir: String, batchId: Long): Unit = {
    val kept = rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fold(tableDir, batchId, stateOf(kept))(admittedUnder(kept, _))
    finally kept.unpersist()
  }
}
