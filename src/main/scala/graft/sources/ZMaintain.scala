package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Snapshots

/** A MAINTAINED z-ordered table — the composition the r7 pieces were
  * built for: [[Snapshots.upsertOver]] gives the relational upsert,
  * [[ZOrder.zkey]] the two-dimensional layout, [[Compaction]] the file
  * hygiene. This module keeps all three invariants standing across
  * updates, the way a lakehouse table format's OPTIMIZE/clustered-write
  * path does:
  *
  *   - rows live under `bucket=k` partition directories, k = key mod
  *     [[NBuckets]] — so an update batch touches ONLY the buckets its
  *     keys hash to, and maintenance I/O is proportional to the batch,
  *     never the table (the overwrite-idempotent sink contract of the
  *     reference's output files, generalized to maintained state;
  *     reference intent: 6.5840/src/mr/worker.go:156,169 — atomic
  *     rename-into-place with re-execution safe overwrites);
  *   - within each bucket, files are range-split and sorted by the
  *     z-key, so both z dimensions prune via min-max envelopes
  *     (SourcesSpec measures the scan-row counters);
  *   - after an upsert, [[Compaction.compactSorted]] restores both the
  *     file-size target and the z-envelope discipline over the TOUCHED
  *     buckets only — untouched bucket files are never opened, let
  *     alone rewritten (byte-identical, spec-pinned).
  *
  * At 100 TB: NBuckets scales to thousands (sizing rule in
  * [[Bucketing]]'s scaladoc), the batch's bucket set is a bounded
  * driver-side collect (≤ NBuckets ints), the per-bucket upsert join is
  * key-partitioned, and the rewrite cost is Σ touched-bucket bytes —
  * batch-bounded, which is the whole point of maintaining rather than
  * rewriting the snapshot.
  */
object ZMaintain {

  /** Partition-dir bucket count — small for the fixture; see scaladoc
    * for the 100-TB sizing rule. */
  val NBuckets = 8

  private def bucketOf(key: Column): Column =
    pmod(key, lit(NBuckets)).cast("long")

  /** The documents table's z-key: (n_chars, doc_id) — length-range
    * scans and id-range scans both prune. */
  def zDocs: Column =
    ZOrder.zkey(expr(s"n_chars % ${1 << ZOrder.ZBits}"),
      expr(s"doc_id % ${1 << ZOrder.ZBits}"))

  /** ONE writer owns the layout recipe (bucket column, z-sort within
    * buckets, partition-dir write) for both the initial write and
    * maintenance — a recipe change that landed in only one of the two
    * would silently give the table two different layouts, and the
    * byte-stability spec only watches untouched buckets. */
  private def writeZLayout(df: DataFrame, dir: String, key: String,
      z: Column, dynamicOverwrite: Boolean): Unit = {
    val w = df.withColumn("bucket", bucketOf(col(key)))
      .withColumn("_z", z)
      .repartition(col("bucket"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite)
    (if (dynamicOverwrite) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("bucket").parquet(dir)
  }

  /** Initial snapshot write: bucket dirs + z-sorted files within each.
    * The z column itself is not stored — it is a pure function of
    * stored columns, recomputed by maintenance (the [[ZOrder]] layout
    * recipe). */
  def writeZBucketed(df: DataFrame, dir: String, key: String, z: Column): Unit =
    writeZLayout(df, dir, key, z, dynamicOverwrite = false)

  /** Upsert `updates` into the maintained table at `dir`, then restore
    * the z-layout + file-size target over the touched buckets only.
    * Returns the touched bucket ids. An empty batch is a no-op; a
    * touched bucket with no existing directory (every key in it is new
    * — an empty write partition produces no dir, so sparse tables have
    * legal holes) merges against an empty target instead of failing
    * the read. */
  def upsertZBucketed(s: SparkSession, dir: String, updates: DataFrame,
      key: String, z: Column, targetBytes: Long = 256L << 20): Seq[Long] = {
    val cols = updates.columns.toSeq
    // the batch's bucket set: bounded driver state (≤ NBuckets values)
    val touched = updates.select(bucketOf(col(key)).as("b"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (touched.isEmpty) {
      // a first merge with no rows still leaves a readable, empty
      // table: one bucket dir whose single file carries the schema
      if (!fs.exists(root)) updates.limit(0).write.parquet(s"$dir/b=0")
      return touched
    }
    val existing = touched.filter(b =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/bucket=$b")))
    val target =
      if (existing.isEmpty) updates.limit(0)
      else s.read.option("basePath", dir)
        .parquet(existing.map(b => s"$dir/bucket=$b"): _*)
        .select(cols.map(col): _*)
    val merged = Snapshots.upsertOver(target, updates, key).drop("op")
    // dynamic partition overwrite: ONLY the bucket dirs present in the
    // merged frame (= the touched set) are replaced
    writeZLayout(merged, dir, key, z, dynamicOverwrite = true)
    touched.foreach(b =>
      Compaction.compactSorted(s, s"$dir/bucket=$b", targetBytes, z))
    touched
  }

  /** Bucket-localized keyed-state MERGE — [[upsertZBucketed]]'s
    * touched-bucket discipline generalized to a caller-supplied merge
    * function (the MIN-merge first-seen state of
    * [[graft.streaming.NoveltyStream]], counter addition, any
    * associative keyed fold). `bucket` must be a pure function of the
    * frame's stored columns that respects the merge key (same key ⇒
    * same bucket) — it is recomputed on the merged frame, never stored
    * stale. Reads ONLY the buckets the batch touches, merges against
    * them, and dynamically overwrites ONLY those partition dirs —
    * state-maintenance I/O proportional to the batch's bucket
    * footprint, never the table. Untouched bucket files are never
    * opened (byte-stable, StreamingSpec-pinned). Returns the touched
    * bucket ids; a first merge that touches none writes an empty
    * table, so the state reads back empty instead of missing.
    *
    * Crash/replay contract: there is no cross-bucket transaction — a
    * crash mid-write can land a subset of the touched buckets. The
    * caller's merge must therefore be IDEMPOTENT under batch replay
    * (MIN/MAX/register-style folds qualify; raw counter addition does
    * not), so at-least-once redelivery converges the stragglers. */
  def mergeBucketed(s: SparkSession, dir: String, updates: DataFrame,
      bucket: Column, merge: (DataFrame, DataFrame) => DataFrame,
      sortWithin: Option[String] = None): Seq[Long] = {
    val cols = updates.columns.toSeq
    val touched = updates.select(bucket.as("b")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (touched.isEmpty) {
      // a first merge with no rows still leaves a readable, empty
      // table: one bucket dir whose single file carries the schema
      if (!fs.exists(root)) updates.limit(0).write.parquet(s"$dir/b=0")
      return touched
    }
    val existing = touched.filter(b =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/b=$b")))
    val target =
      if (existing.isEmpty) updates.limit(0)
      else s.read.option("basePath", dir)
        .parquet(existing.map(b => s"$dir/b=$b"): _*)
        .select(cols.map(col): _*)
    val merged = merge(target, updates)
    val w0 = merged.withColumn("b", bucket).repartition(col("b"))
    val w1 = sortWithin.fold(w0)(c => w0.sortWithinPartitions(col(c)))
    w1.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("b").parquet(dir)
    touched
  }

  /** Gate: the [[Snapshots.snapshotUpsert]] scenario executed AS TABLE
    * MAINTENANCE — base snapshot written z-bucketed, the re-crawl batch
    * upserted through the bucket-localized path, layout restored by
    * sorted compaction, and the FINAL ON-DISK TABLE read back. The
    * oracle is the relational upsert's SQL minus the op audit column:
    * maintenance through disk must converge to exactly the rows the
    * one-shot relational upsert produces. */
  def snapshotZMaintain(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val target = docs.where(col("doc_id") % 3 =!= 0)
    val updates = docs.where(col("doc_id") % 5 === 0)
      .withColumn("text", upper(col("text")))
    // per-process path: the gate can run concurrently from several
    // drivers on the same fixtures (bench + verify + rehearsal), and a
    // shared dir would let one process's whole-table Overwrite race
    // another's bucket reads
    val sfTag = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val tdir = s"${sys.props("java.io.tmpdir")}/graft-zmaintain-$sfTag-" +
      java.lang.Long.toHexString(ProcessHandle.current().pid())
    writeZBucketed(target, tdir, "doc_id", zDocs)
    upsertZBucketed(s, tdir, updates, "doc_id", zDocs)
    s.read.parquet(tdir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  val snapshotZMaintainSql: String =
    s"""SELECT doc_id, text, lang, source, n_chars
       |FROM (${Snapshots.snapshotUpsertSql})""".stripMargin
}
