package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.EntityResolution

/** Streaming entity-resolution maintenance — the catalog-ingest shape:
  * each arriving record batch folds through the ER steady-state step
  * ([[EntityResolution.erEntitiesVs]]: batch-new names verified, then
  * [[graft.operators.Dedup.foldComponents]] folds their pairs into the
  * prior entities) into standing name-state (name, rep, cnt, entity
  * label) under [[SnapshotStream]]'s versioned rule. Bootstrap-from-
  * empty is the same code path (an empty predecessor degenerates the
  * step to a from-scratch build over the batch).
  *
  * Preconditions are the step's (documented at
  * [[EntityResolution.erIncr]], the gate that folds the same step):
  * append-only keys, block cap not newly binding. The StreamingSpec
  * drives a checkpointed restart + manual replay and pins the final
  * state's record labeling against the one-shot
  * [[EntityResolution.erEntities]] recompute.
  */
object ErStream {

  /** foreachBatch sink: fold a part-shaped `batch` into the stored
    * name state (versions under `$tableDir/er`). */
  def erSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val dir = s"$tableDir/er"
    val prev = SnapshotStream.predecessor(s, dir, batchId)
      .getOrElse(EntityResolution.emptyState(s))
    val next = EntityResolution.erEntitiesVs(s,
      EntityResolution.namesOfParts(batch),
      EntityResolution.dnOfState(prev),
      EntityResolution.priorOfState(prev))
    // the name state is CORPUS-SHAPED (one row per distinct name —
    // hundreds of millions at 100 TB), so the version write must fan
    // out: hash-partitioned by name across the shuffle width, never a
    // coalesce(1) funnel through one task. The sketch sinks' single
    // file is fine (|keys|-bounded state); this one is not.
    SnapshotStream.commit(next.repartition(col("name")), dir, batchId)
  }

  /** The maintained name state (latest committed version). */
  def storedState(s: org.apache.spark.sql.SparkSession, tableDir: String): DataFrame =
    SnapshotStream.latest(s, s"$tableDir/er", "ER state")
}
