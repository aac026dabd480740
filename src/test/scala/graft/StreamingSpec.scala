package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams

/** Drives the SAME transforms once through Structured Streaming (real
  * readStream + memory sink) and once in batch, asserting identical
  * results — plus a watermark test showing late data is dropped.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  /** Streaming read of the fixture events, normalized exactly like
    * Tables.events. The stream source needs an explicit schema, so take
    * the one a batch read ACTUALLY loads (encoding-adaptive — the driver
    * has regenerated the fixture with a different ts encoding before)
    * and share Tables.normalizeEventsTs for the µs normalization. */
  private def streamEvents() = {
    val dir = Files.createTempDirectory("graft-stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val loadedSchema = spark.read.parquet(dir.toString).schema
    Tables.normalizeEventsTs(
      spark.readStream.schema(loadedSchema).parquet(dir.toString))
  }

  private def runComplete(df: org.apache.spark.sql.DataFrame, name: String) = {
    val q = df.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("streaming tumbling windows == batch tumbling windows") {
    val streamed = runComplete(EventStreams.tumbling(streamEvents()), "t_tumbling")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.tumbling(Tables.events(spark, "/root/testdata/sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming session windows == batch session windows") {
    val streamed = runComplete(EventStreams.sessions(streamEvents()), "t_sessions")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.sessions(Tables.events(spark, "/root/testdata/sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("rate source: the same transforms run on a genuinely unbounded stream") {
    // the file-source tests replay a finite fixture; this drives
    // EventStreams.tumbling from Spark's rate source — an UNBOUNDED
    // micro-batch stream — mapping each tick to a deterministic synthetic
    // event (ts derived from the monotonically-assigned `value`, NOT the
    // wall clock, so the expected answer is computable). Rate values are
    // contiguous 0..N-1, so whatever prefix N the query has processed at
    // stop time, the streaming state must equal the batch twin over
    // range(N).
    def toEvents(df: org.apache.spark.sql.DataFrame) = df
      .select(col("value"))
      .withColumn("ts_us", lit(1700000000000000L) + col("value") * 60L * 1000000L)
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("event_type",
        element_at(array(lit("view"), lit("click"), lit("purchase")),
          (col("value") % 3).cast("int") + 1))
      .withColumn("value", (col("value") % 10).cast("double"))
    val src = spark.readStream.format("rate")
      .option("rowsPerSecond", 5000).load()
    val q = EventStreams.tumbling(toEvents(src))
      .writeStream.outputMode("complete")
      .format("memory").queryName("t_rate").start()
    // let several micro-batches through, then drain and stop
    Thread.sleep(3000)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("t_rate").collect().map(_.toSeq).toSet
    val n = spark.table("t_rate").agg(sum("n_events")).head().getLong(0)
    assert(n > 0, "rate source must have produced rows")
    val batch = EventStreams.tumbling(toEvents(spark.range(n).toDF("value")))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"unbounded-stream prefix of $n rows must equal its batch twin")
  }

  test("watermark drops late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)] // (epoch_us, type)
    val events = mem.toDF().toDF("ts_us", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", lit(1.0))
    val agg = EventStreams.tumbling(events)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("t_late").start()

    def hour(h: Long, m: Long = 0): Long = (h * 3600 + m * 60) * 1000000L
    mem.addData((hour(10, 10), "click"), (hour(10, 20), "click"))
    q.processAllAvailable()
    // advance watermark far past hour 10 → the 10:00 window closes
    mem.addData((hour(14), "view"))
    q.processAllAvailable()
    val after = spark.table("t_late").where(col("hour_us") === hour(10))
      .select("n_events").collect().map(_.getLong(0)).toSeq
    assert(after == Seq(2), "10:00 window must be finalized with 2 events")

    // a LATE event for the already-closed 10:00 window must be dropped
    mem.addData((hour(10, 30), "click"))
    q.processAllAvailable()
    val fin = spark.table("t_late").where(col("hour_us") === hour(10))
      .select("n_events").collect().map(_.getLong(0)).toSeq
    assert(fin == Seq(2), "late event must not reopen or duplicate the window")
    q.stop()
  }

  test("stream-stream join (purchase attribution) == batch join") {
    val streamed = {
      val df = EventStreams.purchaseAttribution(streamEvents())
      val q = df.writeStream.outputMode("append")
        .format("memory").queryName("t_ssjoin").start()
      q.processAllAvailable(); q.stop()
      spark.table("t_ssjoin").collect().map(_.toSeq).toSet
    }
    val batch = EventStreams.purchaseAttribution(
      Tables.events(spark, "/root/testdata/sf0.001")).collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("left-outer stream-stream join == batch on the watermark-closed region") {
    val streamed = {
      val df = EventStreams.clickConversion(streamEvents())
      val q = df.writeStream.outputMode("append")
        .format("memory").queryName("t_ssleft").start()
      q.processAllAvailable(); q.stop()
      spark.table("t_ssleft").collect().map(_.toSeq).toSet
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val batch = EventStreams.clickConversion(ev).collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)

    // matched rows emit immediately — the full inner subset must agree
    val sMatched = streamed.filter(_(3) != null)
    val bMatched = batch.filter(_(3) != null)
    assert(sMatched == bMatched)

    // NULL rows emit only once the global watermark passes
    // click_ts + 30 min; after end-of-stream that watermark is
    // min(max click ts − 1 h, max purchase ts − 2 h). Inside the closed
    // region streamed must equal batch exactly.
    import org.apache.spark.sql.functions._
    def maxTs(t: String) = ev.where(col("event_type") === t)
      .agg(max(col("ts_us"))).first().getLong(0)
    val wmUs = math.min(maxTs("click") - 3600000000L,
                        maxTs("purchase") - 7200000000L)
    def closed(rows: Set[Seq[Any]]) =
      rows.filter(r => r(2).asInstanceOf[Long] + 1800000000L < wmUs)
    assert(closed(streamed) == closed(batch))
    assert(closed(batch).exists(_(3) == null),
      "closed region must contain unconverted clicks for the test to bite")
  }

  test("streaming dropDuplicates (keys-only) == batch DISTINCT") {
    val streamed = {
      val df = EventStreams.dedupKeys(streamEvents())
      val q = df.writeStream.outputMode("append")
        .format("memory").queryName("t_dedup").start()
      q.processAllAvailable(); q.stop()
      spark.table("t_dedup").collect().map(_.toSeq).toSet
    }
    val batch = EventStreams.dedupKeys(Tables.events(spark, "/root/testdata/sf0.001"))
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("dropDuplicatesWithinWatermark: bounded state, same key coverage") {
    // Watermark-bounded dedup may re-emit a key after the delay expires
    // (that's the state-size contract, not a bug): the emitted multiset
    // sits between DISTINCT and the raw stream, and must cover exactly
    // the batch-distinct key set.
    val streamed = {
      val df = streamEvents().withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
      val q = df.writeStream.outputMode("append")
        .format("memory").queryName("t_dedup_wm").start()
      q.processAllAvailable(); q.stop()
      spark.table("t_dedup_wm").collect()
        .map(r => (r.getLong(0), r.getString(1)))
    }
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val distinctKeys = EventStreams.dedupKeys(ev).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed.toSet == distinctKeys)
    assert(streamed.length >= distinctKeys.size && streamed.length <= ev.count())
  }

  test("stateful userStats agrees between typed pipeline and SQL aggregate") {
    val dir = "/root/testdata/sf0.001"
    val typed = EventStreams.qStreamUserStats(spark, dir)
      .collect().map(_.toSeq).toSet
    val sqlSide = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("total_cents"))
      .withColumn("total_value", col("total_cents").cast("double") / 100.0)
    val joined = EventStreams.qStreamUserStats(spark, dir).as("a")
      .join(sqlSide.as("b"), Seq("user_id"))
      .where(col("a.n_events") =!= col("b.n_events") ||
             col("a.total_cents") =!= col("b.total_cents"))
    assert(typed.size == sqlSide.count())
    assert(joined.count() == 0)
  }

  test("stream-static join: incremental dedup of a document stream against a static snapshot == batch") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Cleaning, TextAnalysis}
    val src = "/root/testdata/sf0.001"
    val docsStatic = spark.read.parquet(s"$src/documents.parquet")
    def fp(df: DataFrame): DataFrame =
      df.select(col("doc_id"), md5(TextAnalysis.normalized(col("text"))).as("fp_norm"))
    // static side: the already-ingested snapshot (never re-read per batch
    // beyond Spark's stream-static contract); stream side: new docs
    val snapshot = fp(docsStatic.where(col("doc_id") % 3 =!= 0))
    val dir = Files.createTempDirectory("graft-streamdocs")
    Files.copy(Paths.get(s"$src/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // plant one incoming doc (999 ≡ 0 mod 3) that exactly duplicates a
    // snapshot doc's text — the fixture has no cross-split exact dups
    docsStatic.where(col("doc_id") === 1).withColumn("doc_id", lit(999L))
      .write.mode("append").parquet(dir.toString)
    val stream = spark.readStream.schema(docsStatic.schema).parquet(dir.toString)
    val q = Cleaning.dedupIncrementalVs(fp(stream.where(col("doc_id") % 3 === 0)), snapshot)
      .writeStream.outputMode("append").format("memory").queryName("t_ss_incr").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_ss_incr").collect().map(_.toSeq).toSet
    val batch = Cleaning
      .dedupIncrementalVs(
        fp(spark.read.parquet(dir.toString).where(col("doc_id") % 3 === 0)), snapshot)
      .collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == batch)
    // both outcomes occur: snapshot hits and genuinely new docs
    assert(streamed.exists(_.last == 0) && streamed.exists(_.last == 1))
  }

  test("streaming classifier scoring: a document stream scored per-batch under a stored model == batch scoring") {
    import org.apache.spark.sql.DataFrame
    import graft.operators.Classifier
    val src = "/root/testdata/sf0.001"
    // train once, store the model, score the stream WITHOUT retraining —
    // the daily-crawl shape: each microbatch is a bounded DataFrame, so
    // scoreOver runs unchanged inside foreachBatch (scoring needs the
    // per-doc feature aggregation, which would otherwise demand
    // unbounded streaming state; per-batch scoring is the honest
    // production answer, and files arrive whole-doc anyway)
    val model = Classifier.taQualityClfModel(spark, src)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      .toDF("bucket", "wt")
    val dir = Files.createTempDirectory("graft-streamclf")
    Files.copy(Paths.get(s"$src/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val scored = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$src/documents.parquet").schema)
      .parquet(dir.toString)
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scored.synchronized {
          scored ++= Classifier.taQualityClfScoreOver(batch, model).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        }
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val batchScores = Classifier
      .taQualityClfScoreOver(spark.read.parquet(s"$src/documents.parquet"), model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(scored.nonEmpty && scored.toSet == batchScores)
  }

  test("streaming-maintained snapshot: per-batch upsert == one batch upsert of all updates") {
    // the full loop: a stream of re-crawled docs maintains the snapshot
    // (Snapshots.upsertOver inside foreachBatch) that the incremental
    // dedups probe. Upsert idempotence + update-wins means applying the
    // stream batch-by-batch must land the same snapshot as one batch
    // apply of all updates — regardless of how the stream was chopped.
    import org.apache.spark.sql.DataFrame
    import graft.operators.Snapshots
    val src = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"))
    @volatile var snapshot: DataFrame = docs.where(col("doc_id") % 3 =!= 0)
      .localCheckpoint()
    val updates = docs.where(col("doc_id") % 5 === 0)
      .withColumn("text", upper(col("text")))
    val dir = Files.createTempDirectory("graft-snapstream")
    updates.coalesce(4).write.mode("overwrite").parquet(dir.toString)
    val q = spark.readStream.schema(updates.schema)
      .option("maxFilesPerTrigger", 1) // several micro-batches
      .parquet(dir.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        snapshot = Snapshots.upsertOver(snapshot, batch, "doc_id")
          .drop("op").localCheckpoint()
        ()
      }.start()
    q.processAllAvailable(); q.stop()
    val streamed = snapshot.collect().map(_.toSeq).toSet
    val once = Snapshots.upsertOver(
        docs.where(col("doc_id") % 3 =!= 0), updates, "doc_id")
      .drop("op").collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty && streamed == once)
  }

  test("foreachBatch idempotent sink: batch replay does not duplicate rows") {
    val out = Files.createTempDirectory("graft-sink").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = streamEvents()
      .select(col("event_id"), col("user_id"), col("event_type"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(EventStreams.idempotentParquetSink(out) _)
      .start()
    q.processAllAvailable(); q.stop()
    val once = spark.read.parquet(out)
    val expected = spark.read.parquet("/root/testdata/sf0.001/events.parquet").count()
    assert(once.count() === expected)
    // simulate an epoch replay after a failure mid-commit: re-invoke the
    // sink for an already-committed batch id — same path, overwrite ⇒
    // the table is unchanged, not doubled
    val batchIds = once.select(col("batch_id")).distinct()
      .collect().map(_.getInt(0).toLong)
    // materialize the batch first (a real replay re-derives it from the
    // SOURCE; reading lazily from the sink dir being overwritten would
    // race the overwrite)
    val prior = spark.read.parquet(out)
      .where(col("batch_id") === batchIds.head).drop("batch_id")
    val replayed = spark.createDataFrame(
      java.util.Arrays.asList(prior.collect(): _*), prior.schema)
    EventStreams.idempotentParquetSink(out)(replayed, batchIds.head)
    assert(spark.read.parquet(out).count() === expected)
  }

  test("output finality: first-visible output is unchanged by later launches (A3 intent)") {
    // reference 6.5840/src/main/test-mr.sh:225-280 (early_exit): output
    // captured when the first worker exits must equal the final output.
    // Spark analog with the commit protocol: sink content committed by
    // an earlier launch is FINAL — a later launch resuming from the
    // same checkpoint appends new batches but never rewrites or
    // perturbs already-visible ones.
    val src = Files.createTempDirectory("graft-fin-src")
    val out = Files.createTempDirectory("graft-fin-out").toString
    val ckpt = Files.createTempDirectory("graft-fin-ckpt").toString
    import spark.implicits._
    def run(): Unit = {
      val q = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(EventStreams.idempotentParquetSink(out) _)
        .start()
      q.awaitTermination()
    }
    def addFile(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-fin-tmp")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def sinkFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(out))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    addFile(Seq((1L, "alpha"), (2L, "beta")), "f1.parquet")
    run() // "first worker exits": launch 1 commits its batches and stops
    val firstVisibleRows = spark.read.parquet(out).collect().map(_.toSeq).toSet
    val firstVisibleFiles = sinkFiles()
    assert(firstVisibleRows.nonEmpty)
    // more input lands; a new launch resumes from the same checkpoint
    addFile(Seq((3L, "gamma"), (4L, "delta")), "f2.parquet")
    run()
    val finalRows = spark.read.parquet(out).collect().map(_.toSeq).toSet
    assert(firstVisibleRows.subsetOf(finalRows),
      "rows visible after launch 1 must appear unchanged in the final output")
    firstVisibleFiles.foreach { case (path, len) =>
      val f = new java.io.File(path)
      assert(f.exists() && f.length() == len,
        s"committed sink file perturbed by the second launch: $path")
    }
    // and the final output equals the one-shot batch result on all input
    val batchAll = spark.read.schema("doc_id LONG, text STRING")
      .parquet(src.toString).collect().map(_.toSeq).toSet
    assert(finalRows.map(r => r.take(2)) == batchAll)
  }

  test("streaming quantile sketch == batch sketch (mergeable state is streaming-safe)") {
    // the point of a MERGEABLE sketch: Structured Streaming's state
    // store holds the partial aggregate and merges each micro-batch
    // into it — the same merge the batch plan uses map-side, so the
    // final registers must be IDENTICAL however the stream was chopped
    // into batches
    import graft.operators.HeavyHitters
    val qa = udaf(HeavyHitters.quantileAgg)
    def sketchOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), qa(col("cents")).as("sk"))
    val streamed = runComplete(sketchOf(streamEvents()), "t_quant")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val batch = sketchOf(Tables.events(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("versioned snapshot sink: checkpointed restart + batch replay converge on the batch gate's table") {
    // the durable twin of the in-memory streaming-upsert test above:
    // the same two-re-crawl fold as the stream_upsert GATE, driven
    // through SnapshotStream.versionedUpsertSink across TWO query
    // launches (restart from checkpoint), then a manual batch REPLAY —
    // the converged on-disk table must equal the gate frame exactly
    import graft.streaming.SnapshotStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val target = docs.where(col("doc_id") % 3 =!= 0)
    val b1 = docs.where(col("doc_id") % 5 === 0)
      .withColumn("text", upper(col("text")))
    val b2 = docs.where(col("doc_id") % 7 === 0)
      .withColumn("text", concat(lit("<r2> "), col("text")))
      .withColumn("n_chars", col("n_chars") + lit(5L))
    val src = Files.createTempDirectory("graft-vsnap-src")
    val table = Files.createTempDirectory("graft-vsnap-tab").toString
    val ckpt = Files.createTempDirectory("graft-vsnap-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-vsnap-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(SnapshotStream.versionedUpsertSink(table, "doc_id", target) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0 → v=0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1 → v=1
    def tableRows() = SnapshotStream.currentSnapshot(spark, table)
      .collect().map(_.toSeq).toSet
    val converged = tableRows()
    val gate = SnapshotStream.streamUpsert(spark, sf).drop("op")
      .collect().map(_.toSeq).toSet
    assert(converged.nonEmpty && converged == gate,
      "streamed table must equal the batch gate's fold")
    // replay batch 1 (at-least-once delivery): same id, same data —
    // the sink must converge to the identical table, not fan out
    SnapshotStream.versionedUpsertSink(table, "doc_id", target)(b2, 1L)
    assert(tableRows() == gate, "batch replay must be a no-op")
  }

  test("versioned snapshot sink: a torn (uncommitted) version is invisible to readers and merges") {
    import graft.streaming.SnapshotStream
    import spark.implicits._
    val table = Files.createTempDirectory("graft-torn-tab").toString
    val init = Seq((1L, "one"), (2L, "two")).toDF("doc_id", "text")
    SnapshotStream.versionedUpsertSink(table, "doc_id", init)(
      Seq((2L, "TWO")).toDF("doc_id", "text"), 0L)
    // simulate a crash mid-write of v=1: committed part files exist,
    // but the job-level _SUCCESS marker does not
    val torn = new java.io.File(s"$table/v=1"); torn.mkdirs()
    val v0parts = new java.io.File(s"$table/v=0").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    Files.copy(v0parts.head.toPath, torn.toPath.resolve("part-torn.parquet"))
    // readers must pin v=0, never the torn v=1
    val seen = SnapshotStream.currentSnapshot(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(seen == Map(1L -> "one", 2L -> "TWO"),
      "reader must not see the uncommitted version")
    // the replayed batch 1 merges against v=0 (not the torn dir) and
    // its completed write REPLACES the torn v=1
    SnapshotStream.versionedUpsertSink(table, "doc_id", init)(
      Seq((3L, "three")).toDF("doc_id", "text"), 1L)
    val healed = SnapshotStream.currentSnapshot(spark, table)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(healed == Map(1L -> "one", 2L -> "TWO", 3L -> "three"))
  }

  test("streaming vector ingest maintains the stored ANN index == one-pass rebuild") {
    // the round's two maintenance halves composed: arriving vectors are
    // encoded under the FROZEN quantizer inside foreachBatch
    // (VecKernel.ivfPqEncodeFrame) and merged into the stored IVF-PQ
    // index table by the versioned snapshot sink — searching the
    // maintained index must equal the one-pass rebuild exactly
    import graft.operators.{KMeans, Similarity, VecKernel}
    import graft.streaming.SnapshotStream
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val c = Similarity.nCentroids(emb.count())
    val q = VecKernel.collectQuantizer(spark, dir, c, KMeans.PqC)
    def enc(df: org.apache.spark.sql.DataFrame) =
      VecKernel.ivfPqEncodeFrame(df, q, Similarity.NProbe, KMeans.PqC, KMeans.PqM)
    val init = enc(emb.where(col("vec_id") % Similarity.IndexUpsertMod =!= 1))
    // the arrival stream: the batch vectors land as two parquet files
    val src = Files.createTempDirectory("graft-annstream-src")
    val table = Files.createTempDirectory("graft-annstream-tab").toString
    val ckpt = Files.createTempDirectory("graft-annstream-ckpt").toString
    val arrivals = emb.where(col("vec_id") % Similarity.IndexUpsertMod === 1)
    arrivals.where(col("vec_id") % 2 === 1).coalesce(1)
      .write.parquet(src.resolve("w1").toString)
    arrivals.where(col("vec_id") % 2 === 0).coalesce(1)
      .write.parquet(src.resolve("w2").toString)
    val qy = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.toString + "/*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        SnapshotStream.versionedUpsertSink(table, "vec_id", init)(enc(batch), id)
      }
      .start()
    qy.awaitTermination()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val maintained = rows(Similarity.simIvfPqTopkOver(
      SnapshotStream.currentSnapshot(spark, table)))
    val rebuilt = rows(Similarity.simIvfPqTopk(spark, dir))
    assert(maintained.nonEmpty && maintained == rebuilt,
      "stream-maintained index must search exactly like the rebuilt index")
  }

  test("checkpointed restart processes only new files (incremental pipeline)") {
    val src = Files.createTempDirectory("graft-inc-src")
    val out = Files.createTempDirectory("graft-inc-out").toString
    val ckpt = Files.createTempDirectory("graft-inc-ckpt").toString
    import spark.implicits._
    def run(): Unit = {
      val q = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(EventStreams.idempotentParquetSink(out) _)
        .start()
      q.awaitTermination()
    }
    // the file source lists plain files, so land each batch as ONE
    // parquet file (write.parquet creates a directory)
    def addFile(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-inc-tmp")
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name),
        StandardCopyOption.REPLACE_EXISTING)
    }
    addFile(Seq((1L, "alpha"), (2L, "beta")), "f1.parquet")
    run()
    assert(spark.read.parquet(out).count() === 2)
    // second launch with the SAME checkpoint: only the new file flows
    addFile(Seq((3L, "gamma")), "f2.parquet")
    run()
    val all = spark.read.parquet(out)
    assert(all.count() === 3) // f1 not reprocessed, f2 appended
    assert(all.select(col("doc_id")).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
  }

  test("streaming paragraph dedup: checkpointed restart + replay converge on the one-shot dedup") {
    // the paragraph lens's durable twin: doc_id-range batches fed in
    // order through ParagraphStream.paragraphSink across TWO query
    // launches; the union of cleaned batch outputs must equal the
    // ONE-SHOT dedup_paragraph over the whole corpus (the order-fold
    // identity the stream_paragraph gate pins), and a batch replay
    // must not change it
    import graft.streaming.ParagraphStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-pstream-src")
    val table = Files.createTempDirectory("graft-pstream-tab").toString
    val ckpt = Files.createTempDirectory("graft-pstream-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-pstream-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(ParagraphStream.paragraphSink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    def outRows() = ParagraphStream.cleanedOutput(spark, table)
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.ParagraphDedup.dedupParagraph(spark, sf)
      .collect().map(_.toSeq).toSet
    val converged = outRows()
    assert(converged.nonEmpty && converged == oneShot,
      "streamed cleaned output must equal the one-shot paragraph dedup")
    // at-least-once delivery: replaying batch 1 must converge, not
    // double-drop or resurrect paragraphs
    ParagraphStream.paragraphSink(table)(b2, 1L)
    assert(outRows() == oneShot, "batch replay must be a no-op")
  }

  test("streaming CMS maintenance: checkpointed restart + replay converge on the one-shot sketch") {
    // counter addition is associative/commutative, so the streamed fold
    // must reproduce the one-shot sketch EXACTLY — and a replayed batch
    // must not double-count (the versioned-state exactly-once claim)
    import graft.streaming.SketchStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-cms-src")
    val table = Files.createTempDirectory("graft-cms-tab").toString
    val ckpt = Files.createTempDirectory("graft-cms-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-cms-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(SketchStream.cmsSink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    val oneShot = SketchStream.sketchOf(docs)
    assert(SketchStream.storedSketch(spark, table) == oneShot,
      "streamed sketch must equal the one-shot aggregation")
    assert(oneShot.sum > 0, "fixture must actually have tokens")
    // at-least-once delivery: replaying batch 1 re-merges against the
    // same predecessor version — counters must not double
    SketchStream.cmsSink(table)(b2, 1L)
    assert(SketchStream.storedSketch(spark, table) == oneShot,
      "batch replay must be a no-op")
  }

  test("streaming keyed HLL maintenance: checkpointed restart + replay converge on the one-shot registers") {
    // register max is associative/commutative/idempotent, so the keyed
    // fold must reproduce the one-shot per-lang registers exactly, and
    // a replayed batch is a no-op twice over (arithmetic + versioning)
    import graft.streaming.SketchStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-hll-src")
    val table = Files.createTempDirectory("graft-hll-tab").toString
    val ckpt = Files.createTempDirectory("graft-hll-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-hll-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(SketchStream.hllSink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    def regsMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val oneShot = regsMap(SketchStream.hllRegsOf(docs))
    assert(oneShot.nonEmpty && oneShot.values.exists(_.exists(_ > 0)),
      "fixture must touch registers")
    assert(regsMap(SketchStream.storedHllRegs(spark, table)) == oneShot,
      "streamed keyed registers must equal the one-shot aggregation")
    SketchStream.hllSink(table)(b2, 1L)
    assert(regsMap(SketchStream.storedHllRegs(spark, table)) == oneShot,
      "batch replay must be a no-op")
  }

  test("streaming keyed quantile maintenance: checkpointed restart + replay converge on the one-shot state") {
    // counter addition is associative but NOT idempotent — convergence
    // under replay is carried entirely by the versioned-state
    // discipline, which is exactly what this pins
    import graft.streaming.SketchStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-qnt-src")
    val table = Files.createTempDirectory("graft-qnt-tab").toString
    val ckpt = Files.createTempDirectory("graft-qnt-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-qnt-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(SketchStream.quantileSink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    def stateMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    val oneShot = stateMap(SketchStream.quantileStateOf(docs))
    assert(oneShot.values.map(_._1).sum == docs.count(),
      "one-shot state must count every document")
    assert(stateMap(SketchStream.storedQuantileState(spark, table)) == oneShot,
      "streamed keyed quantile state must equal the one-shot aggregation")
    // the dangerous replay: counters would double without versioning
    SketchStream.quantileSink(table)(b2, 1L)
    assert(stateMap(SketchStream.storedQuantileState(spark, table)) == oneShot,
      "batch replay must not double-count")
  }

  test("streaming CC maintenance: checkpointed restart + replay converge on the one-shot clustering") {
    // contraction preserves connectivity and canonicals are minima, so
    // the streamed fold must reproduce dedup_cc exactly; a replayed
    // batch re-reads the same (sig, labels) pair and rewrites both
    // byte-identically
    import graft.streaming.CcStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-scc-src")
    val table = Files.createTempDirectory("graft-scc-tab").toString
    val ckpt = Files.createTempDirectory("graft-scc-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-scc-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(CcStream.ccSink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0 (bootstrap)
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1 (maintenance)
    def labMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = graft.operators.Dedup.dedupCc(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oneShot.values.toSet.size < oneShot.size,
      "fixture must contain non-trivial clusters")
    assert(labMap(CcStream.storedLabels(spark, table)) == oneShot,
      "streamed clustering must equal the one-shot dedup_cc")
    // at-least-once: replaying the maintenance batch must converge
    CcStream.ccSink(table)(b2, 1L)
    assert(labMap(CcStream.storedLabels(spark, table)) == oneShot,
      "batch replay must be a no-op")
  }

  test("streaming CC maintenance: a sig version without its labels twin is invisible to readers and skipped as merge target") {
    // a crash between ccSink's two writes leaves sig/v=N committed
    // without labels/v=N; readers must keep pinning v=N-1, and the next
    // batch must merge from the v=N-1 pair, never from the orphan sig
    import graft.streaming.CcStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val table = Files.createTempDirectory("graft-scc-orphan").toString
    def labMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CcStream.ccSink(table)(b1, 0L)
    val afterB1 = labMap(CcStream.storedLabels(spark, table))
    // the orphan: a COMMITTED (_SUCCESS-marked) but empty signature
    // index as sig/v=1 — merging against it would lose every
    // cross-batch match
    spark.read.parquet(s"$table/sig/v=0").limit(0)
      .write.parquet(s"$table/sig/v=1")
    assert(new java.io.File(s"$table/sig/v=1/_SUCCESS").exists())
    assert(CcStream.committedVersions(spark, table) == Seq(0L))
    assert(labMap(CcStream.storedLabels(spark, table)) == afterB1,
      "readers must not pair the orphan sig version with any labels")
    CcStream.ccSink(table)(b2, 2L)
    assert(CcStream.committedVersions(spark, table) == Seq(0L, 2L))
    val oneShot = graft.operators.Dedup.dedupCc(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the fixture has clusters spanning both batches, so a merge from
    // the empty orphan index would split them
    assert(oneShot.groupBy(_._2).values.exists(c =>
      c.keys.exists(_ <= mid) && c.keys.exists(_ > mid)),
      "fixture must contain a cluster spanning both batches")
    assert(labMap(CcStream.storedLabels(spark, table)) == oneShot,
      "batch 2 must merge from the v=0 pair, not the orphan sig/v=1")
  }

  test("streaming first-seen maintenance: checkpointed restart + replay converge on the one-shot table") {
    // min is associative/commutative/idempotent: the folded
    // first-occurrence table must equal the one-shot aggregation, and a
    // replayed batch is a no-op twice over (arithmetic + versioning)
    import graft.streaming.NoveltyStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-nov-src")
    val table = Files.createTempDirectory("graft-nov-tab").toString
    val ckpt = Files.createTempDirectory("graft-nov-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-nov-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(NoveltyStream.noveltySink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    def fsMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val oneShot = fsMap(NoveltyStream.firstSeenOf(docs))
    assert(oneShot.nonEmpty)
    assert(fsMap(NoveltyStream.storedFirstSeen(spark, table)) == oneShot,
      "streamed first-seen table must equal the one-shot aggregation")
    // a gram first seen in batch 1 must keep its batch-1 doc even
    // though batch 2 replays after the restart
    NoveltyStream.noveltySink(table)(b2, 1L)
    assert(fsMap(NoveltyStream.storedFirstSeen(spark, table)) == oneShot,
      "batch replay must be a no-op")
    // bucket-localized maintenance: a small batch must rewrite ONLY the
    // buckets its grams hash to — untouched bucket files byte-stable
    def bucketMd5s(): Map[String, Seq[(String, String)]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      new java.io.File(s"$table/firstseen").listFiles()
        .filter(_.getName.startsWith("b=")).map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).toSeq.map { f =>
              f.getName -> md.digest(Files.readAllBytes(f.toPath))
                .map("%02x".format(_)).mkString
            }
        }.toMap
    }
    val before = bucketMd5s()
    assert(before.size > 4, "fixture grams must spread across several buckets")
    val tiny = spark.createDataFrame(Seq(
      (999999L, "zqx wvu tsr zqx wvu tsr"))).toDF("doc_id", "text")
    NoveltyStream.noveltySink(table)(tiny, 2L)
    val touched = graft.streaming.NoveltyStream.firstSeenOf(tiny)
      .select(graft.streaming.NoveltyStream.gramBucket.as("b"))
      .distinct().collect().map(r => s"b=${r.getLong(0)}").toSet
    assert(touched.nonEmpty && touched.size < before.size,
      "tiny batch must touch a strict subset of buckets")
    val after = bucketMd5s()
    for ((b, files) <- before if !touched(b))
      assert(after(b) == files,
        s"untouched bucket $b was rewritten by a batch that never reads it")
  }

  test("streaming centroid maintenance: checkpointed restart + replay equal the one-shot Lloyd round") {
    // frozen seeds + associative (Σ, n) merge ⇒ the streamed fold must
    // equal the one-shot assign/update round exactly, and a replayed
    // batch must not double-count (versioned-state exactly-once)
    import graft.streaming.CentroidStream
    val sf = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val ids = emb.select(min(col("vec_id")), max(col("vec_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = emb.where(col("vec_id") <= mid)
    val b2 = emb.where(col("vec_id") > mid)
    val src = Files.createTempDirectory("graft-cent-src")
    val table = Files.createTempDirectory("graft-cent-tab").toString
    val ckpt = Files.createTempDirectory("graft-cent-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-cent-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(emb.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(CentroidStream.centroidSink(table, sf) _)
        .start()
      q.awaitTermination()
    }
    def stored(): Set[(Long, Long, Long, Long)] =
      CentroidStream.storedCentroids(spark, table, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    val oneShot = CentroidStream.streamKmeans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(stored() == oneShot,
      "streamed centroid state must equal the one-shot Lloyd round")
    assert(oneShot.exists(_._3 > 0), "fixture must populate some cell")
    // at-least-once delivery: replaying batch 1 re-merges against the
    // same predecessor version — (Σ, n) must not double
    CentroidStream.centroidSink(table, sf)(b2, 1L)
    assert(stored() == oneShot, "batch replay must be a no-op")
  }

  test("streaming ER maintenance: checkpointed restart + replay equal the full recompute") {
    import graft.streaming.ErStream
    import graft.operators.EntityResolution
    val sf = "/root/testdata/sf0.001"
    val part = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"), col("p_name"))
    val ids = part.select(min(col("p_partkey")), max(col("p_partkey"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = part.where(col("p_partkey") <= mid)
    val b2 = part.where(col("p_partkey") > mid)
    val src = Files.createTempDirectory("graft-er-src")
    val table = Files.createTempDirectory("graft-er-tab").toString
    val ckpt = Files.createTempDirectory("graft-er-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-er-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(b1.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(ErStream.erSink(table) _)
        .start()
      q.awaitTermination()
    }
    def stateLabels(): Set[(String, Long, Long, Long)] =
      ErStream.storedState(spark, table).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    addFile(b1, "b1.parquet"); run()          // launch 1: bootstrap
    addFile(b2, "b2.parquet"); run()          // RESTART: steady-state step
    // the streamed fold must label records exactly like the recompute
    val full = EntityResolution.erEntities(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val folded = EntityResolution.erIncr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(folded == full, "two-batch fold must equal the recompute")
    val viaSink = stateLabels()
    // at-least-once delivery: replaying the steady-state batch re-reads
    // the same predecessor — the state must not change
    ErStream.erSink(table)(b2, 1L)
    assert(stateLabels() == viaSink, "batch replay must be a no-op")
    // and the sink's state agrees with the in-process fold's labels
    val foldState = {
      val all = EntityResolution.namesOfParts(part)
      val s1 = EntityResolution.erEntitiesVs(spark, all.where(col("k") <= mid),
        EntityResolution.dnOfState(EntityResolution.emptyState(spark)),
        EntityResolution.priorOfState(EntityResolution.emptyState(spark)))
      EntityResolution.erEntitiesVs(spark, all.where(col("k") > mid),
        EntityResolution.dnOfState(s1), EntityResolution.priorOfState(s1))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    assert(viaSink == foldState, "sink state must equal the in-process fold")
    // the name state is corpus-shaped: its version write must fan out
    // across tasks (hash-partitioned by name), never a coalesce(1)
    // funnel. At fixture scale AQE's byte-sized coalescing legitimately
    // folds the tiny shuffle to one partition — that sizing is the
    // point — so pin the fan-out with coalescing off: the write must
    // then spread across the shuffle width.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      ErStream.erSink(table)(b2, 1L)
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    val vdir = new java.io.File(s"$table/er")
      .listFiles().filter(_.getName.startsWith("v=")).maxBy(_.getName)
    assert(vdir.listFiles().count(_.getName.endsWith(".parquet")) > 1,
      "corpus-shaped ER state must not be written by a single task")
    assert(stateLabels() == viaSink, "the fan-out replay must still be a no-op")
  }

  test("streaming SCD-2 maintenance: checkpointed restart + replay equal the whole-log rebuild") {
    import graft.streaming.HistoryStream
    import graft.operators.Snapshots
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // version 0 = even ids, version 1 = odd ids with re-extracted text
    // (an id overlap would only occur across versions; here version 1
    // also UPDATES a slice of version 0 to exercise interval closing)
    val v0 = docs.where(col("doc_id") % 2 === 0)
    val v1 = docs.where(col("doc_id") % 3 === 0)
      .withColumn("text", upper(col("text")))
    val src = Files.createTempDirectory("graft-hist-src")
    val table = Files.createTempDirectory("graft-hist-tab").toString
    val ckpt = Files.createTempDirectory("graft-hist-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-hist-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(HistoryStream.historySink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(v0, "b0.parquet"); run()          // launch 1: batch 0
    addFile(v1, "b1.parquet"); run()          // RESTART: batch 1
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val rebuilt = Snapshots.historyOver(Seq(0L -> v0, 1L -> v1), "doc_id")
    val maintained = HistoryStream.currentHistory(spark, table)
    assert(rows(maintained) == rows(rebuilt),
      "stream-maintained history must equal the whole-log rebuild")
    assert(rows(maintained).nonEmpty)
    // interval closing actually happened: ids in both versions have a
    // closed row at valid_to = 1 and an open one
    val both = maintained.where(col("doc_id") % 6 === 0)
    assert(both.where(col("valid_to") === 1L).count() > 0)
    assert(both.where(col("valid_to") === Snapshots.OpenVersion).count() > 0)
    // replaying batch 1 must rewrite the same table, not re-close
    HistoryStream.historySink(table)(v1, 1L)
    assert(rows(HistoryStream.currentHistory(spark, table)) == rows(rebuilt),
      "batch replay must be a no-op")
  }

  test("vacuum keeps the newest committed versions, reaps torn dirs, readers unaffected") {
    import graft.streaming.SnapshotStream
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vacuum").toString
    def write(v: Long): Unit =
      Seq((v, s"payload$v")).toDF("k", "x")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=$v")
    (0L to 4L).foreach(write)
    // a torn OLD version (no _SUCCESS) and a torn NEWEST one
    def tear(v: Long): Unit = {
      write(v)
      Files.delete(java.nio.file.Paths.get(s"$dir/v=$v/_SUCCESS"))
    }
    tear(2L) // old torn: reaped
    tear(9L) // newer than every committed version: maybe in-flight, kept
    val dropped = SnapshotStream.vacuum(spark, dir, keep = 2)
    assert(dropped == Seq(0L, 1L), s"dropped $dropped")
    def dirExists(v: Long) = new java.io.File(s"$dir/v=$v").exists()
    assert(!dirExists(0L) && !dirExists(1L) && !dirExists(2L))
    assert(dirExists(3L) && dirExists(4L) && dirExists(9L))
    // reader view: latest committed version still serves
    assert(SnapshotStream.versionsIn(spark, dir) == Seq(3L, 4L))
    assert(spark.read.parquet(s"$dir/v=4").collect()
      .map(_.getString(1)).toSeq == Seq("payload4"))
    // idempotent
    assert(SnapshotStream.vacuum(spark, dir, keep = 2).isEmpty)
  }

  test("streaming view maintenance: checkpointed restart + replay equal the recompute") {
    import graft.streaming.ViewStream
    import graft.operators.Ivm
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // v0 = even ids; v1 = thirds with re-extracted lengths and a lang
    // migration (doc 6k rows move groups), ids % 5 == 1 deleted
    val v0 = docs.where(col("doc_id") % 2 === 0)
    val v1raw = docs.where(col("doc_id") % 3 === 0)
      .withColumn("lang", when(col("doc_id") % 6 === 0, lit("zz"))
        .otherwise(col("lang")))
      .withColumn("n_chars", col("n_chars") + 3)
    val v1 = graft.operators.Snapshots.upsertOver(v0, v1raw, "doc_id")
      .drop("op").where(col("doc_id") % 5 =!= 1)
    // the stream carries CHANGE FEEDS: batch 0 bootstraps (∅ → v0),
    // batch 1 maintains (v0 → v1)
    val f0 = Ivm.changeFeedOver(v0.where(lit(false)), v0, "doc_id")
    val f1 = Ivm.changeFeedOver(v0, v1, "doc_id")
    val src = Files.createTempDirectory("graft-ivm-src")
    val table = Files.createTempDirectory("graft-ivm-tab").toString
    val ckpt = Files.createTempDirectory("graft-ivm-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-ivm-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(f0.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(ViewStream.viewSink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(f0, "b0.parquet"); run()          // launch 1: bootstrap
    addFile(f1, "b1.parquet"); run()          // RESTART: maintain
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val recomputed = Ivm.viewOf(v1)
    val maintained = ViewStream.currentView(spark, table)
    assert(rows(maintained) == rows(recomputed),
      "stream-maintained view must equal the from-scratch recompute")
    assert(rows(maintained).nonEmpty)
    // replay safety is LOAD-BEARING for signed deltas (applying a feed
    // twice double-counts): re-running batch 1 must rewrite the same
    // version from the same predecessor, not re-apply the deltas
    ViewStream.viewSink(table)(f1, 1L)
    assert(rows(ViewStream.currentView(spark, table)) == rows(recomputed),
      "batch replay must be a no-op")
  }

  test("streaming frontier maintenance: restart + replay converge; crawled URLs leave; buckets localized") {
    // two MONOTONE states (discovered: MIN-fold, crawled: set-union),
    // frontier = read-time anti-join. Idempotent merges make replay a
    // no-op by arithmetic; the anti-join makes the frontier itself
    // correctly NON-monotone (a URL crawled by a later batch leaves).
    import graft.streaming.FrontierStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("source"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-fro-src")
    val table = Files.createTempDirectory("graft-fro-tab").toString
    val ckpt = Files.createTempDirectory("graft-fro-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-fro-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(FrontierStream.frontierSink(table) _)
        .start()
      q.awaitTermination()
    }
    def fMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    val afterB1 = fMap(FrontierStream.storedFrontier(spark, table))
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    val oneShot = fMap(
      FrontierStream.discoveredOf(docs).join(
        FrontierStream.crawledBatchOf(docs), Seq("norm"), "left_anti"))
    assert(oneShot.nonEmpty)
    assert(fMap(FrontierStream.storedFrontier(spark, table)) == oneShot,
      "streamed frontier must equal the one-shot discovered-anti-crawled")
    // the frontier is non-monotone across batches: at least one URL in
    // batch 1's frontier was CRAWLED by batch 2 and must have left
    assert((afterB1.keySet -- oneShot.keySet).nonEmpty,
      "fixture batching must exercise the crawled-later removal path")
    // at-least-once: replaying batch 2 must be a no-op (MIN + union)
    FrontierStream.frontierSink(table)(b2, 1L)
    assert(fMap(FrontierStream.storedFrontier(spark, table)) == oneShot,
      "batch replay must be a no-op")
    // bucket-localized maintenance on BOTH states: a tiny batch must
    // leave untouched bucket files byte-stable
    def bucketMd5s(part: String): Map[String, Seq[(String, String)]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      new java.io.File(s"$table/$part").listFiles()
        .filter(_.getName.startsWith("b=")).map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).toSeq.map { f =>
              f.getName -> md.digest(Files.readAllBytes(f.toPath))
                .map("%02x".format(_)).mkString
            }
        }.toMap
    }
    val before = Map("discovered" -> bucketMd5s("discovered"), "crawled" -> bucketMd5s("crawled"))
    val tiny = b1.limit(1)
    FrontierStream.frontierSink(table)(tiny, 2L)
    for (part <- Seq("discovered", "crawled")) {
      val tinyState = if (part == "discovered") FrontierStream.discoveredOf(tiny)
                      else FrontierStream.crawledBatchOf(tiny)
      val touched = tinyState.select(FrontierStream.urlBucket.as("b"))
        .distinct().collect().map(r => s"b=${r.getLong(0)}").toSet
      assert(touched.nonEmpty && touched.size < before(part).size,
        s"tiny batch must touch a strict subset of $part buckets")
      val after = bucketMd5s(part)
      for ((b, files) <- before(part) if !touched(b))
        assert(after(b) == files,
          s"untouched $part bucket $b was rewritten")
    }
  }

  test("streaming web capstone: restart + replay converge to the one-shot keeper set; batch-bounded state folds") {
    // WARC batches -> pipeline_web extraction -> fingerprint-dedup
    // admission -> packed training rows, frontier maintained alongside.
    // Admission reads the FOLDED state (min-keeper membership), so a
    // replayed batch rewrites its own out/batch= dir with identical
    // rows — replay-deterministic without versioned state.
    import graft.streaming.{FrontierStream, WebStream}
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-web-src")
    val table = Files.createTempDirectory("graft-web-tab").toString
    val ckpt = Files.createTempDirectory("graft-web-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-web-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(WebStream.webSink(table) _)
        .start()
      q.awaitTermination()
    }
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select(col("doc_id"), col("fp")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    // fold identity through the REAL stream machinery: the union of
    // emitted batches equals the one-shot min-keeper admission
    val oneShot = keySet(WebStream.streamWeb(spark, sf))
    val streamed = keySet(WebStream.storedTraining(spark, table))
    assert(oneShot.nonEmpty && streamed == oneShot,
      "streamed training rows must equal the one-shot keeper set")
    // the dedup must have DONE something: some batch-2 row lost to a
    // batch-1 keeper (cross-batch), or an intra-batch dup collapsed
    assert(streamed.size < docs.count(),
      "fixture must exercise the fingerprint-collapse path")
    // batches emit disjoint rows; batch 1's rows come only from b2
    val outRows = spark.read.parquet(s"$table/out")
    val byBatch = outRows.groupBy(col("batch")).count().collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    assert(byBatch.keySet == Set(0L, 1L) && byBatch.values.sum == streamed.size)
    val b2Ids = b2.select("doc_id").collect().map(_.getLong(0)).toSet
    val batch1Ids = outRows.where(col("batch") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch1Ids.subsetOf(b2Ids), "a batch emits only its own rows")
    // at-least-once: replaying batch 1 must rewrite IDENTICAL rows
    WebStream.webSink(table)(b2, 1L)
    assert(keySet(WebStream.storedTraining(spark, table)) == oneShot,
      "batch replay must be a no-op")
    // the frontier rode along from the same batches
    assert(FrontierStream.storedFrontier(spark, s"$table/frontier").count() ==
      FrontierStream.discoveredOf(docs).join(
        FrontierStream.crawledBatchOf(docs), Seq("norm"), "left_anti").count(),
      "composed frontier state must equal the one-shot frontier")
    // BATCH-BOUNDED pin: a tiny batch touches a strict subset of fp
    // buckets and leaves every untouched bucket file byte-stable —
    // per-batch I/O is touched-bucket bytes, never a snapshot rescan
    def bucketMd5s(): Map[String, Seq[(String, String)]] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      new java.io.File(s"$table/fp").listFiles()
        .filter(_.getName.startsWith("b=")).map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .sortBy(_.getName).toSeq.map { f =>
              f.getName -> md.digest(Files.readAllBytes(f.toPath))
                .map("%02x".format(_)).mkString
            }
        }.toMap
    }
    val before = bucketMd5s()
    val tiny = b1.limit(1)
    WebStream.webSink(table)(tiny, 2L)
    val touched = graft.streaming.WebStream
      .fpOf(graft.web.WebIngest.pipelineRowsOf(tiny))
      .select(WebStream.fps.bucket.as("b")).distinct()
      .collect().map(r => s"b=${r.getLong(0)}").toSet
    assert(touched.nonEmpty && touched.size < before.size,
      "tiny batch must touch a strict subset of fp buckets")
    val after = bucketMd5s()
    for ((b, files) <- before if !touched(b))
      assert(after(b) == files, s"untouched fp bucket $b was rewritten")
  }

  test("streaming image capstone: restart + replay converge; cross-format dedup collapses GIF/PNG/TIFF trios") {
    // image WARC batches -> magic-dispatch decode -> canonical-pixel
    // key fold -> admitted feature rows; same fold discipline as the
    // web capstone, keyed on md5 of the DECODED bytes so identical
    // pixels shipped in different formats collapse to one keeper.
    import graft.streaming.ImageStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-img-src")
    val table = Files.createTempDirectory("graft-img-tab").toString
    val ckpt = Files.createTempDirectory("graft-img-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-img-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(ImageStream.imageSink(table) _)
        .start()
      q.awaitTermination()
    }
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select(col("doc_id"), col("key")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    // fold identity through the REAL stream machinery
    val rows = ImageStream.imageRowsOf(docs)
    val oneShot = keySet(ImageStream.keys.admittedUnder(rows, ImageStream.keys.stateOf(rows)))
    val streamed = keySet(ImageStream.storedImages(spark, table))
    assert(oneShot.nonEmpty && streamed == oneShot,
      "streamed image rows must equal the one-shot keeper set")
    // the CROSS-FORMAT path did something: some admitted GIF/PNG/TIFF
    // keeper owns same-class losers shipped in the OTHER formats —
    // i.e. strictly fewer keepers than distinct (format, class) pairs
    val admitted = ImageStream.storedImages(spark, table)
    val gpKeepers = admitted.where(col("fmt").isin("gif", "png", "tiff")).count()
    val gpClasses = docs
      .where(pmod(col("doc_id"), lit(4)) =!= 2)
      .select(pmod(col("doc_id"), lit(ImageStream.NClasses))).distinct().count()
    assert(gpKeepers == gpClasses,
      "each content class must collapse its GIF/PNG/TIFF twins to ONE keeper")
    assert(admitted.count() < docs.count(),
      "fixture must exercise the collapse path")
    // at-least-once: replaying batch 1 must rewrite IDENTICAL rows
    ImageStream.imageSink(table)(b2, 1L)
    assert(keySet(ImageStream.storedImages(spark, table)) == oneShot,
      "batch replay must be a no-op")
  }

  test("streaming audio capstone: restart + replay converge; WAV/FLAC twins collapse cross-container") {
    // audio batches in four wire containers -> sniff-routed decode ->
    // canonical-PCM key fold -> admitted clip rows; the audio sibling
    // of the image capstone, keyed on md5 of the DECODED samples so a
    // WAV and a FLAC of the same recording collapse to one keeper
    import graft.streaming.AudioStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-aud-src")
    val table = Files.createTempDirectory("graft-aud-tab").toString
    val ckpt = Files.createTempDirectory("graft-aud-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-aud-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(AudioStream.audioSink(table) _)
        .start()
      q.awaitTermination()
    }
    def keySet(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select(col("doc_id"), col("key")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    // fold identity through the REAL stream machinery
    val rows = AudioStream.audioRowsOf(docs)
    val oneShot = keySet(AudioStream.keys.admittedUnder(rows, AudioStream.keys.stateOf(rows)))
    val streamed = keySet(AudioStream.storedAudio(spark, table))
    assert(oneShot.nonEmpty && streamed == oneShot,
      "streamed audio rows must equal the one-shot keeper set")
    // the CROSS-CONTAINER path did something: the WAV+FLAC domain has
    // exactly one keeper per content class
    val admitted = AudioStream.storedAudio(spark, table)
    val wfKeepers = admitted.where(col("fmt").isin("wav", "flac")).count()
    val wfClasses = docs
      .where(pmod(col("doc_id"), lit(4)).isin(0, 3))
      .select(pmod(col("doc_id"), lit(AudioStream.NClasses))).distinct().count()
    assert(wfKeepers == wfClasses,
      "each content class must collapse its WAV/FLAC twins to ONE keeper")
    assert(admitted.count() < docs.count(),
      "fixture must exercise the collapse path")
    // the three content domains never cross-collapse (the structural
    // disjointness the oracle leans on): every admitted key is unique
    assert(admitted.select("key").distinct().count() == admitted.count())
    // at-least-once: replaying batch 1 must rewrite IDENTICAL rows
    AudioStream.audioSink(table)(b2, 1L)
    assert(keySet(AudioStream.storedAudio(spark, table)) == oneShot,
      "batch replay must be a no-op")
  }

  test("min-keeper sinks: an empty first batch and an empty middle batch throw nothing and change no output") {
    // an empty batch touches no state bucket, so on a fresh table the
    // state dir does not exist; the sink must still append its (empty)
    // output, and the appended union must equal the run without it
    import graft.streaming.{AudioStream, ImageStream, WebStream}
    import org.apache.spark.sql.{DataFrame, SparkSession}
    type Sink = String => (DataFrame, Long) => Unit
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val sinks = Seq[(String, Sink, (SparkSession, String) => DataFrame, String, DataFrame)](
      ("web", WebStream.webSink, WebStream.storedTraining, "fp", docs),
      ("image", ImageStream.imageSink, ImageStream.storedImages, "key",
        docs.select(col("doc_id"))),
      ("audio", AudioStream.audioSink, AudioStream.storedAudio, "key",
        docs.select(col("doc_id"))))
    for ((name, sink, stored, key, input) <- sinks) {
      val (b1, b2) = (input.where(col("doc_id") <= mid), input.where(col("doc_id") > mid))
      val empty = input.limit(0)
      def keySet(table: String): Set[(Long, String)] =
        stored(spark, table).select(col("doc_id"), col(key)).collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
      val plain = Files.createTempDirectory(s"graft-$name-plain").toString
      sink(plain)(b1, 0L); sink(plain)(b2, 1L)
      val table = Files.createTempDirectory(s"graft-$name-empty").toString
      sink(table)(empty, 0L)                    // empty FIRST batch, fresh table
      assert(keySet(table).isEmpty, s"$name: an empty first batch admits nothing")
      sink(table)(b1, 1L)
      sink(table)(empty, 2L)                    // empty MIDDLE batch
      sink(table)(b2, 3L)
      val expected = keySet(plain)
      assert(expected.nonEmpty && keySet(table) == expected,
        s"$name: empty batches must not change the appended union")
      for (b <- Seq(0L, 2L))
        assert(new java.io.File(s"$table/out/batch=$b/_SUCCESS").isFile,
          s"$name: empty batch $b must commit its (empty) output")
    }
  }

  /** Each sink folds `input`'s two key ranges with an empty batch
    * first and one in the middle: an empty first batch on a fresh
    * table stores an empty state, and an empty middle batch changes
    * nothing, so the final state equals the run without the empty
    * batches. The run without them uses the same batch ids (1 and 3),
    * so state stamped with its batch id compares too. */
  private def emptyBatchesChangeNoState(sinks: Seq[(String, String => (DataFrame, Long) => Unit,
      (SparkSession, String) => DataFrame, DataFrame, String)]): Unit =
    for ((name, sink, stored, input, key) <- sinks) {
      val ids = input.select(min(col(key)), max(col(key))).collect()(0)
      val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
      val (b1, b2) = (input.where(col(key) <= mid), input.where(col(key) > mid))
      val empty = input.limit(0)
      def state(table: String) = stored(spark, table).collect().toSet
      val plain = Files.createTempDirectory(s"graft-$name-plain").toString
      sink(plain)(b1, 1L)
      val afterB1 = state(plain)
      sink(plain)(b2, 3L)
      val table = Files.createTempDirectory(s"graft-$name-empty").toString
      sink(table)(empty, 0L)                    // empty FIRST batch, fresh table
      assert(state(table).isEmpty, s"$name: an empty first batch stores an empty state")
      sink(table)(b1, 1L)
      assert(state(table) == afterB1, s"$name: the first real batch folds from empty")
      sink(table)(empty, 2L)                    // empty MIDDLE batch
      assert(state(table) == afterB1, s"$name: an empty middle batch changes nothing")
      sink(table)(b2, 3L)
      assert(afterB1.nonEmpty && state(table) == state(plain),
        s"$name: empty batches must not change the final state")
    }

  test("CC and ER sinks: an empty first batch and an empty middle batch change no stored state") {
    // both sinks fold into versioned state: an empty first batch on a
    // fresh table commits an empty state, and an empty middle batch
    // re-commits its predecessor
    import graft.streaming.{CcStream, ErStream}
    val sf = "/root/testdata/sf0.001"
    emptyBatchesChangeNoState(Seq(
      ("cc", CcStream.ccSink, CcStream.storedLabels,
        spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text")),
        "doc_id"),
      ("er", ErStream.erSink, ErStream.storedState,
        spark.read.parquet(s"$sf/part.parquet").select(col("p_partkey"), col("p_name")),
        "p_partkey")))
  }

  test("keyed-state sinks: an empty first batch and an empty middle batch change no stored state") {
    // the HLL and quantile sinks commit versioned state; the novelty
    // sink folds into bucketed state, where an empty first batch
    // touches no bucket and must still leave a readable empty table
    import graft.streaming.{NoveltyStream, SketchStream}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    emptyBatchesChangeNoState(Seq(
      ("hll", SketchStream.hllSink, SketchStream.storedHllRegs, docs, "doc_id"),
      ("quantile", SketchStream.quantileSink, SketchStream.storedQuantileState, docs, "doc_id"),
      ("novelty", NoveltyStream.noveltySink, NoveltyStream.storedFirstSeen, docs, "doc_id")))
  }

  test("sketch, centroid, scaling-stats and history sinks: an empty first batch and an empty middle batch change no stored state") {
    // all four commit versioned state. The CMS state is one global
    // sketch row, empty when every counter is zero, so it is compared
    // as its nonzero slots; the centroid table lists every seed cell,
    // so it is compared as its cells with members
    import graft.streaming.{CentroidStream, FeatureStream, HistoryStream, SketchStream}
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val nonzeroSlots = (s: SparkSession, t: String) => {
      import s.implicits._
      SketchStream.storedSketch(s, t).zipWithIndex
        .collect { case (c, i) if c != 0L => (i.toLong, c) }.toDF("slot", "count")
    }
    emptyBatchesChangeNoState(Seq(
      ("cms", SketchStream.cmsSink, nonzeroSlots,
        docs.select(col("doc_id"), col("text"), col("lang")), "doc_id"),
      ("centroid", (t: String) => CentroidStream.centroidSink(t, sf)(_, _),
        (s: SparkSession, t: String) =>
          CentroidStream.storedCentroids(s, t, sf).where(col("n_members") > 0),
        Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding")),
        "vec_id"),
      ("scale", FeatureStream.scaleSink, FeatureStream.storedStats,
        docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id"),
      ("history", HistoryStream.historySink, HistoryStream.currentHistory,
        docs.select(col("doc_id"), col("text")), "doc_id")))
  }

  test("streaming doremi model: count fold across restarts equals the one-shot mixture; replay never double-folds") {
    // the bigram-count state is a SUM (not idempotent) -> versioned
    // predecessor rule; the read-time weights under the folded model
    // must equal one-shot mix_doremi exactly (integer fold identity)
    import graft.streaming.DoremiStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-dor-src")
    val table = Files.createTempDirectory("graft-dor-tab").toString
    val ckpt = Files.createTempDirectory("graft-dor-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-dor-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(DoremiStream.doremiSink(table) _)
        .start()
      q.awaitTermination()
    }
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    def wset(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val oneShot = wset(graft.operators.CorpusOps.mixDoremi(spark, sf))
    val streamed = wset(DoremiStream.weightsUnder(spark, docs,
      DoremiStream.storedModel(spark, table)))
    assert(oneShot.nonEmpty && streamed == oneShot,
      "weights under the folded streaming model must equal one-shot mix_doremi")
    // replay: batch 1 re-merges from v=0, so the model must not change
    val before = DoremiStream.storedModel(spark, table)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    DoremiStream.doremiSink(table)(b2, 1L)
    val after = DoremiStream.storedModel(spark, table)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before == after, "batch replay must not double-fold the counts")
  }

  test("streaming chunk packer: cursor carry across restarts equals the one-shot manifest; replay never double-advances") {
    // the packing cursor is a SUM (not idempotent), so the state rides
    // the versioned predecessor rule: v=<batchId> merged from the
    // newest version STRICTLY BELOW the batch id
    import graft.streaming.PackStream
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    val ids = docs.select(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = docs.where(col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    val src = Files.createTempDirectory("graft-pack-src")
    val table = Files.createTempDirectory("graft-pack-tab").toString
    val ckpt = Files.createTempDirectory("graft-pack-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-pack-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(docs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(PackStream.packSink(table) _)
        .start()
      q.awaitTermination()
    }
    def spans(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long, Long)] =
      df.select(col("doc_id"), col("lang"), col("n_tokens"),
          col("first_chunk"), col("last_chunk")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    // fold identity through the real stream machinery: union of
    // per-batch manifests == the one-shot packer
    val oneShot = spans(graft.operators.Cleaning.taPackChunks(spark, sf))
    assert(spans(PackStream.storedManifest(spark, table)) == oneShot,
      "streamed manifest must equal ta_pack_chunks")
    // batch 2's spans CONTINUED batch 1's cursor (not restarted at 0):
    // some batch-2 doc must sit past every batch-1 chunk in its stream
    val out = spark.read.parquet(s"$table/out")
    val maxB1 = out.where(col("batch") === 0).groupBy(col("lang"))
      .agg(max(col("last_chunk")).as("m1"))
    val crossed = out.where(col("batch") === 1).join(maxB1, Seq("lang"))
      .where(col("first_chunk") >= col("m1")).count()
    assert(crossed > 0, "batch 2 must continue, not restart, the cursor")
    // replay: re-running batch 1 re-reads predecessor v=0 and rewrites
    // v=1 — cursor identical, manifest identical (never double-adds)
    val v1Before = spark.read.parquet(s"$table/cursor/v=1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    PackStream.packSink(table)(b2, 1L)
    val v1After = spark.read.parquet(s"$table/cursor/v=1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v1After == v1Before, "replayed batch must not advance the cursor twice")
    assert(spans(PackStream.storedManifest(spark, table)) == oneShot,
      "replayed batch must rewrite the identical manifest")
    // NULL-lang stream: the kernel groups NULL keys into one stream,
    // so the cursor carry must too (null-safe join/merge) — batch 2's
    // NULL-lang doc continues batch 1's NULL cursor, never restarts
    val nt = Files.createTempDirectory("graft-packnull").toString
    val C = graft.operators.Cleaning.ChunkTokens
    val longText = Seq.fill(C + 44)("w").mkString(" ") // 300 tokens at C=256
    val nb1 = Seq((1L, null.asInstanceOf[String], longText)).toDF("doc_id", "lang", "text")
    val nb2 = Seq((2L, null.asInstanceOf[String], "d e")).toDF("doc_id", "lang", "text")
    PackStream.packSink(nt)(nb1, 0L)
    PackStream.packSink(nt)(nb2, 1L)
    val cur = spark.read.parquet(s"$nt/cursor/v=1").collect()
    assert(cur.length == 1 && cur(0).isNullAt(0) && cur(0).getLong(1) == C + 46L,
      "NULL-lang cursors must merge into ONE stream")
    val m2 = spark.read.parquet(s"$nt/out/batch=1").collect()(0)
    assert(m2.getLong(m2.fieldIndex("first_chunk")) == 1L,
      "the NULL stream's second batch must continue past chunk 0 (a plain " +
        "equi-join would restart its cursor at 0)")
  }

  test("streaming ICP order: tail carry across restarts equals the batch-preferring walk; replay never re-appends") {
    // chain extension is order-sensitive (append-only curriculum), so
    // the tail state rides the versioned predecessor rule
    import graft.streaming.IcpStream
    val sf = "/root/testdata/sf0.001"
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").select(col("vec_id"))
    val ids = vecs.select(min(col("vec_id")), max(col("vec_id"))).collect()(0)
    val mid = ids.getLong(0) + (ids.getLong(1) - ids.getLong(0)) / 2
    val b1 = vecs.where(col("vec_id") <= mid)
    val b2 = vecs.where(col("vec_id") > mid)
    val src = Files.createTempDirectory("graft-icp-src")
    val table = Files.createTempDirectory("graft-icp-tab").toString
    val ckpt = Files.createTempDirectory("graft-icp-ckpt").toString
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-icp-tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, src.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    def run(): Unit = {
      val q = spark.readStream.schema(vecs.schema).parquet(src.toString)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(IcpStream.icpSink(sf, table) _)
        .start()
      q.awaitTermination()
    }
    def order(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Long, Long)] =
      df.select(col("cell"), col("sub"), col("pos"), col("vec_id"), col("dot_prev"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
        .toSet
    addFile(b1, "b1.parquet"); run()          // launch 1: batch 0
    addFile(b2, "b2.parquet"); run()          // RESTART: batch 1
    // fold identity through the real stream machinery: union of
    // per-batch segments == the two-batch gate composition
    val oneShot = order(IcpStream.streamIcp(spark, sf))
    assert(oneShot.nonEmpty && order(IcpStream.storedOrder(spark, table)) == oneShot,
      "streamed order must equal the batch-preferring walk")
    // every vector got exactly one position — append-only curriculum,
    // nothing dropped, nothing re-ordered
    assert(oneShot.size == vecs.count(), "order must be a corpus permutation")
    // batch 2 CONTINUED chains (absolute positions past batch 1's
    // tails) rather than restarting them: some chain gained a member
    // at a position > its batch-1 length
    val out = spark.read.parquet(s"$table/out")
    val maxB1 = out.where(col("batch") === 0).groupBy(col("cell"), col("sub"))
      .agg(max(col("pos")).as("p1"))
    val continued = out.where(col("batch") === 1).join(maxB1, Seq("cell", "sub"))
      .where(col("pos") === col("p1") + 1).count()
    assert(continued > 0, "batch 2 must continue chains, not restart them")
    // replay: re-running batch 1 re-reads predecessor v=0, recomputes
    // the same segment, rewrites the same tails — never re-appends
    val tailsBefore = spark.read.parquet(s"$table/tail/v=1")
      .select(col("cell"), col("sub"), col("tail_id"), col("tail_pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    IcpStream.icpSink(sf, table)(b2, 1L)
    val tailsAfter = spark.read.parquet(s"$table/tail/v=1")
      .select(col("cell"), col("sub"), col("tail_id"), col("tail_pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(tailsAfter == tailsBefore, "replayed batch must not advance tails twice")
    assert(order(IcpStream.storedOrder(spark, table)) == oneShot,
      "replayed batch must rewrite the identical segment")
  }
}
