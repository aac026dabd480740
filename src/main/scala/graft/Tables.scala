package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided TPC-H-ish parquet fixtures
  * (TESTDATA.md). One function per table; every operator in the engine
  * reads through here so the scan path (parquet, pushdown, pruning) is
  * uniform.
  *
  * At cluster scale these would be external-catalog tables; `dir` stands
  * in for the warehouse location so the same code runs at any SF.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame = load(s, dir, "lineitem")
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  /** The fixture encoding of `events.ts` has drifted across driver
    * regenerations, so this loader is schema-ADAPTIVE: it branches on the
    * dtype Spark actually loaded and normalizes every encoding to the
    * same shape —
    *   - `ts_us`: epoch microseconds (long) — the canonical event time,
    *     matches DuckDB's `epoch_ns(ts)//1000` exactly;
    *   - `ts`: TIMESTAMP at microsecond precision for time operators
    *     (window(), session_window(), watermarks).
    * Encodings seen so far:
    *   (a) INT64 TIMESTAMP(NANOS) — Spark cannot read it natively
    *       (PARQUET_TYPE_ILLEGAL); `nanosAsLong` reads the raw nanos as
    *       a long (the conf is a no-op for every other encoding);
    *   (b) plain TIMESTAMP-µs without a zone → TIMESTAMP_NTZ. The stored
    *       micros ARE the event time; under the engine-wide UTC session
    *       contract (every entry point sets spark.sql.session.timeZone=UTC)
    *       the cast to TIMESTAMP is an exact micros identity.
    * Any other dtype fails loudly here — ONE error naming the drift, not
    * nineteen AnalysisExceptions downstream (see FixtureSchemaSpec).
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(load(s, dir, "events"))
  }

  /** The encoding branch of [[events]], reusable for any events-shaped
    * frame whose `ts` carries one of the known fixture encodings (the
    * streaming specs read the same fixture through `readStream` and need
    * the identical normalization). */
  def normalizeEventsTs(raw: DataFrame): DataFrame = {
    val withUs = raw.schema("ts").dataType match {
      case LongType => // (a) nanos-as-long → truncate to µs
        raw.withColumn("ts_us", expr("ts div 1000"))
      case TimestampNTZType => // (b) regenerated fixture
        raw.withColumn("ts_us", unix_micros(col("ts").cast(TimestampType)))
      case _: TimestampType => // (b) with NTZ inference disabled
        raw.withColumn("ts_us", unix_micros(col("ts")))
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported dtype $other — the fixture " +
            "encoding drifted again; teach Tables.normalizeEventsTs (and " +
            "the DuckDB twin eventsCteSql) the new encoding")
    }
    withUs.withColumn("ts", timestamp_micros(col("ts_us")))
  }

  /** DuckDB-side twin of [[events]]: a CTE normalizing ts to epoch-µs.
    * Prepend to any oracle SQL that touches events. */
  /** CONTRACT: ts_us is NON-NEGATIVE (post-1970 event time). Several
    * bucketing queries pair Spark's truncating `div` with DuckDB's
    * flooring `//` — identical for ts_us >= 0 but one bucket apart for
    * negative values; a corpus with pre-epoch or corrupt timestamps
    * must be floor-normalized at ingest before these oracles apply. */
  val eventsCteSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value, props,
      |         epoch_ns(ts)//1000 AS ts_us,
      |         make_timestamp(epoch_ns(ts)//1000) AS ts
      |  FROM events
      |)""".stripMargin

  private def load(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Byte threshold under which [[fanOutSmall]] fans a scan out
    * (256 MB). Any table above it already yields at least a few
    * natural splits and real corpora are orders of magnitude past it —
    * the fan-out is a SMALL-INPUT floor, never a production reshuffle. */
  private val smallScanBytes: Long = 256L << 20

  /** Scale-adaptive scan fan-out for CPU-DENSE per-row kernels (r16,
    * guide §2/§6: derive partitioning from input size, never a
    * constant). Parquet scans parallelize at row-group granularity, so
    * a byte-small fixture lands an ENTIRE corpus-wide kernel (shingle
    * md5, token explode, codec decode) in ONE scan task — measured on
    * dedup_ngram at sf0.1: 2.8 s of a 6.2 s wall in the single scan
    * task while 31 cores idled. When the table's file length (metadata
    * only — no job) is under [[smallScanBytes]], the scan is fanned out
    * by an EXPLICIT hash repartition on `key` (unique id ⇒ no skew; a
    * keyed exchange skips round-robin's sortBeforeRepartition pass and
    * AQE leaves explicit repartitions uncoalesced). Above the
    * threshold the frame is returned untouched: at production scale
    * the scan already carries ≥ cores-many splits and the added
    * exchange would be pure cost. 2× cores (override:
    * SPARK_GRAFT_FANOUT, absolute partition count) keeps the tail
    * balanced when per-doc cost varies. */
  private[graft] def fanOutSmall(s: SparkSession, dir: String, name: String,
      keys: Seq[String], df: DataFrame): DataFrame = {
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
        p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: Throwable => Long.MaxValue } // unknown ⇒ untouched
    if (bytes < smallScanBytes) {
      // a malformed or non-positive override falls back to the default
      // instead of throwing inside a table loader (r17, ADVICE)
      val n = sys.env.get("SPARK_GRAFT_FANOUT")
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
        .filter(_ >= 1)
        .getOrElse(2 * s.sparkContext.defaultParallelism)
      df.repartition(n, keys.map(col): _*)
    } else df
  }

  /** [[documents]] with the small-scan fan-out — the entry for
    * operators whose per-row text kernels dominate their scan stage.
    * Same rows, same schema; only the partitioning differs. */
  def documentsWide(s: SparkSession, dir: String): DataFrame =
    fanOutSmall(s, dir, "documents", Seq("doc_id"), documents(s, dir))

  /** [[lineitem]] with the small-scan fan-out — for the CPU-dense
    * per-row kernels (exact-percentile counting selection, CMS key
    * hashing), NOT for the plain scan-aggregate gates (q1_agg is a
    * floor-gate query and stays on the plain loader). Keyed on the
    * composite-unique (l_orderkey, l_linenumber) so no hash skew. */
  def lineitemWide(s: SparkSession, dir: String): DataFrame =
    fanOutSmall(s, dir, "lineitem", Seq("l_orderkey", "l_linenumber"),
      lineitem(s, dir))
}
