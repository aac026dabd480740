package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.{AlawCodec, FlacCodec, Media, UlawCodec, WavCodec}

/** The STREAMING AUDIO CAPSTONE — [[Media.decodeCanonicalPcm]]'s
  * format-mixed ingest as a standing pipeline under [[WebStream]]'s
  * fold discipline: audio batches in four wire containers → sniff-
  * routed decode → CANONICAL-PCM dedup against ALL prior batches →
  * admitted clip rows appended per batch. The audio sibling of
  * [[ImageStream]] (same state layout, same fold identity, same
  * replay-safety argument), exercising the cross-CONTAINER collapse
  * the byte-level payload digest cannot see: the same recording
  * shipped once as WAV and once as FLAC differs in every byte but
  * lands identical PCM, so it must collapse to one keeper — across
  * batches, across restarts.
  *
  * Content domains are STRUCTURALLY disjoint (no "implausible
  * collision" hand-waving — the oracle equality depends on it):
  * - 'wf' (WAV + FLAC, doc_id%4 ∈ {0,3}): the lossless pair shares
  *   one class-determined signal whose first sample is forced ODD,
  * - 'u' (µ-law, %4=1): codewords 128..254 → all samples POSITIVE
  *   multiples of 4 (G.711 µ-law's value lattice),
  * - 'a' (A-law, %4=2): codewords 0..127 → all samples NEGATIVE.
  * An odd-leading array, an all-positive-lattice array, and an
  * all-negative array can never coincide, and within each domain the
  * leading sample is injective in the class (31 and 37 are units mod
  * 16384/127/128), so PCM-digest equality ⇔ same (domain, class).
  *
  * State under `tableDir` is [[MinKeeper]]'s on the column `key`
  * (canonical-PCM md5 → MIN owning doc_id), the [[ImageStream]] sink
  * body verbatim.
  *
  * Scale shape: decode is per-row narrow work, zero shuffle; the only
  * shuffled stages are the |distinct keys|-sized fold and the
  * batch-keyed admission join — never corpus-keyed.
  */
object AudioStream {

  /** Content classes — the [[ImageStream.NClasses]] sizing argument. */
  val NClasses = 97

  private[graft] val keys = new MinKeeper("key")

  /** The lossless pair's shared signal: first sample odd by
    * construction (see the domain-disjointness contract above). */
  private def wfSamples(c: Int): Array[Short] = {
    val n = c % 40 + 12
    Array.tabulate(n)(t => (((c * 31 + t * 17) % 16384) * 2 + 1 - 16384).toShort)
  }

  /** µ-law clip ON the codeword image (positive half). */
  private def uSamples(c: Int): Array[Short] = {
    val n = c % 30 + 10
    Array.tabulate(n)(t =>
      UlawCodec.decodeSample((((c * 31 + t * 19) % 127) + 128).toByte))
  }

  /** A-law clip ON the codeword image (negative half). */
  private def aSamples(c: Int): Array[Short] = {
    val n = c % 30 + 10
    Array.tabulate(n)(t =>
      AlawCodec.decodeSample(((c * 37 + t * 19) % 128).toByte))
  }

  /** Batch docs (doc_id) → decoded canonical clip rows (doc_id, fmt,
    * n_samples, key, sum_pcm): synthesize the wire container by
    * doc_id % 4, then decode from BYTES only through the sniff-routed
    * dispatcher — the FLAC branch carries its MD5 anchor, the G.711
    * branches their codeword-image identities. */
  def audioRowsOf(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    batch.select(col("doc_id")).as[Long].mapPartitions { ids =>
      val md = java.security.MessageDigest.getInstance("MD5")
      ids.map { id =>
        val c = (id % NClasses).toInt
        val bytes = (id % 4) match {
          case 0 => WavCodec.encode(8000, 1, wfSamples(c))
          case 1 => UlawCodec.encodeWav(8000, 1, uSamples(c))
          case 2 => AlawCodec.encodeWav(8000, 1, aSamples(c))
          case _ => FlacCodec.encode(8000, 1, wfSamples(c),
            blockSize = Media.FlacBlock)
        }
        val (fmt, rate, ch, pcm) = Media.decodeCanonicalPcm(bytes)
        require(rate == 8000 && ch == 1, s"audio stream mis-route for $id ($fmt)")
        md.reset()
        pcm.foreach { v =>
          md.update((v & 0xFF).toByte); md.update(((v >> 8) & 0xFF).toByte)
        }
        val key = md.digest().map("%02x".format(_)).mkString
        var sum = 0L
        pcm.foreach(sum += _)
        (id, fmt, pcm.length.toLong, key, sum)
      }
    }.toDF("doc_id", "fmt", "n_samples", "key", "sum_pcm")
  }

  /** foreachBatch sink: decode the batch once, fold its key state,
    * admit against the folded state (the [[MinKeeper]] body). */
  def audioSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit =
    keys.sink(audioRowsOf(batch), tableDir, batchId)

  /** The maintained deduped clip set: every admitted batch. */
  def storedAudio(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.readAppended(s, tableDir, "admitted audio rows")

  /** Gate: two crawl-ordered batches through the decode → fold →
    * admit chain; must equal the one-shot min-keeper-per-content-group
    * filter, which the oracle recomputes analytically (domains,
    * classes, and sample sums from the formulas — no codec involved).
    * The md5 key stays JVM-side; the analytic group identity carries
    * the same information. */
  def streamAudio(s: SparkSession, dir: String): DataFrame = {
    val Seq(b1, b2) = graft.Graft.rangeSplit(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 2)
    val (rows1, rows2) = (audioRowsOf(b1), audioRowsOf(b2))
    val folded = keys.merge(keys.stateOf(rows1), keys.stateOf(rows2))
    keys.admittedUnder(rows1.unionByName(rows2), folded).drop("key")
  }

  /** Analytic twin: content groups from the class formulas — WAV and
    * FLAC of one class share a group ('wf'), µ-law and A-law each ride
    * their own codeword-image domains — keeper = MIN doc_id per group,
    * sample counts + PCM sums from the same G.711 expansions the
    * mm_ulaw/mm_alaw twins use. Agreement proves the dispatcher, all
    * four decode chains (a WAV/FLAC pair only collides if both codecs
    * reconstruct identical PCM), and the fold identity. */
  val streamAudioSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, doc_id % $NClasses AS c, doc_id % 4 AS m,
       |         CASE WHEN doc_id % 4 IN (0, 3) THEN 'wf'
       |              WHEN doc_id % 4 = 1 THEN 'u' ELSE 'a' END AS dom
       |  FROM documents),
       |k AS (SELECT dom, c, MIN(doc_id) AS keeper FROM g GROUP BY 1, 2),
       |adm AS (
       |  SELECT g.doc_id, g.c, g.m FROM g
       |  JOIN k ON k.dom = g.dom AND k.c = g.c AND k.keeper = g.doc_id),
       |wf AS (
       |  SELECT a.doc_id,
       |         CASE WHEN a.m = 0 THEN 'wav' ELSE 'flac' END AS fmt,
       |         CAST(a.c % 40 + 12 AS BIGINT) AS n_samples,
       |         CAST(SUM(((a.c * 31 + t * 17) % 16384) * 2 + 1 - 16384)
       |              AS BIGINT) AS sum_pcm
       |  FROM adm a,
       |       LATERAL (SELECT unnest(generate_series(0, a.c % 40 + 11)) AS t) tt
       |  WHERE a.m IN (0, 3) GROUP BY 1, 2, 3),
       |ux AS (
       |  SELECT a.doc_id, a.c,
       |         255 - ((a.c * 31 + t * 19) % 127 + 128) AS uc
       |  FROM adm a,
       |       LATERAL (SELECT unnest(generate_series(0, a.c % 30 + 9)) AS t) tt
       |  WHERE a.m = 1),
       |u AS (
       |  SELECT doc_id, 'ulaw' AS fmt,
       |         CAST(c % 30 + 10 AS BIGINT) AS n_samples,
       |         CAST(SUM(((uc % 16) * 8 + 132) * (1 << (uc // 16)) - 132)
       |              AS BIGINT) AS sum_pcm
       |  FROM ux GROUP BY 1, 2, 3),
       |ax AS (
       |  SELECT a.doc_id, a.c,
       |         xor((a.c * 37 + t * 19) % 128, 85) AS ac
       |  FROM adm a,
       |       LATERAL (SELECT unnest(generate_series(0, a.c % 30 + 9)) AS t) tt
       |  WHERE a.m = 2),
       |av AS (
       |  SELECT doc_id, c,
       |         -(CASE WHEN (ac & 112) // 16 = 0 THEN (ac & 15) * 16 + 8
       |                WHEN (ac & 112) // 16 = 1 THEN (ac & 15) * 16 + 264
       |                ELSE ((ac & 15) * 16 + 264)
       |                     * (1 << ((ac & 112) // 16 - 1)) END) AS pcm
       |  FROM ax),
       |aa AS (
       |  SELECT doc_id, 'alaw' AS fmt,
       |         CAST(c % 30 + 10 AS BIGINT) AS n_samples,
       |         CAST(SUM(pcm) AS BIGINT) AS sum_pcm
       |  FROM av GROUP BY 1, 2, 3)
       |SELECT * FROM wf UNION ALL SELECT * FROM u UNION ALL SELECT * FROM aa""".stripMargin
}
