package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.{GifCodec, JpegCodec, Media, PngCodec, TiffCodec}
import graft.web.{HttpMessage, WarcCodec, WarcRecord}

/** The STREAMING MULTIMODAL CAPSTONE — [[graft.web.WebIngest
  * .webImages]]'s crawl-image decode chain as a standing pipeline
  * under [[WebStream]]'s fold discipline: image WARC batches →
  * magic-byte codec dispatch → CANONICAL-PIXEL dedup against ALL
  * prior batches → admitted image feature rows appended per batch.
  *
  * The dedup key is md5 of the canonical DECODED RGB bytes — content
  * identity AFTER decode, so the same pixels shipped as a GIF by one
  * host and a PNG by another collapse to one keeper (the
  * cross-FORMAT near-dup class that byte-level fingerprints like
  * [[graft.multimodal.Media]]'s `mm_dedup` payload-md5 lens
  * structurally cannot see; the perceptual tier above this —
  * resize/requantize robustness — is `mm_phash`'s department). The
  * synthesis makes that path real: pixel content derives from a
  * CONTENT CLASS (doc_id mod [[ImageStream.NClasses]]), while
  * doc_id mod 4 picks the wire format, so GIF, PNG, and TIFF of the
  * same class are byte-identical after decode and must dedup
  * together, across batches. JPEG rides its own block-constant content domain
  * (its dims are 8-multiples, so it can never collide with the
  * small GIF/PNG canvases — distinct byte lengths).
  *
  * State under `tableDir` is [[MinKeeper]]'s on the column `key`
  * (canonical-pixel md5 → MIN owning doc_id, bucketed; admitted rows
  * appended per batch; replay-safe). The gate pins its fold identity
  * against the one-shot min-per-content-group filter — the oracle
  * recomputes groups, keepers, dims, and pixel sums analytically.
  *
  * Scale shape: decode is one WARC per task, zero shuffle; the only
  * shuffled stage is the |distinct keys|-sized fold + the
  * batch-keyed admission join — never corpus-keyed.
  */
object ImageStream {

  /** Content classes: enough that most keys stay distinct at small SF
    * (the gate must exercise BOTH collapse and pass-through) while
    * every class still collides somewhere in a 500-doc fixture. */
  val NClasses = 97

  private[graft] val keys = new MinKeeper("key")

  /** Batch docs (doc_id) → decoded canonical image rows
    * (doc_id, fmt, width, height, key, sum_px): synthesize the wire
    * bytes (WARC of HTTP image responses), then decode from bytes
    * only — sniff-routed, with the canonical RGB rendering giving
    * both the dedup key and the feature sum. */
  def imageRowsOf(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val grayPal = Array.tabulate(256)(i => (i << 16) | (i << 8) | i)
    batch.select(col("doc_id")).as[Long].mapPartitions { ids =>
      val recs = ids.map { id =>
        val c = (id % NClasses).toInt
        val (mime, img) = (id % 4) match {
          case 0 =>
            val w = c % 5 + 4; val h = c % 3 + 3
            val idx = Array.tabulate[Byte](w * h)(i =>
              ((17 * c + 3 * (i % w) + 5 * (i / w)) % 256).toByte)
            ("image/gif", GifCodec.encode(w, h, idx, grayPal))
          case 1 =>
            // same class ⇒ same gray content as the GIF branch: the
            // cross-format collision the key must catch
            val w = c % 5 + 4; val h = c % 3 + 3
            val rgb = Array.tabulate[Byte](w * h * 3)(i =>
              ((17 * c + 3 * ((i / 3) % w) + 5 * ((i / 3) / w)) % 256).toByte)
            ("image/png", PngCodec.encode(w, h, rgb))
          case 2 =>
            val w = (c % 2 + 1) * 8; val h = (c % 3 + 1) * 8
            val gray = Array.tabulate[Byte](w * h) { i =>
              val bx = (i % w) / 8; val by = (i / w) / 8
              (2 * ((17 * c + 11 * bx + 23 * by) % 128)).toByte
            }
            ("image/jpeg", JpegCodec.encodeGray(w, h, gray, quality = 50))
          case _ =>
            // same class ⇒ same gray content AGAIN, as a TIFF — the
            // three-way cross-format collision (uncompressed strip;
            // webImages exercises the TIFF-LZW wire path)
            val w = c % 5 + 4; val h = c % 3 + 3
            val rgb = Array.tabulate[Byte](w * h * 3)(i =>
              ((17 * c + 3 * ((i / 3) % w) + 5 * ((i / 3) / w)) % 256).toByte)
            ("image/tiff", TiffCodec.encode(w, h, rgb))
        }
        val http = HttpMessage.response(200, "OK", Seq("Content-Type" -> mime), img)
        WarcRecord(Map(
          "WARC-Type"       -> "response",
          "WARC-Record-ID"  -> s"<urn:uuid:img-$id>",
          "WARC-Date"       -> "2026-01-01T00:00:00Z",
          "WARC-Target-URI" -> s"https://img.example.com/asset/$id",
          "Content-Type"    -> "application/http; msgtype=response"), http)
      }
      val fileBytes = WarcCodec.writeGz(recs)
      // ——— ingest side: bytes only; the SAME sniff-route-decode
      // dispatch webImages rides (Media.decodeCanonicalRgb), one
      // digest per partition (the extractFeatures idiom) ———
      val md = java.security.MessageDigest.getInstance("MD5")
      WarcCodec.readGz(fileBytes).iterator.map { r =>
        val (_, _, body) = HttpMessage.parseResponse(r.payload)
        val uri = r.targetUri
        val id = uri.substring(uri.lastIndexOf('/') + 1).toLong
        val (fmt, w, h, rgb) = Media.decodeCanonicalRgb(body)
        md.reset()
        val key = md.digest(rgb).map("%02x".format(_)).mkString
        var sum = 0L; var i = 0
        while (i < rgb.length) { sum += rgb(i) & 0xFF; i += 3 } // R channel
        (id, fmt, w, h, key, sum)
      }
    }.toDF("doc_id", "fmt", "width", "height", "key", "sum_px")
  }

  /** foreachBatch sink: decode the batch once, fold its key state,
    * admit against the folded state (the [[MinKeeper]] body). */
  def imageSink(tableDir: String)(batch: DataFrame, batchId: Long): Unit =
    keys.sink(imageRowsOf(batch), tableDir, batchId)

  /** The maintained deduped image set: every admitted batch. */
  def storedImages(s: SparkSession, tableDir: String): DataFrame =
    SnapshotStream.readAppended(s, tableDir, "admitted image rows")

  /** Gate: two crawl-ordered batches through the decode → fold →
    * admit chain; must equal the one-shot min-keeper-per-content-group
    * filter, which the oracle recomputes analytically (groups, dims,
    * and pixel sums from the class formulas — no codec involved). The
    * md5 key itself is JVM-side, so it stays out of the output; the
    * analytic group identity carries the same information. */
  def streamImages(s: SparkSession, dir: String): DataFrame = {
    val Seq(b1, b2) = graft.Graft.rangeSplit(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id", 2)
    val (rows1, rows2) = (imageRowsOf(b1), imageRowsOf(b2))
    val folded = keys.merge(keys.stateOf(rows1), keys.stateOf(rows2))
    keys.admittedUnder(rows1.unionByName(rows2), folded).drop("key")
  }

  /** Analytic twin: content groups from the class formulas — GIF,
    * PNG, and TIFF of one class share a group ('gp'), JPEG has its
    * own ('j') — keeper = MIN doc_id per group, dims + R-channel sums
    * from the same formulas. Agreement proves the decode chain, the
    * canonical rendering (a GIF/PNG/TIFF trio only collides if ALL
    * three codecs reconstruct identical bytes), and the fold
    * identity. */
  val streamImagesSql: String =
    s"""WITH g AS (
      |  SELECT doc_id, doc_id % ${NClasses} AS c, doc_id % 4 AS m,
      |         CASE WHEN doc_id % 4 IN (0, 1, 3) THEN 'gp' ELSE 'j' END AS dom
      |  FROM documents),
      |k AS (SELECT dom, c, MIN(doc_id) AS keeper FROM g GROUP BY 1, 2),
      |adm AS (
      |  SELECT g.doc_id, g.c, g.m FROM g
      |  JOIN k ON k.dom = g.dom AND k.c = g.c AND k.keeper = g.doc_id),
      |gp AS (
      |  SELECT a.doc_id,
      |         CASE WHEN a.m = 0 THEN 'gif' WHEN a.m = 1 THEN 'png'
      |              ELSE 'tiff' END AS fmt,
      |         CAST(a.c % 5 + 4 AS INT) AS width,
      |         CAST(a.c % 3 + 3 AS INT) AS height,
      |         CAST(SUM((17 * a.c + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_px
      |  FROM adm a,
      |       LATERAL (SELECT unnest(generate_series(0, a.c % 5 + 3)) AS x) tx,
      |       LATERAL (SELECT unnest(generate_series(0, a.c % 3 + 2)) AS y) ty
      |  WHERE a.m IN (0, 1, 3)
      |  GROUP BY 1, 2, 3, 4),
      |j AS (
      |  SELECT a.doc_id, 'jpeg' AS fmt,
      |         CAST((a.c % 2 + 1) * 8 AS INT) AS width,
      |         CAST((a.c % 3 + 1) * 8 AS INT) AS height,
      |         CAST(64 * SUM(2 * ((17 * a.c + 11 * bx + 23 * by) % 128)) AS BIGINT) AS sum_px
      |  FROM adm a,
      |       LATERAL (SELECT unnest(generate_series(0, a.c % 2)) AS bx) tb,
      |       LATERAL (SELECT unnest(generate_series(0, a.c % 3)) AS by) tc
      |  WHERE a.m = 2
      |  GROUP BY 1, 2, 3, 4)
      |SELECT * FROM gp UNION ALL SELECT * FROM j""".stripMargin
}
