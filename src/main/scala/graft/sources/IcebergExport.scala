package graft.sources

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** EXTERNAL-SHAPE export of the z-layout manifest: the
  * [[Manifest.layoutManifest]] stats table written as an Apache
  * Iceberg v2 metadata tree — real Avro manifest + manifest-list files
  * (org.apache.avro, on the classpath via Spark) plus the table
  * metadata JSON and version hint, so an external Iceberg reader can
  * plan scans over the layout this engine maintains. Field ids,
  * bound encodings and file layout follow the public Iceberg Table
  * Spec (format v2): manifest-entry/data-file field ids from Appendix
  * C ("Manifests": file_path=100, file_format=101, partition=102,
  * record_count=103, file_size_in_bytes=104, lower_bounds=125 with
  * k126/v127, upper_bounds=128 with k129/v130, content=134;
  * manifest-list: manifest_path=500 …), long bounds as 8-byte
  * LITTLE-ENDIAN single-value serialization (Appendix D), non-string
  * Avro maps as `array<record<key,value>>` with `logicalType: map`
  * (Appendix A), and the `metadata/vN.metadata.json` +
  * `version-hint.text` file layout of the HadoopTableOperations
  * convention. The partition field is declared as the spec transform
  * it truly is — `truncate[rangeWidth]` on `zkey` (bucket = zkey div
  * width ⇔ partition value = bucket·width) — not a fake identity
  * column.
  *
  * The GATE is a ROUND-TRIP, which is what makes the export
  * hash-checkable rather than write-only: build the manifest stats,
  * write the Iceberg tree, then read the manifest-list and manifest
  * Avro back with a plain GenericDatumReader and reconstitute
  * (bucket, n_rows, envelopes) FROM THE DECODED BOUND BYTES, deriving
  * the pruning verdict from the round-tripped envelopes. The DuckDB
  * oracle recomputes the same table from the raw rows
  * ([[Manifest.layoutManifestSql]]), so a single flipped byte in the
  * bound encoding, a lost map entry, or a mis-keyed field id that
  * drops data fails the hash.
  *
  * 100 TB shape: everything here is METADATA-scale by construction —
  * the manifest table is one row per file ([[Manifest.Buckets]] rows,
  * the table a planner holds in memory; its build is the map-side
  * combinable aggregation documented in [[Manifest]]), so the
  * driver-side Avro write/read touches |files| records and no data.
  * `file_size_in_bytes` is the modeled layout's deterministic
  * row-width estimate (documented surrogate — external readers use it
  * for split planning only; a physical writer would stat the files).
  *
  * EXTERNAL-READER VALIDATION — CLOSE-OUT (r13, the MP3 discipline).
  * The remaining validation tier would be an actual third-party
  * Iceberg planner walking `version-hint.text` → `vN.metadata.json` →
  * manifest-list → manifests and producing a file/split plan to
  * compare against the gate's pruning verdict — that would exercise
  * the metadata-JSON surface (schema/partition-spec/snapshot
  * serialization) that the round-trip gate reads back structurally
  * but no independent implementation has consumed. No such
  * implementation is obtainable in this environment (verified r13,
  * zero-egress container): (1) `/opt/spark/jars` ships no
  * org.apache.iceberg artifact; (2) the offline coursier mirror
  * (COURSIER_MODE=offline) resolves no org.apache.iceberg
  * coordinates — build-time resolution fails; (3) the driver-side
  * DuckDB 1.0.0 `iceberg` extension is not preinstalled and
  * `INSTALL iceberg` requires a network download (measured: IO Error,
  * extension fetch refused). What stands instead is the strongest
  * available independent check: the Avro container layer is decoded
  * by Avro's own GenericDatumReader (not this writer's code), and the
  * Iceberg-semantics layer (field ids, single-value bound encoding,
  * truncate[w] transform, file layout) is pinned to the public spec's
  * constants and verified by full reconstitution of the stats table
  * from the decoded bytes against the DuckDB oracle. If an
  * iceberg-core jar or the DuckDB iceberg extension ever becomes
  * available offline here, wire the planner read and assert its
  * planned file set equals the gate's pruning verdict — the tree
  * layout was written for exactly that consumer.
  */
object IcebergExport {

  private val RowWidthEstimate = 64L // bytes/row, the modeled files' surrogate

  private def rangeWidth: Long = {
    val m = 1L << Manifest.MBits
    (m * m) / Manifest.Buckets
  }

  /** Iceberg single-value serialization for long: 8-byte little-endian. */
  private[graft] def longBytes(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()

  private[graft] def bytesLong(b: ByteBuffer): Long = {
    val d = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
    d.getLong(d.position())
  }

  // ---- schemas (Avro JSON with Iceberg field-id props, spec Appendix C)

  private def boundsMapSchema(name: String, kId: Int, vId: Int): String =
    s"""{"type":"array","logicalType":"map","items":{"type":"record","name":"$name","fields":[
       |{"name":"key","type":"int","field-id":$kId},
       |{"name":"value","type":"bytes","field-id":$vId}]}}""".stripMargin

  private[graft] val manifestEntrySchema: Schema = new Schema.Parser().parse(
    s"""{"type":"record","name":"manifest_entry","fields":[
       |{"name":"status","type":"int","field-id":0},
       |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
       |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
       |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
       |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
       |  {"name":"content","type":"int","field-id":134},
       |  {"name":"file_path","type":"string","field-id":100},
       |  {"name":"file_format","type":"string","field-id":101},
       |  {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[
       |    {"name":"zkey_trunc","type":["null","long"],"default":null,"field-id":1000}]}},
       |  {"name":"record_count","type":"long","field-id":103},
       |  {"name":"file_size_in_bytes","type":"long","field-id":104},
       |  {"name":"lower_bounds","field-id":125,"default":null,
       |   "type":["null",${boundsMapSchema("k126_v127", 126, 127)}]},
       |  {"name":"upper_bounds","field-id":128,"default":null,
       |   "type":["null",${boundsMapSchema("k129_v130", 129, 130)}]}
       |]}}]}""".stripMargin)

  private[graft] val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  /** Table schema JSON (Iceberg struct form): the modeled data files'
    * columns with stable field ids — the ids the bound maps key on. */
  private[graft] val tableSchemaJson: String =
    """{"type":"struct","schema-id":0,"fields":[
      |{"id":1,"name":"pk","required":true,"type":"long"},
      |{"id":2,"name":"ok","required":true,"type":"long"},
      |{"id":3,"name":"zkey","required":true,"type":"long"}]}""".stripMargin
      .replaceAll("\n", "")

  private def partitionSpecJson: String =
    s"""{"spec-id":0,"fields":[{"name":"zkey_trunc","transform":"truncate[$rangeWidth]","source-id":3,"field-id":1000}]}"""

  /** Writes the metadata tree for the given manifest rows; returns the
    * table root. Deterministic throughout (fixed snapshot id, zero
    * timestamps, content-derived uuid) so repeated gate runs are
    * byte-stable. */
  private[graft] def writeTree(root: File,
      rows: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)]): Unit = {
    val meta = new File(root, "metadata")
    def clear(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(clear)
      f.delete()
    }
    clear(root)
    meta.mkdirs()
    val snapshotId = 1L

    // manifest file: one ADDED entry per modeled data file
    val manifestFile = new File(meta, "manifest-1.avro")
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestEntrySchema))
    // the key-value metadata an Iceberg manifest carries (readers use
    // these to interpret entries without the table metadata in hand)
    w.setMeta("schema", tableSchemaJson)
    w.setMeta("partition-spec", partitionSpecJson)
    w.setMeta("partition-spec-id", "0")
    w.setMeta("format-version", "2")
    w.setMeta("content", "data")
    w.create(manifestEntrySchema, manifestFile)
    val dfSchema = manifestEntrySchema.getField("data_file").schema()
    val partSchema = dfSchema.getField("partition").schema()
    def bounds(s: Schema, vs: Seq[(Int, Long)]): GenericData.Array[GenericRecord] = {
      val arr = new GenericData.Array[GenericRecord](vs.size, s)
      vs.foreach { case (k, v) =>
        val r = new GenericData.Record(s.getElementType)
        r.put("key", k)
        r.put("value", ByteBuffer.wrap(longBytes(v)))
        arr.add(r)
      }
      arr
    }
    val lowerS = dfSchema.getField("lower_bounds").schema().getTypes.get(1)
    val upperS = dfSchema.getField("upper_bounds").schema().getTypes.get(1)
    rows.sortBy(_._1).foreach {
      case (bucket, n, minPk, maxPk, minOk, maxOk, minZ, maxZ) =>
        val part = new GenericData.Record(partSchema)
        part.put("zkey_trunc", bucket * rangeWidth)
        val df = new GenericData.Record(dfSchema)
        df.put("content", 0) // DATA
        df.put("file_path", s"data/zkey_trunc=${bucket * rangeWidth}/part-00000.parquet")
        df.put("file_format", "PARQUET")
        df.put("partition", part)
        df.put("record_count", n)
        df.put("file_size_in_bytes", n * RowWidthEstimate)
        df.put("lower_bounds", bounds(lowerS, Seq(1 -> minPk, 2 -> minOk, 3 -> minZ)))
        df.put("upper_bounds", bounds(upperS, Seq(1 -> maxPk, 2 -> maxOk, 3 -> maxZ)))
        val e = new GenericData.Record(manifestEntrySchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", snapshotId)
        e.put("sequence_number", 1L)
        e.put("file_sequence_number", 1L)
        e.put("data_file", df)
        w.append(e)
    }
    w.close()

    // manifest list: one entry pointing at the manifest
    val listFile = new File(meta, s"snap-$snapshotId.avro")
    val lw = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](manifestListSchema))
    lw.setMeta("format-version", "2")
    lw.create(manifestListSchema, listFile)
    val lf = new GenericData.Record(manifestListSchema)
    lf.put("manifest_path", manifestFile.getAbsolutePath)
    lf.put("manifest_length", manifestFile.length())
    lf.put("partition_spec_id", 0)
    lf.put("content", 0)
    lf.put("sequence_number", 1L)
    lf.put("min_sequence_number", 1L)
    lf.put("added_snapshot_id", snapshotId)
    lf.put("added_files_count", rows.size)
    lf.put("existing_files_count", 0)
    lf.put("deleted_files_count", 0)
    lf.put("added_rows_count", rows.map(_._2).sum)
    lf.put("existing_rows_count", 0L)
    lf.put("deleted_rows_count", 0L)
    lw.append(lf)
    lw.close()

    // table metadata JSON + version hint (HadoopTableOperations layout)
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"graft-z-layout-${rows.size}".getBytes(UTF_8)).toString
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"$uuid",
         |"location":"${root.getAbsolutePath}",
         |"last-sequence-number":1,"last-updated-ms":0,"last-column-id":3,
         |"current-schema-id":0,"schemas":[$tableSchemaJson],
         |"default-spec-id":0,"partition-specs":[$partitionSpecJson],
         |"last-partition-id":1000,
         |"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":{},
         |"current-snapshot-id":$snapshotId,
         |"snapshots":[{"snapshot-id":$snapshotId,"sequence-number":1,
         |"timestamp-ms":0,"summary":{"operation":"append"},
         |"manifest-list":"${listFile.getAbsolutePath}","schema-id":0}],
         |"snapshot-log":[],"metadata-log":[]}""".stripMargin.replaceAll("\n", "")
    java.nio.file.Files.writeString(new File(meta, "v1.metadata.json").toPath, metadataJson)
    java.nio.file.Files.writeString(new File(meta, "version-hint.text").toPath, "1")
  }

  /** Reads the tree back through the manifest list and reconstitutes
    * the stats table FROM THE DECODED AVRO, one row per data file. */
  private[graft] def readTree(root: File): Seq[Row] = {
    val meta = new File(root, "metadata")
    val hint = java.nio.file.Files.readString(
      new File(meta, "version-hint.text").toPath).trim
    val mj = java.nio.file.Files.readString(
      new File(meta, s"v$hint.metadata.json").toPath)
    val listPath = """"manifest-list":"([^"]+)"""".r
      .findFirstMatchIn(mj).map(_.group(1))
      .getOrElse(sys.error("metadata.json has no manifest-list"))
    val lr = new DataFileReader[GenericRecord](new File(listPath),
      new GenericDatumReader[GenericRecord]())
    val manifests = try {
      val b = Seq.newBuilder[String]
      while (lr.hasNext) b += lr.next().get("manifest_path").toString
      b.result()
    } finally lr.close()
    manifests.flatMap { mp =>
      val r = new DataFileReader[GenericRecord](new File(mp),
        new GenericDatumReader[GenericRecord]())
      try {
        val b = Seq.newBuilder[Row]
        while (r.hasNext) {
          val e = r.next()
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val part = df.get("partition").asInstanceOf[GenericRecord]
          val bucket = part.get("zkey_trunc").asInstanceOf[Long] / rangeWidth
          def m(field: String): Map[Int, Long] =
            df.get(field).asInstanceOf[java.util.Collection[_]].toArray.map { o =>
              val kv = o.asInstanceOf[GenericRecord]
              kv.get("key").asInstanceOf[Int] ->
                bytesLong(kv.get("value").asInstanceOf[ByteBuffer])
            }.toMap
          val lo = m("lower_bounds"); val hi = m("upper_bounds")
          // the pruning verdict from the ROUND-TRIPPED envelopes — a
          // corrupted bound flips it and the oracle hash
          val pruned =
            if (hi(1) < Manifest.PkLo || lo(1) > Manifest.PkHi ||
                hi(2) < Manifest.OkLo || lo(2) > Manifest.OkHi) 1 else 0
          b += Row(bucket, df.get("record_count").asInstanceOf[Long],
            lo(1), hi(1), lo(2), hi(2), lo(3), hi(3), pruned)
        }
        b.result()
      } finally r.close()
    }
  }

  private val outSchema = StructType(Seq(
    StructField("bucket", LongType), StructField("n_rows", LongType),
    StructField("min_pk", LongType), StructField("max_pk", LongType),
    StructField("min_ok", LongType), StructField("max_ok", LongType),
    StructField("min_z", LongType), StructField("max_z", LongType),
    StructField("pruned", IntegerType)))

  /** Gate: manifest stats → Iceberg tree → Avro read-back → the same
    * table the DuckDB oracle recomputes from raw rows. */
  def layoutExportIceberg(s: SparkSession, dir: String): DataFrame = {
    val stats = Manifest.layoutManifest(s, dir).collect().map { r =>
      (r.getLong(r.fieldIndex("bucket")), r.getLong(r.fieldIndex("n_rows")),
        r.getLong(r.fieldIndex("min_pk")), r.getLong(r.fieldIndex("max_pk")),
        r.getLong(r.fieldIndex("min_ok")), r.getLong(r.fieldIndex("max_ok")),
        r.getLong(r.fieldIndex("min_z")), r.getLong(r.fieldIndex("max_z")))
    }.toSeq // |files| rows — the planner-memory-bounded class (Manifest scaladoc)
    val root = new File(new File(sys.props("java.io.tmpdir")),
      s"graft-iceberg-export-${math.abs(dir.hashCode)}")
    writeTree(root, stats)
    s.createDataFrame(
      s.sparkContext.parallelize(readTree(root), 1), outSchema)
  }
}
