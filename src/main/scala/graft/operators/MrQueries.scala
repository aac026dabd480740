package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.mr.{Apps, MRJob}

/** The reference's application queries (SURVEY.md §2.2: wc, indexer,
  * early_exit, crash/nocrash metadata) re-expressed two ways:
  *
  *  1. DataFrame-native (this file's q functions) — codegen'd built-ins,
  *    partial aggregation, the way you'd actually run them on 100 TB;
  *  2. through the [[graft.mr.MRJob]] compat façade (mrCompatWc) — the
  *     faithful combiner-free shuffle and sorted reduce, proving the
  *     compat layer end-to-end in the DuckDB oracle gate.
  *
  * The "documents" fixture table stands in for the reference's
  * bucket-of-text-files corpus; `doc_<id>` is the document name.
  */
object MrQueries {

  /** Letter-run tokenization, the reference tokenizer in Column form
    * (`mrapps/wc.go:19-27`: split on every non-letter). */
  private def tokens(c: String) = explode(split(col(c), "[^\\p{L}]+"))

  private def docName = concat(lit("doc_"), col("doc_id"))

  // ------------------------------------------------------------- mr_wc
  /** Word count (`mrapps/wc.go`), DataFrame-native: explode + hash agg
    * with map-side partial counts (what the reference lacks — SURVEY
    * §2.3 "no combiner"). */
  def mrWc(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(tokens("text").as("word"))
      .where(col("word") =!= "")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))

  val mrWcSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split_regex(text, '[^\p{L}]+')) AS word FROM documents)
      |SELECT word, COUNT(1) AS cnt FROM toks WHERE word <> '' GROUP BY word""".stripMargin

  // -------------------------------------------------------- mr_indexer
  /** Inverted index (`mrapps/indexer.go:20-39`): per-document distinct
    * words, then word → (#docs, sorted comma-joined doc list). */
  def mrIndexer(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(docName.as("doc"), tokens("text").as("word"))
      .where(col("word") =!= "")
      .distinct()
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_docs"),
           array_join(array_sort(collect_set(col("doc"))), ",").as("docs"))

  val mrIndexerSql: String =
    """WITH toks AS (
      |  SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc,
      |         unnest(string_split_regex(text, '[^\p{L}]+')) AS word
      |  FROM documents),
      |d AS (SELECT DISTINCT doc, word FROM toks WHERE word <> '')
      |SELECT word, COUNT(1) AS n_docs,
      |       string_agg(doc, ',' ORDER BY doc) AS docs
      |FROM d GROUP BY word""".stripMargin

  // ----------------------------------------------------- mr_doc_tokens
  /** Per-document token statistics (early_exit's per-file counting
    * intent, `mrapps/early_exit.go:19-36`, made useful). */
  def mrDocTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens("text").as("word"))
      .where(col("word") =!= "")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
           countDistinct(col("word")).as("n_distinct"))

  val mrDocTokensSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '[^\p{L}]+')) AS word
      |  FROM documents)
      |SELECT doc_id, COUNT(1) AS n_tokens, COUNT(DISTINCT word) AS n_distinct
      |FROM toks WHERE word <> '' GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------ mr_metadata
  /** crash/nocrash metadata app (`mrapps/nocrash.go:26-47`): 4 KV pairs
    * per document, reduce = sorted space-join. stack() is the unpivot;
    * values sort as STRINGS, exactly like the reference's
    * sort.Strings (`mrapps/nocrash.go:41-44`). */
  def mrMetadata(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(docName.as("doc"), col("text"))
      .selectExpr(
        // octet_length, not length: Go len(string) counts UTF-8 BYTES —
        // keeps this native query consistent with Apps.metadataMap's
        // byte counts on non-ASCII corpora (doc names are ASCII, so 'b'
        // is unaffected either way)
        """stack(4,
          |  'a', doc,
          |  'b', cast(octet_length(doc) as string),
          |  'c', cast(octet_length(text) as string),
          |  'd', 'xyzzy') as (key, v)""".stripMargin)
      .groupBy(col("key"))
      .agg(array_join(array_sort(collect_list(col("v"))), " ").as("value"))

  val mrMetadataSql: String =
    """WITH m AS (
      |  SELECT 'a' AS key, 'doc_' || CAST(doc_id AS VARCHAR) AS v FROM documents
      |  UNION ALL SELECT 'b', CAST(octet_length(encode('doc_' || CAST(doc_id AS VARCHAR))) AS VARCHAR) FROM documents
      |  UNION ALL SELECT 'c', CAST(octet_length(encode(text)) AS VARCHAR) FROM documents
      |  UNION ALL SELECT 'd', 'xyzzy' FROM documents)
      |SELECT key, string_agg(v, ' ' ORDER BY v) AS value FROM m GROUP BY key""".stripMargin

  // ---------------------------------------------------- mr_compat_wc
  /** Word count routed through the faithful MapReduce façade
    * ([[graft.mr.MRJob]]): whole-document map fn → key-hashed
    * shuffle → sort and group → reduce fn. Same oracle as mrWc — proves the compat layer computes
    * identical results to the DataFrame-native plan. */
  def mrCompatWc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val input = Tables.documents(s, dir)
      .select(docName.as("_1"), col("text").as("_2"))
      .as[(String, String)]
    MRJob.runKV(input, Apps.wcMap, Apps.wcReduce)
      .select(col("key").as("word"), col("value").cast("long").as("cnt"))
  }

  /** Inverted index through the compat façade; the reference reduce
    * emits `"<n> <docs,comma>"` as one string (`mrapps/indexer.go:38`),
    * parsed back to columns to share mrIndexer's oracle. */
  def mrCompatIndexer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val input = Tables.documents(s, dir)
      .select(docName.as("_1"), col("text").as("_2"))
      .as[(String, String)]
    MRJob.runKV(input, Apps.indexerMap, Apps.indexerReduce)
      .select(col("key").as("word"),
        substring_index(col("value"), " ", 1).cast("long").as("n_docs"),
        expr("substring(value, instr(value, ' ') + 1)").as("docs"))
  }
}
