package graft.sources

import graft.Scope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Schema-explicit text-format readers for ingestion at scale. The
  * reference reads whatever Python iterables hold (tinymr docs.rst
  * wordcount reads a text file line by line); a 100 TB pipeline instead
  * needs (a) an EXPLICIT schema — schema inference is a full extra pass
  * over the data and non-deterministic under drift — and (b) a
  * malformed-record policy, because at corpus scale some lines are
  * always broken and a single bad record must not kill a day-long job.
  *
  * PERMISSIVE + `_corrupt_record` keeps bad lines as data (auditable,
  * re-processable) instead of failing (FAILFAST) or silently vanishing
  * (DROPMALFORMED) — quarantine-then-continue is the default posture.
  */
object Sources {

  val CorruptCol = "_corrupt_record"

  /** JSON-lines with explicit schema; malformed lines land in
    * [[CorruptCol]] with every data column null.
    */
  def jsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read
      .schema(schema.add(CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** CSV with explicit schema and header; malformed lines land in
    * [[CorruptCol]].
    */
  def csv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read
      .schema(schema.add(CorruptCol, "string"))
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)

  /** Split a permissive read into (clean rows without the audit column,
    * quarantined raw lines). Callers write the quarantine frame to a
    * side sink and continue — the reprocess loop owns it from there.
    *
    * The parsed frame is persisted first, for two reasons: Spark
    * disallows plans that read ONLY the corrupt-record column from the
    * raw scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN — the quarantine side
    * is exactly that shape), and without it the clean and quarantine
    * sinks would each re-parse the full input. One parse pass, two
    * consumers; the persist is owned by `sc`, so close the scope once
    * both are written.
    */
  def quarantine(sc: Scope, df: DataFrame): (DataFrame, DataFrame) = {
    val parsed = sc.persist(df, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clean = parsed.filter(col(CorruptCol).isNull).drop(CorruptCol)
    val bad = parsed.filter(col(CorruptCol).isNotNull).select(col(CorruptCol))
    (clean, bad)
  }

  /** Whole-line text source (the reference's native input shape,
    * docs.rst:139-159): one `value` column, no parsing to fail.
    */
  def textLines(s: SparkSession, path: String): DataFrame =
    s.read.text(path)

  /** ORC source with explicit schema — the second columnar format a
    * lakehouse ingests beside parquet (Hive-lineage warehouses emit
    * it). Schema-explicit for the same reason as [[jsonl]]: no
    * inference pass, loud drift. ORC is self-describing + typed, so
    * there is no corrupt-record column; type mismatches fail the scan
    * (the columnar contract), and predicate pushdown + column pruning
    * work exactly as with parquet (SourcesSpec asserts the round-trip
    * and the pruned ReadSchema).
    */
  def orc(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).orc(path)

  /** ORC sink (round-trip partner of [[orc]]). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}
