package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}

/** Landing-zone ingestion for the file formats a heterogeneous pipeline
  * actually receives alongside parquet (the reference lands Mongo JSON;
  * operational exports arrive as CSV/JSON lines; ORC is the other
  * columnar the DWH world hands over).
  *
  * Two disciplines, both 100 TB-motivated:
  *  - EXPLICIT schemas only. Schema inference is a full extra pass over
  *    the data before the real one; at corpus scale that doubles the
  *    scan bill. Callers pass the [[graft.sources.Tables.schemas]]-style
  *    contract they expect.
  *  - Malformed rows are CAPTURED, not dropped: PERMISSIVE mode lands
  *    them in a `_corrupt_record` audit column, so a bad export shows
  *    up as countable rows instead of silent loss (the same
  *    no-silent-loss stance as the pipeline watermark).
  *
  * ORC needs no options: Spark's reader pushes filters and prunes
  * columns exactly as with parquet (spec-asserted via PushedFilters).
  */
object FileIngest {

  /** The audit column malformed rows land in.
    *
    * Spark refuses queries over raw files whose referenced columns are
    * ONLY derived from this internal column (it cannot know a row is
    * clean without parsing the others) — `cache()` or persist the
    * parsed frame before filtering on it, per Spark's own guidance in
    * that error. */
  val CorruptCol = "_corrupt_record"

  private def withAudit(schema: StructType): StructType =
    if (schema.fieldNames.contains(CorruptCol)) schema
    else schema.add(CorruptCol, StringType, nullable = true)

  /** Typed CSV read with corrupt-record capture. A malformed line
    * parses to null fields + the raw line in [[CorruptCol]]; a clean
    * line leaves [[CorruptCol]] null. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read
      .schema(withAudit(schema))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .csv(path)

  /** Typed JSON-lines read with the same corrupt-record capture — the
    * dlt-style landing format ([[MongoJsonSource]] consumes the parsed
    * shape; this is the audit-capturing reader in front of it). */
  def jsonLines(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read
      .schema(withAudit(schema))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** ORC read — columnar, so filters/projection push down natively. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC write (snappy, Spark's default). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}
