package graft.sources

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the engine's input tables (parquet, one file per table).
  *
  * Mirrors the reference's source layer (MongoDB collections landed as
  * raw tables — the reference's dags/dlt_sources/mongodb/helpers.py)
  * re-expressed as Spark parquet scans so Catalyst gets pushdown/pruning.
  *
  * Every table is read against its DECLARED schema ([[schemas]], the
  * data contract of SURVEY §3), never an inferred one: inference starts
  * one Spark job per open to read a footer, and would let an upstream
  * type change flow silently into every query. A file that drifts from
  * the contract fails at the scan, naming the column. The timestamp
  * columns are parquet `timestamp[us]` without isAdjustedToUTC; Spark
  * reads them as TIMESTAMP under a declared TimestampType, lossless
  * under the pinned UTC session timezone, with no session setting.
  * Every field is nullable, as inference reports it.
  */
object Tables {
  private def table(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> table("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> table("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> table("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> table("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> table("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> table("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> table("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampType),
    // also the landing-zone contract of the streaming pipeline
    // (graft.streaming.IotStreamPipeline.readRaw)
    "events" -> table("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> table("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> table("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  val all: Seq[String] = schemas.keys.toSeq

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
