package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap

/** Loaders for the driver testdata (TESTDATA.md): one parquet file per
  * table under each scale-factor directory `sf*`. Every table's schema
  * is declared here ([[schemas]]) in footer column order with footer
  * types, and reading is always `spark.read.schema(schemas(name))
  * .parquet`: no footer-inference job per read (Shark's
  * metastore-declared schemas), while Catalyst's vectorized reader,
  * predicate pushdown, and column pruning apply unmodified. At cluster
  * scale the same call fans out over however many row groups / files
  * the table has and skips the footer job across all of them.
  * TablesSpec pins the declarations to the fixtures' footers.
  */
object Tables {
  private def table(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  /** The fixture catalog: the ten tables' footer schemas. Timestamps
    * are TIMESTAMP(MICROS, isAdjustedToUTC=false) in every fixture, so
    * they are `TimestampNTZType`; keys are int32 or int64 as written
    * (FIXTURES.md §B).
    */
  val schemas: Map[String, StructType] = ListMap(
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
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> table("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> table("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> table("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> table("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  val names: Seq[String] = schemas.keys.toSeq

  /** Reads `name` with its declared schema; an undeclared name fails
    * before any I/O.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = schemas.getOrElse(name, throw new IllegalArgumentException(
      s"unknown table '$name'; declared: ${names.mkString(", ")}"))
    spark.read.schema(schema).parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events` with `ts` normalized to the engine's internal int64
    * epoch-nanoseconds convention (SURVEY §1.2). The declared schema
    * reads `ts` as TIMESTAMP_NTZ (the fixtures' TIMESTAMP(MICROS)), so
    * this is always the conversion branch of [[normalizeEventsTs]]: one
    * codegen'd projection (`unix_micros · 1000`, exact — µs·1000 cannot
    * overflow int64 before year 2262), never a data pass. The session timezone
    * is pinned UTC (Sessions.local) so the NTZ→instant cast is
    * identity.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(load(s, d, "events"))

  /** The `ts` normalization behind [[events]], usable on any
    * events-shaped frame (spec batch twins read staged copies). The
    * `LongType` branch serves frames not read through [[load]]: staged
    * internal-shape copies, or parquet TIMESTAMP(NANOS) read under
    * `nanosAsLong`. A NANOS fixture read through [[load]] fails instead
    * (TablesSpec names the drift).
    */
  def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ => raw.withColumn("ts", tsToNsLong(col("ts")))
    }

  /** timestamp (tz or ntz) → int64 epoch ns; shared with the streaming
    * reader so batch and stream agree on the `ts` convention.
    */
  def tsToNsLong(ts: Column): Column =
    unix_micros(ts.cast(TimestampType)) * lit(1000L)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views (used by the SafeSql gateway
    * path). `events` goes through the ts-normalizing accessor so the
    * view exposes the same int64-ns `ts` the rest of the engine sees.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}
