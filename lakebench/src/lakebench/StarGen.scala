package lakebench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped star schema for the headline queries: the six
  * tables they read (region, nation, customer, supplier, orders,
  * lineitem), at the row counts of TPC-H scale factor `sf`, each
  * written as ONE parquet file with one row group under
  * `<dir>/<table>.parquet/` — the layout of the single-file fixtures
  * the headline history was measured on.
  *
  * Values are stateless hashes of (row key, seed, column salt), so the
  * same seed gives the same tables. Measures are two-decimal doubles and
  * quantities are integral, the domains the DuckDB oracle's exact-sum
  * rules assume.
  */
object StarGen {

  val Tables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "orders", "lineitem")

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Nations = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1,
    "EGYPT" -> 4, "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3,
    "INDIA" -> 2, "INDONESIA" -> 2, "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2,
    "JORDAN" -> 4, "KENYA" -> 0, "MOROCCO" -> 0, "MOZAMBIQUE" -> 0,
    "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3, "SAUDI ARABIA" -> 4,
    "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3, "UNITED STATES" -> 1)
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Rows of each table at scale factor `sf` (lineitem is ~4 × orders). */
  def rowCounts(sf: Double): Map[String, Long] = Map(
    "customer" -> math.max(10L, (150000 * sf).toLong),
    "supplier" -> math.max(10L, (10000 * sf).toLong),
    "orders" -> math.max(100L, (1500000 * sf).toLong),
    "part" -> math.max(10L, (200000 * sf).toLong))

  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import spark.implicits._
    val n = rowCounts(sf)
    def h(salt: Int, key: Column): Column = xxhash64(key, lit(seed), lit(salt))
    def pick(salt: Int, m: Long, key: Column): Column = pmod(h(salt, key), lit(m))
    def oneOf(values: Seq[String], salt: Int, key: Column): Column =
      element_at(array(values.map(lit): _*), (pick(salt, values.size, key) + 1).cast("int"))
    def cents(salt: Int, lo: Long, span: Long, key: Column): Column =
      (pick(salt, span, key) + lo).cast("double") / 100
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val epoch = lit("1992-01-01").cast("date")
    val cutoff = lit("1995-06-17").cast("date")

    save(Regions.zipWithIndex.map { case (r, i) => (i, r) }.toDF("r_regionkey", "r_name"),
      "region")
    save(Nations.zipWithIndex.map { case ((nm, r), i) => (i, nm, r) }
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    save(spark.range(n("customer")).select(
      (id + 1).as("c_custkey"),
      concat(lit("Customer#"), lpad((id + 1).cast("string"), 9, "0")).as("c_name"),
      pick(1, Nations.size, id).cast("int").as("c_nationkey"),
      cents(2, -99999, 1099999, id).as("c_acctbal"),
      oneOf(Segments, 3, id).as("c_mktsegment")), "customer")
    save(spark.range(n("supplier")).select(
      (id + 1).as("s_suppkey"),
      concat(lit("Supplier#"), lpad((id + 1).cast("string"), 9, "0")).as("s_name"),
      pick(4, Nations.size, id).cast("int").as("s_nationkey"),
      cents(5, -99999, 1099999, id).as("s_acctbal")), "supplier")

    val orders = spark.range(n("orders")).select(
      (id + 1).as("o_orderkey"),
      (pick(6, n("customer"), id) + 1).as("o_custkey"),
      oneOf(Seq("F", "O", "P"), 7, id).as("o_orderstatus"),
      cents(8, 90000, 50000000, id).as("o_totalprice"),
      pick(9, 2406, id).cast("int").as("o_day"),
      oneOf(Priorities, 10, id).as("o_orderpriority"))
    save(orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"),
      date_add(epoch, col("o_day")).cast("timestamp_ntz").as("o_orderdate"),
      col("o_orderpriority")), "orders")

    val lk = col("o_orderkey") * 8 + col("l_linenumber")
    val ship = date_add(epoch, col("o_day") + pick(17, 121, lk).cast("int") + 1)
    val qty = (pick(13, 50, lk) + 1).cast("double")
    save(orders
      .select(col("o_orderkey"), col("o_day"),
        explode(sequence(lit(1), (pick(11, 7, col("o_orderkey")) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        (pick(12, n("part"), lk) + 1).as("l_partkey"),
        (pick(18, n("supplier"), lk) + 1).as("l_suppkey"),
        col("l_linenumber"),
        qty.as("l_quantity"),
        round(qty * cents(14, 90000, 110000, lk), 2).as("l_extendedprice"),
        (pick(15, 11, lk).cast("double") / 100).as("l_discount"),
        (pick(16, 9, lk).cast("double") / 100).as("l_tax"),
        when(ship <= cutoff, oneOf(Seq("R", "A"), 19, lk)).otherwise(lit("N"))
          .as("l_returnflag"),
        when(ship > cutoff, lit("O")).otherwise(lit("F")).as("l_linestatus"),
        ship.cast("timestamp_ntz").as("l_shipdate")), "lineitem")
  }
}
