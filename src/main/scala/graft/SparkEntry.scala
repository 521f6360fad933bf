package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{Extensions, Parity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY §2
  * (graft.queries.Parity) plus the beyond-reference training-data
  * operators (graft.queries.Extensions). `oracleSql` carries the DuckDB
  * equivalent for every SQL-expressible query. Bench and Verify pick
  * and run queries only through `select` and `run`.
  */
object SparkEntry {

  private lazy val registry = Parity.all ++ Extensions.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full [DSS] gold-mart shape: filter → window → agg → 7-key-style
    * left join → coalesce.
    */
  def entry(spark: SparkSession): DataFrame =
    Parity.all.find(_.name == "q30_flagship_dss_shape").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check.
    */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Headline subset for the benchmark loop. */
  lazy val headlines: Seq[String] = registry.filter(_.headline).map(_.name)

  /** The sorted registered names that start with any of `prefixes` (all
    * of them when `prefixes` is empty), and the prefixes that match no
    * name.
    */
  def select(prefixes: Seq[String]): (Seq[String], Seq[String]) = {
    val all = queries.keys.toSeq.sorted
    if (prefixes.isEmpty) (all, Nil)
    else (all.filter(n => prefixes.exists(n.startsWith)),
      prefixes.filterNot(p => all.exists(_.startsWith(p))))
  }

  /** Builds the registered query `name` over `dir`, hands it to `sink`,
    * and then — whether or not `sink` threw — runs the cleanup step
    * between two queries ([[Sessions.releaseCached]]). Nothing is
    * caught here: each caller keeps its own failure policy.
    */
  def run[A](spark: SparkSession, name: String, dir: String)(sink: DataFrame => A): A =
    try sink(queries(name)(spark, dir))
    finally Sessions.releaseCached(spark)
}
