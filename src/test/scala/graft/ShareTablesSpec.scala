package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, ProductAnalytics}
import graft.tables.Tables

/** Lifecycle of the session-shared warehouse tables behind the registry
  * (`Extensions.sharedTable`): built once per data dir, rebuilt when the
  * dir changes or the table is dropped, and always equal to the inline
  * operator they materialize.
  */
class ShareTablesSpec extends SparkSpec {

  private val small = s"${SparkSpec.testdata}/sf0.001"
  private val mid = s"${SparkSpec.testdata}/sf0.01"

  private def query(name: String, d: String): DataFrame =
    SparkEntry.queries(name)(spark, d)

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def inlinePairs(d: String): Seq[Row] = rows(
    ProductAnalytics.frequentPairs(Tables.lineitem(spark, d),
        col("l_orderkey"), col("l_partkey"),
        minItemSupport = 25, minPairSupport = 2)
      .orderBy(col("support").desc, col("item_a"), col("item_b")))

  test("q141 follows the data dir: each dir gets its own inline answer") {
    val (a, b) = (inlinePairs(small), inlinePairs(mid))
    assert(a !== b, "the two dirs must disagree for the rebuild to show")
    assert(rows(query("q141_frequent_pairs", small)) === a)
    assert(rows(query("q141_frequent_pairs", mid)) === b)
    assert(rows(query("q141_frequent_pairs", small)) === a)
  }

  test("q141 rebuilds a dropped share table with the same rows") {
    val before = rows(query("q141_frequent_pairs", mid))
    spark.sql("DROP TABLE graft_graph.pair_edges")
    assert(!spark.catalog.tableExists("graft_graph.pair_edges"))
    assert(rows(query("q141_frequent_pairs", mid)) === before)
    assert(spark.catalog.tableExists("graft_graph.pair_edges"))
  }

  test("a repeat call for the same dir builds its DataFrame with no Spark job") {
    rows(query("q141_frequent_pairs", mid)): Unit
    assert(jobsStartedBy(query("q141_frequent_pairs", mid): Unit) === 0)
  }

  test("q67 (clusters built inside the pairs lock) equals inline simHashClusters") {
    val docs = Tables.documents(spark, mid)
    val inline = rows(Dedup.simHashClusters(docs, col("text"), col("doc_id"),
        maxHamming = 3).orderBy("doc_id"))
    assert(inline.nonEmpty)
    assert(rows(query("q67_neardup_clusters", mid)) === inline)
  }
}
