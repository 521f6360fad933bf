package graft

/** The one registry query loop: `select` picks the queries a harness
  * runs, and `run` cleans up after each one whether or not it failed.
  */
class SparkEntrySpec extends SparkSpec {

  private val small = s"${SparkSpec.testdata}/sf0.001"

  test("run releases what the sink persisted, and rethrows its failure") {
    val thrown = intercept[IllegalStateException] {
      SparkEntry.run(spark, "q08_a1_groupby_agg", small) { _ =>
        spark.sparkContext.parallelize(Seq(1, 2, 3)).persist().count()
        assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
        throw new IllegalStateException("sink failed")
      }
    }
    assert(thrown.getMessage === "sink failed")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("select matches name prefixes and reports the ones that match nothing") {
    assert(SparkEntry.select(Seq("q08", "no_such")) ===
      ((Seq("q08_a1_groupby_agg"), Seq("no_such"))))
    val (all, unmatched) = SparkEntry.select(Nil)
    assert(all.size === 219)
    assert(all === SparkEntry.queries.keys.toSeq.sorted)
    assert(unmatched.isEmpty)
    // no name is a prefix of another, so a full name selects only itself
    all.foreach(n => assert(SparkEntry.select(Seq(n)) === ((Seq(n), Nil))))
  }
}
