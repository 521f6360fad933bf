package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Warm passes reuse generated classes: the codegen cache that
  * `Sessions.local` sizes holds a whole headline pass, so running the
  * headline-10 a second time compiles nothing. The compile counter is
  * JVM-wide; suites run one after another in the one forked test JVM
  * (`Test / fork := true`), so no other suite compiles while this one
  * counts.
  */
class CodegenCacheSpec extends SparkSpec {

  private val small = s"${SparkSpec.testdata}/sf0.001"

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** The headline-10, materialized the way Bench does: a noop write in
    * the registry's query loop, which cleans up between two queries.
    */
  private def headlinePass(): Unit =
    SparkEntry.headlines.sorted.foreach { n =>
      SparkEntry.run(spark, n, small)(_.write.format("noop").mode("overwrite").save())
    }

  test("a second headline pass compiles no generated class") {
    val c0 = compiles
    headlinePass()
    val first = compiles - c0
    headlinePass()
    val second = compiles - c0 - first
    assert(second === 0L,
      s"the first pass compiled $first classes, the second $second")
  }
}
