package graft

import org.apache.spark.sql.Row

/** Output-order contracts of registered queries that sort before a
  * narrow reshaping step, so the final order is not a plain ORDER BY.
  */
class QueryOrderSpec extends SparkSpec {

  private val small = s"${SparkSpec.testdata}/sf0.001"

  /** Runs `body` with the given session confs, restoring the old values. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val saved = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q88_unpivot emits (l_orderkey, l_linenumber, measure) order under any partitioning") {
    val runs = for {
      parts <- Seq(1, 7, 32)
      aqe <- Seq(true, false)
    } yield (parts, aqe) -> withConf(
        "spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.adaptive.enabled" -> aqe.toString) {
      SparkEntry.queries("q88_unpivot")(spark, small).collect().toSeq
    }
    def key(r: Row) = (r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber"),
      r.getAs[String]("measure"))
    runs.foreach { case (cfg, rows) =>
      assert(rows.nonEmpty, s"$cfg returned no rows")
      val keys = rows.map(key)
      assert(keys === keys.sorted, s"$cfg: rows out of order")
    }
    val (base, first) = runs.head
    runs.tail.foreach { case (cfg, rows) =>
      assert(rows === first, s"$cfg differs from $base")
    }
  }
}
