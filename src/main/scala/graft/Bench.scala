package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

/** Benchmark main: runs the selected SparkEntry queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Arguments are query-name
  * prefixes ([[SparkEntry.select]]); without any, the headline set runs.
  * Each query is fully materialized via a noop datasource write — a
  * plain count() would let Catalyst drop sorts and projections and
  * under-report the real work. A query that throws is left out of
  * `value` and `queries` and named in `failed`, as is a prefix that
  * matches no query; the process then exits 1. `compiles` gives, per
  * query, the number of generated classes compiled during its timed runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Sessions.defaultCpus)
    val spark = Sessions.local("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Default = the HEADLINE subset: the reference-shaped workload
    // (BASELINE.md's dbt-build equivalent — scans, aggregates, window,
    // joins, mart-over-mart, flagship DSS). The near-dup/ANN extension
    // operators have no baseline counterpart and would dominate the
    // total; run them with SPARK_GRAFT_BENCH_ALL=1 or by name prefix.
    val headline = args.isEmpty && !sys.env.contains("SPARK_GRAFT_BENCH_ALL")
    val (names, unmatched) =
      if (headline) (SparkEntry.headlines.sorted, Nil) else SparkEntry.select(args.toSeq)

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // build + materialize time; the cleanup step after it is not timed
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.run(spark, name, sfDir) { df => noop(df); (System.nanoTime() - t0) / 1e9 }
    }

    // Median of N runs per query: a single noisy run (sandbox contention,
    // stray GC) must not decide the round's perf record. The headline set
    // is small enough to afford 5; the full inventory stays at 3.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", if (headline) "5" else "3").toInt
    // SPARK_GRAFT_BENCH_WARMRUN=1: run each query ONCE unmeasured at
    // the benched scale before its timed runs. The standing-index /
    // shared-table queries (q201-q203, q206-q207, q215, q208-q209,
    // q87...) amortize a one-time session build into their first run —
    // with runs=3 a slow window pushes that build into the MEDIAN (the
    // r15 q203 spread signature: min 0.97 / med 2.28 / max 4.83).
    // The flag makes "build amortized out of the record" an explicit
    // convention instead of a spread artifact; records carry
    // "warm":true so cross-round sums are never silently compared
    // across conventions.
    val warmRun = sys.env.contains("SPARK_GRAFT_BENCH_WARMRUN")
    // (min, median, max, compiles): the median is the record; min/max
    // expose the run-to-run spread so a noisy sandbox can't masquerade as
    // a regression (or hide one). `compiles` counts the generated classes
    // janino compiled during the timed runs: the first may still compile
    // where the benched scale plans differently from the warm-up scale,
    // later ones only if the class cache evicts. A query that throws on
    // any run gets no record (None): it is left out of the total and
    // named in "failed".
    def materialize(name: String): Option[(Double, Double, Double, Long)] =
      try {
        if (warmRun) once(name): Unit
        val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val ts = Seq.fill(runs)(once(name)).sorted
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
        Some((ts.head, ts(ts.size / 2), ts.last, compiles))
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }

    // JVM/session warmup so the first measured query doesn't absorb
    // classloading + codegen bring-up.
    noop(spark.range(1000000).selectExpr("sum(id) s"))

    // Per-query codegen warmup on the smallest scale factor: identical
    // plan shape generates identical code, so the janino compile is
    // cached and the measured run reflects data-proportional work (the
    // 100 TB-relevant quantity), not one-time JIT.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      names.foreach { n =>
        try SparkEntry.run(spark, n, warmDir)(noop) catch { case NonFatal(_) => () }
      }
    val attempted = names.map(n => n -> materialize(n))
    val results = attempted.collect { case (n, Some(t)) => n -> t }
    val failedNames = unmatched ++ attempted.collect { case (n, None) => n }
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, (_, med, _, _)) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val spread = results.map { case (k, (min, _, max, _)) =>
      "\"" + k + "\":{\"min\":" + min + ",\"max\":" + max + "}"
    }.mkString("{", ",", "}")
    val compiles = results.map { case (k, (_, _, _, n)) => "\"" + k + "\":" + n }
      .mkString("{", ",", "}")
    val total = results.map(_._2._2).sum
    // Box identity (r13 lesson: cross-round comparisons are meaningless
    // across VM migrations/reboots — q161 moved 1.93→3.25 s on IDENTICAL
    // code). hostname + kernel boot_id prefix tags every record with the
    // exact boot it ran on, so a drifted box is visible without
    // archaeology.
    val box = {
      val host = try java.net.InetAddress.getLocalHost.getHostName
                 catch { case _: Throwable => "unknown" }
      val boot = try scala.io.Source.fromFile("/proc/sys/kernel/random/boot_id")
                       .mkString.trim.take(8)
                 catch { case _: Throwable => "nob" }
      s"$host/$boot"
    }
    val warmField = if (warmRun) """"warm":true,""" else ""
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"spread":$spread,"compiles":$compiles,"runs":$runs,$warmField"sf":"$sfDir","box":"$box"}""")
    spark.stop()
    if (failedNames.nonEmpty) sys.exit(1)
  }
}
