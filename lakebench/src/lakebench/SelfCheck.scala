package lakebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Tiny-scale self-check of the harness itself (sf0.001 star schema,
  * one-round bronze): failures are counted, identical code yields
  * identical plan fingerprints, layer sums reconcile with wall time, and
  * both workloads and the traced page views pass their output checks.
  */
object SelfCheck {

  def run(spark: SparkSession, work: String, out: File): Boolean = {
    val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def expect(name: String, cond: Boolean, detail: String): Unit = {
      results += ((name, cond, detail))
      println(s"[selfcheck] ${if (cond) "ok  " else "FAIL"} $name: $detail")
    }
    val tracer = new Tracer(spark)
    tracer.install()
    def traced(w: Workload, passes: Int,
               after: () => Unit = () => ()): Main.Phase = {
      val ps = (0 until passes).map(i => Main.loop(w, i, 0.0, Some(tracer), after))
      Main.Phase(ps.flatMap(_.samples), ps.flatMap(_.passNs))
    }
    def layers(w: Workload, p: Main.Phase,
               replays: Seq[Seq[(String, Long, LayerAcc)]] = Nil,
               served: Seq[Main.Sample] = Nil) =
      Main.layerMetrics(w, p, Main.passS(p), replays, served, (0L, 0.0))

    // headline: two passes of identical code → identical fingerprints
    val h = new HeadlineWorkload(spark, s"$work/selfcheck/headline", 7L, 0.001)
    h.prepare()
    h.warmPass(-1).foreach(Main.runOp(_, -1, None))
    val hp = traced(h, 2)
    val hl = layers(h, hp)
    expect("headline fingerprints stable", hl("catalyst.plan_changed") == 0.0,
      s"${hl("catalyst.plan_changed")} of ${hp.samples.size} ops changed plan " +
        Main.changedPlans(hp.samples).map(s => s"${s.op.key}: ${s.layers.fingerprints}")
          .mkString("; "))
    expect("headline layers reconcile", hl("trace.unreconciled_ops") == 0.0,
      s"${hl("trace.unreconciled_ops")} ops with layers beyond wall time")
    expect("headline build layer measured", hl("tables.build_ms") > 0.0,
      s"tables.build_ms = ${hl("tables.build_ms")}")

    // an injected throwing op and an injected wrong answer are failures
    val injected = Seq(
      Main.runOp(Op("injected_throw", "query",
        () => throw new IllegalStateException("injected failure"), identity), 0, None),
      Main.runOp(Op("injected_wrong", "kpis", () => spark.range(3).toDF(),
        d => Workloads.rows(d.asInstanceOf[org.apache.spark.sql.DataFrame]),
        got => Model.diff(got.asInstanceOf[Seq[Seq[Any]]], Seq(Seq(0L)))), 0, None))
    val all = hp.samples ++ injected
    val failures = Main.applyChecks(h, all)
    val rate = all.count(_.error.isDefined).toDouble / all.size
    expect("injected failures counted",
      failures.map(_._1).toSet == Set("injected_throw", "injected_wrong") && rate > 0.0,
      s"failures ${failures.map(_._1).mkString(",")}, error_rate $rate")

    // lakehouse: one-round bronze, build + node-by-node replay + page views
    val lh = new LakehouseWorkload(spark, s"$work/selfcheck/lakehouse", 7L,
      F1Gen.Shape(Seq(2024), 1, 20, 60, 120))
    lh.prepare()
    val replays = mutable.ArrayBuffer.empty[Seq[(String, Long, LayerAcc)]]
    val served = mutable.ArrayBuffer.empty[Main.Sample]
    traced(lh, 2)
    val lp = traced(lh, 2, () => {
      replays += lh.replay(tracer)
      served ++= lh.pageViews.map(Main.runOp(_, replays.size, Some(tracer)))
    })
    val ll = layers(lh, lp, replays.toSeq, served.toSeq)
    val lf = Main.applyChecks(lh, lp.samples)
    expect("lakehouse output matches model", lf.isEmpty, lf.take(3).mkString("; "))
    expect("lakehouse layers reconcile", ll("trace.unreconciled_ops") == 0.0,
      s"${ll("trace.unreconciled_ops")} ops with layers beyond wall time")
    val ratio = ll("pipeline.node_sum_ratio")
    expect("replayed nodes sum to the build", ratio > 0.6 && ratio < 1.4,
      f"node sum / build wall = $ratio%.3f")
    val sf = Main.checkSamples(served.toSeq)
    expect("dashboard answers match model", sf.isEmpty && served.nonEmpty,
      s"${served.size} requests; " + sf.take(3).mkString("; "))
    expect("pipeline and serving layers only on lakehouse_build",
      hl("pipeline.silver_ms") == 0.0 && hl("serving.kpis_ms") == 0.0 &&
        ll("pipeline.silver_ms") > 0.0 && ll("serving.kpis_ms") > 0.0 &&
        ll("tables.build_ms") == 0.0,
      s"silver_ms ${hl("pipeline.silver_ms")}/${ll("pipeline.silver_ms")}, " +
        s"kpis_ms ${hl("serving.kpis_ms")}/${ll("serving.kpis_ms")}")
    tracer.remove()

    Json.write(out, Map("selfcheck" -> results.map { case (n, ok, det) =>
      Map("check" -> n, "ok" -> ok, "detail" -> det)
    }))
    spark.stop()
    results.forall(_._2)
  }
}
