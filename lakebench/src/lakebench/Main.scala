package lakebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One benchmark run in one JVM: set-up, warm-up, a timed closed loop
  * with one client, the output checks, and (with `--trace 1`) a second
  * loop with the layer tracer installed. Writes the run record as JSON
  * to `--out`; `lakebench/run.py` builds and drives it.
  *
  *   --workload headline|lakehouse_build  --seed N
  *   --seconds S  --trace 0|1  --work DIR  --out FILE
  *   [--commit C] [--src-hash H] [--selfcheck]
  */
object Main {

  final case class Sample(op: Op, pass: Int, wallNs: Long, buildNs: Long,
                          var error: Option[String], result: AnyRef,
                          layers: LayerAcc) {
    def wallMs: Double = wallNs / 1e6
    def buildMs: Double = buildNs / 1e6
  }

  final case class Phase(samples: Seq[Sample], passNs: Seq[Long])

  private def now: Long = System.nanoTime()

  def runOp(op: Op, pass: Int, tracer: Option[Tracer]): Sample = {
    tracer.foreach(_.begin())
    val t0 = now
    var built = 0L
    val (err, res) =
      try {
        val b = op.build()
        built = now - t0
        (None, op.act(b))
      } catch {
        case NonFatal(e) =>
          (Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"), null)
      }
    val wall = now - t0
    if (err.isDefined && built == 0L) built = wall
    Sample(op, pass, wall, built, err, res, tracer.map(_.end()).orNull)
  }

  /** Closed loop: whole passes back to back (at least one), starting a
    * new one while it is expected to end no later than half a pass past
    * `seconds`, so the loop measures about `seconds`.
    */
  def loop(w: Workload, firstPass: Int, seconds: Double, tracer: Option[Tracer],
           afterPass: () => Unit = () => ()): Phase = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = mutable.ArrayBuffer.empty[Long]
    val deadline = now + (seconds * 1e9).toLong
    var i = firstPass
    while (passes.isEmpty || now + median(passes.toSeq.map(_.toDouble)).toLong / 2 < deadline) {
      val p0 = now
      samples ++= w.pass(i).map(runOp(_, i, tracer))
      passes += now - p0
      afterPass()
      i += 1
    }
    Phase(samples.toSeq, passes.toSeq)
  }

  /** Median; the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank quantile (the tail in the record's context). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(q * s.size).toInt - 1))
    }

  /** Live heap after full GCs. Spark's ContextCleaner frees broadcast and
    * shuffle state only after the GC that collects their handles, so
    * collect a few times and keep the lowest reading.
    */
  def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Runs each sample's check and the workload's output check; marks
    * failed samples. Returns the failure list (op key, message).
    */
  def applyChecks(w: Workload, samples: Seq[Sample]): Seq[(String, String)] = {
    checkSamples(samples)
    val outputs = w.checkOutputs()
    val keys = samples.map(_.op.key).toSet
    outputs.foreach { case (k, msg) =>
      samples.filter(s => s.error.isEmpty && (!keys.contains(k) || s.op.key == k))
        .foreach(_.error = Some(msg))
    }
    samples.flatMap(s => s.error.map(e => s.op.key -> e)).distinct ++
      outputs.filterNot(o => keys.contains(o._1))
  }

  /** Judges each sample's result with its op's check; returns the failures. */
  def checkSamples(samples: Seq[Sample]): Seq[(String, String)] = {
    samples.foreach { s =>
      if (s.error.isEmpty) {
        s.error = try s.op.check(s.result) catch {
          case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }
    samples.flatMap(s => s.error.map(e => s.op.key -> e)).distinct
  }

  /** The median pass, op by op: the sum over a pass's ops of each op's
    * median wall time across the passes. A slowdown that hits one op of
    * one pass does not move it.
    */
  def passS(phase: Phase): Double =
    phase.samples.groupBy(_.op.key).values.map(ss => median(ss.map(_.wallMs))).sum / 1e3

  /** Median over passes of the pass's successful ops per second. */
  def opsPerS(phase: Phase): Double = {
    val byPass = phase.samples.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    median(byPass.zip(phase.passNs).map { case (ss, ns) => ss.count(_.error.isEmpty) / (ns / 1e9) })
  }

  def endToEnd(phase: Phase, setupS: Double, heapMb: Double): Map[String, Double] = {
    val ok = phase.samples.filter(_.error.isEmpty).map(_.wallMs)
    Map(
      "setup_s" -> setupS,
      "pass_s" -> passS(phase),
      "op_p50_ms" -> median(ok),
      "ops_per_s" -> opsPerS(phase),
      "heap_retained_mb" -> heapMb)
  }

  val ServingFns: Seq[String] = Seq("seasonDomain", "sessionDomain", "sessionDate",
    "kpis", "fastestLaps", "teamSummary", "paceEvolution", "copilot")

  /** Ops whose executed-plan fingerprint differs from the same op's in
    * the first traced pass.
    */
  def changedPlans(ss: Seq[Sample]): Seq[Sample] = {
    val firstPass = ss.map(_.pass).min
    val first = ss.filter(_.pass == firstPass).map(s => s.op.key -> s.layers.fingerprint).toMap
    ss.filter(s => first.get(s.op.key).exists(_ != s.layers.fingerprint))
  }

  /** Per-layer metrics of a traced phase. Times and counts are per pass
    * (the traced ops divided by the ops of one pass), so they add up to
    * `pass_s`; `replays` and `served` come after each traced pass of
    * `lakehouse_build`, serving times are medians per call.
    */
  def layerMetrics(w: Workload, phase: Phase, plainPassS: Double,
                   replays: Seq[Seq[(String, Long, LayerAcc)]], served: Seq[Sample],
                   storage: (Long, Double)): Map[String, Double] = {
    val ss = phase.samples
    val perPass = ss.size.toDouble / w.pass(0).size
    def sum(f: Sample => Double): Double = ss.map(f).sum / perPass
    def l(f: LayerAcc => Double): Double = sum(s => f(s.layers))
    val changed = changedPlans(ss).size
    def accounted(s: Sample) = s.buildMs + s.layers.optimizeMs + s.layers.planMs +
      s.layers.stageBusyMs
    val unreconciled = (ss ++ served).count(s => accounted(s) > s.wallMs * 1.05 + 5.0)
    val skews = ss.flatMap(_.layers.stageSkews)
    val mb = 1048576.0
    val base = Map(
      "tables.build_ms" -> (if (w.name == "headline") sum(_.buildMs) else 0.0),
      "catalyst.analysis_ms" -> l(_.analysisMs.toDouble),
      "catalyst.optimize_ms" -> l(_.optimizeMs.toDouble),
      "catalyst.plan_ms" -> l(_.planMs.toDouble),
      "catalyst.queries" -> l(_.queries.toDouble),
      "catalyst.plan_changed" -> changed.toDouble,
      "exec.jobs" -> l(_.jobs.toDouble),
      "exec.stages" -> l(_.stages.toDouble),
      "exec.tasks" -> l(_.tasks.toDouble),
      "exec.stage_busy_ms" -> l(_.stageBusyMs.toDouble),
      "exec.task_ms" -> l(_.taskMs.toDouble),
      "exec.cpu_ms" -> l(_.cpuNs / 1e6),
      "exec.gc_ms" -> l(_.gcMs.toDouble),
      "exec.input_mb" -> l(_.inputBytes / mb),
      "exec.shuffle_read_mb" -> l(_.shuffleReadBytes / mb),
      "exec.shuffle_write_mb" -> l(_.shuffleWriteBytes / mb),
      "exec.spill_mb" -> l(_.spillBytes / mb),
      "exec.peak_mem_mb" -> (if (ss.isEmpty) 0.0 else ss.map(_.layers.peakMemBytes).max / mb),
      "exec.task_skew" -> (if (skews.isEmpty) 0.0 else skews.sum / skews.size),
      "driver.gap_ms" -> sum(s => s.wallMs - accounted(s)),
      "trace.overhead_pct" ->
        100.0 * (passS(phase) / plainPassS - 1.0),
      "trace.unreconciled_ops" -> unreconciled.toDouble,
      "trace.ops" -> (ss.size + served.size).toDouble)

    val nodes = replays.map(_.groupBy(_._1))
    def node(name: String, f: ((String, Long, LayerAcc)) => Double): Double =
      if (replays.isEmpty) 0.0
      else nodes.map(n => n.getOrElse(name, Nil).map(f).sum).sum / replays.size
    val wallMs = (n: (String, Long, LayerAcc)) => n._2 / 1e6
    val commitMs = (n: (String, Long, LayerAcc)) => n._2 / 1e6 - n._3.stageBusyMs
    val buildWall = median(ss.map(_.wallMs))
    val pipeline = Map(
      "pipeline.bronze_read_ms" -> node("bronze_read", wallMs),
      "pipeline.silver_ms" -> node("silver", wallMs),
      "pipeline.dss_ms" -> node("dss", wallMs),
      "pipeline.tes_ms" -> node("tes", wallMs),
      "pipeline.commit_ms" -> Seq("silver", "dss", "tes").map(node(_, commitMs)).sum,
      "pipeline.written_mb" -> (if (replays.isEmpty) 0.0 else l(_.outputBytes / mb)),
      "pipeline.files_written" -> storage._1.toDouble,
      "pipeline.stored_ratio" -> storage._2,
      "pipeline.node_sum_ratio" ->
        (if (replays.isEmpty) 0.0 else median(replays.map(_.map(_._2).sum / 1e6)) / buildWall),
      "quality.contract_ms" -> node("contract", wallMs),
      "quality.scans" -> node("contract", _._3.jobs.toDouble))

    def medianOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def perList(f: Sample => Double) =
      if (replays.isEmpty) 0.0 else served.map(f).sum / replays.size
    val serving = ServingFns.map { fn =>
      s"serving.${fn}_ms" -> medianOf(served.filter(_.op.fn == fn).map(_.wallMs))
    }.toMap ++ Map(
      "serving.build_ms" -> perList(_.buildMs),
      "serving.validate_ms" -> medianOf(served.filter(_.op.fn == "copilot").map(_.buildMs)),
      "serving.rows_returned" -> perList(_.result match {
        case rs: Seq[_] => rs.size.toDouble
        case _ => 0.0
      }))
    base ++ pipeline ++ serving
  }

  private def boxId(): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
               catch { case NonFatal(_) => "unknown" }
    val boot = try {
      val src = scala.io.Source.fromFile("/proc/sys/kernel/random/boot_id")
      try src.mkString.trim.take(8) finally src.close()
    } catch { case NonFatal(_) => "unknown" }
    s"$host/$boot"
  }

  /** Fixed CPU-bound range-sum job, timed 3 times; the median makes box
    * drift between records visible.
    */
  def calibrateMs(spark: SparkSession): Double = median((1 to 3).map { _ =>
    val t0 = now
    spark.range(0L, 40000000L, 1L, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id * 3 % 7) s").collect()
    (now - t0) / 1e6
  })

  def session(work: String, cpus: Int): SparkSession = {
    val spark = Sessions.local("lakebench", cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Headline scale factor: row counts of TPC-H sf0.01 (~60k lineitem). */
  val HeadlineSf = 0.01

  /** The build's bronze: a quarter of the reference season (6 rounds,
    * 43,200 laps), so a run holds several warm builds.
    */
  val BuildShape: F1Gen.Shape = F1Gen.Reference.copy(rounds = 6)

  def workload(name: String, spark: SparkSession, work: String, seed: Long): Workload =
    name match {
      case "headline" => new HeadlineWorkload(spark, work, seed, HeadlineSf)
      case "lakehouse_build" => new LakehouseWorkload(spark, work, seed, BuildShape)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(args("work")).getAbsolutePath
    val out = new File(args("out"))
    val cpus = Runtime.getRuntime.availableProcessors()
    if (argv.contains("--selfcheck")) {
      val ok = SelfCheck.run(session(work, cpus), work, out)
      sys.exit(if (ok) 0 else 1)
    }
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.get("trace").contains("1")

    val t0 = now
    val spark = session(work, cpus)
    val sessionS = (now - t0) / 1e9
    val calib = calibrateMs(spark)
    val w = workload(name, spark, work, seed)
    val p0 = now
    w.prepare()
    val prepS = (now - p0) / 1e9
    w.pass(0) // the op list and its expected answers are benchmark work, not set-up
    val warm0 = now
    val warmErrors = (0 until w.warmPasses).flatMap(i =>
      w.warmPass(-1 - i).map(op => runOp(op, -1 - i, None))
        .flatMap(s => s.error.map(s.op.key -> _)))
    val warmS = (now - warm0) / 1e9
    val setupS = sessionS + prepS + warmS

    val plainSeconds = if (trace) seconds / 2 else seconds
    val plain = loop(w, 0, plainSeconds, None)
    val heapMb = heapRetainedMb()
    val check0 = now
    val failures = applyChecks(w, plain.samples) ++ warmErrors.map {
      case (k, e) => k -> s"warm-up: $e"
    }
    val checkS = (now - check0) / 1e9
    val e2e = endToEnd(plain, setupS, heapMb)

    val served = mutable.ArrayBuffer.empty[Sample]
    val layers = if (!trace) Map.empty[String, Double] else {
      val tracer = new Tracer(spark)
      tracer.install()
      val replays = mutable.ArrayBuffer.empty[Seq[(String, Long, LayerAcc)]]
      val (afterPass, storage) = w match {
        case lh: LakehouseWorkload =>
          (() => {
            replays += lh.replay(tracer)
            served ++= lh.pageViews.map(runOp(_, replays.size, Some(tracer)))
            ()
          }, () =>
            (lh.liveFiles(),
              Workloads.dirBytes(Workloads.warehouse(spark)).toDouble / lh.bronzeBytes))
        case _ => (() => (), () => (0L, 0.0))
      }
      val traced = loop(w, 1000, seconds - plainSeconds, Some(tracer), afterPass)
      tracer.remove()
      layerMetrics(w, traced, e2e("pass_s"), replays.toSeq, served.toSeq, storage())
    }
    val attempted = plain.samples ++ served
    val allFailures = failures ++ checkSamples(served.toSeq)

    val ok = plain.samples.filter(_.error.isEmpty)
    val record = Map(
      "workload" -> name,
      "attempted" -> attempted.size,
      "failed" -> attempted.count(_.error.isDefined),
      "failures" -> allFailures.take(20).map { case (k, e) => Map("op" -> k, "error" -> e) },
      "warmup_failed" -> warmErrors.size,
      "ops_by_key" -> plain.samples.groupBy(_.op.key).map { case (k, ss) =>
        k -> Map("attempted" -> ss.size, "failed" -> ss.count(_.error.isDefined))
      },
      "end_to_end" -> e2e,
      "per_layer" -> layers,
      "context" -> Map(
        "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> cpus, "box" -> boxId(), "calib_ms" -> calib,
        "commit" -> args.getOrElse("commit", "unknown"),
        "src_hash" -> args.getOrElse("src-hash", "unknown"),
        "spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS,
        "check_s" -> checkS,
        "passes" -> plain.passNs.size, "pass_s_all" -> plain.passNs.map(_ / 1e9),
        // the tail is context, not a metric: a run holds fewer than 10
        // samples beyond p90 on every workload
        "op_ms_by_key" -> plain.samples.groupBy(_.op.key).map { case (k, ss) =>
          k -> median(ss.map(_.wallMs))
        },
        "op_samples" -> ok.size, "op_p90_ms" -> quantile(ok.map(_.wallMs), 0.9),
        "op_beyond_p90" -> ok.count(_.wallMs > quantile(ok.map(_.wallMs), 0.9)),
        "error_rate" -> attempted.count(_.error.isDefined).toDouble / attempted.size,
        "sizes" -> w.sizes))
    Json.write(out, record)
    spark.stop()
    sys.exit(0)
  }
}
