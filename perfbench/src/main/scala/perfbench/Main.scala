package perfbench

import scala.collection.mutable

import graft.Engine
import graft.model.GenConfig
import graft.ops.Q4112

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run record (numbers, strings, nesting). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ", ", "]")

  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}

/** One benchmark run of one workload in one JVM.
  *
  * {{{
  * perfbench.Main --workload q4112_probe|q4112_groups --seed N --seconds S
  *   --trace 0|1 --scale F --rounds K --cores C [--spans FILE]
  * }}}
  *
  * Sequence: session + warm-up on a smaller input of the same workload;
  * then K rounds, each a fresh `Engine.session` plus ingest, one cold
  * pass and warm passes for S/K seconds. With `--trace 1` each round's
  * warm time is split: an untraced half, then a half with the Spark
  * listeners and spans on; the per-layer probes run after the last
  * round. The last stdout line is the run record as one JSON object.
  */
object Main {

  /** Fewest warm passes a round (or each half of a traced round) measures. */
  val MinWarmPasses = 2

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean, scale: Double,
      rounds: Int, cores: Int, spans: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(get("workload", ""), get("seed", "4112").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("scale", "0.01").toDouble, get("rounds", "4").toInt,
      get("cores", Runtime.getRuntime.availableProcessors().toString).toInt,
      get("spans", ""))
  }

  /** The Matrix shapes the q4112 workloads scale down. q4112_probe is
    * part-1 cfg8 (contiguous items, isel 1.0; orders, osel 1.0,
    * ungrouped) with as many items as orders, so every orders row probes
    * a build array of 8 bytes x orders. q4112_groups is part-2 cfg11
    * (1e5 items; 1e9 orders; 1e8 groups, no heavy hitters).
    */
  def q4112Config(workload: String, scale: Double, seed: Long): GenConfig = workload match {
    case "q4112_probe" =>
      GenConfig((1e9 * scale).toLong, 1.0, 99999L, (1e9 * scale).toLong, 1.0, 99999L,
        0L, 0L, 0.0, seed)
    case "q4112_groups" =>
      GenConfig(math.max(1L, (1e5 * scale).toLong), 1.0, 99999L, (1e9 * scale).toLong, 1.0,
        99999L, (1e8 * scale).toLong, 0L, 0.0, seed)
  }

  /** Fixed single-thread integer work; its time tracks the host's speed
    * at the moment. Diagnostic only, never part of a metric.
    */
  def cpuProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 4112L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    if (x == 42L) System.err.println("") // keeps the loop live
    (System.nanoTime() - t0) / 1e9
  }

  private val started = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def say(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val part = a.workload match {
      case "q4112_probe" => 1
      case "q4112_groups" => 2
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val workload = new Q4112Workload(part, q4112Config(a.workload, a.scale, a.seed),
      q4112Config(a.workload, a.scale / 20, a.seed + 1))
    val probeBefore = cpuProbe()
    val tracer = new Tracer(false)
    val sampler = new MemorySampler
    sampler.start()

    // pass bookkeeping: every pass gets an id, a job group and (traced)
    // a span that its Spark jobs hang under
    var passId = 0
    val passSpans = mutable.Map.empty[Int, Int]
    val telemetry = new SparkTelemetry(tracer, p => passSpans.getOrElse(p, -1))
    var attached = false
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def attach(spark: SparkSession): Unit = if (tracer.on) {
      spark.sparkContext.addSparkListener(telemetry)
      spark.listenerManager.register(telemetry.catalyst)
      attached = true
    }
    def detach(spark: SparkSession): Unit = if (attached) {
      PerfbenchAccess.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(telemetry)
      spark.listenerManager.unregister(telemetry.catalyst)
      attached = false
    }

    /** One checked pass, timed on the tracer's clock. */
    def runPass(spark: SparkSession): PassRun = {
      passId += 1
      val p = passId
      val id = tracer.newId()
      passSpans(p) = id
      tracer.pass = p
      spark.sparkContext.setJobGroup(s"perfbench-pass-$p", s"${a.workload} pass $p")
      sampler.reset()
      val t0 = tracer.now()
      val r = tracer.span("pass", id) {
        try workload.pass(tracer)
        catch { case e: Exception => PassResult(ok = false, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      }
      val t1 = tracer.now()
      val (storage, exec) = sampler.peaks()
      spark.sparkContext.clearJobGroup()
      if (tracer.on) PerfbenchAccess.drainListenerBus(spark.sparkContext)
      tracer.pass = -1
      attempted += 1
      if (!r.ok) {
        failed += 1
        errors += s"pass $p: ${r.error.getOrElse("wrong answer")}".take(500)
      }
      PassRun(p, r, t0, t1, storage, exec)
    }

    // warm-up: JIT, codegen caches and class loading on a smaller input
    say("session + warm-up")
    var spark = Engine.session(a.cores)
    tracer.on = a.trace // warm the traced code paths too; spans are dropped below
    workload.warmUp(spark, tracer)
    tracer.clear()
    say("rounds")

    // K rounds, each a fresh session + ingest, one cold pass and warm
    // passes for S/K seconds; interleaving spreads every metric's samples
    // over the whole run, so a burst of host contention lands in a few
    // samples of each metric rather than in all samples of one. A traced
    // run measures an untraced half of each round's warm time first, so
    // its trace overhead is a ratio of samples from the same rounds.
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val ingestS = mutable.ArrayBuffer.empty[Double]
    val coldS = mutable.ArrayBuffer.empty[Double]
    val planColdS = mutable.ArrayBuffer.empty[Double]
    val planJobs = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[PassRun]
    val untraced = mutable.ArrayBuffer.empty[PassRun]
    def warmPhase(seconds: Double, out: mutable.ArrayBuffer[PassRun]): Unit = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < MinWarmPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        out += runPass(spark)
        n += 1
      }
    }
    val roundSeconds = a.seconds / a.rounds
    var rows = 0L
    for (round <- 0 until a.rounds) {
      workload.release()
      Q4112.clearRelationCaches()
      detach(spark)
      spark.stop()
      val t0 = System.nanoTime()
      spark = tracer.span("engine.session")(Engine.session(a.cores))
      val t1 = System.nanoTime()
      attach(spark)
      rows = tracer.span("gen.ingest")(workload.ingest(spark, tracer))
      val t2 = System.nanoTime()
      sessionS += (t1 - t0) / 1e9
      ingestS += (t2 - t1) / 1e9
      if (round == 0) workload.prepareOracle()
      val cold = runPass(spark)
      coldS += cold.wall
      planColdS += cold.r.planNs / 1e9
      if (tracer.on) planJobs += plannerJobs(tracer.all, cold.pass)
      if (a.trace) {
        detach(spark)
        tracer.on = false
        warmPhase(roundSeconds / 2, untraced)
        tracer.on = true
        attach(spark)
        warmPhase(roundSeconds / 2, warm)
      } else warmPhase(roundSeconds, warm)
    }
    val decision = workload.decision
    say(s"${warm.length} warm passes done")
    val probes = if (a.trace) workload.layerProbes(tracer) else Map.empty[String, Double]
    say("done")
    val heapMb = Runtime.getRuntime.maxMemory() / 1048576.0
    val sparkVersion = spark.version
    detach(spark)
    spark.stop()
    sampler.shutdown()
    val probeAfter = cpuProbe()

    import Timing.median
    val mb = 1048576.0
    val warmS = warm.map(_.wall).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(sessionS.indices.map(i => sessionS(i) + ingestS(i))), "s"),
        ("cold_s", median(coldS.toSeq), "s"),
        ("warm_s", median(warmS), "s"),
        ("cache_mb", median(warm.map(_.storage / mb)), "MB"))
      else {
        val c = warm.map(w => telemetry.of(w.pass))
        def med(f: PassCounters => Double) = median(c.map(f))
        val util = warm.zip(c).map { case (w, pc) => pc.taskNs / 1e9 / (w.wall * a.cores) }
        val driver = warm.zip(c).map { case (w, pc) =>
          w.wall - covered(pc.stageIntervals.toSeq, w.t0, w.t1) }
        Seq(
          ("engine.session_s", median(sessionS.toSeq), "s"),
          ("gen.ingest_s", median(ingestS.toSeq), "s"),
          ("gen.rows_per_s", rows / median(ingestS.toSeq), "1/s"),
          ("q4112.plan_cold_s", median(planColdS.toSeq), "s"),
          ("q4112.plan_warm_s", median(warm.map(_.r.planNs / 1e9)), "s"),
          ("q4112.plan_jobs", median(planJobs.toSeq), "count"),
          ("q4112.dense_build_s", probes("q4112.dense_build_s"), "s"),
          ("ladder.scan_s", probes("ladder.scan_s"), "s"),
          ("ladder.probe_s", probes("ladder.probe_s"), "s"),
          ("ladder.groupby_s", probes("ladder.groupby_s"), "s"),
          ("spark.jobs", med(_.jobs.toDouble), "count"),
          ("spark.stages", med(_.stages.toDouble), "count"),
          ("spark.tasks", med(_.tasks.toDouble), "count"),
          ("spark.task_s", med(_.taskNs / 1e9), "s"),
          ("spark.cpu_s", med(_.cpuNs / 1e9), "s"),
          ("spark.shuffle_write_mb", med(_.shuffleWrite / mb), "MB"),
          ("spark.shuffle_read_mb", med(_.shuffleRead / mb), "MB"),
          ("spark.spill_mb", med(_.spill / mb), "MB"),
          ("spark.peak_exec_mem_mb", median(warm.map(_.exec / mb)), "MB"),
          ("scan.input_mb", med(_.input / mb), "MB"),
          ("spark.util", median(util), "ratio"),
          ("spark.driver_s", median(driver), "s"),
          ("catalyst.plan_s", med(_.catalystNs / 1e9), "s"),
          ("trace_overhead", median(warmS) / median(untraced.map(_.wall)), "ratio"))
      }

    if (a.trace && a.spans.nonEmpty) {
      val lines = tracer.all.sortBy(_.start).map(s => Json.obj(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
        "pass" -> s.pass.toString, "start_ns" -> s.start.toString, "end_ns" -> s.end.toString))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.spans), lines.mkString("", "\n", "\n"))
    }

    println(Json.obj(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "trace" -> a.trace.toString,
      "scale" -> Json.num(a.scale),
      "cores" -> a.cores.toString,
      "heap_mb" -> Json.num(heapMb),
      "versions" -> Json.obj("spark" -> Json.str(sparkVersion),
        "scala" -> Json.str(scala.util.Properties.versionNumberString),
        "jdk" -> Json.str(System.getProperty("java.version"))),
      "cpu_probe_s" -> Json.obj("before" -> Json.num(probeBefore), "after" -> Json.num(probeAfter)),
      "rows_ingested" -> rows.toString,
      "chosen_plan" -> Json.str(decision),
      "session_s" -> Json.nums(sessionS),
      "ingest_s" -> Json.nums(ingestS),
      "cold_s" -> Json.nums(coldS),
      "plan_cold_s" -> Json.nums(planColdS),
      "warm_s" -> Json.nums(warmS),
      "untraced_warm_s" -> Json.nums(untraced.map(_.wall)),
      "cache_mb" -> Json.nums(warm.map(_.storage / mb)),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "errors" -> Json.arr(errors.map(Json.str)),
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)))
  }

  /** Spark jobs that started inside the pass's planner call (statistics,
    * sampling, the dense build). Job times have millisecond resolution,
    * hence the 1 ms slack before the planner span.
    */
  def plannerJobs(spans: Seq[Span], pass: Int): Double =
    spans.find(s => s.pass == pass && s.name == "q4112.plan").fold(0.0) { plan =>
      spans.count(s => s.pass == pass && s.name == "spark.job" &&
        s.start >= plan.start - 1000000L && s.start <= plan.end).toDouble
    }

  /** Seconds of [t0, t1] covered by at least one running stage; the rest
    * of a pass is driver time (planning, dispatch, result handling).
    */
  def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Double = {
    var total = 0L
    var end = t0
    for ((s, e) <- intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
         .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val from = math.max(s, end)
      if (e > from) { total += e - from; end = e }
    }
    total / 1e9
  }
}

/** One checked pass on the tracer's clock (nanoseconds). */
final case class PassRun(pass: Int, r: PassResult, t0: Long, t1: Long, storage: Long, exec: Long) {
  def wall: Double = (t1 - t0) / 1e9
}
