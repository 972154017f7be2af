package graft

/** Driver-run benchmark: times the run body of every SparkEntry query
  * (`SparkEntry.queries`) at SPARK_GRAFT_SF_DIR and prints ONE JSON
  * line. Mirrors the reference's harness loop (q4112_main.c:114-132:
  * repeat, time, append). The timed body is the one Verify checks:
  * Verify writes `SparkEntry.checked(name)`, which hands this same
  * body's output to the query's check. A JVM/codegen warm-up pass runs
  * first so timings measure the engine, not class loading, and every
  * row reports best-of-2 like the reference's best-of-5 CSV convention
  * (BASELINE.md).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Engine.sfDir
    val cpus = Engine.cpus
    val spark = Engine.session(cpus)

    def time(fn: => Unit): Double = {
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }

    // force full materialization of every operator in the plan: a bare
    // df.count() lets Catalyst prune the final Project (map-only kernels
    // like text_pii_scrub would be timed as a parquet-footer read), the
    // noop sink pulls every row through the executed plan instead
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warm-up: pay one-time codegen/classloading + parquet footer reads
    try exec(SparkEntry.queries("q4112_part1")(spark, sfDir))
    catch { case _: Throwable => () }

    // fixed-work calibration probes (Calibration), run first and last:
    // calib_pre/calib_post quantify the host's effective throughput
    // DURING this bench
    def calibrate(): Double = Calibration.cpu(spark)
    def calibrateShuffle(): Double = Calibration.shuffle(spark)
    calibrate(); calibrateShuffle() // warm both probes' codegen paths
    // this session's settled probes, taken before the priors are read:
    // the idle shuffle band (best of three) and the CPU probe a payload's
    // calib_pre is checked against (best of two)
    val sessionIdleShuffle = Seq.fill(3)(calibrateShuffle()).min
    val sessionCpu = Seq.fill(2)(calibrate()).min

    // previous committed payload (read BEFORE this run overwrites it):
    // prior per-query times feed the end-of-run outlier re-time pass,
    // and the prior idle_shuffle band makes the settle loop ABSOLUTE
    // across rounds instead of relative to this session's (possibly
    // loaded) state. Parsed with a real JSON reader — the r10 regex
    // parse would silently disable the outlier pass on any payload
    // shape change, exactly the failure class it was added to catch
    // (ADVICE r10 item 4); zero-parsed now warns loudly instead. Priors
    // only hold for a host like this one (see [[foreignPayload]]): a
    // payload from another would make every settle wait its full bound
    // and flag rows against foreign times.
    val (priorTimes, priorIdleShuffle): (Map[String, Double], Option[Double]) = {
      val f = new java.io.File("BENCH_full_latest.json")
      if (!f.isFile) (Map.empty, None)
      else try {
        import org.json4s._
        val j = org.json4s.jackson.JsonMethods.parse(
          java.nio.file.Files.readString(f.toPath))
        def num(v: JValue): Option[Double] = v match {
          case JDouble(d) => Some(d)
          case JDecimal(d) => Some(d.toDouble)
          case JInt(i) => Some(i.toDouble)
          case JLong(l) => Some(l.toDouble)
          case _ => None
        }
        val foreign = foreignPayload(num(j \ "cpus"), num(j \ "calib_pre"), cpus, sessionCpu)
        if (foreign.isDefined) {
          System.err.println(s"[bench] BENCH_full_latest.json ${foreign.get}; " +
            "running without priors")
          (Map.empty[String, Double], None)
        } else {
          val times = j \ "queries" match {
            case JObject(fields) =>
              fields.flatMap { case (k, v) => num(v).map(k -> _) }.toMap
            case _ => Map.empty[String, Double]
          }
          if (times.isEmpty)
            System.err.println("[bench] WARNING: BENCH_full_latest.json exists " +
              "but zero prior times parsed — the outlier re-run pass is disabled")
          (times, num(j \ "idle_shuffle"))
        }
      } catch {
        case e: Throwable =>
          System.err.println("[bench] WARNING: failed to parse " +
            s"BENCH_full_latest.json (${e.getMessage}) — outlier re-run disabled")
          (Map.empty, None)
      }
    }

    // the idle shuffle band: best of three warmed probes THIS session,
    // ratcheted against the band the previous committed payload carried
    // (round-10 verdict item 4) — a loaded session cannot inflate the
    // band it settles against, because the prior round's idle value
    // caps it; the bounded settle wait keeps a genuinely slower box
    // from stalling the run. The settle loop and the outlier re-run
    // are both defined relative to it (Matrix.scala:254 established
    // the pattern; Bench lacked it and round 9 committed a payload
    // with a 10.4× session-weather row that nothing caught)
    val idleShuffle = priorIdleShuffle match {
      case Some(p) if p > 0 => math.min(sessionIdleShuffle, p)
      case _ => sessionIdleShuffle
    }
    if (priorIdleShuffle.exists(p => p > 0 && sessionIdleShuffle > 2.0 * p))
      System.err.println(f"[bench] WARNING: session idle shuffle probe " +
        f"$sessionIdleShuffle%.3f s is >2x the prior round's band " +
        f"${priorIdleShuffle.get}%.3f s — this session is loaded")

    def settleUntilQuiet(): Unit = Calibration.settleUntilQuiet(spark, idleShuffle, "bench")

    settleUntilQuiet()
    val calibPoints = scala.collection.mutable.ArrayBuffer[Double]()
    calibPoints += calibrate()
    val calibShufflePre = calibrateShuffle()

    // best-of-2 per query, like the reference's best-of-5 CSV convention
    // (BASELINE.md): run 1 absorbs first-touch costs (parquet footers,
    // codegen, JIT) that are not steady-state engine throughput.
    // A query that throws reports -1 (never a fast "success") and its
    // error lands in the "errors" map.
    // Query order is a SEEDED SHUFFLE, not alphabetical: external load at
    // the start of a run would otherwise systematically inflate the same
    // alphabetical prefix every round (round 6's driver run inflated
    // agg_*/dedup_winnow exactly this way). The fixed seed keeps the
    // order reproducible run-to-run; the calibration probe re-runs every
    // 25 queries so load bursts are localizable to a window of the run.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val ordered = new scala.util.Random(20260814L)
      .shuffle(SparkEntry.queries.toSeq.sortBy(_._1))
    val results = ordered.zipWithIndex.map { case ((name, fn), idx) =>
      if (idx > 0 && idx % 25 == 0) calibPoints += calibrate()
      def once: Double =
        try time { exec(fn(spark, sfDir)) }
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(name,
              (Option(e.getMessage).getOrElse(e.getClass.getName))
                .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
            -1.0
        }
      val a = once
      val b = once
      name -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }.toMap

    // OUTLIER RE-RUN (round-9 verdict item 1): any query >2× its
    // previous committed time gets one settled re-measure at end of run;
    // the better time is kept and the row is annotated. A row that
    // STAYS >2× after a settled re-run is a real regression and is
    // reported as such — the harness no longer lets session weather
    // masquerade as one (round 9's payload carried graph_pagerank at
    // 28.0 s where a settled session measures ~3.2 s).
    val suspects = results.collect {
      case (name, sec) if sec > 0 &&
        priorTimes.get(name).exists(p => p > 0 && sec > 2.0 * p && sec - p > 0.25) => name
    }.toSeq.sorted
    val retimed = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    if (suspects.nonEmpty) {
      System.err.println(s"[bench] re-timing ${suspects.size} outlier(s) vs prior payload: " +
        suspects.mkString(", "))
      settleUntilQuiet()
    }
    val finalResults = results ++ suspects.flatMap { name =>
      val fn = SparkEntry.queries(name)
      val re = try Seq.fill(2)(time { exec(fn(spark, sfDir)) }).min
        catch { case _: Throwable => -1.0 }
      if (re < 0) None
      else {
        retimed(name) = (results(name), re)
        Some(name -> math.min(results(name), re))
      }
    }
    val inflated = finalResults.collect {
      case (name, sec) if sec > 0 &&
        priorTimes.get(name).exists(p => p > 0 && sec > 2.0 * p && sec - p > 0.25) => name
    }.toSeq.sorted
    val results2 = finalResults.toSeq

    val qs = results2.sortBy(_._1).map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results2.map(_._2).filter(_ >= 0).sum
    // annotation fields: what was re-timed (sweep time vs settled
    // re-run) and what REMAINS >2× the prior committed payload
    val retimedJson = retimed.map { case (k, (orig, re)) =>
      "\"" + k + f"""\":{"sweep":$orig%.3f,"settled":$re%.3f}""" }
      .mkString("{", ",", "}")
    val inflatedJson = inflated.map("\"" + _ + "\"").mkString("[", ",", "]")
    // stdout is a tail-captured channel with finite length (round 4 lost
    // every timing to 9 error messages) — keep the stdout line minimal:
    // timings + failed query NAMES only. Full error messages go to a
    // sidecar file and stderr.
    calibPoints += calibrate()
    val calibShufflePost = calibrateShuffle()
    val calibArr = calibPoints.map(c => f"$c%.3f").mkString("[", ",", "]")
    val calib = f""""calib_pre":${calibPoints.head}%.3f,"calib_post":${calibPoints.last}%.3f,"calib":$calibArr,"calib_shuffle_pre":$calibShufflePre%.3f,"calib_shuffle_post":$calibShufflePost%.3f"""
    val errNames = errors.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    // persist the SESSION's own measured band, not the ratcheted min:
    // the ratchet is an in-run comparison tool only. Writing the min
    // would make the committed band monotonically non-increasing across
    // rounds — one payload from an unusually fast box would permanently
    // poison settleUntilQuiet (full 120 s stall every call) and the
    // loaded-session warning on every normal box thereafter.
    val hygiene = f""""idle_shuffle":$sessionIdleShuffle%.3f,"retimed":$retimedJson,"inflated_vs_prior":$inflatedJson"""
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec",$calib,"queries":$qs,"failed":$errNames,"n_failed":${errors.size},"inflated_vs_prior":$inflatedJson,"sf":"$sfDir"}"""
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,$calib,$hygiene,"queries":$qs,"errors":$errs,"n_failed":${errors.size},"sf":"$sfDir"}"""
    // the stdout line is tail-captured with finite length (round 6 lost
    // ~60 timings + the calib fields to truncation) — persist the FULL
    // payload both to /tmp and to the repo root, where the round's
    // end-of-session commit archives it as a tracked file. The repo copy
    // is only written when cwd actually IS the sbt project root
    // (build.sbt present): a bench launched elsewhere must not scatter
    // stray files or leave a stale tracked archive looking fresh.
    val sinks = Seq("/tmp/graft-bench.json") ++
      (if (new java.io.File("build.sbt").isFile) Seq("BENCH_full_latest.json")
       else Seq.empty)
    for (p <- sinks) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), full)
      catch { case _: Throwable => () }
    }
    errors.foreach { case (k, v) => System.err.println(s"[bench] $k failed: $v") }
    println(line)
    spark.stop()
  }

  /** Why a committed payload's priors do not fit this session, or None
    * when they do: the payload must name this run's core count, and
    * its `calib_pre` CPU probe must lie within 1.5× either way of this
    * session's settled probe `sessionCpu` — two hosts of one width but
    * different speed do not share priors. A payload missing either
    * field is foreign.
    */
  private[graft] def foreignPayload(payloadCpus: Option[Double], payloadCalibPre: Option[Double],
      cpus: Int, sessionCpu: Double): Option[String] =
    if (!payloadCpus.contains(cpus.toDouble)) Some(s"was not measured on $cpus cpus")
    else payloadCalibPre match {
      case Some(p) if p > 0 && sessionCpu <= 1.5 * p && p <= 1.5 * sessionCpu => None
      case Some(p) => Some(f"has calib_pre $p%.3f s, more than 1.5x from this " +
        f"session's CPU probe $sessionCpu%.3f s")
      case None => Some("has no calib_pre")
    }
}
