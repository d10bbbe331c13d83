package graft

/** Driver-run benchmark: every SparkEntry query timed at
  * SPARK_GRAFT_SF_DIR; prints ONE JSON line.
  *
  * The artifact is self-adjudicating: each rep records its wall-clock
  * start and the host 1-min loadavg before/after, and each query whose
  * min exceeds `SUSPECT_FACTOR`x its min in the newest committed
  * BENCH_full_r{N}.json is listed under "suspects". A reader can then
  * tell a host-contention window (elevated loadavg spanning the reps)
  * from a genuine regression without re-running anything — r13's
  * phantom t98/t99 3-5x "regressions" needed a manual solo re-run to
  * adjudicate precisely because the artifact carried no host state.
  *
  * Usage: `runMain graft.Bench`
  * env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_BENCH_REPS
  * (default 3), SPARK_GRAFT_BENCH_OUT, SPARK_GRAFT_ONLY (subset),
  * SPARK_GRAFT_SCALE_PROFILE, SPARK_GRAFT_CPUS ([[GraftSession]]). */
object Bench {
  private val SuspectFactor = 2.5
  private val SuspectMinDeltaSec = 0.4

  private def load1(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+").head.toDouble
    catch { case _: Throwable => -1.0 }

  /** queries_min of the newest committed BENCH_full_r{N}.json in CWD
    * with N STRICTLY BELOW the current round (parsed from
    * SPARK_GRAFT_BENCH_OUT when it matches the artifact naming): the
    * prior must be the PREVIOUS round's artifact of record, never an
    * earlier same-round capture — a whole-round regression must not be
    * able to become its own suspect baseline (r14 verdict). Falls back
    * to the newest artifact of any round only when the out name
    * doesn't parse (ad-hoc dev captures). Returns
    * (name, captured_at epoch-ms, mins). */
  private def priorMins(outName: String): (String, Long, Map[String, Double]) = {
    val dir = new java.io.File(".")
    val re = "BENCH_full_r(\\d+)\\.json".r
    val currentRound: Option[Int] =
      new java.io.File(outName).getName match {
        case re(n) => Some(n.toInt)
        case _     => None
      }
    val cands = Option(dir.listFiles()).getOrElse(Array.empty).flatMap { f =>
      f.getName match {
        case re(n) if currentRound.forall(n.toInt < _) => Some((n.toInt, f))
        case _ => None
      }
    }
    if (cands.isEmpty) return ("none", 0L, Map.empty)
    val f = cands.maxBy(_._1)._2
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(f)
      val node = root.get("queries_min")
      if (node == null) (f.getName, f.lastModified(), Map.empty)
      else {
        val it = node.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
        (f.getName, f.lastModified(), b.result())
      }
    } catch { case _: Throwable => (f.getName + " (unreadable)", f.lastModified(), Map.empty) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench")

    // parquet-footer warm-up outside the timed region (the session
    // warmed its scheduler and codegen paths); keeps the first timed
    // query comparable.
    spark.read.parquet(s"$sfDir/region.parquet").count()

    // Median-of-N per query: NOTES_r1.md documents host stalls spiking
    // individual shuffle-heavy queries 5-10x on a single run; a median
    // cannot be produced by one stall, so phantom spikes stop
    // masquerading as regressions. Per-run times stay in the JSON.
    // The MIN is emitted alongside (queries_min / total_min_sec) and is
    // the regression-TRACKING statistic, matching SlopeGate: a stall
    // window spanning two of three reps defeats the median (r12: t86
    // medians 9.29 vs min 1.50 on identical code), but no stall can
    // produce a min. The headline "value" stays the median total for
    // cross-round continuity of the driver's artifact.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // Dev loop: SPARK_GRAFT_ONLY=t76_containment,... times a subset solo
    // (the driver never sets it, so the contract run is unchanged).
    val only = GraftSession.only
    // Scaled profile (sf1+ / SlopeGate-style runs): exclude the tagged
    // oracle-only O(n²) baselines — their cost is quadratic by contract.
    // The driver never sets this env, so the sf0.1 contract run times
    // every query, baselines included.
    val scaleProfile = sys.env.contains("SPARK_GRAFT_SCALE_PROFILE")
    // Fixture builds run UNTIMED before a query's reps (r17 verdict
    // item #1): the one-time O(corpus) store/state build is reported
    // separately (fixture_build_sec), so the per-rep statistic — and
    // the cross-round suspect compare — sees only the operational
    // delta-probe path the query exists to gate.
    val fixtureSecs = scala.collection.mutable.Map.empty[String, Double]
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) =>
        (!scaleProfile || !SparkEntry.oracleOnly.contains(name)) &&
          only.forall(_.contains(name)) }
      .sortBy(_._1).map { case (name, fn) =>
      SparkEntry.benchFixtures.get(name).foreach { f =>
        val t0 = System.nanoTime()
        // a failed fixture must be LOUD: the query path re-runs the
        // fixture inline every rep, so the reps silently time fixture
        // rebuild + failure instead of the probe the query exists to
        // measure (and the run's numbers poison suspect detection)
        try f(spark, sfDir) catch { case e: Throwable =>
          System.err.println(s"[bench] FIXTURE FAILED for $name: ${e.getMessage}")
        }
        fixtureSecs(name) = (System.nanoTime() - t0) / 1e9
      }
      val runs = (1 to reps).map { _ =>
        val startMs = System.currentTimeMillis()
        val loadBefore = load1()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case e: Throwable =>
          System.err.println(s"[bench] QUERY FAILED for $name: ${e.getMessage}")
          -1L
        }
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, startMs, loadBefore, load1())
      }
      // Query-boundary cache release: dedup-family queries persist a
      // shared shingle projection (Dedup.containmentIndex) sized to the
      // corpus; without a release those pins accumulate in executor
      // storage for the whole 138-query session. Reps of ONE query keep
      // their warm-cache carryover (released only after all reps), so
      // queries_min stays comparable across rounds.
      GraftSession.release(spark)
      (name, runs.map(_._1).sorted.apply(reps / 2), runs)
    }
    val qs = results.map { case (k, med, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val qmins = results.map { case (k, _, runs) =>
      "\"" + k + "\":" + runs.map(_._1).min }
      .mkString("{", ",", "}")
    val rs = results.map { case (k, _, runs) =>
      "\"" + k + "\":" + runs.map(_._1).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // Per-rep adjudication metadata: [start_epoch_ms, load1_before,
    // load1_after] per rep, in run order.
    val meta = results.map { case (k, _, runs) =>
      "\"" + k + "\":" + runs.map { case (_, ms, lb, la) =>
        s"[$ms,$lb,$la]" }.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val outName =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full_latest.json")
    val (priorFile, priorAtMs, prior) = priorMins(outName)
    val suspects = results.collect {
      case (k, _, runs) if prior.get(k).exists { p =>
        val m = runs.map(_._1).min
        m > p * SuspectFactor && m - p > SuspectMinDeltaSec } => k
    }
    val suspectsJson = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val totalMin =
      if (results.nonEmpty) results.map(_._3.map(_._1).min).sum else 0.0
    val fixJson = fixtureSecs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","total_min_sec":$totalMin,""" +
        s""""queries":$qs,"queries_min":$qmins,"runs":$rs,"rep_meta":$meta,""" +
        s""""fixture_build_sec":$fixJson,""" +
        s""""prior":"$priorFile","prior_captured_at_ms":$priorAtMs,""" +
        s""""suspects":$suspectsJson,"sf":"$sfDir"}"""
    println(line)
    // The driver's stdout capture keeps only the tail of long lines, so
    // per-query medians for the early (q-family) queries were unreadable
    // across rounds. Persist the full JSON beside the build so every
    // median survives verbatim (committed per round as BENCH_full_r{N}).
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outName), line + "\n")
    // A COMPACT machine-readable result as the LAST stdout line: the
    // full line above exceeds the driver's capture window (r18's
    // BENCH_r18.json landed "parsed": null off a 2000-char tail), so a
    // parser that keeps only the tail still gets one complete JSON
    // object with the headline totals and a pointer to the full file.
    val compact =
      s"""BENCH_RESULT {"metric":"total","value":$total,"unit":"sec",""" +
        s""""total_min_sec":$totalMin,"n_queries":${results.size},""" +
        s""""suspects":$suspectsJson,"queries_file":"$outName","sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
