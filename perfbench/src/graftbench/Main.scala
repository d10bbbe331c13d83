package graftbench

/** Runs one workload and writes what it observed as raw JSON; `run.py`
  * turns that into metrics.
  *
  *   graftbench.Main <workload> <input_dir> <work_dir> <seconds> <trace 0|1> <out.json>
  */
object Main {
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, seconds, trace, out) = args
    val cores = Runtime.getRuntime.availableProcessors
    val h = new Harness(work, cores, seconds.toDouble, trace == "1")
    val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$in/manifest.json"))
    val t0 = System.nanoTime()
    val run: (Harness, String, com.fasterxml.jackson.databind.JsonNode) => Unit = workload match {
      case "sql_analytics" => Workloads.sqlAnalytics
      case "etl_incremental" => Workloads.etlIncremental
      case "curation_batches" => Workloads.curationBatches(_, _, _, nearDup = true)
      case "curation_ledger" => Workloads.curationBatches(_, _, _, nearDup = false)
      case "ledger_no_edges" => Workloads.ledgerNoEdges
      case "vector_ann" => Workloads.vectorAnn
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try run(h, in, manifest) finally h.stopSession()
    val wall = (System.nanoTime() - t0) / 1e9

    val ops = h.ops.map(o => obj(Seq("round" -> o.round.toString, "step" -> o.step.toString,
      "kind" -> q(o.kind), "name" -> q(o.name), "module" -> q(o.module), "t0_ms" -> o.t0Ms.toString,
      "t1_ms" -> o.t1Ms.toString, "wall_s" -> (o.wallNs / 1e9).toString,
      "cpu_s" -> (o.cpuNs / 1e9).toString, "items" -> o.items.toString,
      "ok" -> o.ok.toString, "err" -> Option(o.err).map(q).getOrElse("null"), "key" -> q(o.key))))
    val setups = h.setups.map { case (r, s, st) =>
      obj(Seq("round" -> r.toString, "session_s" -> s.toString, "state_s" -> st.toString)) }
    val spans = h.spans.map(s => obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "op" -> s.op.toString, "name" -> q(s.name), "t0_ns" -> s.t0Ns.toString,
      "t1_ns" -> s.t1Ns.toString)))
    val jobs = h.jobs.map(j => obj(Seq("id" -> j.id.toString, "module" -> q(j.module),
      "t0_ms" -> j.t0Ms.toString, "t1_ms" -> j.t1Ms.toString, "stages" -> j.stages.toString,
      "tasks" -> j.tasks.toString, "cpu_s" -> (j.cpuNs / 1e9).toString,
      "run_s" -> (j.runMs / 1e3).toString, "gc_s" -> (j.gcMs / 1e3).toString,
      "shuffle_read" -> j.shuffleRead.toString, "shuffle_write" -> j.shuffleWrite.toString,
      "spill" -> j.spill.toString, "input" -> j.input.toString, "output" -> j.output.toString)))
    val context = obj(Seq(
      "cores" -> cores.toString,
      "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm_wall_s" -> wall.toString,
      "spark_conf" -> obj(h.confSnapshot.map { case (k, v) => k -> q(v) })))
    val json = obj(Seq(
      "workload" -> q(workload), "trace" -> (trace == "1").toString, "context" -> context,
      "clock" -> s"[${h.clock._1},${h.clock._2}]", "script_rounds" -> h.scriptRounds.toString,
      "setups" -> arr(setups), "ops" -> arr(ops),
      "gauges" -> obj(h.gauges.toSeq.map { case (k, v) => k -> v.toString }),
      "pinned" -> arr(h.pinned.map { case (i, b) => s"[$i,$b]" }),
      "peak_rss_kb" -> h.peakRssKb().toString,
      "spans" -> arr(spans), "jobs" -> arr(jobs)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
  }
}
