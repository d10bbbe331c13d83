package graftbench

import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}

/** One timed call into graft, as the benchmark's client saw it. */
final case class Op(round: Int, step: Int, kind: String, name: String, module: String,
                    t0Ms: Long, t1Ms: Long, wallNs: Long, cpuNs: Long,
                    items: Long, ok: Boolean, err: String, key: String)

/** A traced interval: one public graft call (or a group of them) made by
  * the benchmark. `op` is the index of the enclosing [[Op]]. */
final case class Span(id: Int, parent: Int, op: Int, name: String, t0Ns: Long, t1Ns: Long)

/** Per-job Spark counters, filled by [[JobListener]]. */
final class JobRec(val id: Int, val module: String, val t0Ms: Long, val stages: Int) {
  var t1Ms = 0L
  var tasks = 0L
  var cpuNs, runMs, gcMs, shuffleRead, shuffleWrite, spill, input, output = 0L
}

/** Attributes each Spark job to the graft module that issued it: the first
  * `graft.` frame of the job's call site outside `graft.util` (which only
  * wraps checkpoints and thread pools). Jobs whose call site holds no graft
  * frame were triggered by the benchmark itself (e.g. `collect` on a frame
  * graft returned) and are charged to the module of the op that is running. */
final class JobListener(opModule: () => String) extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val byStage = scala.collection.mutable.Map.empty[Int, JobRec]
  private val byId = scala.collection.mutable.Map.empty[Int, JobRec]

  private def moduleOf(details: String): Option[String] =
    details.split("\n").iterator.map(_.trim)
      .filter(l => l.startsWith("graft.") && !l.startsWith("graft.util."))
      .map { l =>
        val cls = l.takeWhile(_ != '(').split('.').dropRight(1) // drop method
        val parts = cls.map(_.takeWhile(_ != '$'))
        parts.toSeq match {
          case Seq(_, top) => top
          case Seq(_, pkg @ ("llm" | "sources"), obj, _*) => s"$pkg.$obj"
          case Seq(_, pkg, _*) => pkg
          case _ => "other"
        }
      }.nextOption()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val details = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val rec = new JobRec(e.jobId, moduleOf(details).getOrElse(opModule()), e.time,
      e.stageInfos.size)
    jobs += rec
    byId(e.jobId) = rec
    e.stageIds.foreach(s => byStage(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.t1Ms = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    byStage.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.runMs += m.executorRunTime
        r.gcMs += m.jvmGCTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.input += m.inputMetrics.bytesRead
        r.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Session, op timing, spans and result checks shared by every workload.
  *
  * Rounds: each workload runs a fixed script of operations (its inputs come
  * from the generator). The first `scriptRounds` rounds always run whole;
  * round 1's results are checked against independent oracles and
  * remembered, and the script's counters are the per-layer numbers. Later
  * rounds run while the timed phase lasts; every op after round 1 is
  * checked against round 1's verified answer for the same op. Each round
  * starts with a fresh session and fresh store state, and that set-up is
  * timed separately (`setups`), never as an op. */
final class Harness(val workDir: String, val cores: Int, val seconds: Double,
                    val trace: Boolean) {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val ops = ArrayBuffer.empty[Op]
  val spans = ArrayBuffer.empty[Span]
  val setups = ArrayBuffer.empty[(Int, Double, Double)] // round, session_s, state_s
  val gauges = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val pinned = ArrayBuffer.empty[(Int, Long)] // op index, cached bytes at op end
  /** Anchor relating span times (nanoTime) to job times (epoch ms). */
  val clock: (Long, Long) = (System.nanoTime(), System.currentTimeMillis())
  private val reference = scala.collection.mutable.Map.empty[String, String]
  private var spanStack: List[Int] = Nil
  private var curModule = "benchmark"
  private var curOp = -1 // index of the op being timed; -1 during set-up
  private var listener: JobListener = _
  val listeners = ArrayBuffer.empty[JobListener]
  var spark: SparkSession = _
  var round = 0
  /** Rounds that always run whole: the workload's fixed script. */
  var scriptRounds = 1
  /** The repeated unit of work within a round that ops belong to (an ETL
    * day); `items_per_s` is the median over steps. 0 when a workload's
    * round is one step. */
  var step = 0
  var confSnapshot: Seq[(String, String)] = Nil

  /** Bench's session config (size-first AQE, 4 MB advisory size), with every
    * scratch path inside the benchmark's work directory. */
  def startSession(): Double = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.checkpoint.dir", s"$workDir/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Logs.quietLocalCheckpointWarns()
    if (trace) {
      listener = new JobListener(() => curModule)
      listeners += listener
      spark.sparkContext.addSparkListener(listener)
    }
    spark.range(1000).selectExpr("sum(id)").collect()
    confSnapshot = spark.conf.getAll.toSeq.sorted
    (System.nanoTime() - t0) / 1e9
  }

  def stopSession(): Unit = if (spark != null) {
    if (listener != null) org.apache.spark.GraftbenchBridge.drainListeners(spark.sparkContext)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
    listener = null
  }

  /** Fresh session + the workload's one-time state for round `r`. Every
    * run sets up at least `Harness.SetupRepeats` times, so it reports a
    * median set-up time: each script round once, and round 1 the rest
    * (each attempt `k` builds its state afresh, and all but the last are
    * torn down). */
  def setup(r: Int)(state: Int => Unit): Unit = {
    round = r
    step = 0
    val attempts = if (r == 1) math.max(1, Harness.SetupRepeats - scriptRounds + 1) else 1
    (1 to attempts).foreach { k =>
      val sess = startSession()
      val t0 = System.nanoTime()
      span("setup") { state(k) }
      setups += ((r, sess, (System.nanoTime() - t0) / 1e9))
      System.err.println(f"[graftbench] r$r setup $k session $sess%.3f s state ${setups.last._3}%.3f s")
      if (k < attempts) stopSession()
    }
  }

  def add(name: String, v: Double): Unit = gauges(name) = gauges.getOrElse(name, 0.0) + v

  /** Store footprint around a round's writes: `before` = after set-up,
    * otherwise = before the round's vacuum (so the difference is what the
    * round's own writes landed). */
  def written(layer: String, root: String, before: Boolean): Unit = {
    val (b, f) = (Harness.dirBytes(root).toDouble, Harness.files(root).size.toDouble)
    if (before) { gauges(s"$layer.setup_bytes") = b; gauges(s"$layer.setup_files") = f }
    else {
      gauges(s"$layer.bytes_written") = b - gauges(s"$layer.setup_bytes")
      gauges(s"$layer.files_written") = f - gauges(s"$layer.setup_files")
    }
  }

  def timedSeconds: Double =
    ops.iterator.filter(o => o.kind != "check").map(_.wallNs).sum / 1e9

  /** Whether the timed phase still has time left for another op (the
    * script's rounds always run whole, so every run has them complete for
    * the per-layer counters) ... */
  def more: Boolean = round <= scriptRounds || timedSeconds < seconds

  /** ... or for another round. */
  def moreRounds: Boolean = round < scriptRounds || timedSeconds < seconds

  def span[T](name: String)(body: => T): T =
    if (!trace) body
    else {
      val id = spans.size
      val parent = spanStack.headOption.getOrElse(-1)
      spans += Span(id, parent, curOp, name, System.nanoTime(), 0L)
      spanStack = id :: spanStack
      try body
      finally {
        spanStack = spanStack.tail
        spans(id) = spans(id).copy(t1Ns = System.nanoTime())
      }
    }

  /** Time one call as the client sees it, then check it outside the timed
    * region. `check` returns None when the result is right. `key` names the
    * op within the round's fixed script: later rounds must reproduce round
    * 1's result digest for the same key. */
  def op[T](kind: String, name: String, module: String, items: Long, key: String)
           (body: => T)(digest: T => String)(check: T => Option[String]): Option[T] = {
    curModule = module
    curOp = ops.size
    val c0 = osBean.getProcessCpuTime
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(span(name)(body)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val m1 = System.currentTimeMillis()
    val c1 = osBean.getProcessCpuTime
    curModule = "benchmark"
    curOp = -1
    if (trace) pinned += ((ops.size, cachedBytes()))
    val k0 = System.nanoTime()
    val err: Option[String] = res match {
      case Left(e) => Some(s"threw ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(v) =>
        try {
          val d = digest(v)
          reference.get(key) match {
            case Some(ref) if ref != d => Some(s"result differs from round 1 for $key")
            case Some(_) => None
            case None =>
              val c = check(v)
              if (c.isEmpty) reference(key) = d
              c
          }
        } catch { case e: Throwable => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") }
    }
    err.foreach(e => System.err.println(s"[graftbench] FAILED $name ($key) round $round: $e"))
    res.left.foreach(e => e.getStackTrace.filter(_.getClassName.startsWith("graft"))
      .take(12).foreach(f => System.err.println(s"    at $f")))
    System.err.println(f"[graftbench] r$round $kind $name ${(t1 - t0) / 1e9}%.3f s (check ${(System.nanoTime() - k0) / 1e9}%.3f s)")
    ops += Op(round, step, kind, name, module, m0, m1, t1 - t0, c1 - c0, items, err.isEmpty,
      err.orNull, key)
    releaseCaches()
    res.toOption
  }

  private def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def jobs: Seq[JobRec] = listeners.flatMap(_.jobs).toSeq

  /** Peak resident set of this JVM (VmHWM), in kB. */
  def peakRssKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }
}

object Harness {
  val SetupRepeats = 3

  /** Order-sensitive digest of collected rows. */
  def digest(rows: Array[Row]): String = sha(rows.iterator.map(_.toString))

  /** Order-insensitive digest (for results without a defined order). */
  def digestSet(rows: Array[Row]): String = sha(rows.map(_.toString).sorted.iterator)

  def sha(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: String): Long = files(dir).map(_.length).sum

  def files(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists) Nil
    else if (f.isFile) Seq(f)
    else Option(f.listFiles).toSeq.flatten.flatMap(c => files(c.getPath))
  }
}
