package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session config every graft main runs on (`Bench`,
  * `Verify`, `SlopeGate`, `StoreProbe`, `PlanDump`), so correctness
  * dumps, bench timings, slopes and store probes all measure the same
  * engine. A setting that must differ per run (a topology cell, say) is
  * set with `spark.conf.set` on the built session, never by a second
  * builder.
  *
  * Cores: `SPARK_GRAFT_CPUS` when set, else every core of the host; the
  * shuffle partition count follows it. */
object GraftSession {

  def build(appName: String): SparkSession = {
    val n = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE coalesce by SIZE, not down to defaultParallelism: with
      // parallelismFirst (Spark's default true) every small shuffle keeps
      // ~#cores partitions, so per-task overhead GROWS with the core
      // count — measured as a band of queries running slower on 32 cores
      // than 8 (PERF_r20 scaling 0.48–0.85). Size-first coalescing is
      // scale-neutral: partitions above the advisory size never
      // coalesce, so a 100 TB shuffle is untouched; only the
      // tiny-partition overhead regime changes.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // With size-first coalescing the advisory size IS the per-task
      // grain. 64 MB (Spark's default) suits I/O-bound ETL; this
      // engine's hot stages are compute-dense on thin rows (shingle
      // verification, pair cosines, window ranks), where 64 MB
      // serializes a stage that still has minutes of CPU in it —
      // measured as a 2× t153 regression. 4 MB keeps overhead-bound
      // tiny shuffles at 1 task while compute-dense stages keep their
      // parallelism.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill files on tmpfs: the VM's backing disk stalls
      // intermittently, which shows up as multi-second spikes on
      // shuffle-heavy queries; RAM-backed local dirs remove that noise
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.Logs.quietLocalCheckpointWarns()
    // warm-up outside any timed region: scheduler and codegen paths, so
    // the first measured job is comparable with the rest
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark
  }

  /** Drop every cached frame and persisted RDD: the release between two
    * measured queries, so per-query pins (shared shingle projections,
    * checkpoint cuts) do not accumulate across a run. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Dev loop: `SPARK_GRAFT_ONLY=a,b` limits a run to those queries. */
  def only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
}
