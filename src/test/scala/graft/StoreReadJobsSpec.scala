package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.CurationLedgerStore
import graft.pipeline.DeltaLoadPipeline
import graft.sinks.ParquetMergeSink

/** Job counts of store reads and of a delta load — window-independent
  * counters, unlike wall time. Every store directory records its schema
  * when it is written, so a store read is one Spark job (the scan, with
  * no footer-inference job before it), and a load's merge commit neither
  * re-infers the current version's schema nor re-reads the version it
  * just wrote. Suites share one SparkContext, so only jobs carrying this
  * test thread's job group are counted. */
class StoreReadJobsSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"store-read-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "store read job census")
    try {
      body
      org.apache.spark.ListenerDrain(sc)
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("ParquetMergeSink.readCurrent / readVersion: one Spark job per read") {
    val wh = Files.createTempDirectory("graft_readjobs").toString
    ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"), Seq("id"), 1L)
    ParquetMergeSink.merge(spark, wh, "t", Seq((2L, "B"), (3L, "c")).toDF("id", "s"), Seq("id"), 2L)
    var cur = Array.empty[org.apache.spark.sql.Row]
    assert(jobsOf { cur = ParquetMergeSink.readCurrent(spark, wh, "t").get.collect() } == 1)
    assert(cur.length == 3)
    var old = Array.empty[org.apache.spark.sql.Row]
    assert(jobsOf { old = ParquetMergeSink.readVersion(spark, wh, "t", 1L).get.collect() } == 1)
    assert(old.length == 2)
  }

  test("CurationLedgerStore.ledger: one Spark job per read") {
    val root = Files.createTempDirectory("graft_readjobs_ledger").resolve("s").toString
    val p = CurationLedgerStore.Params(idCol = "doc_id", textCol = "text",
      scoreCol = "n_chars", sourceCol = "source", neardupBuckets = 8,
      idBuckets = 4, tokBuckets = 4, packBuckets = 4, hashBands = 64)
    CurationLedgerStore.build(spark, Synthetic.docs(spark, 0L until 40L),
      Synthetic.docs(spark, 1000L until 1004L), "text", root, p)
    var n = 0
    assert(jobsOf { n = CurationLedgerStore.ledger(spark, root).collect().length } == 1)
    assert(n == 40)
    CurationLedgerStore.absorbBatch(spark, root, Synthetic.docs(spark, 40L until 50L)).collect()
    // the absorbed version stitches the build's files into its manifest
    assert(jobsOf { n = CurationLedgerStore.ledger(spark, root).collect().length } == 1)
    assert(n == 50)
  }

  test("DeltaLoadPipeline.runOne: a delta load runs at most 13 Spark jobs") {
    val ingest = Files.createTempDirectory("graft_readjobs_ingest")
    val wh = Files.createTempDirectory("graft_readjobs_wh").toString
    val tr = Files.createTempDirectory("graft_readjobs_tr").toString + "/wm.tsv"
    def put(rel: String, rows: Seq[String]): Unit = {
      val f = ingest.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, ("id,name,price" +: rows).mkString("", "\n", "\n"))
    }
    put("20250101_000000/t.csv", (1 to 50).map(i => s"$i,n$i,${i * 10}"))
    put("20250102_000000/t.csv",
      (40 to 60).map(i => s"$i,m$i,${i * 11}") ++ Seq("61,,5", "45,m45,495"))
    val pipe = new DeltaLoadPipeline(spark, wh, tr, _ => Seq("id"))
    val snaps = graft.sources.SnapshotSource.listSnapshots(ingest.toString)
    assert(snaps.size == 2)
    pipe.runOne(snaps.head._1, snaps.head._2)
    var report: graft.pipeline.LoadReport = null
    val jobs = jobsOf { report = pipe.runOne(snaps(1)._1, snaps(1)._2) }
    assert(report.processed && report.curatedRows == 60L && report.nullRows == 1L &&
      report.dupRows == 1L, report.toString)
    // 17 before every store directory recorded its schema and the merge
    // commit observed its row count on the write
    assert(jobs <= 13, s"a delta load ran $jobs Spark jobs")
  }
}
