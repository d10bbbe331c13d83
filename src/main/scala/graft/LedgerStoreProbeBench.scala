package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.CurationLedgerStore

/** Selective-probe evidence for the CURATION-LEDGER store at ×1/×10/×50
  * corpus scale — [[StoreProbeBench]]'s question asked of
  * [[graft.llm.CurationLedgerStore.absorbBatch]]: a CONSTANT-size
  * intake batch's absorb wall must grow with the CHURN, not the
  * corpus, or the churn-bounded verdict-COMPUTE claim is ×10 folklore.
  *
  * Corpus realism, tuned for THIS store's two scale-sensitive axes:
  *
  *  - '''Vocabulary grows with the corpus''' (Heaps' law) so the
  *    near-dup probe's postings and the vocab component stay
  *    corpus-size-independent per key — but only HALF the tokens are
  *    class-suffixed (hash-selected): an all-suffixed corpus collapses
  *    every per-doc score onto one value (uniform class sizes ⇒ equal
  *    lp everywhere), making the LM band degenerate (empty or
  *    everything). The unsuffixed half keeps the base text's natural
  *    token-frequency mix, so scores spread and the band population is
  *    a real, narrow slice. Shingles still go class-local (a 3-gram
  *    nearly always contains a suffixed token), so pair postings stay
  *    bounded.
  *  - '''The quality floor sits IN the distribution at every factor''':
  *    total counts grow with f, so a fixed floor drifts out of the
  *    score range and stages 3–5 degenerate. The build derives the
  *    floor as the scaled corpus's own median score (one untimed thin
  *    pass), persisted in the store's `_PARAMS` like any other knob.
  *  - '''Buckets are sized to the corpus''' (`∝ f`, the PrunedIndex
  *    rule) so touched-bucket reads stay delta-proportional.
  *
  * Per factor: build ONE store (one-time cost, reported separately),
  * then time the operational `absorb` of a constant `nDelta`-doc
  * re-upload batch (trailer-token revisions — near-dups of their
  * stored selves, with real vocab/count churn) and a `lookup` of the
  * batch ids in the stored ledger. EVERY absorb rep is a CLEAN
  * steady-state absorb: the store is restored from a post-build
  * pristine snapshot (untimed NIO tree copy — the t161 pattern)
  * before each rep, so min-of-reps can never report a cheap replay
  * (empty changed set, near-dup index already advanced) as the absorb
  * wall (r19 ADVICE). The summary carries the SlopeGate-style budget
  * gate (exit 2 on breach) — the per-round STOREPROBE contract.
  *
  * Usage: `runMain graft.LedgerStoreProbeBench [baseSfDir] [workDir]
  *   [factorsCsv] [nDelta] [reps] [classesBase] [bucketsBase]
  *   [budget]` */
object LedgerStoreProbeBench {

  /** `factor` copies of the base docs with HALF the tokens suffixed by
    * the doc's class residue — vocabulary ∝ corpus, class size
    * constant, score distribution non-degenerate (see object doc). */
  def halfClassedDocsDf(spark: SparkSession, baseDir: String, factor: Int,
                        classesBase: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    val nClasses = classesBase * factor
    base.crossJoin(copies)
      .select((col("doc_id") * factor + col("copy")).as("doc_id"),
        col("text"), col("source"), col("n_chars"))
      .select(col("doc_id"), array_join(
        transform(split(col("text"), " "),
          t => when(pmod(hash(t), lit(2)) === 0,
            concat(t, lit("_"), pmod(col("doc_id"), lit(nClasses)).cast("string")))
            .otherwise(t)), " ").as("text"),
        col("source"), col("n_chars"))
  }

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/root/repo/target/ledgerstoreprobe"
    val factors = (if (args.length > 2) args(2) else "1,10,50")
      .split(",").map(_.trim.toInt).toSeq
    val nDelta = if (args.length > 3) args(3).toInt else 100
    val reps = if (args.length > 4) args(4).toInt else 3
    val classesBase = if (args.length > 5) args(5).toInt else 50
    val bucketsBase = if (args.length > 6) args(6).toInt else 8
    val budget = if (args.length > 7) args(7).toDouble else 10.0
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect() // warm-up

    // `reset` runs UNTIMED before every rep (store restore for absorb)
    def timeMin(run: () => Long, reset: () => Unit = () => ()): (Double, Long) = {
      var rows = -1L
      val walls = (1 to reps).map { _ =>
        reset()
        val t0 = System.nanoTime()
        val r = run()
        if (rows < 0L) rows = r
        (System.nanoTime() - t0) / 1e9
      }
      (walls.min, rows)
    }

    /** NIO tree copy (not FileUtil.copy — the checksummed
      * LocalFileSystem would mint `.crc` sidecars the store's atomic
      * pointer swap later invalidates). */
    def copyTree(srcS: String, dstS: String): Unit = {
      val src = java.nio.file.Paths.get(srcS)
      val dst = java.nio.file.Paths.get(dstS)
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          java.nio.file.Files.copy(p, t,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
        }
      } finally walk.close()
    }

    def restoreTree(srcS: String, dstS: String): Unit = {
      if (graft.fs.Fs.exists(dstS)) graft.fs.Fs.deleteRecursive(dstS)
      copyTree(srcS, dstS)
    }

    val cells = factors.map { f =>
      val docsPath = s"$workDir/docs_c${classesBase}_x$f"
      if (!graft.fs.Fs.exists(s"$docsPath/_SUCCESS"))
        halfClassedDocsDf(spark, baseDir, f, classesBase)
          .write.mode("overwrite").parquet(docsPath)
      val docs = spark.read.parquet(docsPath)
      val root = s"$workDir/ledgerstore_x$f"
      // the pristine snapshot IS the build artifact: a store without
      // one may already be absorbed (a prior invocation's end state) —
      // rebuild rather than snapshot a polluted root
      val pristine = s"$root.pristine"
      if (CurationLedgerStore.currentVersion(pristine).isEmpty &&
          CurationLedgerStore.currentVersion(root).nonEmpty)
        graft.fs.Fs.deleteRecursive(root)
      val buildSec =
        if (CurationLedgerStore.currentVersion(root).isEmpty) {
          // the floor must sit IN the scaled distribution: one untimed
          // thin pass derives the median score (persisted in _PARAMS)
          val scores = graft.llm.TextAnalysis.unigramLogProbPpmFromCensus(
            graft.llm.TextAnalysis.unigramCensus(docs, "doc_id", "text"),
            "doc_id")
          val floor = scores.stat
            .approxQuantile("avg_logprob_ppm", Array(0.5), 0.001)(0).toLong
          val bench = docs.filter(pmod(col("doc_id"), lit(997L)) === 0L)
          val p = CurationLedgerStore.Params(
            idCol = "doc_id", textCol = "text", scoreCol = "n_chars",
            sourceCol = "source",
            minAvgLogProbPpm = floor,
            neardupBuckets = 64 * f,
            idBuckets = bucketsBase * f, tokBuckets = bucketsBase * f)
          val t0 = System.nanoTime()
          CurationLedgerStore.build(spark, docs, bench, "text", root, p)
          val sec = (System.nanoTime() - t0) / 1e9
          restoreTree(root, pristine)
          sec
        } else -1.0
      // ---- the NON-store bounded diff (t160's migration path for
      // deployments not yet on the ledger store): indexed state frames
      // + yesterday's ledger + per-source counts, one-time and untimed.
      // The floor matches the store's (persisted in its _PARAMS) so the
      // LM band probes the same in-distribution slice. ----
      val floor = CurationLedgerStore.params(root).get.minAvgLogProbPpm
      val broot = s"$workDir/bounded_x$f"
      if (!graft.fs.Fs.exists(s"$broot/_FIXTURE_OK")) {
        if (graft.fs.Fs.exists(broot)) graft.fs.Fs.deleteRecursive(broot)
        val bench = docs.filter(pmod(col("doc_id"), lit(997L)) === 0L)
        val st = graft.llm.Curation.buildStateIndexed(spark, docs,
          "doc_id", "text", "n_chars", "source", bench, "text",
          s"$broot/idx", numBuckets = 64 * f)
        def rt(df: DataFrame, name: String): Unit = {
          df.write.mode("overwrite").parquet(s"$broot/$name"): Unit
        }
        rt(st.thin, "thin"); rt(st.pairs, "pairs"); rt(st.cleanIds, "clean")
        rt(st.census, "census"); rt(st.gramIndex, "grams")
        val preledger = graft.llm.Curation.fullPipelineLedger(docs,
          "doc_id", "text", scoreCol = "n_chars", sourceCol = "source",
          bench = bench, benchTextCol = "text",
          minAvgLogProbPpm = floor).localCheckpoint()
        rt(preledger, "preledger")
        import spark.implicits._
        rt(graft.llm.Curation.qualitySourceCounts(preledger, st.thin,
          "doc_id", "source").toDF("source", "n"), "prevcounts")
        graft.llm.Dedup.releaseShingleSetCache(docs, "doc_id", "text")
        // the diff ADVANCES the near-dup index — snapshot it pristine
        copyTree(s"$broot/idx", s"$broot/idx.pristine")
        graft.fs.Fs.writeStringAtomic(s"$broot/_FIXTURE_OK", "")
      }
      // the CONSTANT-size batch: nDelta copy-0 docs re-uploaded with a
      // trailer — real vocab/count/pair churn, corpus-independent size
      val delta = docs
        .filter(pmod(col("doc_id"), lit(f.toLong)) === 0L)
        .filter(col("doc_id") < lit(nDelta.toLong * f))
        .select(col("doc_id"),
          concat(col("text"), lit(" ledgerprobe rev2 trailer")).as("text"),
          col("source"), col("n_chars"))
        .localCheckpoint()
      val deltaIds = delta.select(col("doc_id")).localCheckpoint()
      val ops: Seq[(String, () => Long, () => Unit)] = Seq(
        ("absorb", () =>
          CurationLedgerStore.absorbBatch(spark, root, delta).count(),
          // every rep absorbs into the PRISTINE store — a replay's
          // empty-changed-set fast path must not set the gated wall
          () => restoreTree(pristine, root)),
        ("lookup", () => graft.sources.PrunedIndex.readPruned(spark,
          s"${CurationLedgerStore.currentPath(root).get}/ledger",
          deltaIds).count(), () => ()))
      val probes = ops.map { case (op, run, reset) =>
        val (sec, rows) = timeMin(run, reset)
        println(s"""{"metric":"ledger_store_probe","op":"$op","factor":$f,""" +
          s""""id_buckets":${bucketsBase * f},"probe_sec":$sec,"rows":$rows,""" +
          s""""build_sec":$buildSec,"n_delta":$nDelta}""")
        (op, sec, rows)
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      (f, buildSec, probes)
    }
    val base = cells.head
    val breaches = cells.last._3.flatMap { case (op, sec, _) =>
      val ratio = sec / base._3.find(_._1 == op).get._2
      if (ratio > budget) Some(op -> ratio) else None
    }
    val summary = cells.map { case (f, build, probes) =>
      val ops = probes.map { case (op, sec, rows) =>
        val ratio = sec / base._3.find(_._1 == op).get._2
        s""""$op":{"probe_sec":$sec,"rows":$rows,"probe_over_x1":$ratio}"""
      }.mkString("{", ",", "}")
      s""""x$f":{"build_sec":$build,"ops":$ops}"""
    }.mkString("{", ",", "}")
    val breachesJson = breaches
      .map { case (op, r) => s"""{"op":"$op","ratio":$r}""" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"ledger_store_probe_summary","n_delta":$nDelta,""" +
      s""""reps":$reps,"classes_base":$classesBase,"buckets_base":$bucketsBase,""" +
      s""""budget":$budget,"breaches":$breachesJson,""" +
      s""""pass":${breaches.isEmpty},"scales":$summary}""")
    spark.stop()
    if (breaches.nonEmpty) sys.exit(2)
  }
}
