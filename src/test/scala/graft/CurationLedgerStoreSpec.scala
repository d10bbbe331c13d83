package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Curation, CurationLedgerStore}

/** The versioned curation-ledger store: per-batch verdict COMPUTE is
  * churn-bounded (candidates + splice), yet every answer equals the
  * from-scratch batch pipeline — build parity, absorb parity against
  * rebuild twins (including the adversarial untouched-doc flips the
  * candidate bands exist for), multi-batch drift accumulation under
  * the lazy-rescoring band invariant, replay idempotence, and
  * compaction invariance. */
class CurationLedgerStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame) =
    df.select($"doc_id", $"n_tokens", $"verdict")
      .as[(Long, Long, String)].collect().toSet

  private def twinLedger(corpus: DataFrame, bench: DataFrame) =
    Curation.fullPipelineLedger(corpus, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source",
      bench = bench, benchTextCol = "text")

  /** Replace-by-id semantics — the corpus after absorbing a batch. */
  private def applyDelta(corpus: DataFrame, delta: DataFrame): DataFrame =
    corpus.join(delta.select($"doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(delta)

  private def storeParams = CurationLedgerStore.Params(
    idCol = "doc_id", textCol = "text", scoreCol = "n_chars",
    sourceCol = "source", neardupBuckets = 16, idBuckets = 8,
    tokBuckets = 8)

  test("build parity + adversarial absorb: changed == rebuild-twin except, " +
      "stored ledger == rebuild twin, untouched-doc flips caught") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = d.filter($"doc_id" % 8 =!= 1).withColumn("text",
      when($"doc_id" % 4 === 3,
        concat(lit("obsolete draft placeholder revision "), substring($"text", 1, 48)))
        .otherwise($"text"))
    val bench = d.filter($"doc_id" % 50 === 0)
    // CurationSpec's adversarial batch: re-uploads + held-out new ids +
    // a source-skewed influx that moves every global stage (cluster
    // membership, the LM distribution, the √n quotas of every OTHER
    // source — flipping mix verdicts on untouched docs)
    val influx = d.filter($"source" === "src0")
      .select(($"doc_id" + 200000L).as("doc_id"),
        concat_ws(" ", reverse(split($"text", " "))).as("text"),
        $"lang", $"source", $"n_chars")
    val delta = d.filter($"doc_id" % 4 === 3 || $"doc_id" % 8 === 1)
      .unionByName(influx)
    val trueCorpus = d.unionByName(influx)
    val root = java.nio.file.Files.createTempDirectory("graft_curstore").toString

    CurationLedgerStore.build(spark, old, bench, "text", root, storeParams)
    val prevTwin = rows(twinLedger(old, bench))
    assert(rows(CurationLedgerStore.ledger(spark, root)) == prevTwin,
      "build parity: stored ledger != fullPipelineLedger on the same corpus")

    val changed = rows(CurationLedgerStore.absorbBatch(spark, root, delta))
    val postTwin = rows(twinLedger(trueCorpus, bench))
    assert(changed == (postTwin -- prevTwin), {
      val want = postTwin -- prevTwin
      s"missed: ${(want -- changed).toSeq.sortBy(_._1).take(10)}; " +
        s"extra: ${(changed -- want).toSeq.sortBy(_._1).take(10)}"
    })
    // the candidate bands' reason to exist: flips on UNTOUCHED docs
    val deltaIds = delta.select($"doc_id").as[Long].collect().toSet
    assert(changed.exists(r => !deltaIds(r._1)),
      "scenario must flip verdicts on untouched docs — bands untested otherwise")
    assert(rows(CurationLedgerStore.ledger(spark, root)) == postTwin,
      "post-absorb stored ledger != rebuild twin")
    Seq(old, trueCorpus).foreach(graft.llm.Dedup.releaseShingleSetCache(_, "doc_id", "text"))
    spark.catalog.clearCache()
  }

  test("multi-batch drift accumulation, replay idempotence, compaction invariance") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" % 2 === 0)
    val bench = d.filter($"doc_id" % 50 === 0)
    val base = d.filter($"doc_id" % 16 =!= 2 && $"doc_id" % 16 =!= 4)
    val root = java.nio.file.Files.createTempDirectory("graft_curstore_mb").toString
    CurationLedgerStore.build(spark, base, bench, "text", root, storeParams)

    // batch 1: a pure INFLUX (new docs only) — shifts the LM total and
    // the quotas without touching any stored doc: every changed row an
    // untouched doc, found only through the score/hash bands
    val b1 = d.filter($"doc_id" % 16 === 2)
    // batch 2: re-uploads of batch-1 ids with reversed text + more new
    // docs — displacement (vocab subtraction, pair churn) under the
    // stamps batch 1 left behind
    val b2 = d.filter($"doc_id" % 16 === 2)
      .select($"doc_id", concat_ws(" ", reverse(split($"text", " "))).as("text"),
        $"lang", $"source", $"n_chars")
      .unionByName(d.filter($"doc_id" % 16 === 4))
    // batch 3: a SMALL steady-state batch — docs last rescored at
    // stamp 0, 1 and 2 coexist in the band read
    val b3 = d.filter($"doc_id" % 64 === 8)
      .select($"doc_id", concat(lit("revised tail note "), $"text").as("text"),
        $"lang", $"source", $"n_chars")

    var corpus = base
    var prevTwin = rows(twinLedger(corpus, bench))
    Seq(("b1", b1), ("b2", b2), ("b3", b3)).foreach { case (name, b) =>
      val changed = rows(CurationLedgerStore.absorbBatch(spark, root, b))
      corpus = applyDelta(corpus, b)
      val postTwin = rows(twinLedger(corpus, bench))
      assert(changed == (postTwin -- prevTwin), {
        val want = postTwin -- prevTwin
        s"$name: missed ${(want -- changed).toSeq.sortBy(_._1).take(10)}; " +
          s"extra ${(changed -- want).toSeq.sortBy(_._1).take(10)}"
      })
      assert(rows(CurationLedgerStore.ledger(spark, root)) == postTwin,
        s"$name: stored ledger != rebuild twin")
      prevTwin = postTwin
    }

    // replay: re-absorbing the last batch is a no-op (the reference's
    // crash-recovery story — counts arithmetic cancels, verdicts match)
    val replay = rows(CurationLedgerStore.absorbBatch(spark, root, b3))
    assert(replay.isEmpty, s"replay emitted ${replay.take(5)}")
    assert(rows(CurationLedgerStore.ledger(spark, root)) == prevTwin)

    // lifecycle: three absorbs + a replay stitched a reference chain;
    // self-triggering maintenance folds it flat (compaction changes
    // representation, never answers), and vacuum can then drop every
    // older version — none of the folded layout's files are references
    assert(CurationLedgerStore.chainDepth(root) > 1,
      "scenario must stitch a cross-version chain before maintenance")
    // r19 ADVICE regression: vacuum under a scheme-qualified root
    // spelling must spare every version the current manifests still
    // stitch in (raw-string prefix compares deleted live files)
    CurationLedgerStore.vacuum("file:" + root)
    assert(rows(CurationLedgerStore.ledger(spark, root)) == prevTwin,
      "qualified-root vacuum deleted live stitched files")
    assert(CurationLedgerStore.chainDepth(root) > 1,
      "qualified-root vacuum must leave the stitched chain intact")
    assert(CurationLedgerStore.maybeMaintain(spark, root, maxChainDepth = 1).nonEmpty,
      "depth above threshold must trigger the compaction")
    assert(CurationLedgerStore.chainDepth(root) == 1, "compaction must fold flat")
    // r19 ADVICE: compact must fold the cumulative bound ledger back
    // to a single 0 entry (exact full rescore, stamps reset) — without
    // it the band probe window widens linearly in batch count forever
    val metaTxt = graft.fs.Fs.readString(graft.fs.Fs.child(
      CurationLedgerStore.currentPath(root).get, "_META"))
    assert(metaTxt.linesIterator.contains("k\t0") &&
      metaTxt.linesIterator.contains("B\t0"),
      s"compact must reset the bound ledger; _META:\n$metaTxt")
    assert(CurationLedgerStore.vacuum(root).nonEmpty, "older versions sparable")
    assert(CurationLedgerStore.maybeMaintain(spark, root, maxChainDepth = 1).isEmpty,
      "structural hysteresis: a folded store must not re-compact")
    assert(rows(CurationLedgerStore.ledger(spark, root)) == prevTwin,
      "compaction changed the ledger")
    val b4 = d.filter($"doc_id" % 64 === 24)
      .select($"doc_id", concat(lit("post compact revision "), $"text").as("text"),
        $"lang", $"source", $"n_chars")
    val changed4 = rows(CurationLedgerStore.absorbBatch(spark, root, b4))
    corpus = applyDelta(corpus, b4)
    val postTwin4 = rows(twinLedger(corpus, bench))
    assert(changed4 == (postTwin4 -- prevTwin), "post-compact absorb diverged")
    assert(rows(CurationLedgerStore.ledger(spark, root)) == postTwin4)
    spark.catalog.clearCache()
  }

  test("retention: an absorb writes only inside its new version; after compact + vacuum " +
      "every data file is referenced by the current version") {
    import java.nio.file.{Files, Path, Paths}
    val base = Synthetic.docs(spark, 0L until 40L)
    val bench = Synthetic.docs(spark, 1000L until 1004L)
    val root = Files.createTempDirectory("graft_curstore_ret").toString
    CurationLedgerStore.build(spark, base, bench, "text", root, storeParams)
    // new docs plus re-uploads, then re-uploads of batch-1 docs and of
    // build-time docs: every absorb displaces stored rows
    val batches = Seq(
      Synthetic.docs(spark, 40L until 50L)
        .unionByName(Synthetic.docs(spark, Seq(3L, 7L, 11L), revision = 1)),
      Synthetic.docs(spark, 40L until 45L, revision = 1),
      Synthetic.docs(spark, Seq(0L, 7L, 20L), revision = 2))
    // (path, size, mtime) of every file under `dir`, skipping the store
    // pointer (its atomic swap is the commit itself)
    def files(dir: String): Set[(String, Long, Long)] = {
      val s = Files.walk(Paths.get(dir))
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
        .filterNot(_.getFileName.toString.contains("_CURRENT"))
        .map(p => (p.toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toSet
      finally s.close()
    }
    batches.foreach { b =>
      val before = files(root)
      CurationLedgerStore.absorbBatch(spark, root, b).collect()
      val fresh = CurationLedgerStore.currentPath(root).get + "/"
      val outside = files(root).filterNot(_._1.startsWith(fresh))
      assert(outside == before, s"absorb wrote outside $fresh: ${(outside -- before).take(5)}; " +
        s"removed ${(before -- outside).take(5)}")
    }
    CurationLedgerStore.compact(spark, root)
    // no debris in any version or component: every dot-file is the
    // checksum `.<name>.crc` that Hadoop's local filesystem keeps beside
    // a file `<name>` Spark wrote; the atomic sidecar writes leave none
    val orphanDots = {
      val s = Files.walk(Paths.get(root))
      try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path]).filter { f =>
        val n = f.getFileName.toString
        n.startsWith(".") && !(n.endsWith(".crc") &&
          Files.exists(f.resolveSibling(n.stripPrefix(".").stripSuffix(".crc"))))
      }.map(_.toString).toSeq
      finally s.close()
    }
    assert(orphanDots.isEmpty, s"orphan dot-files: ${orphanDots.sorted.take(5).mkString(", ")}")
    CurationLedgerStore.vacuum(root)
    val cur = CurationLedgerStore.currentPath(root).get
    // data files: parquet parts, not sidecars (`_…`) or checksums (`.…`)
    def dataFiles(dir: String): Set[String] =
      files(dir).map(_._1).filterNot { f =>
        val n = Paths.get(f).getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
    val referenced = {
      val s = Files.walk(Paths.get(cur))
      try s.filter(_.getFileName.toString == "_PRUNE_MANIFEST").toArray
        .map(_.asInstanceOf[Path]).toSet.flatMap { (m: Path) =>
          graft.fs.Fs.readString(m.toString).split("\n").filter(_.nonEmpty)
            .map(l => l.substring(l.indexOf('\t') + 1).stripPrefix("file:"))
            .map(e => m.getParent.resolve(e).normalize.toString)
        }
      finally s.close()
    } ++ dataFiles(s"$cur/neardup/dfhead") // plain parquet, landed whole
    val unreferenced = dataFiles(root).filterNot(_.startsWith(s"$root/grams/")) -- referenced
    assert(unreferenced.isEmpty, s"${unreferenced.size} unreferenced data files, e.g. " +
      unreferenced.toSeq.sorted.take(5).mkString(", "))
    val corpus = batches.foldLeft(base)(applyDelta)
    assert(rows(CurationLedgerStore.ledger(spark, root)) == rows(twinLedger(corpus, bench)))
    spark.catalog.clearCache()
  }

  test("a corpus with no near-dup pair: empty edge component survives absorb + compact") {
    val base = Synthetic.docs(spark, 0L until 40L)
    val bench = Synthetic.docs(spark, 1000L until 1004L)
    // new docs plus re-uploads of three stored ids
    val delta = Synthetic.docs(spark, 40L until 55L)
      .unionByName(Synthetic.docs(spark, Seq(3L, 7L, 11L), revision = 1))
    val clean = applyDelta(base, delta)
    val root = java.nio.file.Files.createTempDirectory("graft_curstore_ne").toString
    def edges() = graft.sources.PrunedIndex.read(spark,
      s"${CurationLedgerStore.currentPath(root).get}/edges")

    CurationLedgerStore.build(spark, base, bench, "text", root, storeParams)
    assert(edges().count() == 0L, "fixture: the build must land an empty edge component")
    CurationLedgerStore.absorbBatch(spark, root, delta).collect()
    val twin = rows(twinLedger(clean, bench))
    assert(rows(CurationLedgerStore.ledger(spark, root)) == twin && twin.nonEmpty,
      "absorb over an empty edge component != rebuild twin")
    CurationLedgerStore.compact(spark, root)
    assert(edges().count() == 0L && edges().columns.toSeq == Seq("src", "dst"))
    assert(rows(CurationLedgerStore.ledger(spark, root)) == twin,
      "compaction over an empty edge component changed the ledger")
    graft.llm.Dedup.releaseShingleSetCache(clean, "doc_id", "text")
    spark.catalog.clearCache()
  }

  test("streaming twin: emissions telescope to the rebuild-twin ledger, across a RESTART") {
    import org.apache.spark.sql.expressions.Window
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter($"doc_id" % 2 === 0)
      .select($"doc_id", $"text", $"source", $"n_chars")
    val bench = d.filter($"doc_id" % 50 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_curlstream").toString
    val root = s"$dir/store"
    def run(): Unit = {
      val stream = spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in*")
      val q = graft.streaming.CurationLedgerStream.start(stream, root,
        s"$dir/ckpt", bench, "text", storeParams) { (changed, id) =>
        changed.withColumn("batch", lit(id))
          .write.mode("append").parquet(s"$dir/out")
      }
      assert(q.awaitTermination(300000), "stream did not terminate")
    }
    // batch 1 — yesterday's corpus, placeholders on %32==4 — builds
    // the store and emits the FULL initial ledger
    val old = d.withColumn("text",
      when($"doc_id" % 32 === 4,
        concat(lit("obsolete draft placeholder revision "),
          substring($"text", 1, 48)))
        .otherwise($"text"))
    old.coalesce(1).write.parquet(s"$dir/in1")
    run()
    val v1 = CurationLedgerStore.currentVersion(root)
    assert(v1.nonEmpty, "first batch must build the store")
    // batch 2 — the day's re-upload revisions — arrives AFTER a real
    // restart (new query, same checkpoint): only the new file processes
    d.filter($"doc_id" % 32 === 4).coalesce(1).write.parquet(s"$dir/in2")
    run()
    assert(CurationLedgerStore.currentVersion(root).exists(_ > v1.get),
      "restarted stream must absorb the new batch")
    val vPost = CurationLedgerStore.currentVersion(root)
    // idle restart: no new file ⇒ no new store commit
    run()
    assert(CurationLedgerStore.currentVersion(root) == vPost,
      "an idle restart must not commit a store version")
    // telescoping: upsert emissions by id, latest batch wins — equals
    // the from-scratch pipeline over the final corpus
    val tele = spark.read.parquet(s"$dir/out")
      .withColumn("_rk", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"batch".desc)))
      .filter($"_rk" === 1)
      .select($"doc_id", $"n_tokens", $"verdict")
    val twin = rows(twinLedger(d, bench))
    assert(rows(tele) == twin && twin.nonEmpty,
      "telescoped emissions != rebuild twin")
    assert(rows(CurationLedgerStore.ledger(spark, root)) == twin)
    graft.llm.Dedup.releaseShingleSetCache(d, "doc_id", "text")
    spark.catalog.clearCache()
  }
}
