package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, NearDupIndexStore}

class SketchSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("sign-sketch LSH finds high-cosine pairs and verifies exactly") {
    val vecs = Seq(
      (0L, Array.tabulate(16)(i => math.sin(i + 1).toFloat)),
      (1L, Array.tabulate(16)(i => (math.sin(i + 1) * 1.01 + 0.001).toFloat)), // ~same direction
      (2L, Array.tabulate(16)(i => math.cos(i * 2 + 1).toFloat)),
      (3L, Array.tabulate(16)(i => (if (i % 2 == 0) 1f else -1f)))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupLsh(vecs, "vec_id", "embedding",
        threshold = 0.99, numBits = 16, bandBits = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("sign-sketch LSH recall vs brute force on real embeddings (sf0.001)") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val brute = Dedup.embeddingNearDupPairs(embs, "vec_id", "embedding", 0.45)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupLsh(embs, "vec_id", "embedding", 0.45,
        numBits = 32, bandBits = 4) // 8 bands of 4 bits: high recall at cos>=0.45
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(brute)) // verification ⇒ precision 1.0
    assert(brute.isEmpty || lsh.size.toDouble / brute.size >= 0.5,
      s"recall ${lsh.size}/${brute.size}")
  }

  test("indexed embedding-LSH: probe == batch delta-restricted incl. re-uploads; append == rebuild; replay idempotent") {
    import org.apache.spark.sql.functions.floor
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val corpus = e.filter($"vec_id" % 5 =!= 0)
    val delta = e.filter($"vec_id" % 5 === 0)
    val base = java.nio.file.Files.createTempDirectory("graft_elshidx").toString
    // each append lands the advanced index in a new dir: v1 -> v2 -> ...
    val root = s"$base/v1"
    Dedup.writeEmbeddingLshIndex(spark, corpus, "vec_id", "embedding", root,
      numBits = 32, bandBits = 8, seed = 42L, numBuckets = 16)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select($"a_id", $"b_id", floor($"cos_sim" * 1e6).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val deltaIds = delta.select($"vec_id").as[Long].collect().toSet
    val want = pset(Dedup.embeddingNearDupLsh(e, "vec_id", "embedding", 0.30))
      .filter(p => deltaIds(p._1) || deltaIds(p._2))
    val got = pset(Dedup.embeddingLshDeltaPairsIndexed(spark, root, delta,
      "vec_id", "embedding", threshold = 0.30))
    assert(got.nonEmpty && got == want)
    Dedup.releaseEmbeddingLshCache(e, "vec_id", "embedding")

    // absorb the delta; then a RE-UPLOAD batch — ids 0..19 wearing the
    // vectors of 100..119: pairs must form under the new vectors only,
    // with the (i, i+100) identical-vector witness at cos ≈ 1
    Dedup.appendEmbeddingLshIndexDelta(spark, root, s"$base/v2", delta,
      "vec_id", "embedding")
    val delta2 = e.filter($"vec_id" >= 100 && $"vec_id" < 120)
      .select(($"vec_id" - 100L).as("vec_id"), $"embedding")
    val post = e.filter($"vec_id" >= 20).unionByName(delta2)
    val d2Ids = (0L until 20L).toSet
    val want2 = pset(Dedup.embeddingNearDupLsh(post, "vec_id", "embedding", 0.30))
      .filter(p => d2Ids(p._1) || d2Ids(p._2))
    def probe2(v: Int) = pset(Dedup.embeddingLshDeltaPairsIndexed(spark, s"$base/v$v",
      delta2, "vec_id", "embedding", threshold = 0.30))
    assert(probe2(2).nonEmpty && probe2(2) == want2)
    assert(probe2(2).exists(p => d2Ids(p._1) && p._2 == p._1 + 100L && p._3 >= 999999L))
    Dedup.releaseEmbeddingLshCache(post, "vec_id", "embedding")

    // append delta2: probe unchanged (order independence), replay
    // idempotent, components == a fresh build over the post-replace corpus
    Dedup.appendEmbeddingLshIndexDelta(spark, s"$base/v2", s"$base/v3", delta2,
      "vec_id", "embedding")
    assert(probe2(3) == want2)
    Dedup.appendEmbeddingLshIndexDelta(spark, s"$base/v3", s"$base/v4", delta2,
      "vec_id", "embedding")
    assert(probe2(4) == want2)
    val last = s"$base/v4"
    val root2 = s"$base/rebuild"
    Dedup.writeEmbeddingLshIndex(spark, post, "vec_id", "embedding", root2,
      numBits = 32, bandBits = 8, seed = 42L, numBuckets = 16)
    for (comp <- Seq("bands", "byid"))
      assert(graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(last, comp))
          .as[(Long, Int, Long, Long)].collect().toSet ==
        graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(root2, comp))
          .as[(Long, Int, Long, Long)].collect().toSet, comp)
    assert(graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(last, "byvec"))
        .as[(Long, Seq[Float])].collect().toSet ==
      graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(root2, "byvec"))
        .as[(Long, Seq[Float])].collect().toSet)
  }

  test("winnowing: doc sharing a long substring is caught, unrelated is not") {
    val common = "spark structured streaming watermarks and stateful aggregation semantics"
    val docs = Seq(
      (0L, s"prefix words $common suffix words here"),
      (1L, s"totally different opening $common and another ending"),
      (2L, "nothing in common with the others at all, completely disjoint text")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(docs, "doc_id", "text", k = 12, w = 8, minShared = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("winnowing df-cap: capped ⊆ uncapped; equal when no fingerprint is hot; boilerplate-only pairs dropped") {
    // 6 docs all sharing one long boilerplate footer (the hot substring),
    // plus docs 0/1 sharing a second, genuinely-copied passage.
    val boiler = "this page is licensed under the creative commons attribution share alike"
    val copied = "the quick brown fox jumps over the lazy dog again and again tonight"
    val docs = (0L to 5L).map { i =>
      val body = if (i <= 1) s"unique$i words $copied more unique$i" else s"unique$i body text number $i"
      (i, s"$body $boiler trailer$i")
    }.toDF("doc_id", "text")
    def pairSet(maxDf: Int) =
      Dedup.winnowingPairs(docs, "doc_id", "text", k = 12, w = 8, minShared = 2, maxDf = maxDf)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val uncapped = pairSet(Int.MaxValue)
    val loose = pairSet(6) // no fingerprint can exceed df=6 in a 6-doc corpus
    val tight = pairSet(3) // boilerplate fingerprints (df=6) are dropped
    assert(loose == uncapped, "cap above max df must be a no-op")
    assert(tight.subsetOf(uncapped), "capped output must be a subset")
    assert(tight.contains((0L, 1L)), "genuinely-copied pair must survive the cap")
    assert(uncapped.exists(p => p._1 >= 2L), "uncapped must see boilerplate-only pairs")
    assert(!tight.exists(p => p._1 >= 2L), "boilerplate-only pairs must be dropped by the cap")
  }

  test("incremental winnowing: delta probe == rebuild restricted to delta-touching pairs (incl. re-uploads and cap)") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val revText = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" incremental winnowing revision trailer"))).otherwise(col("text"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0) // v1, original text
    val delta = docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      .withColumn("text", revText) // new docs + re-uploads with CHANGED text
    val updated = docs.withColumn("text", revText) // what the corpus looks like post-delta
    val deltaIds = delta.select("doc_id").as[Long].collect().toSet
    for (cap <- Seq(Int.MaxValue, 12)) {
      val full = Dedup.winnowingPairs(updated, "doc_id", "text",
          k = 12, w = 8, minShared = 2, maxDf = cap)
        .as[(Long, Long, Long)].collect().toSet
      val expected = full.filter(p => deltaIds(p._1) || deltaIds(p._2))
      val got = Dedup.winnowingDeltaPairs(delta, "doc_id", "text",
          Dedup.winnowingIndex(corpus, "doc_id", "text", k = 12, w = 8),
          k = 12, w = 8, minShared = 2, maxDf = cap)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"cap=$cap")
      assert(got.nonEmpty, s"cap=$cap produced no pairs — test data too thin")
    }
  }

  test("indexed winnowing: probe == winnowingDeltaPairs for any cap; append == rebuild; replay idempotent") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val revText = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" indexed winnowing revision trailer"))).otherwise(col("text"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      .withColumn("text", revText)
    val root = java.nio.file.Files.createTempDirectory("graft_widx").toString + "/idx"
    NearDupIndexStore.build(spark, corpus, "doc_id", "text", root, numBuckets = 16,
      winnowing = Some((12, 8)), jaccard = false)
    def win(comp: String) =
      graft.fs.Fs.child(NearDupIndexStore.currentPath(root).get, s"win/$comp")
    val corpusIndex = Dedup.winnowingIndex(corpus, "doc_id", "text", k = 12, w = 8)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    for (cap <- Seq(Int.MaxValue, 12)) {
      val want = pset(Dedup.winnowingDeltaPairs(delta, "doc_id", "text",
        corpusIndex, k = 12, w = 8, minShared = 2, maxDf = cap))
      val got = pset(NearDupIndexStore.winnowingPairsForDelta(spark, root, delta,
        "doc_id", "text", minShared = 2, maxDf = cap))
      assert(got.nonEmpty && got == want, s"cap=$cap")
    }
    // absorb; a second batch probes the advanced index == the delta
    // path over the rebuilt post-replace corpus
    NearDupIndexStore.appendDelta(spark, root, delta, "doc_id", "text")
    val updated = docs.withColumn("text", revText)
    val updatedIndex = Dedup.winnowingIndex(updated, "doc_id", "text", k = 12, w = 8)
    // every component equals its from-scratch rebuild (content pin —
    // the derived census especially)
    def cset(p: String) = graft.sources.PrunedIndex.read(spark, p)
      .as[(Long, Long)].collect().toSet
    assert(cset(win("byid")) ==
      updatedIndex.as[(Long, Long)].collect().toSet)
    assert(cset(win("dfcensus")) ==
      updatedIndex.groupBy(col("fp")).count()
        .as[(Long, Long)].collect().toSet)
    val delta2 = docs.filter(col("doc_id") % 11 === 3)
      .select((col("doc_id") + 700000).as("doc_id"), col("text"))
    for (cap <- Seq(Int.MaxValue, 12)) {
      assert(pset(NearDupIndexStore.winnowingPairsForDelta(spark, root, delta2,
          "doc_id", "text", minShared = 2, maxDf = cap)) ==
        pset(Dedup.winnowingDeltaPairs(delta2, "doc_id", "text", updatedIndex,
          k = 12, w = 8, minShared = 2, maxDf = cap)), s"cap=$cap (post-append)")
    }
    // replay idempotency: re-running the same append (the recovery
    // action) changes nothing a probe can observe
    NearDupIndexStore.appendDelta(spark, root, delta, "doc_id", "text")
    assert(cset(win("dfcensus")) ==
      updatedIndex.groupBy(col("fp")).count()
        .as[(Long, Long)].collect().toSet)
    assert(pset(NearDupIndexStore.winnowingPairsForDelta(spark, root, delta2,
        "doc_id", "text", minShared = 2, maxDf = 12)) ==
      pset(Dedup.winnowingDeltaPairs(delta2, "doc_id", "text", updatedIndex,
        k = 12, w = 8, minShared = 2, maxDf = 12)))
  }

  test("streaming winnowing: accumulated micro-batch pairs equal the batch run; index == rebuilt") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val common = "spark structured streaming watermarks and stateful aggregation semantics"
    val other = "distributed inverted index maintenance with versioned parquet snapshots"
    val docs = Seq(
      (0L, s"alpha opening words $common and an alpha ending here"),
      (1L, s"beta preamble text $common plus a beta conclusion now"),
      (2L, "gamma text with nothing shared across any other document at all"),
      (3L, s"delta lead-in $common delta trailing words follow here"), // cross-batch pair with 0/1
      (4L, s"epsilon starts $other and epsilon closes the text"),
      (5L, s"zeta begins $other with zeta finishing the passage")      // within-batch pair with 4
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_wstream").toString
    docs.filter($"doc_id" <= 2).write.parquet(s"$dir/in1")
    docs.filter($"doc_id" >= 3).write.parquet(s"$dir/in2")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in*")
    val q = graft.streaming.WinnowingStream.start(
      stream, "doc_id", "text", s"$dir/wh", "win_idx", s"$dir/ckpt",
      k = 12, w = 8, minShared = 2) {
      (pairs, _) => pairs.write.mode("append").parquet(s"$dir/out")
    }
    assert(q.awaitTermination(240000), "stream did not terminate in 240s")
    val streamed = spark.read.parquet(s"$dir/out")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.winnowingPairs(docs, "doc_id", "text",
        k = 12, w = 8, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.exists(p => p._2 == 3L), "expected a cross-batch pair")
    // maintained index equals a from-scratch winnowingIndex
    val cur = graft.sinks.ParquetMergeSink.readCurrent(spark, s"$dir/wh", "win_idx").get
    val rebuilt = Dedup.winnowingIndex(docs, "doc_id", "text", k = 12, w = 8)
    assert(cur.as[(Long, Long)].collect().toSet ==
      rebuilt.as[(Long, Long)].collect().toSet)
    // and answers a fresh delta exactly
    val d6 = Seq((6L, s"eta prefix $common eta suffix closes")).toDF("doc_id", "text")
    val next = Dedup.winnowingDeltaPairs(d6, "doc_id", "text", cur,
        k = 12, w = 8, minShared = 2)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(next.exists(_._2 == 6L) && next.forall(_._2 == 6L))
  }

  test("store-backed streaming winnowing: pairs == batch across a RESTART; store census == rebuild") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val common = "spark structured streaming watermarks and stateful aggregation semantics"
    val other = "distributed inverted index maintenance with versioned parquet snapshots"
    val docs = Seq(
      (0L, s"alpha opening words $common and an alpha ending here"),
      (1L, s"beta preamble text $common plus a beta conclusion now"),
      (2L, "gamma text with nothing shared across any other document at all"),
      (3L, s"delta lead-in $common delta trailing words follow here"),
      (4L, s"epsilon starts $other and epsilon closes the text"),
      (5L, s"zeta begins $other with zeta finishing the passage")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_wstream_idx").toString
    val root = s"$dir/store"
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in*")
      val q = graft.streaming.WinnowingStream.startIndexed(
        stream, "doc_id", "text", root, s"$dir/ckpt",
        k = 12, w = 8, minShared = 2) {
        (pairs, _) => pairs.write.mode("append").parquet(s"$dir/out")
      }
      assert(q.awaitTermination(240000), "stream did not terminate in 240s")
    }
    docs.filter($"doc_id" <= 2).write.parquet(s"$dir/in1")
    run()
    // one version per drained micro-batch (a parquet write may span
    // several part files → several batches); what matters is that a
    // version committed and the restart ADVANCES it
    val v1 = graft.llm.NearDupIndexStore.currentVersion(root)
    assert(v1.nonEmpty)
    docs.filter($"doc_id" >= 3).write.parquet(s"$dir/in2")
    run()  // restart, same checkpoint: only the new file processes
    assert(graft.llm.NearDupIndexStore.currentVersion(root).exists(_ > v1.get))
    val streamed = spark.read.parquet(s"$dir/out")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.winnowingPairs(docs, "doc_id", "text",
        k = 12, w = 8, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.exists(p => p._2 == 3L), "expected a cross-batch pair")
    // committed winnowing components equal a from-scratch rebuild
    val winRoot = graft.fs.Fs.child(
      graft.llm.NearDupIndexStore.currentPath(root).get, "win")
    val rebuilt = Dedup.winnowingIndex(docs, "doc_id", "text", k = 12, w = 8)
    assert(graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(winRoot, "byid"))
        .as[(Long, Long)].collect().toSet ==
      rebuilt.as[(Long, Long)].collect().toSet)
    assert(graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(winRoot, "dfcensus"))
        .as[(Long, Long)].collect().toSet ==
      rebuilt.groupBy(col("fp")).count().as[(Long, Long)].collect().toSet)
    // and the store answers a fresh delta
    val d6 = Seq((6L, s"eta prefix $common eta suffix closes")).toDF("doc_id", "text")
    val next = graft.llm.NearDupIndexStore.winnowingPairsForDelta(
        spark, root, d6, "doc_id", "text", minShared = 2)
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(next.exists(_._2 == 6L) && next.forall(_._2 == 6L))
  }

  test("store-backed streaming winnowing: emissions correct when the append COMMITS before the sink finishes (overlap race)") {
    // the foreachBatch sink and the store append run overlapped (Par);
    // the probe must stay anchored to the version committed BEFORE the
    // batch even when the append wins the race. A deliberately slow
    // sink makes the append commit first deterministically.
    import java.nio.file.Files
    import org.apache.spark.sql.functions.col
    val common = "spark structured streaming watermarks and stateful aggregation semantics"
    val docs = Seq(
      (0L, s"alpha opening words $common and an alpha ending here"),
      (1L, s"beta preamble text $common plus a beta conclusion now"),
      (2L, "gamma text with nothing shared across any other document at all"),
      (3L, s"delta lead-in $common delta trailing words follow here")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_wstream_race").toString
    val root = s"$dir/store"
    docs.filter($"doc_id" <= 2).write.parquet(s"$dir/in1")
    docs.filter($"doc_id" === 3).write.parquet(s"$dir/in2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in*")
    val appendWon = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = graft.streaming.WinnowingStream.startIndexed(
      stream, "doc_id", "text", root, s"$dir/ckpt",
      k = 12, w = 8, minShared = 2) { (pairs, id) =>
      if (id > 0) {
        // batch ≥ 1: the store append runs BESIDE this sink — hold the
        // sink until that append's commit is observable (bounded poll,
        // no fixed sleep), so the probe's output is always evaluated
        // AFTER the successor version exists
        val vBefore = graft.llm.NearDupIndexStore.currentVersion(root).get
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (!appendWon.get() && System.nanoTime() < deadline) {
          if (graft.llm.NearDupIndexStore.currentVersion(root)
              .exists(_ > vBefore)) appendWon.set(true)
          else Thread.sleep(50)
        }
      }
      pairs.write.mode("append").parquet(s"$dir/out")
    }
    assert(q.awaitTermination(240000), "stream did not terminate in 240s")
    val streamed = spark.read.parquet(s"$dir/out")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.winnowingPairs(docs, "doc_id", "text",
        k = 12, w = 8, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    assert(batch.exists(p => p._2 == 3L), "expected a cross-batch pair")
    assert(appendWon.get(),
      "slow sink should observe the overlapped append's commit")
  }

  test("winnowing guarantee: shared substring >= w+k-1 chars yields a shared fingerprint") {
    import graft.functions.expr.Winnowing
    import org.apache.spark.sql.functions.col
    val shared = "abcdefghijklmnopqrs" // 19 = w+k-1 with k=12, w=8
    val df = Seq((1L, s"XX${shared}YY"), (2L, s"QQQQ${shared}ZZZZZ")).toDF("id", "t")
    val fps = df.select(col("id"), Winnowing(col("t"), 12, 8).as("f"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
  }
}
