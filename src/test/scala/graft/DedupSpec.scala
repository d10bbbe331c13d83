package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, NearDupIndexStore => Store}

class DedupSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different text about spark catalyst optimizer internals and codegen"),
    (3L, "THE   Quick Brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0 modulo case/ws
    (4L, "another unrelated document mentioning minhash signatures and lsh banding")
  ).toDF("doc_id", "text")

  test("exactDedup collapses normalized-identical docs, keeps min id") {
    val out = Dedup.exactDedup(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(0L, 1L, 2L, 4L))
  }

  test("exactDupGroups reports the duplicate group") {
    val g = Dedup.exactDupGroups(corpus, "doc_id", "text")
      .select("keep_id", "group_size").as[(Long, Long)].collect()
    assert(g.toSeq == Seq((0L, 2L)))
  }

  test("jaccard join finds the planted near-dup pair and is complete vs brute force") {
    val pairs = Dedup.jaccardNearDupPairs(corpus, "doc_id", "text", n = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 3L)) && pairs.contains((1L, 3L))) // 3 normalizes to 0
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))

    // brute-force oracle on the same tiny corpus
    def shingles(s: String): Set[String] = {
      val t = s.toLowerCase.replaceAll("\\s+", " ").trim.split(" ")
      if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet else Set(t.mkString(" "))
    }
    val docs = corpus.as[(Long, String)].collect()
    val brute = (for {
      (ai, at) <- docs; (bi, bt) <- docs if ai < bi
      sa = shingles(at); sb = shingles(bt)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.5
    } yield (ai, bi)).toSet
    assert(pairs == brute)
  }

  test("minhash LSH finds the high-similarity pairs (verified exactly)") {
    val pairs = Dedup.minHashLshPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    // exact dup pair must always survive banding; near-dup pair at J≈0.86
    // survives with 32 bands of 2 rows w.h.p.
    assert(pairs.contains((0L, 3L)))
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash: identical docs at hamming 0, near-dups close, distinct far") {
    val sigs = Dedup.simHashes(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(0L) == sigs(3L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) < ham(sigs(0L), sigs(2L)))
  }

  test("simhashPairs respects the hamming bound") {
    val pairs = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 3)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.forall(_._3 <= 3))
    assert(pairs.exists(p => (p._1, p._2) == (0L, 3L) && p._3 == 0))
  }

  test("sigHammingDeltaPairs equals the full rebuild restricted to delta-touching pairs (incl. re-uploads)") {
    // v1 = the 5-doc corpus; the delta re-uploads doc 1 with UNRELATED
    // text (its old near-dup signature must be displaced, not matched)
    // and adds 5 (near-dup of 0) and 6 (exact copy of 2)
    val delta = Seq(
      (1L, "totally rewritten upload about watermark tracking and versioned stores"),
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today now"),
      (6L, "completely different text about spark catalyst optimizer internals and codegen")
    ).toDF("doc_id", "text")
    val updated = corpus.filter($"doc_id" =!= 1L).unionByName(delta)
    val deltaIds = Set(1L, 5L, 6L)
    val corpusIdx = Dedup.simHashes(corpus, "doc_id", "text")
    val deltaSigs = Dedup.simHashes(delta, "doc_id", "text")
    for (maxH <- Seq(0, 3, 6)) {
      val full = Dedup.simHashPairs(updated, "doc_id", "text", maxHamming = maxH)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      val expected = full.filter(p => deltaIds(p._1) || deltaIds(p._2))
      val got = Dedup.sigHammingDeltaPairs(deltaSigs, corpusIdx, maxHamming = maxH)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"maxHamming=$maxH")
      assert(got.contains((2L, 6L)), s"maxHamming=$maxH must see the exact-copy pair")
      assert(!got.exists(p => p._1 == 0L && p._2 == 1L),
        s"maxHamming=$maxH: doc 1's STALE near-dup signature must be displaced")
    }
  }

  test("simhashPairs banding is complete: equals brute force at several widths") {
    // pigeonhole banding adapts its key width to the bound
    // (w = 8 - maxHamming chunks); every width must return EXACTLY the
    // brute-force pair set — banding is a pruning strategy, never a
    // recall tradeoff
    val sigs = Dedup.simHashes(corpus, "doc_id", "text")
      .as[(Long, Long)].collect()
    for (maxH <- Seq(0, 3, 6)) {
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= maxH
      } yield (ia, ib)).toSet
      val banded = Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = maxH)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(banded == brute, s"maxHamming=$maxH")
    }
  }

  test("connectedComponents: transitive chains collapse to min id") {
    // two clusters via transitivity + an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(cc(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L).forall(cc(_) == 20L))
    assert(cc.size == 9)
  }

  test("connectedComponents: long path graph converges (log-round stress)") {
    val n = 200
    val pairs = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .as[(Long, Long)].collect()
    assert(cc.length == n + 1)
    assert(cc.forall(_._2 == 0L))
  }

  test("connectedComponents: hub node with 1e5 neighbors (skew stress)") {
    // one boilerplate-style hub: node 5 paired with 100k others — the
    // pathological neighborhood the groupBy+join form absorbs map-side
    // (a window-min would sort the whole neighborhood in one task)
    val hub = spark.range(1, 100001)
      .select((col("id") + 10L).as("a_id"), lit(5L).as("b_id"))
    val cc = Dedup.connectedComponents(hub, "a_id", "b_id")
    assert(cc.count() == 100001L)
    assert(cc.filter(col("rep") =!= 5L).count() == 0L)
  }

  test("connectedComponents: bounded job count per round (no per-round set compare)") {
    // Pin the round mechanics. Under AQE every materialized exchange is
    // its own job, so the budget counts stage-jobs: init (checkpoint +
    // signature) + one round (checkpoint + signature) + the one-time
    // isEmpty certification + the result count land ≈ 18 on a star
    // input (already converged after round 1). The per-round exceptAll
    // + two counts this design replaced added their own shuffle stages
    // EVERY round — reintroducing them blows past the bound on round 1.
    // Suites share one SparkContext and run concurrently, so count only
    // jobs carrying THIS test's job group (local properties propagate
    // from the submitting thread into every job of the measured run,
    // including AQE's materialization jobs) — a raw job census would
    // pick up other suites' work.
    val group = s"cc-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "cc job-count gate")
    try {
      // pin the DISTRIBUTED round mechanics: the driver union-find fast
      // path (which this star would otherwise take) is disabled via the
      // session conf the call reads from its input's session
      val iso = GraftSpark.isolated
      iso.conf.set("spark.graft.cc.maxDriverEdges", "0")
      import iso.implicits._
      val star = (1L to 50L).map(i => (i, 0L)).toDF("a_id", "b_id")
      val cc = Dedup.connectedComponents(star, "a_id", "b_id")
      assert(cc.filter(col("rep") =!= 0L).count() == 0L)
      // listener events are async; actions above have all completed, so
      // a short settle is enough for the job-start events to land
      Thread.sleep(500)
      assert(jobs.get() > 0, "job-group filter matched no jobs — harness broken")
      assert(jobs.get() <= 20, s"expected <=20 jobs for a 1-round graph, got ${jobs.get()}")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("connectedComponents: superseded rounds release their checkpoint blocks") {
    // a 200-node chain takes ~log n small/large-star rounds; each round
    // localCheckpoints — without the explicit unpersist, every round's
    // blocks stay persisted until an eventual JVM GC (measured as a 2×
    // slowdown on repeated large runs in one JVM).
    //
    // Pin on the exact RDD ids THIS call checkpointed, reported by the
    // call itself (Dedup.ccCheckpointIds, a calling-thread collector):
    // any flavor of global getPersistentRDDs diff is unsound under
    // testForkedParallel — concurrent suites share the SparkContext, so
    // foreign persists land inside the diff window (the r15 flake, and
    // its set-based rewrite flaked the same way). Only ids this call
    // created are this call's responsibility; the async round releases
    // get a short poll window.
    val sc = spark.sparkContext
    val created = scala.collection.mutable.Set[Int]()
    Dedup.ccCheckpointIds.set(created)
    val cc =
      try {
        // distributed-loop mechanics under test — disable the driver
        // union-find fast path for this call
        val iso = GraftSpark.isolated
        iso.conf.set("spark.graft.cc.maxDriverEdges", "0")
        import iso.implicits._
        val pairs = (0 until 200).map(i => (i.toLong, (i + 1).toLong)).toDF("a_id", "b_id")
        Dedup.connectedComponents(pairs, "a_id", "b_id")
      } finally Dedup.ccCheckpointIds.remove()
    assert(cc.count() == 201)
    assert(created.size >= 3, s"harness broken: a 200-node chain must take " +
      s"several checkpointed rounds, recorded only $created")
    def stillPersisted: Set[Int] =
      sc.getPersistentRDDs.keySet.toSet.intersect(created.toSet)
    // only the final converged edge set may remain persisted; poll up
    // to ~5 s for the async unpersists of superseded rounds to land
    val deadline = System.nanoTime() + 5000000000L
    var leaked = stillPersisted
    while (leaked.size > 1 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      leaked = stillPersisted
    }
    assert(leaked.size <= 1,
      s"leaked checkpoints: round RDD ids still persisted after 5 s: $leaked of $created")
  }

  test("connectedComponents: driver union-find fast path equals the distributed loop") {
    // the r21 fast path resolves broadcast-sized edge sets on the
    // driver; its (id, rep) output must be row-identical to the
    // small-star/large-star loop on the same graph — chains, a star,
    // an isolated pair, duplicates and reversed orientations included
    val edges = ((0 until 60).map(i => (i.toLong, (i + 1).toLong)) ++
      (100L to 140L).map(i => (i, 99L)) ++
      Seq((200L, 201L), (201L, 200L), (7L, 3L))).toSeq
    val driver = Dedup.connectedComponents(edges.toDF("a_id", "b_id"), "a_id", "b_id")
      .as[(Long, Long)].collect().toSet
    val iso = GraftSpark.isolated
    iso.conf.set("spark.graft.cc.maxDriverEdges", "0")
    import iso.implicits._
    val dist = Dedup.connectedComponents(edges.toDF("a_id", "b_id"), "a_id", "b_id")
      .as[(Long, Long)].collect().toSet
    assert(driver == dist)
    assert(driver.nonEmpty && driver.count(_._2 == 0L) == 61) // 61-node chain; {7,3} already in it
  }

  test("connectedComponents: reversed/duplicate/self pairs are harmless") {
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 2L), (3L, 2L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dedupByPairs keeps cluster representatives and untouched docs") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "solo"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs, "a_id", "b_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 9L))
  }

  test("exactDeltaDups: delta matches against the corpus fingerprint index only") {
    val index = Dedup.fingerprintIndex(corpus, "doc_id", "text")
    val delta = Seq(
      (100L, "The   QUICK brown fox jumps over the lazy dog near the river bank today"), // dup of 0 and 3
      (101L, "a genuinely novel document no corpus entry matches")
    ).toDF("doc_id", "text")
    val dups = Dedup.exactDeltaDups(delta, "doc_id", "text", index)
      .as[(Long, Long)].collect().toSet
    assert(dups == Set((100L, 0L), (100L, 3L)))
  }

  test("minHashDeltaPairs equals the full self-join restricted to delta-touching pairs") {
    val delta = corpus.filter(col("doc_id") % 2 === 0)      // 0, 2, 4
    val rest = corpus.filter(col("doc_id") % 2 =!= 0)       // 1, 3
    val index = Dedup.minHashBandIndex(rest, "doc_id", "text", n = 3, numHashes = 64, bands = 32)

    val incremental = Dedup.minHashDeltaPairs(delta, rest, index, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

    val deltaIds = Set(0L, 2L, 4L)
    val fullTouchingDelta = Dedup.minHashLshPairs(corpus, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      .filter(p => deltaIds.contains(p._1) || deltaIds.contains(p._2))

    assert(incremental == fullTouchingDelta)
    assert(incremental.contains((0L, 1L)) && incremental.contains((0L, 3L)))
    // corpus-internal pair (1,3) must NOT be produced by a delta run
    assert(!incremental.contains((1L, 3L)))
  }

  test("jaccardDeltaPairs equals the full self-join restricted to delta-touching pairs") {
    val delta = corpus.filter(col("doc_id") % 2 === 0)      // 0, 2, 4
    val rest = corpus.filter(col("doc_id") % 2 =!= 0)       // 1, 3
    val index = Dedup.containmentIndex(rest, "doc_id", "text", n = 3)

    val incremental = Dedup.jaccardDeltaPairs(delta, "doc_id", "text", index,
        n = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

    val deltaIds = Set(0L, 2L, 4L)
    val full = Dedup.jaccardNearDupPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(incremental == full.filter(p => deltaIds.contains(p._1) || deltaIds.contains(p._2)))
    assert(incremental.contains((0L, 1L)) && incremental.contains((0L, 3L)))
    // stored old pairs ∪ delta pairs reproduce the rebuild exactly
    val oldPairs = Dedup.jaccardNearDupPairs(rest, "doc_id", "text",
        n = 3, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert((oldPairs ++ incremental) == full)
    Dedup.releaseContainmentDeltaCache(delta, "doc_id", "text", index, 3)
  }

  test("jaccardDeltaPairs on the documents corpus: old pairs + delta pairs == rebuild") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = d.filter(col("doc_id") % 4 =!= 3)
    val delta = d.filter(col("doc_id") % 4 === 3)
    val index = Dedup.containmentIndex(old, "doc_id", "text", n = 3)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val oldPairs = pset(Dedup.jaccardNearDupPairs(old, "doc_id", "text"))
    val deltaPairs = pset(Dedup.jaccardDeltaPairs(delta, "doc_id", "text", index))
    val full = pset(Dedup.jaccardNearDupPairs(d, "doc_id", "text"))
    assert(deltaPairs.nonEmpty && (oldPairs ++ deltaPairs) == full)
    Dedup.releaseShingleSetCache(old, "doc_id", "text")
    Dedup.releaseShingleSetCache(d, "doc_id", "text")
    Dedup.releaseContainmentDeltaCache(delta, "doc_id", "text", index, 3)
  }

  test("persisted near-dup index: probe == delta path, append == rebuild, replace displaces, refreeze preserves") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // corpus v0: %8==5 docs not yet arrived; %8==1 docs carry a draft
    import org.apache.spark.sql.functions.{when, concat, substring}
    val v0 = d.filter(col("doc_id") % 8 =!= 5).withColumn("text",
      when(col("doc_id") % 8 === 1,
        concat(lit("obsolete draft placeholder revision "), substring(col("text"), 1, 48)))
        .otherwise(col("text")))
    // batch 1 mixes re-uploads (%8==1, corrected) and new ids (%8==5)
    val delta1 = d.filter(col("doc_id") % 8 === 1 || col("doc_id") % 8 === 5)
    val root = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    Store.build(spark, v0, "doc_id", "text", root, numBuckets = 16)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    def probe(d: org.apache.spark.sql.DataFrame) =
      pset(Store.pairsForDelta(spark, root, d, "doc_id", "text"))
    val indexed1 = probe(delta1)
    val v0Index = Dedup.containmentIndex(v0, "doc_id", "text", n = 3)
    val ref1 = pset(Dedup.jaccardDeltaPairs(delta1, "doc_id", "text", v0Index))
    assert(indexed1.nonEmpty && indexed1 == ref1)

    // absorb batch 1; a later batch's probe must equal the delta path
    // over the rebuilt post-replace corpus (= the true `documents`)
    Store.appendDelta(spark, root, delta1, "doc_id", "text")
    val delta2 = d.filter(col("doc_id") % 8 === 2)
    val indexed2 = probe(delta2)
    val dIndex = Dedup.containmentIndex(d, "doc_id", "text", n = 3)
    val ref2 = pset(Dedup.jaccardDeltaPairs(delta2, "doc_id", "text", dIndex))
    assert(indexed2.nonEmpty && indexed2 == ref2)
    // no stale residue: no pair involves a %8==1 id at its draft text's
    // signature — equality with ref2 (computed from true text) is the pin

    // replay idempotency: re-running the SAME append (the recovery
    // action after a crashed batch) changes nothing a probe can observe
    Store.appendDelta(spark, root, delta1, "doc_id", "text")
    assert(probe(delta2) == indexed2)

    // refreeze re-derives the head + prefix layout from the stored sets
    // (different order, same exact pair SET — verification is exact)
    Store.compact(spark, root, refreeze = true)
    assert(probe(delta2) == indexed2)

    Seq(delta1, delta2, v0, d).foreach(Dedup.releaseShingleSetCache(_, "doc_id", "text"))
    Dedup.releaseContainmentDeltaCache(delta1, "doc_id", "text", v0Index, 3)
    Dedup.releaseContainmentDeltaCache(delta2, "doc_id", "text", dIndex, 3)
  }

  test("unified index: containmentDeltaPairsIndexed == containmentDeltaPairs, capped and uncapped, with re-uploads; append == rebuild") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = d.select(col("doc_id"), col("text"))
    // the t123 scenario: half-prefix quotes (contained) + re-uploaded
    // revisions (the %7 docs get a trailer — their stored rows displace)
    val halves = d.filter(col("doc_id") < 50).select(
      (col("doc_id") + 200000).as("doc_id"),
      org.apache.spark.sql.functions.expr(
        "substring(text, 1, cast(n_chars div 2 as int))").as("text"))
    val revs = d.filter(col("doc_id") % 7 === 0).select(col("doc_id"),
      org.apache.spark.sql.functions.concat(col("text"),
        lit(" containment rev2 trailer")).as("text"))
    val delta = halves.unionByName(revs)
    val root = java.nio.file.Files.createTempDirectory("graft_ctidx").toString
    Store.build(spark, corpus, "doc_id", "text", root, numBuckets = 16,
      withContainment = true)
    val corpusIndex = Dedup.containmentIndex(corpus, "doc_id", "text", n = 3)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_id"), col("b_id"),
          org.apache.spark.sql.functions.floor(col("containment") * 1e6).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    // CAPPED: the indexed path reconstructs the post-delta order and
    // hot set exactly — bit-for-bit the batch algorithm's output
    val capped = pset(Store.containmentPairsForDelta(spark, root, delta,
      "doc_id", "text", maxDf = 16))
    assert(capped.nonEmpty && capped ==
      pset(Dedup.containmentDeltaPairs(delta, "doc_id", "text", corpusIndex,
        maxDf = 16)))
    // UNCAPPED parity too
    assert(pset(Store.containmentPairsForDelta(spark, root, delta,
        "doc_id", "text")) ==
      pset(Dedup.containmentDeltaPairs(delta, "doc_id", "text", corpusIndex)))
    // absorb, then a SECOND batch probes the advanced index == the
    // batch path over the rebuilt corpus
    Store.appendDelta(spark, root, delta, "doc_id", "text")
    val merged = corpus.filter(col("doc_id") % 7 =!= 0)
      .unionByName(delta)
    val delta2 = d.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") + 400000).as("doc_id"),
        org.apache.spark.sql.functions.expr(
          "substring(text, 1, cast(n_chars div 2 as int))").as("text"))
    val mergedIndex = Dedup.containmentIndex(merged, "doc_id", "text", n = 3)
    assert(pset(Store.containmentPairsForDelta(spark, root, delta2,
        "doc_id", "text", maxDf = 16)) ==
      pset(Dedup.containmentDeltaPairs(delta2, "doc_id", "text", mergedIndex,
        maxDf = 16)))
    Dedup.releaseContainmentDeltaCache(delta, "doc_id", "text", corpusIndex, 3)
    Dedup.releaseContainmentDeltaCache(delta2, "doc_id", "text", mergedIndex, 3)
    Seq(delta, delta2).foreach(Store.releaseProbeCache(root, _, "doc_id", "text"))
    Dedup.releaseShingleSetCache(corpus, "doc_id", "text")
    spark.catalog.clearCache()
  }

  test("containment census head: truncated-head probes == batch, append head == rebuild head, mass-deletion falls back exactly") {
    // The r17 verdict item #2: the indexed containment probe must not
    // scan the full census per batch. The maintained head (cthead) is
    // the replacement state; this pins its three regimes against the
    // batch algorithm / a from-scratch rebuild: (a) truncated head
    // (census >> K) on a growth batch — the incremental merge's floor
    // bound holds; (b) append-side maintenance — the persisted head
    // equals a fresh build's over the merged corpus, ORDER included;
    // (c) a mass-deletion batch that demotes head entries past the
    // floor — the full-scan fallback engages and stays exact.
    import org.apache.spark.sql.functions.floor
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = d.filter(col("doc_id") % 4 =!= 3).select(col("doc_id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("graft_cthead").toString
    val K = 64
    Store.build(spark, corpus, "doc_id", "text", root, dfHeadSize = K,
      numBuckets = 16, withContainment = true)
    def cur = Store.currentPath(root).get
    // the head really is truncated at this K (meta line 2 == 0)
    assert(graft.fs.Fs.readString(s"$cur/_CTHEAD_META").split("\n")(1).trim == "0")
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_id"), col("b_id"),
          floor(col("containment") * 1e6).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    // (a) growth batch: new quotes + re-uploads, probed at the same K
    val grow = d.filter(col("doc_id") % 4 === 3)
      .select((col("doc_id") + 200000).as("doc_id"),
        org.apache.spark.sql.functions.expr(
          "substring(text, 1, cast(n_chars div 2 as int))").as("text"))
      .unionByName(d.filter(col("doc_id") % 8 === 0).select(col("doc_id"),
        org.apache.spark.sql.functions.concat(col("text"),
          lit(" cthead rev2 trailer")).as("text")))
    val corpusIndex = Dedup.containmentIndex(corpus, "doc_id", "text", n = 3)
    val got = pset(Store.containmentPairsForDelta(spark, root, grow,
      "doc_id", "text", maxDf = 16, dfHeadSize = K))
    assert(got.nonEmpty && got == pset(Dedup.containmentDeltaPairs(grow,
      "doc_id", "text", corpusIndex, dfHeadSize = K, maxDf = 16)))
    // (b) append: the maintained head == a from-scratch build's head
    Store.appendDelta(spark, root, grow, "doc_id", "text")
    val merged = corpus.filter(col("doc_id") % 8 =!= 0).unionByName(grow)
    val refRoot = java.nio.file.Files.createTempDirectory("graft_ctheadref").toString
    Dedup.writeContainmentIndex(spark, merged, "doc_id", "text", refRoot,
      dfHeadSize = K, numBuckets = 16)
    def headOf(r: String) = spark.read.parquet(s"$r/cthead")
      .as[(String, Long)].collect().toSet
    assert(headOf(cur) == headOf(refRoot) && headOf(cur).nonEmpty)
    assert(graft.fs.Fs.readString(s"$cur/_CTHEAD_META") ==
      graft.fs.Fs.readString(s"$refRoot/_CTHEAD_META"))
    // (c) mass deletion: re-upload half the corpus as one-token stubs —
    // enough head shingles demote that the floor bound cannot certify
    // the merge; the fallback full scan must keep the head (and the
    // capped pairs) exactly equal to the batch algorithm's
    val kill = merged.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), lit("stub").as("text"))
    val mergedIndex = Dedup.containmentIndex(merged, "doc_id", "text", n = 3)
    assert(pset(Store.containmentPairsForDelta(spark, root, kill,
        "doc_id", "text", maxDf = 16, dfHeadSize = K)) ==
      pset(Dedup.containmentDeltaPairs(kill, "doc_id", "text", mergedIndex,
        dfHeadSize = K, maxDf = 16)))
    Store.appendDelta(spark, root, kill, "doc_id", "text")
    val killed = merged.filter(col("doc_id") % 2 =!= 0).unionByName(kill)
    val refRoot2 = java.nio.file.Files.createTempDirectory("graft_ctheadref2").toString
    Dedup.writeContainmentIndex(spark, killed, "doc_id", "text", refRoot2,
      dfHeadSize = K, numBuckets = 16)
    assert(headOf(cur) == headOf(refRoot2))
    Seq(grow, kill).foreach(Store.releaseProbeCache(root, _, "doc_id", "text"))
    Dedup.releaseContainmentDeltaCache(grow, "doc_id", "text", corpusIndex, 3)
    Dedup.releaseContainmentDeltaCache(kill, "doc_id", "text", mergedIndex, 3)
    spark.catalog.clearCache()
  }

  test("indexed minhash: probe == minHashDeltaPairs incl. re-uploads; append == rebuild; replay idempotent") {
    import org.apache.spark.sql.functions.{concat, when}
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val revText = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" indexed minhash revision trailer"))).otherwise(col("text"))
    val corpus0 = d.filter(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
    val delta = d.filter(col("doc_id") % 5 === 0 || col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text")).withColumn("text", revText)
    val root = java.nio.file.Files.createTempDirectory("graft_mhidx").toString + "/idx"
    Store.build(spark, corpus0, "doc_id", "text", root, numBuckets = 16,
      minhash = Some((64, 32)))
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select(col("a_id"), col("b_id"),
          org.apache.spark.sql.functions.floor(col("jaccard") * 1e6).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val got = pset(Store.minhashPairsForDelta(spark, root, delta,
      "doc_id", "text", threshold = 0.5))
    val want = pset(Dedup.minHashDeltaPairs(delta, corpus0,
      Dedup.minHashBandIndex(corpus0, "doc_id", "text", n = 3, numHashes = 64, bands = 32),
      "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5))
    assert(got.nonEmpty && got == want)
    // absorb (the old-revision band keys derive from the pre-append
    // sets), then a second batch probes the advanced index == the delta
    // path over the rebuilt corpus
    Store.appendDelta(spark, root, delta, "doc_id", "text")
    val updated = d.select(col("doc_id"), col("text")).withColumn("text", revText)
    // band component content == a from-scratch banding of the corpus
    def bandsOf(p: String) = graft.sources.PrunedIndex.read(spark, p)
      .select(col("id"), col("band"), col("bkey"))
      .as[(Long, Int, Int)].collect().toSet
    assert(bandsOf(graft.fs.Fs.child(Store.currentPath(root).get, "bands")) ==
      Dedup.minHashBandIndex(updated, "doc_id", "text", n = 3, numHashes = 64, bands = 32)
        .select(col("id"), col("band"), col("bkey"))
        .as[(Long, Int, Int)].collect().toSet)
    val delta2 = d.filter(col("doc_id") % 11 === 3)
      .select((col("doc_id") + 800000).as("doc_id"), col("text"))
    def secondProbe() = pset(Store.minhashPairsForDelta(spark, root, delta2,
      "doc_id", "text", threshold = 0.5))
    val want2 = pset(Dedup.minHashDeltaPairs(delta2, updated,
      Dedup.minHashBandIndex(updated, "doc_id", "text", n = 3, numHashes = 64, bands = 32),
      "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5))
    assert(secondProbe().nonEmpty && secondProbe() == want2)
    // replay idempotency: re-running the same append (recovery)
    // changes nothing a probe can observe
    Store.appendDelta(spark, root, delta, "doc_id", "text")
    assert(secondProbe() == want2)
    Seq(delta, delta2).foreach(Store.releaseProbeCache(root, _, "doc_id", "text"))
    Seq(corpus0, updated).foreach(Dedup.releaseShingleSetCache(_, "doc_id", "text"))
    spark.catalog.clearCache()
  }

  test("embedding near-dup pairs on constructed vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),  // ~0.995 cosine to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
      (3L, Array(0.0f, 0.0f, 0.0f))    // zero vector: guarded, cos = 0
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("pair-generator storage is bounded: repeated calls reuse one cache entry, release frees it") {
    // Assert through Dataset.storageLevel (a canonicalized-plan lookup
    // in the session's cache manager) rather than a global
    // getPersistentRDDs census: suites run concurrently in this JVM, so
    // a global RDD-id diff picks up other suites' blocks. Plan-equality
    // lookup also IS the "one entry" guarantee: the second call's
    // persist resolves to the same cache entry, and release unpersists
    // it for every handle.
    import org.apache.spark.storage.StorageLevel
    // "action must cache" checks retry once: several suites call
    // spark.catalog.clearCache() and CacheManager is SharedState-wide,
    // so under testForkedParallel a concurrent suite can wipe the entry
    // between the call and the lookup (observed as the r20 full-suite
    // flake). One retry re-caches; the contract under test (the call
    // persists its plan; release frees it) is unchanged. The == NONE
    // direction cannot race this way — no other suite builds a
    // plan-equal frame to re-cache.
    def assertCaches(action: => Unit, lvl: () => StorageLevel, hint: String): Unit = {
      action
      if (lvl() == StorageLevel.NONE) action
      assert(lvl() != StorageLevel.NONE, hint)
    }
    def simLvl() = Dedup.simHashes(corpus, "doc_id", "text").storageLevel
    Dedup.releaseSimHashCache(corpus, "doc_id", "text") // earlier tests may have cached
    assert(simLvl() == StorageLevel.NONE)
    assertCaches(Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 3).count(): Unit,
      simLvl _, "first call must cache the signature table")
    assertCaches(Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 3).count(): Unit,
      simLvl _, "second call must resolve to the cached signature table")
    Dedup.releaseSimHashCache(corpus, "doc_id", "text")
    assert(simLvl() == StorageLevel.NONE, "releaseSimHashCache left the entry cached")

    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def lshLvl() = Dedup.signSketched(vecs, "vec_id", "embedding",
      numBits = 32, seed = 42L).storageLevel
    assert(lshLvl() == StorageLevel.NONE)
    assertCaches(Dedup.embeddingNearDupLsh(vecs, "vec_id", "embedding", 0.9).count(): Unit,
      lshLvl _, "first call must cache the sketch table")
    assertCaches(Dedup.embeddingNearDupLsh(vecs, "vec_id", "embedding", 0.9).count(): Unit,
      lshLvl _, "second call must resolve to the cached sketch table")
    Dedup.releaseEmbeddingLshCache(vecs, "vec_id", "embedding")
    assert(lshLvl() == StorageLevel.NONE, "releaseEmbeddingLshCache left the entry cached")

    // shingle-set cache: Jaccard, containment and MinHash-LSH share the
    // containmentIndex plan, so all three land in ONE entry and one
    // release frees it
    def shLvl() = Dedup.containmentIndex(corpus, "doc_id", "text", 3).storageLevel
    Dedup.releaseShingleSetCache(corpus, "doc_id", "text", 3)
    assert(shLvl() == StorageLevel.NONE)
    assertCaches(Dedup.jaccardNearDupPairs(corpus, "doc_id", "text", n = 3, threshold = 0.8).count(): Unit,
      shLvl _, "jaccard call must cache the shingle sets")
    assertCaches({
      Dedup.containmentPairs(corpus, "doc_id", "text", n = 3, threshold = 0.8).count()
      Dedup.minHashLshPairs(corpus, "doc_id", "text", n = 3).count(): Unit
    }, shLvl _, "containment/minhash calls must share the shingle-set entry")
    Dedup.releaseShingleSetCache(corpus, "doc_id", "text", 3)
    assert(shLvl() == StorageLevel.NONE, "releaseShingleSetCache left the entry cached")

    // incremental forms: the per-batch merged plans must be releasable
    // too (a streaming caller creates a distinct plan per batch — these
    // are exactly the entries that would otherwise accumulate)
    val half = corpus.filter($"doc_id" % 2 === 0)
    val rest = corpus.filter($"doc_id" % 2 =!= 0)
    val cIdx = Dedup.containmentIndex(half, "doc_id", "text", 3)
    // reconstruct the merged plan the delta call persists, to observe
    // its storage level (same construction ⇒ same canonicalized plan)
    def cMergedLvl() = cIdx
      .join(org.apache.spark.sql.functions.broadcast(
        rest.select($"doc_id".as("id")).distinct()), Seq("id"), "left_anti")
      .unionByName(Dedup.containmentIndex(rest, "doc_id", "text", 3))
      .storageLevel
    assertCaches(Dedup.containmentDeltaPairs(rest, "doc_id", "text", cIdx,
      n = 3, threshold = 0.8).count(): Unit,
      cMergedLvl _, "delta call must cache the merged index")
    Dedup.releaseContainmentDeltaCache(rest, "doc_id", "text", cIdx, n = 3)
    assert(cMergedLvl() == StorageLevel.NONE, "releaseContainmentDeltaCache left the entry cached")
    val sIdx = Dedup.simHashes(half, "doc_id", "text").select($"id", $"sig")
    val sDelta = Dedup.simHashes(rest, "doc_id", "text").select($"id", $"sig")
    def sMergedLvl() = sIdx
      .join(org.apache.spark.sql.functions.broadcast(sDelta.select($"id").distinct()),
        Seq("id"), "left_anti")
      .withColumn("d", org.apache.spark.sql.functions.lit(false))
      .unionByName(sDelta.select($"id", $"sig")
        .withColumn("d", org.apache.spark.sql.functions.lit(true)))
      .storageLevel
    assertCaches(Dedup.sigHammingDeltaPairs(sDelta, sIdx, maxHamming = 3).count(): Unit,
      sMergedLvl _, "sig delta call must cache the merged index")
    Dedup.releaseSigHammingDeltaCache(sDelta, sIdx)
    assert(sMergedLvl() == StorageLevel.NONE, "releaseSigHammingDeltaCache left the entry cached")
    Dedup.releaseSimHashCache(half, "doc_id", "text")
    Dedup.releaseSimHashCache(rest, "doc_id", "text")
    Dedup.releaseShingleSetCache(half, "doc_id", "text", 3)
    Dedup.releaseShingleSetCache(rest, "doc_id", "text", 3)
  }

  test("semDedupDeltaPairs equals the fixed-centroid full run restricted to delta-touching pairs") {
    import graft.llm.Similarity
    // two clear semantic clusters + one singleton, split corpus/delta so
    // the delta has near-dups against the corpus, within itself, and a
    // corpus-internal pair that must NOT surface
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),    // near 0 (corpus-internal pair)
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.05f, 0.99f, 0.0f)),   // near 2
      (4L, Array(0.0f, 0.0f, 1.0f)),     // singleton
      (10L, Array(0.98f, 0.05f, 0.0f)),  // delta: near 0/1
      (11L, Array(0.97f, 0.08f, 0.0f)),  // delta: near 0/1/10 (within-delta pair too)
      (12L, Array(0.0f, 0.98f, 0.1f))    // delta: near 2/3
    ).toDF("vec_id", "embedding")
    val delta = vecs.filter(col("vec_id") >= 10L)
    val corpus = vecs.filter(col("vec_id") < 10L)

    val cIdx = Similarity.kMeansIndex(corpus, "vec_id", "embedding", k = 3, iters = 3)
    val cells = Dedup.semDedupCellIndex(corpus, "vec_id", "embedding", cIdx)
    val incremental = Dedup.semDedupDeltaPairs(delta, corpus, cIdx, cells,
        "vec_id", "embedding", minCos = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet

    val deltaIds = Set(10L, 11L, 12L)
    val fullTouchingDelta = Dedup.semDedupPairsWithCentroids(vecs, "vec_id", "embedding",
        Similarity.centroidsOf(cIdx), minCos = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      .filter(p => deltaIds.contains(p._1) || deltaIds.contains(p._2))

    assert(incremental == fullTouchingDelta)
    assert(incremental.contains((10L, 11L)))            // within-delta
    assert(incremental.exists(p => p._1 < 10L && p._2 >= 10L)) // delta-vs-corpus
    // corpus-internal pair (0,1) must NOT be produced by a delta run
    assert(!incremental.contains((0L, 1L)))
  }

  test("semDedupDeltaPairs with a doc on both sides emits no self-pair or duplicate") {
    import graft.llm.Similarity
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.98f, 0.1f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    // delta re-delivers doc 1 (the reference's redelivery case) + one new
    val delta = Seq(
      (1L, Array(0.98f, 0.1f)), (3L, Array(0.99f, 0.05f))
    ).toDF("vec_id", "embedding")
    val cIdx = Similarity.kMeansIndex(corpus, "vec_id", "embedding", k = 2, iters = 2)
    val cells = Dedup.semDedupCellIndex(corpus, "vec_id", "embedding", cIdx)
    val rows = Dedup.semDedupDeltaPairs(delta, corpus, cIdx, cells,
        "vec_id", "embedding", minCos = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(rows.forall(p => p._1 < p._2), s"self or misordered pair in $rows")
    assert(rows.distinct == rows, s"duplicate pair in $rows")
    // the redelivered doc still pairs with the corpus (via the intra path
    // against corpus member 0 is cross; 1-vs-0 touches delta id 1)
    assert(rows.contains((0L, 1L)) && rows.contains((1L, 3L)) && rows.contains((0L, 3L)))
  }

  test("stripBoilerplate removes corpus-frequent lines, keeps unique ones") {
    val docs = Seq(
      (1L, "cookie banner\nreal content one\ncookie banner\nfooter text"),
      (2L, "cookie banner\nreal content two\nfooter text"),
      (3L, "cookie banner\nunique stuff"),
      (4L, "totally original document")
    ).toDF("doc_id", "text")
    // "cookie banner" in 3 docs, "footer text" in 2 → at minDocs=3 only
    // the banner is boilerplate; BOTH its occurrences in doc 1 drop
    val freq = Dedup.boilerplateLines(docs, "doc_id", "text", minDocs = 3)
      .select("n_docs").as[Long].collect().toSeq
    assert(freq == Seq(3L))
    val out = Dedup.stripBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .select("doc_id", "text", "n_lines_dropped")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, "real content one\nfooter text", 2L),
      (2L, "real content two\nfooter text", 1L),
      (3L, "unique stuff", 1L),
      (4L, "totally original document", 0L)))
    // schema: original columns + the drop counter, textCol rewritten
    assert(Dedup.stripBoilerplate(docs, "doc_id", "text", minDocs = 3).columns.toSeq
      == Seq("doc_id", "text", "n_lines_dropped"))
  }

  test("stripBoilerplate at minDocs above every count is the identity") {
    val docs = Seq((1L, "a\nb"), (2L, "a\nc")).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(docs, "doc_id", "text", minDocs = 5)
      .select("doc_id", "text", "n_lines_dropped")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "a\nb", 0L), (2L, "a\nc", 0L)))
  }

  test("scrubDupSpans: canonical doc keeps the span, later docs lose it") {
    // docs 1 and 2 share the 4-token window "p q r s"; doc 1 (min id)
    // is canonical and unchanged, doc 2 loses exactly those 4 tokens
    val docs = Seq(
      (1L, "p q r s alpha beta"),
      (2L, "gamma p q r s delta"),
      (3L, "totally unrelated text here")).toDF("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs, "doc_id", "text", k = 4, minDocs = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 6L, 0L, "p q r s alpha beta"),
      (2L, 6L, 4L, "gamma delta"),
      (3L, 4L, 0L, "totally unrelated text here")))
  }

  test("scrubDupSpans: overlapping duplicated windows remove their union once") {
    // docs share the 5-token run "a b c d e" → two overlapping 4-token
    // windows in doc 2; their union (5 tokens) is removed, not 8
    val docs = Seq(
      (1L, "a b c d e tail1"),
      (2L, "head a b c d e")).toDF("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs, "doc_id", "text", k = 4, minDocs = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 6L, 0L, "a b c d e tail1"),
      (2L, 6L, 5L, "head")))
  }

  test("scrubDupSpans: docs shorter than k and singleton windows pass through") {
    val docs = Seq(
      (1L, "x y"),
      (2L, "only in this doc once ever written down")).toDF("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs, "doc_id", "text", k = 4, minDocs = 2)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out.map(_._3).forall(_ == 0L))
    assert(out.map(_._4) == Seq("x y", "only in this doc once ever written down"))
  }

  // ---- fuzzyKeyPairs -------------------------------------------------

  private val fuzzyDocs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river today"),
    (1L, "the quick brown fox jumps over the hazy dog near the river today"), // 1 char off 0
    (2L, "the quick brown fox jumps over the lazy dot near the rivet today"), // 2 chars off 0
    (3L, "a totally different document about catalyst optimizer internals"),
    (4L, "the quick brown fox jumps over the lazy dog near the river today"), // exact dup of 0
    (5L, "short"), // '#'-padded key
    (6L, "shore")  // hamming 2 from 5 after padding
  ).toDF("doc_id", "text")

  test("fuzzyKeyPairs pigeonhole banding equals brute-force hamming at several maxDist") {
    import graft.functions.TextFunctions.normalizeText
    import org.apache.spark.sql.functions.{rpad, substring}
    for (maxDist <- Seq(1, 3, 7)) {
      val keyed = fuzzyDocs.select(col("doc_id"),
        rpad(substring(normalizeText(col("text")), 1, 64), 64, "#").as("key"))
      val brute = keyed.as("a").join(keyed.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
          Dedup.hammingFixed(col("a.key"), col("b.key"), 64).as("dist"))
        .filter(col("dist") <= maxDist)
        .as[(Long, Long, Long)].collect().toSet
      val banded = Dedup.fuzzyKeyPairs(fuzzyDocs, "doc_id", "text", 64, maxDist)
        .as[(Long, Long, Long)].collect().toSet
      assert(banded == brute, s"maxDist=$maxDist: $banded vs brute $brute")
      assert(banded.nonEmpty)
    }
  }

  test("fuzzyKeyPairs: exact dup is dist 0, one-char edit dist 1, padding compares") {
    val out = Dedup.fuzzyKeyPairs(fuzzyDocs, "doc_id", "text", 64, 3)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((0L, 4L)) == 0L)
    assert(out((0L, 1L)) == 1L)
    assert(out((1L, 4L)) == 1L)
    assert(out((0L, 2L)) == 2L)
    assert(out((5L, 6L)) == 1L) // 'short'/'shore': only pos 5 differs after '#'-padding
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("fuzzyKeyDeltaPairs equals the full self-join restricted to delta-touching pairs") {
    val corpus = fuzzyDocs.filter($"doc_id" <= 3)
    val delta = fuzzyDocs.filter($"doc_id" >= 4)
    val idx = Dedup.fuzzyKeyIndex(corpus, "doc_id", "text", 64, 3)
    val got = Dedup.fuzzyKeyDeltaPairs(delta, "doc_id", "text", idx, 64, 3)
      .as[(Long, Long, Long)].collect().toSet
    val deltaIds = Set(4L, 5L, 6L)
    val want = Dedup.fuzzyKeyPairs(fuzzyDocs, "doc_id", "text", 64, 3)
      .as[(Long, Long, Long)].collect().toSet
      .filter(p => deltaIds.contains(p._1) || deltaIds.contains(p._2))
    assert(got == want && got.nonEmpty)
    // cross pairs (0,4) dist 0 and within-delta (5,6) dist 1 both present
    assert(got.contains((0L, 4L, 0L)) && got.contains((5L, 6L, 1L)))
  }

  test("fuzzyKeyDeltaPairs ignores stale index keys of docs re-uploaded in the delta") {
    // The delta both REVISES doc 4 (which the index still holds under
    // its old key, an exact dup of doc 0) and adds doc 9 whose text
    // matches that old key. Probing the index without excluding delta
    // ids would pair 9 against 4's superseded revision (spurious
    // (4,9,0) with the stale key) alongside the within-delta 9-vs-new-4
    // non-pair — conflicting rows distinct() can't collapse.
    val idx = Dedup.fuzzyKeyIndex(fuzzyDocs, "doc_id", "text", 64, 3)
    val delta = Seq(
      (4L, "a completely rewritten document with nothing in common anymore"),
      (9L, "the quick brown fox jumps over the lazy dog near the river today")
    ).toDF("doc_id", "text")
    val got = Dedup.fuzzyKeyDeltaPairs(delta, "doc_id", "text", idx, 64, 3)
      .as[(Long, Long, Long)].collect().toSet
    val deltaIds = Set(4L, 9L)
    val want = Dedup.fuzzyKeyPairs(
        fuzzyDocs.filter($"doc_id" =!= 4L).unionByName(delta), "doc_id", "text", 64, 3)
      .as[(Long, Long, Long)].collect().toSet
      .filter(p => deltaIds.contains(p._1) || deltaIds.contains(p._2))
    assert(got == want)
    assert(got.contains((0L, 9L, 0L)))
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L),
      s"stale revision of doc 4 leaked into pairs: $got")
  }

  test("indexed fuzzy-key: probe == fuzzyKeyDeltaPairs incl. re-uploads; append == rebuild; replay idempotent") {
    val corpus = fuzzyDocs.filter($"doc_id" <= 3)
    val root = java.nio.file.Files.createTempDirectory("graft_fzidx").toString + "/idx"
    Store.build(spark, corpus, "doc_id", "text", root, numBuckets = 16,
      fuzzyKey = Some((64, 3)), jaccard = false)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val delta = fuzzyDocs.filter($"doc_id" >= 4)
    val want = pset(Dedup.fuzzyKeyDeltaPairs(delta, "doc_id", "text",
      Dedup.fuzzyKeyIndex(corpus, "doc_id", "text", 64, 3), 64, 3))
    val got = pset(Store.fuzzyPairsForDelta(spark, root, delta,
      "doc_id", "text"))
    assert(got.nonEmpty && got == want)
    assert(got.contains((0L, 4L, 0L)) && got.contains((5L, 6L, 1L)))
    // absorb; the re-upload batch (doc 4 rewritten + doc 9 matching 4's
    // OLD key) must displace the stale rows — the delta-frame form's
    // contract, over the store
    Store.appendDelta(spark, root, delta, "doc_id", "text")
    val delta2 = Seq(
      (4L, "a completely rewritten document with nothing in common anymore"),
      (9L, "the quick brown fox jumps over the lazy dog near the river today")
    ).toDF("doc_id", "text")
    val want2 = pset(Dedup.fuzzyKeyDeltaPairs(delta2, "doc_id", "text",
      Dedup.fuzzyKeyIndex(fuzzyDocs, "doc_id", "text", 64, 3), 64, 3))
    def probe2() = pset(Store.fuzzyPairsForDelta(spark, root, delta2,
      "doc_id", "text"))
    assert(probe2() == want2 && want2.contains((0L, 9L, 0L)))
    assert(!probe2().exists(p => p._1 == 4L || p._2 == 4L))
    // append delta2, probe unchanged (order independence), replay
    // idempotent, components == rebuild over the post-replace corpus
    Store.appendDelta(spark, root, delta2, "doc_id", "text")
    assert(probe2() == want2)
    Store.appendDelta(spark, root, delta2, "doc_id", "text")
    assert(probe2() == want2)
    val post = fuzzyDocs.filter($"doc_id" =!= 4L).unionByName(delta2)
    val rebuilt = Dedup.fuzzyKeyIndex(post, "doc_id", "text", 64, 3)
      .as[(Long, String, Int, String)].collect().toSet
    for (comp <- Seq("segs", "byid"))
      assert(graft.sources.PrunedIndex.read(spark,
          graft.fs.Fs.child(Store.currentPath(root).get, s"fuzzy/$comp"))
        .as[(Long, String, Int, String)].collect().toSet == rebuilt, comp)
  }

  test("streaming fuzzy-key dedup: accumulated micro-batch pairs equal the batch run") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_fstream").toString
    // batch 1: docs 0-2; batch 2: docs 3-6 — the (0,4) exact-dup pair
    // and (1,4)/(2,4) crosses span the batch boundary; (5,6) is
    // within-batch. Index starts empty (created on first batch).
    fuzzyDocs.filter($"doc_id" <= 2).write.parquet(s"$dir/in1")
    fuzzyDocs.filter($"doc_id" >= 3).write.parquet(s"$dir/in2")
    val schema = spark.read.parquet(s"$dir/in1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/in*")
    val q = graft.streaming.FuzzyDedupStream.start(
      stream, "doc_id", "text", s"$dir/wh", "fuzzy_idx", s"$dir/ckpt", 64, 3) {
      (pairs, _) => pairs.write.mode("append").parquet(s"$dir/out")
    }
    assert(q.awaitTermination(240000), "stream did not terminate in 240s")
    val streamed = spark.read.parquet(s"$dir/out")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.fuzzyKeyPairs(fuzzyDocs, "doc_id", "text", 64, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch && batch.nonEmpty)
    // the maintained index equals a from-scratch fuzzyKeyIndex ...
    val cur = graft.sinks.ParquetMergeSink.readCurrent(spark, s"$dir/wh", "fuzzy_idx").get
    val rebuilt = Dedup.fuzzyKeyIndex(fuzzyDocs, "doc_id", "text", 64, 3)
    assert(cur.as[(Long, String, Int, String)].collect().toSet ==
      rebuilt.as[(Long, String, Int, String)].collect().toSet)
    // ... and answers a fresh delta exactly
    val d7 = Seq((7L, "the quick brown fox jumps over the lazy dog near the river today"))
      .toDF("doc_id", "text")
    val next = Dedup.fuzzyKeyDeltaPairs(d7, "doc_id", "text", cur, 64, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(next.contains((0L, 7L, 0L)) && next.contains((4L, 7L, 0L)))
  }

  test("fuzzy index group-upsert: a re-uploaded doc's stale segments are displaced") {
    // doc 4's revision no longer matches doc 0; merging its new
    // segments must DELETE the old ones, or later probes would keep
    // pairing doc 4's dead revision
    val idx0 = Dedup.fuzzyKeyIndex(fuzzyDocs, "doc_id", "text", 64, 3)
    val rev = Seq((4L, "a completely rewritten document with nothing in common anymore"))
      .toDF("doc_id", "text")
    val merged = graft.operators.Relational.mergeReplaceGroups(
      idx0, Dedup.fuzzyKeyIndex(rev, "doc_id", "text", 64, 3), Seq("id"),
      Some(rev.select($"doc_id".as("id"))))
    val rebuilt = Dedup.fuzzyKeyIndex(
      fuzzyDocs.filter($"doc_id" =!= 4L).unionByName(rev), "doc_id", "text", 64, 3)
    assert(merged.as[(Long, String, Int, String)].collect().toSet ==
      rebuilt.as[(Long, String, Int, String)].collect().toSet)
    // probing with doc 0's text must no longer pair against doc 4
    val d8 = Seq((8L, "the quick brown fox jumps over the lazy dog near the river today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.fuzzyKeyDeltaPairs(d8, "doc_id", "text", merged, 64, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((0L, 8L, 0L)) && !pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("PrunedIndex layout serves the fuzzy-segment and LSH band indexes unchanged") {
    import graft.sources.PrunedIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_pruned_idx").toString
    val corpus = fuzzyDocs.filter($"doc_id" <= 3)
    val delta = fuzzyDocs.filter($"doc_id" >= 4)
    // fuzzy-key segment index, bucketed on (seg_i, seg): the delta's own
    // segments are the probe; the pruned view must answer the delta
    // probe identically to the flat index
    val segIdx = Dedup.fuzzyKeyIndex(corpus, "doc_id", "text", 64, 3)
    PrunedIndex.write(segIdx, s"$dir/segs", Seq("seg_i", "seg"), numBuckets = 8)
    val segProbe = Dedup.fuzzyKeyIndex(delta, "doc_id", "text", 64, 3)
      .select($"seg_i", $"seg")
    val prunedSegs = PrunedIndex.readPruned(spark, s"$dir/segs", segProbe)
    val gotF = Dedup.fuzzyKeyDeltaPairs(delta, "doc_id", "text", prunedSegs, 64, 3)
      .as[(Long, Long, Long)].collect().toSet
    val wantF = Dedup.fuzzyKeyDeltaPairs(delta, "doc_id", "text", segIdx, 64, 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotF == wantF && gotF.nonEmpty)
    // MinHash band index, bucketed on (band, bkey): same contract for
    // the LSH delta probe
    val corpusDocs = corpus.filter($"doc_id" % 2 =!= 0)
    val deltaDocs = corpus.filter($"doc_id" % 2 === 0)
    val bandIdx = Dedup.minHashBandIndex(corpusDocs, "doc_id", "text",
      n = 3, numHashes = 64, bands = 32)
    PrunedIndex.write(bandIdx, s"$dir/bands", Seq("band", "bkey"), numBuckets = 8)
    val bandProbe = Dedup.minHashBandIndex(deltaDocs, "doc_id", "text",
        n = 3, numHashes = 64, bands = 32)
      .select($"band", $"bkey")
    val prunedBands = PrunedIndex.readPruned(spark, s"$dir/bands", bandProbe)
    val gotM = Dedup.minHashDeltaPairs(deltaDocs, corpusDocs, prunedBands,
        "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val wantM = Dedup.minHashDeltaPairs(deltaDocs, corpusDocs, bandIdx,
        "doc_id", "text", n = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    assert(gotM == wantM && gotM.nonEmpty)
  }

  test("source-preference dedup: exact dups keep the highest-priority source's copy") {
    // docs 1/2/3 share text across src2/src0/src1 — src0's copy (doc 2)
    // must survive; 4/5 share text within one source — min id wins;
    // 6 is unique and survives untouched
    val docs = Seq(
      (1L, "same text", "src2"), (2L, "same text", "src0"), (3L, "same text", "src1"),
      (4L, "other text", "src3"), (5L, "other text", "src3"),
      (6L, "unique", "src9")).toDF("doc_id", "text", "source")
      .withColumn("src_prio",
        -org.apache.spark.sql.functions.substring(col("source"), 4, 10).cast("int"))
    import graft.functions.TextFunctions.fingerprint
    val fps = docs.select(col("doc_id").as("id"), fingerprint(col("text")).as("fp"))
    val pairs = fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    val kept = Dedup.dedupByPairsKeepBest(docs, "doc_id", "src_prio", pairs, "a_id", "b_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 6L))
  }

  // ---- corpusDiff ----------------------------------------------------

  test("corpusDiff: a NULL-text doc present in both versions is not churn") {
    val vOld = Seq((1L, null: String), (2L, "beta"), (3L, null: String))
      .toDF("doc_id", "text")
    val vNew = Seq((1L, null: String), (2L, null: String), (4L, null: String))
      .toDF("doc_id", "text")
    val out = Dedup.corpusDiff(vOld, vNew, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // 1: null -> null is UNCHANGED (dropped); 2: text -> null is changed;
    // 3: present-with-null -> absent is removed; 4: absent -> null is added
    assert(out == Seq((2L, "changed"), (3L, "removed"), (4L, "added")))
  }

  test("corpusDiff classifies added/removed/changed and drops unchanged") {
    val vOld = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val vNew = Seq((2L, "beta"), (3L, "GAMMA  revised"), (4L, "delta")).toDF("doc_id", "text")
    val out = Dedup.corpusDiff(vOld, vNew, "doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "removed"), (3L, "changed"), (4L, "added")))
  }

  test("corpusDiff: normalization-equal text is unchanged (not churn)") {
    val vOld = Seq((1L, "Same   Doc")).toDF("doc_id", "text")
    val vNew = Seq((1L, "same doc")).toDF("doc_id", "text")
    assert(Dedup.corpusDiff(vOld, vNew, "doc_id", "text").count() == 0)
  }

  // ---- dedupDownsample -----------------------------------------------

  test("dedupDownsample: singletons always survive; survivors carry group size") {
    val out = Dedup.dedupDownsample(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // docs 1, 2, 4 are singleton groups → keep-hash * 1 < 1e6 always
    assert(out.contains(1L) && out.contains(2L) && out.contains(4L))
    assert(out(1L) == 1L && out(2L) == 1L && out(4L) == 1L)
    // the {0, 3} exact-dup pair reports group size 2 for any survivor
    assert(out.filterKeys(Set(0L, 3L)).values.forall(_ == 2L))
  }

  test("dedupDownsample is a pure function of (id, group size): rerun identical") {
    val a = Dedup.dedupDownsample(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val b = Dedup.dedupDownsample(corpus.repartition(7), "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  // ---- intraDocLineDedup ---------------------------------------------

  test("intraDocLineDedup keeps first occurrence in order, counts drops") {
    val docs = Seq(
      (1L, "header\nbody one\nheader\nbody two\nheader"),
      (2L, "a\nb\nc"),
      (3L, "same\nsame\nsame")).toDF("doc_id", "text")
    val out = Dedup.intraDocLineDedup(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 5L, 2L, "header\nbody one\nbody two"),
      (2L, 3L, 0L, "a\nb\nc"),
      (3L, 3L, 2L, "same")))
  }
}
