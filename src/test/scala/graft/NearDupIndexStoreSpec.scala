package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{Dedup, NearDupIndexStore => Store}

/** The versioned near-dup index store: joint-atomic commits (a reader
  * never sees one layout ahead of the other), delta-bounded version
  * footprints, reference-aware retention. */
class NearDupIndexStoreSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def text(i: Int): String = (0 until 12).map(j => s"s${i}z$j").mkString(" ")

  test("build -> appendDelta == fresh build; old version serves the pre-delta view; retention") {
    val root = java.nio.file.Files.createTempDirectory("graft_ndstore").toString
    // v1 corpus: docs 0..39, doc 5 at a draft revision
    val v1docs = (0 until 40).map(i =>
      (i.toLong, if (i == 5) "draft placeholder entirely different words" else text(i)))
      .toDF("doc_id", "text")
    val v1 = Store.build(spark, v1docs, "doc_id", "text", root, numBuckets = 8)
    assert(v1 == 1L && Store.currentVersion(root).contains(1L))

    // the batch mixes a new near-dup of doc 7, a brand-new doc, and the
    // corrected re-upload of doc 5
    val delta = Seq((100L, text(7)), (101L, text(41)), (5L, text(5)))
      .toDF("doc_id", "text")
    // probe BEFORE absorbing — returns the post-batch truth already
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val before = pset(Store.pairsForDelta(spark, root, delta, "doc_id", "text"))
    val v2 = Store.appendDelta(spark, root, delta, "doc_id", "text")
    assert(v2 == 2L && Store.currentVersion(root).contains(2L))

    // post-append probes over the store == a fresh build on the merged
    // corpus, and == the pre-append probe (order independence)
    val merged = v1docs.filter($"doc_id" =!= 5L)
      .unionByName(delta)
    val refRoot = java.nio.file.Files.createTempDirectory("graft_ndref").toString
    Store.build(spark, merged, "doc_id", "text", refRoot, numBuckets = 8)
    val probe2 = Seq((999L, text(7))).toDF("doc_id", "text")
    assert(pset(Store.pairsForDelta(spark, root, probe2, "doc_id", "text")) ==
      pset(Store.pairsForDelta(spark, refRoot, probe2, "doc_id", "text")))
    assert(pset(Store.pairsForDelta(spark, root, delta, "doc_id", "text")) == before)

    // the SUPERSEDED version still serves the pre-delta view (doc 5
    // still at its draft: no pair with a probe carrying the true text)
    val probeTrue5 = Seq((998L, text(5))).toDF("doc_id", "text")
    assert(pset(Dedup.jaccardDeltaPairsIndexed(spark, s"$root/v1",
      probeTrue5, "doc_id", "text")).isEmpty)
    assert(pset(Store.pairsForDelta(spark, root, probeTrue5, "doc_id", "text")) ==
      Set((5L, 998L)))

    // v2 is delta-stitched: its manifests reference v1's files, so
    // vacuum must SPARE v1 even at keep=1 — and under a scheme-
    // qualified root spelling (r19 ADVICE: raw-string prefix compares
    // deleted live stitched files)
    assert(Store.vacuum("file:" + root, keep = 1).isEmpty)
    assert(Store.versions(root) == Seq(1L, 2L))
    // v2's own data footprint is delta-sized (every local file under a
    // delta-*/ subdir)
    val v2Files = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/v2"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .map[String](_.toString).toArray.map(_.toString)
      .filterNot(f => f.contains("_PRUNE") || f.endsWith("_SUCCESS") ||
        f.contains("/.") || f.contains("dfhead") || f.contains("_NEARDUP"))
    assert(v2Files.nonEmpty && v2Files.forall(_.contains("/delta-")),
      v2Files.mkString(","))

    // compact folds v3 self-contained; vacuum then drops v1 and v2 and
    // probes are unchanged
    val v3 = Store.compact(spark, root)
    assert(v3 == 3L)
    assert(Store.vacuum(root, keep = 1).toSet == Set(1L, 2L))
    assert(Store.versions(root) == Seq(3L))
    assert(pset(Store.pairsForDelta(spark, root, probe2, "doc_id", "text")) ==
      Set((7L, 999L), (100L, 999L)))
    assert(pset(Store.pairsForDelta(spark, root, probeTrue5, "doc_id", "text")) ==
      Set((5L, 998L)))

    Seq(delta, probe2, probeTrue5).foreach(d =>
      Store.releaseProbeCache(root, d, "doc_id", "text"))
    spark.catalog.clearCache()
  }

  test("unified store: containment + winnowing families commit, stitch, compact and vacuum together") {
    val root = java.nio.file.Files.createTempDirectory("graft_ustore").toString
    val v1docs = (0 until 40).map(i =>
      (i.toLong, if (i == 5) "draft placeholder entirely different words" else text(i)))
      .toDF("doc_id", "text")
    Store.build(spark, v1docs, "doc_id", "text", root, numBuckets = 8,
      withContainment = true, winnowing = Some((12, 8)), minhash = Some((64, 32)),
      fuzzyKey = Some((64, 3)))
    val delta = Seq((100L, text(7)), (101L, text(41)), (5L, text(5)))
      .toDF("doc_id", "text")
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    def cProbe(r: String, d: org.apache.spark.sql.DataFrame) =
      pset(Store.containmentPairsForDelta(spark, r, d, "doc_id", "text", maxDf = 16))
    def wProbe(r: String, d: org.apache.spark.sql.DataFrame) =
      pset(Store.winnowingPairsForDelta(spark, r, d, "doc_id", "text",
        minShared = 2, maxDf = 16))
    def jProbe(r: String, d: org.apache.spark.sql.DataFrame) =
      pset(Store.pairsForDelta(spark, r, d, "doc_id", "text"))
    def mProbe(r: String, d: org.apache.spark.sql.DataFrame) =
      pset(Store.minhashPairsForDelta(spark, r, d, "doc_id", "text"))
    def fProbe(r: String, d: org.apache.spark.sql.DataFrame) =
      pset(Store.fuzzyPairsForDelta(spark, r, d, "doc_id", "text"))
    // all five families answer the delta BEFORE absorbing
    val (cB, wB, jB, mB, fB) = (cProbe(root, delta), wProbe(root, delta),
      jProbe(root, delta), mProbe(root, delta), fProbe(root, delta))
    assert(cB.nonEmpty && wB.nonEmpty && jB.nonEmpty && mB.nonEmpty && fB.nonEmpty)
    Store.appendDelta(spark, root, delta, "doc_id", "text")
    assert(Store.currentVersion(root).contains(2L))
    // order independence per family: probe after == probe before
    assert(cProbe(root, delta) == cB && wProbe(root, delta) == wB &&
      jProbe(root, delta) == jB && mProbe(root, delta) == mB &&
      fProbe(root, delta) == fB)
    // the stitched v2 == a fresh unified build on the merged corpus,
    // for every family
    val merged = v1docs.filter($"doc_id" =!= 5L).unionByName(delta)
    val refRoot = java.nio.file.Files.createTempDirectory("graft_uref").toString
    Store.build(spark, merged, "doc_id", "text", refRoot, numBuckets = 8,
      withContainment = true, winnowing = Some((12, 8)), minhash = Some((64, 32)),
      fuzzyKey = Some((64, 3)))
    val probe2 = Seq((999L, text(7)), (998L, text(5))).toDF("doc_id", "text")
    assert(cProbe(root, probe2) == cProbe(refRoot, probe2))
    assert(wProbe(root, probe2) == wProbe(refRoot, probe2))
    assert(jProbe(root, probe2) == jProbe(refRoot, probe2))
    assert(mProbe(root, probe2) == mProbe(refRoot, probe2))
    assert(fProbe(root, probe2) == fProbe(refRoot, probe2))
    val (c2, w2, j2, m2, f2) = (cProbe(root, probe2), wProbe(root, probe2),
      jProbe(root, probe2), mProbe(root, probe2), fProbe(root, probe2))
    assert(j2 == Set((7L, 999L), (100L, 999L), (5L, 998L)))
    assert(m2 == j2) // identical-text probes band-collide and verify at 1.0
    assert(f2.contains((7L, 999L)) && f2.contains((100L, 999L)))
    // compact folds ALL families flat; vacuum then drops v1+v2; probes
    // unchanged across the five
    Store.compact(spark, root)
    assert(Store.vacuum(root, keep = 1).toSet == Set(1L, 2L))
    assert(Store.versions(root) == Seq(3L))
    assert(cProbe(root, probe2) == c2 && wProbe(root, probe2) == w2 &&
      jProbe(root, probe2) == j2 && mProbe(root, probe2) == m2 &&
      fProbe(root, probe2) == f2)
    Seq(delta, probe2).foreach(d => Store.releaseProbeCache(root, d, "doc_id", "text"))
    Seq(delta, probe2).foreach(d => Store.releaseProbeCache(refRoot, d, "doc_id", "text"))
    spark.catalog.clearCache()
  }

  test("compact(refreeze = true): head + prefix re-derive from folded sets; probes unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_rfstore").toString
    val docs = (0 until 40).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    Store.build(spark, docs, "doc_id", "text", root, numBuckets = 8)
    Store.appendDelta(spark, root,
      Seq((100L, text(3))).toDF("doc_id", "text"), "doc_id", "text")
    Store.appendDelta(spark, root,
      Seq((101L, text(3))).toDF("doc_id", "text"), "doc_id", "text")
    val probe = Seq((999L, text(3))).toDF("doc_id", "text")
    def pairs() = Store.pairsForDelta(spark, root, probe, "doc_id", "text")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val before = pairs()
    assert(before == Set((3L, 999L), (100L, 999L), (101L, 999L)))
    Store.compact(spark, root, refreeze = true)
    assert(Store.vacuum(root, keep = 1).nonEmpty)
    // the refrozen order changes candidate COST only — answers identical
    assert(pairs() == before)
    // the re-derived head equals a fresh build's over the merged corpus
    val refRoot = java.nio.file.Files.createTempDirectory("graft_rfref").toString
    val merged = docs.unionByName(
      Seq((100L, text(3)), (101L, text(3))).toDF("doc_id", "text"))
    Store.build(spark, merged, "doc_id", "text", refRoot, numBuckets = 8)
    def head(r: String) = spark.read.parquet(
        graft.fs.Fs.child(Store.currentPath(r).get, "dfhead"))
      .as[(String, Long)].collect().toSet
    assert(head(root) == head(refRoot))
    Seq(root, refRoot).foreach(r => Store.releaseProbeCache(r, probe, "doc_id", "text"))
  }

  test("maybeMaintain: no-op below thresholds, auto-compacts past chain depth, auto-refreezes past staleness, hysteresis") {
    val root = java.nio.file.Files.createTempDirectory("graft_mstore").toString
    val docs = (0 until 40).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    Store.build(spark, docs, "doc_id", "text", root, numBuckets = 8)
    assert(Store.chainDepth(root) == 1)
    assert(Store.headStaleness(spark, root).exists(s => s > 0.99 && s < 1.01))
    // fresh store: nothing crosses a threshold
    assert(Store.maybeMaintain(spark, root).isEmpty)

    // two small appends: chain depth 3, staleness ~1.05 — still below
    Store.appendDelta(spark, root,
      Seq((100L, text(3))).toDF("doc_id", "text"), "doc_id", "text")
    Store.appendDelta(spark, root,
      Seq((101L, text(3))).toDF("doc_id", "text"), "doc_id", "text")
    assert(Store.chainDepth(root) == 3)
    assert(Store.maybeMaintain(spark, root).isEmpty,
      "below both thresholds must be a no-op")

    // chain-depth trigger: depth 3 > maxChainDepth 2 → compaction (no
    // refreeze: staleness 42/40 < 1.5), answers unchanged
    val probe = Seq((999L, text(3))).toDF("doc_id", "text")
    def pairs() = Store.pairsForDelta(spark, root, probe, "doc_id", "text")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val before = pairs()
    assert(before == Set((3L, 999L), (100L, 999L), (101L, 999L)))
    val maintained = Store.maybeMaintain(spark, root, maxChainDepth = 2)
    assert(maintained.nonEmpty)
    assert(Store.chainDepth(root) == 1, "compaction must reset the chain")
    assert(pairs() == before, "maintenance must never change answers")
    // hysteresis: an immediate second call is a no-op
    assert(Store.maybeMaintain(spark, root, maxChainDepth = 2).isEmpty)

    // staleness trigger: double the corpus → 84/40 ≥ 1.5 → refreeze
    // rides the compaction; the frozen head re-derives over the merged
    // corpus and the staleness denominator resets
    Store.appendDelta(spark, root,
      (200 until 242).map(i => (i.toLong, text(i))).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(Store.headStaleness(spark, root).exists(_ >= 1.5))
    val before2 = pairs()
    assert(Store.maybeMaintain(spark, root).nonEmpty)
    assert(Store.headStaleness(spark, root).exists(s => s > 0.99 && s < 1.01),
      "refreeze must reset the staleness denominator")
    assert(pairs() == before2, "refreeze changes candidate cost, never answers")
    assert(Store.maybeMaintain(spark, root).isEmpty)
    Store.releaseProbeCache(root, probe, "doc_id", "text")
  }

  test("vacuum sweeps orphaned uncommitted version dirs (crashed build/append debris)") {
    import graft.fs.Fs
    val root = java.nio.file.Files.createTempDirectory("graft_ostore").toString
    val docs = (0 until 20).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    Store.build(spark, docs, "doc_id", "text", root, numBuckets = 8)
    // simulate a crashed appendDelta: v2 exists with data but NO _SUCCESS
    Fs.mkdirs(Fs.child(root, "v2/prefix"))
    Fs.writeStringAtomic(Fs.child(root, "v2/prefix/stale-file"), "debris")
    assert(Store.versions(root) == Seq(1L), "uncommitted dir must stay invisible")
    // a FRESH orphan is spared — the grace window keeps an accidentally
    // concurrent vacuum from racing a live writer's in-flight version
    assert(Store.vacuum(root, keep = 2).isEmpty)
    assert(Fs.exists(Fs.child(root, "v2")))
    // past the grace window, the orphan is swept even though keep would
    // retain it by number
    TreeAge.backdate(Fs.child(root, "v2"))
    assert(Store.vacuum(root, keep = 2).toSet == Set(2L))
    assert(!Fs.exists(Fs.child(root, "v2")))
    // the committed version and its probes are untouched
    val p = Seq((999L, text(7))).toDF("doc_id", "text")
    assert(Store.pairsForDelta(spark, root, p, "doc_id", "text")
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet == Set((7L, 999L)))
    Store.releaseProbeCache(root, p, "doc_id", "text")
  }
}
