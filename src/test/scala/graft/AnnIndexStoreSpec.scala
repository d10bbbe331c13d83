package graft

import org.apache.spark.sql.functions.{lit, transform}
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.{AnnIndexStore, GraphAnn, Similarity}
import graft.llm.AnnIndexStore.Params

class AnnIndexStoreSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  // multiAssign = 1 EXPLICITLY: these tests pin single-assign parity
  // against single-assign references (nswTopK / ivfAssignedIndex); the
  // recall-critical DEFAULT is 2 (pinned below, ABLATION_r17's reading)
  private val P = Params(nCells = 4, iters = 2, numBuckets = 4, m = 4,
    efConstruction = 12, multiAssign = 1)

  test("the recall-critical default: Params().multiAssign == 2 (ABLATION_r17)") {
    assert(Params().multiAssign == 2)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq

  /** Recursive (relative path, length) listing — byte-level "the store
    * was not touched" witness (mtime alone can survive a rewrite). */
  private def listing(root: String): Set[(String, Long)] = {
    val base = java.nio.file.Paths.get(root)
    val out = scala.collection.mutable.Set.empty[(String, Long)]
    java.nio.file.Files.walk(base).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p))
        out += ((base.relativize(p).toString, java.nio.file.Files.size(p)))
    }
    out.toSet
  }

  test("build + searchGraph == the one-call nswTopK, bit-equal") {
    val root = java.nio.file.Files.createTempDirectory("graft_annstore").toString + "/s"
    val v = AnnIndexStore.build(spark, embs, "vec_id", "embedding", root, P)
    assert(v == 1L && AnnIndexStore.currentVersion(root).contains(1L))
    val q = embs.filter($"vec_id" < 6)
    val store = AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 2, efSearch = 12)
    val oneCall = GraphAnn.nswTopK(embs, q, "vec_id", "embedding",
      k = 4, nCells = 4, nprobe = 2, iters = 2, m = 4, efConstruction = 12, efSearch = 12)
    assert(rows(store).nonEmpty && rows(store) == rows(oneCall))
  }

  test("appendDelta under frozen centroids == fresh assignment search; versions advance") {
    val root = java.nio.file.Files.createTempDirectory("graft_annstore2").toString + "/s"
    val v1 = embs.filter($"vec_id" < 400)
    val delta = embs.filter($"vec_id" >= 400)
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P)
    val cents = AnnIndexStore.centroids(spark, root)
    val v2 = AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", P)
    assert(v2 == 2L && AnnIndexStore.versions(root) == Seq(1L, 2L))
    val q = embs.filter($"vec_id" < 6)
    val store = AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 2, efSearch = 12)
    val fresh = GraphAnn.nswSearchAssigned(
      Similarity.ivfAssignedIndex(embs, "vec_id", "embedding", cents), cents,
      q, "vec_id", "embedding", k = 4, nprobe = 2, m = 4, efConstruction = 12, efSearch = 12)
    assert(rows(store) == rows(fresh))
  }

  test("multiAssign=2: no duplicate neighbors, recall >= single-assign, append == rebuild") {
    val P2 = P.copy(multiAssign = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_annstore_ma").toString + "/s"
    val v1 = embs.filter($"vec_id" < 400)
    val delta = embs.filter($"vec_id" >= 400)
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P2)
    // every id holds exactly 2 assignment rows, in 2 DISTINCT cells
    val perId = AnnIndexStore.assigned(spark, root)
      .groupBy($"vec_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.countDistinct($"cell").as("nc"))
      .select("n", "nc").distinct().as[(Long, Long)].collect().toSet
    assert(perId == Set((2L, 2L)))
    AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", P2)
    val q = embs.filter($"vec_id" < 8)
    val res = AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 2, efSearch = 12)
    // no neighbor ranked twice for any query
    val dupes = res.groupBy($"query_id", $"neighbor_id")
      .count().filter($"count" > 1).count()
    assert(dupes == 0L)
    // append == a fresh multi-assign build at the same centroids
    val cents = AnnIndexStore.centroids(spark, root)
    val fresh = GraphAnn.nswSearchAssigned(
      Similarity.ivfAssignedIndexMulti(embs, "vec_id", "embedding", cents, 2),
      cents, q, "vec_id", "embedding", k = 4, nprobe = 2, m = 4,
      efConstruction = 12, efSearch = 12)
    assert(rows(res).nonEmpty && rows(res) == rows(fresh))
    // recall at fixed nprobe is >= the single-assign store's (the
    // boundary-vector argument; equality allowed)
    val rootS = java.nio.file.Files.createTempDirectory("graft_annstore_sa").toString + "/s"
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", rootS, P)
    val brute = Similarity.bruteTopK(embs, q, "vec_id", "embedding", 4)
    def rec(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(df, brute)
        .agg(org.apache.spark.sql.functions.avg($"recall_ppm")).head().getDouble(0)
    val rootM = java.nio.file.Files.createTempDirectory("graft_annstore_ma2").toString + "/s"
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", rootM, P2)
    val rSingle = rec(AnnIndexStore.searchGraph(spark, rootS, q, "vec_id",
      "embedding", k = 4, nprobe = 2, efSearch = 12))
    val rMulti = rec(AnnIndexStore.searchGraph(spark, rootM, q, "vec_id",
      "embedding", k = 4, nprobe = 2, efSearch = 12))
    assert(rMulti >= rSingle, s"multi-assign recall $rMulti < single $rSingle")
    // ivfAssignedIndexMulti(1) == ivfAssignedIndex exactly
    val c2 = AnnIndexStore.centroids(spark, rootS)
    assert(Similarity.ivfAssignedIndexMulti(embs, "vec_id", "embedding", c2, 1)
        .select("vec_id", "cell").as[(Long, Int)].collect().toSet ==
      Similarity.ivfAssignedIndex(embs, "vec_id", "embedding", c2)
        .select("vec_id", "cell").as[(Long, Int)].collect().toSet)
    // re-uploads under multi-assign: a changed vector displaces BOTH of
    // its old rows (they live in two cells) — append == fresh build
    val reup = embs.filter($"vec_id" < 12).select($"vec_id",
      org.apache.spark.sql.functions.transform($"embedding",
        x => (x * lit(-1.0f)).cast("float")).as("embedding"))
    AnnIndexStore.appendDelta(spark, root, reup, "vec_id", "embedding", P2)
    val mergedCorpus = embs.filter($"vec_id" >= 12)
      .select($"vec_id", $"embedding").unionByName(reup)
    val centsR = AnnIndexStore.centroids(spark, root)
    val freshR = GraphAnn.nswSearchAssigned(
      Similarity.ivfAssignedIndexMulti(mergedCorpus, "vec_id", "embedding", centsR, 2),
      centsR, q, "vec_id", "embedding", k = 4, nprobe = 2, m = 4,
      efConstruction = 12, efSearch = 12)
    val storeR = AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 2, efSearch = 12)
    assert(rows(storeR).nonEmpty && rows(storeR) == rows(freshR))
    // every id still holds exactly 2 rows in 2 distinct cells
    val perIdR = AnnIndexStore.assigned(spark, root)
      .groupBy($"vec_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"),
        org.apache.spark.sql.functions.countDistinct($"cell").as("nc"))
      .select("n", "nc").distinct().as[(Long, Long)].collect().toSet
    assert(perIdR == Set((2L, 2L)))
    // the IVF (exhaustive-in-cell) search path dedups too
    val ivf = AnnIndexStore.searchIvf(spark, root, q, "vec_id", "embedding",
      k = 4, minProbe = 2, maxProbe = 4)
    assert(ivf.groupBy($"query_id", $"neighbor_id").count()
      .filter($"count" > 1).count() == 0L)
  }

  test("appendDelta with re-uploads: stale rows displaced end to end == fresh search") {
    val root = java.nio.file.Files.createTempDirectory("graft_annstore5").toString + "/s"
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", root, P)
    val cents = AnnIndexStore.centroids(spark, root)
    // re-upload 3 existing ids with reversed vectors + 2 genuinely new ids
    val reup = embs.filter($"vec_id".isin(3L, 17L, 40L))
      .select($"vec_id", org.apache.spark.sql.functions.reverse($"embedding").as("embedding"))
      .unionByName(embs.filter($"vec_id" < 2)
        .select(($"vec_id" + lit(100000L)).as("vec_id"), $"embedding"))
    AnnIndexStore.appendDelta(spark, root, reup, "vec_id", "embedding", P)
    // exactly one row per id, and the re-uploaded ids carry the NEW vectors
    val byId = AnnIndexStore.assigned(spark, root)
      .groupBy($"vec_id").count().filter($"count" > 1L).count()
    assert(byId == 0L, "duplicate ids in the merged assignment")
    val q = embs.filter($"vec_id" < 6)
    val store = AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 2, efSearch = 12)
    val postReplace = embs.select($"vec_id", $"embedding")
      .filter(!$"vec_id".isin(3L, 17L, 40L)).unionByName(reup)
    val fresh = GraphAnn.nswSearchAssigned(
      Similarity.ivfAssignedIndex(postReplace, "vec_id", "embedding", cents), cents,
      q, "vec_id", "embedding", k = 4, nprobe = 2, m = 4, efConstruction = 12, efSearch = 12)
    assert(rows(store).nonEmpty && rows(store) == rows(fresh))
  }

  test("no drift: reclusterIfDrifted writes NOTHING — store byte-identical") {
    val root = java.nio.file.Files.createTempDirectory("graft_annstore3").toString + "/s"
    val v1 = embs.filter($"vec_id" % 5 =!= 0)
    val delta = embs.filter($"vec_id" % 5 === 0)
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P)
    val before = listing(root)
    val d = AnnIndexStore.reclusterIfDrifted(spark, root, delta, "vec_id", "embedding",
      thresholdPpm = 2000000L, P)
    assert(!d.reclustered && d.version == 1L)
    assert(d.driftPpm > 0L && d.driftPpm <= 2000000L, s"drift ${d.driftPpm}")
    assert(listing(root) == before)
  }

  test("drifted delta: recluster fires, new version == fresh build on the merged corpus") {
    val root = java.nio.file.Files.createTempDirectory("graft_annstore4").toString + "/s"
    val v1 = embs.select($"vec_id", $"embedding").filter($"vec_id" % 5 =!= 0)
    val delta = embs.filter($"vec_id" % 5 === 0).select($"vec_id",
      transform($"embedding", x => (x + lit(3.0f)).cast("float")).as("embedding"))
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P)
    val d = AnnIndexStore.reclusterIfDrifted(spark, root, delta, "vec_id", "embedding",
      thresholdPpm = 2000000L, P)
    assert(d.reclustered && d.driftPpm > 2000000L && d.version == 2L)
    assert(AnnIndexStore.currentVersion(root).contains(2L))
    val q = embs.filter($"vec_id" < 6)
    val store = AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 2, efSearch = 12)
    val fresh = GraphAnn.nswTopK(v1.unionByName(delta), q, "vec_id", "embedding",
      k = 4, nCells = 4, nprobe = 2, iters = 2, m = 4, efConstruction = 12, efSearch = 12)
    assert(rows(store).nonEmpty && rows(store) == rows(fresh))
  }

  test("appendDelta write I/O is delta-bounded: only touched buckets land files; vacuum/compact lifecycle") {
    val base = java.nio.file.Files.createTempDirectory("graft_annstore6").toString
    val root = base + "/s"
    // 16 cells/buckets and a 5-vector delta: the delta can touch at most
    // 5 buckets, so stitched (untouched) buckets MUST exist — guarded below
    val P16 = Params(nCells = 16, iters = 2, numBuckets = 16, m = 4,
      efConstruction = 12, multiAssign = 1)
    val v1 = embs.filter($"vec_id" < 400)
    val delta = embs.filter($"vec_id" >= 400 && $"vec_id" < 405)
    val corpus = embs.filter($"vec_id" < 405)
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P16)
    val cents = AnnIndexStore.centroids(spark, root)
    val v1Files = listing(root)
    AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", P16)
    // fixture guard: v2 really does stitch (absolute entries into v1)
    val v2Manifest = graft.fs.Fs.readString(s"$root/v2/assigned/_PRUNE_MANIFEST")
    assert(v2Manifest.contains(s"$root/v1/assigned/"),
      "fixture too weak: no bucket was stitched from v1")
    // v1's files are all still present, byte-identical (stitched, not
    // rewritten) — the t132 listing-equality idiom for write I/O
    assert(v1Files.subsetOf(listing(root)), "appendDelta rewrote v1 files")
    // v2's LOCAL data footprint is the touched buckets only: every new
    // data file lives under a writeDelta delta-subdir
    val v2Data = (listing(root) -- v1Files).map(_._1)
      .filterNot(f => f.contains("centroids") || f.contains("_PRUNE") ||
        f.endsWith("_SUCCESS") || f.endsWith("_CURRENT") ||
        f.endsWith("_PARAMS") || f.endsWith("_DRIFTBASE") || f.contains("/."))
    assert(v2Data.nonEmpty && v2Data.forall(f => f.contains("/delta-")),
      s"non-delta data files in v2: ${v2Data.filterNot(_.contains("/delta-"))}")
    // search over the stitched version == fresh build at the same centroids
    val q = embs.filter($"vec_id" < 6)
    def storeRows() = rows(AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 2, efSearch = 12))
    val fresh = rows(GraphAnn.nswSearchAssigned(
      Similarity.ivfAssignedIndex(corpus, "vec_id", "embedding", cents), cents,
      q, "vec_id", "embedding", k = 4, nprobe = 2, m = 4, efConstruction = 12, efSearch = 12))
    assert(storeRows() == fresh && fresh.nonEmpty)
    // vacuum with keep=1 must SPARE v1: v2's manifests reference its
    // files — under a scheme-qualified root spelling too (r19 ADVICE:
    // raw-string prefix compares made every referenced dir look
    // unreferenced and deleted live stitched files)
    assert(AnnIndexStore.vacuum("file:" + root, keep = 1).isEmpty)
    assert(AnnIndexStore.versions(root) == Seq(1L, 2L) && storeRows() == fresh)
    // compact folds the current version self-contained; answers unchanged
    val v3 = AnnIndexStore.compact(spark, root, "vec_id", "embedding", P16)
    assert(v3 == 3L && storeRows() == fresh)
    // now vacuum can drop v1 and v2; the store still serves every search
    assert(AnnIndexStore.vacuum(root, keep = 1) == Seq(1L, 2L))
    assert(AnnIndexStore.versions(root) == Seq(3L) && storeRows() == fresh)
    // orphan sweep: a crashed build's uncommitted dir (no _SUCCESS) is
    // invisible to versions(); a FRESH one may be a live writer's
    // in-flight version and is spared, a stale one is removed
    graft.fs.Fs.mkdirs(graft.fs.Fs.child(root, "v9/assigned"))
    graft.fs.Fs.writeStringAtomic(
      graft.fs.Fs.child(root, "v9/assigned/stale-file"), "debris")
    assert(AnnIndexStore.versions(root) == Seq(3L))
    assert(AnnIndexStore.vacuum(root, keep = 2).isEmpty)
    assert(graft.fs.Fs.exists(graft.fs.Fs.child(root, "v9")))
    TreeAge.backdate(graft.fs.Fs.child(root, "v9"))
    assert(AnnIndexStore.vacuum(root, keep = 2).toSet == Set(9L))
    assert(!graft.fs.Fs.exists(graft.fs.Fs.child(root, "v9")))
    assert(storeRows() == fresh)
  }

  test("hierarchical store (subCells): full-probe == brute, append == batch-split + direct construction, lifecycle") {
    import org.apache.spark.sql.functions.{col, transform => sqlTransform}
    val PH = Params(nCells = 3, iters = 2, numBuckets = 4, m = 4,
      efConstruction = 12, subCells = 2) // multiAssign default (2)
    val v1 = embs.filter($"vec_id" < 400)
    val delta = embs.filter($"vec_id" >= 400)
    val root = java.nio.file.Files.createTempDirectory("graft_hstore").toString + "/s"
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, PH)
    assert(AnnIndexStore.isHierarchical(root))
    // only the 3 COARSE centroids are driver-visible; fine cells span
    // [0, nCells·subCells) and more than nCells of them are populated
    assert(AnnIndexStore.centroids(spark, root).length == 3)
    val fineCells = AnnIndexStore.assigned(spark, root)
      .select($"cell").distinct().as[Int].collect().toSet
    assert(fineCells.forall(c => c >= 0 && c < 6) && fineCells.size > 3,
      s"fine cells $fineCells")
    val q = embs.filter($"vec_id" < 6)
    def search(r: String, nprobe: Int, ef: Int, npc: Int) =
      rows(AnnIndexStore.searchGraph(spark, r, q, "vec_id", "embedding",
        k = 4, nprobe = nprobe, efSearch = ef, nprobeCoarse = npc))
    // the exactness escalation holds THROUGH the two-level router:
    // probing every coarse and fine cell with a beam wider than any
    // cell degrades to exact brute force
    AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", PH)
    val brute = rows(Similarity.bruteTopK(embs, q, "vec_id", "embedding", 4))
    assert(search(root, nprobe = 6, ef = 600, npc = 3) == brute && brute.nonEmpty)
    // a realistic probe finds most of them, deterministically
    val r1 = search(root, nprobe = 3, ef = 32, npc = 2)
    assert(r1.nonEmpty && r1 == search(root, nprobe = 3, ef = 32, npc = 2))
    // no neighbor ranked twice despite multiAssign = 2
    assert(r1.groupBy(r => (r._1, r._3)).forall(_._2.length == 1))
    // append parity 1 — batch-split invariance at frozen two-level
    // state (build is deterministic, so root2 froze identical state)
    val root2 = java.nio.file.Files.createTempDirectory("graft_hstore2").toString + "/s"
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root2, PH)
    AnnIndexStore.appendDelta(spark, root2,
      delta.filter($"vec_id" % 2 === 0), "vec_id", "embedding", PH)
    AnnIndexStore.appendDelta(spark, root2,
      delta.filter($"vec_id" % 2 === 1), "vec_id", "embedding", PH)
    assert(search(root2, 3, 32, 2) == r1)
    // append parity 2 — content equality against a DIRECT construction
    // from the frozen state: assignFine over the merged corpus + a
    // from-scratch graph build
    val cents = AnnIndexStore.centroids(spark, root)
    val subCents = graft.sources.PrunedIndex.read(spark,
      graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "subcents"))
    val ccExp = Similarity.ivfAssignedIndex(embs, "vec_id", "embedding", cents)
      .withColumnRenamed("cell", "coarse")
      .withColumn("v", sqlTransform(col("embedding"), x => x.cast("double")))
    val expAssigned = graft.llm.HierarchicalRouting.assignFine(
      ccExp, subCents, "vec_id", "embedding", multiAssign = 2)
    assert(AnnIndexStore.assigned(spark, root)
        .select($"vec_id", $"cell").as[(Long, Int)].collect().toSet ==
      expAssigned.select($"vec_id", $"cell").as[(Long, Int)].collect().toSet)
    val expEdges = GraphAnn.buildGraphEdges(expAssigned, "vec_id", "embedding",
      m = 4, efConstruction = 12)
    assert(graft.sources.PrunedIndex.read(spark,
        graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "graph"))
        .as[(Int, Long, Long, Int)].collect().toSet ==
      expEdges.as[(Int, Long, Long, Int)].collect().toSet)
    // lifecycle: compact folds subcents self-contained; vacuum then
    // drops the stitched ancestors; searches unchanged throughout
    assert(AnnIndexStore.vacuum(root, keep = 1).isEmpty,
      "stitched ancestors must be spared before compaction")
    AnnIndexStore.compact(spark, root, "vec_id", "embedding", PH)
    assert(AnnIndexStore.vacuum(root, keep = 1).nonEmpty)
    assert(search(root, 3, 32, 2) == r1)
    assert(AnnIndexStore.isHierarchical(root))
  }

  test("automatic two-level shape: past maxFlatCells build lands hierarchical == explicit build; boundary stays flat") {
    // the shape rule is pure and pinned first: > (not >=), 0 disables
    assert(AnnIndexStore.effectiveShape(6, 5) == (3, 2))
    assert(AnnIndexStore.effectiveShape(6, 6) == (6, 0))
    assert(AnnIndexStore.effectiveShape(6, 0) == (6, 0))
    assert(AnnIndexStore.effectiveShape(1000000, 4096) == (1000, 1000))
    val base = Params(nCells = 6, iters = 2, numBuckets = 4, m = 4,
      efConstruction = 12) // multiAssign default (2)
    val v1 = embs.filter($"vec_id" < 400)
    val delta = embs.filter($"vec_id" >= 400)
    val rootA = java.nio.file.Files.createTempDirectory("graft_autoh_a").toString + "/s"
    val rootE = java.nio.file.Files.createTempDirectory("graft_autoh_e").toString + "/s"
    // 6 resolved cells > maxFlatCells=5 ⇒ the rule derives 3 coarse × 2 sub
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", rootA,
      base.copy(maxFlatCells = 5))
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", rootE,
      base.copy(nCells = 3, subCells = 2))
    assert(AnnIndexStore.isHierarchical(rootA),
      "auto-switch must land the two-level shape")
    // the sidecar records the caller's INTENT (auto), not the derived
    // shape — a recluster at a grown corpus re-derives from scratch
    assert(AnnIndexStore.params(rootA).get.subCells == 0 &&
      AnnIndexStore.params(rootA).get.maxFlatCells == 5)
    def cset(r: String) = AnnIndexStore.centroids(spark, r)
      .map { case (c, a) => (c, a.toSeq) }.toSeq.sortBy(_._1)
    assert(cset(rootA) == cset(rootE) && cset(rootA).length == 3)
    def asg(r: String) = AnnIndexStore.assigned(spark, r)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSet
    assert(asg(rootA) == asg(rootE))
    // param-less maintenance (the _PARAMS path) follows the two-level
    // branch on both stores and stays bit-equal
    AnnIndexStore.appendDelta(spark, rootA, delta, "vec_id", "embedding")
    AnnIndexStore.appendDelta(spark, rootE, delta, "vec_id", "embedding")
    assert(asg(rootA) == asg(rootE))
    val q = embs.filter($"vec_id" < 6)
    def s(r: String) = rows(AnnIndexStore.searchGraph(spark, r, q,
      "vec_id", "embedding", k = 4, nprobe = 3, efSearch = 32, nprobeCoarse = 2))
    assert(s(rootA).nonEmpty && s(rootA) == s(rootE))
    // boundary: resolved == maxFlatCells stays flat (strict >)
    val rootF = java.nio.file.Files.createTempDirectory("graft_autoh_f").toString + "/s"
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", rootF,
      base.copy(maxFlatCells = 6))
    assert(!AnnIndexStore.isHierarchical(rootF))
    assert(AnnIndexStore.centroids(spark, rootF).length == 6)
  }

  test("two-level routing: driver-side fast path == distributed ranking, row for row") {
    val PH = Params(nCells = 3, iters = 2, numBuckets = 4, m = 4,
      efConstruction = 12, subCells = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_hroute").toString + "/s"
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", root, PH)
    val subPath = graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "subcents")
    val cents = AnnIndexStore.centroids(spark, root)
    val q = embs.filter($"vec_id" < 8)
    def routed(cap: Int): Set[(Long, Seq[Double], Int)] =
      graft.llm.HierarchicalRouting.routeQueries(spark, subPath, cents,
          q, "vec_id", "embedding", nprobeCoarse = 2, nprobe = 3,
          driverRouteCap = cap)
        .as[(Long, Seq[Double], Int)].collect().toSet
    val dist = routed(0) // forced distributed ranking
    assert(dist.nonEmpty && routed(65536) == dist)
    // a cap SMALLER than the touched sub-centroid rows falls through to
    // the distributed path — same rows again
    assert(routed(1) == dist)
    // both downstream searches agree with themselves through the fast
    // path (exactness pins live in the hierarchical/PQ tests above)
    val s1 = rows(AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 3, efSearch = 32, nprobeCoarse = 2))
    assert(s1.nonEmpty && s1 == rows(AnnIndexStore.searchGraph(spark, root, q,
      "vec_id", "embedding", k = 4, nprobe = 3, efSearch = 32, nprobeCoarse = 2)))
  }

  test("IVF-PQ composed search: full-probe full-shortlist == brute (flat AND hierarchical), frozen-codebook appends, lifecycle") {
    val PP = P.copy(pqM = 8, pqKsub = 16)
    val v1 = embs.filter($"vec_id" < 400)
    val delta = embs.filter($"vec_id" >= 400)
    val root = java.nio.file.Files.createTempDirectory("graft_pqstore").toString + "/s"
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, PP)
    AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", PP)
    val q = embs.filter($"vec_id" < 6)
    val brute = rows(Similarity.bruteTopK(embs, q, "vec_id", "embedding", 4))
    // probing every cell with a shortlist wider than the corpus makes
    // the ADC stage a no-op filter and the exact re-rank IS brute force
    // — the composition's exactness-escalation pin
    def pq(r: String, nprobe: Int, refine: Int, npc: Int = 4) =
      rows(AnnIndexStore.searchPq(spark, r, q, "vec_id", "embedding",
        k = 4, nprobe = nprobe, refine = refine, nprobeCoarse = npc))
    assert(pq(root, nprobe = 4, refine = 200) == brute && brute.nonEmpty)
    // realistic shortlist: deterministic, no duplicate neighbors, k rows
    val r1 = pq(root, nprobe = 2, refine = 4)
    assert(r1.nonEmpty && r1 == pq(root, nprobe = 2, refine = 4))
    assert(r1.groupBy(x => (x._1, x._3)).forall(_._2.length == 1))
    // the codes component equals a from-scratch encode of the merged
    // corpus under the FROZEN codebooks, fanned to the assignment cells
    val cur = AnnIndexStore.currentPath(root).get
    val cbs = Similarity.codebooksOf3(spark.read.parquet(
      graft.fs.Fs.child(cur, "pqbooks")))
    val expCodes = graft.sources.PrunedIndex.read(spark,
        graft.fs.Fs.child(cur, "assigned")).select($"vec_id", $"cell")
      .join(Similarity.pqEncode(embs, "vec_id", "embedding", cbs), Seq("vec_id"))
      .select($"vec_id", $"cell", $"codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    val gotCodes = graft.sources.PrunedIndex.read(spark,
        graft.fs.Fs.child(cur, "codes"))
      .select($"vec_id", $"cell", $"codes")
      .as[(Long, Int, Seq[Int])].collect().toSet
    assert(gotCodes == expCodes && gotCodes.nonEmpty)
    // compact folds codes + books; vacuum drops ancestors; unchanged
    AnnIndexStore.compact(spark, root, "vec_id", "embedding", PP)
    assert(AnnIndexStore.vacuum(root, keep = 1).nonEmpty)
    assert(pq(root, nprobe = 2, refine = 4) == r1)
    // the FULL composition — two-level routing + ADC shortlist + exact
    // re-rank — degrades to brute under full probes too
    val PH = Params(nCells = 3, iters = 2, numBuckets = 4, m = 4,
      efConstruction = 12, subCells = 2, pqM = 8, pqKsub = 16)
    val rootH = java.nio.file.Files.createTempDirectory("graft_pqhier").toString + "/s"
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", rootH, PH)
    assert(pq(rootH, nprobe = 6, refine = 200, npc = 3) == brute)
  }

  test("PQ re-rank fetch: vecsbyid tracks appends + re-upload displacement; legacy stores fall back to the cell read") {
    val PP = P.copy(pqM = 8, pqKsub = 16, idBuckets = 16)
    val root = java.nio.file.Files.createTempDirectory("graft_pqvecs").toString + "/s"
    AnnIndexStore.build(spark, embs.filter($"vec_id" < 400), "vec_id", "embedding", root, PP)
    // one delta carrying both a re-upload (displaced vectors) and new ids
    val moved = embs.filter($"vec_id" < 5)
      .select($"vec_id", transform($"embedding", x => x * lit(0.5f)).as("embedding"))
    val rest = embs.select($"vec_id", $"embedding")
    val delta = moved.unionByName(rest.filter($"vec_id" >= 400))
    AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", PP)
    val merged = moved.unionByName(rest.filter($"vec_id" >= 5))
    // the id-keyed component equals the post-replace corpus exactly:
    // one row per id, displaced ids carrying their NEW vectors
    def vecsById(): Map[Long, Seq[Float]] =
      graft.sources.PrunedIndex.read(spark,
          graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "vecsbyid"))
        .as[(Long, Seq[Float])].collect().toMap
    val exp = merged.as[(Long, Seq[Float])].collect().toMap
    assert(vecsById() == exp && exp.size == 500)
    // exactness through the point-lookup fetch: full probe + a
    // shortlist wider than the corpus == brute over the merged corpus
    val q = embs.filter($"vec_id" < 6)
    def pq() = rows(AnnIndexStore.searchPq(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 4, refine = 200))
    val brute = rows(Similarity.bruteTopK(merged, q, "vec_id", "embedding", 4))
    assert(pq() == brute && brute.nonEmpty)
    // compact folds the component self-contained; answers unchanged
    AnnIndexStore.compact(spark, root, "vec_id", "embedding", PP)
    assert(AnnIndexStore.vacuum(root, keep = 1).nonEmpty)
    assert(vecsById() == exp && pq() == brute)
    // legacy stores (built before the component existed): removing the
    // dir flips searchPq to the cell-granular fallback — same answers
    graft.fs.Fs.deleteRecursive(graft.fs.Fs.child(
      AnnIndexStore.currentPath(root).get, "vecsbyid"))
    assert(pq() == brute)
  }

  test("autoCells keeps MEAN cell size bounded as the corpus scales (nCells grows, not cells)") {
    assert(AnnIndexStore.autoCells(100L, 50L) == 2)
    assert(AnnIndexStore.autoCells(101L, 50L) == 3)
    assert(AnnIndexStore.autoCells(1L, 1000L) == 1)
    // ×8 corpus via shifted-id replicas: auto-sizing must scale nCells
    // ∝ n so the mean cell (≈ the per-task graph build) stays at the
    // target instead of dilating 8×
    val rep = (0 until 8).map(i => embs.select(($"vec_id" + lit(i * 1000L)).as("vec_id"),
      $"embedding")).reduce(_ unionByName _)
    val auto = P.copy(nCells = 0, cellTarget = 100L)
    def meanCell(corpus: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val root = java.nio.file.Files.createTempDirectory("graft_autocell").toString + "/s"
      AnnIndexStore.build(spark, corpus, "vec_id", "embedding", root, auto)
      val sizes = AnnIndexStore.assigned(spark, root)
        .groupBy($"cell").count().as[(Int, Long)].collect().map(_._2)
      (sizes.length.toLong, sizes.sum.toDouble / sizes.length)
    }
    // counts are NON-EMPTY cells: k-means may strand a seed (a cell
    // that loses every member keeps its old centroid and stays empty),
    // so the built count can undershoot ⌈n/target⌉ slightly — the pin
    // is that it TRACKS n (×8 corpus → ~×8 cells) and the mean cell
    // stays near the target instead of dilating ×8
    val (k1, m1) = meanCell(embs)      //  500 rows → ⌈500/100⌉ = 5 cells
    val (k8, m8) = meanCell(rep)       // 4000 rows → ⌈4000/100⌉ = 40 cells
    assert(k1 == 5L && k8 >= 36L && k8 <= 40L, s"cells $k1 / $k8")
    assert(m1 <= 125.0 && m8 <= 125.0, s"mean cells $m1 / $m8")
  }

  // ------------------------------------------------------------------
  // SemDeDup through the store (the embedding family's delta-bounded
  // dedup probe). The reference every test compares against is the
  // BATCH SemDeDup under the store's own centroids, restricted to
  // pairs touching the delta — the contract stated on
  // AnnIndexStore.semDedupPairsForDelta.

  private def pairsPpm(df: org.apache.spark.sql.DataFrame) =
    df.select($"cell", $"a_id", $"b_id",
        org.apache.spark.sql.functions.floor($"cos_sim" * 1e6).cast("long").as("ppm"))
      .as[(Int, Long, Long, Long)].collect().sortBy(r => (r._2, r._3)).toSeq

  /** Batch twin: semDedupPairsWithCentroids over `all` at the store's
    * centroids, kept to pairs with at least one id in `deltaIds`. */
  private def batchTwin(all: org.apache.spark.sql.DataFrame, root: String,
                        deltaIds: Set[Long], minCos: Double) = {
    val cents = AnnIndexStore.centroids(spark, root)
    val full = graft.llm.Dedup.semDedupPairsWithCentroids(
      all, "vec_id", "embedding", cents, minCos)
    pairsPpm(full.filter($"a_id".isin(deltaIds.toSeq: _*) ||
      $"b_id".isin(deltaIds.toSeq: _*)))
  }

  test("semDedup store probe == batch SemDeDup at the store's centroids, delta-restricted (multiAssign=2)") {
    val root = java.nio.file.Files.createTempDirectory("graft_semstore").toString + "/s"
    val stored = embs.filter($"vec_id" % 5 =!= 0)
    val delta = embs.filter($"vec_id" % 5 === 0)
    AnnIndexStore.build(spark, stored, "vec_id", "embedding", root,
      P.copy(multiAssign = 2))
    val probe = AnnIndexStore.semDedupPairsForDelta(spark, root, delta,
      "vec_id", "embedding", minCos = 0.35)
    val got = pairsPpm(probe)
    val deltaIds = delta.select($"vec_id").as[Long].collect().toSet
    val want = batchTwin(stored.unionByName(delta), root, deltaIds, 0.35)
    assert(got.nonEmpty, "probe must find pairs at this threshold")
    assert(got == want)
    // every pair touches the delta; no within-stored pair leaks in
    assert(got.forall(p => deltaIds(p._2) || deltaIds(p._3)))
  }

  test("semDedup store probe: re-uploaded ids pair under their NEW vectors only") {
    val root = java.nio.file.Files.createTempDirectory("graft_semstore_ru").toString + "/s"
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", root,
      P.copy(multiAssign = 2))
    // the delta re-uploads ids 0..19 wearing the vectors of 100..119 —
    // any pair involving id i<20 must be computed from embedding(i+100)
    val delta = embs.filter($"vec_id" >= 100 && $"vec_id" < 120)
      .select(($"vec_id" - 100L).as("vec_id"), $"embedding")
    val probe = AnnIndexStore.semDedupPairsForDelta(spark, root, delta,
      "vec_id", "embedding", minCos = 0.30)
    val got = pairsPpm(probe)
    val deltaIds = (0L until 20L).toSet
    val merged = embs.filter($"vec_id" >= 20)
      .select($"vec_id", $"embedding").unionByName(delta)
    val want = batchTwin(merged, root, deltaIds, 0.30)
    assert(got.nonEmpty && got == want)
    // the witness that the OLD vector left: id i's strongest partner
    // under the new vector is its donor's neighborhood, and the pair
    // (i, i+100) appears at cos ≈ 1 (identical vectors)
    assert(got.exists(p => deltaIds(p._2) && p._3 == p._2 + 100L && p._4 >= 999999L))
  }

  test("semDedup store probe after appendDelta: day-2 batch sees day-1's rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_semstore_ap").toString + "/s"
    val day0 = embs.filter($"vec_id" % 3 === 0)
    val day1 = embs.filter($"vec_id" % 3 === 1)
    val day2 = embs.filter($"vec_id" % 3 === 2)
    val P2 = P.copy(multiAssign = 2)
    AnnIndexStore.build(spark, day0, "vec_id", "embedding", root, P2)
    AnnIndexStore.appendDelta(spark, root, day1, "vec_id", "embedding", P2)
    val probe = AnnIndexStore.semDedupPairsForDelta(spark, root, day2,
      "vec_id", "embedding", minCos = 0.35)
    val deltaIds = day2.select($"vec_id").as[Long].collect().toSet
    val want = batchTwin(day0.unionByName(day1).unionByName(day2), root,
      deltaIds, 0.35)
    assert(pairsPpm(probe).nonEmpty && pairsPpm(probe) == want)
  }

  test("maybeMaintain: compacts past maxChainDepth with structural hysteresis; answers invariant; vacuum then drops the chain") {
    val root = java.nio.file.Files.createTempDirectory("graft_annmaint").toString + "/s"
    val P8 = P.copy(nCells = 8, numBuckets = 8)
    AnnIndexStore.build(spark, embs.filter($"vec_id" >= 20 && $"vec_id" < 480),
      "vec_id", "embedding", root, P8)
    assert(AnnIndexStore.chainDepth(root) == 1)
    // below threshold: byte-identical store (the no-drift idiom)
    val before = listing(root)
    assert(AnnIndexStore.maybeMaintain(spark, root, "vec_id", "embedding",
      P8, maxChainDepth = 1).isEmpty)
    assert(listing(root) == before)

    // a small delta leaves most buckets stitched: the chain deepens
    AnnIndexStore.appendDelta(spark, root, embs.filter($"vec_id" < 10),
      "vec_id", "embedding", P8)
    assert(AnnIndexStore.chainDepth(root) == 2)
    val q = embs.filter($"vec_id" < 6)
    def search() = rows(AnnIndexStore.searchGraph(spark, root, q,
      "vec_id", "embedding", k = 4, nprobe = 2, efSearch = 12))
    def semProbe() = pairsPpm(AnnIndexStore.semDedupPairsForDelta(spark, root,
      embs.filter($"vec_id" >= 480), "vec_id", "embedding", minCos = 0.30))
    val (preSearch, preProbe) = (search(), semProbe())

    val v = AnnIndexStore.maybeMaintain(spark, root, "vec_id", "embedding",
      P8, maxChainDepth = 1)
    assert(v.nonEmpty && AnnIndexStore.currentVersion(root) == v)
    // hysteresis: compaction folds the version self-contained
    assert(AnnIndexStore.chainDepth(root) == 1)
    assert(AnnIndexStore.maybeMaintain(spark, root, "vec_id", "embedding",
      P8, maxChainDepth = 1).isEmpty)
    // maintenance changes layout, never answers — search AND the
    // semantic-dedup probe replay identically over the folded store
    assert(search() == preSearch && semProbe() == preProbe)

    // the folded version references nothing older: vacuum drops the chain
    val dropped = AnnIndexStore.vacuum(root, keep = 1)
    assert(dropped.nonEmpty)
    assert(search() == preSearch && semProbe() == preProbe)
  }

  test("the store remembers its Params: sidecar roundtrip; param-less maintenance replays build semantics; legacy stores refuse") {
    val base = java.nio.file.Files.createTempDirectory("graft_annparams").toString
    val P2 = P.copy(multiAssign = 2, numBuckets = 8, m = 6, efConstruction = 16)
    val v1 = embs.filter($"vec_id" < 400)
    val delta = embs.filter($"vec_id" >= 400)
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", s"$base/a", P2)
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", s"$base/b", P2)
    assert(AnnIndexStore.params(s"$base/a").contains(P2))

    // param-less append reads the sidecar: identical store state to the
    // explicit-params twin (assignment fan-out ×2 preserved, search
    // bit-equal)
    AnnIndexStore.appendDelta(spark, s"$base/a", delta, "vec_id", "embedding")
    AnnIndexStore.appendDelta(spark, s"$base/b", delta, "vec_id", "embedding", P2)
    val q = embs.filter($"vec_id" < 6)
    def search(r: String) = rows(AnnIndexStore.searchGraph(spark, r, q,
      "vec_id", "embedding", k = 4, nprobe = 2, efSearch = 12))
    assert(search(s"$base/a") == search(s"$base/b"))
    assert(AnnIndexStore.assigned(spark, s"$base/a").count() ==
      AnnIndexStore.assigned(spark, s"$base/b").count())
    // the sidecar rides through append and param-less compaction
    assert(AnnIndexStore.params(s"$base/a").contains(P2))
    AnnIndexStore.compact(spark, s"$base/a", "vec_id", "embedding")
    assert(AnnIndexStore.params(s"$base/a").contains(P2))
    assert(search(s"$base/a") == search(s"$base/b"))

    // a store without the sidecar (built before params persistence)
    // refuses param-less maintenance with a clear message
    val cur = AnnIndexStore.currentPath(s"$base/b").get
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$cur/_PARAMS"))
    val e = intercept[IllegalStateException] {
      AnnIndexStore.appendDelta(spark, s"$base/b", delta, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("_PARAMS"))
  }

  test("semDedup probe on a rank-less (legacy) store: argmin fallback == the ranked store's answers") {
    val root = java.nio.file.Files.createTempDirectory("graft_semlegacy").toString + "/s"
    val stored = embs.filter($"vec_id" % 5 =!= 0)
    val delta = embs.filter($"vec_id" % 5 === 0)
    AnnIndexStore.build(spark, stored, "vec_id", "embedding", root,
      P.copy(multiAssign = 2, numBuckets = 8))
    val ranked = pairsPpm(AnnIndexStore.semDedupPairsForDelta(spark, root,
      delta, "vec_id", "embedding", minCos = 0.35))
    // new stores persist the assignment rank
    val cur = AnnIndexStore.currentPath(root).get
    val asg = graft.sources.PrunedIndex.read(spark,
      graft.fs.Fs.child(cur, "assigned")).localCheckpoint()
    assert(asg.columns.contains("rank"))
    // simulate a pre-rank store: re-land the component without the column
    graft.sources.PrunedIndex.write(asg.drop("rank"),
      graft.fs.Fs.child(cur, "assigned"), Seq("cell"), 8)
    val legacy = pairsPpm(AnnIndexStore.semDedupPairsForDelta(spark, root,
      delta, "vec_id", "embedding", minCos = 0.35))
    assert(ranked.nonEmpty && legacy == ranked)
  }

  test("streaming SemDeDup over the store: accumulated emissions == one-shot batch at the frozen centroids, across a RESTART") {
    val dir = java.nio.file.Files.createTempDirectory("graft_semstream").toString
    val root = s"$dir/store"
    val e2 = embs.select($"vec_id", $"embedding")
    def run(): Unit = {
      val stream = spark.readStream.schema(e2.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in*")
      val q = graft.streaming.SemDedupStream.startIndexed(stream,
        "vec_id", "embedding", root, s"$dir/ckpt", minCos = 0.35,
        AnnIndexStore.Params(nCells = 8, iters = 2, numBuckets = 8,
          m = 4, efConstruction = 12)) { (pairs, _) =>
        pairs.write.mode("append").parquet(s"$dir/out")
      }
      assert(q.awaitTermination(240000), "stream did not terminate in 240s")
    }
    e2.filter($"vec_id" % 2 === 0).write.parquet(s"$dir/in1")
    run()
    val v1 = AnnIndexStore.currentVersion(root)
    assert(v1.nonEmpty)
    e2.filter($"vec_id" % 2 =!= 0).write.parquet(s"$dir/in2")
    run() // restart, same checkpoint: only the new file processes
    assert(AnnIndexStore.currentVersion(root).exists(_ > v1.get))

    // telescoping: each pair is emitted exactly once (in the batch
    // where its LATER member arrived), so the union of emissions
    // equals the one-shot batch SemDeDup of everything ingested at the
    // centroids the FIRST batch froze
    val streamed = pairsPpm(spark.read.parquet(s"$dir/out"))
    val cents = AnnIndexStore.centroids(spark, root)
    val batch = pairsPpm(graft.llm.Dedup.semDedupPairsWithCentroids(
      e2, "vec_id", "embedding", cents, 0.35))
    assert(streamed.nonEmpty && streamed == batch)
    // the store absorbed every batch: params sidecar rode along and
    // the assignment holds the full corpus at the built fan-out
    assert(AnnIndexStore.params(root).exists(_.multiAssign == 2))
    assert(AnnIndexStore.assigned(spark, root)
      .select($"vec_id").distinct().count() == e2.count())
  }

  test("semDedup store probe on a HIERARCHICAL store: pairs within FINE cells == two-level batch twin") {
    import graft.functions.VectorFunctions.{cosineWithNorms, dot, norm}
    import graft.llm.HierarchicalRouting
    val root = java.nio.file.Files.createTempDirectory("graft_semstore_h").toString + "/s"
    val stored = embs.filter($"vec_id" % 5 =!= 0)
    val delta = embs.filter($"vec_id" % 5 === 0)
    val P2 = P.copy(multiAssign = 2, subCells = 2)
    AnnIndexStore.build(spark, stored, "vec_id", "embedding", root, P2)
    val probe = AnnIndexStore.semDedupPairsForDelta(spark, root, delta,
      "vec_id", "embedding", minCos = 0.35)
    val got = pairsPpm(probe)

    // independent twin: every vector's primary FINE cell through the
    // same frozen two-level rule (public assignFine over the full
    // union), then a plain within-cell pair join — no store involved
    val cents = AnnIndexStore.centroids(spark, root) // coarse
    val subCents = graft.sources.PrunedIndex.read(spark,
      graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "subcents"))
    val all = stored.unionByName(delta).select($"vec_id", $"embedding")
    val cc = Similarity.ivfAssignedIndex(all, "vec_id", "embedding", cents)
      .withColumnRenamed("cell", "coarse")
      .withColumn("v", org.apache.spark.sql.functions.transform(
        $"embedding", x => x.cast("double")))
    val fine = HierarchicalRouting.assignFine(cc, subCents,
      "vec_id", "embedding", multiAssign = 1)
    val an = fine.select($"cell", $"vec_id".as("a_id"),
      $"embedding".as("a_v"), norm($"embedding").as("a_n"))
    val bn = fine.select($"cell", $"vec_id".as("b_id"),
      $"embedding".as("b_v"), norm($"embedding").as("b_n"))
    val deltaIds = delta.select($"vec_id").as[Long].collect().toSet
    val want = pairsPpm(an.join(bn, Seq("cell")).filter($"a_id" < $"b_id")
      .withColumn("cos_sim",
        cosineWithNorms(dot($"a_v", $"b_v"), $"a_n", $"b_n"))
      .filter($"cos_sim" >= 0.35)
      .filter($"a_id".isin(deltaIds.toSeq: _*) ||
        $"b_id".isin(deltaIds.toSeq: _*)))
    assert(got.nonEmpty && got == want)
  }

  test("id-cells map: bucket-pruned append == legacy full-scan append, bit for bit (multiAssign copies included)") {
    val base = java.nio.file.Files.createTempDirectory("graft_idcells").toString
    val P2 = P.copy(multiAssign = 2, nCells = 8, numBuckets = 8)
    val v1 = embs.filter($"vec_id" % 5 =!= 0)
    // re-uploads with MOVED vectors (old cells must recompute) + new ids
    val delta = embs.filter($"vec_id".isin(1L, 17L, 41L))
      .select($"vec_id", org.apache.spark.sql.functions.reverse($"embedding").as("embedding"))
      .unionByName(embs.filter($"vec_id" % 5 === 0)
        .select($"vec_id", $"embedding"))
    def mkStore(root: String, legacy: Boolean): Unit = {
      AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P2)
      if (legacy) graft.fs.Fs.deleteRecursive(
        graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "idcells"))
      AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", P2): Unit
    }
    mkStore(s"$base/pruned", legacy = false)
    mkStore(s"$base/legacy", legacy = true)
    def assignedRows(root: String) = AnnIndexStore.assigned(spark, root)
      .collect().map(_.toString).sorted.toSeq
    assert(assignedRows(s"$base/pruned") == assignedRows(s"$base/legacy"))
    val q = embs.filter($"vec_id" < 8)
    def search(root: String) = rows(AnnIndexStore.searchGraph(spark, root, q,
      "vec_id", "embedding", k = 4, nprobe = 3, efSearch = 16))
    assert(search(s"$base/pruned").nonEmpty &&
      search(s"$base/pruned") == search(s"$base/legacy"))
  }

  test("drift baseline sidecar == legacy full re-score, through build, append (re-uploads), and compact") {
    // multiAssign = 2: the baseline must count routing copies exactly as
    // the legacy globalMean(assigned) did (each copy re-argmins to the
    // primary cell — n and sum double uniformly, the mean is unchanged)
    val root = java.nio.file.Files.createTempDirectory("graft_dbase").toString + "/s"
    val P2 = P.copy(multiAssign = 2)
    val v1 = embs.filter($"vec_id" % 5 =!= 0)
    val probe = embs.filter($"vec_id" % 7 === 0)
    def sidecar: String =
      graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "_DRIFTBASE")
    // both paths on the SAME store state: sidecar read vs (sidecar
    // removed ⇒) legacy full recompute must agree bit-for-bit
    def bothPathsAgree(): Long = {
      val fast = AnnIndexStore.driftPpm(spark, root, probe, "vec_id", "embedding")
      val sc = graft.fs.Fs.readString(sidecar)
      graft.fs.Fs.deleteRecursive(sidecar)
      val legacy = AnnIndexStore.driftPpm(spark, root, probe, "vec_id", "embedding")
      graft.fs.Fs.writeStringAtomic(sidecar, sc)
      assert(fast == legacy, s"sidecar base $fast != legacy re-score $legacy")
      fast
    }
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P2)
    assert(graft.fs.Fs.exists(sidecar), "build landed no _DRIFTBASE")
    bothPathsAgree()
    // append with re-uploads: 3 replaced ids (reversed vectors — they
    // move cells) + the genuinely-new %5==0 tail; the incremental merge
    // must subtract the replaced rows' OLD stats exactly
    val reup = embs.filter($"vec_id".isin(1L, 17L, 41L))
      .select($"vec_id", org.apache.spark.sql.functions.reverse($"embedding").as("embedding"))
      .unionByName(embs.filter($"vec_id" % 5 === 0)
        .select($"vec_id", $"embedding"))
    AnnIndexStore.appendDelta(spark, root, reup, "vec_id", "embedding", P2)
    bothPathsAgree()
    // compact carries the baseline verbatim (layout fold, same content)
    AnnIndexStore.compact(spark, root, "vec_id", "embedding", P2)
    assert(graft.fs.Fs.exists(sidecar), "compact dropped the _DRIFTBASE")
    bothPathsAgree()
  }

  test("drifted delta on a HIERARCHICAL store: recluster == fresh hierarchical build on the merged corpus") {
    val base = java.nio.file.Files.createTempDirectory("graft_hierrecl").toString
    val root = s"$base/s"; val root2 = s"$base/fresh"
    val P2 = P.copy(subCells = 2)
    val v1 = embs.select($"vec_id", $"embedding").filter($"vec_id" % 5 =!= 0)
    val delta = embs.filter($"vec_id" % 5 === 0).select($"vec_id",
      transform($"embedding", x => (x + lit(3.0f)).cast("float")).as("embedding"))
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P2)
    // param-less: the retrain must replay the persisted subCells shape
    val d = AnnIndexStore.reclusterIfDrifted(spark, root, delta,
      "vec_id", "embedding", thresholdPpm = 2000000L)
    assert(d.reclustered && AnnIndexStore.isHierarchical(root),
      s"recluster must fire (drift ${d.driftPpm}) and stay hierarchical")
    AnnIndexStore.build(spark, v1.unionByName(delta), "vec_id", "embedding", root2, P2)
    // same coarse matrix, same routed answers — the t132 parity on the
    // two-level store (sub-centroids retrained under _PARAMS)
    assert(AnnIndexStore.centroids(spark, root).map(_._2.toSeq).toSeq ==
      AnnIndexStore.centroids(spark, root2).map(_._2.toSeq).toSeq)
    val q = embs.filter($"vec_id" < 8)
    val a = rows(AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
      k = 4, nprobe = 3, efSearch = 16, nprobeCoarse = 2))
    val b = rows(AnnIndexStore.searchGraph(spark, root2, q, "vec_id", "embedding",
      k = 4, nprobe = 3, efSearch = 16, nprobeCoarse = 2))
    assert(a.nonEmpty && a == b)
  }

  test("drift baseline on a HIERARCHICAL store: sidecar == legacy re-score against the coarse matrix") {
    val root = java.nio.file.Files.createTempDirectory("graft_dbaseh").toString + "/s"
    val P2 = P.copy(multiAssign = 2, subCells = 2)
    val v1 = embs.filter($"vec_id" % 5 =!= 0)
    val delta = embs.filter($"vec_id" % 5 === 0)
    AnnIndexStore.build(spark, v1, "vec_id", "embedding", root, P2)
    AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", P2)
    val sc = graft.fs.Fs.child(AnnIndexStore.currentPath(root).get, "_DRIFTBASE")
    val probe = embs.filter($"vec_id" % 7 === 0)
    val fast = AnnIndexStore.driftPpm(spark, root, probe, "vec_id", "embedding")
    graft.fs.Fs.deleteRecursive(sc)
    val legacy = AnnIndexStore.driftPpm(spark, root, probe, "vec_id", "embedding")
    assert(fast == legacy, s"hier sidecar base $fast != legacy $legacy")
  }
}
