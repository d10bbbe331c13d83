package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Scale

class ScaleSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.isolated // mutates session state (conf/listeners)
  import spark.implicits._

  test("saltedSum equals plain groupBy sum") {
    val df = (1 to 1000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 50}", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(org.apache.spark.sql.functions.sum($"v").as("sum_v"))
      .as[(String, Double)].collect().toMap
    val salted = Scale.saltedSum(df, Seq("k"), "v", saltBuckets = 8)
      .as[(String, Double)].collect().toMap
    assert(salted.keySet == plain.keySet)
    // integer-valued doubles: sums exact, so equality is safe
    assert(salted == plain)
  }

  test("saltedJoin equals plain join when right is unique per key") {
    val left = (1 to 500).map(i => (s"k${i % 7}", i.toLong)).toDF("k", "lv")
    val right = (0 until 7).map(i => (s"k$i", s"payload$i")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).as[(String, Long, String)].collect().toSet
    val salted = Scale.saltedJoin(left, right, Seq("k"), saltBuckets = 4)
      .select("k", "lv", "rv").as[(String, Long, String)].collect().toSet
    assert(salted == plain)
  }

  test("containment df-cap bounds per-shingle join fan-out under a hot key (skew contract)") {
    import org.apache.spark.sql.functions._
    // 200 docs all sharing one boilerplate phrase: uncapped, its
    // shingles each hold 200 container rows (the skewed key a corpus
    // stop-phrase creates — one task would absorb 200·df_prefix join
    // rows); capped, NO key exceeds maxDf rows, so no task can.
    val boiler = "creative commons attribution share alike license applies here"
    val docs = (0 until 200)
      .map(i => (i.toLong, s"doc$i opening alpha$i beta$i $boiler tail$i"))
      .toDF("doc_id", "text")
    val sets = graft.llm.Dedup.containmentIndex(docs, "doc_id", "text", n = 3)
    def maxPerKey(maxDf: Int): Long =
      graft.llm.Dedup.containerSide(sets, maxDf)
        .groupBy($"shingle").count()
        .agg(max($"count")).as[Long].head()
    val maxDf = 16
    assert(maxPerKey(Int.MaxValue) == 200L, "uncapped hot key must hold all docs")
    assert(maxPerKey(maxDf) <= maxDf.toLong,
      "capped index must bound every key's fan-out at maxDf")
  }

  test("PrunedIndex: a probe reads a strict subset of index files, rows exact") {
    import graft.sources.PrunedIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx").toString
    val idx = (0 until 2000).map(i => (i.toLong, s"term${i % 97}", (i % 7 + 1).toLong))
      .toDF("doc_id", "term", "tf")
    PrunedIndex.write(idx, s"$dir/postings", Seq("term"), numBuckets = 16)
    val probe = Seq("term3", "term55", "term96").toDF("term")
    // AQE off for this check so FileSourceScanExec sits unwrapped in the
    // executed plan (partition pruning itself is AQE-independent)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
        }.get
      }
      val pruned = PrunedIndex.readPruned(spark, s"$dir/postings", probe)
      val got = pruned.as[(Long, String, Long)].collect().toSet
      val want = idx.filter($"term".isin("term3", "term55", "term96"))
        .as[(Long, String, Long)].collect().toSet
      assert(got == want && got.nonEmpty)
      val prunedFiles = filesRead(pruned)
      val fullFiles = filesRead(PrunedIndex.read(spark, s"$dir/postings"))
      assert(prunedFiles > 0 && prunedFiles < fullFiles,
        s"pruned scan read $prunedFiles of $fullFiles index files — no pruning happened")
      // and the pruning is directory-level, visible as a partition filter
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters") && p.contains(PrunedIndex.BucketCol), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("PrunedIndex: back-to-back rebuilds serve the SECOND manifest (version token, not mtime)") {
    import graft.sources.PrunedIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx_ver").toString
    val p = s"$dir/idx"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "term")
    PrunedIndex.write(v1, p, Seq("term"), numBuckets = 4)
    // populate the manifest cache from the first version
    assert(PrunedIndex.read(spark, p).count() == 2)
    // rebuild IMMEDIATELY — inside any coarse filesystem mtime granule;
    // the by-value version token must still invalidate the cached
    // manifest (an mtime check can serve v1's file list here and either
    // miss v2's rows or fail on v1's deleted files)
    val v2 = Seq((10L, "x"), (11L, "y"), (12L, "z")).toDF("doc_id", "term")
    PrunedIndex.write(v2, p, Seq("term"), numBuckets = 4)
    assert(PrunedIndex.read(spark, p).as[(Long, String)].collect().toSet ==
      Set((10L, "x"), (11L, "y"), (12L, "z")))
    val pruned = PrunedIndex.readPruned(spark, p, Seq("x").toDF("term"))
    assert(pruned.as[(Long, String)].collect().toSet == Set((10L, "x")))
    // the sidecar carries the token: 3 lines, keyCols + buckets + token
    val meta = graft.fs.Fs.readString(s"$p/_PRUNE_META").split("\n")
    assert(meta.length == 3 && meta(2).trim.nonEmpty, meta.mkString("|"))
  }

  test("PrunedIndex.read: one planned view per version; a rebuild or another session reads afresh") {
    import graft.sources.PrunedIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx_view").toString
    val p = s"$dir/idx"
    PrunedIndex.write(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "term"), p, Seq("term"), numBuckets = 4)
    val first = PrunedIndex.read(spark, p)
    assert(first.collect().length == 2)
    // a repeat read of the same version is served the planned view
    assert(PrunedIndex.read(spark, p).queryExecution eq first.queryExecution)
    // another session plans its own
    val other = spark.newSession()
    val inOther = PrunedIndex.read(other, p)
    assert((inOther.sparkSession eq other) && inOther.collect().length == 2)
    // a rebuild is a new version token: its rows, never the old view's
    PrunedIndex.write(Seq((10L, "x")).toDF("doc_id", "term"), p, Seq("term"), numBuckets = 4)
    val second = PrunedIndex.read(spark, p)
    assert(!(second.queryExecution eq first.queryExecution))
    assert(second.as[(Long, String)].collect().toSeq == Seq((10L, "x")))
  }

  test("PrunedIndex: manifest without meta (crashed write) degrades to listing, not an error") {
    import graft.sources.PrunedIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx_crash").toString
    val p = s"$dir/idx"
    PrunedIndex.write(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "term"),
      p, Seq("term"), numBuckets = 4)
    // simulate the crash window: write() lands _PRUNE_MANIFEST before
    // _PRUNE_META, so kill the meta while the manifest survives
    java.nio.file.Files.delete(java.nio.file.Paths.get(p, "_PRUNE_META"))
    // full read falls back to the directory listing — all rows, no throw
    assert(PrunedIndex.read(spark, p).count() == 2)
    // a pruned probe cannot run without the hash domain: clear hard error
    val e = intercept[IllegalStateException] {
      PrunedIndex.readPruned(spark, p, Seq("a").toDF("term"))
    }
    assert(e.getMessage.contains("_PRUNE_META"))
  }

  test("PrunedIndex.writeDelta cross-root: a new version dir stitches the base's untouched files") {
    import graft.sources.PrunedIndex
    import graft.fs.Fs
    import org.apache.spark.sql.functions.{pmod, hash, lit}
    val dir = java.nio.file.Files.createTempDirectory("graft_pidx_xroot").toString
    val v1 = (0 until 300).map(i => (i.toLong, s"k${i % 23}", i.toLong)).toDF("id", "k", "v")
    PrunedIndex.write(v1, s"$dir/v1", Seq("k"), numBuckets = 8)
    // bucket -> entries resolved to absolute paths
    def manifestEntries(path: String): Map[Int, Set[String]] =
      Fs.readString(s"$path/_PRUNE_MANIFEST").split("\n").iterator.filter(_.nonEmpty)
        .map { l => val i = l.indexOf('\t'); (l.substring(0, i).toInt, l.substring(i + 1)) }
        .map { case (b, e) => (b, if (e.startsWith("/")) e else s"$path/$e") }
        .toSeq.groupMap(_._1)(_._2).map { case (b, fs) => (b, fs.toSet) }
    // replace k7's rows + add a brand-new key: REPLACE-by-key
    val newRows = Seq((5000L, "k7", 7L), (5001L, "kNEW", 1L)).toDF("id", "k", "v")
    val probe = Seq("k7", "kNEW").toDF("k")
    val touched = probe.select(pmod(hash($"k"), lit(8)).as("b"))
      .distinct().as[Int].collect().toSet
    PrunedIndex.writeDelta(spark, s"$dir/v2", newRows, probe, basePath = s"$dir/v1")
    // untouched buckets stitch v1's files verbatim; touched buckets hold
    // only new files under v2's delta subdir (delta-bounded write I/O)
    val (before, after) = (manifestEntries(s"$dir/v1"), manifestEntries(s"$dir/v2"))
    for (b <- before.keySet ++ after.keySet; if !touched(b))
      assert(after.get(b) == before.get(b), s"untouched bucket $b rewritten")
    for (b <- touched; fs <- after.get(b); e <- fs)
      assert(e.startsWith(s"$dir/v2/delta-"), s"touched bucket $b kept old entry $e")
    // v2 holds ONLY the delta's files locally; reads stitch v1's rest
    val expect = v1.filter($"k" =!= "k7").unionByName(newRows)
      .as[(Long, String, Long)].collect().toSet
    assert(PrunedIndex.read(spark, s"$dir/v2").as[(Long, String, Long)].collect().toSet
      == expect)
    assert(PrunedIndex.readPruned(spark, s"$dir/v2", Seq("k7", "k3").toDF("k"))
      .as[(Long, String, Long)].collect().toSet ==
      expect.filter(r => r._2 == "k7" || r._2 == "k3"))
    // the base is untouched and still serves its own view
    assert(PrunedIndex.read(spark, s"$dir/v1").as[(Long, String, Long)].collect().toSet ==
      v1.as[(Long, String, Long)].collect().toSet)
    // v2's local footprint is delta-sized: every local data file is a
    // delta file (no copy of the base's untouched buckets)
    val local = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/v2"))
      .filter(java.nio.file.Files.isRegularFile(_))
      .map[String](_.toString).toArray.map(_.toString)
      .filterNot(f => f.contains("_PRUNE") || f.endsWith("_SUCCESS") || f.contains("/."))
    assert(local.nonEmpty && local.forall(_.contains("/delta-")), local.mkString(","))
    // a second delta chains off v2 (entries absolutize, no history walk)
    PrunedIndex.writeDelta(spark, s"$dir/v3",
      Seq((6000L, "k5", 1L)).toDF("id", "k", "v"), Seq("k5").toDF("k"),
      basePath = s"$dir/v2")
    val expect2 = expect.filter(_._2 != "k5") + ((6000L, "k5", 1L))
    assert(PrunedIndex.read(spark, s"$dir/v3").as[(Long, String, Long)].collect().toSet
      == expect2)
    // stray keys (not in probe) are rejected, not silently dropped
    val e = intercept[IllegalArgumentException] {
      PrunedIndex.writeDelta(spark, s"$dir/v4",
        Seq((1L, "kX", 1L)).toDF("id", "k", "v"), Seq("kY").toDF("k"),
        basePath = s"$dir/v3")
    }
    assert(e.getMessage.contains("probe"))
    // the rejected delta is never published, and its base reads the same
    assert(!Fs.exists(s"$dir/v4/_PRUNE_META"))
    assert(PrunedIndex.read(spark, s"$dir/v3").as[(Long, String, Long)].collect().toSet
      == expect2)
  }

  test("near-dup index: probe reads are bucket-bounded, append rewrites only touched shingle buckets") {
    import graft.llm.{NearDupIndexStore => Store}
    val dir = java.nio.file.Files.createTempDirectory("graft_ndscale").toString
    val root = s"$dir/idx"
    // disjoint per-doc vocabularies → each doc's prefix shingles land in
    // a few buckets; doc 7 gets a near-dup partner in the delta
    def text(i: Int): String =
      (0 until 12).map(j => s"w${i}x$j").mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    Store.build(spark, docs, "doc_id", "text", root, numBuckets = 16)
    val v1 = Store.currentPath(root).get

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val delta = Seq((1000L, text(7))).toDF("doc_id", "text")
      val res = Store.pairsForDelta(spark, root, delta, "doc_id", "text")
      // collect res ITSELF so its executedPlan's metrics populate
      assert(res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((7L, 1000L)))
      // the verify-side sets read is probe-bounded: only the candidate
      // partner's bucket is scanned, a strict subset of the sets files
      def scanFiles(frag: String): Long =
        res.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
            s.metrics("numFiles").value
        }.sum
      val setsTotal = graft.fs.Fs.list(s"$v1/sets").count { f =>
        f.isDirectory && f.getPath.getName.startsWith(
          graft.sources.PrunedIndex.BucketCol + "=")
      }
      val setsRead = scanFiles("/sets")
      assert(setsRead > 0 && setsRead < setsTotal,
        s"verify read $setsRead of >=$setsTotal sets buckets — not probe-bounded")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // maintenance write I/O is delta-bounded: untouched shingle buckets'
    // manifest entries are carried over verbatim, new files land only
    // under a delta-*/ subdir
    def manifest(p: String): Map[Int, Seq[String]] =
      graft.fs.Fs.readString(s"$p/_PRUNE_MANIFEST").split("\n").filter(_.nonEmpty)
        .map { l => val Array(b, f) = l.split("\t", 2); (b.toInt, f) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val before = manifest(s"$v1/prefix")
    Store.appendDelta(spark, root,
      Seq((2000L, text(31))).toDF("doc_id", "text"), "doc_id", "text")
    val after = manifest(s"${Store.currentPath(root).get}/prefix")
    val changed = after.keySet.filter(b => before.get(b).map(_.map(_.split("/").last))
      != Some(after(b).map(_.split("/").last)))
    assert(changed.nonEmpty && changed.size < before.size,
      s"append touched ${changed.size} of ${before.size} prefix buckets")
    assert(changed.forall(b => after(b).forall(_.contains("delta-"))),
      s"touched buckets' files not under delta-*/: ${changed.map(after)}")
    // and the appended doc is findable afterwards
    val res2 = Store.pairsForDelta(spark,
      root, Seq((3000L, text(31))).toDF("doc_id", "text"), "doc_id", "text")
    assert(res2.select("a_id", "b_id").as[(Long, Long)].collect().toSet ==
      Set((2000L, 3000L), (31L, 3000L)))
  }

  test("winnowing index: probe reads are bucket-bounded, append rewrites only touched fp buckets") {
    import graft.llm.{NearDupIndexStore => Store}
    val dir = java.nio.file.Files.createTempDirectory("graft_wscale").toString
    val root = s"$dir/idx"
    // disjoint per-doc vocabularies → each doc's fingerprints land in a
    // few buckets; doc 7 gets a near-copy partner in the delta
    def text(i: Int): String =
      (0 until 24).map(j => s"w${i}word$j").mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    // 64 buckets: a doc yields ~25 uniformly-hashed fingerprints, so
    // its bucket set is a strict subset only when buckets >> fps-per-doc
    Store.build(spark, docs, "doc_id", "text", root, numBuckets = 64,
      winnowing = Some((12, 8)), jaccard = false)
    def win = s"${Store.currentPath(root).get}/win"

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val delta = Seq((1000L, text(7))).toDF("doc_id", "text")
      val res = Store.winnowingPairsForDelta(spark, root, delta,
        "doc_id", "text", minShared = 2, maxDf = 50)
      // collect res ITSELF so its executedPlan's metrics populate
      assert(res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((7L, 1000L)))
      // the candidate-side postings read is probe-bounded: only the
      // delta's fp buckets are scanned, a strict subset of the files
      def scanFiles(frag: String): Long =
        res.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
            s.metrics("numFiles").value
        }.sum
      def bucketDirs(p: String): Int = graft.fs.Fs.list(p).count { f =>
        f.isDirectory && f.getPath.getName.startsWith(
          graft.sources.PrunedIndex.BucketCol + "=")
      }
      val postRead = scanFiles("/postings")
      assert(postRead > 0 && postRead < bucketDirs(s"$win/postings"),
        s"probe read $postRead of >=${bucketDirs(s"$win/postings")} postings buckets — not probe-bounded")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // maintenance write I/O is delta-bounded: untouched fp buckets'
    // manifest entries carry over verbatim, new files land only under
    // a delta-*/ subdir
    def manifest(p: String): Map[Int, Seq[String]] =
      graft.fs.Fs.readString(s"$p/_PRUNE_MANIFEST").split("\n").filter(_.nonEmpty)
        .map { l => val Array(b, f) = l.split("\t", 2); (b.toInt, f) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    for (comp <- Seq("postings", "dfcensus")) {
      val before = manifest(s"$win/$comp")
      Store.appendDelta(spark, root,
        Seq((2000L, text(31))).toDF("doc_id", "text"), "doc_id", "text")
      val after = manifest(s"$win/$comp")
      val changed = after.keySet.filter(b => before.get(b).map(_.map(_.split("/").last))
        != Some(after(b).map(_.split("/").last)))
      assert(changed.nonEmpty && changed.size < before.size,
        s"append touched ${changed.size} of ${before.size} $comp buckets")
      assert(changed.forall(b => after(b).forall(_.contains("delta-"))),
        s"touched $comp buckets' files not under delta-*/")
    }
    // and the appended doc is findable afterwards
    val res2 = Store.winnowingPairsForDelta(spark, root,
      Seq((3000L, text(31))).toDF("doc_id", "text"), "doc_id", "text",
      minShared = 2, maxDf = 50)
    assert(res2.select("a_id", "b_id").as[(Long, Long)].collect().toSet ==
      Set((2000L, 3000L), (31L, 3000L)))
  }

  test("minhash band index: probe reads are bucket-bounded, append rewrites only touched band buckets") {
    import graft.llm.{NearDupIndexStore => Store}
    val dir = java.nio.file.Files.createTempDirectory("graft_mhscale").toString
    val root = s"$dir/idx"
    def text(i: Int): String =
      (0 until 24).map(j => s"m${i}tok$j").mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    // 16 band keys per doc over 64 buckets → strict-subset bucket sets
    Store.build(spark, docs, "doc_id", "text", root, numBuckets = 64,
      minhash = Some((64, 16)))
    val v1 = Store.currentPath(root).get

    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val delta = Seq((1000L, text(7))).toDF("doc_id", "text")
      val res = Store.minhashPairsForDelta(spark, root, delta,
        "doc_id", "text", threshold = 0.5)
      // collect res ITSELF so its executedPlan's metrics populate
      assert(res.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((7L, 1000L)))
      def scanFiles(df: org.apache.spark.sql.DataFrame, frag: String): Long =
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
            s.metrics("numFiles").value
        }.sum
      def bucketDirs(p: String): Int = graft.fs.Fs.list(p).count { f =>
        f.isDirectory && f.getPath.getName.startsWith(
          graft.sources.PrunedIndex.BucketCol + "=")
      }
      // the verify-side sets read sits in the final plan (the candidate
      // side lands behind an eager localCheckpoint, same as the jaccard
      // probe): strict subset
      val setsRead = scanFiles(res, "/sets")
      assert(setsRead > 0 && setsRead < bucketDirs(s"$v1/sets"),
        s"verify read $setsRead of >=${bucketDirs(s"$v1/sets")} sets buckets — not probe-bounded")
      // the band read happens inside the checkpointed candidate stage;
      // gate it through the identical pruned-read path with the same
      // probe keys (one band-key row per (band, slice-hash) of the doc)
      val deltaBandKeys = graft.llm.Dedup
        .minHashBandIndex(delta, "doc_id", "text", n = 3, numHashes = 64, bands = 16)
        .select($"band", $"bkey")
      val pruned = graft.sources.PrunedIndex.readPruned(spark,
        s"$v1/bands", deltaBandKeys)
      pruned.collect(): Unit
      val bandsRead = scanFiles(pruned, "/bands")
      assert(bandsRead > 0 && bandsRead < bucketDirs(s"$v1/bands"),
        s"probe read $bandsRead of >=${bucketDirs(s"$v1/bands")} band buckets — not probe-bounded")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    // maintenance write I/O is delta-bounded on the band component
    def manifest(p: String): Map[Int, Seq[String]] =
      graft.fs.Fs.readString(s"$p/_PRUNE_MANIFEST").split("\n").filter(_.nonEmpty)
        .map { l => val Array(b, f) = l.split("\t", 2); (b.toInt, f) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val before = manifest(s"$v1/bands")
    Store.appendDelta(spark, root,
      Seq((2000L, text(31))).toDF("doc_id", "text"), "doc_id", "text")
    val after = manifest(s"${Store.currentPath(root).get}/bands")
    val changed = after.keySet.filter(b => before.get(b).map(_.map(_.split("/").last))
      != Some(after(b).map(_.split("/").last)))
    assert(changed.nonEmpty && changed.size < before.size,
      s"append touched ${changed.size} of ${before.size} band buckets")
    assert(changed.forall(b => after(b).forall(_.contains("delta-"))),
      s"touched band buckets' files not under delta-*/")
    // and the appended doc is findable afterwards
    val res3 = Store.minhashPairsForDelta(spark, root,
      Seq((3000L, text(31))).toDF("doc_id", "text"), "doc_id", "text",
      threshold = 0.5)
    assert(res3.select("a_id", "b_id").as[(Long, Long)].collect().toSet ==
      Set((2000L, 3000L), (31L, 3000L)))
  }

  test("containment probe derives the post-delta order WITHOUT a census scan (untouched census buckets never opened)") {
    import graft.llm.Dedup
    import graft.fs.Fs
    import org.apache.spark.sql.functions.{col, explode, hash, lit, pmod}
    val dir = java.nio.file.Files.createTempDirectory("graft_cthscale").toString
    val root = s"$dir/idx"
    // paired vocabularies: docs i and i+30 share text(i%30), so every
    // shingle has df = 2 and the maintained head is non-trivial
    def text(i: Int): String = (0 until 12).map(j => s"c${i}q$j").mkString(" ")
    val docs = (0 until 60).map(i => (i.toLong, text(i % 30))).toDF("doc_id", "text")
    Dedup.writeContainmentIndex(spark, docs, "doc_id", "text", root, numBuckets = 64)
    // the probe's only census I/O is the delta's touched buckets plus
    // the tiny cthead parquet — PROVE it behaviorally: delete every
    // untouched census bucket's data files; a full-scan head derivation
    // (the pre-r18 path) would now throw FileNotFound, the incremental
    // path never opens them
    val delta = Seq((1000L, text(7))).toDF("doc_id", "text")
    val touched = Dedup.containmentIndex(delta, "doc_id", "text", 3)
      .select(explode(col("sh")).as("shingle"))
      .select(pmod(hash(col("shingle")), lit(64)).as("b"))
      .distinct().as[Int].collect().toSet
    val bucketPrefix = graft.sources.PrunedIndex.BucketCol + "="
    var deleted = 0
    Fs.list(s"$root/dfcensus").filter(f => f.isDirectory &&
        f.getPath.getName.startsWith(bucketPrefix))
      .foreach { f =>
        val b = f.getPath.getName.stripPrefix(bucketPrefix).toInt
        if (!touched(b)) {
          Fs.list(f.getPath.toString).filterNot(_.getPath.getName.startsWith("_"))
            .foreach { df => Fs.deleteRecursive(df.getPath.toString); deleted += 1 }
        }
      }
    assert(deleted > 0, "scenario must actually remove untouched census files")
    // the deletion is REAL: a full census read now fails...
    intercept[Exception] {
      graft.sources.PrunedIndex.read(spark, s"$root/dfcensus").collect()
    }
    // ...yet the probe answers exactly (doc 1000 == docs 7 and 37)
    val res = Dedup.containmentDeltaPairsIndexed(spark, root, delta,
        "doc_id", "text", maxDf = 16)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(res == Set((1000L, 7L), (1000L, 37L), (7L, 1000L), (37L, 1000L)))
    Dedup.releaseIndexedProbeCache(root, delta, "doc_id", "text")
  }

  test("cell-bucketed ANN probe reads a strict subset of assignment files") {
    import graft.llm.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft_annprune").toString
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kMeansCentroids(embs, "vec_id", "embedding", 8, 2)
    Similarity.writeAssignedPruned(
      Similarity.ivfAssignedIndex(embs, "vec_id", "embedding", cents),
      "vec_id", "embedding", s"$dir/a", numBuckets = 8)
    val q = embs.filter($"vec_id" < 3)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // sum numFiles over only the scans of the assignment layout (the
      // query frame scans embeddings.parquet through the same plan)
      def indexFilesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(s"$dir/a")) =>
            s.metrics("numFiles").value
        }.sum
      }
      val pruned = indexFilesRead(Similarity.ivfSearchPrunedAdaptive(
        spark, s"$dir/a", cents, q, "vec_id", "embedding",
        k = 3, minProbe = 1, maxProbe = 2))
      val full = indexFilesRead(
        graft.sources.PrunedIndex.read(spark, s"$dir/a"))
      assert(pruned > 0 && pruned < full,
        s"ANN probe read $pruned of $full assignment files — no pruning happened")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("embedding-LSH indexed probe reads a strict subset of bands AND byvec files") {
    import graft.llm.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft_elshprune").toString
    val root = s"$dir/idx"
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    Dedup.writeEmbeddingLshIndex(spark, embs.filter($"vec_id" >= 10),
      "vec_id", "embedding", root, numBits = 32, bandBits = 8,
      seed = 42L, numBuckets = 16)
    val delta = embs.filter($"vec_id" < 3)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // the candidate frame is referenced several times (its lineage is
      // deliberately kept so the pruned scan is observable), so the
      // same pruned bands scan appears more than once in the plan —
      // gate on the PER-SCAN file count, not the sum
      def filesRead(df: org.apache.spark.sql.DataFrame, frag: String): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
            s.metrics("numFiles").value
        }.max
      }
      val probe = Dedup.embeddingLshDeltaPairsIndexed(spark, root, delta,
        "vec_id", "embedding", threshold = 0.30)
      val bandsRead = filesRead(probe, "/bands")
      val byvecRead = filesRead(probe, "/byvec")
      val bandsTotal = filesRead(
        graft.sources.PrunedIndex.read(spark, s"$root/bands"), "/bands")
      val byvecTotal = filesRead(
        graft.sources.PrunedIndex.read(spark, s"$root/byvec"), "/byvec")
      assert(bandsRead > 0 && bandsRead < bandsTotal,
        s"bands: read $bandsRead of $bandsTotal — no pruning")
      assert(byvecRead > 0 && byvecRead < byvecTotal,
        s"byvec: read $byvecRead of $byvecTotal — no pruning")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("semDedup store probe reads a strict subset of assignment files") {
    import graft.llm.AnnIndexStore
    val dir = java.nio.file.Files.createTempDirectory("graft_semprune").toString
    val root = s"$dir/s"
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    AnnIndexStore.build(spark, embs.filter($"vec_id" >= 10), "vec_id", "embedding",
      root, AnnIndexStore.Params(nCells = 8, iters = 2, numBuckets = 8, m = 4,
        efConstruction = 12))
    // a 10-vector delta routes to few cells; only their buckets may load
    val delta = embs.filter($"vec_id" < 10)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def indexFilesRead(df: org.apache.spark.sql.DataFrame): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains("/assigned")) =>
            s.metrics("numFiles").value
        }.sum
      }
      val pruned = indexFilesRead(AnnIndexStore.semDedupPairsForDelta(
        spark, root, delta, "vec_id", "embedding", minCos = 0.35))
      val full = indexFilesRead(AnnIndexStore.assigned(spark, root))
      assert(pruned > 0 && pruned < full,
        s"semDedup probe read $pruned of $full assignment files — no pruning happened")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("hierarchical ANN probe reads a strict subset at BOTH routing levels (subcents and assignment)") {
    import graft.llm.AnnIndexStore
    val dir = java.nio.file.Files.createTempDirectory("graft_hierprune").toString
    val root = s"$dir/s"
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // 8 coarse × 2 sub = 16 fine cells over 8 buckets per component
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", root,
      AnnIndexStore.Params(nCells = 8, iters = 2, numBuckets = 8, m = 4,
        efConstruction = 12, subCells = 2))
    val q = embs.filter($"vec_id" < 2)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def filesRead(df: org.apache.spark.sql.DataFrame, frag: String): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
            s.metrics("numFiles").value
        }.sum
      }
      val cur = AnnIndexStore.currentPath(root).get
      // level 1: routing reads only the probed coarse cells' subcent
      // buckets — a strict subset of the component's files
      // driverRouteCap = 0 forces the DISTRIBUTED ranking shape — this
      // gate pins the scale path's file-level pruning (the driver-side
      // fast path reads the same pruned buckets; parity is pinned in
      // AnnIndexStoreSpec)
      val routed = graft.llm.HierarchicalRouting.routeQueries(spark,
        graft.fs.Fs.child(cur, "subcents"), AnnIndexStore.centroids(spark, root),
        q, "vec_id", "embedding", nprobeCoarse = 2, nprobe = 3,
        driverRouteCap = 0)
      val subRead = filesRead(routed, "/subcents")
      val subTotal = filesRead(
        graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(cur, "subcents")),
        "/subcents")
      assert(subRead > 0 && subRead < subTotal,
        s"routing read $subRead of $subTotal subcent files — not probe-bounded")
      // level 2: the graph search reads only the routed FINE cells'
      // assignment/edge buckets
      val res = AnnIndexStore.searchGraph(spark, root, q, "vec_id", "embedding",
        k = 3, nprobe = 3, efSearch = 16, nprobeCoarse = 2)
      val asgRead = filesRead(res, "/assigned")
      val asgTotal = filesRead(
        graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(cur, "assigned")),
        "/assigned")
      assert(asgRead > 0 && asgRead < asgTotal,
        s"search read $asgRead of $asgTotal assignment files — not probe-bounded")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("PQ re-rank vector fetch reads a strict subset of the id-keyed vecsbyid buckets") {
    import graft.llm.AnnIndexStore
    val dir = java.nio.file.Files.createTempDirectory("graft_pqfetch").toString
    val root = s"$dir/s"
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    AnnIndexStore.build(spark, embs, "vec_id", "embedding", root,
      AnnIndexStore.Params(nCells = 8, iters = 2, numBuckets = 8, m = 4,
        efConstruction = 12, multiAssign = 1, pqM = 8, pqKsub = 16,
        idBuckets = 64))
    val q = embs.filter($"vec_id" < 2)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def filesRead(df: org.apache.spark.sql.DataFrame, frag: String): Long = {
        df.collect()
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(frag)) =>
            s.metrics("numFiles").value
        }.sum
      }
      val cur = AnnIndexStore.currentPath(root).get
      // the re-rank fetches k·refine = 6 ids per query: at 64 id
      // buckets that is a handful of files, never the probed cells'
      // raw vectors (let alone the component's full file set)
      val res = AnnIndexStore.searchPq(spark, root, q, "vec_id", "embedding",
        k = 3, nprobe = 2, refine = 2)
      val vRead = filesRead(res, "/vecsbyid")
      val vTotal = filesRead(
        graft.sources.PrunedIndex.read(spark, graft.fs.Fs.child(cur, "vecsbyid")),
        "/vecsbyid")
      assert(vRead > 0 && vRead < vTotal,
        s"re-rank read $vRead of $vTotal vecsbyid files — not shortlist-bounded")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("bucketed join plans without an exchange on either side") {
    // warehouse dir is a static conf; tables land in ./spark-warehouse
    // (gitignored) — fine for a plan-shape check
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Scale.bucketizeForJoin(o.select("o_orderkey", "o_totalprice"), "b_orders", Seq("o_orderkey"), 4)
    Scale.bucketizeForJoin(l.select("l_orderkey", "l_quantity"), "b_lineitem", Seq("l_orderkey"), 4)
    // force a sort-merge join (broadcast would bypass buckets at this size)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), $"l_orderkey" === $"o_orderkey")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), p)
      assert(!p.contains("Exchange hashpartitioning"), p) // no shuffle on either side
      assert(joined.count() == l.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("Zipf-skewed join: AQE splits the hot partition, answers unchanged (t159's shape)") {
    import org.apache.spark.sql.functions._
    // .repartition(8): AQE splits a skewed reduce partition along MAP
    // output boundaries — a single-mapper stage (sf0.01 is one parquet
    // file) leaves nothing to split and the rule reports zero skew.
    // Production inputs have thousands of mappers; the test gives the
    // fact side eight so the split is observable at this scale.
    val l = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .repartition(8)
      .withColumn("fk", when(pmod($"l_orderkey", lit(100)) < 90, lit(1L))
        .otherwise($"l_orderkey"))
      .select($"fk", $"l_extendedprice")
    val o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
      .select($"o_orderkey", $"o_orderpriority")
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.join(o, df("fk") === o("o_orderkey"))
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_li"),
          sum(round($"l_extendedprice" * 100).cast("long")).as("cents"))
    val keep = Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // ~90 % of the fact side hashes to one key: force the shuffled
      // join shape (no broadcast escape hatch) and thresholds at which
      // the hot partition is unambiguously skewed at sf0.01
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val skewed = agg(l)
      // collect on THIS Dataset (an .as[...] would fork a fresh, never-
      // executed QueryExecution) — the final adaptive plan carries the
      // skew-split marks only after execution
      val got = skewed.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val plan = skewed.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not mark/split the skewed join:\n$plan")
      // and splitting never changes answers: AQE off, same aggregate
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val want = agg(l).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(got.nonEmpty && got == want)
    } finally keep.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("ledger-diff candidates are churn-proportional on a small batch (the bounded except's input)") {
    import org.apache.spark.sql.functions._
    import graft.llm.{Curation, Dedup, TextAnalysis}
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = d.filter($"doc_id" =!= 3L)
    val bench = d.filter($"doc_id" % 50 === 0)
    // a 2-doc batch: one re-upload, one new id — the benign steady state
    val delta = d.filter($"doc_id" === 3L).unionByName(
      d.filter($"doc_id" === 7L).select(($"doc_id" + 300000L).as("doc_id"),
        concat_ws(" ", reverse(split($"text", " "))).as("text"),
        $"lang", $"source", $"n_chars"))
    val root = java.nio.file.Files.createTempDirectory("graft_candbound").toString
    val prevLedger = Curation.fullPipelineLedger(old, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
      .localCheckpoint()
    val st = Curation.buildStateIndexed(spark, old, "doc_id", "text",
      "n_chars", "source", bench, "text", s"$root/idx", numBuckets = 16)
    val prevCounts = Curation.qualitySourceCounts(prevLedger, st.thin,
      "doc_id", "source")
    val merged = Curation.mergeStateIndexed(spark, st, s"$root/idx", delta,
      "doc_id", "text", "n_chars", "source")
    // the probe is order-independent with the append (documented on
    // mergeStateIndexed), so the post-append probe is the batch's pairs
    val deltaPairs = graft.llm.NearDupIndexStore.pairsForDelta(spark, s"$root/idx",
      delta, "doc_id", "text")
    // post quality, from the public stage pieces
    val survIds = Dedup.dedupByPairsKeepBest(merged.thin, "doc_id", "n_chars",
      merged.pairs, "a_id", "b_id").select($"doc_id")
    val scores = TextAnalysis.unigramLogProbPpmFromCensus(merged.census, "doc_id")
      .localCheckpoint()
    val qualIds = scores.filter($"avg_logprob_ppm" >= -4930000L).select($"doc_id")
    val quality = merged.thin
      .join(survIds.join(merged.cleanIds, Seq("doc_id"), "left_semi"),
        Seq("doc_id"), "left_semi")
      .join(qualIds, Seq("doc_id"), "left_semi")
    val cands = Curation.ledgerChangeCandidates(st, delta, deltaPairs,
      merged.census, scores, quality, prevCounts, "doc_id", "text", "source",
      minAvgLogProbPpm = -4930000L, targetPpm = 300000L)
    val n = cands.count(); val corpus = merged.thin.count()
    // churn-proportional: a 2-doc batch over ~500 docs must not drag a
    // corpus-sized candidate set into the diff (the bands are narrow
    // when the batch barely moves N and the quotas)
    assert(n < corpus / 5, s"candidates $n of $corpus — not churn-bounded")
    graft.llm.NearDupIndexStore.releaseProbeCache(s"$root/idx", delta, "doc_id", "text")
    spark.catalog.clearCache()
  }

  test("ANN appendDelta reads only touched buckets — untouched assignment/graph data can be GONE") {
    import graft.llm.AnnIndexStore
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_appendprune").toString
    val p = AnnIndexStore.Params(nCells = 16, iters = 2, numBuckets = 16,
      m = 4, efConstruction = 12)
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val v1 = embs.filter($"vec_id" >= 5)
    val delta = embs.filter($"vec_id" < 5).select($"vec_id", $"embedding")
    // twin stores: one mutilated, one intact (the answer reference)
    Seq("s", "ref").foreach(n => AnnIndexStore.build(spark, v1,
      "vec_id", "embedding", s"$dir/$n", p))
    val root = s"$dir/s"; val cur = AnnIndexStore.currentPath(root).get
    // the buckets the append may touch: the delta's assigned cells ∪
    // (none re-uploaded here — new ids), hashed like the layout
    val touchedBuckets = graft.llm.Similarity.ivfAssignedIndexMulti(delta,
        "vec_id", "embedding", AnnIndexStore.centroids(spark, root),
        p.multiAssign)
      .select(pmod(hash($"cell"), lit(16)).as("b"))
      .distinct().as[Int].collect().toSet
    val bucketPrefix = graft.sources.PrunedIndex.BucketCol + "="
    var deleted = 0
    Seq("assigned", "graph").foreach { comp =>
      graft.fs.Fs.list(s"$cur/$comp").filter(f => f.isDirectory &&
          f.getPath.getName.startsWith(bucketPrefix))
        .foreach { f =>
          val b = f.getPath.getName.stripPrefix(bucketPrefix).toInt
          if (!touchedBuckets(b)) {
            graft.fs.Fs.list(f.getPath.toString)
              .filterNot(_.getPath.getName.startsWith("_"))
              .foreach { df =>
                graft.fs.Fs.deleteRecursive(df.getPath.toString); deleted += 1 }
          }
        }
    }
    assert(deleted > 0, "scenario must actually remove untouched files")
    intercept[Exception] { AnnIndexStore.assigned(spark, root).collect() }
    // the append neither needs nor notices the deleted buckets...
    AnnIndexStore.appendDelta(spark, root, delta, "vec_id", "embedding", p)
    // ...and the delta-bounded probe over the new version answers
    // exactly like the intact twin (same build inputs → same store)
    AnnIndexStore.appendDelta(spark, s"$dir/ref", delta, "vec_id", "embedding", p)
    def probe(r: String) = AnnIndexStore.semDedupPairsForDelta(spark, r,
        delta, "vec_id", "embedding", minCos = 0.2)
      .select($"a_id", $"b_id", floor($"cos_sim" * 1e6).cast("long"))
      .collect().map(_.toString).sorted.toSeq
    assert(probe(root) == probe(s"$dir/ref"))
  }

  test("ANN drift check reads version meta + delta only — assignment buckets can be GONE") {
    import graft.llm.AnnIndexStore
    val dir = java.nio.file.Files.createTempDirectory("graft_driftmeta").toString
    val root = s"$dir/s"
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    AnnIndexStore.build(spark, embs.filter($"vec_id" % 5 =!= 0),
      "vec_id", "embedding", root,
      AnnIndexStore.Params(nCells = 8, iters = 2, numBuckets = 8, m = 4,
        efConstruction = 12))
    val delta = embs.filter($"vec_id" % 5 === 0)
    val before = AnnIndexStore.driftPpm(spark, root, delta, "vec_id", "embedding")
    // prove behaviorally (the census-head idiom): physically delete
    // EVERY assignment bucket's data files — the baseline lives in the
    // _DRIFTBASE sidecar, so the per-batch drift check must not notice
    val cur = AnnIndexStore.currentPath(root).get
    val bucketPrefix = graft.sources.PrunedIndex.BucketCol + "="
    var deleted = 0
    graft.fs.Fs.list(s"$cur/assigned").filter(f => f.isDirectory &&
        f.getPath.getName.startsWith(bucketPrefix))
      .foreach { f =>
        graft.fs.Fs.list(f.getPath.toString).filterNot(_.getPath.getName.startsWith("_"))
          .foreach { df => graft.fs.Fs.deleteRecursive(df.getPath.toString); deleted += 1 }
      }
    assert(deleted > 0, "scenario must actually remove assignment files")
    intercept[Exception] {
      AnnIndexStore.assigned(spark, root).collect()
    }
    assert(AnnIndexStore.driftPpm(spark, root, delta, "vec_id", "embedding") == before,
      "drift check touched the (deleted) assignment buckets or drifted in value")
    // the legacy path (sidecar removed) NEEDS those buckets — proving
    // the sidecar is what made the check metadata-only
    graft.fs.Fs.deleteRecursive(graft.fs.Fs.child(cur, "_DRIFTBASE"))
    intercept[Exception] {
      AnnIndexStore.driftPpm(spark, root, delta, "vec_id", "embedding")
    }
  }

  test("curation-ledger store absorb reads only candidate buckets — " +
      "untouched data in EVERY component can be GONE") {
    import org.apache.spark.sql.functions._
    import graft.llm.{CurationLedgerStore, TextAnalysis}
    import graft.sources.PrunedIndex
    val dir = java.nio.file.Files.createTempDirectory("graft_curstoreprune").toString
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = d.filter($"doc_id" % 50 === 0)
    val p = CurationLedgerStore.Params(idCol = "doc_id", textCol = "text",
      scoreCol = "n_chars", sourceCol = "source",
      neardupBuckets = 16, idBuckets = 8, tokBuckets = 8)
    // twin stores: one mutilated, one intact (the answer reference)
    Seq("s", "ref").foreach(n =>
      CurationLedgerStore.build(spark, d, bench, "text", s"$dir/$n", p))
    val root = s"$dir/s"
    val cur = CurationLedgerStore.currentPath(root).get

    // the steady-state batch: two re-uploads appending one never-seen
    // token, chosen pair-free and BELOW the quality floor — a rare
    // token only pushes the average log-prob further down, so their
    // quality membership (hence the quotas, hence the hash bands) is
    // UNCHANGED by construction and the absorb must read NO mixhash
    // file at all
    val floorQ = -4930000L
    val edgeSrcs = PrunedIndex.read(spark, s"$cur/edges")
      .select($"src").distinct().as[Long].collect().toSet
    val bandRows = PrunedIndex.read(spark, s"$cur/bands").localCheckpoint()
    val deltaPick = bandRows
      .filter($"score_ppm" < lit(floorQ))
      .select($"id").as[Long].collect().filterNot(edgeSrcs).sorted.take(2)
    assert(deltaPick.length == 2, "scenario needs two pair-free below-floor docs")
    val delta = d.filter($"doc_id".isin(deltaPick: _*))
      .select($"doc_id", concat($"text", lit(" zzqx")).as("text"),
        $"lang", $"source", $"n_chars")
      .localCheckpoint()
    val deltaIds = deltaPick.toSet

    // ---- test-side candidate SUPERSET from the store's own components
    //      (the implementation reading outside it is the regression this
    //      gate exists to catch) ----
    val censusAll = PrunedIndex.read(spark, s"$cur/census").localCheckpoint()
    val deltaOldCensus = censusAll.filter($"id".isin(deltaPick: _*))
    val deltaNewCensus = TextAnalysis.unigramCensus(delta, "doc_id", "text")
    val touchedToks = deltaOldCensus.select($"tok")
      .unionByName(deltaNewCensus.select($"tok")).distinct()
      .as[String].collect().toSet
    val vocabAll = PrunedIndex.read(spark, s"$cur/vocab").localCheckpoint()
    val nPrev = vocabAll.agg(sum($"c")).as[Long].collect()(0)
    val dSum = Option(deltaNewCensus.agg(sum($"n")).collect()(0).get(0))
      .fold(0L)(_.asInstanceOf[Long])
    val rSum = Option(deltaOldCensus.agg(sum($"n")).collect()(0).get(0))
      .fold(0L)(_.asInstanceOf[Long])
    val nPost = nPrev + dSum - rSum
    val u = math.abs(math.log(nPrev.toDouble / nPost.toDouble) / math.log(2.0)) * 1e6
    val bound = math.ceil(u).toLong + 3
    val bK = bound // the build's B ledger starts at 0
    def lp(c: Long, n: Long): Long =
      math.floor(math.log(c.toDouble / n.toDouble) / math.log(2.0) * 1e6 + 1e-4).toLong
    val dByTok = deltaNewCensus.groupBy($"tok").agg(sum($"n").as("dn"))
      .as[(String, Long)].collect().toMap
    val rByTok = deltaOldCensus.groupBy($"tok").agg(sum($"n").as("rn"))
      .as[(String, Long)].collect().toMap
    val cPrevByTok = vocabAll.filter($"tok".isin(touchedToks.toSeq: _*))
      .as[(String, Long)].collect().toMap
    val sigToks = touchedToks.filter { t =>
      val cprev = cPrevByTok.getOrElse(t, 0L)
      val cpost = cprev + dByTok.getOrElse(t, 0L) - rByTok.getOrElse(t, 0L)
      cprev > 0L && cpost > 0L && math.abs(lp(cpost, nPost) - lp(cprev, nPrev)) >= bound
    }
    val censusTokAll = PrunedIndex.read(spark, s"$cur/censustok").localCheckpoint()
    val sigDocIds = censusTokAll.filter($"tok".isin(sigToks.toSeq: _*))
      .select($"id").as[Long].collect().toSet
    val bandIds = bandRows.filter(abs($"score_ppm" - lit(floorQ)) <= bK)
      .select($"id").as[Long].collect().toSet
    // pair-free delta ⇒ reach == delta; the superset every absorb read
    // must stay inside
    val keptIds = deltaIds ++ sigDocIds ++ bandIds
    val keptToks = touchedToks ++
      censusAll.filter($"id".isin(keptIds.toSeq: _*))
        .select($"tok").as[String].collect().toSet
    val w = p.scoreBandPpm
    val keptBands = (Math.floorDiv(floorQ - bK, w) to Math.floorDiv(floorQ + bK, w)).toSet

    // ---- mutilate: delete every data file outside the kept buckets,
    //      in EVERY component ----
    def bucketsOf(keys: org.apache.spark.sql.DataFrame, nb: Int): Set[Int] =
      if (keys.isEmpty) Set.empty
      else keys.select(pmod(hash(col(keys.columns.head)), lit(nb)).as("b"))
        .distinct().as[Int].collect().toSet
    val keptIdsDf = keptIds.toSeq.toDF("k")
    val keep: Map[String, Set[Int]] = Map(
      "thin" -> bucketsOf(keptIdsDf, p.idBuckets),
      "census" -> bucketsOf(keptIdsDf, p.idBuckets),
      "ledger" -> bucketsOf(keptIdsDf, p.idBuckets),
      "edges" -> bucketsOf(keptIdsDf, p.idBuckets),
      "vocab" -> bucketsOf(keptToks.toSeq.toDF("k"), p.tokBuckets),
      "censustok" -> bucketsOf(sigToks.toSeq.toDF("k"), p.tokBuckets),
      "bands" -> bucketsOf(keptBands.toSeq.toDF("k"), p.tokBuckets),
      "mixhash" -> Set.empty[Int])
    val bucketPrefix = PrunedIndex.BucketCol + "="
    var deleted = 0
    keep.foreach { case (comp, keepB) =>
      graft.fs.Fs.list(s"$cur/$comp").filter(f => f.isDirectory &&
          f.getPath.getName.startsWith(bucketPrefix))
        .foreach { f =>
          val b = f.getPath.getName.stripPrefix(bucketPrefix).toInt
          if (!keepB(b)) {
            graft.fs.Fs.list(f.getPath.toString)
              .filterNot(_.getPath.getName.startsWith("_"))
              .foreach { df =>
                graft.fs.Fs.deleteRecursive(df.getPath.toString); deleted += 1 }
          }
        }
    }
    assert(deleted > 10, s"scenario must remove real data files, deleted=$deleted")
    intercept[Exception] {
      CurationLedgerStore.ledger(spark, root).collect()
    }

    // the absorb neither needs nor notices the deleted buckets...
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_tokens", $"verdict")
        .as[(Long, Long, String)].collect().toSet
    val changed = rows(CurationLedgerStore.absorbBatch(spark, root, delta))
    val changedRef = rows(CurationLedgerStore.absorbBatch(spark, s"$dir/ref", delta))
    assert(changed == changedRef, {
      s"missed: ${(changedRef -- changed).take(5)}; extra: ${(changed -- changedRef).take(5)}"
    })
    assert(changed.nonEmpty, "scenario must change some verdicts (the re-uploads moved)")
    // ...and the new version's point lookups answer like the intact twin
    val lookNew = PrunedIndex.readPruned(spark,
        s"${CurationLedgerStore.currentPath(root).get}/ledger",
        deltaPick.toSeq.toDF("doc_id"))
    val lookRef = PrunedIndex.readPruned(spark,
        s"${CurationLedgerStore.currentPath(s"$dir/ref").get}/ledger",
        deltaPick.toSeq.toDF("doc_id"))
    assert(rows(lookNew) == rows(lookRef))
    spark.catalog.clearCache()
  }
}
