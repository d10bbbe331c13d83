package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation

/** Staged curation verdicts: every stage fires, first-fail priority
  * holds, and staging is honored (a doc dropped by a text gate must not
  * claim a dedup canonical slot). */
class CurationSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val longUnique =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
  private val longDup =
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray"
  private val benchText =
    "zulu yankee whiskey victor uniform tango sierra romeo quebec papa oscar november"

  test("all five verdicts fire with first-fail priority and correct staging") {
    val docs = Seq(
      (1L, longUnique),                      // kept
      (2L, "short doc"),                     // too_short
      (3L, ("rep rep rep " * 4) + longUnique), // repetitive (dup 3-grams)
      (4L, longDup),                         // canonical of the dup pair
      (5L, longDup),                         // exact_dup (min-id 4 wins)
      (6L, benchText)                        // contaminated (8-gram overlap)
    ).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("bench_id", "text")
    val out = Curation.stagedVerdicts(docs, "doc_id", "text", bench, "text",
        minTokens = 5, maxRepPpm = 0L, n = 8)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    // longDup's token order is reversed in benchText, so doc 4 shares no
    // ordered 8-gram with the bench and stays kept
    assert(out == Map(
      1L -> "kept", 2L -> "too_short", 3L -> "repetitive",
      4L -> "kept", 5L -> "exact_dup", 6L -> "contaminated"),
      s"got $out")
  }

  test("a doc dropped by the length gate does not claim a canonical slot") {
    // doc 1 (min id) shares text with doc 2 but fails the length gate;
    // doc 2 must be CANONICAL (kept), not exact_dup against doc 1
    val docs = Seq(
      (1L, longUnique),
      (2L, longUnique)).toDF("doc_id", "text")
    val bench = Seq((100L, "nothing shared here at all ever")).toDF("bench_id", "text")
    // minTokens chosen so BOTH pass; then drop doc 1 via a higher gate
    val both = Curation.stagedVerdicts(docs, "doc_id", "text", bench, "text",
        minTokens = 5).select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(both == Map(1L -> "kept", 2L -> "exact_dup"))
    // now make doc 1 too short by raising minTokens above doc1? same text
    // — instead shorten doc 1's text so only it fails the gate
    val docs2 = Seq(
      (1L, "tiny"),
      (2L, longUnique),
      (3L, longUnique)).toDF("doc_id", "text")
    val out = Curation.stagedVerdicts(docs2, "doc_id", "text", bench, "text",
        minTokens = 5).select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "too_short", 2L -> "kept", 3L -> "exact_dup"))
  }

  test("fullPipelineLedger: verdict sets equal independently staged runs; " +
       "packing conserves; mix quotas never saturate (single-round oracle precondition)") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = d.filter($"doc_id" % 50 === 0)
    val ledger = Curation.fullPipelineLedger(d, "doc_id", "text",
        scoreCol = "n_chars", sourceCol = "source",
        bench = bench, benchTextCol = "text")
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(ledger.size == d.count())
    // every class fires on this corpus, and pack_lost never does
    val byVerdict = ledger.groupBy(_._2).view.mapValues(_.keySet.toSet).toMap
    assert(Set("near_dup", "contaminated", "low_quality", "not_sampled", "packed")
      .subsetOf(byVerdict.keySet), s"missing classes: ${byVerdict.keySet}")
    assert(!byVerdict.contains("pack_lost"))

    // stage the same job by hand from the production operators
    val pairs = graft.llm.Dedup.jaccardNearDupPairs(d, "doc_id", "text")
    val survivors = graft.llm.Dedup.dedupByPairsKeepBest(
      d, "doc_id", "n_chars", pairs, "a_id", "b_id")
    val survIds = survivors.select($"doc_id").as[Long].collect().toSet
    val idx = graft.llm.Decontaminate.benchGramIndex(bench, "text", 8)
    val cleanIds = graft.llm.Decontaminate.scrubAgainstGramIndex(
        survivors, "doc_id", "text", idx, 8, minShared = 2)
      .select($"doc_id").as[Long].collect().toSet
    val qualIds = graft.llm.TextAnalysis.unigramLogProbPpm(d, "doc_id", "text")
      .filter($"avg_logprob_ppm" >= -4930000L)
      .select($"doc_id").as[Long].collect().toSet
    val allIds = ledger.keySet
    assert(byVerdict("near_dup") == allIds -- survIds)
    assert(byVerdict("contaminated") == survIds -- cleanIds)
    assert(byVerdict("low_quality") == (cleanIds & survIds) -- qualIds)
    val mixedDf = graft.operators.Sampling.temperatureMixtureSample(
      d.join(survivors.select("doc_id"), "doc_id", "left_semi")
        .join(spark.createDataset(cleanIds.toSeq).toDF("doc_id"), "doc_id", "left_semi")
        .join(spark.createDataset(qualIds.toSeq).toDF("doc_id"), "doc_id", "left_semi"),
      "doc_id", "source", 300000L)
    val mixedIds = mixedDf.select($"doc_id").as[Long].collect().toSet
    assert(byVerdict("packed") == mixedIds)
    assert(byVerdict("not_sampled") == (cleanIds & qualIds) -- mixedIds)

    // packing: every sampled doc in exactly one bin, no bin overflows
    val packed = graft.llm.Packing.packBinsBFD(mixedDf, "doc_id",
      graft.functions.TextFunctions.tokenCount($"text"), capacity = 128L, nBuckets = 8)
    val asg = packed.groupBy($"doc_id").count().as[(Long, Long)].collect()
    assert(asg.map(_._1).toSet == mixedIds && asg.forall(_._2 == 1L))
    val fills = packed.filter(!$"oversize")
      .groupBy($"bucket", $"bin").agg(sum($"n_tokens").as("fill"))
      .select($"fill").as[Long].collect()
    assert(fills.nonEmpty && fills.forall(_ <= 128L))

    // no-saturation precondition of the single-round SQL mix twin: the
    // raw first-round quota stays strictly under every source's size
    val stage3Counts = d
      .join(spark.createDataset((cleanIds & qualIds).toSeq).toDF("doc_id"), "doc_id", "left_semi")
      .groupBy($"source").count().as[(String, Long)].collect().toSeq.sortBy(_._1)
    val quotas = graft.operators.Sampling.temperatureQuotas(stage3Counts, 300000L)
    stage3Counts.foreach { case (src, n) =>
      assert(quotas(src) < n, s"source $src saturated: quota ${quotas(src)} >= n $n")
    }
    graft.llm.Dedup.releaseShingleSetCache(d, "doc_id", "text")
  }

  test("fullPipelineLedgerDelta over parquet-persisted state == full rebuild on the merged corpus") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = d.filter($"doc_id" % 4 =!= 3)
    val delta = d.filter($"doc_id" % 4 === 3)
    val bench = d.filter($"doc_id" % 50 === 0)
    val st = Curation.buildState(old, "doc_id", "text", "n_chars", "source",
      bench, "text")
    // round-trip the whole state through parquet — the persisted form a
    // daily-batch deployment actually reads
    val root = java.nio.file.Files.createTempDirectory("graft_curstate").toString
    def rt(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(s"$root/$name")
      spark.read.parquet(s"$root/$name")
    }
    val persisted = Curation.State(rt(st.thin, "thin"), rt(st.shingles, "shingles"),
      rt(st.pairs, "pairs"), rt(st.cleanIds, "clean"), rt(st.census, "census"),
      rt(st.gramIndex, "grams"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_tokens", $"verdict")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val deltaLedger = Curation.fullPipelineLedgerDelta(persisted, delta,
      "doc_id", "text", "n_chars", "source")
    val rebuild = Curation.fullPipelineLedger(d, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
    assert(rows(deltaLedger).nonEmpty && rows(deltaLedger) == rows(rebuild))
    graft.llm.Dedup.releaseShingleSetCache(old, "doc_id", "text")
    graft.llm.Dedup.releaseShingleSetCache(d, "doc_id", "text")
    spark.catalog.clearCache()
  }

  test("mergeState replace semantics: a re-upload delta displaces stale rows, frames == buildState on the post-replace corpus") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // the state was built when %4==3 docs carried an obsolete draft and
    // %8==1 docs had not arrived yet (disjoint residues: 8k+1 ≡ 1 mod 4)
    val old = d.filter($"doc_id" % 8 =!= 1).withColumn("text",
      when($"doc_id" % 4 === 3,
        concat(lit("obsolete draft placeholder revision "), substring($"text", 1, 48)))
        .otherwise($"text"))
    // the daily batch re-uploads the draft ids with their true text AND
    // brings genuinely new ids — both merge paths in one mixed batch
    val delta = d.filter($"doc_id" % 4 === 3 || $"doc_id" % 8 === 1)
    val bench = d.filter($"doc_id" % 50 === 0)
    val st = Curation.buildState(old, "doc_id", "text", "n_chars", "source",
      bench, "text")
    val merged = Curation.mergeState(st, delta, "doc_id", "text", "n_chars", "source")
    val target = Curation.buildState(d, "doc_id", "text", "n_chars", "source",
      bench, "text")
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // id-keyed frames: displaced old rows gone, delta revisions in
    assert(sortedRows(merged.thin) == sortedRows(target.thin))
    assert(sortedRows(merged.cleanIds) == sortedRows(target.cleanIds))
    assert(sortedRows(merged.census) == sortedRows(target.census))
    assert(sortedRows(merged.shingles.select($"id", array_sort($"sh"), $"sz")) ==
      sortedRows(target.shingles.select($"id", array_sort($"sh"), $"sz")))
    // pair frame: stale-text pairs dropped, post-replace pairs equal
    assert(sortedRows(merged.pairs) == sortedRows(target.pairs))
    // and the ledger over the merged state equals the rebuild on the
    // TRUE corpus (the t134 driver-checked contract, pinned here too)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_tokens", $"verdict")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val deltaLedger = Curation.fullPipelineLedgerDelta(st, delta,
      "doc_id", "text", "n_chars", "source")
    val rebuild = Curation.fullPipelineLedger(d, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
    assert(rows(deltaLedger).nonEmpty && rows(deltaLedger) == rows(rebuild))
    graft.llm.Dedup.releaseContainmentDeltaCache(delta, "doc_id", "text",
      st.shingles, 3)
    graft.llm.Dedup.releaseShingleSetCache(old, "doc_id", "text")
    graft.llm.Dedup.releaseShingleSetCache(d, "doc_id", "text")
    spark.catalog.clearCache()
  }

  test("indexed state: mergeStateIndexed == buildStateIndexed on the post-replace corpus; indexed ledger == rebuild") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = d.filter($"doc_id" % 8 =!= 1).withColumn("text",
      when($"doc_id" % 4 === 3,
        concat(lit("obsolete draft placeholder revision "), substring($"text", 1, 48)))
        .otherwise($"text"))
    val delta = d.filter($"doc_id" % 4 === 3 || $"doc_id" % 8 === 1)
    val bench = d.filter($"doc_id" % 50 === 0)
    val root = java.nio.file.Files.createTempDirectory("graft_curidx").toString
    val st = Curation.buildStateIndexed(spark, old, "doc_id", "text",
      "n_chars", "source", bench, "text", s"$root/idx", numBuckets = 16)
    val merged = Curation.mergeStateIndexed(spark, st, s"$root/idx", delta,
      "doc_id", "text", "n_chars", "source")
    // reference frames: a fresh indexed build over the TRUE corpus
    val target = Curation.buildStateIndexed(spark, d, "doc_id", "text",
      "n_chars", "source", bench, "text", s"$root/idx2", numBuckets = 16)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(sortedRows(merged.thin) == sortedRows(target.thin))
    assert(sortedRows(merged.cleanIds) == sortedRows(target.cleanIds))
    assert(sortedRows(merged.census) == sortedRows(target.census))
    assert(sortedRows(merged.pairs.select($"a_id", $"b_id")) ==
      sortedRows(target.pairs.select($"a_id", $"b_id")))
    // the appended INDEX also equals a fresh build: a later batch's
    // probe over it matches the from-scratch delta path
    val delta2 = d.filter($"doc_id" % 8 === 2)
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pset(graft.llm.NearDupIndexStore.pairsForDelta(spark, s"$root/idx",
        delta2, "doc_id", "text")) ==
      pset(graft.llm.NearDupIndexStore.pairsForDelta(spark, s"$root/idx2",
        delta2, "doc_id", "text")))
    // and the indexed delta ledger equals the full rebuild on the true
    // corpus (the t141 driver-checked contract, pinned here too) —
    // rebuilt state so the ledger's in-index append works from v1
    val st2 = Curation.buildStateIndexed(spark, old, "doc_id", "text",
      "n_chars", "source", bench, "text", s"$root/idx3", numBuckets = 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_tokens", $"verdict")
        .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val ledger = Curation.fullPipelineLedgerDeltaIndexed(spark, st2,
      s"$root/idx3", delta, "doc_id", "text", "n_chars", "source")
    val rebuild = Curation.fullPipelineLedger(d, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
    assert(rows(ledger).nonEmpty && rows(ledger) == rows(rebuild))
    Seq(old, d).foreach(graft.llm.Dedup.releaseShingleSetCache(_, "doc_id", "text"))
    graft.llm.NearDupIndexStore.releaseProbeCache(s"$root/idx", delta, "doc_id", "text")
    Seq(s"$root/idx", s"$root/idx2").foreach(r =>
      graft.llm.NearDupIndexStore.releaseProbeCache(r, delta2, "doc_id", "text"))
    spark.catalog.clearCache()
  }

  test("ledgerChangedRows: one-sided diff is the complete delta — prev patched by it == post") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = d.withColumn("text",
      when($"doc_id" % 4 === 3,
        concat(lit("obsolete draft placeholder revision "), substring($"text", 1, 48)))
        .otherwise($"text"))
    val bench = d.filter($"doc_id" % 50 === 0)
    def ledger(docs: org.apache.spark.sql.DataFrame) =
      Curation.fullPipelineLedger(docs, "doc_id", "text",
        scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_tokens", $"verdict")
        .as[(Long, Long, String)].collect().toSet
    val pre = ledger(old)
    val post = ledger(d)
    val preR = rows(pre); val postR = rows(post)
    val changed = rows(Curation.ledgerChangedRows(pre, post))
    // the diff is exactly post ∖ pre, non-trivial on both sides of the
    // churn boundary (some docs changed, most did not)
    assert(changed == postR -- preR && changed.nonEmpty)
    assert(changed.size < postR.size, "everything changed — churn-bounded claim untestable")
    // deletion-free intake: no prev row vanishes without a replacement
    // row for the same id in the diff ⇒ patching prev BY ID yields post
    val changedIds = changed.map(_._1)
    val patched = preR.filterNot(r => changedIds(r._1)) ++ changed
    assert(patched == postR)
    Seq(old, d).foreach(graft.llm.Dedup.releaseShingleSetCache(_, "doc_id", "text"))
    spark.catalog.clearCache()
  }

  test("churn-bounded changed rows == unbounded except, incl. untouched-doc flips from quota/LM shifts") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = d.filter($"doc_id" % 8 =!= 1).withColumn("text",
      when($"doc_id" % 4 === 3,
        concat(lit("obsolete draft placeholder revision "), substring($"text", 1, 48)))
        .otherwise($"text"))
    val bench = d.filter($"doc_id" % 50 === 0)
    // the adversarial batch: re-uploads (%4==3 true revisions) + held-out
    // new ids (%8==1) + a SOURCE-SKEWED influx of brand-new src0 docs
    // with word-reversed text — enough churn to move every global stage
    // (cluster membership, the LM distribution, and the √n quotas of
    // every OTHER source, flipping mix verdicts on untouched docs)
    val influx = d.filter($"source" === "src0")
      .select(($"doc_id" + 200000L).as("doc_id"),
        concat_ws(" ", reverse(split($"text", " "))).as("text"),
        $"lang", $"source", $"n_chars")
    val delta = d.filter($"doc_id" % 4 === 3 || $"doc_id" % 8 === 1)
      .unionByName(influx)
    val trueCorpus = d.unionByName(influx)
    val root = java.nio.file.Files.createTempDirectory("graft_curchg2").toString
    val prevLedger = Curation.fullPipelineLedger(old, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
      .localCheckpoint()
    // two identical indexed states: the bounded path consumes one index
    // append; the unbounded twin needs a pristine copy
    val st1 = Curation.buildStateIndexed(spark, old, "doc_id", "text",
      "n_chars", "source", bench, "text", s"$root/idx1", numBuckets = 16)
    val st2 = Curation.buildStateIndexed(spark, old, "doc_id", "text",
      "n_chars", "source", bench, "text", s"$root/idx2", numBuckets = 16)
    val prevCounts = Curation.qualitySourceCounts(prevLedger, st1.thin,
      "doc_id", "source")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"n_tokens", $"verdict")
        .as[(Long, Long, String)].collect().toSet
    // cap at 100% churn: the batch is deliberately corpus-proportional
    // (the adversarial regime), and the point is to pin the BOUNDED
    // path's equality there — the default cap would fall back to the
    // plain except and leave the bands untested
    val bounded = rows(Curation.fullPipelineLedgerDeltaIndexedChanged(spark,
      st1, s"$root/idx1", delta, "doc_id", "text", "n_chars", "source",
      prevLedger, prevCounts, boundedChurnCapPpm = 1000000L))
    val post = Curation.fullPipelineLedgerDeltaIndexed(spark, st2,
      s"$root/idx2", delta, "doc_id", "text", "n_chars", "source")
    val unbounded = rows(Curation.ledgerChangedRows(prevLedger, post))
    assert(bounded == unbounded, {
      val miss = unbounded -- bounded; val extra = bounded -- unbounded
      s"missed: ${miss.toSeq.sortBy(_._1).take(10)}; extra: ${extra.toSeq.sortBy(_._1).take(10)}"
    })
    // the adversarial point: the diff includes UNTOUCHED docs (not in
    // the delta) whose verdicts flipped through the global stages —
    // the rows only the candidate bands can have caught
    val deltaIds = delta.select($"doc_id").as[Long].collect().toSet
    val untouchedChanged = bounded.filterNot(r => deltaIds(r._1))
    assert(untouchedChanged.nonEmpty,
      "scenario must flip verdicts on untouched docs — bands untested otherwise")
    // and the full rebuild twin agrees end to end (sanity anchor)
    val rebuildPost = Curation.fullPipelineLedger(trueCorpus, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
    assert(rows(post) == rows(rebuildPost))
    Seq(old, trueCorpus).foreach(graft.llm.Dedup.releaseShingleSetCache(_, "doc_id", "text"))
    spark.catalog.clearCache()
  }

  test("verdicts and span scrub are partitioning-independent") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bench = d.filter($"doc_id" % 50 === 0)
    def verdicts(nPart: Int) =
      Curation.stagedVerdicts(d.repartition(nPart), "doc_id", "text", bench, "text",
          minTokens = 20)
        .orderBy($"doc_id").as[(Long, Long, String)].collect().toSeq
    assert(verdicts(2) == verdicts(7))
    def scrub(nPart: Int) =
      graft.llm.Dedup.scrubDupSpans(d.repartition(nPart), "doc_id", "text",
          k = 8, minDocs = 2)
        .orderBy($"doc_id").as[(Long, Long, Long, String)].collect().toSeq
    val a = scrub(2)
    assert(a == scrub(7) && a.nonEmpty)
  }
}
