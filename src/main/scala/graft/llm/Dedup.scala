package graft.llm

import graft.util.Ckpt.RichCkpt

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Deduplication operators for large-scale text corpora.
  *
  * Four families, all shuffle-based set operations (no driver-side
  * state, no cross-product unless explicitly chosen):
  *
  *  - exact: group on a 128-bit fingerprint of normalized text.
  *  - near-dup by Jaccard: *complete* similarity self-join via an
  *    inverted shingle index + size-ratio pruning + exact verification.
  *  - MinHash + LSH banding: the sub-quadratic candidate generator for
  *    the same predicate at 100 TB (probabilistic recall), verified
  *    exactly after banding.
  *  - SimHash: 64-bit sketch + pigeonhole banding for hamming ≤ k.
  */
object Dedup {

  /** Exact dedup: one representative (min id) per identical normalized
    * text. Grouping key is the md5 fingerprint, not the text itself, so
    * shuffle rows stay small regardless of document size. */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__fp", fingerprint(col(textCol)))
      .withColumn("__keep",
        row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__fp")).orderBy(col(idCol))))
      .filter(col("__keep") === 1)
      .drop("__fp", "__keep")

  /** Exact-dup *groups*: (fingerprint, representative id, group size)
    * for groups with ≥ 2 members. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") >= 2)

  /** Soft dedup by downsampling: instead of hard-removing duplicates,
    * keep each document with probability 1/|its exact-dup group|, so
    * every group survives with ONE expected copy but the surviving copy
    * is hash-uniform across the group, not always the min id — the
    * "fuzzy deduplication by downweighting" alternative some pretraining
    * recipes prefer (survivorship diversity; cf. the duplication-aware
    * sampling discussion in arXiv:2107.06499 §5). Membership is a pure
    * function of (id, group size) via the house md5 feature hash, so
    * the sample is identical across partitionings, reruns, and engines.
    *
    * Scale shape: the same thin (fp → count) census as
    * [[exactDupGroups]] plus one fp-keyed join of 16-byte rows; the
    * keep decision is a codegen'd scalar filter. Text never shuffles.
    *
    * @return kept rows (idCol, group_n), ascending keep-hash semantics:
    *         keep iff md5_bucket("dw:" + id, 1e6) * group_n < 1e6.
    */
  def dedupDownsample(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fps = docs.select(col(idCol), fingerprint(col(textCol)).as("__fp"))
    val census = fps.groupBy(col("__fp")).agg(count(lit(1)).as("group_n"))
    fps.join(census, Seq("__fp"))
      .filter(hashBucket(concat(lit("dw:"), col(idCol).cast("string")), 1000000)
        * col("group_n") < lit(1000000L))
      .select(col(idCol), col("group_n"))
  }

  /** Corpus-wide frequent ("boilerplate") lines: (line_fp, n_docs) for
    * every line occurring in ≥ `minDocs` DISTINCT documents — headers,
    * footers, nav bars, cookie banners: the within-page noise that
    * document-level dedup cannot see (line-level dedup per RefinedWeb,
    * arXiv:2306.01116 §3.3, and the CCNet paragraph-hash pass). Lines
    * are `sep`-separated (a regex for splitting; default newline) and
    * fingerprinted with md5 of the RAW line, deduplicated per doc first
    * so a line repeated inside one document counts once. Only the thin
    * (line_fp) projection shuffles — text never moves. */
  def boilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 3, sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    docs.select(explode(array_distinct(split(col(textCol), sep))).as("line"))
      .select(md5(col("line")).as("line_fp"))
      .groupBy(col("line_fp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Strip boilerplate lines from every document: each line occurring
    * in ≥ `minDocs` distinct docs is removed from ALL of them (every
    * occurrence), the survivors rejoined with `sep` (which must be a
    * literal both split and join can share — the default newline is).
    * Output = the input schema with `textCol` rewritten plus
    * `n_lines_dropped`.
    *
    * Scale shape: the frequent-line set comes from the thin-projection
    * aggregate above; per-doc drop sets are (doc, line_fp) hits against
    * it — corpus-sized only in the degenerate everything-is-boilerplate
    * case, typically a vanishing fraction. The final doc ⋈ drop-set
    * join broadcasts when the hit set is small (the common case — the
    * corpus then never shuffles); otherwise it is one co-partitioned
    * join on doc id, the one unavoidable text move. Line removal itself
    * is a codegen'd per-row array filter, no explode of text. */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                       minDocs: Int = 3, sep: String = "\n"): DataFrame = {
    val freq = boilerplateLines(docs, idCol, textCol, minDocs, sep).select(col("line_fp"))
    val hits = docs
      .select(col(idCol).as("__did"),
        explode(array_distinct(split(col(textCol), sep))).as("line"))
      .select(col("__did"), md5(col("line")).as("line_fp"))
      .join(freq, Seq("line_fp"))
      .groupBy(col("__did"))
      .agg(collect_set(col("line_fp")).as("__drop_fps"))
    docs.join(hits, docs(idCol) === col("__did"), "left")
      .withColumn("__lines", split(col(textCol), sep))
      .withColumn("__kept", when(col("__drop_fps").isNull, col("__lines"))
        .otherwise(filter(col("__lines"), x => !array_contains(col("__drop_fps"), md5(x)))))
      .withColumn("n_lines_dropped", (size(col("__lines")) - size(col("__kept"))).cast("long"))
      .withColumn(textCol, array_join(col("__kept"), sep))
      .drop("__did", "__drop_fps", "__lines", "__kept")
  }

  /** Complete Jaccard similarity self-join: all pairs (a < b) of docs
    * whose word-`n`-shingle sets have Jaccard ≥ `threshold`.
    *
    * Plan shape (all distributed, no cross join) — the classic
    * prefix-filtered set-similarity join:
    *   1. one small aggregate finds the document-frequency HEAD of the
    *      shingle distribution (top `dfHeadSize` by df) — bounded
    *      control-plane state, like a BPE merge table.
    *   2. per-doc prefix selection is then ONE narrow map over the doc
    *      scan ([[graft.functions.expr.PrefixShingles]]): order the
    *      shingle set by the global (df, shingle) order — df = 1 for
    *      anything outside the head — and keep the first
    *      |S| − ⌈t·|S|⌉ + 1. Completeness: two sets with J ≥ t overlap
    *      in ≥ ⌈t·max(|A|,|B|)⌉ elements, so they cannot miss each
    *      other's prefixes under a shared total order (Chaudhuri et
    *      al., "A Primitive Operator for Similarity Joins", ICDE'06).
    *   3. self-join on prefix shingles, `a.id < b.id`, plus the
    *      size-ratio prune  min ≥ t·max — the ONLY wide shuffle.
    *   4. distinct candidate pairs → exact verify (intersect / union on
    *      the full shingle sets), keep J ≥ t. Candidates are few, so
    *      AQE broadcasts them against the recomputed sets.
    *
    * The prefix keeps each doc's *rarest* shingles, so hot shingles
    * (stop-phrases) never generate candidates — at 100 TB this is the
    * difference between a bounded join and a quadratic blow-up. The
    * earlier composed form (explode → join full df table → regroup per
    * doc) shuffled the full inverted index twice before the similarity
    * join even started.
    *
    * The shingle-set projection is PERSISTED (MEMORY_AND_DISK) for the
    * call's lifetime: five plan branches scan it (df census, prefix
    * side, container side, both verify sides), and re-running the
    * normalize→tokenize→shingle chain per branch was measured 1.5–2×
    * slower than one build + four cache scans at sf0.1 (r14; the
    * earlier recompute-wins measurement predates the verify branches).
    * Storage is corpus-proportional (~n× token bytes, spills to disk)
    * but bounded across calls: identical corpora resolve to ONE
    * cache-manager entry (canonicalized-plan equality — the
    * [[simHashPairs]] contract), and [[releaseShingleSetCache]] frees
    * it when the caller is done with the returned lazy frame. */
  def jaccardNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.8,
      dfHeadSize: Int = 100000): DataFrame = {
    import graft.functions.expr.PrefixShingles

    // [[containmentIndex]] IS this projection — sharing the plan means
    // Jaccard, containment and MinHash-LSH calls over the same corpus
    // resolve to ONE cache entry (see the persist note there)
    val withSets = containmentIndex(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val (dfHead, _) = dfHeadOf(withSets, dfHeadSize)

    val prefix = withSets.select(
      explode(PrefixShingles(col("sh"), threshold, dfHead)).as("shingle"),
      col("id"), col("sz"))

    val a = prefix.select(col("shingle"), col("id").as("a_id"), col("sz").as("a_sz"))
    val b = prefix.select(col("shingle"), col("id").as("b_id"), col("sz").as("b_sz"))
    val candidates = a.join(b, Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .filter(least(col("a_sz"), col("b_sz")) >= lit(threshold) * greatest(col("a_sz"), col("b_sz")))
      .select("a_id", "b_id")
      .distinct()

    verifyJaccard(candidates, withSets, threshold)
  }

  /** Document-frequency head for the prefix-filter's global shingle
    * order — distributed top-K (per-partition partial top-K, then
    * merge), collected to BOUNDED driver state. df = 1 shingles sort
    * identically with or without an entry, so only df ≥ 2 matter.
    *
    * Returns (head, complete): `complete` is true when the head holds
    * EVERY df ≥ 2 shingle (the collect came back under the cap), in
    * which case any df-derived set — like the containment cap's hot
    * set, hot ⟺ df > maxDf ≥ 1 ⟹ df ≥ 2 — can be read off the head
    * driver-side instead of re-aggregating the corpus. */
  private def dfHeadOf(withSets: DataFrame, dfHeadSize: Int): (Map[String, Long], Boolean) = {
    val rows = withSets
      .select(explode(col("sh")).as("shingle"))
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("shingle"))
      .limit(dfHeadSize)
      .collect()
    (rows.map(r => r.getString(0) -> r.getLong(1)).toMap, rows.length < dfHeadSize)
  }

  /** Near-containment pairs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ t —
    * the ASYMMETRIC "A is (near-)quoted inside B" relation that Jaccard
    * misses entirely (a short quote inside a long document has tiny
    * Jaccard but containment ≈ 1) — the quote/subset case of C4-style
    * curation. Same ICDE'06 prefix machinery as [[jaccardNearDupPairs]],
    * applied to the CONTAINED side only: if C ≥ t, at most
    * |A| − ⌈t·|A|⌉ of A's shingles miss B, so one of A's
    * |A| − ⌈t·|A|⌉ + 1 rarest must be shared. The container side
    * indexes ALL its shingles (asymmetry is why: B's prefix may skip
    * exactly the shared region). Size prune |B| ≥ t·|A| (B must hold
    * the intersection). One wide shuffle on shingle; candidates are
    * verified exactly. Output one row per ordered (contained a_id,
    * container b_id) pair.
    *
    * `maxDf` (default off) is the hot-shingle cap — the
    * [[winnowingPairs]] MOSS mitigation applied to the container index:
    * "index ALL container shingles" must not mean "index corpus-wide
    * stop-phrases", because a shingle shared by df docs contributes
    * ~df² candidate rows that overwhelmingly fail verification —
    * df²-output-quadratic at corpus scale (the exact pathology the
    * winnowing cap removed in r12). Capping anti-joins container-side
    * shingles with document frequency > `maxDf` out of the index BEFORE
    * the candidate join. Recall caveat: a contained doc whose rarest
    * prefix shingles are ALL corpus-boilerplate can no longer reach its
    * container — which is the MOSS argument for the cap (ubiquitous
    * strings are boilerplate evidence, not quoting evidence). Capped
    * output ⊆ uncapped output always, equal whenever no shingle exceeds
    * the cap (pinned in DedupSpec). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       dfHeadSize: Int = 100000,
                       maxDf: Int = Int.MaxValue): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // persisted for the same five-branch reason as [[jaccardNearDupPairs]]
    // (same plan ⇒ same cache entry; release via [[releaseShingleSetCache]])
    val withSets = containmentIndex(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dfHead, complete) = dfHeadOf(withSets, dfHeadSize)
    val a = prefixSide(withSets, threshold, dfHead)
    val b = containerSide(withSets, maxDf, if (complete) Some(dfHead) else None)
    val candidates = a.join(b, Seq("shingle"))
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("b_sz") >= lit(threshold) * col("a_sz"))
      .select("a_id", "b_id")
      .distinct()
    verifyContainment(candidates, withSets, threshold)
  }

  /** Persisted containment index: one (id, sh, sz) row per document —
    * the shingle-set projection [[containmentPairs]] computes inline,
    * in persistable form (build once per corpus version,
    * `write.parquet`, probe delta batches with
    * [[containmentDeltaPairs]]). One row per doc, so maintenance is a
    * plain doc-keyed upsert (anti-join stale ids, union the delta).
    * The array column is the method's inherent weight (~n× the token
    * count); the delta path still wins because the corpus TEXT is never
    * re-normalized or re-shingled per batch. */
  def containmentIndex(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3): DataFrame =
    docs.select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))

  /** Release the shingle-set cache a prior [[jaccardNearDupPairs]] /
    * [[containmentPairs]] / [[minHashLshPairs]] call persisted for
    * these inputs (they share the [[containmentIndex]] plan, so one
    * release frees all three), once the returned frames' results are
    * consumed. Public-API unpersist via canonicalized-plan-equality
    * lookup — the [[releaseSimHashCache]] contract; safe to call even
    * if nothing is cached. */
  def releaseShingleSetCache(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3): Unit =
    containmentIndex(docs, idCol, textCol, n).unpersist(): Unit

  /** The post-delta merged shingle-set index [[containmentDeltaPairs]]
    * persists (stale re-upload rows displaced) — factored out so
    * [[releaseContainmentDeltaCache]] can rebuild the identical plan
    * for the cache-manager lookup. */
  private def containmentMergedPlan(delta: DataFrame, idCol: String,
      textCol: String, corpusIndex: DataFrame, n: Int): DataFrame = {
    val deltaSets = containmentIndex(delta, idCol, textCol, n)
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    corpusIndex.join(broadcast(deltaIds), Seq("id"), "left_anti")
      .unionByName(deltaSets)
  }

  /** Release the merged-index cache a prior [[containmentDeltaPairs]]
    * call persisted for these inputs — the per-batch incremental
    * caller's storage bound (the [[releaseSigHammingDeltaCache]]
    * contract). Safe to call even if nothing is cached. */
  def releaseContainmentDeltaCache(delta: DataFrame, idCol: String,
      textCol: String, corpusIndex: DataFrame, n: Int = 3): Unit =
    containmentMergedPlan(delta, idCol, textCol, corpusIndex, n).unpersist(): Unit

  /** Contained-side prefix index: each doc's |S| − ⌈t·|S|⌉ + 1 rarest
    * shingles, exploded thin. */
  private def prefixSide(withSets: DataFrame, threshold: Double,
                         dfHead: Map[String, Long]): DataFrame = {
    import graft.functions.expr.PrefixShingles
    withSets.select(
      explode(PrefixShingles(col("sh"), threshold, dfHead)).as("shingle"),
      col("id").as("a_id"), col("sz").as("a_sz"))
  }

  /** Container-side full index, minus shingles hotter than `maxDf`
    * (no-op at the default). When the caller's df head came back
    * COMPLETE (it then holds every df ≥ 2 shingle, a superset of any
    * hot set with maxDf ≥ 1), the hot keys are read off it driver-side
    * and anti-joined as a local relation — no second corpus census
    * pass; otherwise df re-aggregates distributed. Either way the hot
    * set has ≤ totalShingleRows/maxDf distinct values and the
    * anti-join build side is left to AQE (see [[dropHotFps]]).
    *
    * Skew contract (`private[graft]` so ScaleSpec can pin it): after
    * the cap, NO shingle key holds more than `maxDf` container rows, so
    * the candidate join's per-key fan-out is bounded by maxDf·df_prefix
    * rows — a hot key cannot concentrate a join's output in one task
    * the way an uncapped corpus stop-phrase does (t76's 9→69 s rep
    * spread at sf0.1 was exactly that). This is the df-cap acting as
    * the skew mitigation; AQE's skew-join split stays as the backstop
    * for residual within-cap imbalance. */
  private[graft] def containerSide(withSets: DataFrame, maxDf: Int,
      completeDfHead: Option[Map[String, Long]] = None): DataFrame = {
    val b = withSets.select(explode(col("sh")).as("shingle"),
      col("id").as("b_id"), col("sz").as("b_sz"))
    if (maxDf == Int.MaxValue) b
    else completeDfHead match {
      case Some(head) =>
        val hotKeys = head.collect { case (s, df) if df > maxDf => s }.toSeq
        if (hotKeys.isEmpty) b
        else {
          val spark = withSets.sparkSession
          import spark.implicits._
          b.join(hotKeys.toDF("shingle"), Seq("shingle"), "left_anti")
        }
      case None =>
        val hot = withSets.select(explode(col("sh")).as("shingle"))
          .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf)
          .select(col("shingle"))
        b.join(hot, Seq("shingle"), "left_anti")
    }
  }

  /** Exact-containment verification of candidate (a_id, b_id) pairs
    * against the full shingle sets.
    *
    * Shape note (measured, r14): the candidates join the full `sh`
    * arrays on both sides, but AQE broadcasts the thin pair list, so
    * the array sides stream ONCE map-side and `array_intersect` runs
    * without any array ever crossing a shuffle. A PPJoin-style thin
    * rewrite (explode candidate docs' sets, count overlap in a
    * (pair, shingle)-keyed join — no arrays) was built and benchmarked
    * head-to-head in one JVM: 8.1–8.4 s vs 5.4–7.1 s for this form on
    * the t122 corpus at sf0.1 — the ~25 M-row (pair × shingle)
    * expansion shuffle costs more than the broadcast+intersect it
    * replaces, at every candidate volume tried. The positional-filter
    * half of PPJoin cannot prune here either: with the container side
    * indexing ALL its shingles, the prefix-match count bounds
    * |A ∩ B| only by cnt + min(⌈t·|A|⌉ − 1, |B| − cnt), which rules
    * out nothing when |B| is large. Kept array-form deliberately. */
  private def verifyContainment(candidates: DataFrame, withSets: DataFrame,
                                threshold: Double): DataFrame = {
    val sa = withSets.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val sb = withSets.select(col("id").as("b_id"), col("sh").as("b_sh"))
    candidates
      .join(sa, "a_id").join(sb, "b_id")
      .withColumn("containment",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(col("a_sh")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("a_id"), col("b_id"), col("containment"))
  }

  /** Incremental containment: every pair (contained a_id, container
    * b_id) with C(A→B) ≥ t in the post-delta corpus, restricted to
    * pairs with at least one side in the delta — equal to
    * `containmentPairs(corpus ∪ delta)` so restricted (pinned in
    * DedupSpec, including re-uploads and the capped case), at per-batch
    * cost: the corpus text is never re-read or re-shingled; only its
    * persisted [[containmentIndex]] is probed.
    *
    * Two candidate joins cover the asymmetric relation's two delta
    * roles: (delta as contained) probes the delta docs' prefixes
    * against the FULL container index; (delta as container) probes
    * every doc's prefix against the delta docs' shingles only — the
    * second join is delta-bounded, the first is a thin
    * prefix-vs-index probe, and neither rescans text. Re-uploaded ids
    * count only their delta revision (stale index rows anti-joined
    * out — the [[winnowingDeltaPairs]] superseded-key contract), and
    * the df order + `maxDf` hot set are evaluated over the POST-DELTA
    * corpus, matching what a rebuild would compute. */
  def containmentDeltaPairs(delta: DataFrame, idCol: String, textCol: String,
                            corpusIndex: DataFrame,
                            n: Int = 3, threshold: Double = 0.8,
                            dfHeadSize: Int = 100000,
                            maxDf: Int = Int.MaxValue): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    // persisted like the batch form's withSets (six branches scan it);
    // release via [[releaseContainmentDeltaCache]] with the same inputs
    val merged = containmentMergedPlan(delta, idCol, textCol, corpusIndex, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val (dfHead, complete) = dfHeadOf(merged, dfHeadSize)
    val bAll = containerSide(merged, maxDf, if (complete) Some(dfHead) else None)
    val aDelta = prefixSide(
      merged.join(broadcast(deltaIds), Seq("id"), "left_semi"), threshold, dfHead)
    val aAll = prefixSide(merged, threshold, dfHead)
    val bDelta = bAll.join(
      broadcast(deltaIds.select(col("id").as("b_id"))), Seq("b_id"), "left_semi")
    val candidates = aDelta.join(bAll, Seq("shingle"))
      .unionByName(aAll.join(bDelta, Seq("shingle")))
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("b_sz") >= lit(threshold) * col("a_sz"))
      .select("a_id", "b_id")
      .distinct()
    verifyContainment(candidates, merged, threshold)
  }

  /** Incremental [[jaccardNearDupPairs]]: all Jaccard-≥-t pairs with at
    * least one end in `delta`, against a persisted
    * [[containmentIndex]] of the existing corpus — corpus TEXT is
    * never re-normalized or re-shingled; only the delta's text is
    * scanned. Combined with the stored pair set, this reproduces the
    * full rebuild EXACTLY: the ICDE'06 prefix filter is complete under
    * ANY global shingle order (the df order is an optimization, not a
    * correctness input) and verification is exact Jaccard of the true
    * sets, so pairs(old ∪ delta) = pairs(old) ∪ this(delta, index) —
    * the delta==rebuild contract, pinned in DedupSpec. Candidates pair
    * the delta docs' prefixes against the full merged prefix index
    * (both orientations, normalized to a_id < b_id); the df order is
    * evaluated over the POST-DELTA corpus, and re-uploaded ids count
    * only their delta revision (stale index rows anti-joined out).
    * The merged index plan is persisted for the call — release with
    * [[releaseContainmentDeltaCache]] (same plan, same cache entry). */
  def jaccardDeltaPairs(delta: DataFrame, idCol: String, textCol: String,
                        corpusIndex: DataFrame,
                        n: Int = 3, threshold: Double = 0.8,
                        dfHeadSize: Int = 100000): DataFrame = {
    import graft.functions.expr.PrefixShingles
    val merged = containmentMergedPlan(delta, idCol, textCol, corpusIndex, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val (dfHead, _) = dfHeadOf(merged, dfHeadSize)
    def prefixOf(ws: DataFrame): DataFrame = ws.select(
      explode(PrefixShingles(col("sh"), threshold, dfHead)).as("shingle"),
      col("id"), col("sz"))
    val d = prefixOf(merged.join(broadcast(deltaIds), Seq("id"), "left_semi"))
      .select(col("shingle"), col("id").as("d_id"), col("sz").as("d_sz"))
    val o = prefixOf(merged)
      .select(col("shingle"), col("id").as("o_id"), col("sz").as("o_sz"))
    val candidates = d.join(o, Seq("shingle"))
      .filter(col("d_id") =!= col("o_id"))
      .filter(least(col("d_sz"), col("o_sz")) >=
        lit(threshold) * greatest(col("d_sz"), col("o_sz")))
      .select(least(col("d_id"), col("o_id")).as("a_id"),
        greatest(col("d_id"), col("o_id")).as("b_id"))
      .distinct()
    verifyJaccard(candidates, merged, threshold)
  }

  // ---------------------------------------------------------------------
  // Persisted near-dup index: the 100×-scale form of the delta path.
  //
  // [[jaccardDeltaPairs]] is delta-bounded in TEXT compute but still
  // O(corpus) in per-batch SHUFFLE work: every batch re-aggregates the
  // df census (explode ALL corpus shingles), re-explodes every stored
  // doc's prefix, and shuffles the full merged index through the
  // candidate join and the verify joins. At 100 TB that is the per-day
  // bottleneck. The indexed form persists the DERIVED artifacts once —
  //   root/prefix  (shingle, id, sz)  PrunedIndex keyed by shingle
  //   root/sets    (id, sh, sz)       PrunedIndex keyed by id
  //   root/dfhead  (shingle, df)      the FROZEN global shingle order
  //   root/_NEARDUP_META              n, threshold (single source of truth)
  // — and a batch then costs: delta text compute + a bucket-pruned read
  // of the prefix index (only buckets the delta's prefix shingles hash
  // into) + a broadcast candidate join (stored side never shuffles) + a
  // bucket-pruned read of the partner ids' sets for exact verification.
  //
  // Correctness of the FROZEN order: the ICDE'06 prefix bound is a
  // pigeonhole on set sizes — if J(A,B) ≥ t, the |S|−⌈t·|S|⌉+1 lowest
  // shingles of each side (under ANY total order shared by both sides)
  // must intersect the other set's prefix… more precisely completeness
  // holds for any fixed total order used consistently by both join
  // sides. The df-descending order is purely a CANDIDATE-COUNT
  // heuristic, so freezing it at build time keeps the filter complete
  // forever; it merely drifts toward more candidates as the corpus
  // grows. [[refreezeNearDupIndex]] is the recluster analog: re-derive
  // the head and prefix layout from the stored sets — no text touched.
  // ---------------------------------------------------------------------

  private[llm] def nearDupMetaPath(root: String): String =
    graft.fs.Fs.child(root, "_NEARDUP_META")

  /** Meta lines: n, threshold, and (since r18) the build/refreeze
    * dfHeadSize plus the doc count the head was frozen over. The first
    * two are the semantic parameters; line 3 keeps a refreeze from
    * silently resetting a non-default head size (r17 advice); line 4 is
    * the staleness denominator [[NearDupIndexStore.maybeMaintain]]
    * compares the current doc count against. */
  private[llm] def readNearDupMeta(root: String): (Int, Double) = {
    val ls = graft.fs.Fs.readString(nearDupMetaPath(root)).split("\n")
    (ls(0).trim.toInt, ls(1).trim.toDouble)
  }

  /** The persisted head size (line 3), defaulting for legacy roots. */
  private def readNearDupHeadSize(root: String): Int = {
    val ls = graft.fs.Fs.readString(nearDupMetaPath(root)).split("\n")
    if (ls.length >= 3 && ls(2).trim.nonEmpty) ls(2).trim.toInt else 100000
  }

  /** The doc count the frozen head was derived over (line 4). */
  private[llm] def readFrozenDocs(root: String): Option[Long] = {
    val ls = graft.fs.Fs.readString(nearDupMetaPath(root)).split("\n")
    if (ls.length >= 4 && ls(3).trim.nonEmpty) Some(ls(3).trim.toLong) else None
  }

  private def readFrozenHead(spark: org.apache.spark.sql.SparkSession,
                             root: String): Map[String, Long] =
    graft.store.RecordedSchema.read(spark, graft.fs.Fs.child(root, "dfhead"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def writeFrozenHead(spark: org.apache.spark.sql.SparkSession,
                              root: String, head: Map[String, Long]): Unit = {
    import spark.implicits._
    graft.store.RecordedSchema.writeParquet(head.toSeq.toDF("shingle", "df").coalesce(1),
      graft.fs.Fs.child(root, "dfhead"))
  }

  private[llm] def prefixRowsOf(sets: DataFrame, threshold: Double,
                           dfHead: Map[String, Long]): DataFrame =
    sets.select(
      explode(graft.functions.expr.PrefixShingles(col("sh"), threshold, dfHead))
        .as("shingle"),
      col("id"), col("sz"))

  /** Build the persisted near-dup index for `docs` (one corpus version):
    * shingle sets land keyed by id (verification side), their prefix
    * rows keyed by shingle (candidate side), and the df head freezes
    * the prefix order. Write-once; a [[NearDupIndexStore]] version
    * advances it with [[appendNearDupIndexDeltaInto]]; probe with
    * [[jaccardDeltaPairsIndexed]]. */
  def writeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                        docs: DataFrame, idCol: String, textCol: String,
                        root: String, n: Int = 3, threshold: Double = 0.8,
                        dfHeadSize: Int = 100000, numBuckets: Int = 64): Unit = {
    val sets = containmentIndex(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // dfHeadOf aggregates the full frame, so the cache is warm before
    // the concurrent consumers below read it
    val (dfHead, _) = dfHeadOf(sets, dfHeadSize)
    writeFrozenHead(spark, root, dfHead)
    val nDocs = sets.count()
    // the two layout writes are independent (distinct dirs, shared
    // cached input) — overlap them (guide §2.6); meta lands after both
    graft.util.Par.runUnit(Seq(
      () => graft.sources.PrunedIndex.write(sets,
        graft.fs.Fs.child(root, "sets"), Seq("id"), numBuckets),
      () => graft.sources.PrunedIndex.write(prefixRowsOf(sets, threshold, dfHead),
        graft.fs.Fs.child(root, "prefix"), Seq("shingle"), numBuckets)))
    graft.fs.Fs.writeStringAtomic(nearDupMetaPath(root),
      s"$n\n$threshold\n$dfHeadSize\n$nDocs")
    sets.unpersist(false): Unit
  }

  /** Near-dup pairs of `delta` against the INDEXED corpus ∪ `delta` —
    * [[jaccardDeltaPairs]]'s contract over the persisted layout:
    * pairs(post-delta corpus) = stored-pairs-minus-replaced ∪ this.
    * Per-batch cost is delta-bounded end to end: the delta is shingled
    * once; the stored prefix index is read bucket-pruned (only the
    * delta's prefix-shingle buckets) with NO re-explode and NO shuffle
    * (the delta side broadcasts into the candidate join); exact
    * verification reads only the candidate partner ids' buckets of the
    * sets index. Re-uploaded ids count only their delta revision (stale
    * stored rows anti-joined on both reads), so probing before or after
    * the append of the same batch gives the same answer. The delta's
    * shingle-set plan is persisted for the call — release with
    * [[releaseShingleSetCache]](delta, idCol, textCol, n). */
  def jaccardDeltaPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                               root: String, delta: DataFrame,
                               idCol: String, textCol: String): DataFrame = {
    val (n, threshold) = readNearDupMeta(root)
    val dfHead = readFrozenHead(spark, root)
    val deltaSets = containmentIndex(delta, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val dPrefix = prefixRowsOf(deltaSets, threshold, dfHead)
    val probeShingles = dPrefix.select(col("shingle")).distinct()
    val oPrefix = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "prefix"), probeShingles)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val oSide = oPrefix.select(col("shingle"), col("id"), col("sz"))
      .unionByName(dPrefix)
    val candidates = broadcast(
        dPrefix.select(col("shingle"), col("id").as("d_id"), col("sz").as("d_sz")))
      .join(oSide.select(col("shingle"), col("id").as("o_id"), col("sz").as("o_sz")),
        Seq("shingle"))
      .filter(col("d_id") =!= col("o_id"))
      .filter(least(col("d_sz"), col("o_sz")) >=
        lit(threshold) * greatest(col("d_sz"), col("o_sz")))
      .select(least(col("d_id"), col("o_id")).as("a_id"),
        greatest(col("d_id"), col("o_id")).as("b_id"))
      .distinct()
      .ckpt()
    val partnerIds = candidates.select(col("a_id").as("id"))
      .unionAll(candidates.select(col("b_id").as("id"))).distinct()
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val partnerSets = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "sets"), partnerIds)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    verifyJaccard(candidates,
      partnerSets.select(col("id"), col("sh"), col("sz"))
        .unionByName(deltaSets), threshold)
  }

  /** The per-batch probe frames every shingle-family appender needs:
    * the delta's shingle sets, its distinct ids, and the re-uploaded
    * ids' OLD stored sets. [[NearDupIndexStore.appendDelta]] computes
    * them ONCE and threads them into each family's `*Into` appender —
    * without this a minhash+containment store re-shingled the same
    * delta (and re-read the replaced-old sets) up to three times per
    * batch. */
  private[llm] final case class DeltaProbe(sets: DataFrame, ids: DataFrame,
                                           replacedOld: DataFrame)

  private[llm] def deltaProbeOf(spark: org.apache.spark.sql.SparkSession,
                                from: String, delta: DataFrame,
                                idCol: String, textCol: String): DeltaProbe = {
    val (n, _) = readNearDupMeta(from)
    val sets = containmentIndex(delta, idCol, textCol, n).ckpt()
    val ids = sets.select(col("id")).distinct().ckpt()
    val replacedOld = graft.sources.PrunedIndex.readPruned(spark,
      graft.fs.Fs.child(from, "sets"), ids).ckpt()
    DeltaProbe(sets, ids, replacedOld)
  }

  /** Absorb `delta` into the near-dup index at `from`, landing the
    * advanced index under `into` (REPLACE semantics for re-uploaded
    * ids, delta-bounded write I/O): the sets index replace-by-key
    * upserts the delta's rows; the prefix index rewrites ONLY the
    * buckets of (the delta's prefix shingles ∪ the replaced ids' OLD
    * prefix shingles — the displaced rows must leave their buckets even
    * when the new text shares none of them). Touched buckets' new files
    * land under `into`, untouched buckets stitch `from`'s files by
    * absolute path ([[graft.sources.PrunedIndex.writeDelta]]), and the
    * frozen head and meta are copied — `from` is never modified. After
    * the call, [[jaccardDeltaPairsIndexed]] against `into` equals a
    * probe against a from-scratch [[writeNearDupIndex]] over the
    * post-delta corpus at the SAME frozen head (pinned in DedupSpec);
    * a refreezing [[NearDupIndexStore.compact]] re-derives the head.
    * The store building block: every family lands under one new
    * version dir, which [[NearDupIndexStore.appendDelta]] commits with
    * a single atomic pointer swap. */
  private[llm] def appendNearDupIndexDeltaInto(
      spark: org.apache.spark.sql.SparkSession,
      from: String, into: String, delta: DataFrame,
      idCol: String, textCol: String,
      pre: Option[DeltaProbe] = None): Unit = {
    val (n, threshold) = readNearDupMeta(from)
    val dfHead = readFrozenHead(spark, from)
    val deltaSets = pre.map(_.sets).getOrElse(
      containmentIndex(delta, idCol, textCol, n).ckpt())
    val deltaIds = pre.map(_.ids).getOrElse(
      deltaSets.select(col("id")).distinct())
    val replacedOldSets = pre.map(_.replacedOld).getOrElse(
      graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "sets"), deltaIds))
    val probeShingles = prefixRowsOf(deltaSets, threshold, dfHead)
      .select(col("shingle"))
      .unionByName(prefixRowsOf(replacedOldSets, threshold, dfHead)
        .select(col("shingle")))
      .distinct().ckpt()
    val keptOld = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "prefix"), probeShingles)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    // the two layout writes are independent (distinct dirs; deltaSets /
    // probeShingles are eager checkpoints, keptOld a bucket-pruned read
    // of the immutable `from`) — overlap them (guide §2.6)
    graft.util.Par.runUnit(Seq(
      () => graft.sources.PrunedIndex.writeDelta(spark,
        graft.fs.Fs.child(into, "prefix"),
        keptOld.select(col("shingle"), col("id"), col("sz"))
          .unionByName(prefixRowsOf(deltaSets, threshold, dfHead)),
        probeShingles, graft.fs.Fs.child(from, "prefix")),
      () => graft.sources.PrunedIndex.writeDelta(spark,
        graft.fs.Fs.child(into, "sets"), deltaSets, deltaIds,
        graft.fs.Fs.child(from, "sets"))))
    writeFrozenHead(spark, into, dfHead)
    copyMeta(nearDupMetaPath(from), nearDupMetaPath(into))
  }

  /** Raw copy of a family's meta sidecar — preserves optional lines
    * (the near-dup meta's dfHeadSize/frozenDocs). */
  private def copyMeta(from: String, into: String): Unit =
    graft.fs.Fs.writeStringAtomic(into, graft.fs.Fs.readString(from))

  // ---------------------------------------------------------------------
  // Containment over the persisted index: [[containmentDeltaPairs]]'s
  // per-batch cost profile matches [[jaccardDeltaPairs]]'s — a full df
  // re-aggregation (corpus explode), a full container-postings
  // re-explode, and corpus-wide joins, every batch. The indexed form
  // adds two thin components to the near-dup root:
  //   root/postings  (shingle, id, sz)  ALL shingles per doc, keyed by shingle
  //   root/dfcensus  (shingle, df)      the EXACT document-frequency census
  // and a batch then costs: delta text compute + bucket-pruned reads +
  // broadcast joins + ONE thin scan of the census (no text, no explode,
  // no corpus shuffle) to re-derive the global prefix order.
  //
  // Unlike the Jaccard path (where a frozen order is a completeness
  // theorem), the CAPPED containment output is defined by the batch
  // algorithm's order- and hot-set choices, so the indexed form
  // reconstructs them EXACTLY: the census updates to post-delta counts
  // for the touched shingles (delta adds, replaced ids' old revisions
  // subtract — both delta-bounded), the head re-derives from the
  // updated census (same top-K, same ties), and the container cap
  // applies per probed shingle from exact post-delta df. Result:
  // containmentDeltaPairsIndexed == containmentDeltaPairs for ANY
  // maxDf — not just the uncapped theorem case (pinned in DedupSpec).
  // ---------------------------------------------------------------------

  private def allPostingsOf(sets: DataFrame): DataFrame =
    sets.select(explode(col("sh")).as("shingle"), col("id"), col("sz"))

  /** Extend a [[writeNearDupIndex]] root into the UNIFIED dedup index:
    * one root serving both Jaccard probes ([[jaccardDeltaPairsIndexed]])
    * and containment probes ([[containmentDeltaPairsIndexed]]). Writes
    * prefix+sets+frozen-head (the near-dup components) plus the full
    * postings, the exact df census, and the MAINTAINED census head
    * (`cthead` — the census top-K under (df desc, shingle), the state
    * that lets a probe batch re-derive the global prefix order without
    * scanning the full census). */
  def writeContainmentIndex(spark: org.apache.spark.sql.SparkSession,
                            docs: DataFrame, idCol: String, textCol: String,
                            root: String, n: Int = 3, threshold: Double = 0.8,
                            dfHeadSize: Int = 100000, numBuckets: Int = 64): Unit = {
    writeNearDupIndex(spark, docs, idCol, textCol, root, n, threshold,
      dfHeadSize, numBuckets)
    // derive from the just-written sets — the text is shingled once
    val sets = graft.sources.PrunedIndex.read(spark,
      graft.fs.Fs.child(root, "sets")).select(col("id"), col("sh"), col("sz"))
    graft.sources.PrunedIndex.write(allPostingsOf(sets),
      graft.fs.Fs.child(root, "postings"), Seq("shingle"), numBuckets)
    val census = allPostingsOf(sets)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .ckpt()
    graft.sources.PrunedIndex.write(census,
      graft.fs.Fs.child(root, "dfcensus"), Seq("shingle"), numBuckets)
    val headRows = census.filter(col("df") >= 2)
      .orderBy(col("df").desc, col("shingle")).limit(dfHeadSize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    writeCtHead(spark, root, headRows, dfHeadSize,
      complete = headRows.length < dfHeadSize)
  }

  // ---- the maintained census head (`cthead`) --------------------------
  //
  // The containment probe's global prefix order is the census top-K
  // under (df desc, shingle). Re-deriving it from the full census every
  // batch is the one corpus-proportional step the indexed path used to
  // pay (r17 verdict item #2: at 100 TB the census is billions of thin
  // rows). The head is therefore PERSISTED (≤ headK rows, bounded
  // driver state) and maintained incrementally: the stored head minus
  // the batch's touched keys plus their exact post-delta counts covers
  // every possible top-K member as long as the new K-th entry does not
  // sink below the stored floor — every untouched non-head shingle
  // orders strictly after that floor and its df is unchanged, so
  // nothing unseen can qualify. A batch that crosses the floor (mass
  // deletion demoting enough head entries) falls back to the full thin
  // census scan — correctness never depends on the shortcut.

  private[llm] def ctHeadMetaPath(root: String): String =
    graft.fs.Fs.child(root, "_CTHEAD_META")

  private def hasCtHead(root: String): Boolean =
    graft.fs.Fs.exists(ctHeadMetaPath(root))

  /** (headK, complete): the K the head was maintained at, and whether
    * it holds EVERY df ≥ 2 census shingle (census fits under K). */
  private def readCtHeadMeta(root: String): (Int, Boolean) = {
    val ls = graft.fs.Fs.readString(ctHeadMetaPath(root)).split("\n")
    (ls(0).trim.toInt, ls(1).trim == "1")
  }

  /** The head's total order: df desc, shingle asc — identical to the
    * census `orderBy(col("df").desc, col("shingle"))`, so an
    * incremental top-K under this comparator equals the full scan's. */
  private def ctHeadOrd(e: (String, Long)): (Long, String) = (-e._2, e._1)

  private def readCtHeadRows(spark: org.apache.spark.sql.SparkSession,
                             root: String): Seq[(String, Long)] =
    graft.store.RecordedSchema.read(spark, graft.fs.Fs.child(root, "cthead"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .sortBy(ctHeadOrd)

  private def writeCtHead(spark: org.apache.spark.sql.SparkSession,
                          root: String, rows: Seq[(String, Long)],
                          headK: Int, complete: Boolean): Unit = {
    import spark.implicits._
    graft.store.RecordedSchema.writeParquet(rows.toDF("shingle", "df").coalesce(1),
      graft.fs.Fs.child(root, "cthead"))
    graft.fs.Fs.writeStringAtomic(ctHeadMetaPath(root),
      s"$headK\n${if (complete) 1 else 0}")
  }

  /** The post-delta census head (top `k` under (df desc, shingle)),
    * derived from the persisted head + the batch's touched keys — cost
    * O(head + touched), never O(census). Returns
    * Some((head, complete')) when the floor bound certifies exactness;
    * None when the caller must fall back to the full census scan:
    * no persisted head, `k` beyond the stored head's coverage, or the
    * candidate floor crossed the stored floor. `touched` is the batch's
    * touched shingle keys (delta ∪ replaced-old); `adj` their exact
    * post-delta counts (df > 0 rows — keys dropping to 0 are absent,
    * their exclusion rides `touched`). Replay-safe: re-running with an
    * already-updated head yields the same head (the update only
    * replaces touched entries and drops out-of-top-K rows — a subset
    * that still contains the true top-K). */
  private def incrementalCtHead(spark: org.apache.spark.sql.SparkSession,
                                root: String, k: Int,
                                touched: Set[String],
                                adj: Seq[(String, Long)]): Option[(Seq[(String, Long)], Boolean)] = {
    if (!hasCtHead(root)) return None
    val (storedK, storedComplete) = readCtHeadMeta(root)
    if (k > storedK && !storedComplete) return None
    val stored = readCtHeadRows(spark, root)
    val cand = (stored.filterNot(e => touched(e._1)) ++ adj.filter(_._2 >= 2L))
      .sortBy(ctHeadOrd)
    val head = cand.take(k)
    val exact = storedComplete ||
      (head.length == k && stored.nonEmpty &&
        Ordering[(Long, String)].lteq(ctHeadOrd(head.last), ctHeadOrd(stored.last)))
    if (exact) Some((head, storedComplete && cand.length <= k)) else None
  }

  /** The post-delta adjustment of the df census for the TOUCHED
    * shingles (delta revisions add, replaced ids' old revisions
    * subtract): (shingle, df) with exact post-delta counts, df > 0
    * rows only. `touchedKeys`/`dPost`/`replacedPost` are the caller's
    * delta-bounded frames. */
  private def adjustedCensus(spark: org.apache.spark.sql.SparkSession,
                             root: String, touchedKeys: DataFrame,
                             dPost: DataFrame, replacedPost: DataFrame): DataFrame = {
    val stored = graft.sources.PrunedIndex.readPruned(spark,
      graft.fs.Fs.child(root, "dfcensus"), touchedKeys)
    touchedKeys
      .join(stored.select(col("shingle"), col("df").as("d0")), Seq("shingle"), "left")
      .join(dPost.groupBy(col("shingle")).agg(count(lit(1)).as("dplus")),
        Seq("shingle"), "left")
      .join(replacedPost.groupBy(col("shingle")).agg(count(lit(1)).as("dminus")),
        Seq("shingle"), "left")
      .select(col("shingle"),
        (coalesce(col("d0"), lit(0L)) + coalesce(col("dplus"), lit(0L)) -
          coalesce(col("dminus"), lit(0L))).as("df"))
      .filter(col("df") > 0)
  }

  /** [[containmentDeltaPairs]] over the persisted unified index —
    * bit-for-bit the same pair set (any `maxDf`), at delta-bounded
    * per-batch cost plus one THIN census scan (the global prefix order
    * re-derives from stored (shingle, df) rows — no text, no explode).
    * Role 1 (delta as contained): the delta's prefix rows under the
    * post-delta order probe the capped stored postings. Role 2 (delta
    * as container): stored docs sharing a non-hot shingle with the
    * delta — a ≤ maxDf·|delta shingles| superset — re-derive their
    * prefixes in-query from their pruned sets and probe the delta's
    * capped postings. Exact-containment verification over pruned
    * partner sets. Release the delta's shingle cache with
    * [[releaseIndexedProbeCache]]. */
  def containmentDeltaPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                                   root: String, delta: DataFrame,
                                   idCol: String, textCol: String,
                                   maxDf: Int = Int.MaxValue,
                                   dfHeadSize: Int = 100000): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val (n, threshold) = readNearDupMeta(root)
    val deltaSets = containmentIndex(delta, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaIds = deltaSets.select(col("id")).distinct()
    val dPost = allPostingsOf(deltaSets)
    val replacedPost = allPostingsOf(graft.sources.PrunedIndex.readPruned(spark,
      graft.fs.Fs.child(root, "sets"), deltaIds))
    val touchedKeys = dPost.select(col("shingle"))
      .unionByName(replacedPost.select(col("shingle")))
      .distinct().ckpt()
    val adjusted = adjustedCensus(spark, root, touchedKeys, dPost, replacedPost)
      .ckpt()
    // the global order: the maintained census head with touched keys
    // updated — O(head + touched) driver work, NO census scan (the last
    // corpus-proportional step of the indexed path, removed r18). Falls
    // back to the full thin census scan only when the floor bound can't
    // certify exactness (mass-deletion batches, k beyond the stored
    // head, legacy roots without a cthead component) — either path
    // yields the identical top-K (same comparator), so the pair set is
    // unchanged.
    val touchedSet = touchedKeys.collect().map(_.getString(0)).toSet
    val adjRows = adjusted.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val headPost: Map[String, Long] =
      incrementalCtHead(spark, root, dfHeadSize, touchedSet, adjRows) match {
        case Some((h, _)) => h.toMap
        case None => graft.sources.PrunedIndex.read(spark,
            graft.fs.Fs.child(root, "dfcensus"))
          .join(broadcast(touchedKeys), Seq("shingle"), "left_anti")
          .unionByName(adjusted)
          .filter(col("df") >= 2)
          .orderBy(col("df").desc, col("shingle"))
          .limit(dfHeadSize)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    // exact post-delta df for every probed shingle lives in `adjusted`
    // (probe keys ⊆ the delta's shingles ⊆ touched)
    val hot = adjusted.filter(col("df") > maxDf).select(col("shingle"))
    // role 1: delta contained — prefix(delta) ⋈ capped postings(all);
    // role 2: delta container. probe1 ⊆ probe2 (a doc's prefix rows
    // are a PREFIX of its shingle set, so every prefix shingle of a
    // delta doc is one of the delta's shingles), hence ONE bucket-
    // pruned postings read keyed by probe2 serves BOTH roles —
    // readPruned's exact key semi-join makes `storedPost ⋉ probe1`
    // row-identical to a probe1-keyed read (guide §2.3: one pass over
    // the pruned buckets instead of two). The two probe-key cuts are
    // independent given `hot` — overlapped (guide §2.6).
    val aDelta = prefixRowsOf(deltaSets, threshold, headPost)
      .select(col("shingle"), col("id").as("a_id"), col("sz").as("a_sz"))
    val probes = graft.util.Par.run(Seq(
      () => aDelta.select(col("shingle")).distinct()
        .join(broadcast(hot), Seq("shingle"), "left_anti")
        .ckpt(),
      () => dPost.select(col("shingle")).distinct()
        .join(broadcast(hot), Seq("shingle"), "left_anti")
        .ckpt()))
    val (probe1, probe2) = (probes(0), probes(1))
    val storedPost = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "postings"), probe2)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .ckpt()
    val bStored1 = storedPost
      .join(broadcast(probe1), Seq("shingle"), "left_semi")
    val bSide1 = bStored1.select(col("shingle"), col("id"), col("sz"))
      .unionByName(dPost.join(broadcast(probe1), Seq("shingle"), "left_semi"))
      .select(col("shingle"), col("id").as("b_id"), col("sz").as("b_sz"))
    val cand1 = broadcast(aDelta.join(broadcast(probe1), Seq("shingle"), "left_semi"))
      .join(bSide1, Seq("shingle"))
    val supersetIds = storedPost.select(col("id")).distinct()
    val aCandSets = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "sets"), supersetIds)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val aStored2 = prefixRowsOf(aCandSets, threshold, headPost)
      .select(col("shingle"), col("id").as("a_id"), col("sz").as("a_sz"))
    val bDelta2 = dPost.join(broadcast(hot), Seq("shingle"), "left_anti")
      .select(col("shingle"), col("id").as("b_id"), col("sz").as("b_sz"))
    val cand2 = aStored2.join(broadcast(bDelta2), Seq("shingle"))
    val candidates = cand1.unionByName(cand2)
      .filter(col("a_id") =!= col("b_id"))
      .filter(col("b_sz") >= lit(threshold) * col("a_sz"))
      .select(col("a_id"), col("b_id"))
      .distinct()
      .ckpt()
    val partnerIds = candidates.select(col("a_id").as("id"))
      .unionAll(candidates.select(col("b_id").as("id"))).distinct()
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val partnerSets = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "sets"), partnerIds)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .select(col("id"), col("sh"), col("sz"))
    verifyContainment(candidates, partnerSets.unionByName(deltaSets), threshold)
  }

  /** [[appendNearDupIndexDeltaInto]] for the unified index: the
    * near-dup components plus the postings (REPLACE rows for touched
    * shingle keys), the census and the census head, all delta-bounded
    * writeDelta passes from `from` into `into`. The census rows landed
    * for the touched keys are DERIVED from the post-replacement
    * postings frame being written ((kept stored postings ∪ delta
    * postings) counted per shingle), never by adjusting the stored
    * census, so they equal a from-scratch build's (pinned in
    * DedupSpec). The versioned-store building block: all FIVE
    * unified-index components land under one new version dir
    * ([[NearDupIndexStore.appendDelta]]), committed with a single
    * atomic pointer swap. */
  private[llm] def appendContainmentIndexDeltaInto(
      spark: org.apache.spark.sql.SparkSession,
      from: String, into: String, delta: DataFrame,
      idCol: String, textCol: String,
      pre: Option[DeltaProbe] = None): Unit = {
    val (n, _) = readNearDupMeta(from)
    val deltaSets = pre.map(_.sets).getOrElse(
      containmentIndex(delta, idCol, textCol, n).ckpt())
    val deltaIds = pre.map(_.ids).getOrElse(
      deltaSets.select(col("id")).distinct())
    val dPost = allPostingsOf(deltaSets)
    val replacedPost = allPostingsOf(pre.map(_.replacedOld).getOrElse(
      graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "sets"), deltaIds)))
    val touchedKeys = dPost.select(col("shingle"))
      .unionByName(replacedPost.select(col("shingle")))
      .distinct().ckpt()
    val keptPostings = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "postings"), touchedKeys)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .select(col("shingle"), col("id"), col("sz"))
    // materialized BEFORE the postings swap: the census derives from
    // this frame, not from a lazy re-read of the index mid-landing
    val newRows = keptPostings.unionByName(dPost).ckpt()
    graft.sources.PrunedIndex.writeDelta(spark,
      graft.fs.Fs.child(into, "postings"), newRows, touchedKeys,
      graft.fs.Fs.child(from, "postings"))
    graft.sources.PrunedIndex.writeDelta(spark,
      graft.fs.Fs.child(into, "dfcensus"),
      newRows.groupBy(col("shingle")).agg(count(lit(1)).as("df")),
      touchedKeys, graft.fs.Fs.child(from, "dfcensus"))
    // census-head maintenance: stored head ∪ touched keys' post-delta
    // counts, re-sorted driver-side — O(head + touched); a full census
    // re-scan happens only when the floor is crossed (mass deletion) or
    // the root predates the cthead component. Replay-idempotent like
    // the census itself: the touched counts derive from the landed
    // newRows frame, and re-merging an already-updated head yields the
    // same head (see [[incrementalCtHead]]).
    val touchedSet = touchedKeys.collect().map(_.getString(0)).toSet
    val touchedCensus = newRows.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val headK = if (hasCtHead(from)) readCtHeadMeta(from)._1 else 100000
    val (headRows, complete) =
      incrementalCtHead(spark, from, headK, touchedSet, touchedCensus) match {
        case Some(hc) => hc
        case None =>
          val full = graft.sources.PrunedIndex.read(spark,
              graft.fs.Fs.child(into, "dfcensus"))
            .filter(col("df") >= 2)
            .orderBy(col("df").desc, col("shingle")).limit(headK)
            .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
          (full, full.length < headK)
      }
    writeCtHead(spark, into, headRows, headK, complete)
    appendNearDupIndexDeltaInto(spark, from, into, delta, idCol, textCol,
      pre.orElse(Some(DeltaProbe(deltaSets, deltaIds,
        graft.sources.PrunedIndex.readPruned(spark,
          graft.fs.Fs.child(from, "sets"), deltaIds)))))
  }

  /** Release the delta shingle-set cache a prior
    * [[jaccardDeltaPairsIndexed]] call persisted for these inputs — the
    * index-aware form of [[releaseShingleSetCache]] (the shingle width
    * comes from the index meta, so the caller need not know it). Safe
    * to call even if nothing is cached. */
  def releaseIndexedProbeCache(root: String, delta: DataFrame,
                               idCol: String, textCol: String): Unit = {
    val (n, _) = readNearDupMeta(root)
    containmentIndex(delta, idCol, textCol, n).unpersist(): Unit
  }

  /** Re-derive the frozen df head and the prefix layout from the STORED
    * sets — the candidate-count maintenance action (the
    * [[graft.llm.AnnIndexStore.reclusterIfDrifted]] analog). No text is
    * read or shingled; the sets index is the only input. Runs on the
    * fresh version dir of a refreezing [[NearDupIndexStore.compact]]
    * (see [[compactIndexInto]]). */
  private[llm] def refreezeNearDupIndex(spark: org.apache.spark.sql.SparkSession,
                                        root: String, dfHeadSize: Int = -1): Unit = {
    val (n, threshold) = readNearDupMeta(root)
    // the build-time head size persists in the meta (r17 advice: a
    // refreeze must not silently reset a non-default head size); an
    // explicit dfHeadSize > 0 overrides it
    val headK = if (dfHeadSize > 0) dfHeadSize else readNearDupHeadSize(root)
    // bucket count from the SETS meta — always present, and the prefix
    // layout may be absent when a refreeze rides a compaction that
    // skipped the (about-to-be-replaced) prefix fold
    val (_, numBuckets) = graft.sources.PrunedIndex.meta(
      graft.fs.Fs.child(root, "sets"))
    val sets = graft.sources.PrunedIndex.read(spark,
        graft.fs.Fs.child(root, "sets"))
      .select(col("id"), col("sh"), col("sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dfHead, _) = dfHeadOf(sets, headK)
    writeFrozenHead(spark, root, dfHead)
    graft.sources.PrunedIndex.write(prefixRowsOf(sets, threshold, dfHead),
      graft.fs.Fs.child(root, "prefix"), Seq("shingle"), numBuckets)
    graft.fs.Fs.writeStringAtomic(nearDupMetaPath(root),
      s"$n\n$threshold\n$headK\n${sets.count()}")
    sets.unpersist(false): Unit
  }

  /** Every [[graft.sources.PrunedIndex]] component a near-dup index
    * dir can hold, relative to it: the near-dup pair (`prefix`,
    * `sets`), containment's `postings`/`dfcensus`, minhash's `bands`,
    * and the winnowing and fuzzy-key families under their `win/` and
    * `fuzzy/` subdirs (their component names clash with containment's).
    * The manifest scan set for reference-aware retention. */
  private[llm] val IndexComponents: Seq[String] =
    Seq("prefix", "sets", "postings", "dfcensus", "bands",
      "win/byid", "win/postings", "win/dfcensus",
      "fuzzy/segs", "fuzzy/byid")

  /** Re-land the index at `from` self-contained under `into`: every
    * present component rewritten flat (no stitched references, same key
    * columns and bucket count), the plain-parquet heads and the family
    * metas copied — probes against `into` equal probes against `from`.
    * `refreeze = true` re-derives the frozen df head and the prefix
    * layout from the folded sets instead of copying them
    * ([[refreezeNearDupIndex]]): the frozen order is a candidate-count
    * heuristic, never a correctness input, so a refreeze changes probe
    * COST, not probe answers. The one fold behind both
    * [[NearDupIndexStore.compact]] and [[CurationLedgerStore.compact]]. */
  private[llm] def compactIndexInto(spark: org.apache.spark.sql.SparkSession,
                                    from: String, into: String,
                                    refreeze: Boolean = false): Unit = {
    import graft.fs.Fs
    import graft.sources.PrunedIndex
    val hasJaccard = Fs.exists(Fs.child(from, "sets"))
    val refreezing = refreeze && hasJaccard
    // a refreeze re-lands the prefix layout and the frozen head itself —
    // folding them here would be a wasted O(index) write
    IndexComponents.filterNot(c => refreezing && c == "prefix")
      .map(c => (Fs.child(from, c), Fs.child(into, c))).filter(c => Fs.exists(c._1))
      .foreach { case (src, dst) =>
        val (keyCols, numBuckets) = PrunedIndex.meta(src)
        PrunedIndex.write(PrunedIndex.read(spark, src), dst, keyCols, numBuckets)
      }
    if (hasCtHead(from)) {
      val (headK, headComplete) = readCtHeadMeta(from)
      writeCtHead(spark, into, readCtHeadRows(spark, from), headK, headComplete)
    }
    if (hasJaccard && !refreezing)
      writeFrozenHead(spark, into, readFrozenHead(spark, from))
    Seq[String => String](nearDupMetaPath, minHashMetaPath,
        r => winnowMetaPath(Fs.child(r, "win")), r => fuzzyMetaPath(Fs.child(r, "fuzzy")))
      .map(m => (m(from), m(into))).filter(m => Fs.exists(m._1))
      .foreach { case (src, dst) => copyMeta(src, dst) }
    // after the folds: head + prefix re-derive from the folded sets
    // (the containment head is EXACT maintained state, never stale)
    if (refreezing) refreezeNearDupIndex(spark, into)
  }

  /** Exact-Jaccard verification of candidate (a_id, b_id) pairs.
    * Array-form deliberately — see [[verifyContainment]]'s shape note
    * for the measured comparison against a thin PPJoin-style count. */
  private[llm] def verifyJaccard(candidates: DataFrame, withSets: DataFrame,
                                 threshold: Double): DataFrame = {
    val sa = withSets.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val sb = withSets.select(col("id").as("b_id"), col("sh").as("b_sh"))
    candidates
      .join(sa, "a_id").join(sb, "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** MinHash signatures: `numHashes` independent seeded-hash minima over
    * the shingle set — one narrow scan through the native
    * [[graft.functions.expr.MinHashSig]] expression, no explode, no
    * shuffle (only the banded keys ever shuffle downstream). */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 64): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.expr.MinHashSig(shingleSet(col(textCol), n), numHashes).as("sig"))

  /** MinHash-LSH near-dup pairs: band the signature, bucket-join on
    * (band, band-hash), then exact-verify Jaccard. Sub-quadratic; recall
    * is probabilistic in the banding (standard LSH S-curve), precision
    * is exact thanks to verification.
    *
    * Candidate dedup is a plain `distinct()` on the thin (a_id, b_id)
    * pairs — MEASURED faster than the emit-once alternative (keep only
    * each pair's first agreeing band): emit-once needs both 16-int
    * band-key arrays riding through the bucket join, and that wide
    * shuffle cost a 10× slowdown at both 1× and 10× corpus scale
    * against the narrow join + distinct (1.4 s → 14 s base,
    * 12 s → 206 s at 10×). Partial aggregation absorbs the duplicated
    * thin pairs map-side; the arrays can't be absorbed. */
  /** Banded bucket keys from signatures: (id, band, bkey). ONE
    * definition shared by the self-join path and the incremental index,
    * so an index built yesterday buckets identically to a delta banded
    * today. */
  private def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sigs.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        hash(slice(col("sig"), b * rows + 1, rows)).as(s"b$b")
      }: _*)).as(Seq("band", "bkey")))
  }

  def minHashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
                      threshold: Double = 0.8): DataFrame = {
    val sigs = minHashSignatures(docs, idCol, textCol, n, numHashes)
    val banded = bandKeys(sigs, numHashes, bands)

    val l = banded.select(col("band"), col("bkey"), col("id").as("a_id"))
    val r = banded.select(col("band"), col("bkey"), col("id").as("b_id"))
    val candidates = l.join(r, Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()

    // the shared [[containmentIndex]] plan: a Jaccard/containment call
    // over the same corpus in the same session resolves to the same
    // cache entry (released together via [[releaseShingleSetCache]])
    val withSets = containmentIndex(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    verifyJaccard(candidates, withSets, threshold)
  }

  // ---- incremental dedup (delta batch vs curated corpus) --------------
  //
  // At 100 TB you do NOT re-run corpus-wide dedup per ingest batch: the
  // pipeline maintains a small per-doc index (fingerprint, or banded
  // MinHash keys) and dedups each delta against it. Per-batch cost is
  // then ∝ |delta| + matched buckets — never a function of corpus size:
  // the delta side is broadcast, so the corpus index is never shuffled.

  /** Exact-dedup index over a corpus: (id, fp) — 16 bytes of md5 per
    * document; the structure a curated store persists alongside the
    * data (same role as the reference's watermark store: tiny control
    * state that makes the next load incremental). */
  def fingerprintIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), fingerprint(col(textCol)).as("fp"))

  /** Corpus snapshot diff: which documents were added, removed, or
    * changed between two corpus versions — the audit a data-versioned
    * curation store runs before promoting a new snapshot (and the
    * input to incremental re-embedding / re-indexing: only `added` and
    * `changed` rows need recompute). Content comparison is by normalized
    * md5 fingerprint, so rows are (id, 16-byte fp) on both sides and
    * the full-outer join shuffles thin control state, never text.
    * Unchanged documents — the overwhelming majority of a real
    * snapshot pair — are filtered out, so output is bounded by churn.
    *
    * @return (idCol, status) with status ∈ added | removed | changed,
    *         one row per churned document.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    // Presence is carried as an explicit per-side marker, NOT inferred
    // from fingerprint nullity: a document with NULL text has a NULL
    // fingerprint but is still *present* in its snapshot, and must
    // classify as changed/unchanged (null-safe <=>), never added/removed.
    val o = fingerprintIndex(oldDocs, idCol, textCol)
      .select(col("id").as(idCol), col("fp").as("__old_fp"), lit(true).as("__in_old"))
    val n = fingerprintIndex(newDocs, idCol, textCol)
      .select(col("id").as(idCol), col("fp").as("__new_fp"), lit(true).as("__in_new"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(!(col("__old_fp") <=> col("__new_fp")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Exact incremental dedup: delta documents whose normalized text
    * already exists in the corpus → (delta_id, corpus_id) per match.
    * Broadcast-hash-join on the md5 fingerprint: the corpus index
    * streams, only the (small) delta builds a hash table. */
  def exactDeltaDups(delta: DataFrame, idCol: String, textCol: String,
                     corpusIndex: DataFrame): DataFrame = {
    val deltaFp = fingerprintIndex(delta, idCol, textCol)
      .select(col("id").as("delta_id"), col("fp"))
    broadcast(deltaFp)
      .join(corpusIndex.select(col("id").as("corpus_id"), col("fp")), Seq("fp"))
      .select("delta_id", "corpus_id")
  }

  /** Near-dup LSH index over a corpus: the banded MinHash bucket keys
    * (id, band, bkey) — `bands` small integers per document, persisted
    * once and appended to as batches commit. Bucketing is identical to
    * [[minHashLshPairs]] (same signatures, same band hash), so
    * index-vs-delta candidate generation finds exactly the pairs the
    * full self-join would. */
  def minHashBandIndex(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame =
    bandKeys(minHashSignatures(docs, idCol, textCol, n, numHashes), numHashes, bands)

  /** Incremental near-dup pairs: every pair (a_id < b_id) with Jaccard
    * ≥ `threshold` involving at least one delta document — delta-vs-
    * corpus candidates from a broadcast join of the delta's band keys
    * against the persisted index, within-delta candidates from the
    * delta's own (tiny) self-join; both exact-verified against real
    * shingle sets. Equivalent to `minHashLshPairs(corpus ∪ delta)`
    * restricted to pairs touching the delta (pinned by DedupSpec), at
    * per-batch cost: the corpus is scanned once (index probe +
    * verification lookups), never self-joined. */
  def minHashDeltaPairs(delta: DataFrame, corpus: DataFrame,
                        corpusIndex: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 64, bands: Int = 16,
                        threshold: Double = 0.8): DataFrame = {
    val deltaKeys = bandKeys(
      minHashSignatures(delta, idCol, textCol, n, numHashes), numHashes, bands)

    val dk = broadcast(deltaKeys)
    val crossPairs = dk.select(col("band"), col("bkey"), col("id").as("d_id"))
      .join(corpusIndex.select(col("band"), col("bkey"), col("id").as("c_id")),
        Seq("band", "bkey"))
      .filter(col("d_id") =!= col("c_id")) // a doc present in both sides
      .select(least(col("d_id"), col("c_id")).as("a_id"),
        greatest(col("d_id"), col("c_id")).as("b_id"))
    val deltaPairs = dk.select(col("band"), col("bkey"), col("id").as("a_id"))
      .join(dk.select(col("band"), col("bkey"), col("id").as("b_id")), Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val candidates = crossPairs.unionAll(deltaPairs).distinct()

    // a doc present in both sides must not duplicate verify rows — drop
    // it from the corpus side via a broadcast anti-join on the (small)
    // delta id set, NOT a corpus-wide distinct (that would be a full
    // shuffle of every shingle set)
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val withSets = corpus.select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .unionAll(delta.select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh")))
    verifyJaccard(candidates, withSets, threshold)
  }

  // ---------------------------------------------------------------------
  // MinHash-LSH over the persisted unified index — the same recipe as
  // the indexed Jaccard/containment/winnowing paths, closing this
  // family's two remaining per-batch corpus costs: [[minHashDeltaPairs]]
  // takes the corpus TEXT as an argument and re-shingles ALL of it for
  // verification every batch, and its candidate probe scans the full
  // band index (broadcast join — no shuffle, but a full read). The
  // indexed form adds ONE thin component to a [[writeNearDupIndex]]
  // root:
  //   root/bands  (id, band, bkey)  keyed by (band, bkey)
  // derived from the STORED sets (signatures are a pure function of
  // the shingle array — [[graft.functions.expr.MinHashSig]] hashes set
  // elements, so stored-array signatures equal text-derived ones), and
  // a batch then costs: delta shingling + bucket-pruned reads of only
  // the delta's band-key buckets + a broadcast candidate join + exact
  // verification against bucket-pruned partner SETS (the near-dup
  // root's existing component — no text ever re-read).
  // ---------------------------------------------------------------------

  private def minHashMetaPath(root: String): String =
    graft.fs.Fs.child(root, "_MINHASH_META")

  private def readMinHashMeta(root: String): (Int, Int) = {
    val ls = graft.fs.Fs.readString(minHashMetaPath(root)).split("\n")
    (ls(0).trim.toInt, ls(1).trim.toInt)
  }

  private def bandRowsOfSets(sets: DataFrame, numHashes: Int,
                             bands: Int): DataFrame =
    bandKeys(sets.select(col("id"),
      graft.functions.expr.MinHashSig(col("sh"), numHashes).as("sig")),
      numHashes, bands)

  /** Extend a [[writeNearDupIndex]] root with the banded MinHash
    * component (signatures derived from the stored sets — the text is
    * NOT re-read). Probe with [[minHashDeltaPairsIndexed]]; maintain
    * with [[appendMinHashIndexDeltaInto]]. */
  def writeMinHashIndex(spark: org.apache.spark.sql.SparkSession,
                        root: String, numHashes: Int = 64, bands: Int = 16,
                        numBuckets: Int = 64): Unit = {
    val sets = graft.sources.PrunedIndex.read(spark,
      graft.fs.Fs.child(root, "sets")).select(col("id"), col("sh"), col("sz"))
    graft.sources.PrunedIndex.write(bandRowsOfSets(sets, numHashes, bands),
      graft.fs.Fs.child(root, "bands"), Seq("band", "bkey"), numBuckets)
    graft.fs.Fs.writeStringAtomic(minHashMetaPath(root), s"$numHashes\n$bands")
  }

  /** [[minHashDeltaPairs]] over the persisted unified index — the same
    * pair set, at delta-bounded per-batch cost: bucket-pruned band
    * probes (only the delta's band-key buckets are read), a broadcast
    * candidate join, and exact verification against bucket-pruned
    * partner sets. Re-uploaded ids count only their delta revision
    * (stale band and set rows anti-joined), so probing before or after
    * the append of the same batch gives the same answer. Release the
    * delta's shingle cache with [[releaseIndexedProbeCache]]. */
  def minHashDeltaPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                               root: String, delta: DataFrame,
                               idCol: String, textCol: String,
                               threshold: Double = 0.8): DataFrame = {
    val (n, _) = readNearDupMeta(root)
    val (numHashes, bands) = readMinHashMeta(root)
    val deltaSets = containmentIndex(delta, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deltaIds = deltaSets.select(col("id")).distinct()
    val deltaKeys = bandRowsOfSets(deltaSets, numHashes, bands).ckpt()
    val stored = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "bands"),
        deltaKeys.select(col("band"), col("bkey")))
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val dk = broadcast(deltaKeys)
    val crossPairs = dk.select(col("band"), col("bkey"), col("id").as("d_id"))
      .join(stored.select(col("band"), col("bkey"), col("id").as("c_id")),
        Seq("band", "bkey"))
      .select(least(col("d_id"), col("c_id")).as("a_id"),
        greatest(col("d_id"), col("c_id")).as("b_id"))
    val deltaPairs = dk.select(col("band"), col("bkey"), col("id").as("a_id"))
      .join(dk.select(col("band"), col("bkey"), col("id").as("b_id")),
        Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    val candidates = crossPairs.unionAll(deltaPairs).distinct().ckpt()
    val partnerIds = candidates.select(col("a_id").as("id"))
      .unionAll(candidates.select(col("b_id").as("id"))).distinct()
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val partnerSets = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "sets"), partnerIds)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .select(col("id"), col("sh"), col("sz"))
    verifyJaccard(candidates, partnerSets.unionByName(deltaSets), threshold)
  }

  /** Absorb `delta` into the band component at `from`, landing it
    * under `into` (REPLACE semantics; delta-bounded write I/O;
    * cross-root stitching as in [[appendNearDupIndexDeltaInto]]).
    * Touched keys include the re-uploaded ids' OLD band keys, derived
    * from `from`'s stored sets (no text re-read), so displaced rows
    * leave their buckets even when the new revision shares none of
    * them. */
  private[llm] def appendMinHashIndexDeltaInto(
      spark: org.apache.spark.sql.SparkSession,
      from: String, into: String, delta: DataFrame,
      idCol: String, textCol: String,
      pre: Option[DeltaProbe] = None): Unit = {
    val (n, _) = readNearDupMeta(from)
    val (numHashes, bands) = readMinHashMeta(from)
    val deltaSets = pre.map(_.sets).getOrElse(
      containmentIndex(delta, idCol, textCol, n).ckpt())
    val deltaIds = pre.map(_.ids).getOrElse(
      deltaSets.select(col("id")).distinct())
    val deltaKeys = bandRowsOfSets(deltaSets, numHashes, bands)
    val replacedOldSets = pre.map(_.replacedOld).getOrElse(
      graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "sets"), deltaIds))
    val oldKeys = bandRowsOfSets(
      replacedOldSets.select(col("id"), col("sh")), numHashes, bands)
    val touchedKeys = deltaKeys.select(col("band"), col("bkey"))
      .unionByName(oldKeys.select(col("band"), col("bkey")))
      .distinct().ckpt()
    val kept = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "bands"), touchedKeys)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    graft.sources.PrunedIndex.writeDelta(spark,
      graft.fs.Fs.child(into, "bands"),
      kept.select(col("id"), col("band"), col("bkey"))
        .unionByName(deltaKeys.select(col("id"), col("band"), col("bkey"))),
      touchedKeys, graft.fs.Fs.child(from, "bands"))
    copyMeta(minHashMetaPath(from), minHashMetaPath(into))
  }

  /** 64-bit SimHash of the whitespace-token multiset — one narrow scan
    * through the native [[graft.functions.expr.SimHash64]] expression
    * (no explode, no shuffle, stays in WholeStageCodegen). */
  def simHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.expr.SimHash64(tokens(normalizeText(col(textCol)))).as("sig"))

  /** SimHash near-dup pairs with hamming distance ≤ `maxHamming` (≤ 7).
    *
    * The scale structure is DISTINCT-SIGNATURE candidate generation +
    * output-bound expansion — the fix for the measured quadratic
    * blow-up of banding raw docs (2.8 s → 1146 s at 10× corpus scale):
    * a near-dup-heavy corpus has large clusters of identical 64-bit
    * signatures, and any bucket containing a cluster of m docs pays
    * m² join rows PER agreeing band. Collapsing to distinct signatures
    * first makes bucket occupancy diversity-bound (clusters count once),
    * and the two expansion joins back to doc ids produce exactly the
    * output rows — never more.
    *
    *   1. `reps`: distinct signatures (map-side partial agg absorbs
    *      clusters).
    *   2. Pigeonhole banding over chunk COMBINATIONS of width
    *      `w = 8 - maxHamming`: hamming ≤ maxHamming flips bits in at
    *      most `maxHamming` of the eight 8-bit chunks, so ≥ w chunks
    *      agree exactly — bucketing every sig under all C(8,w)
    *      w-subsets guarantees a qualifying pair shares ≥ 1 bucket
    *      (complete). Key width is 8·w bits: at the standard web-dedup
    *      setting maxHamming = 3 (Manku et al., WWW'07) that is a
    *      40-bit key — selective even when template-heavy corpora make
    *      the signature marginals highly correlated. (Loose thresholds
    *      pay for themselves: maxHamming = 6 leaves 16-bit keys, and a
    *      measured 50× quadratic blow-up at 10× corpus scale on
    *      correlated sigs — the cost lives in the threshold, not the
    *      plan shape.)
    *   3. Emit-once per signature pair: both sig longs ride in the
    *      joined row (8 bytes each — cheap, unlike array carries), so
    *      "first agreeing combination" filters duplicates in-row.
    *   4. Expand sig pairs to doc pairs; identical-sig doc pairs
    *      (hamming 0) come from a separate equi-self-join on sig.
    *
    * The all-PAIRS contract is itself quadratic in cluster size (a
    * cluster of m docs IS m(m-1)/2 output rows) — at 100 TB use
    * [[exactDupGroups]] / [[nearDupClusters]] for dup-group semantics;
    * this operator's job is to make the candidate stage linear-ish so
    * only the unavoidable output expansion scales with cluster mass. */
  def simHashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    sigHammingPairs(simHashes(docs, idCol, textCol), maxHamming)

  /** Hamming-≤k pairs over ANY 64-bit signature table (id, sig) — the
    * [[simHashPairs]] distinct-signature pigeonhole machinery factored
    * out so every 64-bit sketch shares it (SimHash over tokens, image
    * pHash via [[Multimodal.imageNearDupPairs]]). Scale notes and the
    * completeness argument live on [[simHashPairs]]. */
  def sigHammingPairs(sigs0: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "8-chunk combination banding is complete only for maxHamming <= 7")
    // persisted because FIVE downstream plan branches scan it (reps
    // aggregate, both expansion joins, both intra-join sides) with
    // different join keys — without it each branch re-derives every
    // signature (re-tokenizing or re-decoding the corpus). 16
    // bytes/doc; same tradeoff as the sibling embeddingNearDupLsh's
    // sketched table. Storage is bounded: repeated calls on the same
    // inputs reuse ONE cache-manager entry (same-plan lookup), and
    // [[releaseSimHashCache]] (or `unpersist` on an identical plan)
    // frees it when the caller is done with the returned (lazy) frame
    // — pinned by DedupSpec's persisted-RDD-count test.
    val sigs = sigs0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = sigs.groupBy(col("sig")).agg(count(lit(1)).as("m")).select("sig")

    val combos = sigCombos(maxHamming)
    val banded = bandSigs(reps, combos)
    val l = banded.select(col("combo"), col("ckey"), col("sig").as("a_sig"))
    val r = banded.select(col("combo"), col("ckey"), col("sig").as("b_sig"))
    val sigPairs = l.join(r, Seq("combo", "ckey"))
      .filter(col("a_sig") < col("b_sig"))
      .filter(col("combo") === firstAgreeingCombo(combos, col("a_sig"), col("b_sig")))
      .select(col("a_sig"), col("b_sig"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)

    // expansion: sig pair → all (doc of a_sig) × (doc of b_sig) pairs;
    // each doc has exactly one sig, so rows are unique by construction
    val inter = sigPairs
      .join(sigs.select(col("sig").as("a_sig"), col("id").as("x_id")), "a_sig")
      .join(sigs.select(col("sig").as("b_sig"), col("id").as("y_id")), "b_sig")
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"), col("hamming"))

    // identical-sig doc pairs: hamming 0, always within any threshold
    val a = sigs.select(col("sig"), col("id").as("a_id"))
    val b = sigs.select(col("sig"), col("id").as("b_id"))
    val intra = a.join(b, Seq("sig")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), lit(0).as("hamming"))

    intra.unionByName(inter)
  }

  private def sigChunk(sig: Column, c: Int): Column =
    shiftright(sig, c * 8).bitwiseAND(0xFFL)

  /** The C(8, 8−maxHamming) chunk combinations of the pigeonhole
    * banding (see [[simHashPairs]]'s completeness argument). */
  private def sigCombos(maxHamming: Int): Seq[Seq[Int]] = {
    val w = math.max(1, 8 - maxHamming)
    (0 until 8).combinations(w).map(_.toSeq).toSeq
  }

  /** (sig, combo, ckey) rows: one bucket key per chunk combination.
    * Shift-or, not multiply-add: at w = 8 the key fills all 64 bits and
    * ANSI mode would reject the (harmless, wrapping) overflow. */
  private def bandSigs(sigs: DataFrame, combos: Seq[Seq[Int]]): DataFrame = {
    def comboKey(combo: Seq[Int]): Column =
      combo.map(sigChunk(col("sig"), _)).reduce((acc, c) => shiftleft(acc, 8).bitwiseOR(c))
    sigs.select(col("sig"),
      posexplode(array(combos.map(comboKey): _*)).as(Seq("combo", "ckey")))
  }

  /** "First agreeing combo" as a 256-entry lookup instead of a
    * least(when...) over every combination: the expanded form (56
    * combos × w chunk-compares at maxHamming = 3) overflowed janino's
    * 64 KB method limit and silently dropped the whole join stage to
    * interpreted execution. Chunk c of aSig agrees with bSig iff byte c
    * of (aSig XOR bSig) is zero, so an 8-bit zero-byte mask determines
    * agreement of EVERY combo at once; the minimal agreeing combo index
    * is then a pure function of that mask, precomputed here into a
    * 256-int literal array. 8 small terms + one element_at — codegens
    * comfortably at any maxHamming. */
  private def firstAgreeingCombo(combos: Seq[Seq[Int]],
                                 aSig: Column, bSig: Column): Column =
    if (combos.size == 1) lit(0) // exact-match banding: single combo, nothing to dedup
    else {
      val xorSig = aSig.bitwiseXOR(bSig)
      val zeroByteMask = (0 until 8).map { c =>
        when(sigChunk(xorSig, c) === 0L, lit(1 << c)).otherwise(lit(0))
      }.reduce(_ + _)
      val comboMasks = combos.map(_.map(1 << _).sum)
      val firstByMask = (0 until 256).map { zm =>
        val i = comboMasks.indexWhere(m => (zm & m) == m)
        if (i < 0) combos.size else i
      }
      element_at(typedLit(firstByMask), zeroByteMask.cast("int") + 1)
    }

  /** Incremental hamming-≤k pairs over a persisted 64-bit signature
    * index — the index/delta maintenance form for the [[sigHammingPairs]]
    * family (SimHash, image pHash, audio fingerprints), mirroring
    * [[winnowingDeltaPairs]]' contract: every pair (a_id < b_id) with
    * hamming ≤ `maxHamming` in the POST-delta corpus and at least one
    * side in the delta. Equals `sigHammingPairs(corpus ∪ delta)` so
    * restricted (pinned in DedupSpec, including re-uploads: ids present
    * in both index and delta count ONLY their delta signature — stale
    * index rows are anti-joined out first).
    *
    * Scale shape: the corpus is never re-sketched — only its thin
    * (id, sig) index is probed. Candidate generation bands the delta's
    * DISTINCT signatures against the merged index's distinct
    * signatures (delta-bounded × corpus-banded, the same
    * diversity-bound bucket occupancy as the batch form); expansion
    * joins produce exactly the delta-touching output rows. */
  def sigHammingDeltaPairs(delta: DataFrame, corpusIndex: DataFrame,
                           maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "8-chunk combination banding is complete only for maxHamming <= 7")
    val merged = sigHammingMergedPlan(delta, corpusIndex)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val combos = sigCombos(maxHamming)
    val dBand = bandSigs(merged.filter(col("d")).select(col("sig")).distinct(), combos)
      .select(col("combo"), col("ckey"), col("sig").as("x_sig"))
    val mBand = bandSigs(merged.select(col("sig")).distinct(), combos)
      .select(col("combo"), col("ckey"), col("sig").as("y_sig"))
    // normalize the asymmetric (delta sig, any sig) candidates to
    // (a_sig < b_sig); a pair of two delta sigs arises in both
    // orientations with the SAME first agreeing combo, so distinct()
    // collapses it (thin 17-byte rows)
    val sigPairs = dBand.join(mBand, Seq("combo", "ckey"))
      .filter(col("x_sig") =!= col("y_sig"))
      .select(least(col("x_sig"), col("y_sig")).as("a_sig"),
        greatest(col("x_sig"), col("y_sig")).as("b_sig"), col("combo"))
      .filter(col("combo") === firstAgreeingCombo(combos, col("a_sig"), col("b_sig")))
      .select(col("a_sig"), col("b_sig"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()

    // expansion to doc pairs, keeping only delta-touching ones
    val inter = sigPairs
      .join(merged.select(col("sig").as("a_sig"), col("id").as("x_id"),
        col("d").as("x_d")), "a_sig")
      .join(merged.select(col("sig").as("b_sig"), col("id").as("y_id"),
        col("d").as("y_d")), "b_sig")
      .filter(col("x_d") || col("y_d"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"), col("hamming"))

    // identical-sig pairs (hamming 0): delta side × all same-sig docs;
    // within-delta pairs arise twice → distinct
    val intra = merged.filter(col("d")).select(col("sig"), col("id").as("x_id"))
      .join(merged.select(col("sig"), col("id").as("y_id")), Seq("sig"))
      .filter(col("x_id") =!= col("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"), lit(0).as("hamming"))
      .distinct()

    intra.unionByName(inter)
  }

  /** The (stale-rows-displaced, delta-flagged) merged index plan
    * [[sigHammingDeltaPairs]] persists — factored out so
    * [[releaseSigHammingDeltaCache]] can rebuild the identical plan and
    * find the cache-manager entry by canonicalized-plan equality. */
  private def sigHammingMergedPlan(delta: DataFrame, corpusIndex: DataFrame): DataFrame = {
    val deltaIds = delta.select(col("id")).distinct()
    val current = corpusIndex.join(broadcast(deltaIds), Seq("id"), "left_anti")
    current.withColumn("d", lit(false))
      .unionByName(delta.select(col("id"), col("sig")).withColumn("d", lit(true)))
  }

  /** Release the merged-index cache a prior [[sigHammingDeltaPairs]]
    * call persisted for these inputs, once the returned frame's results
    * are consumed. Without this, an incremental caller (one call per
    * batch, each with a distinct delta plan) accumulates one executor
    * storage entry PER BATCH until the session ends — the same
    * contract as [[releaseSimHashCache]], public-API unpersist via
    * plan-equality lookup. Safe to call even if nothing is cached. */
  def releaseSigHammingDeltaCache(delta: DataFrame, corpusIndex: DataFrame): Unit =
    sigHammingMergedPlan(delta, corpusIndex).unpersist(): Unit

  /** Release the signature cache a prior [[simHashPairs]] call persisted
    * for these inputs, once the returned frame's results are consumed.
    * Rebuilding the identical (pure-function) plan lets the cache
    * manager find the entry by canonicalized-plan equality — the public
    * `unpersist` path, no private Spark API. Safe to call even if
    * nothing is cached. */
  def releaseSimHashCache(docs: DataFrame, idCol: String, textCol: String): Unit = {
    simHashes(docs, idCol, textCol).unpersist(): Unit
  }

  /** Embedding near-dup: all pairs (a < b) with cosine ≥ threshold.
    * Exact/complete variant — a blocked self-join (O(n²) compares but
    * fully distributed; use [[graft.llm.Similarity]] LSH buckets for the
    * approximate 100 TB path). */
  def embeddingNearDupPairs(embs: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{cosineWithNorms, dot, norm}
    // norms are per-vector: hoist them out of the O(n²) pair stage
    val withNorm = embs.select(col(idCol).as("id"), col(vecCol).as("v"), norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col("id").as("a_id"), col("v").as("a_v"), col("nrm").as("a_n"))
    val b = withNorm.select(col("id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_n"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", cosineWithNorms(dot(col("a_v"), col("b_v")), col("a_n"), col("b_n")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos").as("cos_sim"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic near-dup pairs
    * found only WITHIN k-means clusters — cluster the embeddings with
    * the deterministic decimal-exact k-means from [[Similarity]], then
    * compare pairs inside each cluster. Cost drops from the exact
    * variant's O(n²) to O(Σ|cluster|²) ≈ O(n²/k); cross-cluster pairs
    * are never formed (the SemDeDup recall trade: semantic duplicates
    * land in the same cluster because they are near-identical vectors).
    * The per-cluster self-join shuffles the (id, vec, norm) projection
    * once on the cluster id; norms are hoisted out of the pair stage.
    * Deterministic end-to-end (hash-seeded k-means, decimal means), so
    * the output is partitioning-independent and literal-oracle-able. */
  def semDedupPairs(embs: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int, minCos: Double, iters: Int = 3): DataFrame =
    semDedupPairsWithCentroids(embs, idCol, vecCol,
      Similarity.kMeansCentroids(embs, idCol, vecCol, nClusters, iters), minCos)

  /** [[semDedupPairs]] under a FIXED centroid matrix — the full-run
    * reference an incremental run must agree with (pinned by DedupSpec
    * against [[semDedupDeltaPairs]], the t64/t65 equivalence idiom). */
  private[graft] def semDedupPairsWithCentroids(
      embs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[(Int, Array[Double])], minCos: Double): DataFrame =
    pairsWithinCells(assignWithNorm(embs, idCol, vecCol, centroids), minCos)

  /** Nearest-centroid assignment with the float vector and its norm
    * hoisted for the pair stage: (id, fv, cell, nrm). One narrow map
    * over the scan — the centroid matrix rides as literals. */
  private[llm] def assignWithNorm(embs: DataFrame, idCol: String, vecCol: String,
                                  centroids: Array[(Int, Array[Double])]): DataFrame = {
    import graft.functions.VectorFunctions.norm
    val dv = embs.select(col(idCol).as("id"), col(vecCol).as("fv"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    Similarity.assignCells(dv, centroids)
      .select(col("id"), col("fv"), col("cell"), norm(col("fv")).as("nrm"))
  }

  /** All within-cell pairs (a_id < b_id) with cosine ≥ `minCos` over an
    * (id, fv, cell, nrm) frame: ONE shuffle on the cell id. */
  private def pairsWithinCells(assigned: DataFrame, minCos: Double): DataFrame = {
    import graft.functions.VectorFunctions.{cosineWithNorms, dot}
    val a = assigned.select(col("cell"), col("id").as("a_id"),
      col("fv").as("a_v"), col("nrm").as("a_n"))
    val b = assigned.select(col("cell"), col("id").as("b_id"),
      col("fv").as("b_v"), col("nrm").as("b_n"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosineWithNorms(dot(col("a_v"), col("b_v")), col("a_n"), col("b_n")))
      .filter(col("cos") >= minCos)
      .select(col("cell"), col("a_id"), col("b_id"), col("cos").as("cos_sim"))
  }

  /** The delta side of an incremental SemDeDup pass: all within-cell
    * pairs touching `dAssigned` (an (id, fv, cell, nrm) delta frame,
    * broadcast — batches are delta-sized) against `cVecs` (the stored
    * members of the delta's cells, same shape, delta ids already
    * removed). Intra-delta pairs come from the delta's own broadcast
    * self-join; cross pairs from ONE broadcast-hash join on the cell
    * id — no shuffle of the member side beyond its (pruned) scan.
    * Shared by [[semDedupDeltaPairs]] (plain persisted cell index) and
    * [[AnnIndexStore.semDedupPairsForDelta]] (versioned store). */
  private[llm] def deltaPairsWithinCells(dAssigned: DataFrame, cVecs: DataFrame,
                                         minCos: Double): DataFrame = {
    import graft.functions.VectorFunctions.{cosineWithNorms, dot}
    val dk = broadcast(dAssigned)
    val intra = pairsWithinCells(dk, minCos)
    val cross = cVecs
      .join(dk.select(col("cell"), col("id").as("d_id"),
        col("fv").as("d_v"), col("nrm").as("d_n")), Seq("cell"))
      .withColumn("cos", cosineWithNorms(dot(col("fv"), col("d_v")), col("nrm"), col("d_n")))
      .filter(col("cos") >= minCos)
      .select(col("cell"),
        least(col("id"), col("d_id")).as("a_id"),
        greatest(col("id"), col("d_id")).as("b_id"),
        col("cos").as("cos_sim"))
    intra.unionByName(cross)
  }

  /** Semantic-dedup cell index over a corpus: (id, cell) under a
    * persisted [[Similarity.kMeansIndex]] — the embedding analog of
    * [[minHashBandIndex]]: one int per document, persisted once and
    * appended to as batches commit. Assignment is a pure deterministic
    * function of (vector, centroids), so rows indexed yesterday match
    * what a re-assignment would compute today. */
  def semDedupCellIndex(corpus: DataFrame, idCol: String, vecCol: String,
                        centroidIndex: DataFrame): DataFrame = {
    val centroids = Similarity.centroidsOf(centroidIndex)
    val dv = corpus.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    Similarity.assignCells(dv, centroids).select(col("id"), col("cell"))
  }

  /** Incremental SemDeDup: every within-cell pair (a_id < b_id) with
    * cosine ≥ `minCos` involving at least one delta embedding, under the
    * CORPUS-built centroids — equivalent to
    * `semDedupPairsWithCentroids(corpus ∪ delta, corpusCentroids)`
    * restricted to pairs touching the delta (pinned by DedupSpec), at
    * per-batch cost. The corpus is never re-clustered: the delta is
    * assigned to the existing cells with one narrow map (broadcast
    * centroid literals), the persisted (id, cell) index — never the
    * vectors — filters corpus members down to the delta's matched cells,
    * and the corpus embedding table is scanned exactly once to fetch
    * vectors for those members. Within-delta pairs come from the delta's
    * own (tiny) broadcast self-join. A pair can match in only one cell
    * (assignment is unique), so no candidate dedup is needed; docs
    * present on both sides are dropped from the corpus side by a
    * broadcast anti-join, the [[minHashDeltaPairs]] idiom. */
  def semDedupDeltaPairs(delta: DataFrame, corpus: DataFrame,
                         centroidIndex: DataFrame, cellIndex: DataFrame,
                         idCol: String, vecCol: String, minCos: Double): DataFrame = {
    import graft.functions.VectorFunctions.norm
    val centroids = Similarity.centroidsOf(centroidIndex)
    val dAssigned = assignWithNorm(delta, idCol, vecCol, centroids)

    // corpus members of the delta's cells, via the thin persisted index;
    // ids also in the delta leave through a broadcast anti-join (NOT a
    // corpus-wide distinct)
    val deltaCells = dAssigned.select(col("cell")).distinct()
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val matched = cellIndex
      .join(broadcast(deltaCells), Seq("cell"))
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    // the only corpus touch: one scan to fetch matched members' vectors
    // (AQE broadcasts the thin matched-id set when it is small)
    val cVecs = corpus.select(col(idCol).as("id"), col(vecCol).as("fv"))
      .join(matched, Seq("id"))
      .select(col("id"), col("fv"), col("cell"), norm(col("fv")).as("nrm"))

    deltaPairsWithinCells(dAssigned, cVecs, minCos)
  }

  /** Embedding near-dup via cosine LSH — the 100 TB path: sign-sketch
    * each vector (random hyperplanes), band the bits, generate
    * candidates only within matching (band, bits) buckets, then verify
    * exact cosine. Sub-quadratic: the full pairwise compare never
    * happens; recall is the LSH S-curve over the banded sketch
    * (raise `numBits`/lower `bandBits` for more recall). */
  def embeddingNearDupLsh(embs: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, numBits: Int = 32,
                          bandBits: Int = 8, seed: Long = 42L): DataFrame = {
    import graft.functions.VectorFunctions.{cosineWithNorms, dot, norm}
    import graft.functions.expr.SignSketch
    require(numBits % bandBits == 0, "bandBits must divide numBits")
    val bands = numBits / bandBits
    val mask = (1L << bandBits) - 1

    // persisted: three downstream branches (banding + both verification
    // sides) scan it. Bounded lifecycle as in [[simHashPairs]]: repeated
    // calls reuse one cache entry; [[releaseEmbeddingLshCache]] frees it.
    val sketched = signSketched(embs, idCol, vecCol, numBits, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sketched.select(col("id"), col("sk"),
      posexplode(array((0 until bands).map { b =>
        shiftright(col("sk"), b * bandBits).bitwiseAND(mask)
      }: _*)).as(Seq("band", "bkey")))

    // emit-once (no distinct): both sketches ride in the joined row, so
    // keeping only each pair's FIRST agreeing band makes candidates
    // unique by construction — near-identical vectors agree on many
    // bands and would otherwise duplicate up to `bands`× into a dedup
    val l = banded.select(col("band"), col("bkey"), col("id").as("a_id"), col("sk").as("a_sk"))
    val r = banded.select(col("band"), col("bkey"), col("id").as("b_id"), col("sk").as("b_sk"))
    def bandOf(sk: Column, b: Int): Column = shiftright(sk, b * bandBits).bitwiseAND(mask)
    val firstAgreeingBand = least((0 until bands).map { b =>
      when(bandOf(col("a_sk"), b) === bandOf(col("b_sk"), b), lit(b)).otherwise(lit(bands))
    }: _*)
    val candidates = l.join(r, Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("band") === firstAgreeingBand)
      .select("a_id", "b_id")

    val sa = sketched.select(col("id").as("a_id"), col("v").as("a_v"), col("nrm").as("a_n"))
    val sb = sketched.select(col("id").as("b_id"), col("v").as("b_v"), col("nrm").as("b_n"))
    candidates.join(sa, "a_id").join(sb, "b_id")
      .withColumn("cos", cosineWithNorms(dot(col("a_v"), col("b_v")), col("a_n"), col("b_n")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos").as("cos_sim"))
  }

  /** The (id, v, nrm, sk) sketch projection — ONE definition shared by
    * [[embeddingNearDupLsh]] and its cache release, so the release
    * rebuilds a canonically identical plan. */
  private[graft] def signSketched(embs: DataFrame, idCol: String, vecCol: String,
                                  numBits: Int, seed: Long): DataFrame = {
    import graft.functions.VectorFunctions.norm
    import graft.functions.expr.SignSketch
    embs.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("nrm"), SignSketch(col(vecCol), numBits, seed).as("sk"))
  }

  /** Release the sketch cache a prior [[embeddingNearDupLsh]] call
    * persisted for these inputs (canonicalized-plan lookup, the
    * [[releaseSimHashCache]] idiom). Safe when nothing is cached. */
  def releaseEmbeddingLshCache(embs: DataFrame, idCol: String, vecCol: String,
                               numBits: Int = 32, seed: Long = 42L): Unit = {
    signSketched(embs, idCol, vecCol, numBits, seed).unpersist(): Unit
  }

  // ---------------------------------------------------------------------
  // Embedding-LSH over a persisted bucket-pruned index — the
  // centroid-FREE semantic near-dup family's delta-bounded form. Unlike
  // the store-backed SemDeDup probe ([[AnnIndexStore
  // .semDedupPairsForDelta]], whose answers are a function of the
  // store's current centroid partition), the banded sign-sketch is a
  // PURE function of each vector: answers never change under
  // maintenance, and recall is the LSH S-curve rather than the
  // same-cluster assumption. Components (the fuzzy-key layout shape):
  //   root/bands (id, band, bkey, sk)  keyed by (band, bkey)
  //   root/byid  (id, band, bkey, sk)  keyed by id  (replacement lookup)
  //   root/byvec (id, vec)             keyed by id  (verification fetch)
  // A batch reads only the delta's (band, bkey) buckets plus the
  // candidates' byvec buckets; the corpus is never re-sketched and
  // never fully scanned. numBits/bandBits/seed freeze in the meta (they
  // DEFINE the index); the cosine threshold stays a per-probe argument.
  // ---------------------------------------------------------------------

  private def elshMetaPath(root: String): String =
    graft.fs.Fs.child(root, "_ELSH_META")

  private[llm] def readElshMeta(root: String): (Int, Int, Long) = {
    val ls = graft.fs.Fs.readString(elshMetaPath(root)).split("\n")
    (ls(0).trim.toInt, ls(1).trim.toInt, ls(2).trim.toLong)
  }

  /** (id, band, bkey, sk) banded rows for a [[signSketched]] frame. */
  private def elshBandRows(sketched: DataFrame, numBits: Int,
                           bandBits: Int): DataFrame = {
    val bands = numBits / bandBits
    val mask = (1L << bandBits) - 1
    sketched.select(col("id"), col("sk"),
        posexplode(array((0 until bands).map { b =>
          shiftright(col("sk"), b * bandBits).bitwiseAND(mask)
        }: _*)).as(Seq("band", "bkey")))
      .select(col("id"), col("band"), col("bkey"), col("sk"))
  }

  /** A pair's FIRST agreeing band over the two sketches riding in the
    * joined row — the emit-once rule shared with
    * [[embeddingNearDupLsh]] (a pure pair function, so batch and
    * indexed probes dedup candidates identically). */
  private def elshFirstAgreeingBand(aSk: Column, bSk: Column,
                                    numBits: Int, bandBits: Int): Column = {
    val bands = numBits / bandBits
    val mask = (1L << bandBits) - 1
    def bandOf(sk: Column, b: Int): Column =
      shiftright(sk, b * bandBits).bitwiseAND(mask)
    least((0 until bands).map { b =>
      when(bandOf(aSk, b) === bandOf(bSk, b), lit(b)).otherwise(lit(bands))
    }: _*)
  }

  /** Build the persisted embedding-LSH index for `embs` (one corpus
    * version). Probe with [[embeddingLshDeltaPairsIndexed]]; advance
    * to a new root with [[appendEmbeddingLshIndexDelta]]. */
  def writeEmbeddingLshIndex(spark: org.apache.spark.sql.SparkSession,
                             embs: DataFrame, idCol: String, vecCol: String,
                             root: String, numBits: Int = 32,
                             bandBits: Int = 8, seed: Long = 42L,
                             numBuckets: Int = 64): Unit = {
    require(numBits % bandBits == 0, "bandBits must divide numBits")
    val sk = signSketched(embs, idCol, vecCol, numBits, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandRows = elshBandRows(sk, numBits, bandBits)
    graft.sources.PrunedIndex.write(bandRows,
      graft.fs.Fs.child(root, "bands"), Seq("band", "bkey"), numBuckets)
    graft.sources.PrunedIndex.write(bandRows,
      graft.fs.Fs.child(root, "byid"), Seq("id"), numBuckets)
    graft.sources.PrunedIndex.write(sk.select(col("id"), col("v").as("vec")),
      graft.fs.Fs.child(root, "byvec"), Seq("id"), numBuckets)
    graft.fs.Fs.writeStringAtomic(elshMetaPath(root),
      s"$numBits\n$bandBits\n$seed")
    sk.unpersist(false): Unit
  }

  /** [[embeddingNearDupLsh]] restricted to pairs touching `delta`,
    * over the persisted index: the delta sketches itself (one narrow
    * map), ONLY its (band, bkey) buckets load, candidates dedup by the
    * shared first-agreeing-band rule, and exact-cosine verification
    * fetches ONLY the candidates' stored vectors through the id-keyed
    * byvec buckets — delta-bounded read I/O end to end. Stale
    * re-upload rows leave by a broadcast anti-join (a re-uploaded id
    * pairs under its NEW vector only). */
  def embeddingLshDeltaPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                                    root: String, delta: DataFrame,
                                    idCol: String, vecCol: String,
                                    threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{cosineWithNorms, dot, norm}
    val (numBits, bandBits, seed) = readElshMeta(root)
    val dSk = signSketched(delta, idCol, vecCol, numBits, seed).ckpt()
    val dBands = broadcast(elshBandRows(dSk, numBits, bandBits).ckpt())
    val deltaIds = dSk.select(col("id")).distinct()
    val stored = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "bands"),
        dBands.select(col("band"), col("bkey")))
      .join(broadcast(deltaIds), Seq("id"), "left_anti")

    val fab = elshFirstAgreeingBand(col("a_sk"), col("b_sk"), numBits, bandBits)
    val cross = dBands
      .select(col("band"), col("bkey"), col("id").as("d_id"), col("sk").as("d_sk"))
      .join(stored.select(col("band"), col("bkey"),
        col("id").as("c_id"), col("sk").as("c_sk")), Seq("band", "bkey"))
      .filter(col("d_id") =!= col("c_id"))
      .select(col("band"),
        least(col("d_id"), col("c_id")).as("a_id"),
        greatest(col("d_id"), col("c_id")).as("b_id"),
        when(col("d_id") < col("c_id"), col("d_sk")).otherwise(col("c_sk")).as("a_sk"),
        when(col("d_id") < col("c_id"), col("c_sk")).otherwise(col("d_sk")).as("b_sk"))
      .filter(col("band") === fab)
      .select(col("a_id"), col("b_id"))
    val within = dBands
      .select(col("band"), col("bkey"), col("id").as("a_id"), col("sk").as("a_sk"))
      .join(dBands.select(col("band"), col("bkey"),
        col("id").as("b_id"), col("sk").as("b_sk")), Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .filter(col("band") === fab)
      .select(col("a_id"), col("b_id"))
    // no checkpoint: the byvec bucket resolution below evaluates the
    // candidate join once eagerly anyway, and keeping the lineage means
    // the returned plan SHOWS its pruned bands scan (the ScaleSpec
    // file-gate observes it there); the join is broadcast-driven and
    // delta-bounded, so the one recompute is cheap
    val cand = cross.unionByName(within)

    // verification vectors: the delta's ride in dSk; candidates' stored
    // partners fetch through the id-keyed byvec buckets (point lookups,
    // candidate-bounded — never a corpus scan)
    val candIds = cand.select(col("a_id").as("id"))
      .unionByName(cand.select(col("b_id").as("id"))).distinct()
    val storedNeeded = candIds.join(broadcast(deltaIds), Seq("id"), "left_anti")
    val cVecs = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "byvec"), storedNeeded)
      .select(col("id"), col("vec").as("v"), norm(col("vec")).as("nrm"))
    val allVecs = dSk.select(col("id"), col("v"), col("nrm")).unionByName(cVecs)
    cand
      .join(allVecs.select(col("id").as("a_id"), col("v").as("a_v"),
        col("nrm").as("a_n")), Seq("a_id"))
      .join(allVecs.select(col("id").as("b_id"), col("v").as("b_v"),
        col("nrm").as("b_n")), Seq("b_id"))
      .withColumn("cos", cosineWithNorms(dot(col("a_v"), col("b_v")),
        col("a_n"), col("b_n")))
      .filter(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos").as("cos_sim"))
  }

  /** Absorb `delta` into the embedding-LSH index at `from`, landing
    * the advanced index under `into` (REPLACE semantics for re-uploaded
    * ids, delta-bounded write I/O; untouched buckets stitch `from`'s
    * files by absolute path and `from` is never modified — the
    * [[appendNearDupIndexDeltaInto]] contract). */
  def appendEmbeddingLshIndexDelta(spark: org.apache.spark.sql.SparkSession,
                                   from: String, into: String, delta: DataFrame,
                                   idCol: String, vecCol: String): Unit = {
    val (numBits, bandBits, seed) = readElshMeta(from)
    val dSk = signSketched(delta, idCol, vecCol, numBits, seed).ckpt()
    val dBands = elshBandRows(dSk, numBits, bandBits).ckpt()
    val deltaIds = dSk.select(col("id")).distinct()
    val replacedOld = graft.sources.PrunedIndex.readPruned(spark,
      graft.fs.Fs.child(from, "byid"), deltaIds)
    val touchedKeys = dBands.select(col("band"), col("bkey"))
      .unionByName(replacedOld.select(col("band"), col("bkey")))
      .distinct().ckpt()
    val kept = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "bands"), touchedKeys)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .select(col("id"), col("band"), col("bkey"), col("sk"))
    def land(c: String, rows: DataFrame, probe: DataFrame): Unit =
      graft.sources.PrunedIndex.writeDelta(spark, graft.fs.Fs.child(into, c),
        rows, probe, graft.fs.Fs.child(from, c))
    land("bands", kept.unionByName(dBands), touchedKeys)
    land("byid", dBands, deltaIds)
    land("byvec", dSk.select(col("id"), col("v").as("vec")), deltaIds)
    copyMeta(elshMetaPath(from), elshMetaPath(into))
  }

  /** Connected components over an undirected pair graph — the group
    * resolution step every near-dup pipeline needs after pair
    * generation: pairs only SAY a~b; keeping one doc per cluster needs
    * the transitive closure (a~b, b~c ⇒ {a,b,c} together).
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): converges in
    * O(log n) rounds on any graph (near-dup graphs — dense clusters,
    * tiny diameter — typically converge in 2–3), no driver-side graph
    * state. Neighborhood minima come from `groupBy(u).agg(min(v))` +
    * a join back — NOT a window — so hot nodes (a boilerplate cluster
    * whose rep accumulates millions of neighbors at corpus scale) are
    * absorbed by map-side partial aggregation, and the remaining
    * edges⋈mins join is a sort-merge join AQE can skew-split; a window
    * would force every edge of a hot node through one task.
    *
    * Per round: ONE materializing `localCheckpoint` job (which also
    * truncates lineage) + one small aggregate computing (count,
    * order-independent xxhash64 checksum). The edge set is unchanged iff
    * count and checksum both repeat (collision odds ~2⁻⁶⁴ per round);
    * a final one-time `exceptAll` assertion makes termination exact —
    * per-round `exceptAll` (a full shuffle of both edge sets every
    * iteration) is gone.
    *
    * Returns (`id`, `rep`): one row per node that appears in `pairs`,
    * `rep` = the minimum id in its component (roots map to themselves).
    * Nodes in no pair are absent — they are their own cluster by
    * definition; [[dedupByPairs]] accounts for them with an anti-join.
    */
  /** Release the persisted blocks behind a `localCheckpoint`ed frame
    * (its plan is a `LogicalRDD` over the persisted RDD; the Dataset
    * `unpersist` API only talks to the cache manager and misses it). */
  private[llm] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    }

  /** Test-only instrumentation: when a mutable set is installed on the
    * CALLING thread, [[connectedComponents]] records the RDD id of
    * every round it localCheckpoints into it. The checkpoint-release
    * pin needs the ids THIS call created — a global
    * `getPersistentRDDs` diff is unsound under `testForkedParallel`
    * (concurrent suites share the SparkContext, so foreign persists
    * land inside the diff window; observed as the r15 flake). */
  private[graft] val ccCheckpointIds =
    new ThreadLocal[scala.collection.mutable.Set[Int]]()

  private def recordCcCheckpoint(df: DataFrame): DataFrame = {
    Option(ccCheckpointIds.get()).foreach { ids =>
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => ids += lr.rdd.id
      }
    }
    df
  }

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 30): DataFrame = {
    // (count, order-independent content checksum) — one small job, the
    // round's only action besides the checkpoint itself. The 64-bit row
    // hashes accumulate in decimal(38,0): a long sum would overflow
    // under ANSI mode after two adversarial rows.
    def signature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(
        count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO).cast("decimal(38,0)")).as("sig")).head()
      (r.getLong(0), r.getDecimal(1))
    }

    // canonical directed form: u > v (point from larger to smaller)
    var edges = recordCcCheckpoint(pairs
      .select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .ckpt())
    var prevSig = signature(edges)

    // Driver union-find fast path (guide §1.2 — the distributed
    // algorithm first): near-dup EDGE sets are orders of magnitude
    // smaller than the corpus (a pair is two documents that are
    // near-identical), and the iterative small-star/large-star loop
    // pays O(log n) rounds × ~4 shuffles × fixed job overhead on them —
    // measured as the dominant cost of every cluster-resolution query
    // and the 8→32-core ANTI-scaling band (tiny per-round shuffle
    // partitions). When the canonical edge set fits a broadcast-sized
    // driver budget (`spark.graft.cc.maxDriverEdges`, default 2M rows —
    // the same order as a broadcast-hash-join build side), collect it
    // once from the checkpoint and resolve components with union-find:
    // identical (id, rep=min) output, zero iterative jobs. Larger edge
    // sets (the 100 TB adversarial case) take the distributed loop
    // below unchanged. Integral id types only — the driver min must
    // reproduce Spark's ordering exactly.
    val idDt = pairs.schema(pairs.columns.indexOf(aCol)).dataType
    val maxDriverEdges =
      try pairs.sparkSession.conf.get("spark.graft.cc.maxDriverEdges", "2000000").toLong
      catch { case _: Throwable => 2000000L }
    val integralId = idDt == org.apache.spark.sql.types.LongType ||
      idDt == org.apache.spark.sql.types.IntegerType
    if (integralId && prevSig._1 <= maxDriverEdges) {
      val rows = edges
        .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
        .collect()
      unpersistCheckpoint(edges)
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long](rows.length * 2)
      def find(x0: Long): Long = {
        var r = x0
        while (parent.get(r).longValue != r) r = parent.get(r).longValue
        var c = x0
        while (c != r) { val n = parent.get(c).longValue; parent.put(c, r); c = n }
        r
      }
      rows.foreach { row =>
        val (u, v) = (row.getLong(0), row.getLong(1))
        if (!parent.containsKey(u)) parent.put(u, u)
        if (!parent.containsKey(v)) parent.put(v, v)
        val (ru, rv) = (find(u), find(v))
        // always attach the larger root under the smaller: roots stay
        // the component minimum, which IS the rep contract
        if (ru < rv) parent.put(rv, ru)
        else if (rv < ru) parent.put(ru, rv)
      }
      val spark = pairs.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idDt, nullable = true),
        org.apache.spark.sql.types.StructField("rep", idDt, nullable = true)))
      val isInt = idDt == org.apache.spark.sql.types.IntegerType
      val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](parent.size)
      val it0 = parent.keySet().iterator()
      while (it0.hasNext) {
        val k: Long = it0.next()
        val r = find(k)
        out += (if (isInt) org.apache.spark.sql.Row(k.toInt, r.toInt)
                else org.apache.spark.sql.Row(k, r))
      }
      return spark.createDataFrame(
        spark.sparkContext.parallelize(out.toSeq, math.max(1, out.size / 500000)),
        schema)
    }

    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: every node links its LARGER neighbors to the min of
      // its neighborhood (incl. itself) — works on the symmetric view
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMins = sym.groupBy("u").agg(min(col("v")).as("mn"))
      val large = sym.join(largeMins, "u")
        .withColumn("m", least(col("mn"), col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: every node links its smaller neighbors (and itself)
      // to the minimum of them — edges are already u > v form
      val smallMins = large.groupBy("u").agg(min(col("v")).as("m"))
      val next = recordCcCheckpoint(large.join(smallMins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(smallMins.select(col("u"), col("m").as("v")))
        .distinct()
        .ckpt())
      val sig = signature(next)
      if (sig == prevSig) {
        // checksum says fixed point — certify exactly, once
        converged = next.exceptAll(edges).isEmpty
        require(converged,
          "connectedComponents checksum collision: edge sets differ at equal signature")
      }
      prevSig = sig
      // free the finished round's checkpoint blocks NOW: localCheckpoint
      // persists its RDD, and dropping the reference only releases the
      // blocks when the JVM happens to GC — across O(log n) rounds the
      // un-collected rounds multiply the edge set's executor-memory
      // footprint (measured as 2× slowdown on repeated 10× runs in one
      // JVM). Dataset.unpersist() won't do it (localCheckpoint bypasses
      // the cache manager), so release the underlying RDD directly.
      unpersistCheckpoint(edges)
      edges = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // converged edge set is a forest of stars: u → root(min id)
    edges.select(col("u").as("id"), col("v").as("rep"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("rep")).distinct())
  }

  /** Near-dup cluster summary: one row per multi-member cluster —
    * representative (min id), member count. */
  def nearDupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("rep").as("keep_id"))
      .agg(count(lit(1)).as("cluster_size"))

  /** Survivor selection: drop every doc that belongs to a near-dup
    * cluster but is not its representative (min id). Composes with any
    * pair generator ([[jaccardNearDupPairs]], [[minHashLshPairs]],
    * [[simHashPairs]], [[embeddingNearDupLsh]], [[winnowingPairs]]).
    * Docs in no pair survive untouched (anti-join keeps them). */
  def dedupByPairs(docs: DataFrame, idCol: String,
                   pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("rep"))
      .select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Quality-aware survivor selection: like [[dedupByPairs]], but keep
    * the cluster member with the HIGHEST `scoreCol` (ties → smallest
    * id) instead of the smallest id — the curation-grade policy (among
    * near-identical crawls, keep the longest / highest-quality capture,
    * arXiv:2112.11446 §A1.2 keeps one "best" representative the same
    * way). Scale shape: clustering cost is [[connectedComponents]]
    * unchanged; the winner pick adds one thin (id, rep, score) shuffle
    * and a per-CLUSTER window (cluster sizes are near-dup group sizes —
    * bounded small in practice, and a pathological mega-cluster is a
    * data bug the CC checksum already surfaces), then an anti-join. The
    * document payload moves only in the final anti-join projection. */
  def dedupByPairsKeepBest(docs: DataFrame, idCol: String, scoreCol: String,
                           pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val members = connectedComponents(pairs, aCol, bCol)
      .join(docs.select(col(idCol).as("id"), col(scoreCol).as("score")), "id")
    val rn = row_number().over(
      Window.partitionBy(col("rep")).orderBy(col("score").desc, col("id")))
    val losers = members.withColumn("rn", rn)
      .filter(col("rn") > 1).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Winnowing near-copy pairs: docs sharing ≥ `minShared` winnowing
    * fingerprints (shared substrings of length ≥ w + k − 1). Inverted
    * index on fingerprints — same join shape as the shingle path, but
    * fingerprints are position-selected rolling hashes, so a handful
    * per document regardless of length.
    *
    * `maxDf` (default off) is the MOSS mitigation for hot fingerprints:
    * the pair join emits df·(df−1)/2 rows per fingerprint, so one
    * boilerplate substring shared by 10 k docs produces ~5·10⁷ join
    * rows on its own — output-quadratic at corpus scale. Capping drops
    * fingerprints appearing in more than `maxDf` documents BEFORE the
    * join (Schleimer et al., SIGMOD'03 §5 discard "too common" grams;
    * MOSS ignores matches above a repetition threshold). Recall caveat:
    * a pair whose ONLY shared substrings are corpus-wide boilerplate no
    * longer surfaces — which is exactly the MOSS argument for the cap
    * (ubiquitous strings are evidence of boilerplate, not copying).
    * Capped output is always a subset of the uncapped output, and equal
    * whenever no fingerprint exceeds the cap (pinned in DedupSpec). The
    * hot set has at most totalFps/maxDf distinct values, so the
    * exclusion anti-join broadcasts. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 12, w: Int = 8, minShared: Int = 3,
                     maxDf: Int = Int.MaxValue): DataFrame = {
    val fps = dropHotFps(winnowingIndex(docs, idCol, textCol, k, w), maxDf)
    val a = fps.select(col("fp"), col("id").as("a_id"))
    val b = fps.select(col("fp"), col("id").as("b_id"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Persisted winnowing fingerprint index: one (id, fp) row per
    * DISTINCT fingerprint per document — the [[fingerprintIndex]] /
    * [[minHashBandIndex]] / [[fuzzyKeyIndex]] persisted-index pattern
    * for the winnowing family. Build once per corpus version,
    * `write.parquet`, and probe delta batches with
    * [[winnowingDeltaPairs]] instead of re-fingerprinting the corpus;
    * maintenance is a doc-keyed group-replace
    * ([[graft.operators.Relational.mergeReplaceGroups]] on `id`, with
    * the delta's id set as the explicit replace-key set so a re-upload
    * that fingerprints to nothing still displaces its old rows). */
  def winnowingIndex(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 12, w: Int = 8): DataFrame = {
    import graft.functions.expr.Winnowing
    docs.select(col(idCol).as("id"),
      explode(array_distinct(Winnowing(normalizeText(col(textCol)), k, w))).as("fp"))
  }

  /** Rows of fingerprints with df ≤ `maxDf` (the MOSS cap; see
    * [[winnowingPairs]]). df is computable as a row count because the
    * index holds DISTINCT fps per doc. The hot set is ≤ totalRows/maxDf
    * distinct values — small at any fixed corpus size but LINEAR in
    * corpus growth, so the hint is left to AQE: it broadcasts the
    * anti-join while the set fits and degrades to a shuffle anti-join
    * past the broadcast threshold instead of OOMing a forced build. */
  private def dropHotFps(fps: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) fps
    else {
      val hot = fps.groupBy(col("fp"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .select(col("fp"))
      fps.join(hot, Seq("fp"), "left_anti")
    }

  /** Incremental winnowing near-copy pairs: every pair (a_id < b_id)
    * sharing ≥ `minShared` fingerprints in the post-delta corpus, with
    * at least one side in the delta — delta-vs-corpus pairs from a
    * broadcast probe of the delta's fingerprints against the persisted
    * [[winnowingIndex]], within-delta pairs from the delta's own tiny
    * self-join. Equals `winnowingPairs(corpus ∪ delta)` restricted to
    * pairs touching a delta id (pinned by SketchSpec, including the
    * re-upload and capped cases), at per-batch cost: the corpus text is
    * never re-read — only its thin index is probed.
    *
    * Re-uploaded documents (ids present in both the index and the
    * delta) count ONLY their delta-revision fingerprints: the index's
    * stale rows are anti-joined out first — the
    * [[fuzzyKeyDeltaPairs]] superseded-key contract. The `maxDf` cap is
    * evaluated on the POST-DELTA corpus (current index rows ∪ delta
    * rows), matching what a rebuild would compute. */
  def winnowingDeltaPairs(delta: DataFrame, idCol: String, textCol: String,
                          corpusIndex: DataFrame,
                          k: Int = 12, w: Int = 8, minShared: Int = 3,
                          maxDf: Int = Int.MaxValue): DataFrame = {
    val deltaFps = winnowingIndex(delta, idCol, textCol, k, w)
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val current = corpusIndex.join(broadcast(deltaIds), Seq("id"), "left_anti")
    val merged = dropHotFps(current.unionAll(deltaFps), maxDf)
    val mergedDelta = merged.join(broadcast(deltaIds), Seq("id"), "left_semi")
    // delta side × full post-delta corpus; least/greatest normalizes
    // the within-delta symmetric duplicates, distinct collapses them
    // (one row per (fp, pair) — fps are distinct per doc)
    mergedDelta.select(col("fp"), col("id").as("x"))
      .join(merged.select(col("fp"), col("id").as("y")), Seq("fp"))
      .filter(col("x") =!= col("y"))
      .select(col("fp"), least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"))
      .distinct()
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  // ---------------------------------------------------------------------
  // Winnowing over a persisted index — the [[writeNearDupIndex]] /
  // [[writeContainmentIndex]] recipe applied to the fingerprint family,
  // closing the last O(corpus)-per-batch dedup path:
  // [[winnowingDeltaPairs]] anti-joins and re-unions the FULL
  // fingerprint index every batch, re-aggregates df over it inside
  // dropHotFps, and shuffles the whole merged frame through the
  // candidate join on `fp`. The indexed form persists three thin
  // components
  //   root/byid      (id, fp)  keyed by id — displacement + census math
  //   root/postings  (fp, id)  keyed by fp — the candidate side
  //   root/dfcensus  (fp, df)  keyed by fp — the exact df census
  // and a batch then costs: delta fingerprinting + bucket-pruned reads
  // of ONLY the delta's fp buckets + a broadcast candidate join (the
  // stored side never shuffles). Unlike Jaccard there is no frozen
  // order to carry (no prefix heuristic) and unlike containment no
  // capped-output order to reconstruct: shared-fp counting is
  // order-free, so [[winnowingDeltaPairsIndexed]] ==
  // [[winnowingDeltaPairs]] for ANY `maxDf` directly — every shared
  // fingerprint of a delta-touching pair is a delta fingerprint, hence
  // probed, and hotness is evaluated on the exact post-delta df for
  // exactly those fingerprints (pinned in SketchSpec).
  // ---------------------------------------------------------------------

  private def winnowMetaPath(root: String): String =
    graft.fs.Fs.child(root, "_WINNOW_META")

  private def readWinnowMeta(root: String): (Int, Int) = {
    val ls = graft.fs.Fs.readString(winnowMetaPath(root)).split("\n")
    (ls(0).trim.toInt, ls(1).trim.toInt)
  }

  /** Build the persisted winnowing index for `docs` (one corpus
    * version). Write-once; maintain with
    * [[appendWinnowingIndexDeltaInto]]; probe with
    * [[winnowingDeltaPairsIndexed]]. */
  def writeWinnowingIndex(spark: org.apache.spark.sql.SparkSession,
                          docs: DataFrame, idCol: String, textCol: String,
                          root: String, k: Int = 12, w: Int = 8,
                          numBuckets: Int = 64): Unit = {
    // one eager cut of the fingerprint frame, then the three component
    // writes (distinct dirs, shared read-only input) overlap — the wall
    // is ~max, not sum, of the component walls (guide §2.6); the meta
    // lands after all three, preserving the write-once commit order
    val fps = winnowingIndex(docs, idCol, textCol, k, w).ckpt()
    graft.util.Par.runUnit(Seq(
      () => graft.sources.PrunedIndex.write(fps,
        graft.fs.Fs.child(root, "byid"), Seq("id"), numBuckets),
      () => graft.sources.PrunedIndex.write(fps.select(col("fp"), col("id")),
        graft.fs.Fs.child(root, "postings"), Seq("fp"), numBuckets),
      () => graft.sources.PrunedIndex.write(
        fps.groupBy(col("fp")).agg(count(lit(1)).as("df")),
        graft.fs.Fs.child(root, "dfcensus"), Seq("fp"), numBuckets)))
    graft.fs.Fs.writeStringAtomic(winnowMetaPath(root), s"$k\n$w")
  }

  /** [[winnowingDeltaPairs]] over the persisted index — the same pair
    * set for ANY `maxDf`, at delta-bounded per-batch cost. The exact
    * post-delta df for each probed fingerprint derives from three
    * delta-bounded frames: the stored census (pruned), the delta's own
    * counts, and the replaced ids' old-revision rows (pruned `byid`
    * read) — the adjustment self-cancels when probing AFTER the
    * append of the same batch, so probe order is immaterial, matching
    * the other indexed probes. */
  def winnowingDeltaPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                                 root: String, delta: DataFrame,
                                 idCol: String, textCol: String,
                                 minShared: Int = 3,
                                 maxDf: Int = Int.MaxValue): DataFrame = {
    val (k, w) = readWinnowMeta(root)
    val deltaFps = winnowingIndex(delta, idCol, textCol, k, w).ckpt()
    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val probeKeys = deltaFps.select(col("fp")).distinct().ckpt()
    val hot =
      if (maxDf == Int.MaxValue) probeKeys.limit(0)
      else {
        val replacedOld = graft.sources.PrunedIndex.readPruned(spark,
          graft.fs.Fs.child(root, "byid"), deltaIds)
        val d0 = graft.sources.PrunedIndex.readPruned(spark,
          graft.fs.Fs.child(root, "dfcensus"), probeKeys)
        probeKeys
          .join(d0.select(col("fp"), col("df").as("d0")), Seq("fp"), "left")
          .join(deltaFps.groupBy(col("fp")).agg(count(lit(1)).as("dplus")),
            Seq("fp"), "left")
          .join(replacedOld.groupBy(col("fp")).agg(count(lit(1)).as("dminus")),
            Seq("fp"), "left")
          .select(col("fp"),
            (coalesce(col("d0"), lit(0L)) + coalesce(col("dplus"), lit(0L)) -
              coalesce(col("dminus"), lit(0L))).as("df"))
          .filter(col("df") > maxDf)
          .select(col("fp"))
      }
    val live = deltaFps.join(broadcast(hot), Seq("fp"), "left_anti")
    val probeLive = probeKeys.join(broadcast(hot), Seq("fp"), "left_anti")
    val stored = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "postings"), probeLive)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val merged = stored.select(col("fp"), col("id"))
      .unionByName(live.select(col("fp"), col("id")))
    // least/greatest + distinct collapses the within-delta symmetric
    // duplicates to one row per (fp, pair) — [[winnowingDeltaPairs]]'s
    // exact shape, over pruned reads instead of the full index
    broadcast(live.select(col("fp"), col("id").as("x")))
      .join(merged.select(col("fp"), col("id").as("y")), Seq("fp"))
      .filter(col("x") =!= col("y"))
      .select(col("fp"), least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"))
      .distinct()
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }

  /** Absorb `delta` into the winnowing index at `from`, landing it
    * under `into` (REPLACE semantics for re-uploaded ids, delta-bounded
    * write I/O, cross-root stitching as in
    * [[appendNearDupIndexDeltaInto]]). The census derives from the
    * post-replacement postings frame being landed, the
    * [[appendContainmentIndexDeltaInto]] contract. */
  private[llm] def appendWinnowingIndexDeltaInto(
      spark: org.apache.spark.sql.SparkSession,
      from: String, into: String, delta: DataFrame,
      idCol: String, textCol: String): Unit = {
    val (k, w) = readWinnowMeta(from)
    val deltaFps = winnowingIndex(delta, idCol, textCol, k, w).ckpt()
    val deltaIds = delta.select(col(idCol).as("id")).distinct().ckpt()
    val replacedOld = graft.sources.PrunedIndex.readPruned(spark,
      graft.fs.Fs.child(from, "byid"), deltaIds)
    val touchedKeys = deltaFps.select(col("fp"))
      .unionByName(replacedOld.select(col("fp")))
      .distinct().ckpt()
    val keptPostings = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "postings"), touchedKeys)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .select(col("fp"), col("id"))
    val newRows = keptPostings
      .unionByName(deltaFps.select(col("fp"), col("id"))).ckpt()
    // the three component writes are independent (distinct dirs; every
    // shared input — newRows, deltaFps, touchedKeys, deltaIds — is an
    // eager checkpoint above), so they overlap (guide §2.6)
    def land(c: String, rows: DataFrame, probe: DataFrame): () => Unit = () =>
      graft.sources.PrunedIndex.writeDelta(spark, graft.fs.Fs.child(into, c),
        rows, probe, graft.fs.Fs.child(from, c))
    graft.util.Par.runUnit(Seq(
      land("postings", newRows, touchedKeys),
      land("dfcensus", newRows.groupBy(col("fp")).agg(count(lit(1)).as("df")),
        touchedKeys),
      land("byid", deltaFps, deltaIds)))
    copyMeta(winnowMetaPath(from), winnowMetaPath(into))
  }

  /** Cross-document repeated-substring spans (the substring-level dedup
    * signal of Lee et al., arXiv:2107.06499, with rolling k-token window
    * hashing standing in for their suffix array — the scalable
    * shuffle-friendly form): a window is "duplicated" when the same
    * k-token sequence appears in ≥ `minDocs` DISTINCT documents. Per
    * document: window counts plus the MERGED token coverage of its
    * duplicated windows (overlapping windows counted once — the classic
    * gaps-and-islands running-max, exact integers, so the oracle can
    * re-derive it with the same window function). Documents with no
    * duplicated span emit zeros; `dup_cov_ppm` = covered·10⁶ DIV
    * n_tokens is the per-doc "how much of me is boilerplate copy"
    * filter signal.
    *
    * Scale shape: text is scanned once into the thin (id, pos, fp₁₂₈→
    * md5) window projection — ~n_tokens rows per doc, the method's
    * inherent cost (cheaper than the suffix array's O(n log n) global
    * sort). The census groupBy is map-side combined on the 128-bit
    * fingerprint; the frequent-window set it emits is tiny (only
    * windows in ≥ minDocs docs), so the join back is a broadcast in
    * practice, with AQE falling back to shuffle-hash if a pathological
    * corpus makes it big. The island merge is a per-document window
    * function over ONLY the duplicated positions — no global sort. */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).as("id"),
        tokens(normalizeText(col(textCol))).as("tk"))
      .select(col("id"), col("tk"), size(col("tk")).as("nt"))
    val wins = base.select(col("id"),
      posexplode(when(col("nt") >= k,
        transform(sequence(lit(0), col("nt") - k),
          i => md5(concat_ws(" ", slice(col("tk"), i + 1, lit(k))))))
        .otherwise(array())).as(Seq("pos", "fp")))
    val freq = wins.groupBy(col("fp"))
      .agg(count_distinct(col("id")).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("fp"))
    val prev = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = greatest(lit(0), col("pos") + lit(k)
      - greatest(coalesce(max(col("pos") + lit(k)).over(prev), lit(0)), col("pos")))
    val perDoc = wins.join(freq, "fp")
      .select(col("id"), col("pos"))
      .withColumn("cov", cov)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("cov")).as("dup_cov_tokens"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id"), col("nt"),
        greatest(col("nt") - k + 1, lit(0)).cast("long").as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_cov_tokens"), lit(0L)).as("dup_cov_tokens"))
      // both operands non-negative, so DIV is the exact floor — the
      // integer-ppm contract (no doubles anywhere in this operator)
      .withColumn("dup_cov_ppm", expr("dup_cov_tokens * 1000000L DIV nt"))
      .select(col("id").as(idCol), col("n_windows"), col("n_dup_windows"),
        col("dup_cov_tokens"), col("dup_cov_ppm"))
  }

  /** Exact-substring span REMOVAL (the transform behind
    * [[dupSpanStats]]'s report — arXiv:2107.06499's ExactSubstr dedup
    * in the same rolling-window form): every k-token window appearing
    * in ≥ `minDocs` distinct documents keeps its text only in the
    * CANONICAL document (min id holding that window); every other
    * document drops all tokens its occurrences cover. Returns
    * (id, n_tokens, n_removed, clean_text) over the NORMALIZED token
    * stream — one row per input document, docs without duplicated
    * spans pass through verbatim. Document-granular canonical-keep is
    * deterministic and engine-mirrorable; the paper's suffix-array
    * variant instead keeps one occurrence per global span cluster.
    *
    * Scale shape: [[dupSpanStats]]'s thin (id, pos, fp) projection and
    * tiny frequent-window census (now carrying min-id), joined back
    * broadcast-style; the removable position set is per-document
    * (bounded by doc length), merged with one collect_set aggregation
    * keyed by id — no global sort, text moves once into the final
    * index-filtered rebuild (codegen'd higher-order array functions,
    * no explode of token text). */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minDocs: Int = 2): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
        tokens(normalizeText(col(textCol))).as("tk"))
      .select(col("id"), col("tk"), size(col("tk")).as("nt"))
    val wins = base.select(col("id"),
      posexplode(when(col("nt") >= k,
        transform(sequence(lit(0), col("nt") - k),
          i => md5(concat_ws(" ", slice(col("tk"), i + 1, lit(k))))))
        .otherwise(array())).as(Seq("pos", "fp")))
    val freq = wins.groupBy(col("fp"))
      .agg(count_distinct(col("id")).as("df"), min(col("id")).as("canon"))
      .filter(col("df") >= minDocs)
      .select(col("fp"), col("canon"))
    val covered = wins.join(freq, "fp")
      .filter(col("id") =!= col("canon"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("p"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(col("p"))).as("cov"))
    base.join(covered, Seq("id"), "left")
      .select(col("id"), col("nt"),
        when(col("cov").isNull, col("tk"))
          // Spark's array-filter index lambda is 0-based, matching the
          // posexplode window positions in `cov`
          .otherwise(filter(col("tk"), (t, i) => !array_contains(col("cov"), i)))
          .as("kept"))
      .select(col("id").as(idCol), col("nt").cast("long").as("n_tokens"),
        (col("nt") - size(col("kept"))).cast("long").as("n_removed"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** Character-wise Hamming distance of two equal-length strings —
    * codegen-friendly fold over the positions (no UDF). Engine twin:
    * DuckDB `hamming(a, b)`. */
  def hammingFixed(a: Column, b: Column, len: Int): Column =
    aggregate(sequence(lit(1), lit(len)), lit(0L),
      (acc, i) => acc + when(a.substr(i, lit(1)) === b.substr(i, lit(1)), 0L).otherwise(1L))

  /** COMPLETE fuzzy-key self-join: all pairs (a < b) of documents whose
    * fixed-length comparison keys differ in at most `maxDist` character
    * positions (Hamming). The key is the first `keyLen` characters of
    * the normalized text, '#'-padded — the "head fingerprint" blocking
    * key record-linkage pipelines compare (titles, URLs, lead
    * sentences).
    *
    * Candidate generation is the pigeonhole segment filter (the
    * fixed-length special case of Pass-Join, PVLDB 5(3) 2011): the key
    * splits into `maxDist + 1` equal segments, and any pair within
    * Hamming distance `maxDist` must agree EXACTLY on at least one
    * segment — so an equi-join on (segment index, segment text) finds
    * every qualifying pair (completeness is unconditional, unlike
    * MinHash banding), and exact verification prunes false positives.
    *
    * Scale shape: one thin (id, key, segment) shuffle + one equi-join;
    * per-segment fan-out is quadratic only in the count of documents
    * sharing that exact segment value — the heads of that distribution
    * are near-duplicates themselves, which is the signal being mined.
    * A segment hot enough to matter is exactly the AQE skew-join case;
    * no cross join, no driver state. Verification is a 64-char fold on
    * candidates only.
    */
  def fuzzyKeyPairs(docs: DataFrame, idCol: String, textCol: String,
                    keyLen: Int = 64, maxDist: Int = 3): DataFrame = {
    val segs = fuzzyKeySegs(docs, idCol, textCol, keyLen, maxDist)
    val cand = segs.as("a").join(segs.as("b"),
        col("a.seg_i") === col("b.seg_i") && col("a.seg") === col("b.seg") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        col("a.__key").as("__ak"), col("b.__key").as("__bk"))
    verifyFuzzyCandidates(cand, keyLen, maxDist)
  }

  /** The (id, key, seg_i, seg) rows of the pigeonhole filter — shared by
    * the batch self-join, the persisted index, and the delta probe. */
  private def fuzzyKeySegs(docs: DataFrame, idCol: String, textCol: String,
                           keyLen: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(keyLen % (maxDist + 1) == 0,
      s"keyLen ($keyLen) must be divisible by maxDist+1 (${maxDist + 1})")
    val segLen = keyLen / (maxDist + 1)
    val key = rpad(substring(normalizeText(col(textCol)), 1, keyLen), keyLen, "#")
    docs.select(col(idCol).as("__id"), key.as("__key"))
      .select(col("__id"), col("__key"),
        posexplode(transform(sequence(lit(0), lit(maxDist)),
          i => col("__key").substr(i * segLen + 1, lit(segLen)))).as(Seq("seg_i", "seg")))
  }

  /** distinct + exact Hamming verification over candidate rows carrying
    * both keys — the back half of every fuzzy-key variant. */
  private def verifyFuzzyCandidates(cand: DataFrame, keyLen: Int,
                                    maxDist: Int): DataFrame =
    cand.distinct()
      .withColumn("dist", hammingFixed(col("__ak"), col("__bk"), keyLen))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))

  /** Persisted segment index for INCREMENTAL fuzzy-key dedup:
    * (id, key, seg_i, seg) — `maxDist + 1` thin rows per document,
    * written once per batch and appended to as batches commit (the
    * [[fingerprintIndex]] / [[minHashBandIndex]] persisted-index
    * pattern applied to the pigeonhole filter). The full 64-char key
    * rides in the index so delta-vs-corpus verification never touches
    * corpus text. */
  def fuzzyKeyIndex(docs: DataFrame, idCol: String, textCol: String,
                    keyLen: Int = 64, maxDist: Int = 3): DataFrame =
    fuzzyKeySegs(docs, idCol, textCol, keyLen, maxDist)
      .select(col("__id").as("id"), col("__key").as("key"),
        col("seg_i"), col("seg"))

  /** Incremental fuzzy-key pairs: every pair (a_id < b_id) within
    * Hamming distance `maxDist` involving at least one delta document —
    * delta-vs-corpus candidates from a broadcast probe of the delta's
    * segments against the persisted [[fuzzyKeyIndex]], within-delta
    * candidates from the delta's own (tiny) self-join. Restricted to
    * pairs touching the delta, this equals `fuzzyKeyPairs(corpus ∪
    * delta)` (pinned by DedupSpec); per-batch cost is ∝ |delta| +
    * matched segments — the corpus index is probed, never self-joined,
    * and corpus text is never read (keys live in the index).
    *
    * Index rows whose `id` appears in the delta are EXCLUDED from the
    * probe (broadcast anti-join): a batch that re-uploads a changed
    * document would otherwise pair other delta docs against the
    * superseded index key, emitting stale or conflicting-dist pairs
    * that `distinct()` cannot collapse. The within-delta self-join
    * already covers those ids with their current keys. */
  def fuzzyKeyDeltaPairs(delta: DataFrame, idCol: String, textCol: String,
                         segIndex: DataFrame,
                         keyLen: Int = 64, maxDist: Int = 3): DataFrame = {
    val dSegs = broadcast(fuzzyKeySegs(delta, idCol, textCol, keyLen, maxDist))
    val deltaIds = broadcast(dSegs.select(col("__id").as("id")).distinct())
    val liveIndex = segIndex.join(deltaIds, Seq("id"), "left_anti")
    val cross = dSegs
      .select(col("seg_i"), col("seg"), col("__id").as("d_id"), col("__key").as("d_key"))
      .join(liveIndex.select(col("seg_i"), col("seg"),
        col("id").as("c_id"), col("key").as("c_key")), Seq("seg_i", "seg"))
      .filter(col("d_id") =!= col("c_id"))
      .select(least(col("d_id"), col("c_id")).as("a_id"),
        greatest(col("d_id"), col("c_id")).as("b_id"),
        when(col("d_id") < col("c_id"), col("d_key")).otherwise(col("c_key")).as("__ak"),
        when(col("d_id") < col("c_id"), col("c_key")).otherwise(col("d_key")).as("__bk"))
    val within = dSegs.as("a").join(dSegs.as("b"),
        col("a.seg_i") === col("b.seg_i") && col("a.seg") === col("b.seg") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        col("a.__key").as("__ak"), col("b.__key").as("__bk"))
    verifyFuzzyCandidates(cross.unionAll(within), keyLen, maxDist)
  }

  // ---------------------------------------------------------------------
  // Fuzzy-key over a persisted bucket-pruned index — the last thin-frame
  // delta path that full-scanned its index per batch:
  // [[fuzzyKeyDeltaPairs]] takes the segment index as a DataFrame and
  // reads ALL of it every batch (broadcast join — no shuffle, but a full
  // scan that grows with the corpus). The indexed form persists
  //   root/segs  (id, key, seg_i, seg)  keyed by (seg_i, seg)
  //   root/byid  (id, key, seg_i, seg)  keyed by id
  // and a batch reads only the delta's segment buckets plus the replaced
  // ids' byid buckets. No text ever rides: keys live in the index.
  // ---------------------------------------------------------------------

  private def fuzzyMetaPath(root: String): String =
    graft.fs.Fs.child(root, "_FUZZY_META")

  private def readFuzzyMeta(root: String): (Int, Int) = {
    val ls = graft.fs.Fs.readString(fuzzyMetaPath(root)).split("\n")
    (ls(0).trim.toInt, ls(1).trim.toInt)
  }

  /** Build the persisted fuzzy-key index for `docs` (one corpus
    * version). Probe with [[fuzzyKeyDeltaPairsIndexed]]; maintain with
    * [[appendFuzzyKeyIndexDeltaInto]]. */
  def writeFuzzyKeyIndex(spark: org.apache.spark.sql.SparkSession,
                         docs: DataFrame, idCol: String, textCol: String,
                         root: String, keyLen: Int = 64, maxDist: Int = 3,
                         numBuckets: Int = 64): Unit = {
    val segs = fuzzyKeyIndex(docs, idCol, textCol, keyLen, maxDist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.sources.PrunedIndex.write(segs,
      graft.fs.Fs.child(root, "segs"), Seq("seg_i", "seg"), numBuckets)
    graft.sources.PrunedIndex.write(segs,
      graft.fs.Fs.child(root, "byid"), Seq("id"), numBuckets)
    graft.fs.Fs.writeStringAtomic(fuzzyMetaPath(root), s"$keyLen\n$maxDist")
    segs.unpersist(false): Unit
  }

  /** [[fuzzyKeyDeltaPairs]] over the persisted index — the same pair
    * set, reading only the delta's segment buckets (the corpus index is
    * never fully scanned). Stale re-upload rows anti-joined on the
    * probe, matching the delta-frame form's contract. */
  def fuzzyKeyDeltaPairsIndexed(spark: org.apache.spark.sql.SparkSession,
                                root: String, delta: DataFrame,
                                idCol: String, textCol: String): DataFrame = {
    val (keyLen, maxDist) = readFuzzyMeta(root)
    val dSegs = fuzzyKeySegs(delta, idCol, textCol, keyLen, maxDist)
      .ckpt()
    val deltaIds = dSegs.select(col("__id").as("id")).distinct()
    val stored = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(root, "segs"),
        dSegs.select(col("seg_i"), col("seg")))
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
    val dB = broadcast(dSegs)
    val cross = dB
      .select(col("seg_i"), col("seg"), col("__id").as("d_id"), col("__key").as("d_key"))
      .join(stored.select(col("seg_i"), col("seg"),
        col("id").as("c_id"), col("key").as("c_key")), Seq("seg_i", "seg"))
      .filter(col("d_id") =!= col("c_id"))
      .select(least(col("d_id"), col("c_id")).as("a_id"),
        greatest(col("d_id"), col("c_id")).as("b_id"),
        when(col("d_id") < col("c_id"), col("d_key")).otherwise(col("c_key")).as("__ak"),
        when(col("d_id") < col("c_id"), col("c_key")).otherwise(col("d_key")).as("__bk"))
    val within = dB.as("a").join(dB.as("b"),
        col("a.seg_i") === col("b.seg_i") && col("a.seg") === col("b.seg") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__id").as("a_id"), col("b.__id").as("b_id"),
        col("a.__key").as("__ak"), col("b.__key").as("__bk"))
    verifyFuzzyCandidates(cross.unionAll(within), keyLen, maxDist)
  }

  /** Absorb `delta` into the fuzzy-key index at `from`, landing it
    * under `into` (REPLACE semantics, delta-bounded write I/O,
    * cross-root stitching as in [[appendNearDupIndexDeltaInto]]). */
  private[llm] def appendFuzzyKeyIndexDeltaInto(
      spark: org.apache.spark.sql.SparkSession,
      from: String, into: String, delta: DataFrame,
      idCol: String, textCol: String): Unit = {
    val (keyLen, maxDist) = readFuzzyMeta(from)
    val dSegs = fuzzyKeySegs(delta, idCol, textCol, keyLen, maxDist)
      .select(col("__id").as("id"), col("__key").as("key"),
        col("seg_i"), col("seg"))
      .ckpt()
    val deltaIds = dSegs.select(col("id")).distinct()
    val replacedOld = graft.sources.PrunedIndex.readPruned(spark,
      graft.fs.Fs.child(from, "byid"), deltaIds)
    val touchedKeys = dSegs.select(col("seg_i"), col("seg"))
      .unionByName(replacedOld.select(col("seg_i"), col("seg")))
      .distinct().ckpt()
    val kept = graft.sources.PrunedIndex.readPruned(spark,
        graft.fs.Fs.child(from, "segs"), touchedKeys)
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .select(col("id"), col("key"), col("seg_i"), col("seg"))
    graft.sources.PrunedIndex.writeDelta(spark,
      graft.fs.Fs.child(into, "segs"), kept.unionByName(dSegs), touchedKeys,
      graft.fs.Fs.child(from, "segs"))
    graft.sources.PrunedIndex.writeDelta(spark,
      graft.fs.Fs.child(into, "byid"), dSegs, deltaIds,
      graft.fs.Fs.child(from, "byid"))
    copyMeta(fuzzyMetaPath(from), fuzzyMetaPath(into))
  }

  /** Collapse repeated lines WITHIN each document, keeping the first
    * occurrence in original order (the intra-page half of line-level
    * dedup — RefinedWeb arXiv:2306.01116 §3.3 removes the cross-doc
    * boilerplate with [[stripBoilerplate]]; this removes the within-doc
    * repetition that inflates n-gram counts and wastes training
    * tokens).
    *
    * Pure map stage: no shuffle, no explode — the keep-first filter is
    * a per-row array scan (`array_position(lines, x) == index + 1`,
    * quadratic in the per-doc LINE count, which is page-bounded).
    * Output = (idCol, n_lines, n_dropped, clean_text). `sep` is used
    * as both split regex and join literal, so it must be a string both
    * can share (the default newline is — same contract as
    * [[stripBoilerplate]]).
    */
  def intraDocLineDedup(docs: DataFrame, idCol: String, textCol: String,
                        sep: String = "\n"): DataFrame =
    docs
      .withColumn("__lines", split(col(textCol), sep))
      .withColumn("__kept",
        filter(col("__lines"), (x, i) => array_position(col("__lines"), x) === i + 1))
      .select(col(idCol), size(col("__lines")).cast("long").as("n_lines"),
        (size(col("__lines")) - size(col("__kept"))).cast("long").as("n_dropped"),
        array_join(col("__kept"), sep).as("clean_text"))
}
