package graft.llm

import graft.util.Ckpt.RichCkpt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Staged corpus curation — the composed keep/drop decision a
  * pretraining corpus goes through, with a first-fail verdict per
  * document (the C4-filter reporting convention): length gate, then
  * repetition gate, then exact dedup (min-id canonical among the
  * SURVIVORS of the text gates — staging matters: a filtered-out doc
  * must not claim a canonical slot), then n-gram benchmark
  * decontamination of what remains.
  *
  * Scale shape: the text gates are one thin (id, n_tokens, rep_ppm,
  * fp) projection; dedup is a fingerprint groupBy + join-back;
  * decontamination is [[Decontaminate.overlapGramCount]]'s
  * broadcast-membership scan. Document text is scanned once per
  * gram/fingerprint derivation and never shuffled; every verdict is a
  * deterministic flag the DuckDB oracle re-derives stage for stage. */
object Curation {

  /** One row per input doc: (id, n_tokens, verdict) with verdict ∈
    * {too_short, repetitive, exact_dup, contaminated, kept}. */
  def stagedVerdicts(docs: DataFrame, idCol: String, textCol: String,
                     bench: DataFrame, benchTextCol: String,
                     minTokens: Int, maxRepPpm: Long = 0L,
                     n: Int = 8): DataFrame = {
    val stats = docs.select(col(idCol).as("doc_id"),
      tokenCount(col(textCol)).cast("long").as("n_tokens"),
      dupShingleFracPpm(col(textCol), 3).as("rep_ppm"),
      fingerprint(col(textCol)).as("fp"))
    val pass2 = stats.filter(col("n_tokens") >= minTokens
      && col("rep_ppm") <= maxRepPpm)
    val canon = pass2.groupBy(col("fp")).agg(min(col("doc_id")).as("canon_id"))
    val pass3 = pass2.join(canon, "fp").filter(col("doc_id") === col("canon_id"))
    val contam = Decontaminate.overlapGramCount(
        docs.select(col(idCol).as("doc_id"), col(textCol))
          .join(pass3.select(col("doc_id")), "doc_id"),
        "doc_id", textCol,
        Decontaminate.benchGramIndex(bench, benchTextCol, n), n)
      .filter(col("n_shared_grams") >= 1)
      .select(col("doc_id"), lit(true).as("is_contam"))
    stats
      .join(canon.select(col("canon_id")).withColumn("is_canon", lit(true)),
        stats("doc_id") === canon("canon_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol), col("n_tokens"),
        when(col("n_tokens") < minTokens, "too_short")
          .when(col("rep_ppm") > maxRepPpm, "repetitive")
          .when(col("is_canon").isNull, "exact_dup")
          .when(col("is_contam"), "contaminated")
          .otherwise("kept").as("verdict"))
  }

  /** The full curation JOB a pretraining run executes over a raw
    * corpus, composed end to end from the production operators — the
    * query a 100 TB user actually submits, where [[stagedVerdicts]] is
    * the cheap text-gate prefix:
    *
    *   1. near-dup clustering, keep the highest-`scoreCol` member per
    *      cluster ([[Dedup.jaccardNearDupPairs]] →
    *      [[Dedup.dedupByPairsKeepBest]]);
    *   2. benchmark decontamination of the survivors against a
    *      persisted gram index ([[Decontaminate.scrubAgainstGramIndex]],
    *      union semantics, `minShared` distinct leaked grams);
    *   3. quality floor: corpus-trained unigram LM score
    *      ([[TextAnalysis.unigramLogProbPpm]] — trained on the FULL
    *      corpus, the model is independent of the dedup outcome)
    *      must reach `minAvgLogProbPpm`;
    *   4. temperature-scaled source mixing
    *      ([[graft.operators.Sampling.temperatureMixtureSample]],
    *      quotas derived from the counts of what stage 3 kept);
    *   5. sequence packing of the sampled docs
    *      ([[Packing.packBinsBFD]]).
    *
    * Output: one row per INPUT doc — (id, n_tokens, verdict) with
    * verdict ∈ {near_dup, contaminated, low_quality, not_sampled,
    * packed} in first-fail order. The packer runs for real and its
    * conservation is part of the contract: a sampled doc is `packed`
    * only if BFD assigned it to exactly one bin (any loss or
    * duplication would surface as the never-expected `pack_lost`,
    * which the oracle would catch as a hash mismatch). Bin-level
    * detail (bucket/bin/fill) is pinned separately in PackingSpec /
    * CurationSpec — bin ids are not SQL-derivable (BFD is inherently
    * sequential per bucket), the ledger is.
    *
    * Scale shape: each stage is the production operator with its own
    * documented scale story; the composition adds only id-frame
    * left joins (thin, all on the same key — one shuffle partitioning
    * reused across the ledger build) and one #sources-row driver
    * aggregate for the quotas. Document text is scanned by the stage
    * operators and never moves through the ledger joins. Stage 1
    * persists the corpus shingle-set plan (the
    * [[Dedup.jaccardNearDupPairs]] contract) — call
    * [[Dedup.releaseShingleSetCache]](docs, idCol, textCol, shingleN)
    * after materializing the ledger to free it. */
  def fullPipelineLedger(docs: DataFrame, idCol: String, textCol: String,
                         scoreCol: String, sourceCol: String,
                         bench: DataFrame, benchTextCol: String,
                         shingleN: Int = 3, jaccardThreshold: Double = 0.8,
                         gramN: Int = 8, minShared: Int = 2,
                         minAvgLogProbPpm: Long = -4930000L,
                         targetPpm: Long = 300000L,
                         capacity: Long = 128L, nBuckets: Int = 8): DataFrame = {
    // Each stage's id set is materialized ONCE (localCheckpoint, the
    // bm25 shortlist idiom — blocks dropped by the context cleaner):
    // the ledger references every stage from multiple branches (its own
    // flag join plus every later stage's input). Spark's exchange reuse
    // absorbs most of the repetition when the branches stay literally
    // identical (the measured solo win here is modest, 7.6 → 7.2 s min
    // at sf0.1), but the cut makes single evaluation a CONTRACT rather
    // than an optimizer outcome — at corpus scale a silently lost reuse
    // re-runs a full gram scrub or LM census. Later stages rebuild
    // their input as docs ⋉ ids, row-identical to chaining the frames
    // directly.
    def checkpointIds(df: DataFrame): DataFrame =
      df.select(col(idCol)).ckpt()
    // stages 1 and 3 are input-independent (near-dup pairs vs the
    // corpus-trained LM) — overlap their materializations, the
    // ledgerStages idiom (guide §2.6)
    val s13 = graft.util.Par.run(Seq[() => DataFrame](
      // 1 — near-dup survivors (keep best)
      () => {
        val pairs = Dedup.jaccardNearDupPairs(docs, idCol, textCol,
          n = shingleN, threshold = jaccardThreshold)
        checkpointIds(Dedup.dedupByPairsKeepBest(
          docs, idCol, scoreCol, pairs, "a_id", "b_id"))
      },
      // 3 — quality floor from the corpus-trained unigram LM. The flag
      // join below uses the FULL-corpus pass set: identical verdicts,
      // because the first-fail CASE consults s_qual only for rows that
      // already passed s_clean (where clean ∩ qual == qual membership).
      () => checkpointIds(TextAnalysis.unigramLogProbPpm(docs, idCol, textCol)
        .filter(col("avg_logprob_ppm") >= minAvgLogProbPpm))))
    val (survIds, qualIds) = (s13(0), s13(1))
    val survivors = docs.join(survIds, Seq(idCol), "left_semi")
    // 2 — decontaminate survivors against the benchmark gram index
    val idx = Decontaminate.benchGramIndex(bench, benchTextCol, gramN)
    val cleanIds = checkpointIds(Decontaminate.scrubAgainstGramIndex(
      survivors, idCol, textCol, idx, gramN, minShared))
    val quality = docs.join(cleanIds, Seq(idCol), "left_semi")
      .join(qualIds, Seq(idCol), "left_semi")
    // 4 — temperature mix over what survived
    val mixIds = checkpointIds(graft.operators.Sampling.temperatureMixtureSample(
      quality, idCol, sourceCol, targetPpm))
    val mixed = docs.join(mixIds, Seq(idCol), "left_semi")
    // 5 — pack the sample; count assignments per doc (conservation)
    val packed = Packing.packBinsBFD(mixed, idCol,
        tokenCount(col(textCol)), capacity, nBuckets)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_assigned"))

    def flag(df: DataFrame, name: String): DataFrame =
      df.withColumn(name, lit(true))
    docs.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(flag(survIds, "s_dedup"), Seq(idCol), "left")
      .join(flag(cleanIds, "s_clean"), Seq(idCol), "left")
      .join(flag(qualIds, "s_qual"), Seq(idCol), "left")
      .join(flag(mixIds, "s_mix"), Seq(idCol), "left")
      .join(packed, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        when(col("s_dedup").isNull, "near_dup")
          .when(col("s_clean").isNull, "contaminated")
          .when(col("s_qual").isNull, "low_quality")
          .when(col("s_mix").isNull, "not_sampled")
          .when(col("n_assigned") === 1L, "packed")
          .otherwise("pack_lost").as("verdict"))
  }

  /** The persisted state an INCREMENTAL curation deployment maintains
    * between daily batches — every frame is text-free or derived-once:
    *  - `thin` (id, score, source, n_tokens): the per-doc scalars every
    *    stage consumes (keep-best score, mixture source, packing
    *    weight);
    *  - `shingles`: [[Dedup.containmentIndex]] at the pipeline's
    *    shingleN — the projection [[Dedup.jaccardDeltaPairs]] probes;
    *  - `pairs` (a_id, b_id, jaccard): the near-dup pairs among state
    *    docs;
    *  - `cleanIds` (id): docs with < minShared grams shared with the
    *    benchmark (a per-doc property of (text, bench) — stable until
    *    the bench changes);
    *  - `census` (id, tok, n): [[TextAnalysis.unigramCensus]] — the LM
    *    state; corpus-level counts re-aggregate from it thinly;
    *  - `gramIndex`: the persisted benchmark gram index (t81) the
    *    delta is scrubbed against.
    * All six are plain DataFrames — parquet round-trips verbatim. */
  final case class State(thin: DataFrame, shingles: DataFrame, pairs: DataFrame,
                         cleanIds: DataFrame, census: DataFrame, gramIndex: DataFrame)

  /** Derive the [[State]] for a corpus — the one-time batch cost the
    * delta path amortizes. Parameters must match the ledger call's. */
  def buildState(docs: DataFrame, idCol: String, textCol: String,
                 scoreCol: String, sourceCol: String,
                 bench: DataFrame, benchTextCol: String,
                 shingleN: Int = 3, jaccardThreshold: Double = 0.8,
                 gramN: Int = 8, minShared: Int = 2): State = {
    val idx = Decontaminate.benchGramIndex(bench, benchTextCol, gramN)
    State(
      thin = docs.select(col(idCol), col(scoreCol), col(sourceCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens")),
      shingles = Dedup.containmentIndex(docs, idCol, textCol, shingleN),
      pairs = Dedup.jaccardNearDupPairs(docs, idCol, textCol,
        n = shingleN, threshold = jaccardThreshold),
      cleanIds = Decontaminate.scrubAgainstGramIndex(docs, idCol, textCol,
        idx, gramN, minShared).select(col(idCol)),
      census = TextAnalysis.unigramCensus(docs, idCol, textCol),
      gramIndex = idx)
  }

  /** The state after absorbing a delta — what the deployment writes
    * back after each batch. Text compute is delta-bounded: only the
    * delta is shingled, scrubbed and token-censused; `pairs` grows by
    * [[Dedup.jaccardDeltaPairs]] against the persisted shingle index.
    *
    * REPLACE semantics (the reference's whole intake story is
    * versioned re-uploads — SURVEY.md P3's strict-`>` gate): a delta id
    * that already exists in the state DISPLACES its old row in every
    * id-keyed frame (thin scalars, shingle index, clean set, census)
    * via an anti-join on the delta's ids, and every stored pair
    * touching a replaced id is dropped before the recomputed pairs
    * union in — [[Dedup.jaccardDeltaPairs]] already evaluates the
    * delta's ids at their NEW revision against the post-displacement
    * corpus (its merged plan anti-joins the same id set), so
    * mergeState(state, delta) == buildState(corpus-after-replace) for
    * any mix of new and re-uploaded ids (pinned frame-equal in
    * CurationSpec; the ledger equality is t134's driver-checked
    * oracle). New-id deltas take the identical path — the anti-joins
    * are no-ops. The delta id set is broadcast (a daily batch's
    * DISTINCT ids — control-plane sized next to the corpus frames).
    *
    * Cache obligation (the [[Dedup.fullPipelineLedger]]-style release
    * contract): the returned `pairs` is backed by a merged shingle plan
    * [[Dedup.jaccardDeltaPairs]] PERSISTS for the call — after
    * materializing the state (parquet write / checkpoint), release it
    * with [[Dedup.releaseContainmentDeltaCache]](delta, idCol, textCol,
    * state.shingles, shingleN), or one cache pin accumulates per daily
    * batch in a long-lived session. [[fullPipelineLedgerDelta]] does
    * this itself. */
  def mergeState(state: State, delta: DataFrame, idCol: String, textCol: String,
                 scoreCol: String, sourceCol: String,
                 shingleN: Int = 3, jaccardThreshold: Double = 0.8,
                 gramN: Int = 8, minShared: Int = 2): State = {
    val deltaIds = delta.select(col(idCol)).distinct()
    // displace the replaced ids' old rows from an id-keyed frame
    // (no-op for new-id deltas); `key` is the frame's id column name
    def fresh(df: DataFrame, key: String): DataFrame =
      df.join(broadcast(deltaIds.toDF(key)), Seq(key), "left_anti")
    val deltaPairs = Dedup.jaccardDeltaPairs(delta, idCol, textCol,
      state.shingles, n = shingleN, threshold = jaccardThreshold)
    State(
      thin = fresh(state.thin, idCol).unionByName(
        delta.select(col(idCol), col(scoreCol),
          col(sourceCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))),
      shingles = fresh(state.shingles, "id").unionByName(
        Dedup.containmentIndex(delta, idCol, textCol, shingleN)),
      // a replaced id's stored pairs reflect its OLD text on both
      // orientations; jaccardDeltaPairs regenerates every pair touching
      // a delta id at the new revision, so drop-then-union is exact.
      // (re-select: a using-column anti-join moves its key first, which
      // would silently reorder the frame's schema across merges)
      pairs = fresh(fresh(state.pairs, "a_id"), "b_id")
        .select(state.pairs.columns.map(col).toIndexedSeq: _*)
        .unionByName(deltaPairs),
      cleanIds = fresh(state.cleanIds, idCol).unionByName(
        Decontaminate.scrubAgainstGramIndex(delta, idCol, textCol,
          state.gramIndex, gramN, minShared).select(col(idCol))),
      census = fresh(state.census, "id").unionByName(
        TextAnalysis.unigramCensus(delta, idCol, textCol)),
      gramIndex = state.gramIndex)
  }

  /** [[fullPipelineLedger]] over persisted state ∪ delta — the
    * daily-batch form of t128. Produces the ledger for EVERY doc (old
    * and delta) and must hash-equal the full rebuild on the merged
    * corpus (pinned in CurationSpec; t133's oracle IS t128's DuckDB
    * twin), while the per-batch TEXT compute is delta-bounded:
    *
    *  - stage 1: pairs(post-delta corpus) = state.pairs minus pairs
    *    touching re-uploaded ids, ∪ [[Dedup.jaccardDeltaPairs]] (exact
    *    — the prefix filter is complete under any global order and
    *    verification is exact Jaccard; see [[mergeState]]'s replace
    *    contract); keep-best then re-runs over the THIN pair/score
    *    frames (cluster membership can change for old docs — a new doc
    *    may join and win an old cluster — so survivorship is global,
    *    but no text moves);
    *  - stage 2: contamination is a per-doc property of (text, bench);
    *    old verdicts come from state.cleanIds, only the delta is
    *    scrubbed against the persisted gram index;
    *  - stage 3: the LM retrains by MERGING censuses (corpus counts
    *    re-aggregate thinly) and every doc re-scores from its stored
    *    census rows — the model shift the delta induces reaches old
    *    docs without re-tokenizing them;
    *  - stage 4: quotas re-derive from the post-delta survivor counts
    *    (driver-side #sources rows);
    *  - stage 5: BFD packs from the stored n_tokens.
    *
    * The merged state to persist for the NEXT batch is
    * [[mergeState]] (same delta operators — build it once, reuse). */
  def fullPipelineLedgerDelta(state: State, delta: DataFrame,
                              idCol: String, textCol: String,
                              scoreCol: String, sourceCol: String,
                              shingleN: Int = 3, jaccardThreshold: Double = 0.8,
                              gramN: Int = 8, minShared: Int = 2,
                              minAvgLogProbPpm: Long = -4930000L,
                              targetPpm: Long = 300000L,
                              capacity: Long = 128L, nBuckets: Int = 8): DataFrame = {
    val merged = mergeState(state, delta, idCol, textCol, scoreCol, sourceCol,
      shingleN, jaccardThreshold, gramN, minShared)
    ledgerFromFrames(merged.thin, merged.pairs, merged.cleanIds, merged.census,
      idCol, scoreCol, sourceCol, minAvgLogProbPpm, targetPpm, capacity, nBuckets,
      // survIds is checkpointed at that point — the merged shingle plan
      // jaccardDeltaPairs persisted inside mergeState has no remaining
      // consumer; release it THEN so a long-lived session running one
      // ledger per daily batch does not accumulate one cache pin per
      // batch
      afterSurvivors = () =>
        Dedup.releaseContainmentDeltaCache(delta, idCol, textCol,
          state.shingles, shingleN))
  }

  /** Stages 1–5 over already-merged THIN frames — the shared tail of
    * [[fullPipelineLedgerDelta]] and [[fullPipelineLedgerDeltaIndexed]]
    * (and semantically of [[fullPipelineLedger]], which fuses the same
    * stages over in-query frames). `afterSurvivors` runs once stage 1's
    * survivor set is checkpointed (materialized) — the point where the
    * pair-generation caches of the merge step have no remaining
    * consumer. */
  /** The per-stage id sets behind a ledger — materialized once and
    * shared between the ledger assembly and the churn-candidate
    * derivation ([[fullPipelineLedgerDeltaIndexedChanged]]). `quality`
    * keeps the thin columns (the mix stage and the hash-band candidate
    * both need the source). */
  private[llm] final case class StageSets(allThin: DataFrame, survIds: DataFrame,
                                          cleanIds: DataFrame, qualIds: DataFrame,
                                          scores: DataFrame, quality: DataFrame,
                                          mixIds: DataFrame, packed: DataFrame)

  private[llm] def ledgerStages(thin: DataFrame, pairs: DataFrame,
      clean: DataFrame, census: DataFrame,
      idCol: String, scoreCol: String, sourceCol: String,
      minAvgLogProbPpm: Long, targetPpm: Long,
      capacity: Long, nBuckets: Int,
      afterSurvivors: () => Unit): StageSets = {
    def checkpointIds(df: DataFrame): DataFrame =
      df.select(col(idCol)).ckpt()
    val allThin = thin.ckpt()
    // stages 1 and 3 share no inputs (keep-best runs over pairs+thin,
    // the LM scoring over the census) — overlap their materializations
    // (guide §2.6): the CC loop's driver-side rounds leave the executors
    // mostly idle, exactly the gap the census-scoring shuffle fills.
    // afterSurvivors keeps its contract (runs once stage 1's survivor
    // set is materialized, inside that task).
    val s13 = graft.util.Par.run(Seq[() => DataFrame](
      // 1 — keep-best over the merged pair set (thin frames only)
      () => {
        val ids = checkpointIds(Dedup.dedupByPairsKeepBest(
          allThin, idCol, scoreCol, pairs, "a_id", "b_id"))
        afterSurvivors()
        ids
      },
      // 3 — quality floor under the post-delta LM (census-scored); the
      // full score frame is checkpointed once — the churn-candidate
      // derivation's band filter reads it instead of re-running the
      // corpus-thin scoring shuffle
      () => TextAnalysis.unigramLogProbPpmFromCensus(census, idCol)
        .ckpt()))
    val (survIds, scores) = (s13(0), s13(1))
    // 2 — per-doc contamination: survivors ∩ clean
    val cleanIds = checkpointIds(
      survIds.join(clean, Seq(idCol), "left_semi"))
    val qualIds = checkpointIds(
      scores.filter(col("avg_logprob_ppm") >= minAvgLogProbPpm))
    val quality = allThin.join(cleanIds, Seq(idCol), "left_semi")
      .join(qualIds, Seq(idCol), "left_semi")
    // 4 — temperature mix over what survived
    val mixIds = checkpointIds(graft.operators.Sampling.temperatureMixtureSample(
      quality, idCol, sourceCol, targetPpm))
    val mixed = allThin.join(mixIds, Seq(idCol), "left_semi")
    // 5 — pack from stored token counts
    val packed = Packing.packBinsBFD(mixed, idCol, col("n_tokens"),
        capacity, nBuckets)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_assigned"))
    StageSets(allThin, survIds, cleanIds, qualIds, scores, quality, mixIds,
      packed)
  }

  private[llm] def ledgerFromStages(st: StageSets, idCol: String): DataFrame = {
    def flag(df: DataFrame, name: String): DataFrame =
      df.withColumn(name, lit(true))
    st.allThin.select(col(idCol), col("n_tokens"))
      .join(flag(st.survIds, "s_dedup"), Seq(idCol), "left")
      .join(flag(st.cleanIds, "s_clean"), Seq(idCol), "left")
      .join(flag(st.qualIds, "s_qual"), Seq(idCol), "left")
      .join(flag(st.mixIds, "s_mix"), Seq(idCol), "left")
      .join(st.packed, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        when(col("s_dedup").isNull, "near_dup")
          .when(col("s_clean").isNull, "contaminated")
          .when(col("s_qual").isNull, "low_quality")
          .when(col("s_mix").isNull, "not_sampled")
          .when(col("n_assigned") === 1L, "packed")
          .otherwise("pack_lost").as("verdict"))
  }

  private def ledgerFromFrames(thin: DataFrame, pairs: DataFrame,
      clean: DataFrame, census: DataFrame,
      idCol: String, scoreCol: String, sourceCol: String,
      minAvgLogProbPpm: Long, targetPpm: Long,
      capacity: Long, nBuckets: Int,
      afterSurvivors: () => Unit = () => ()): DataFrame =
    ledgerFromStages(ledgerStages(thin, pairs, clean, census, idCol, scoreCol,
      sourceCol, minAvgLogProbPpm, targetPpm, capacity, nBuckets,
      afterSurvivors), idCol)

  /** The ledger rows a batch CHANGED — the operational OUTPUT form at
    * 100 TB. The full ledger is Ω(corpus) (a verdict per doc), and a
    * deployment that re-writes it per daily batch pays corpus-sized
    * write I/O for a churn-sized difference. `post.except(prev)` emits
    * exactly the rows whose (id, n_tokens, verdict) is new or changed:
    * the re-uploaded docs whose stats moved, plus every OLD doc whose
    * verdict flipped through the global stages (cluster membership can
    * change under keep-best, the LM model shift re-scores everyone,
    * quotas re-derive from survivor counts). Deletion is not an intake
    * event in this engine (re-uploads displace, nothing removes an id
    * — SURVEY.md P3's strict-`>` gate), so prev ∖ post is empty by
    * construction and the one-sided diff is the complete delta: prev
    * updated by these rows IS the post ledger (pinned in CurationSpec).
    * Compute stays the post ledger's (corpus-THIN — a verdict is a
    * global property); the per-batch ledger WRITE becomes
    * churn-bounded. */
  def ledgerChangedRows(prev: DataFrame, post: DataFrame): DataFrame =
    post.except(prev)

  /** [[State]] with the shingle side living in a PERSISTED near-dup
    * index ([[NearDupIndexStore]]) instead of an in-frame
    * projection — the 100 TB deployment shape: the four remaining
    * frames are THIN (no array columns), and per-batch pair
    * maintenance probes the index delta-bounded END TO END
    * ([[Dedup.jaccardDeltaPairsIndexed]] — no per-batch df
    * re-aggregation, corpus re-explosion, or full-index shuffle, the
    * costs [[mergeState]]'s jaccardDeltaPairs still pays at corpus
    * scale). The index root is a [[NearDupIndexStore]] (each batch
    * commits a new version); the frames parquet-round-trip like
    * [[State]]'s. */
  final case class IndexedState(thin: DataFrame, pairs: DataFrame,
                                cleanIds: DataFrame, census: DataFrame,
                                gramIndex: DataFrame)

  /** Derive the [[IndexedState]] + build the near-dup index store at
    * `indexRoot` for a corpus — [[buildState]]'s one-time batch cost
    * plus the index build. Parameters must match the ledger call's. */
  def buildStateIndexed(spark: org.apache.spark.sql.SparkSession,
                        docs: DataFrame, idCol: String, textCol: String,
                        scoreCol: String, sourceCol: String,
                        bench: DataFrame, benchTextCol: String,
                        indexRoot: String,
                        shingleN: Int = 3, jaccardThreshold: Double = 0.8,
                        gramN: Int = 8, minShared: Int = 2,
                        numBuckets: Int = 64): IndexedState = {
    NearDupIndexStore.build(spark, docs, idCol, textCol, indexRoot,
      shingleN, jaccardThreshold, numBuckets = numBuckets)
    val idx = Decontaminate.benchGramIndex(bench, benchTextCol, gramN)
    IndexedState(
      thin = docs.select(col(idCol), col(scoreCol), col(sourceCol),
        tokenCount(col(textCol)).cast("long").as("n_tokens")),
      pairs = Dedup.jaccardNearDupPairs(docs, idCol, textCol,
        n = shingleN, threshold = jaccardThreshold),
      cleanIds = Decontaminate.scrubAgainstGramIndex(docs, idCol, textCol,
        idx, gramN, minShared).select(col(idCol)),
      census = TextAnalysis.unigramCensus(docs, idCol, textCol),
      gramIndex = idx)
  }

  /** Absorb a batch into the indexed state: probes the near-dup index
    * for the delta's pairs (delta-bounded; the probe is
    * order-independent with the append — stale/self rows are
    * anti-joined on the stored side), APPENDS the delta into the index
    * as a new store version ([[NearDupIndexStore.appendDelta]] —
    * delta-bounded write I/O, REPLACE semantics for re-uploads), and
    * returns the post-batch thin
    * frames under [[mergeState]]'s replace contract:
    * mergeStateIndexed(state, delta) frames == buildStateIndexed on the
    * post-replace corpus (pinned in CurationSpec). The returned pairs
    * are materialized (localCheckpoint) before the append lands; the
    * delta's shingle plan stays persisted for the ledger's verify reads
    * — release it via [[NearDupIndexStore.releaseProbeCache]] when the
    * batch is done ([[fullPipelineLedgerDeltaIndexed]] does this itself). */
  def mergeStateIndexed(spark: org.apache.spark.sql.SparkSession,
                        state: IndexedState, indexRoot: String,
                        delta: DataFrame,
                        idCol: String, textCol: String,
                        scoreCol: String, sourceCol: String,
                        gramN: Int = 8, minShared: Int = 2): IndexedState =
    mergeStateIndexedCore(spark, state, indexRoot, delta, idCol, textCol,
      scoreCol, sourceCol, gramN, minShared)._1

  /** [[mergeStateIndexed]] also handing back the batch's near-dup pair
    * DELTA (every pair touching a delta id, at the new revisions) — the
    * churn-candidate derivation's stage-1 seed set. */
  private def mergeStateIndexedCore(spark: org.apache.spark.sql.SparkSession,
                        state: IndexedState, indexRoot: String,
                        delta: DataFrame,
                        idCol: String, textCol: String,
                        scoreCol: String, sourceCol: String,
                        gramN: Int, minShared: Int): (IndexedState, DataFrame) = {
    val deltaIds = delta.select(col(idCol)).distinct()
    def fresh(df: DataFrame, key: String): DataFrame =
      df.join(broadcast(deltaIds.toDF(key)), Seq(key), "left_anti")
    val deltaPairs = NearDupIndexStore.pairsForDelta(spark, indexRoot,
      delta, idCol, textCol).ckpt()
    NearDupIndexStore.appendDelta(spark, indexRoot, delta, idCol, textCol)
    (IndexedState(
      thin = fresh(state.thin, idCol).unionByName(
        delta.select(col(idCol), col(scoreCol),
          col(sourceCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))),
      pairs = fresh(fresh(state.pairs, "a_id"), "b_id")
        .select(state.pairs.columns.map(col).toIndexedSeq: _*)
        .unionByName(deltaPairs),
      cleanIds = fresh(state.cleanIds, idCol).unionByName(
        Decontaminate.scrubAgainstGramIndex(delta, idCol, textCol,
          state.gramIndex, gramN, minShared).select(col(idCol))),
      census = fresh(state.census, "id").unionByName(
        TextAnalysis.unigramCensus(delta, idCol, textCol)),
      gramIndex = state.gramIndex), deltaPairs)
  }

  /** [[fullPipelineLedgerDelta]] over the INDEXED state — identical
    * stage semantics and ledger (t128's oracle applies verbatim), with
    * stage 1's pair maintenance delta-bounded end to end via the
    * persisted near-dup index. Also commits the next index version
    * (the [[mergeStateIndexed]] append). */
  def fullPipelineLedgerDeltaIndexed(spark: org.apache.spark.sql.SparkSession,
                              state: IndexedState, indexRoot: String,
                              delta: DataFrame,
                              idCol: String, textCol: String,
                              scoreCol: String, sourceCol: String,
                              gramN: Int = 8, minShared: Int = 2,
                              minAvgLogProbPpm: Long = -4930000L,
                              targetPpm: Long = 300000L,
                              capacity: Long = 128L, nBuckets: Int = 8): DataFrame = {
    val merged = mergeStateIndexed(spark, state, indexRoot, delta,
      idCol, textCol, scoreCol, sourceCol, gramN, minShared)
    ledgerFromFrames(merged.thin, merged.pairs, merged.cleanIds, merged.census,
      idCol, scoreCol, sourceCol, minAvgLogProbPpm, targetPpm, capacity, nBuckets,
      afterSurvivors = () =>
        NearDupIndexStore.releaseProbeCache(indexRoot, delta, idCol, textCol))
  }

  /** [[ledgerChangedRows]] with its INPUTS bounded to a candidate id
    * set: equals `post.except(prev)` whenever `candidateIds` contains
    * every id whose ledger row changed (the contract
    * [[fullPipelineLedgerDeltaIndexedChanged]]'s derivation proves
    * stage by stage, pinned against the unbounded except in
    * CurationSpec). The full frames are each SCANNED once through a
    * semi-join against the (churn-sized, broadcastable) candidates —
    * never shuffled; only the candidate rows reach the except's
    * shuffle. This is the 100 TB shape: per-batch diff cost follows
    * the churn, not the corpus. */
  def ledgerChangedRowsBounded(prev: DataFrame, post: DataFrame,
                               candidateIds: DataFrame, idCol: String): DataFrame =
    post.join(candidateIds, Seq(idCol), "left_semi")
      .except(prev.join(candidateIds, Seq(idCol), "left_semi"))

  /** Ids reachable from the seeds in the pair graph `pairs ∪
    * deltaPairs` — every member of every cluster a batch's pair churn
    * can have touched (keep-best survivorship is a per-component
    * property: a verdict can only flip in a component containing a
    * changed edge, and every changed edge — added, or dropped by a
    * re-upload — has a delta endpoint). Frontier-BFS with the frontier
    * broadcast per hop: the pair frames are scanned, never shuffled;
    * hops are bounded by the touched components' diameter (near-dup
    * clusters are shallow in practice — boilerplate families, mirror
    * sets). */
  private def pairReach(pairs: DataFrame, deltaPairs: DataFrame,
                        seeds: DataFrame, idCol: String): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("a_id"), col("b_id"))
      .unionByName(deltaPairs.select(col("a_id"), col("b_id")))
      .ckpt()
    // Driver-frontier BFS fast path (guide §1.2): the frontier and the
    // reach set are churn-bounded by the same contract that lets the
    // distributed loop BROADCAST the visited set every hop (a broadcast
    // already collects it to the driver) — holding the frontier
    // driver-side turns each hop into ONE semi-join job instead of the
    // loop's two checkpoints + two isEmpty actions, and the hop's fresh
    // set, dedup, and termination check become free driver set ops.
    // A reach that outgrows the broadcast-sized budget
    // (`spark.graft.reach.maxDriverIds`) falls back to the distributed
    // loop from scratch; non-integral id types always take it.
    val idDt = seeds.schema(seeds.columns.indexOf(idCol)).dataType
    val maxDriverIds =
      try spark.conf.get("spark.graft.reach.maxDriverIds", "2000000").toLong
      catch { case _: Throwable => 2000000L }
    if (idDt == org.apache.spark.sql.types.LongType) {
      val seedIds = seeds.select(col(idCol).cast("long")).distinct()
        .limit((maxDriverIds + 1).min(Int.MaxValue).toInt).collect().map(_.getLong(0))
      if (seedIds.length <= maxDriverIds) {
        val visited = new java.util.HashSet[java.lang.Long](seedIds.length * 2)
        seedIds.foreach(visited.add(_))
        var frontier = seedIds
        var overflow = false
        while (frontier.nonEmpty && !overflow) {
          val probe = spark.createDataFrame(
            spark.sparkContext.parallelize(
              frontier.toSeq.map(org.apache.spark.sql.Row(_)), 1),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("k",
                org.apache.spark.sql.types.LongType, nullable = false))))
          val nbrs = edges
            .join(broadcast(probe.select(col("k").as("a_id"))), Seq("a_id"), "left_semi")
            .select(col("b_id").as("id"))
            .unionByName(edges
              .join(broadcast(probe.select(col("k").as("b_id"))), Seq("b_id"), "left_semi")
              .select(col("a_id").as("id")))
            .distinct().collect().map(_.getLong(0))
          frontier = nbrs.filter(n => visited.add(n))
          if (visited.size > maxDriverIds) overflow = true
        }
        if (!overflow) {
          val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](visited.size)
          visited.forEach(v => out += org.apache.spark.sql.Row(v.longValue))
          return spark.createDataFrame(
            spark.sparkContext.parallelize(out.toSeq, math.max(1, out.size / 500000)),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField(idCol,
                org.apache.spark.sql.types.LongType, nullable = true))))
        }
      }
    }
    var visited = seeds.select(col(idCol).as("id")).distinct().ckpt()
    var growing = true
    while (growing) {
      val next = edges.join(broadcast(visited.toDF("a_id")), Seq("a_id"), "left_semi")
        .select(col("b_id").as("id"))
        .unionByName(edges.join(broadcast(visited.toDF("b_id")), Seq("b_id"), "left_semi")
          .select(col("a_id").as("id")))
        .distinct()
      val fresh = next.join(visited, Seq("id"), "left_anti").ckpt()
      if (fresh.isEmpty) growing = false
      else visited = visited.unionByName(fresh).ckpt()
    }
    visited.select(col("id").as(idCol))
  }

  /** Quality-stage flip candidates from the LM model shift, derived
    * EXACTLY from churn-sized census arithmetic: the only way an
    * untouched doc's avg_logprob_ppm moves is through the global token
    * distribution, and that movement is bounded — for tokens whose
    * count did not change, by the total-count shift |log₂(N_prev /
    * N_post)|·10⁶ (+ floor wobble); for touched tokens, by their own
    * recomputed per-token shift. Tokens shifting past the bound
    * ("significant" — possible only for rare tokens, whose doc lists
    * are short) contribute their containing docs directly; every other
    * doc can flip only if its POST score lies within the bound of the
    * floor. Returns (candidate ids, bound) — candidates are exact
    * supersets of the stage-3 flips among non-delta docs. */
  private def qualFlipCandidates(prevCensus: DataFrame, postCensus: DataFrame,
                                 deltaCensus: DataFrame, deltaIds: DataFrame,
                                 postScores: DataFrame,
                                 floorPpm: Long, idCol: String): DataFrame = {
    val dIds = broadcast(deltaIds.toDF("id"))
    val replaced = prevCensus.join(dIds, Seq("id"), "left_semi")
    val touched = deltaCensus.select(col("tok"))
      .unionByName(replaced.select(col("tok"))).distinct().ckpt()
    val dAgg = deltaCensus.groupBy(col("tok")).agg(sum(col("n")).as("dn"))
    val rAgg = replaced.groupBy(col("tok")).agg(sum(col("n")).as("rn"))
    val cPost = postCensus.join(broadcast(touched), Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(sum(col("n")).as("cpost"))
    // c_prev by churn arithmetic — the prev census is never re-aggregated
    val counts = cPost.join(dAgg, Seq("tok"), "full_outer")
      .join(rAgg, Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("cpost"), lit(0L)).as("cpost"),
        (coalesce(col("cpost"), lit(0L)) - coalesce(col("dn"), lit(0L))
          + coalesce(col("rn"), lit(0L))).as("cprev"))
      .ckpt()
    val nPost = postCensus.agg(sum(col("n"))).collect()(0).getLong(0)
    val dSum = Option(deltaCensus.agg(sum(col("n"))).collect()(0).get(0))
      .fold(0L)(_.asInstanceOf[Long])
    val rSum = Option(replaced.agg(sum(col("n"))).collect()(0).get(0))
      .fold(0L)(_.asInstanceOf[Long])
    val nPrev = nPost - dSum + rSum
    // |Δ score| ≤ max per-token |Δ lp| + 1 (integer DIV); untouched
    // tokens shift by u ± 1 floor wobble; +1 fp slack on u itself
    val u = math.abs(math.log(nPrev.toDouble / nPost.toDouble) / math.log(2.0)) * 1e6
    val bound = math.ceil(u).toLong + 3
    def lp(c: org.apache.spark.sql.Column, n: Long) =
      floor(log2(c.cast("double") / lit(n.toDouble)) * 1e6 + 1e-4).cast("long")
    // a token with cprev == 0 (brand new) or cpost == 0 (fully removed)
    // can only appear in delta/replaced docs — already candidates
    val sigToks = counts.filter(col("cpost") > 0 && col("cprev") > 0)
      .select(col("tok"),
        abs(lp(col("cpost"), nPost) - lp(col("cprev"), nPrev)).as("dlp"))
      .filter(col("dlp") >= bound)
      .select(col("tok")).ckpt()
    val sigDocs = postCensus.join(broadcast(sigToks), Seq("tok"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    val band = postScores
      .filter(col("avg_logprob_ppm") >= floorPpm - bound &&
        col("avg_logprob_ppm") < floorPpm + bound)
      .select(col(idCol))
    sigDocs.unionByName(band)
  }

  /** Mix-stage flip candidates for quality-STABLE docs: membership is
    * the pure per-doc test hashUnit(id) < quota_s/n_s, so with the prev
    * and post per-source (quota, n) in hand — both #sources-row driver
    * arithmetic — the flips are exactly the docs whose hash lands
    * between the two fractions. Docs whose quality membership itself
    * changed are earlier-stage candidates by construction. */
  private def mixFlipCandidates(postQuality: DataFrame,
                                prevSourceCounts: Seq[(String, Long)],
                                targetPpm: Long,
                                idCol: String, sourceCol: String): DataFrame = {
    val postCounts = postQuality.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    if (postCounts.isEmpty) return postQuality.select(col(idCol)).limit(0)
    val prevSorted = prevSourceCounts.sortBy(_._1)
    val qPrev = graft.operators.Sampling.temperatureQuotas(prevSorted, targetPpm)
    val qPost = graft.operators.Sampling.temperatureQuotas(postCounts, targetPpm)
    val fPrev = prevSorted.map { case (s, n) =>
      s -> qPrev(s).toDouble / n.toDouble }.toMap
    val fPost = postCounts.map { case (s, n) =>
      s -> qPost(s).toDouble / n.toDouble }.toMap
    // a source with no prev quality members samples nothing prev-side:
    // fraction −1 (never a member) is exact, not an over-approximation
    val f1 = fPrev.toSeq.sortBy(_._1).foldLeft(lit(-1.0)) {
      case (acc, (s, f)) => when(col(sourceCol) === s, lit(f)).otherwise(acc) }
    val f2 = fPost.toSeq.sortBy(_._1).foldLeft(lit(-1.0)) {
      case (acc, (s, f)) => when(col(sourceCol) === s, lit(f)).otherwise(acc) }
    val h = graft.operators.Sampling.hashUnit(col(idCol))
    postQuality.filter((h < f1) =!= (h < f2)).select(col(idCol))
  }

  /** The per-source QUALITY-survivor counts a deployment persists
    * alongside each batch's ledger (#sources rows) — the prev-side
    * input [[fullPipelineLedgerDeltaIndexedChanged]] needs to re-derive
    * yesterday's sampling fractions without touching yesterday's
    * corpus. Stage-3 survivors are exactly the docs whose first-fail
    * verdict got past the quality gate: not_sampled or packed. */
  def qualitySourceCounts(ledger: DataFrame, thin: DataFrame,
                          idCol: String, sourceCol: String): Seq[(String, Long)] =
    ledger.filter(col("verdict").isin("not_sampled", "packed"))
      .select(col(idCol))
      .join(thin.select(col(idCol), col(sourceCol)), Seq(idCol))
      .groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)

  /** [[fullPipelineLedgerDeltaIndexedChanged]]'s candidate derivation,
    * exposed for the spec/scale gates: an id set PROVABLY containing
    * every doc whose ledger row the batch changed (see each family's
    * doc), churn-proportional in the benign case and never larger than
    * correct in the adversarial one. */
  private[graft] def ledgerChangeCandidates(
      prevState: IndexedState, delta: DataFrame, deltaPairs: DataFrame,
      postCensus: DataFrame, postScores: DataFrame, postQuality: DataFrame,
      prevSourceCounts: Seq[(String, Long)],
      idCol: String, textCol: String, sourceCol: String,
      minAvgLogProbPpm: Long, targetPpm: Long): DataFrame = {
    val deltaIds = delta.select(col(idCol)).distinct().ckpt()
    val deltaCensus = TextAnalysis.unigramCensus(delta, idCol, textCol)
    deltaIds
      .unionByName(pairReach(prevState.pairs, deltaPairs, deltaIds, idCol))
      .unionByName(qualFlipCandidates(prevState.census, postCensus,
        deltaCensus, deltaIds, postScores, minAvgLogProbPpm, idCol))
      .unionByName(mixFlipCandidates(postQuality, prevSourceCounts,
        targetPpm, idCol, sourceCol))
      .distinct()
  }

  /** The operational 100 TB batch: [[fullPipelineLedgerDeltaIndexed]]'s
    * exact stages, emitting ONLY the ledger rows the batch changed —
    * with the diff's INPUTS churn-bounded, not just its output. The
    * r18 form computed the full post ledger then `post.except(prev)`,
    * shuffling two corpus-sized frames per batch; here a candidate id
    * set is derived stage by stage (touched docs; members of
    * pair-churned clusters; LM-shift band + significant-token docs;
    * sampling hash-band from the prev/post quota fractions), each full
    * frame is scanned once through a candidate semi-join, and only
    * candidate rows reach the except. Equality with the unbounded diff
    * is pinned in CurationSpec, including the adversarial cases the
    * bands exist for (quota flips and LM flips on untouched docs).
    * `prevSourceCounts` is the #sources-row frame the previous batch
    * persisted ([[qualitySourceCounts]]). Also advances the near-dup
    * index store by one version (the [[mergeStateIndexed]] append). */
  def fullPipelineLedgerDeltaIndexedChanged(
      spark: org.apache.spark.sql.SparkSession,
      state: IndexedState, indexRoot: String, delta: DataFrame,
      idCol: String, textCol: String, scoreCol: String, sourceCol: String,
      prevLedger: DataFrame, prevSourceCounts: Seq[(String, Long)],
      gramN: Int = 8, minShared: Int = 2,
      minAvgLogProbPpm: Long = -4930000L, targetPpm: Long = 300000L,
      capacity: Long = 128L, nBuckets: Int = 8,
      boundedChurnCapPpm: Long = 100000L): DataFrame = {
    val (merged, deltaPairs) = mergeStateIndexedCore(spark, state, indexRoot,
      delta, idCol, textCol, scoreCol, sourceCol, gramN, minShared)
    val st = ledgerStages(merged.thin, merged.pairs, merged.cleanIds,
      merged.census, idCol, scoreCol, sourceCol, minAvgLogProbPpm, targetPpm,
      capacity, nBuckets,
      afterSurvivors = () =>
        NearDupIndexStore.releaseProbeCache(indexRoot, delta, idCol, textCol))
    val post = ledgerFromStages(st, idCol)
    // Adaptive diff: the candidate machinery pays off when churn is
    // SMALL next to the corpus (the 100 TB steady state — a daily batch
    // against a year's intake). When the batch itself is
    // corpus-proportional (>10% of ids), a corpus-sized except IS
    // churn-proportional by definition, and the touched-token/band
    // derivations would re-aggregate most of the vocabulary for no
    // bound — take the plain diff (same output either way; equality is
    // pinned in CurationSpec). `boundedChurnCapPpm` is the crossover
    // (default 10%); the spec pins both paths equal at any churn.
    val deltaCount = delta.select(col(idCol)).distinct().count()
    val corpusCount = state.thin.count()
    if (deltaCount * 1000000L > boundedChurnCapPpm * math.max(corpusCount, 1L))
      ledgerChangedRows(prevLedger, post)
    else {
      val candidates = ledgerChangeCandidates(state, delta, deltaPairs,
        merged.census, st.scores, st.quality, prevSourceCounts,
        idCol, textCol, sourceCol, minAvgLogProbPpm, targetPpm)
        .ckpt()
      ledgerChangedRowsBounded(prevLedger, post, candidates, idCol)
    }
  }
}
