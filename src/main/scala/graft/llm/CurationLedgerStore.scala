package graft.llm

import graft.util.Ckpt.RichCkpt

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fs.Fs
import graft.sources.PrunedIndex
import graft.store.{RecordedSchema, VersionedRoot}

/** Versioned curation-LEDGER store — the 100 TB deployment form of the
  * full curation pipeline ([[Curation.fullPipelineLedger]]'s five
  * stages), with the per-batch verdict COMPUTE churn-bounded, not just
  * the diff.
  *
  * The lineage: r18 churn-bounded the ledger WRITE (emit only changed
  * rows), r19 churn-bounded the diff's INPUTS (candidate semi-joins);
  * both still re-derived every verdict per batch — corpus-THIN frames
  * shuffled per day, honestly documented as "a verdict is a global
  * property". This store closes that residual: the global properties a
  * verdict depends on are PERSISTED AND MAINTAINED INCREMENTALLY, so a
  * batch recomputes verdicts only for a provably-complete candidate
  * set and splices them onto the stored ledger. Per-batch compute and
  * I/O follow the churn:
  *
  *  - '''stage 1 (near-dup keep-best)''' — pair maintenance probes the
  *    persisted near-dup index ([[Dedup.jaccardDeltaPairsIndexed]],
  *    delta-bounded end to end); survivorship can only flip inside a
  *    pair-graph component holding a changed edge, every changed edge
  *    has a delta endpoint, and the component members are found by a
  *    frontier BFS over an id-keyed EDGE component (point lookups per
  *    hop — never a pair-frame scan). Keep-best re-runs on exactly
  *    those components ([[Dedup.dedupByPairsKeepBest]] is
  *    component-local, so the restriction is exact).
  *  - '''stage 2 (decontamination)''' — a pure per-doc property against
  *    the FROZEN benchmark gram index: recomputed for touched docs
  *    only, stored as a `clean` flag in the thin component.
  *  - '''stage 3 (LM quality floor)''' — the unigram LM's global state
  *    is two persisted aggregates: the (tok, count) vocabulary (a
  *    tok-keyed pruned layout, Heaps-law-sublinear) and the total
  *    count; both advance by churn ARITHMETIC (delta counts in,
  *    replaced revisions' counts out — the exact additivity
  *    [[Curation.qualFlipCandidates]] already exploited). Which
  *    UNTOUCHED docs could have crossed the floor is answered by a
  *    certified lazy-rescoring band, the store's one genuinely new
  *    mechanism — see "The score-band invariant" below.
  *  - '''stage 4 (temperature mix)''' — membership is the pure per-doc
  *    test hashUnit(id) < quota_s/n_s; per-source quality-survivor
  *    counts are #sources rows of metadata maintained exactly from the
  *    candidates' own flips, and the docs whose membership flips under
  *    the new fractions live in a (source, hash-band)-keyed component:
  *    the flip interval [min(f,f'), max(f,f')) selects bands, a point
  *    lookup.
  *  - '''stage 5 (packing)''' — [[Packing.packBinsBFD]] assigns every
  *    doc exactly one bin (pinned as a property in PackingSpec), so
  *    `n_assigned == 1` is invariant and a mix survivor's verdict is
  *    `packed` with no global re-pack.
  *
  * '''The score-band invariant.''' A doc's stored score row is
  * (band, id, score_ppm, stamp) where `stamp` is the batch that last
  * rescored it. Per batch the untouched-token per-token shift is
  * bounded by `bound_k = ceil(|log2(N_prev/N_post)|·10⁶) + 3` (the
  * [[Curation.qualFlipCandidates]] bound: total-count shift + floor
  * wobble + fp slack); tokens shifting PAST it ("significant" —
  * possible only for rare tokens with short doc lists) have their
  * containing docs rescored that batch via the tok-keyed census
  * component. So by induction, for every doc NOT rescored since batch
  * t: |true_score(k) − stored_score(t)| ≤ B_k − B_t, where B is the
  * running sum of per-batch bounds (metadata, one long per batch). A
  * quality flip at batch k means the true score crossed the floor, so
  * the doc's stored row satisfies |stored − floor| ≤ B_k − B_t — the
  * band read [floor − B_k, floor + B_k] with the per-row stamp check
  * is a PROVABLY COMPLETE candidate set, and every candidate is then
  * rescored EXACTLY (census point lookup × vocabulary point lookup,
  * bit-identical arithmetic to [[TextAnalysis.unigramLogProbPpmFromCensus]])
  * and re-stamped, which keeps the band sparse: rows leave it as fast
  * as drift pulls them in. B grows by `bound_k ≥ 3` per batch — the
  * floor accrues even for zero-churn/replay batches, so BETWEEN
  * compactions the probe window widens linearly in batch count plus
  * logarithmically in corpus growth. [[compact]] rescores every doc
  * exactly and folds B back to `[0]` (stamps reset with it), so the
  * steady-state window is bounded by the compaction cadence — which
  * [[maybeMaintain]] already self-triggers on chain depth.
  *
  * Components (all [[graft.sources.PrunedIndex]] layouts under
  * `root/v<N>/`, advanced per batch by `writeDelta` replace-by-key or
  * stale-tolerant `appendRows`, untouched buckets stitched by absolute
  * path — a [[graft.store.VersionedRoot]]: one `_SUCCESS`, one atomic
  * `_CURRENT` swap):
  *
  * {{{
  *   thin/      (id, score, source, n_tokens, clean)  key=id
  *   census/    (id, tok, n)                          key=id
  *   censustok/ (tok, id, n)   append-only            key=tok
  *   vocab/     (tok, c)                              key=tok
  *   edges/     (src, dst)  near-dup pairs, both dirs key=src
  *   bands/     (band, id, score_ppm, stamp) append   key=band
  *   mixhash/   (msource, hband, id)         append   key=(msource,hband)
  *   ledger/    (id, n_tokens, verdict)               key=id
  *   neardup/   prefix/ sets/ dfhead/ _NEARDUP_META   the near-dup index
  *   _META / _PARAMS / _SUCCESS;  root/_CURRENT
  *   root/grams/    — the frozen benchmark gram index (written once)
  * }}}
  *
  * Every component records its schema when it is written
  * (`_PRUNE_SCHEMA` in the pruned layouts, `_SCHEMA` in `grams/` and
  * `neardup/dfhead/` — [[graft.store.RecordedSchema]]), so a [[ledger]]
  * read is one Spark job, the scan; a store written before the
  * sidecars reads through footer inference.
  *
  * Determinism: every stage is the batch pipeline's own arithmetic
  * (integer counts, ppm floors with the contract's +1e-4 guard,
  * md5-derived sampling hash), so [[absorbBatch]]'s changed rows equal
  * `post.except(prev)` of from-scratch [[Curation.fullPipelineLedger]]
  * twins — the t160 oracle family applies verbatim. Re-running a batch
  * is IDEMPOTENT: churn arithmetic cancels (counts already advanced),
  * recomputed verdicts equal the stored ones, and the changed set is
  * empty — the reference's replay recovery story.
  */
object CurationLedgerStore {

  /** Build/maintenance parameters plus the COLUMN CONTRACT (id, text,
    * score, source column names), recorded once at [[build]] in the
    * `_PARAMS` sidecar: maintenance is param-less and cannot drift the
    * stage semantics (the [[AnnIndexStore]] lesson). */
  final case class Params(idCol: String, textCol: String,
                          scoreCol: String, sourceCol: String,
                          shingleN: Int = 3, jaccardThreshold: Double = 0.8,
                          dfHeadSize: Int = 100000, neardupBuckets: Int = 64,
                          gramN: Int = 8, minShared: Int = 2,
                          minAvgLogProbPpm: Long = -4930000L,
                          targetPpm: Long = 300000L,
                          capacity: Long = 128L, packBuckets: Int = 8,
                          idBuckets: Int = 16, tokBuckets: Int = 16,
                          scoreBandPpm: Long = 50000L, hashBands: Int = 1024,
                          maxRecordsPerFile: Long = 0L)

  private[llm] final case class Meta(k: Int, nTotal: Long, bounds: Seq[Long],
                                     counts: Map[String, Long])

  import VersionedRoot.{commit, nextVersion, requireCurrent, versionDir}

  private def gramsPath(root: String): String = Fs.child(root, "grams")
  private def metaPath(d: String): String = Fs.child(d, "_META")

  private def thinDir(d: String) = Fs.child(d, "thin")
  private def censusDir(d: String) = Fs.child(d, "census")
  private def censusTokDir(d: String) = Fs.child(d, "censustok")
  private def vocabDir(d: String) = Fs.child(d, "vocab")
  private def edgesDir(d: String) = Fs.child(d, "edges")
  private def bandsDir(d: String) = Fs.child(d, "bands")
  private def mixDir(d: String) = Fs.child(d, "mixhash")
  private def ledgerDir(d: String) = Fs.child(d, "ledger")
  private def neardupDir(d: String) = Fs.child(d, "neardup")

  def versions(root: String): Seq[Long] = VersionedRoot.versions(root)

  def currentVersion(root: String): Option[Long] = VersionedRoot.currentVersion(root)

  def currentPath(root: String): Option[String] = VersionedRoot.currentPath(root)

  /** The current version's recorded parameters + column contract. */
  def params(root: String): Option[Params] =
    VersionedRoot.currentParams(root).map { kv =>
      Params(kv("idCol"), kv("textCol"), kv("scoreCol"), kv("sourceCol"),
        kv("shingleN").toInt, kv("jaccardThreshold").toDouble,
        kv("dfHeadSize").toInt, kv("neardupBuckets").toInt,
        kv("gramN").toInt, kv("minShared").toInt,
        kv("minAvgLogProbPpm").toLong, kv("targetPpm").toLong,
        kv("capacity").toLong, kv("packBuckets").toInt,
        kv("idBuckets").toInt, kv("tokBuckets").toInt,
        kv("scoreBandPpm").toLong, kv("hashBands").toInt,
        kv("maxRecordsPerFile").toLong)
    }

  private def storedParams(root: String): Params =
    params(root).getOrElse {
      requireCurrent(root)
      throw new IllegalStateException(
        s"store $root has no _PARAMS sidecar — rebuild via CurationLedgerStore.build")
    }

  private def renderMeta(m: Meta): String = {
    m.counts.keys.foreach { s =>
      require(!s.contains("\t") && !s.contains("\n"),
        s"source value not meta-encodable: '$s'") }
    (Seq(s"k\t${m.k}", s"n\t${m.nTotal}",
      s"B\t${m.bounds.mkString(",")}") ++
      m.counts.toSeq.sortBy(_._1).map { case (s, n) => s"S\t$s\t$n" })
      .mkString("\n")
  }

  private[llm] def readMeta(versionDir: String): Meta = {
    val lines = Fs.readString(metaPath(versionDir)).split("\n")
      .map(_.trim).filter(_.nonEmpty)
    var k = 0; var n = 0L
    var bounds: Seq[Long] = Seq(0L)
    val counts = scala.collection.mutable.Map.empty[String, Long]
    lines.foreach { l =>
      val f = l.split("\t")
      f(0) match {
        case "k" => k = f(1).toInt
        case "n" => n = f(1).toLong
        case "B" => bounds = f(1).split(",").map(_.trim.toLong).toSeq
        case "S" => counts(f(1)) = f(2).toLong
        case _   => ()
      }
    }
    Meta(k, n, bounds, counts.toMap)
  }

  /** The +1e-4-guarded ppm log-probability of count `c` under total
    * `n` — [[TextAnalysis.unigramLogProbPpmFromCensus]]'s per-token
    * arithmetic verbatim (the cross-engine floor contract). */
  private def lpPpm(c: Column, n: Long): Column =
    floor(log2(c.cast("double") / lit(n.toDouble)) * 1e6 + 1e-4).cast("long")

  private def bandOf(score: Column, w: Long): Column =
    floor(score.cast("double") / lit(w.toDouble)).cast("long")

  private def hbandOf(idC: Column, hashBands: Int): Column =
    floor(graft.operators.Sampling.hashUnit(idC) * lit(hashBands.toDouble))
      .cast("int")

  /** The per-source sampling fraction expression — the EXACT fold
    * [[graft.operators.Sampling.stratifiedHashSample]] builds, so the
    * membership compare reproduces the batch pipeline bit for bit.
    * Sources absent from `counts` get fraction 0 (they have no quality
    * members, so the compare is vacuous for real rows). */
  private def fracExpr(fracs: Map[String, Double], sourceC: Column): Column =
    fracs.toSeq.sortBy(_._1).foldLeft(lit(0.0)) {
      case (acc, (s, f)) => when(sourceC === s, lit(f)).otherwise(acc)
    }

  private def fracsOf(counts: Map[String, Long], targetPpm: Long): Map[String, Double] = {
    val nonZero = counts.filter(_._2 > 0L).toSeq.sortBy(_._1)
    if (nonZero.isEmpty) Map.empty
    else {
      val quotas = graft.operators.Sampling.temperatureQuotas(nonZero, targetPpm)
      nonZero.map { case (s, n) => s -> quotas(s).toDouble / n.toDouble }.toMap
    }
  }

  /** One-time batch build over the corpus: runs the full pipeline
    * ([[Curation.ledgerStages]] — the exact machinery behind
    * [[Curation.fullPipelineLedger]]), persists every component plus
    * the near-dup index and the frozen benchmark gram index, and
    * commits v1. Returns the committed version. Ids must be unique
    * (one row per doc — the pipeline's intake contract). */
  def build(spark: SparkSession, docs: DataFrame, bench: DataFrame,
            benchTextCol: String, root: String, p: Params): Long = {
    import graft.functions.TextFunctions.tokenCount
    val (idCol, textCol, scoreCol, sourceCol) =
      (p.idCol, p.textCol, p.scoreCol, p.sourceCol)
    val grams = Decontaminate.benchGramIndex(bench, benchTextCol, p.gramN)
    RecordedSchema.writeParquet(grams, gramsPath(root))
    val gramsStored = RecordedSchema.read(spark, gramsPath(root))
    val v = nextVersion(root)
    val d = versionDir(root, v)
    // three independent corpus passes (near-dup index build, unigram
    // census, pair generation), overlapped (guide §2.6). The index
    // build and the pair generator share the persisted shingle-set
    // plan — whichever materializes it first wins the cache entry,
    // answers identical either way.
    val built = graft.util.Par.run(Seq[() => DataFrame](
      () => { Dedup.writeNearDupIndex(spark, docs, idCol, textCol,
        neardupDir(d), p.shingleN, p.jaccardThreshold, p.dfHeadSize,
        p.neardupBuckets); null },
      () => TextAnalysis.unigramCensus(docs, idCol, textCol)
        .ckpt(),
      () => Dedup.jaccardNearDupPairs(docs, idCol, textCol,
        p.shingleN, p.jaccardThreshold, p.dfHeadSize).ckpt()))
    val (census, pairs) = (built(1), built(2))
    val cleanIds = Decontaminate.scrubAgainstGramIndex(docs, idCol, textCol,
      gramsStored, p.gramN, p.minShared).select(col(idCol))
    val thin = docs.select(col(idCol), col(scoreCol), col(sourceCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val st = Curation.ledgerStages(thin, pairs, cleanIds, census,
      idCol, scoreCol, sourceCol, p.minAvgLogProbPpm, p.targetPpm,
      p.capacity, p.packBuckets, () => ())
    val ledgerDf = Curation.ledgerFromStages(st, idCol).ckpt()
    val counts = st.quality.groupBy(col(sourceCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val vocab = census.groupBy(col("tok")).agg(sum(col("n")).as("c"))
    val nTotal = Option(census.agg(sum(col("n"))).collect()(0).get(0))
      .fold(0L)(_.asInstanceOf[Long])
    // checkpointed: its lineage (a full gram scrub join) fed both the
    // thin component AND the mix-hash component — two scrub replays
    val thinStored = st.allThin
      .join(cleanIds.withColumn("clean", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col(scoreCol), col(sourceCol), col("n_tokens"),
        coalesce(col("clean"), lit(false)).as("clean"))
      .ckpt()
    // eight independent component writes of one version dir, overlapped
    // (guide §2.6) — commit markers stay strictly last
    graft.util.Par.runUnit(Seq(
      () => PrunedIndex.write(thinStored, thinDir(d), Seq(idCol), p.idBuckets,
        p.maxRecordsPerFile),
      () => PrunedIndex.write(census, censusDir(d), Seq("id"), p.idBuckets,
        p.maxRecordsPerFile),
      () => PrunedIndex.write(census.select(col("tok"), col("id"), col("n")),
        censusTokDir(d), Seq("tok"), p.tokBuckets, p.maxRecordsPerFile),
      () => PrunedIndex.write(vocab, vocabDir(d), Seq("tok"), p.tokBuckets,
        p.maxRecordsPerFile),
      () => PrunedIndex.write(
        pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
          .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))),
        edgesDir(d), Seq("src"), p.idBuckets, p.maxRecordsPerFile),
      () => PrunedIndex.write(
        st.scores.select(bandOf(col("avg_logprob_ppm"), p.scoreBandPpm).as("band"),
          col(idCol).as("id"), col("avg_logprob_ppm").as("score_ppm"),
          lit(0).as("stamp")),
        bandsDir(d), Seq("band"), p.tokBuckets, p.maxRecordsPerFile),
      () => PrunedIndex.write(
        thinStored.select(col(sourceCol).as("msource"),
          hbandOf(col(idCol), p.hashBands).as("hband"), col(idCol).as("id")),
        mixDir(d), Seq("msource", "hband"), p.idBuckets, p.maxRecordsPerFile),
      () => PrunedIndex.write(ledgerDf, ledgerDir(d), Seq(idCol), p.idBuckets,
        p.maxRecordsPerFile)))
    VersionedRoot.writeParams(d, p)
    Fs.writeStringAtomic(metaPath(d),
      renderMeta(Meta(0, nTotal, Seq(0L), counts)))
    commit(root, v)
  }

  /** The stored ledger — one (id, n_tokens, verdict) row per corpus
    * doc, the [[Curation.fullPipelineLedger]] contract over everything
    * absorbed so far. Corpus-sized by definition; the per-batch
    * operational output is [[absorbBatch]]'s changed rows. */
  def ledger(spark: SparkSession, root: String): DataFrame =
    PrunedIndex.read(spark, ledgerDir(requireCurrent(root)))

  /** Absorb one intake batch (REPLACE semantics for re-uploaded ids,
    * one row per id) and return the ledger rows the batch CHANGED —
    * `post.except(prev)` of full-rebuild twins, computed without ever
    * re-deriving a non-candidate verdict. Commits a new store version;
    * per-batch compute and I/O are churn-bounded (see the object doc
    * for the stage-by-stage argument; ScaleSpec proves the I/O bound
    * behaviorally by deleting untouched buckets' files). */
  def absorbBatch(spark: SparkSession, root: String, delta: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val p = storedParams(root)
    val cur = requireCurrent(root)
    val m = readMeta(cur)
    val (idCol, textCol, scoreCol, sourceCol) =
      (p.idCol, p.textCol, p.scoreCol, p.sourceCol)
    val deltaIds = delta.select(col(idCol)).distinct().ckpt()
    if (deltaIds.isEmpty)
      return PrunedIndex.read(spark, ledgerDir(cur)).limit(0)
    val v = nextVersion(root)
    val d = versionDir(root, v)

    // ---- independent per-batch derivations, overlapped (guide §2.6):
    //      the prev-census point lookup, the delta census, the delta
    //      thin row (scrub + token count) and the near-dup probe+advance
    //      share no data dependency — each was a sequential eager
    //      checkpoint job before; within the near-dup task the probe
    //      materializes before the index advances into the new version ----
    val nd = neardupDir(cur)
    val gramsStored = RecordedSchema.read(spark, gramsPath(root))
    val parts = graft.util.Par.run(Seq[() => DataFrame](
      // pre-update point lookup (the PREV version's truth; the thin
      // component's delta rows come from the fused c3 read below —
      // thin is unchanged until the write phase)
      () => PrunedIndex.readPruned(spark, censusDir(cur),
        deltaIds.select(col(idCol).as("id"))).ckpt(),
      // the batch's own text is tokenized once
      () => TextAnalysis.unigramCensus(delta, idCol, textCol)
        .ckpt(),
      () => {
        val deltaClean = Decontaminate.scrubAgainstGramIndex(delta, idCol,
          textCol, gramsStored, p.gramN, p.minShared).select(col(idCol))
        delta.select(col(idCol), col(scoreCol), col(sourceCol),
            tokenCount(col(textCol)).cast("long").as("n_tokens"))
          .join(deltaClean.withColumn("clean", lit(true)), Seq(idCol), "left")
          .select(col(idCol), col(scoreCol), col(sourceCol), col("n_tokens"),
            coalesce(col("clean"), lit(false)).as("clean"))
          .ckpt()
      },
      // near-dup pair churn: probe (materialized) then land the advanced
      // index in the new version
      () => {
        val dp = Dedup.jaccardDeltaPairsIndexed(spark, nd, delta,
          idCol, textCol).ckpt()
        Dedup.appendNearDupIndexDeltaInto(spark, nd, neardupDir(d), delta,
          idCol, textCol)
        Dedup.releaseIndexedProbeCache(nd, delta, idCol, textCol)
        dp
      }))
    val (prevCensusDelta, deltaCensus, deltaThin, deltaPairs) =
      (parts(0), parts(1), parts(2), parts(3))
    val deltaEdges = deltaPairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(deltaPairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .ckpt()

    // ---- vocabulary churn arithmetic (counts are additive longs) ----
    // The whole chain shares no data dependency with the pair-reach BFS
    // below (census arithmetic vs edge-component walk), so the two
    // sequential chains run CONCURRENTLY (guide §2.6) — see the Par at
    // the end of both definitions.
    def vocabChurn(): (DataFrame, DataFrame, Long, Long, DataFrame) = {
      val touchedToks = deltaCensus.select(col("tok"))
        .unionByName(prevCensusDelta.select(col("tok")))
        .distinct().ckpt()
      val dAgg = deltaCensus.groupBy(col("tok")).agg(sum(col("n")).as("dn"))
      val rAgg = prevCensusDelta.groupBy(col("tok")).agg(sum(col("n")).as("rn"))
      val cRows = PrunedIndex.readPruned(spark, vocabDir(cur), touchedToks)
        .select(col("tok"), col("c").as("cprevraw"))
        .join(dAgg, Seq("tok"), "full_outer")
        .join(rAgg, Seq("tok"), "full_outer")
        .select(col("tok"),
          coalesce(col("cprevraw"), lit(0L)).as("cprev"),
          (coalesce(col("cprevraw"), lit(0L)) + coalesce(col("dn"), lit(0L))
            - coalesce(col("rn"), lit(0L))).as("cpost"))
        .ckpt()
      // both census sums in ONE job (they were two sequential folds —
      // part of the fixed per-batch overhead r19's verdict #3 named)
      val sumsRow = deltaCensus.select(col("n"), lit(1).as("side"))
        .unionByName(prevCensusDelta.select(col("n"), lit(2).as("side")))
        .agg(sum(when(col("side") === 1, col("n"))).as("d"),
          sum(when(col("side") === 2, col("n"))).as("r")).collect()(0)
      val dSum = if (sumsRow.isNullAt(0)) 0L else sumsRow.getLong(0)
      val rSum = if (sumsRow.isNullAt(1)) 0L else sumsRow.getLong(1)
      val nPrev = m.nTotal
      val nPost = nPrev + dSum - rSum
      val u =
        if (nPrev <= 0L || nPost <= 0L) 0.0
        else math.abs(math.log(nPrev.toDouble / nPost.toDouble) / math.log(2.0)) * 1e6
      val bound = math.ceil(u).toLong + 3

      // ---- significant-token docs (per-tok shift past the bound —
      //      possible only for rare tokens, whose doc lists are short) ----
      val sigToks = cRows.filter(col("cprev") > 0L && col("cpost") > 0L)
        .select(col("tok"),
          abs(lpPpm(col("cpost"), nPost) - lpPpm(col("cprev"), nPrev)).as("dlp"))
        .filter(col("dlp") >= bound)
        .select(col("tok")).ckpt()
      // append-only layout: stale rows of replaced revisions may surface
      // extra ids — a candidate SUPERSET is exactness-safe (each gets an
      // exact rescore); missing rows are impossible (appends are complete).
      // No sig toks (the common steady state) ⇒ ZERO censustok I/O.
      val sigDocs =
        if (sigToks.isEmpty) deltaIds.limit(0)
        else PrunedIndex.readPruned(spark, censusTokDir(cur), sigToks)
          .select(col("id").as(idCol)).distinct()
      (touchedToks, cRows, nPost, bound, sigDocs)
    }

    // ---- pair-reach BFS over stored edges ∪ the batch's pair delta:
    //      every member of every component a changed edge touches,
    //      point lookups per hop. Each hop's pruned edge read is
    //      ACCUMULATED: a reach member passes through exactly one
    //      frontier, so the union of the hop reads equals
    //      readPruned(edges, reach) — the post-pair derivation and the
    //      write phase reuse it below instead of re-reading the edge
    //      buckets (three fused point-lookups, r19 verdict #3).
    //
    //      Driver-frontier form (r21, guide §1.2): the frontier, the
    //      reach, and every hop's pruned edge read are churn-bounded by
    //      the component invariant — the same contract that lets the
    //      rest of the absorb BROADCAST them. Holding frontier/visited
    //      driver-side makes each hop ONE pruned-read job (collect)
    //      instead of the r20 loop's read-checkpoint + fresh-checkpoint
    //      + two isEmpty actions; the delta adjacency (checkpointed,
    //      churn-bounded) collects once. A reach or edge set past
    //      `spark.graft.reach.maxDriverIds` (default 2M — broadcast
    //      order) falls back to the distributed loop, as does a
    //      non-long id column (the driver set must reproduce Spark's
    //      key semantics). ----
    def pairReachBfs(): (DataFrame, DataFrame, DataFrame) = {
    val idDt = deltaIds.schema(deltaIds.columns.indexOf(idCol)).dataType
    val maxDriverIds =
      try spark.conf.get("spark.graft.reach.maxDriverIds", "2000000").toLong
      catch { case _: Throwable => 2000000L }
    def localLongDf(rows: Seq[org.apache.spark.sql.Row],
                    fields: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, rows.size / 500000)),
        org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
          org.apache.spark.sql.types.StructField(n, t, nullable = true) }))
    val longT = org.apache.spark.sql.types.LongType
    val driverBfs: Option[(DataFrame, DataFrame, DataFrame)] =
      if (idDt != longT) None
      else {
        val seedIds = deltaIds.select(col(idCol).cast("long"))
          .limit((maxDriverIds + 1).min(Int.MaxValue).toInt).collect().map(_.getLong(0))
        val deltaAdjRows = deltaEdges
          .select(col("src").cast("long"), col("dst").cast("long"))
          .limit((maxDriverIds + 1).min(Int.MaxValue).toInt).collect()
        if (seedIds.length > maxDriverIds || deltaAdjRows.length > maxDriverIds) None
        else {
          val deltaAdj = new java.util.HashMap[java.lang.Long,
            scala.collection.mutable.ArrayBuffer[Long]]()
          deltaAdjRows.foreach { r =>
            deltaAdj.computeIfAbsent(r.getLong(0),
              _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
          }
          val visitedSet = new java.util.HashSet[java.lang.Long](seedIds.length * 2)
          seedIds.foreach(visitedSet.add(_))
          var frontier = seedIds
          val hopRows = scala.collection.mutable.ArrayBuffer.empty[Array[org.apache.spark.sql.Row]]
          var overflow = false
          while (frontier.nonEmpty && !overflow) {
            val probe = localLongDf(frontier.toSeq.map(org.apache.spark.sql.Row(_)),
              "src" -> longT)
            val stored = PrunedIndex.readPruned(spark, edgesDir(cur), probe).collect()
            hopRows += stored
            val nbrs = stored.iterator.map(_.getLong(1)) ++
              frontier.iterator.flatMap(f =>
                Option(deltaAdj.get(f)).map(_.iterator).getOrElse(Iterator.empty))
            frontier = nbrs.filter(n => visitedSet.add(n)).toArray.distinct
            if (visitedSet.size > maxDriverIds ||
                hopRows.iterator.map(_.length.toLong).sum > maxDriverIds) overflow = true
          }
          if (overflow) None
          else {
            val reachRows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](visitedSet.size)
            visitedSet.forEach(v => reachRows += org.apache.spark.sql.Row(v.longValue))
            val allEdgeRows = hopRows.iterator.flatten
              .map(r => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1))).toSeq
            val hop1Rows = hopRows.head
              .map(r => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1))).toSeq
            Some((localLongDf(reachRows.toSeq, idCol -> longT),
              localLongDf(allEdgeRows, "src" -> longT, "dst" -> longT),
              localLongDf(hop1Rows, "src" -> longT, "dst" -> longT)))
          }
        }
      }
    driverBfs.getOrElse {
      var visited: DataFrame = deltaIds
      var frontier = visited
      val hopReads = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      while (!frontier.isEmpty) {
        val storedNbrs = PrunedIndex.readPruned(spark, edgesDir(cur),
          frontier.select(col(idCol).as("src"))).ckpt()
        hopReads += storedNbrs
        val deltaNbrs = deltaEdges
          .join(broadcast(frontier.select(col(idCol).as("src"))), Seq("src"), "left_semi")
          .select(col("dst"))
        val fresh = storedNbrs.select(col("dst")).unionByName(deltaNbrs).distinct()
          .select(col("dst").as(idCol))
          .join(visited, Seq(idCol), "left_anti").ckpt()
        if (!fresh.isEmpty) visited = visited.unionByName(fresh)
        frontier = fresh
      }
      // == readPruned(edges, reach): all stored (src, dst) with src ∈ reach;
      // hop 1's probe was exactly deltaIds — the write phase's "previous
      // neighbors of re-uploaded ids" lookup, already in hand
      (visited,
        hopReads.map(_.select(col("src"), col("dst"))).reduce(_.unionByName(_)),
        hopReads.head)
    }
    }

    // the two independent chains, overlapped (guide §2.6)
    val chains = graft.util.Par.run(Seq[() => AnyRef](
      () => vocabChurn(), () => pairReachBfs()))
    val (touchedToks, cRows, nPost, bound, sigDocs) =
      chains(0).asInstanceOf[(DataFrame, DataFrame, Long, Long, DataFrame)]
    val (reach, reachEdges, prevNbrs) =
      chains(1).asInstanceOf[(DataFrame, DataFrame, DataFrame)]
    val bK = m.bounds.last + bound
    val boundsPost = m.bounds :+ bK
    val k1 = m.k + 1

    // ---- score-band candidates under the lazy-rescoring invariant ----
    val w = p.scoreBandPpm
    val floorQ = p.minAvgLogProbPpm
    val loBand = Math.floorDiv(floorQ - bK, w)
    val hiBand = Math.floorDiv(floorQ + bK, w)
    import spark.implicits._
    val bandProbe = (loBand to hiBand).toDF("band")
    val stampsDf = boundsPost.zipWithIndex
      .map { case (b, t) => (t, b) }.toDF("stamp", "bcum")
    val bandQualified = PrunedIndex.readPruned(spark, bandsDir(cur), bandProbe)
      .join(broadcast(stampsDf), Seq("stamp"))
      .filter(abs(col("score_ppm") - lit(floorQ)) <= lit(bK) - col("bcum"))
      .select(col("id").as(idCol)).distinct()

    // ---- the pre-mix candidate set, rescored EXACTLY ----
    val c3 = deltaIds.unionByName(reach).unionByName(sigDocs)
      .unionByName(bandQualified).distinct().ckpt()
    // ONE pruned thin read serves three consumers (candidate rows,
    // srcPrev, the quality-flow fold): deltaIds ⊆ c3, and thin is
    // untouched until the write phase.
    // The three eager cuts that follow c3 — the pruned thin read, the
    // exact candidate rescoring, and the pruned prev-ledger read — are
    // data-independent given c3, so they overlap (guide §2.6).
    val candCensus = PrunedIndex.readPruned(spark, censusDir(cur),
        c3.select(col(idCol).as("id")))
      .join(broadcast(deltaIds.select(col(idCol).as("id"))), Seq("id"), "left_anti")
      .unionByName(deltaCensus)
    val candToks = candCensus.select(col("tok")).distinct()
    val candVocab = PrunedIndex.readPruned(spark, vocabDir(cur), candToks)
      .join(touchedToks, Seq("tok"), "left_anti")
      .unionByName(cRows.filter(col("cpost") > 0L)
        .select(col("tok"), col("cpost").as("c"))
        .join(candToks, Seq("tok"), "left_semi"))
    val postC3 = graft.util.Par.run(Seq[() => DataFrame](
      () => PrunedIndex.readPruned(spark, thinDir(cur), c3).ckpt(),
      () => candCensus
        .join(candVocab, Seq("tok"))
        .select(col("id"), col("n"), (col("n") * lpPpm(col("c"), nPost)).as("nlp"))
        .groupBy(col("id"))
        .agg(sum(col("n")).as("nt"), sum(col("nlp")).as("slp"))
        .select(col("id").as(idCol), expr("slp DIV nt").as("score_ppm"))
        .ckpt(),
      () => PrunedIndex.readPruned(spark, ledgerDir(cur), c3).ckpt()))
    val (thinC3, candScores, prevLedgerCand) = (postC3(0), postC3(1), postC3(2))
    val candThin = thinC3
      .join(broadcast(deltaIds), Seq(idCol), "left_anti")
      .unionByName(deltaThin)

    // ---- stage bits for the pre-mix candidates ----
    // post pairs among the reach (post = stored − touching-delta + delta;
    // reach components are closed under post ∪ prev edges)
    val storedReachEdges = reachEdges
      .join(broadcast(deltaIds.select(col(idCol).as("src"))), Seq("src"), "left_anti")
      .join(broadcast(deltaIds.select(col(idCol).as("dst"))), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
    val postReachPairs = storedReachEdges.unionByName(deltaEdges)
      .filter(col("src") < col("dst"))
      .select(col("src").as("a_id"), col("dst").as("b_id")).distinct()
    val survReach = Dedup.dedupByPairsKeepBest(
        candThin.join(reach, Seq(idCol), "left_semi"),
        idCol, scoreCol, postReachPairs, "a_id", "b_id")
      .select(col(idCol)).withColumn("surv_reach", lit(true))
    val candBits = candThin
      .join(prevLedgerCand.select(col(idCol),
        col("verdict").as("prev_verdict")), Seq(idCol), "left")
      .join(reach.withColumn("in_reach", lit(true)), Seq(idCol), "left")
      .join(survReach, Seq(idCol), "left")
      // LEFT join: a zero-token doc has no census rows, hence no score
      // — the batch pipeline leaves it out of the quality gate too
      // (scores.filter can't pass a missing row), so null score ⇒ ¬qual
      .join(candScores, Seq(idCol), "left")
      .select(col(idCol), col(scoreCol), col(sourceCol), col("n_tokens"),
        col("score_ppm"),
        when(col("in_reach").isNotNull, col("surv_reach").isNotNull)
          .otherwise(col("prev_verdict").isNotNull &&
            col("prev_verdict") =!= lit("near_dup")).as("surv"),
        col("clean"),
        coalesce(col("score_ppm") >= lit(floorQ), lit(false)).as("qual"),
        col("prev_verdict"))
      .ckpt()

    // ---- per-source quality-survivor counts, advanced exactly from
    //      the candidates' own flips (#sources-row driver arithmetic;
    //      post and prev sides folded in ONE job). srcPrev — every
    //      candidate's PRE-update source — is thinC3 itself: the delta
    //      ids' stored rows (semi) plus the untouched candidates'
    //      (anti) partition the read. ----
    val qVerdicts = Seq("not_sampled", "packed", "pack_lost")
    val srcPrev = thinC3.select(col(idCol), col(sourceCol))
    val qFlows = candBits.filter(col("surv") && col("clean") && col("qual"))
      .select(col(sourceCol).as("qsrc"), lit(1).as("side"))
      .unionByName(prevLedgerCand
        .filter(col("verdict").isin(qVerdicts: _*))
        .join(srcPrev, Seq(idCol))
        .select(col(sourceCol).as("qsrc"), lit(2).as("side")))
      .groupBy(col("qsrc"), col("side")).agg(count(lit(1)).as("n"))
      .collect()
    val postQ = qFlows.filter(_.getInt(1) == 1)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val prevQ = qFlows.filter(_.getInt(1) == 2)
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val countsPost = (m.counts.keySet ++ postQ.keySet ++ prevQ.keySet).iterator
      .map { s => s -> (m.counts.getOrElse(s, 0L)
        + postQ.getOrElse(s, 0L) - prevQ.getOrElse(s, 0L)) }
      .filter(_._2 != 0L).toMap
    val fPrev = fracsOf(m.counts, p.targetPpm)
    val fPost = fracsOf(countsPost, p.targetPpm)

    // ---- mix-flip candidates: quality-stable docs whose hash lands
    //      between yesterday's and today's fraction — a (source,
    //      hash-band) point lookup ----
    val mixProbePairs = fPost.keySet.intersect(fPrev.keySet).toSeq.sorted
      .flatMap { s =>
        val (f1, f2) = (fPrev(s), fPost(s))
        if (f1 == f2) Seq.empty
        else {
          val lo = math.max(0, math.floor(math.min(f1, f2) * p.hashBands).toInt)
          val hi = math.min(p.hashBands - 1,
            math.floor(math.max(f1, f2) * p.hashBands).toInt)
          (lo to hi).map(hb => (s, hb))
        }
      }
    val mixIds =
      if (mixProbePairs.isEmpty) c3.limit(0)
      else PrunedIndex.readPruned(spark, mixDir(cur),
          mixProbePairs.toDF("msource", "hband"))
        .select(col("id").as(idCol)).distinct()
        .join(c3, Seq(idCol), "left_anti")
        .ckpt()

    // ---- post verdicts for every candidate ----
    val fPostC = fracExpr(fPost, col(sourceCol))
    val h = graft.operators.Sampling.hashUnit(col(idCol))
    // stage 5 is verdict-invariant: packBinsBFD assigns every doc
    // exactly one bin (PackingSpec property), so n_assigned == 1 and a
    // mix survivor is 'packed' with no global re-pack
    val postsC3 = candBits.select(col(idCol), col("n_tokens"),
      when(!col("surv"), lit("near_dup"))
        .when(!col("clean"), lit("contaminated"))
        .when(!col("qual"), lit("low_quality"))
        .when(h < fPostC, lit("packed"))
        .otherwise(lit("not_sampled")).as("verdict"))
    val mixPrevRows =
      if (mixIds.isEmpty) prevLedgerCand.limit(0)
      else PrunedIndex.readPruned(spark, ledgerDir(cur), mixIds).ckpt()
    val postsMix = mixPrevRows
      .filter(col("verdict").isin(qVerdicts: _*))
      .join(
        (if (mixIds.isEmpty) candThin.limit(0)
         else PrunedIndex.readPruned(spark, thinDir(cur), mixIds))
          .select(col(idCol), col(sourceCol)), Seq(idCol))
      .select(col(idCol), col("n_tokens"),
        when(h < fPostC, lit("packed")).otherwise(lit("not_sampled")).as("verdict"))
    val posts = postsC3.unionByName(postsMix).ckpt()
    val prevRowsAll = prevLedgerCand.unionByName(
      mixPrevRows.filter(col("verdict").isin(qVerdicts: _*)))
    // the changed-rows diff reads only checkpointed frames and writes
    // nothing — it overlaps the component writes below as a 9th task
    var changed: DataFrame = null

    // ---- land the new version (write I/O delta-bounded everywhere) ----
    val mrpf = p.maxRecordsPerFile
    // prevNbrs is BFS hop 1's read (same probe: deltaIds as src), and
    // touchedSrcs ⊆ reach (hop-1 dsts and every delta-pair endpoint are
    // reached in ≤1 hop), so the stored side of the edge rewrite is a
    // semi-join of the accumulated reachEdges — no edge bucket re-read
    val touchedSrcs = deltaIds.select(col(idCol).as("src"))
      .unionByName(prevNbrs.select(col("dst").as("src")))
      .unionByName(deltaEdges.select(col("src")))
      .unionByName(deltaEdges.select(col("dst").as("src")))
      .distinct().ckpt()
    val newEdgeRows = reachEdges
      .join(broadcast(touchedSrcs), Seq("src"), "left_semi")
      .join(broadcast(deltaIds.select(col(idCol).as("src"))), Seq("src"), "left_anti")
      .join(broadcast(deltaIds.select(col(idCol).as("dst"))), Seq("dst"), "left_anti")
      .select(col("src"), col("dst"))
      .unionByName(deltaEdges)
    // the eight component advances are independent (each reads `cur`,
    // writes its own subdir of `d`, over checkpointed inputs) — the
    // remaining fixed per-batch overhead after r19 verdict #3's read
    // fusions was this sequential write chain; overlap it (guide §2.6)
    graft.util.Par.runUnit(Seq(
      () => { changed = posts.except(prevRowsAll).ckpt() },
      () => PrunedIndex.writeDelta(spark, thinDir(d), deltaThin, deltaIds,
        basePath = thinDir(cur), mrpf),
      () => PrunedIndex.writeDelta(spark, censusDir(d), deltaCensus,
        deltaIds.select(col(idCol).as("id")),
        basePath = censusDir(cur), mrpf),
      () => PrunedIndex.appendRows(spark, censusTokDir(d),
        deltaCensus.select(col("tok"), col("id"), col("n")),
        basePath = censusTokDir(cur), mrpf),
      () => PrunedIndex.writeDelta(spark, vocabDir(d),
        cRows.filter(col("cpost") > 0L).select(col("tok"), col("cpost").as("c")),
        touchedToks, basePath = vocabDir(cur), mrpf),
      () => PrunedIndex.writeDelta(spark, edgesDir(d), newEdgeRows, touchedSrcs,
        basePath = edgesDir(cur), mrpf),
      // every candidate was rescored exactly — re-stamp them so the band
      // stays sparse (stale generations are the compaction's business)
      () => PrunedIndex.appendRows(spark, bandsDir(d),
        candScores.select(bandOf(col("score_ppm"), w).as("band"),
          col(idCol).as("id"), col("score_ppm"), lit(k1).as("stamp")),
        basePath = bandsDir(cur), mrpf),
      () => PrunedIndex.appendRows(spark, mixDir(d),
        deltaThin.select(col(sourceCol).as("msource"),
          hbandOf(col(idCol), p.hashBands).as("hband"), col(idCol).as("id")),
        basePath = mixDir(cur), mrpf),
      () => PrunedIndex.writeDelta(spark, ledgerDir(d), posts,
        posts.select(col(idCol)), basePath = ledgerDir(cur), mrpf)))
    VersionedRoot.writeParams(d, p)
    Fs.writeStringAtomic(metaPath(d),
      renderMeta(Meta(k1, nPost, boundsPost, countsPost)))
    commit(root, v)
    changed
  }

  /** The stitched components — the manifest scan set for [[chainDepth]]
    * and [[vacuum]]. */
  private val AllComponents: Seq[String] = Seq("thin", "census", "censustok",
    "vocab", "edges", "bands", "mixhash", "ledger", "neardup/prefix",
    "neardup/sets")

  /** How many version dirs the CURRENT version's stitched manifests
    * reach into ([[VersionedRoot.chainDepth]]; 1 = self-contained) —
    * the structural staleness signal [[maybeMaintain]] acts on. */
  def chainDepth(root: String): Int = VersionedRoot.chainDepth(root, AllComponents)

  /** Self-triggering maintenance (the [[NearDupIndexStore]]/
    * [[AnnIndexStore]] contract): [[compact]] when the stitched
    * reference chain exceeds `maxChainDepth` versions — hysteresis is
    * structural (a compaction resets the depth to 1), the trigger is
    * metadata-only (manifest lines), and the fold is answer-invariant
    * (pinned in CurationLedgerStoreSpec). Returns the new committed
    * version when maintenance ran. Single-writer contract. */
  def maybeMaintain(spark: SparkSession, root: String,
                    maxChainDepth: Int = 8): Option[Long] =
    if (chainDepth(root) > maxChainDepth) Some(compact(spark, root))
    else None

  /** Retention — [[VersionedRoot.vacuum]] over the ledger components:
    * drops versions beyond the newest `keep` that no retained manifest
    * references (sparable only after [[compact]] folds the chain flat),
    * and sweeps stale orphans of crashed absorbs. Single-writer
    * contract. Returns the dropped versions. The near-dup index is a
    * component of each version, so it is retained and dropped with
    * them; only the write-once `root/grams` lives outside. */
  def vacuum(root: String, keep: Int = 1): Seq[Long] =
    VersionedRoot.vacuum(root, AllComponents, keep)

  /** Fold the current version self-contained: replace-by-key layouts
    * rewrite flat, the append-only layouts drop their stale
    * generations, and the version chain's cross-version file
    * references collapse. The score bands are RE-DERIVED EXACTLY from
    * census × vocabulary (compaction is O(index) by design — the one
    * place the full rescore is the right price): every doc's stored
    * score becomes its true score, stamps reset to 0, and the
    * cumulative drift-bound ledger B folds back to a single 0 entry —
    * without this the per-batch floor (ceil(u)+3 ppm) accretes
    * LINEARLY in batch count and the band probe window widens forever
    * (r19 ADVICE). The candidate-band invariant is preserved: after an
    * exact full rescore, |true − stored| = 0 for every doc, so
    * B = [0] certifies it. Answers never change — ledger, thin,
    * census, vocabulary, edges and the near-dup index (same frozen
    * head) carry verbatim; only the lazy-rescoring
    * bookkeeping tightens. */
  def compact(spark: SparkSession, root: String): Long = {
    val p = storedParams(root)
    val cur = requireCurrent(root)
    val m = readMeta(cur)
    val v = nextVersion(root)
    val d = versionDir(root, v)
    val idCol = p.idCol
    val mrpf = p.maxRecordsPerFile
    val thin = PrunedIndex.read(spark, thinDir(cur))
    val census = PrunedIndex.read(spark, censusDir(cur)).ckpt()
    val vocab = PrunedIndex.read(spark, vocabDir(cur)).ckpt()
    // exact rescore — bit-identical arithmetic to absorbBatch's
    // candScores (same lpPpm, same DIV folds) under the carried nTotal
    val exactBands = census
      .join(vocab, Seq("tok"))
      .select(col("id"), col("n"), (col("n") * lpPpm(col("c"), m.nTotal)).as("nlp"))
      .groupBy(col("id"))
      .agg(sum(col("n")).as("nt"), sum(col("nlp")).as("slp"))
      .select(col("id"), expr("slp DIV nt").as("score_ppm"))
      .select(bandOf(col("score_ppm"), p.scoreBandPpm).as("band"),
        col("id"), col("score_ppm"), lit(0).as("stamp"))
    // independent component folds, overlapped (guide §2.6; same
    // distinct-subdir contract as build/absorbBatch)
    graft.util.Par.runUnit(Seq(
      () => PrunedIndex.write(thin, thinDir(d), Seq(idCol), p.idBuckets, mrpf),
      () => PrunedIndex.write(census, censusDir(d), Seq("id"), p.idBuckets, mrpf),
      () => PrunedIndex.write(census.select(col("tok"), col("id"), col("n")),
        censusTokDir(d), Seq("tok"), p.tokBuckets, mrpf),
      () => PrunedIndex.write(vocab, vocabDir(d), Seq("tok"), p.tokBuckets, mrpf),
      () => PrunedIndex.write(PrunedIndex.read(spark, edgesDir(cur)),
        edgesDir(d), Seq("src"), p.idBuckets, mrpf),
      () => PrunedIndex.write(exactBands, bandsDir(d), Seq("band"), p.tokBuckets, mrpf),
      () => PrunedIndex.write(
        thin.select(col(p.sourceCol).as("msource"),
          hbandOf(col(idCol), p.hashBands).as("hband"), col(idCol).as("id")),
        mixDir(d), Seq("msource", "hband"), p.idBuckets, mrpf),
      () => PrunedIndex.write(PrunedIndex.read(spark, ledgerDir(cur)),
        ledgerDir(d), Seq(idCol), p.idBuckets, mrpf),
      () => Dedup.compactIndexInto(spark, neardupDir(cur), neardupDir(d))))
    VersionedRoot.writeParams(d, p)
    // the bound ledger folds to its base: every doc just rescored
    // exactly (stamp 0), so the certified drift since stamp 0 is 0
    Fs.writeStringAtomic(metaPath(d),
      renderMeta(Meta(0, m.nTotal, Seq(0L), m.counts)))
    commit(root, v)
  }
}
