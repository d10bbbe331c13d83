package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fs.Fs
import graft.sources.PrunedIndex
import graft.store.VersionedRoot

/** Versioned wrapper around the persisted near-dup index
  * ([[Dedup.writeNearDupIndex]] family) — the [[AnnIndexStore]] idiom
  * applied to the dedup layout: prefix index + sets index + frozen df
  * head land together under ONE version dir (`v<N>/`), committed by a
  * `_SUCCESS` marker and published with a single NIO-atomic `_CURRENT`
  * pointer swap. Readers of a store NEVER see a half-landed batch —
  * the pointer flips only after every layout, the head and the meta
  * are durable — and a version is never edited once committed.
  *
  * Write I/O stays delta-bounded: [[appendDelta]] lands only the
  * touched buckets' files under the new version and stitches the
  * previous version's untouched files by absolute path
  * ([[graft.sources.PrunedIndex.writeDelta]]) — so
  * retention is [[compact]] (fold the current version self-contained)
  * plus [[vacuum]] (reference-aware drop of old version dirs, sparing
  * any dir a retained manifest still points into).
  *
  * Mirrors the reference's versioned-snapshot storage discipline
  * (SURVEY.md §2.8's curated store) for the dedup index; the layout,
  * commit and retention are [[VersionedRoot]]'s. */
object NearDupIndexStore {

  import VersionedRoot.{commit, nextVersion, requireCurrent, versionDir}

  /** Committed versions, ascending (`_SUCCESS`-gated — an in-flight
    * build is invisible). */
  def versions(root: String): Seq[Long] = VersionedRoot.versions(root)

  def currentVersion(root: String): Option[Long] = VersionedRoot.currentVersion(root)

  def currentPath(root: String): Option[String] = VersionedRoot.currentPath(root)

  /** The winnowing family's components live under a `win/` subdir of
    * each version (their `postings`/`dfcensus` names clash with the
    * containment components' at the version root). */
  private def winDir(vDir: String): String = Fs.child(vDir, "win")

  /** The fuzzy-key family's components under `fuzzy/` — same
    * namespacing discipline. */
  private def fuzzyDir(vDir: String): String = Fs.child(vDir, "fuzzy")

  /** Build the store's first (or next, self-contained) version from a
    * corpus. Returns the committed version number.
    *
    * `withContainment` extends the version into the UNIFIED dedup
    * index (full postings + exact df census —
    * [[Dedup.writeContainmentIndex]]) so [[containmentPairsForDelta]]
    * probes work; `winnowing = Some((k, w))` additionally lands the
    * winnowing fingerprint index under `win/` for
    * [[winnowingPairsForDelta]]; `minhash = Some((numHashes, bands))`
    * lands the banded MinHash component (derived from the version's
    * sets — no second text pass) for [[minhashPairsForDelta]]. All
    * components of a version commit under the SAME `_SUCCESS` +
    * `_CURRENT` swap — one store, one commit, one retention story for
    * every dedup family.
    *
    * `jaccard = false` skips the near-dup (prefix/sets/dfhead) family
    * entirely — for winnowing- or fuzzy-only stores (e.g. a
    * [[graft.streaming.WinnowingStream]] that never probes Jaccard),
    * whose appends would otherwise pay the unused family's per-batch
    * shingle + write cost forever. Containment and minhash DERIVE from
    * the sets component, so they require `jaccard = true`. */
  def build(spark: SparkSession, docs: DataFrame,
            idCol: String, textCol: String, root: String,
            n: Int = 3, threshold: Double = 0.8,
            dfHeadSize: Int = 100000, numBuckets: Int = 64,
            withContainment: Boolean = false,
            winnowing: Option[(Int, Int)] = None,
            minhash: Option[(Int, Int)] = None,
            fuzzyKey: Option[(Int, Int)] = None,
            jaccard: Boolean = true): Long = {
    require(jaccard || (!withContainment && minhash.isEmpty),
      "containment and minhash families derive from the sets component — build them with jaccard = true")
    require(jaccard || winnowing.nonEmpty || fuzzyKey.nonEmpty,
      "a store needs at least one family")
    val v = nextVersion(root)
    val dir = versionDir(root, v)
    // family builds are independent (distinct component subdirs of one
    // version) EXCEPT minhash, which derives from this version's sets —
    // it stays sequenced after the jaccard/containment write inside its
    // task; overlapping the rest cuts the commit wall to ~max of the
    // family walls (guide §2.6). The single _SUCCESS + _CURRENT swap
    // stays last, so the one-commit-for-all-families contract holds.
    val tasks = Seq.newBuilder[() => Unit]
    if (withContainment || jaccard) tasks += { () =>
      if (withContainment)
        Dedup.writeContainmentIndex(spark, docs, idCol, textCol, dir,
          n, threshold, dfHeadSize, numBuckets)
      else
        Dedup.writeNearDupIndex(spark, docs, idCol, textCol, dir,
          n, threshold, dfHeadSize, numBuckets)
      minhash.foreach { case (numHashes, bands) =>
        Dedup.writeMinHashIndex(spark, dir, numHashes, bands, numBuckets)
      }
    }
    winnowing.foreach { case (k, w) =>
      tasks += (() =>
        Dedup.writeWinnowingIndex(spark, docs, idCol, textCol, winDir(dir),
          k, w, numBuckets))
    }
    fuzzyKey.foreach { case (keyLen, maxDist) =>
      tasks += (() =>
        Dedup.writeFuzzyKeyIndex(spark, docs, idCol, textCol, fuzzyDir(dir),
          keyLen, maxDist, numBuckets))
    }
    graft.util.Par.runUnit(tasks.result())
    commit(root, v)
  }

  /** Near-dup pairs of `delta` against the CURRENT version ∪ `delta` —
    * [[Dedup.jaccardDeltaPairsIndexed]] over the committed view;
    * order-independent with [[appendDelta]] (probe before or after
    * absorbing the same batch gives the same answer). Release the
    * delta's shingle cache with [[releaseProbeCache]]. */
  def pairsForDelta(spark: SparkSession, root: String, delta: DataFrame,
                    idCol: String, textCol: String): DataFrame =
    Dedup.jaccardDeltaPairsIndexed(spark, requireCurrent(root), delta, idCol, textCol)

  /** Containment pairs of `delta` against the CURRENT version ∪
    * `delta` — [[Dedup.containmentDeltaPairsIndexed]] over the
    * committed view (requires a `withContainment = true` build). */
  def containmentPairsForDelta(spark: SparkSession, root: String,
                               delta: DataFrame, idCol: String,
                               textCol: String,
                               maxDf: Int = Int.MaxValue,
                               dfHeadSize: Int = 100000): DataFrame =
    Dedup.containmentDeltaPairsIndexed(spark, requireCurrent(root), delta,
      idCol, textCol, maxDf, dfHeadSize)

  /** Winnowing near-copy pairs of `delta` against the CURRENT version
    * ∪ `delta` — [[Dedup.winnowingDeltaPairsIndexed]] over the
    * committed view (requires a `winnowing = Some(...)` build). */
  def winnowingPairsForDelta(spark: SparkSession, root: String,
                             delta: DataFrame, idCol: String,
                             textCol: String, minShared: Int = 3,
                             maxDf: Int = Int.MaxValue): DataFrame =
    Dedup.winnowingDeltaPairsIndexed(spark, winDir(requireCurrent(root)), delta,
      idCol, textCol, minShared, maxDf)

  /** MinHash-LSH near-dup pairs of `delta` against the CURRENT version
    * ∪ `delta` — [[Dedup.minHashDeltaPairsIndexed]] over the committed
    * view (requires a `minhash = Some(...)` build). */
  def minhashPairsForDelta(spark: SparkSession, root: String,
                           delta: DataFrame, idCol: String,
                           textCol: String,
                           threshold: Double = 0.8): DataFrame =
    Dedup.minHashDeltaPairsIndexed(spark, requireCurrent(root), delta,
      idCol, textCol, threshold)

  /** Fuzzy-key Hamming pairs of `delta` against the CURRENT version ∪
    * `delta` — [[Dedup.fuzzyKeyDeltaPairsIndexed]] over the committed
    * view (requires a `fuzzyKey = Some(...)` build). */
  def fuzzyPairsForDelta(spark: SparkSession, root: String,
                         delta: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    Dedup.fuzzyKeyDeltaPairsIndexed(spark, fuzzyDir(requireCurrent(root)), delta,
      idCol, textCol)

  /** Absorb a batch as a NEW committed version (REPLACE semantics for
    * re-uploaded ids; delta-bounded write I/O — untouched buckets
    * stitch the previous version's files). Every family present in the
    * current version is advanced — near-dup always, containment and
    * winnowing when their components exist — and the new version
    * commits atomically for all of them at once, so no reader can see
    * one family ahead of another. The previous version stays intact
    * and readable until [[vacuum]]. */
  def appendDelta(spark: SparkSession, root: String, delta: DataFrame,
                  idCol: String, textCol: String): Long = {
    val cur = requireCurrent(root)
    val v = nextVersion(root)
    val dir = versionDir(root, v)
    val hasJaccard = Fs.exists(Fs.child(cur, "prefix"))
    val hasContainment = Fs.exists(Fs.child(cur, "postings"))
    val hasBands = Fs.exists(Fs.child(cur, "bands"))
    // ONE shingling pass + ONE replaced-old read per batch, threaded
    // into every shingle-family appender (r17 advice: a
    // minhash+containment store re-shingled the delta up to 3× here)
    val pre = if (hasJaccard || hasContainment || hasBands)
      Some(Dedup.deltaProbeOf(spark, cur, delta, idCol, textCol))
    else None
    // the minhash append reads the OLD revisions from `cur`'s sets —
    // safe in any order here because every cross-root read anchors to
    // `cur`, never the half-written `dir`. That same anchoring makes
    // the four family appends fully independent (distinct component
    // subdirs, shared `pre` is a checkpointed probe) — overlap them
    // (guide §2.6); the single commit stays last.
    val tasks = Seq.newBuilder[() => Unit]
    if (hasBands)
      tasks += (() => Dedup.appendMinHashIndexDeltaInto(spark, cur, dir, delta,
        idCol, textCol, pre))
    if (hasContainment)
      tasks += (() => Dedup.appendContainmentIndexDeltaInto(spark, cur, dir, delta,
        idCol, textCol, pre))
    else if (hasJaccard)
      tasks += (() => Dedup.appendNearDupIndexDeltaInto(spark, cur, dir, delta,
        idCol, textCol, pre))
    if (Fs.exists(winDir(cur)))
      tasks += (() => Dedup.appendWinnowingIndexDeltaInto(spark, winDir(cur),
        winDir(dir), delta, idCol, textCol))
    if (Fs.exists(fuzzyDir(cur)))
      tasks += (() => Dedup.appendFuzzyKeyIndexDeltaInto(spark, fuzzyDir(cur),
        fuzzyDir(dir), delta, idCol, textCol))
    graft.util.Par.runUnit(tasks.result())
    commit(root, v)
  }

  /** Re-land the CURRENT version self-contained (every bucket's files
    * local to the new version dir — no stitched references), under the
    * SAME frozen head: probes are unchanged, only the layout folds
    * flat. The step that lets [[vacuum]] drop every older version.
    *
    * `refreeze = true` additionally re-derives the frozen df head and
    * the prefix layout from the folded sets
    * ([[Dedup.compactIndexInto]]) — the periodic maintenance for a
    * store whose df distribution has drifted across many appends. The
    * frozen order is a candidate-count heuristic, never a correctness
    * input (the prefix pigeonhole holds for ANY total order used
    * consistently by both sides), so refreezing changes probe COST,
    * not probe answers (pinned in NearDupIndexStoreSpec). Fold it into
    * the same compaction cadence that bounds the reference-chain
    * depth — both are O(index) passes, and sharing the pass means one
    * retention story. */
  def compact(spark: SparkSession, root: String,
              refreeze: Boolean = false): Long = {
    val cur = requireCurrent(root)
    val v = nextVersion(root)
    Dedup.compactIndexInto(spark, cur, versionDir(root, v), refreeze)
    commit(root, v)
  }

  /** Reference-chain depth of the CURRENT version:
    * [[VersionedRoot.chainDepth]] over every family's components. A
    * freshly built or compacted version reports 1. */
  def chainDepth(root: String): Int = VersionedRoot.chainDepth(root, Dedup.IndexComponents)

  /** How far the frozen df head has drifted: current doc count ÷ the
    * count the head was frozen over (recorded in the near-dup meta at
    * build/refreeze). None for stores without the Jaccard family or
    * with a legacy meta. The count reads parquet FOOTERS only (Spark's
    * metadata-only count), so the check is not an index scan. */
  def headStaleness(spark: SparkSession, root: String): Option[Double] = {
    val cur = requireCurrent(root)
    if (!Fs.exists(Dedup.nearDupMetaPath(cur)) ||
        !Fs.exists(Fs.child(cur, "sets"))) None
    else Dedup.readFrozenDocs(cur).filter(_ > 0L).map { frozen =>
      PrunedIndex.read(spark, Fs.child(cur, "sets")).count().toDouble / frozen
    }
  }

  /** Self-triggering maintenance — the
    * [[AnnIndexStore.reclusterIfDrifted]] analog for the dedup store:
    * compact when the stitched reference chain exceeds `maxChainDepth`
    * versions, and fold a head refreeze into the same pass when the
    * corpus has grown `headStaleRatio`× past the frozen head's census
    * (NOTES_r18.md: 23 % probe-wall payoff at 2× staleness, zero
    * answer change — the head is a candidate-cost heuristic, never a
    * correctness input). Hysteresis is structural: a compaction resets
    * the chain depth to 1, and a refreeze resets the staleness
    * denominator to the current doc count, so the next call below the
    * thresholds is a no-op. Returns the new committed version when
    * maintenance ran, None when nothing crossed a threshold.
    * Single-writer contract like [[compact]]/[[vacuum]]. */
  def maybeMaintain(spark: SparkSession, root: String,
                    maxChainDepth: Int = 8,
                    headStaleRatio: Double = 1.5): Option[Long] = {
    val stale = headStaleness(spark, root).exists(_ >= headStaleRatio)
    if (stale || chainDepth(root) > maxChainDepth)
      Some(compact(spark, root, refreeze = stale))
    else None
  }

  /** Retention — [[VersionedRoot.vacuum]] over every family's
    * components (containment and winnowing stitch across versions
    * exactly like prefix/sets do): drops versions beyond the newest
    * `keep` that no retained manifest references, and sweeps stale
    * orphans of crashed builds/appends. Returns the dropped versions. */
  def vacuum(root: String, keep: Int = 1): Seq[Long] =
    VersionedRoot.vacuum(root, Dedup.IndexComponents, keep)

  /** Release the delta shingle cache a [[pairsForDelta]] call pinned. */
  def releaseProbeCache(root: String, delta: DataFrame,
                        idCol: String, textCol: String): Unit =
    Dedup.releaseIndexedProbeCache(requireCurrent(root), delta, idCol, textCol)
}
