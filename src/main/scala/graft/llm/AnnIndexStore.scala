package graft.llm

import graft.util.Ckpt.RichCkpt

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fs.Fs
import graft.store.{RecordedSchema, VersionedRoot}

/** Versioned ANN index store — the durable, atomically-swappable home
  * of the embedding family's FULL index state, closing the drift loop
  * t115 only measured: centroids (the driver-side control plane), the
  * cell-bucketed assignment layout (t130), and the persisted NSW
  * adjacency (t131), all swapped together so a reader never sees a
  * centroid set paired with another version's buckets.
  *
  * Layout (a [[graft.store.VersionedRoot]] — versioned dirs,
  * committed-only listing, atomic `_CURRENT` pointer; single-writer
  * discipline per store root, as the reference's FIFO groups enforce
  * per table, cf. /root/reference/second_lambda_function.py:44-88):
  *
  * {{{
  *   root/v<N>/centroids/   (cell, centroid)      — kMeansIndex parquet
  *   root/v<N>/assigned/    (id, vec, cell)       — PrunedIndex, key=cell
  *   root/v<N>/graph/       (cell, src, dst, pos) — PrunedIndex, key=cell
  *   root/v<N>/_SUCCESS                           — commit marker
  *   root/_CURRENT                                — "v<N>", atomic swap
  * }}}
  *
  * Maintenance ladder (compute AND write I/O delta-bounded except
  * where noted):
  *  - [[appendDelta]] — frozen centroids; assignment grows by group
  *    merge (no corpus re-scan, no re-assignment of old rows), the
  *    graph by [[GraphAnn.recomputedGraphEdgesForDelta]] (only touched
  *    cells recompute; append-only cells CONTINUE the stored build).
  *    Only the TOUCHED buckets land new files
  *    ([[graft.sources.PrunedIndex.writeDelta]]); untouched buckets'
  *    existing files are stitched into the new version's manifests by
  *    absolute path — per-batch write I/O is O(delta buckets), not
  *    O(index). The stitch makes newer versions REFERENCE older
  *    version dirs' files: retention is [[vacuum]] (reference-aware)
  *    after [[compact]] (folds the current version self-contained),
  *    never a bare directory delete.
  *  - [[reclusterIfDrifted]] — the decision [[Similarity.ivfCellStats]]
  *    was built to feed: when the delta's global mean squared distance
  *    under the CURRENT centroids degrades past `thresholdPpm` vs the
  *    stored corpus baseline, retrain on stored ∪ delta and rebuild
  *    everything as a new version; below threshold NOTHING is written
  *    (the no-drift path provably leaves the store untouched — pinned
  *    in AnnIndexStoreSpec by file-listing equality).
  *
  * Every step is deterministic (decimal centroids, integer ppm floors,
  * total-order ties), so a reclustered store equals a fresh
  * [[build]] on the merged corpus bit-for-bit — t132's oracle contract.
  */
object AnnIndexStore {

  /** nCells from a target cell size: ⌈n / cellTarget⌉, floored at 1 —
    * the auto-sizing rule that keeps PER-TASK memory (one cell's
    * vectors + adjacency) bounded as the corpus grows, instead of
    * letting a fixed nCells dilate cells linearly with n. At 100 TB
    * this, not the shuffle, is the operator's scale limit. */
  def autoCells(n: Long, cellTarget: Long): Int = {
    require(cellTarget >= 1, s"cellTarget must be >= 1, got $cellTarget")
    math.max(1L, (n + cellTarget - 1) / cellTarget).min(Int.MaxValue.toLong).toInt
  }

  /** Index hyper-parameters, recorded once at [[build]] and reused by
    * every maintenance step (a delta merged under different (m, ef)
    * would silently break the delta==rebuild contract).
    * `nCells` <= 0 ⇒ auto-size from `cellTarget` at (re)build time.
    * `multiAssign` > 1 soft-assigns every vector to its that-many
    * nearest cells ([[Similarity.ivfAssignedIndexMulti]]) — storage
    * ×multiAssign, boundary-vector recall recovered; searches dedup by
    * (query, neighbor) so output semantics are unchanged. The DEFAULT
    * is 2 (r17 verdict item #5): ABLATION_r17 measured recall@10 0.93
    * vs 0.775 at equal probe cost on the ×10 corpus — the storage ×2 is
    * the price, reported by [[build]]'s log line. Pass 1 explicitly for
    * storage-bound deployments (or when pinning single-assign parity).
    * `subCells` > 0 switches the store to TWO-LEVEL routing
    * ([[HierarchicalRouting]]): `nCells` coarse cells drive the
    * driver-resident level, each split into `subCells` locally-trained
    * sub-cells (fine cells = nCells·subCells; sub-centroids live in a
    * coarse-keyed pruned layout, never driver-side); `subTrainCap`
    * bounds each coarse cell's sub-training sample. */
  /** `pqM` > 0 additionally lands a PRODUCT-QUANTIZED codes component
    * (`pqM` subquantizers × `pqKsub` codes, [[Similarity.pqCodebooks]]
    * trained at build and FROZEN like the centroids): searches can then
    * shortlist by ADC over the probed cells' codes — the scoring pass
    * reads/computes over `pqM` small ints per row instead of `dim`
    * floats — and pay exact math only on the shortlist ([[searchPq]]);
    * the IVF-PQ composition for cells too large to score exactly.
    * PQ builds also land a `vecsbyid` component — the raw (id, vec)
    * rows in an ID-keyed pruned layout (`idBuckets` buckets) — so the
    * re-rank's vector fetch is a point lookup of the shortlist's id
    * buckets, not a cell-granular read (the SPANN-style refinement
    * layout; see [[searchPq]]). Size `idBuckets` like any
    * [[graft.sources.PrunedIndex]]: ≳ the component's file count at the
    * target SF, ≤ the shortlist cardinality above which pruning stops
    * helping. Storage price: one extra raw-vector copy (×1/multiAssign
    * of the assignment component's vector bytes). */
  /** `maxFlatCells` is the AUTOMATIC scale shape's switch point: when a
    * build resolves MORE cells than this and the caller did not choose
    * a shape (`subCells == 0`), [[build]] lands the store TWO-LEVEL
    * ([[effectiveShape]]: k₁ ≈ √nCells coarse × k₂ ≈ nCells/k₁ sub) —
    * the flat router's driver-resident centroid matrix and its
    * O(delta·nCells·dim) append/drift terms grow ∝ corpus, while the
    * two-level twin's driver state and per-batch assignment cost are
    * ∝ √corpus (measured flat at ×50 — ANNSTORE probe: hier append
    * 1.09×, drift 0.70× vs flat 2.79×/3.19×). The caller should not
    * need to know the knob for the store to survive 100×. Pass 0 to
    * pin the flat shape deliberately (probe benches measuring it). */
  final case class Params(nCells: Int = 16, cellTarget: Long = 10000L,
                          iters: Int = 2, numBuckets: Int = 16,
                          m: Int = 8, efConstruction: Int = 48,
                          maxRecordsPerFile: Long = 0L,
                          multiAssign: Int = 2,
                          subCells: Int = 0,
                          subTrainCap: Int = 100000,
                          pqM: Int = 0,
                          pqKsub: Int = 16,
                          idBuckets: Int = 64,
                          maxFlatCells: Int = 4096)

  /** Recluster decision: what [[reclusterIfDrifted]] saw and did. */
  final case class Decision(driftPpm: Long, reclustered: Boolean, version: Long)

  import VersionedRoot.{commit, nextVersion, requireCurrent, versionDir}

  private def driftBasePath(versionDir: String): String =
    Fs.child(versionDir, "_DRIFTBASE")

  /** Per-cell (n, Σ d2_ppm) of the stored assignment under the version's
    * centroids — the drift BASELINE persisted at build/recluster and
    * maintained INCREMENTALLY by [[appendDelta]] (sums are additive:
    * new = old + delta's rows − replaced ids' old rows), so
    * [[driftPpm]] reads k rows of metadata instead of re-scoring the
    * full corpus against every centroid per drift check. Keyed by the
    * argmin cell under the version's DRIVER-VISIBLE centroid matrix
    * (coarse cells for hierarchical stores — the same matrix driftPpm
    * measures against), so the sidecar is at most centroid-matrix-sized
    * driver state. Values reproduce the legacy full recompute
    * bit-for-bit: per-row d2_ppm is a pure function of (vec, centroids)
    * and the fold applies the same per-cell `sum DIV n` then global
    * `Σ(mean·n) DIV Σn` integer arithmetic. */
  private def renderDriftBase(stats: Seq[(Int, Long, Long)]): String =
    stats.sortBy(_._1).map { case (c, n, s) => s"$c\t$n\t$s" }.mkString("\n")

  private def readDriftBase(versionDir: String): Option[Map[Int, (Long, Long)]] = {
    val p = driftBasePath(versionDir)
    if (!Fs.exists(p)) None
    else Some(Fs.readString(p).split("\n").iterator
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(c, n, s) = l.split("\t"); c.toInt -> (n.toLong, s.toLong) }
      .toMap)
  }

  /** The legacy global-mean fold over per-cell (n, sum) stats —
    * floor(Σ(floor(s/n)·n) / Σn), exactly [[driftPpm]]'s historical
    * arithmetic over [[Similarity.ivfCellStats]] rows. */
  private def foldGlobalMean(stats: Iterable[(Long, Long)]): Long = {
    var num = 0L; var den = 0L
    stats.foreach { case (n, s) => if (n > 0) { num += (s / n) * n; den += n } }
    if (den == 0) 0L else num / den
  }

  private def collectCellStatsRaw(df: DataFrame, idCol: String, vecCol: String,
                                  cents: Array[(Int, Array[Double])]): Seq[(Int, Long, Long)] =
    Similarity.ivfCellStatsRaw(df, idCol, vecCol, cents)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq

  /** old + added − removed, per cell; cells folding to n == 0 drop
    * (matching a fresh recompute, which emits no row for them). */
  private def mergeDriftBase(old: Map[Int, (Long, Long)],
                             added: Seq[(Int, Long, Long)],
                             removed: Seq[(Int, Long, Long)]): Seq[(Int, Long, Long)] = {
    val m = scala.collection.mutable.Map.empty[Int, (Long, Long)] ++= old
    added.foreach { case (c, n, s) =>
      val (n0, s0) = m.getOrElse(c, (0L, 0L)); m(c) = (n0 + n, s0 + s) }
    removed.foreach { case (c, n, s) =>
      val (n0, s0) = m.getOrElse(c, (0L, 0L)); m(c) = (n0 - n, s0 - s) }
    m.iterator.collect { case (c, (n, s)) if n > 0 => (c, n, s) }.toSeq.sortBy(_._1)
  }

  /** The CURRENT version's build/maintenance parameters, from the
    * `_PARAMS` sidecar every [[build]]/[[appendDelta]]/[[compact]]
    * lands — the store REMEMBERS how it was built, so maintenance
    * cannot silently drift its assignment or graph semantics by being
    * called with a different `Params` than the build's (the
    * dfHeadSize-refreeze lesson from the dedup store, applied here).
    * None for stores created before the sidecar existed. */
  def params(root: String): Option[Params] =
    VersionedRoot.currentParams(root).map { kv =>
      Params(kv("nCells").toInt, kv("cellTarget").toLong, kv("iters").toInt,
        kv("numBuckets").toInt, kv("m").toInt, kv("efConstruction").toInt,
        kv("maxRecordsPerFile").toLong, kv("multiAssign").toInt,
        kv("subCells").toInt, kv("subTrainCap").toInt, kv("pqM").toInt,
        kv("pqKsub").toInt, kv("idBuckets").toInt,
        // sidecars from before the auto-switch existed: the field's
        // default (a rebuild at scale then picks the two-level shape)
        kv.getOrElse("maxFlatCells", "4096").toInt)
    }

  private def storedParams(root: String, op: String): Params =
    params(root).getOrElse {
      // distinguish "no store at all" from "legacy store without the
      // sidecar" — the former is the caller's real problem and the
      // sidecar message would send them chasing the wrong cause
      requireCurrent(root)
      throw new IllegalStateException(
        s"$op: store $root has no _PARAMS sidecar (built before params " +
          "persistence) — pass Params explicitly")
    }

  /** Committed versions, ascending (a version counts only once its
    * `_SUCCESS` marker exists — an in-flight build is invisible). */
  def versions(root: String): Seq[Long] = VersionedRoot.versions(root)

  def currentVersion(root: String): Option[Long] = VersionedRoot.currentVersion(root)

  def currentPath(root: String): Option[String] = VersionedRoot.currentPath(root)

  /** The current centroid matrix — k rows of dim doubles, driver-side
    * control state (same class as a BPE merge table). */
  def centroids(spark: SparkSession, root: String): Array[(Int, Array[Double])] =
    Similarity.centroidsOf(RecordedSchema.read(spark, Fs.child(requireCurrent(root), "centroids")))

  /** The current assignment frame (id, vec, cell) — the corpus as the
    * index stores it; full (unpruned) view. */
  def assigned(spark: SparkSession, root: String): DataFrame =
    graft.sources.PrunedIndex.read(spark, Fs.child(requireCurrent(root), "assigned"))

  private def writeVersion(spark: SparkSession, root: String, v: Long,
                           cents: Array[(Int, Array[Double])],
                           assignedDf: DataFrame, edges: DataFrame,
                           idCol: String, vecCol: String, p: Params,
                           subCents: Option[DataFrame] = None,
                           pq: Option[(DataFrame, DataFrame)] = None,
                           vecsById: Option[DataFrame] = None,
                           driftBase: Option[Seq[(Int, Long, Long)]] = None): Long = {
    import spark.implicits._
    val dir = versionDir(root, v)
    // the version's components are independent frames landing under
    // distinct subdirs — commit markers stay strictly last, so the
    // atomic-swap contract is untouched; overlapping the writes turns
    // the commit wall from Σ(component walls) into ~max (guide §2.6;
    // the r20 job profile measured 7 sequential write jobs per build)
    val writes = Seq.newBuilder[() => Unit]
    writes += (() =>
      RecordedSchema.writeParquet(cents.toSeq.map { case (c, a) => (c, a.toSeq) }
        .toDF("cell", "centroid").coalesce(1), Fs.child(dir, "centroids")))
    subCents.foreach(sc => writes += (() =>
      HierarchicalRouting.writeSubCentroids(sc,
        Fs.child(dir, "subcents"), p.numBuckets)))
    pq.foreach { case (books, codeRows) =>
      writes += (() => RecordedSchema.writeParquet(books.coalesce(1), pqBooksPath(dir)))
      writes += (() => graft.sources.PrunedIndex.write(
        codeRows.select(col(idCol), col("codes"), col("cell")),
        Fs.child(dir, "codes"), Seq("cell"), p.numBuckets, p.maxRecordsPerFile))
    }
    vecsById.foreach(v2 => writes += (() => graft.sources.PrunedIndex.write(
      v2.select(col(idCol), col(vecCol)),
      vecsByIdPath(dir), Seq(idCol), p.idBuckets, p.maxRecordsPerFile)))
    // the id-keyed cell map rides every version (appendDelta's
    // touched-cell point lookup — see idCellsPath)
    writes += (() => graft.sources.PrunedIndex.write(
      assignedDf.select(col(idCol), col("cell")),
      idCellsPath(dir), Seq(idCol), p.idBuckets, p.maxRecordsPerFile))
    // the rank column (1 = argmin/primary, 2.. = routing redundancy)
    // persists when the assignment carries it — primary-cell consumers
    // filter it instead of re-deriving the argmin per probe
    val assignedCols = Seq(col(idCol), col(vecCol), col("cell")) ++
      (if (assignedDf.columns.contains("rank")) Seq(col("rank")) else Nil)
    writes += (() => graft.sources.PrunedIndex.write(
      assignedDf.select(assignedCols: _*),
      Fs.child(dir, "assigned"), Seq("cell"), p.numBuckets, p.maxRecordsPerFile))
    writes += (() => graft.sources.PrunedIndex.write(
      edges.select(col("cell"), col("src"), col("dst"), col("pos")),
      Fs.child(dir, "graph"), Seq("cell"), p.numBuckets, p.maxRecordsPerFile))
    graft.util.Par.runUnit(writes.result())
    VersionedRoot.writeParams(dir, p)
    driftBase.foreach(db =>
      Fs.writeStringAtomic(driftBasePath(dir), renderDriftBase(db)))
    commit(root, v)
  }

  private def pqBooksPath(versionDir: String): String =
    Fs.child(versionDir, "pqbooks")
  private def codesPath(versionDir: String): String =
    Fs.child(versionDir, "codes")
  private def vecsByIdPath(versionDir: String): String =
    Fs.child(versionDir, "vecsbyid")

  /** The id-keyed CELL MAP — one thin (id, cell) row per assignment row
    * (all multiAssign copies), in id buckets. What [[appendDelta]] needs
    * to find a re-uploaded id's old cells WITHOUT scanning the
    * cell-keyed assignment: the touched-cell set becomes a point lookup
    * of the delta's id buckets, and from there every read in the append
    * is bucket-pruned — per-batch READ I/O O(touched buckets), matching
    * the write side's long-standing bound. Maintained by the same
    * replace-by-key writeDelta as `vecsbyid`; regenerated whole by
    * [[compact]] (which is O(index) by design). */
  private def idCellsPath(versionDir: String): String =
    Fs.child(versionDir, "idcells")

  private def resolveCells(corpus: DataFrame, p: Params): Int =
    if (p.nCells > 0) p.nCells else autoCells(corpus.count(), p.cellTarget)

  /** The automatic shape rule ([[Params.maxFlatCells]]): given a build's
    * resolved cell count, returns (coarseCells, subCells) — subCells 0
    * = flat. Past the threshold, k₁ = ⌈√nCells⌉ coarse cells (bounding
    * driver-resident centroid state AND per-batch coarse-assignment
    * cost at ∝ √corpus) each split ⌈nCells/k₁⌉ ways, so fine-cell
    * count — hence per-task cell size — still tracks [[autoCells]]'
    * target. Pure and public: the spec pins auto == explicit through
    * it. */
  def effectiveShape(resolvedCells: Int, maxFlatCells: Int): (Int, Int) =
    if (maxFlatCells > 0 && resolvedCells > maxFlatCells) {
      val k1 = math.ceil(math.sqrt(resolvedCells.toDouble)).toInt
      (k1, (resolvedCells + k1 - 1) / k1)
    } else (resolvedCells, 0)

  private def subCentsPath(versionDir: String): String =
    Fs.child(versionDir, "subcents")

  /** Whether the CURRENT version routes through two levels. */
  def isHierarchical(root: String): Boolean =
    currentPath(root).exists(cur => Fs.exists(subCentsPath(cur)))

  /** The corpus with its coarse cell resolved (the shared k₁-way argmin
    * rule), as [[HierarchicalRouting]] expects it. */
  private def coarseAssigned(df: DataFrame, idCol: String, vecCol: String,
                             cents: Array[(Int, Array[Double])]): DataFrame =
    Similarity.assignCells(df.select(col(idCol), col(vecCol),
        transform(col(vecCol), x => x.cast("double")).as("v")), cents)
      .withColumnRenamed("cell", "coarse")

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Train + assign + graph + persist as the store's first (or next)
    * version. Returns the committed version number. With
    * `p.subCells > 0` the version lands hierarchical: coarse centroids
    * in the driver-visible component, sub-centroids in a coarse-keyed
    * pruned layout, assignment/graph keyed by GLOBAL fine cell. */
  def build(spark: SparkSession, corpus: DataFrame,
            idCol: String, vecCol: String, root: String, p: Params): Long = {
    // the shape decision: an explicit subCells wins; otherwise the
    // automatic rule picks two-level once the resolved cell count
    // crosses maxFlatCells — the caller never has to know the knob for
    // the store to keep its driver state and per-batch append/drift
    // cost sub-linear in the corpus. A recluster re-applies the rule
    // against the GROWN corpus (params persist the caller's intent,
    // not the derived shape), so an auto-sized store upgrades itself
    // the first rebuild past the threshold.
    val resolved = resolveCells(corpus, p)
    val (kCoarse, kSub) =
      if (p.subCells > 0) (resolved, p.subCells)
      else effectiveShape(resolved, p.maxFlatCells)
    if (p.subCells == 0 && kSub > 0)
      log.info(s"AnnIndexStore.build $root: auto two-level shape — " +
        s"$resolved resolved cells > maxFlatCells=${p.maxFlatCells}; " +
        s"landing $kCoarse coarse x $kSub sub")
    val cents = Similarity.kMeansCentroids(corpus, idCol, vecCol, kCoarse, p.iters)
    val (assignedDf, subCents) =
      if (kSub > 0) {
        import spark.implicits._
        val cc = coarseAssigned(corpus, idCol, vecCol, cents)
        val trained = HierarchicalRouting.trainSubCentroids(cc, idCol,
          kSub, p.iters, p.subTrainCap).ckpt()
        // a coarse cell EMPTY at build (a stranded k-means seed) trains
        // no sub-centroids, yet a later delta's argmin can still route
        // there — seed it with its coarse centroid as the single
        // sub-cell so assignment and query routing never lose vectors
        val present = trained.select(col("coarse")).distinct()
          .collect().map(_.getInt(0)).toSet
        val missing = cents.filterNot(c => present(c._1))
        val sc =
          if (missing.isEmpty) trained
          else trained.unionByName(missing.toSeq
            .map { case (c, v) => (c, c * kSub, v.toSeq) }
            .toDF("coarse", "cell", "centroid"))
        (HierarchicalRouting.assignFineRanked(cc, sc, idCol, vecCol,
          p.multiAssign), Some(sc))
      } else
        (Similarity.ivfAssignedIndexMultiRanked(corpus, idCol, vecCol,
          cents, p.multiAssign), None)
    // materialize the assignment ONCE: its lineage (argmin over
    // nCells·dim per row, or the two-level route) is consumed by the
    // graph build, the PQ code join, the drift baseline AND both
    // assignment-derived component writes — without the cut each
    // consumer re-ran the full assignment pass (guide §1.2 step 1:
    // don't compute things twice; measured in the r20 job profile as
    // the dominant repeated call site of t132/t157's builds)
    val assignedCk = assignedDf.ckpt()
    val edges = GraphAnn.buildGraphEdges(assignedCk, idCol, vecCol, p.m, p.efConstruction)
    val pq =
      if (p.pqM > 0) {
        val cbs = Similarity.pqCodebooks(corpus, idCol, vecCol, p.pqM, p.pqKsub,
          p.iters)
        import spark.implicits._
        val books = cbs.zipWithIndex.toSeq.flatMap { case (cb, j) =>
          cb.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
        }.toDF("subspace", "code", "centroid")
        // one codes row per ASSIGNMENT row (a multi-assigned id's codes
        // ride into each of its cells, so every probed cell's shortlist
        // is self-contained)
        val codeRows = assignedCk.select(col(idCol), col("cell"))
          .join(Similarity.pqEncode(corpus, idCol, vecCol, cbs), Seq(idCol))
        (Some((books, codeRows)), cbs.length)
      } else (None, 0)
    // the PQ composition's re-rank fetches vectors BY ID — land the
    // id-keyed point-lookup layout alongside the codes
    val vecsById =
      if (p.pqM > 0) Some(corpus.select(col(idCol), col(vecCol))) else None
    // the drift BASELINE, captured while the assignment is in hand: the
    // store remembers at write time what reclusterIfDrifted would
    // otherwise re-derive from the full corpus on every check (the
    // census-head/rank-column lesson applied to the drift monitor)
    val driftBase = collectCellStatsRaw(assignedCk, idCol, vecCol, cents)
    val v = writeVersion(spark, root, nextVersion(root),
      cents, assignedCk, edges, idCol, vecCol, p, subCents, pq._1, vecsById,
      Some(driftBase))
    // the build report: multiAssign's storage factor is the recall
    // knob's explicit price (r17 verdict item #5)
    log.info(s"AnnIndexStore.build $root v$v: multiAssign=${p.multiAssign} " +
      s"(assignment storage x${p.multiAssign}), cells=" +
      (if (kSub > 0) s"${cents.length} coarse x $kSub sub"
       else s"${cents.length} flat") +
      (if (p.pqM > 0) s", pqM=${p.pqM} + vecsbyid (${p.idBuckets} id " +
        "buckets; one extra raw-vector copy)" else ""))
    v
  }

  /** Absorb a delta under FROZEN centroids: assignment group-merges
    * (old rows never re-assigned, corpus never re-scanned), the graph
    * delta-merges ([[GraphAnn.mergeGraphEdgesForDelta]] — only touched
    * cells recompute), and the result lands as a new committed version
    * with an atomic pointer swap. Search after == search over a
    * from-scratch build at the same centroids (the t131 contract).
    * Re-uploaded ids REPLACE their stored rows end to end: the
    * assignment by [[graft.operators.Relational.mergeReplaceGroups]],
    * the graph by the displaced-node handling in
    * [[GraphAnn.mergeGraphEdgesForDelta]] (the replaced id's old cell
    * recomputes even when the updated vector lands elsewhere).
    *
    * READ I/O is delta-bounded too (not just the write side): the
    * touched-cell set comes from the id-keyed cell map (a point lookup
    * of the delta's id buckets — see [[idCellsPath]]), and every
    * pre-delta read (assignment merge, graph node rows, drift-base
    * subtraction, codes) is then bucket-pruned to those cells —
    * ScaleSpec proves it by deleting every untouched bucket's data
    * files and appending anyway. Stores from before the component
    * fall back to the full-scan derivation (a compact upgrades them). */
  def appendDelta(spark: SparkSession, root: String, delta: DataFrame,
                  idCol: String, vecCol: String, p: Params): Long = {
    import spark.implicits._
    val cur = requireCurrent(root)
    val cents = centroids(spark, root)
    // hierarchical stores route the delta through the frozen two-level
    // state: coarse argmin, then ONLY the delta's coarse cells'
    // sub-centroid buckets are read — delta-bounded, like everything
    // else in this method
    val deltaRanked =
      if (Fs.exists(subCentsPath(cur))) {
        val cc = coarseAssigned(delta, idCol, vecCol, cents).ckpt()
        HierarchicalRouting.assignFineRanked(cc,
          graft.sources.PrunedIndex.readPruned(spark, subCentsPath(cur),
            cc.select(col("coarse")).distinct()),
          idCol, vecCol, p.multiAssign)
      } else Similarity.ivfAssignedIndexMultiRanked(delta, idCol, vecCol,
        cents, p.multiAssign)
    val deltaIds = delta.select(col(idCol)).distinct().ckpt()
    val hasIdCells = Fs.exists(idCellsPath(cur))
    // touched = the delta's cells plus any re-uploaded id's OLD cells
    // (ALL multiAssign copies — the displaced rows must leave their
    // buckets). With the id-keyed cell map this is a point lookup of
    // the delta's id buckets, and EVERY pre-delta read below is then
    // bucket-pruned — per-batch read I/O O(touched buckets), matching
    // the write side; the full assignment view is never even
    // CONSTRUCTED (its file enumeration alone is O(index)). Legacy
    // stores (no idcells component) keep the full-scan derivation.
    // The rank-schema check (a legacy rank-less store must stay
    // rank-less — the merge needs matching schemas) reads the pruned
    // view's schema on the idcells path.
    val (touchedCells, oldTouched, deltaAssigned) =
      if (hasIdCells) {
        val tc = deltaRanked.select(col("cell"))
          .unionByName(graft.sources.PrunedIndex.readPruned(spark,
            idCellsPath(cur), deltaIds).select(col("cell")))
          .distinct().ckpt()
        // materialized once: the assignment merge, the graph recompute
        // and the drift-base subtraction each consumed this pruned read
        // — three bucket re-reads + semi-join replays per batch
        val ot = graft.sources.PrunedIndex.readPruned(spark,
          Fs.child(cur, "assigned"), tc).ckpt()
        val da = if (ot.columns.contains("rank")) deltaRanked
                 else deltaRanked.drop("rank")
        (tc, ot, da)
      } else {
        val oldAssigned = assigned(spark, root)
        val da = if (oldAssigned.columns.contains("rank")) deltaRanked
                 else deltaRanked.drop("rank")
        val tc = da.select(col("cell"))
          .unionByName(oldAssigned.join(broadcast(deltaIds), Seq(idCol), "left_semi")
            .select(col("cell")))
          .distinct().ckpt()
        (tc, oldAssigned, da)
      }
    // the delta's routed assignment feeds the merge, the graph
    // recompute, the codes join, the cell-map write and the drift-base
    // advance — one materialization instead of five route replays
    val deltaAssignedCk = deltaAssigned.ckpt()
    val merged = graft.operators.Relational.mergeReplaceGroups(
      oldTouched, deltaAssignedCk, Seq(idCol))
    val touchedAssigned = merged.join(touchedCells, Seq("cell"), "left_semi")
    val (_, recomputedEdges) = GraphAnn.recomputedGraphEdgesForDelta(spark,
      Fs.child(cur, "graph"), oldTouched, deltaAssignedCk, idCol, vecCol,
      p.m, p.efConstruction)
    val v = nextVersion(root)
    val dir = versionDir(root, v)
    // WRITE I/O is delta-bounded, not O(index): only the touched cells'
    // buckets land new files under the new version dir; untouched
    // buckets' existing files are stitched into the new manifests by
    // absolute path (PrunedIndex.writeDelta). The version remains an
    // atomic multi-component swap (_SUCCESS + _CURRENT) but now
    // REFERENCES older version dirs' files — retention goes through
    // [[vacuum]]/[[compact]], never a bare directory delete.
    // independent per-component tasks, overlapped (guide §2.6) — each
    // writes its own subdir of the new version (or, for the drift
    // sidecar, collects delta-sized stats); _SUCCESS and the pointer
    // swap stay strictly after the batch settles, so the atomic
    // multi-component commit is unchanged
    val tasks = Seq.newBuilder[() => Unit]
    tasks += (() =>
      RecordedSchema.writeParquet(cents.toSeq.map { case (c, a) => (c, a.toSeq) }
        .toDF("cell", "centroid").coalesce(1), Fs.child(dir, "centroids")))
    if (Fs.exists(subCentsPath(cur))) tasks += { () =>
      // sub-centroids are FROZEN control state like the coarse matrix,
      // but live in a pruned layout — carry them into the new version
      // as a zero-touched-bucket stitch (manifest-only write: every
      // bucket's files reference `cur`'s by absolute path)
      val empty = graft.sources.PrunedIndex.read(spark, subCentsPath(cur)).limit(0)
      graft.sources.PrunedIndex.writeDelta(spark, subCentsPath(dir),
        empty, empty.select(col("coarse")),
        basePath = subCentsPath(cur))
    }
    if (Fs.exists(codesPath(cur))) tasks += { () =>
      // codes advance like the assignment: the delta encodes under the
      // FROZEN codebooks, re-uploaded ids' stale rows displace, only
      // the touched cells' buckets land new files
      val cbs = Similarity.codebooksOf3(RecordedSchema.read(spark, pqBooksPath(cur)))
      val keptCodes = graft.sources.PrunedIndex.readPruned(spark,
          codesPath(cur), touchedCells)
        .join(broadcast(deltaIds), Seq(idCol), "left_anti")
      val deltaCodeRows = deltaAssignedCk.select(col(idCol), col("cell"))
        .join(Similarity.pqEncode(delta, idCol, vecCol, cbs), Seq(idCol))
      graft.sources.PrunedIndex.writeDelta(spark, codesPath(dir),
        keptCodes.select(col(idCol), col("codes"), col("cell"))
          .unionByName(deltaCodeRows.select(col(idCol), col("codes"), col("cell"))),
        touchedCells, basePath = codesPath(cur), p.maxRecordsPerFile)
      RecordedSchema.writeParquet(RecordedSchema.read(spark, pqBooksPath(cur)).coalesce(1),
        pqBooksPath(dir))
    }
    if (Fs.exists(vecsByIdPath(cur))) tasks += { () =>
      // the id-keyed vector layout advances by key: the delta's id
      // buckets land new files (re-uploads displace by writeDelta's
      // replace-by-key), every other bucket stitches forward
      graft.sources.PrunedIndex.writeDelta(spark, vecsByIdPath(dir),
        delta.select(col(idCol), col(vecCol)), deltaIds,
        basePath = vecsByIdPath(cur), p.maxRecordsPerFile)
    }
    if (hasIdCells) tasks += { () =>
      // the cell map advances the same way: one (id, cell) row per
      // delta assignment row, replace-by-key on the delta's ids
      graft.sources.PrunedIndex.writeDelta(spark, idCellsPath(dir),
        deltaAssignedCk.select(col(idCol), col("cell")), deltaIds,
        basePath = idCellsPath(cur), p.maxRecordsPerFile)
    }
    tasks += { () =>
      val touchedCols = Seq(col(idCol), col(vecCol), col("cell")) ++
        (if (touchedAssigned.columns.contains("rank")) Seq(col("rank")) else Nil)
      graft.sources.PrunedIndex.writeDelta(spark, Fs.child(dir, "assigned"),
        touchedAssigned.select(touchedCols: _*),
        touchedCells, basePath = Fs.child(cur, "assigned"), p.maxRecordsPerFile)
    }
    tasks += (() =>
      graft.sources.PrunedIndex.writeDelta(spark, Fs.child(dir, "graph"),
        recomputedEdges.select(col("cell"), col("src"), col("dst"), col("pos")),
        touchedCells, basePath = Fs.child(cur, "graph"), p.maxRecordsPerFile))
    // advance the drift baseline from the batch's OWN stats — per-cell
    // (n, Σ d2_ppm) are pure sums, so old + delta rows − replaced ids'
    // old rows equals a full recompute over the post-append assignment
    // bit-for-bit, at O(delta·nCells·dim) instead of O(corpus·nCells·dim)
    // per batch. Legacy stores (no sidecar) stay legacy: a half-upgraded
    // chain would silently pay the full scan on SOME checks only.
    readDriftBase(cur).foreach { base =>
      tasks += { () =>
        val added = collectCellStatsRaw(deltaAssignedCk, idCol, vecCol, cents)
        // replaced ids' old rows live only in touched cells (touchedCells
        // includes every re-uploaded id's OLD cell by construction), so
        // the subtraction side is the already-pruned read, not a corpus scan
        val removed = collectCellStatsRaw(
          oldTouched.join(broadcast(deltaIds), Seq(idCol), "left_semi"),
          idCol, vecCol, cents)
        Fs.writeStringAtomic(driftBasePath(dir),
          renderDriftBase(mergeDriftBase(base, added, removed)))
      }
    }
    graft.util.Par.runUnit(tasks.result())
    VersionedRoot.writeParams(dir, p)
    commit(root, v)
  }

  /** [[appendDelta]] under the store's OWN persisted parameters — the
    * drift-proof maintenance entry point: assignment fan-out
    * (multiAssign), graph shape (m, efConstruction) and file sizing
    * replay exactly as built, whoever calls. */
  def appendDelta(spark: SparkSession, root: String, delta: DataFrame,
                  idCol: String, vecCol: String): Long =
    appendDelta(spark, root, delta, idCol, vecCol,
      storedParams(root, "appendDelta"))

  /** Every PrunedIndex component a version dir can hold — the manifest
    * scan set for [[chainDepth]] and [[vacuum]]. */
  private val AllComponents: Seq[String] =
    Seq("assigned", "graph", "subcents", "codes", "vecsbyid", "idcells")

  /** Re-land the CURRENT version as a SELF-CONTAINED new version (all
    * buckets' files local — no stitched references into older version
    * dirs), under the same centroids, assignment and adjacency:
    * searches are unchanged, only the layout folds flat. The compaction
    * step that makes [[vacuum]] able to drop every older version —
    * run it on whatever cadence bounds the reference-chain depth
    * (weekly against daily deltas, say). */
  def compact(spark: SparkSession, root: String,
              idCol: String, vecCol: String, p: Params): Long = {
    val cur = requireCurrent(root)
    val edges = graft.sources.PrunedIndex.read(spark, Fs.child(cur, "graph"))
    val subCents =
      if (Fs.exists(subCentsPath(cur)))
        Some(graft.sources.PrunedIndex.read(spark, subCentsPath(cur)))
      else None
    val pq =
      if (Fs.exists(codesPath(cur)))
        Some((RecordedSchema.read(spark, pqBooksPath(cur)),
          graft.sources.PrunedIndex.read(spark, codesPath(cur))))
      else None
    val vecsById =
      if (Fs.exists(vecsByIdPath(cur)))
        Some(graft.sources.PrunedIndex.read(spark, vecsByIdPath(cur)))
      else None
    writeVersion(spark, root, nextVersion(root),
      centroids(spark, root), assigned(spark, root), edges, idCol, vecCol, p,
      subCents, pq, vecsById,
      // compaction changes layout, never content — the drift baseline
      // carries forward verbatim (recomputing it would be the full
      // corpus re-score this sidecar exists to kill)
      readDriftBase(cur).map(_.toSeq.map { case (c, (n, s)) => (c, n, s) }))
  }

  /** [[compact]] under the store's own persisted parameters. */
  def compact(spark: SparkSession, root: String,
              idCol: String, vecCol: String): Long =
    compact(spark, root, idCol, vecCol, storedParams(root, "compact"))

  /** Stitched reference-chain depth of the CURRENT version: 1 + the
    * number of OTHER version dirs its component manifests still
    * reference ([[VersionedRoot.chainDepth]]). Depth 1
    * = self-contained (fresh build or just compacted); each
    * [[appendDelta]] can extend the chain by one. Manifest reads only
    * — no data I/O. */
  def chainDepth(root: String): Int = VersionedRoot.chainDepth(root, AllComponents)

  /** Self-triggering maintenance — [[NearDupIndexStore.maybeMaintain]]
    * for the ANN store: [[compact]] when the stitched reference chain
    * exceeds `maxChainDepth` versions, making older versions sparable
    * by [[vacuum]]. Hysteresis is structural (a compaction folds the
    * current version self-contained, resetting the depth to 1).
    * Answer-invariant: compaction re-lands the same centroids,
    * assignment and adjacency — searches and [[semDedupPairsForDelta]]
    * probes are unchanged (pinned in AnnIndexStoreSpec). The DRIFT
    * half of maintenance stays with [[reclusterIfDrifted]], which is
    * delta-driven by design (drift is a property of incoming batches,
    * not of the stored layout). Returns the new committed version when
    * maintenance ran, None below the threshold. Single-writer contract
    * like [[compact]]/[[vacuum]]. */
  def maybeMaintain(spark: SparkSession, root: String,
                    idCol: String, vecCol: String, p: Params,
                    maxChainDepth: Int = 8): Option[Long] =
    if (chainDepth(root) > maxChainDepth)
      Some(compact(spark, root, idCol, vecCol, p))
    else None

  /** [[maybeMaintain]] under the store's own persisted parameters. */
  def maybeMaintain(spark: SparkSession, root: String,
                    idCol: String, vecCol: String,
                    maxChainDepth: Int): Option[Long] =
    maybeMaintain(spark, root, idCol, vecCol,
      storedParams(root, "maybeMaintain"), maxChainDepth)

  /** Retention — [[VersionedRoot.vacuum]] over the index components:
    * drops versions beyond the newest `keep` that no retained manifest
    * references (a delta-stitched chain is sparable only after a
    * [[compact]] folds the current version flat), and sweeps stale
    * orphans of crashed builds/appends. Returns the dropped versions. */
  def vacuum(root: String, keep: Int = 1): Seq[Long] =
    VersionedRoot.vacuum(root, AllComponents, keep)

  /** Global integer drift of a delta batch vs the stored corpus under
    * the CURRENT centroids: (delta mean d²_ppm · 10⁶) DIV (corpus mean
    * d²_ppm, floored at 1). 1 000 000 = "delta fits exactly as well as
    * the corpus"; 2 000 000 = twice the mean squared distance. Pure
    * integer arithmetic over [[Similarity.ivfCellStats]]'s per-vector
    * ppm floors — deterministic, partition-independent. */
  def driftPpm(spark: SparkSession, root: String, delta: DataFrame,
               idCol: String, vecCol: String): Long = {
    val cents = centroids(spark, root)
    def globalMean(df: DataFrame): Long = {
      val r = Similarity.ivfCellStats(df, idCol, vecCol, cents)
        .agg(sum(col("n")).as("n"),
          sum(col("mean_d2_ppm") * col("n")).as("s"))
        .select(expr("s DIV n")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // the corpus baseline comes from the persisted `_DRIFTBASE` — k rows
    // of version metadata maintained incrementally by build/append — so
    // the per-batch drift check scores the DELTA only; it never touches
    // the assignment buckets (gated in ScaleSpec by physically deleting
    // them). The fold reproduces the legacy full-recompute arithmetic
    // bit-for-bit (same per-cell DIV, same global weighted DIV); stores
    // from before the sidecar fall back to the full re-score.
    val base = readDriftBase(requireCurrent(root))
      .map(m => foldGlobalMean(m.values))
      .getOrElse(globalMean(assigned(spark, root)))
    val dlt = globalMean(delta)
    dlt * 1000000L / math.max(base, 1L)
  }

  /** The closed drift loop: measure the delta's drift; above
    * `thresholdPpm`, retrain centroids on stored ∪ delta and rebuild
    * assignment + graph as a new version (atomic swap — equal to a
    * fresh [[build]] on the merged corpus, bit-for-bit, by
    * determinism); at or below threshold, write NOTHING and leave the
    * store byte-identical (the caller absorbs the delta with
    * [[appendDelta]], the frozen-centroid path). Returns what it saw
    * and did. */
  def reclusterIfDrifted(spark: SparkSession, root: String, delta: DataFrame,
                         idCol: String, vecCol: String,
                         thresholdPpm: Long, p: Params): Decision = {
    val drift = driftPpm(spark, root, delta, idCol, vecCol)
    if (drift <= thresholdPpm)
      Decision(drift, reclustered = false, currentVersion(root).get)
    else {
      // multi-assigned stores hold ×multiAssign rows per id; the
      // retrain corpus is one row per id (copies carry the same vector,
      // so the collapse is deterministic)
      val mergedCorpus = graft.operators.Relational.mergeReplaceGroups(
        assigned(spark, root).select(col(idCol), col(vecCol))
          .dropDuplicates(idCol),
        delta.select(col(idCol), col(vecCol)), Seq(idCol))
      val v = build(spark, mergedCorpus, idCol, vecCol, root, p)
      Decision(drift, reclustered = true, v)
    }
  }

  /** [[reclusterIfDrifted]] under the store's own persisted parameters. */
  def reclusterIfDrifted(spark: SparkSession, root: String, delta: DataFrame,
                         idCol: String, vecCol: String,
                         thresholdPpm: Long): Decision =
    reclusterIfDrifted(spark, root, delta, idCol, vecCol, thresholdPpm,
      storedParams(root, "reclusterIfDrifted"))

  /** Graph search over the CURRENT version — probe-bounded reads of
    * the assignment and edge buckets, graphs reconstructed from stored
    * edges ([[GraphAnn.nswSearchGraph]]).
    *
    * Defaults (nprobe=8, efSearch=96) are the ABLATION_r17 sweep's
    * reading at ×10 corpus scale: efSearch 96 beat 48 on BOTH recall
    * and wall (wider beams converge in fewer re-expansions here), and
    * recall is routing-bound, so nprobe — not ef — is the recall knob.
    * For recall ≥ 0.9 at these defaults, `Params`' multiAssign = 2
    * default is the measured setting (0.93 vs 0.70 single-assign at
    * unchanged probe cost); the full-probe graph ceiling measured
    * 0.995, so routing, not the graph, is where further recall lives.
    *
    * Hierarchical stores (`Params.subCells > 0`) route through the two
    * levels: `nprobeCoarse` coarse cells driver-side, then only those
    * cells' sub-centroid buckets resolve the query's global-best
    * `nprobe` FINE cells — whose graphs are probed exactly like the
    * flat store's. `nprobeCoarse` is ignored for flat stores. */
  def searchGraph(spark: SparkSession, root: String, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  nprobe: Int = 8, efSearch: Int = 96,
                  nprobeCoarse: Int = 4): DataFrame = {
    val cur = requireCurrent(root)
    if (Fs.exists(subCentsPath(cur))) {
      val probes = HierarchicalRouting.routeQueries(spark, subCentsPath(cur),
        centroids(spark, root), queries, idCol, vecCol, nprobeCoarse, nprobe)
      GraphAnn.nswSearchGraphRouted(spark, Fs.child(cur, "assigned"),
        Fs.child(cur, "graph"), probes, idCol, vecCol, k, efSearch)
    } else
      GraphAnn.nswSearchGraph(spark, Fs.child(cur, "assigned"), Fs.child(cur, "graph"),
        centroids(spark, root), queries, idCol, vecCol, k, nprobe, efSearch)
  }

  /** IVF-PQ composed search over the CURRENT version (requires a
    * `Params(pqM > 0)` build): route to `nprobe` cells (two-level when
    * the store is hierarchical — the full composition the 10⁹-vector
    * regime needs), SHORTLIST the probed cells by asymmetric-distance
    * over their stored CODES (pqM small ints per row), then
    * exact-re-rank the `k·refine` shortlist under
    * [[Similarity.bruteTopK]]'s exact cosine and total order. Output
    * shape matches [[searchGraph]]; quantization error costs recall
    * only when a true neighbor misses the shortlist, never a rank swap
    * inside it. Deterministic end to end (decimal codebooks, (d², id)
    * ties).
    *
    * What the composition buys, precisely: the candidate SCORING pass —
    * the work ∝ probed-cell rows — runs over codes (ADC table lookups,
    * ~dim/pqM× less per-row compute and I/O than exact cosine over raw
    * floats), and exact math is paid by `k·refine` rows per query only.
    * The re-rank's vector FETCH is a point lookup of the shortlist's
    * ids against the store's `vecsbyid` component (the SPANN-style
    * refinement layout PQ builds land — id-keyed pruned buckets, so the
    * fetch reads O(shortlist id buckets), never the probed cells' raw
    * vectors; gated file-level in ScaleSpec). Stores built before the
    * component existed fall back to the cell-granular read of the
    * probed cells — same answers, coarser fetch I/O. */
  def searchPq(spark: SparkSession, root: String, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               nprobe: Int = 8, refine: Int = 4,
               nprobeCoarse: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{cosineWithNorms, dot, norm}
    val cur = requireCurrent(root)
    require(Fs.exists(codesPath(cur)),
      "store has no PQ codes component — build with Params(pqM > 0)")
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val cbs = Similarity.codebooksOf3(RecordedSchema.read(spark, pqBooksPath(cur)))
    val probes = (if (Fs.exists(subCentsPath(cur)))
      HierarchicalRouting.routeQueries(spark, subCentsPath(cur),
        centroids(spark, root), queries, idCol, vecCol, nprobeCoarse, nprobe)
    else {
      val dvQ = queries.select(col(idCol).cast("long").as("qid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      Similarity.probeCells(dvQ, centroids(spark, root), nprobe)
        .select(col("qid"), col("v"), col("cell"))
    }).ckpt()
    val codes = graft.sources.PrunedIndex.readPruned(spark, codesPath(cur),
      probes.select(col("cell")))
    // per-query candidates = the query's OWN probed cells' codes;
    // multi-assigned copies carry identical codes, dropped by key
    val cand = broadcast(probes)
      .join(codes.select(col(idCol).as("neighbor_id"), col("codes"),
        col("cell")), Seq("cell"))
      .filter(col("qid") =!= col("neighbor_id"))
      .dropDuplicates("qid", "neighbor_id")
    val d = cbs(0)(0).length
    val approxD2 = cbs.zipWithIndex.map { case (cb, j) =>
      val qsub = slice(col("v"), j * d + 1, d)
      val codeJ = element_at(col("codes"), j + 1)
      val cvec = element_at(array(cb.map(c => array(c.map(lit): _*)): _*), codeJ + 1)
      val cn2 = element_at(array(cb.map(c => lit(c.map(x => x * x).sum)): _*), codeJ + 1)
      dot(qsub, qsub) - lit(2.0) * dot(qsub, cvec) + cn2
    }.reduce(_ + _)
    val wS = Window.partitionBy(col("qid")).orderBy(col("approx_d2"), col("neighbor_id"))
    val shortlist = cand.withColumn("approx_d2", approxD2)
      .withColumn("__rn", row_number().over(wS))
      .filter(col("__rn") <= k * refine)
      .select(col("qid").as("query_id"), col("neighbor_id"))
      .ckpt()
    // exact re-rank — the same cos expression and total order as
    // bruteTopK/searchGraph. Vector fetch: id-keyed point lookup of the
    // shortlist (one row per id — no dedup shuffle); legacy stores
    // without the component read the probed cells' vectors instead
    val vecs =
      if (Fs.exists(vecsByIdPath(cur)))
        graft.sources.PrunedIndex.readPruned(spark, vecsByIdPath(cur),
            shortlist.select(col("neighbor_id").as(idCol)))
          .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"))
      else graft.sources.PrunedIndex.readPruned(spark,
          Fs.child(cur, "assigned"), probes.select(col("cell")))
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"))
        .dropDuplicates("neighbor_id")
    val qv = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_v"), norm(col(vecCol)).as("q_n"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    shortlist.join(vecs, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", cosineWithNorms(dot(col("q_v"), col("c_v")),
        col("q_n"), norm(col("c_v"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos").as("cos_sim"))
  }

  /** IVF (exhaustive-within-probed-cells) search over the CURRENT
    * version's pruned assignment — the [[Similarity
    * .ivfSearchPrunedAdaptive]] path at store level. */
  def searchIvf(spark: SparkSession, root: String, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                minProbe: Int = 4, maxProbe: Int = 8,
                ratioPpm: Long = 2000000L): DataFrame = {
    val cur = requireCurrent(root)
    require(!Fs.exists(subCentsPath(cur)),
      "searchIvf routes on the flat centroid matrix — use searchGraph " +
        "for a hierarchical (subCells > 0) store")
    Similarity.ivfSearchPrunedAdaptive(spark, Fs.child(cur, "assigned"),
      centroids(spark, root), queries, idCol, vecCol, k, minProbe, maxProbe, ratioPpm)
  }

  /** SemDeDup THROUGH the versioned store — the embedding family's
    * delta-bounded dedup probe, closing the gap the five shingle/hash
    * families closed behind [[NearDupIndexStore]]: every within-cell
    * pair (a_id < b_id, cosine ≥ `minCos`) touching the delta, under
    * the store's CURRENT centroid partition. Equals
    * [[Dedup.semDedupPairsWithCentroids]](stored ∪ delta, centroids)
    * restricted to pairs touching the delta (AnnIndexStoreSpec pins
    * the equivalence, re-upload replacement, and probe-after-append
    * parity), at per-batch cost:
    *
    *  - the delta routes to its primary cells with one narrow map
    *    (broadcast centroid literals — k·dim driver state);
    *  - ONLY those cells' assignment buckets are read
    *    ([[graft.sources.PrunedIndex.readPruned]] — strict-subset file
    *    I/O, gated in ScaleSpec); the corpus is never scanned;
    *  - stored `multiAssign` copies drop by re-deriving each fetched
    *    member's primary cell under the SAME argmin rule (a narrow map
    *    over delta-cell members only — secondary-cell rows are routing
    *    redundancy for ANN search, not semantic-cluster membership);
    *  - ids present in the delta leave the member side by a broadcast
    *    anti-join: a re-uploaded id pairs under its NEW vector only,
    *    the store-wide replace semantics [[appendDelta]] lands.
    *
    * The answer is a function of the store's current centroids — a
    * [[reclusterIfDrifted]] pass may legitimately change the cell
    * partition and hence future probes' pairs (unlike the shingle
    * stores, whose maintenance is answer-invariant); probe-vs-batch
    * parity is always stated AT the store's centroids. Deterministic
    * end-to-end (decimal-exact stored centroids, index-ordered dot
    * products, (d², cell) tie order), so partitioning-independent and
    * literal-oracle-able.
    *
    * Hierarchical stores (subCells > 0) compare within FINE cells —
    * the partition at the scale semantic dedup actually needs (10⁹
    * vectors want 10⁵–10⁶ cells, past any driver-resident flat
    * matrix): the delta resolves coarse driver-side (k₁ rows), ONLY
    * its coarse cells' sub-centroid buckets load to resolve primary
    * fine cells ([[HierarchicalRouting.assignFine]], multiAssign 1),
    * and member primary-filtering re-derives the same two-level rule.
    * A stored copy's fine cell always lies inside its primary coarse
    * cell (assignFine assigns within the coarse argmin), so the one
    * pruned sub-centroid read covers the member re-derive too. */
  def semDedupPairsForDelta(spark: SparkSession, root: String, delta: DataFrame,
                            idCol: String, vecCol: String, minCos: Double): DataFrame = {
    import graft.functions.VectorFunctions.norm
    val cur = requireCurrent(root)
    val cents = centroids(spark, root)

    // (delta with primary cells, stored members of those cells kept to
    // their PRIMARY rows) under the store's partition — flat: one
    // argmin level; hierarchical: coarse argmin then within-coarse sub
    val (dAssigned, prim) =
      if (!Fs.exists(subCentsPath(cur))) {
        val dA = Dedup.assignWithNorm(delta, idCol, vecCol, cents)
        // only the delta's cells' buckets are read; readPruned's exact
        // key filter drops same-bucket strangers from other cells
        val members = graft.sources.PrunedIndex.readPruned(
          spark, Fs.child(cur, "assigned"), dA.select(col("cell")).distinct())
        // multiAssign stores hold ≥1 routing copies per id; the
        // SEMANTIC cluster is the primary (argmin) cell. Stores carry
        // the assignment rank, so the primary row is a FILTER — the
        // store recorded its own argmin at write time. (Re-deriving it
        // against every centroid costs O(members·nCells·dim) per
        // probe, growing with the corpus through nCells — measured 55×
        // at ×50 in AnnStoreProbeBench; the legacy fallback below
        // keeps rank-less stores answering, at that cost.) An id whose
        // primary cell is outside the delta's cells drops (correct: it
        // clusters elsewhere); one whose primary IS a delta cell
        // always survives (rank-1 is always stored).
        val p =
          if (members.columns.contains("rank"))
            members.filter(col("rank") === 1)
              .select(col(idCol).as("id"), col(vecCol).as("fv"), col("cell"))
          else Similarity.assignCells(
              members.withColumnRenamed("cell", "stored_cell")
                .select(col(idCol).as("id"), col(vecCol).as("fv"),
                  col("stored_cell"),
                  transform(col(vecCol), x => x.cast("double")).as("v")), cents)
            .filter(col("cell") === col("stored_cell"))
            .select(col("id"), col("fv"), col("cell"))
        (dA, p)
      } else {
        val dCoarse = coarseAssigned(delta, idCol, vecCol, cents)
        val subCents = graft.sources.PrunedIndex.readPruned(spark,
          subCentsPath(cur), dCoarse.select(col("coarse")).distinct())
        val dFine = HierarchicalRouting.assignFine(dCoarse, subCents,
          idCol, vecCol, multiAssign = 1).ckpt()
        val dA = dFine.select(col(idCol).as("id"), col(vecCol).as("fv"),
          col("cell"), norm(col(vecCol)).as("nrm"))
        val members = graft.sources.PrunedIndex.readPruned(spark,
          Fs.child(cur, "assigned"), dFine.select(col("cell")).distinct())
        // member primary rows: the stored rank filter when the store
        // carries it (see the flat branch); legacy fallback re-derives
        // the same frozen two-level rule and semi-joins the primary
        val p =
          if (members.columns.contains("rank"))
            members.filter(col("rank") === 1)
              .select(col(idCol).as("id"), col(vecCol).as("fv"), col("cell"))
          else {
            val mFine = HierarchicalRouting.assignFine(
              coarseAssigned(members.dropDuplicates(idCol), idCol, vecCol, cents),
              subCents, idCol, vecCol, multiAssign = 1)
            members.join(mFine.select(col(idCol), col("cell")),
                Seq(idCol, "cell"), "left_semi")
              .select(col(idCol).as("id"), col(vecCol).as("fv"), col("cell"))
          }
        (dA, p)
      }

    val deltaIds = delta.select(col(idCol).as("id")).distinct()
    val cVecs = prim
      .join(broadcast(deltaIds), Seq("id"), "left_anti")
      .select(col("id"), col("fv"), col("cell"), norm(col("fv")).as("nrm"))

    Dedup.deltaPairsWithinCells(dAssigned, cVecs, minCos)
  }
}
