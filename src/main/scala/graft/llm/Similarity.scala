package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over embedding columns.
  *
  *  - `bruteTopK`: exact top-k by cosine — broadcast the (small) query
  *    set against the corpus; one scan, no shuffle of the corpus beyond
  *    the final per-query top-k aggregation.
  *  - `ivfTopK`: IVF-style two-stage search — deterministic centroid
  *    selection, corpus pre-partitioned by nearest centroid, queries
  *    probe only `nprobe` cells. The 100 TB path: the corpus shuffle
  *    happens once at index build; each query touches a fraction of it.
  */
object Similarity {

  /** Exact top-k neighbors (by cosine, excluding self) for each query
    * vector. `queries` should be small — it is broadcast. Deterministic
    * total order: (cosine desc, neighbor id asc). */
  def bruteTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"),
      norm(col(vecCol)).as("q_n"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"),
      norm(col(vecCol)).as("c_n"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineWithNorms(dot(col("q_v"), col("c_v")), col("q_n"), col("c_n")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos").as("cos_sim"))
  }

  /** Lloyd's k-means over the embedding column, deterministic:
    * seeds = the k vectors with smallest xxhash64(id) (a fixed
    * pseudo-random spread), `iters` rounds of assign + element-wise
    * mean. Each round is one broadcast (k·dim doubles) + one narrow
    * scan + one groupBy(cell, dim) shuffle of k·dim partials — nothing
    * driver-side except the tiny centroid matrix.
    *
    * Means accumulate as DECIMAL, not double: decimal addition is
    * exact, so the per-cell sum — and therefore the centroids, the
    * assignments, and every downstream top-k — is independent of
    * partition count and merge order. A double `avg` drifts by an ulp
    * per re-partitioning, which can flip a borderline cell assignment
    * and make the whole index non-reproducible across cluster sizes. */
  def kMeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 5): Array[(Int, Array[Double])] = {
    import corpus.sparkSession.implicits._
    val seedsDf = corpus
      .select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(k)
    var centroids: Array[(Int, Array[Double])] =
      seedsDf.select("v").as[Seq[Double]].collect().zipWithIndex
        .map { case (v, i) => (i, v.toArray) }

    val dv = corpus.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    for (_ <- 0 until iters) {
      val assigned = assignCells(dv, centroids)
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        // decimal(38,20): embeddings are unit-scale floats, so 18
        // integer digits absorb ~1e18 rows per cell before overflow
        .groupBy(col("cell"), col("dim"))
        .agg((sum(col("x").cast("decimal(38,20)")).cast("double")
          / count(lit(1))).as("m"))
        .as[(Int, Int, Double)].collect()
      val next = means.groupBy(_._1).map { case (cell, xs) =>
        val dim = xs.map(_._2).max + 1
        val arr = new Array[Double](dim)
        xs.foreach { case (_, d, m) => arr(d) = m }
        (cell, arr)
      }.toArray.sortBy(_._1)
      centroids = if (next.nonEmpty) next else centroids
    }
    centroids
  }

  /** Persistable k-means index: one (cell, centroid) row per cluster —
    * the embedding family's durable control state, playing the same role
    * as [[Dedup.minHashBandIndex]]'s banded keys for text (and as the
    * reference's watermark store: tiny state that makes the next batch
    * incremental, cf. /root/reference/second_lambda_function.py:44-88).
    * Assignment is a pure function of (vector, centroids), so an index
    * written yesterday assigns a delta identically today. */
  def kMeansIndex(corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int, iters: Int = 5): DataFrame = {
    import corpus.sparkSession.implicits._
    kMeansCentroids(corpus, idCol, vecCol, k, iters)
      .toSeq.map { case (c, v) => (c, v.toSeq) }.toDF("cell", "centroid")
  }

  /** Load a persisted [[kMeansIndex]] back into the driver-side centroid
    * matrix — k rows of dim doubles, bounded control-plane state (same
    * class as a BPE merge table). */
  def centroidsOf(index: DataFrame): Array[(Int, Array[Double])] = {
    import index.sparkSession.implicits._
    index.select(col("cell").cast("int"), col("centroid"))
      .as[(Int, Seq[Double])].collect()
      .map { case (c, v) => (c, v.toArray) }.sortBy(_._1)
  }

  /** Assign each vector to its nearest centroid by L2 (broadcast the
    * centroid matrix as literal arrays — no side state). Expects a
    * double-array column named `v`; preserves all other columns. */
  private[llm] def assignCells(dv: DataFrame, centroids: Array[(Int, Array[Double])]): DataFrame = {
    import graft.functions.VectorFunctions.dot
    // ||v - c||² = ||v||² − 2·v·c + ||c||²; argmin over cells
    val v2 = dot(col("v"), col("v"))
    val scored = centroids.map { case (cell, c) =>
      val cCol = array(c.map(lit): _*)
      val d2 = v2 - lit(2.0) * dot(col("v"), cCol) + lit(c.map(x => x * x).sum)
      struct(d2.as("d2"), lit(cell).as("cell"))
    }
    dv.withColumn("__best", array_min(array(scored: _*)))
      .withColumn("cell", col("__best.cell"))
      .withColumn("__d2", col("__best.d2"))
      .drop("__best")
  }

  /** Persisted IVF assignment index: one (idCol, vecCol, cell) row per
    * vector — the embedding family's "postings list" (cell plays the
    * role BM25's term plays in [[graft.llm.Retrieval.postings]]).
    * Assignment is a pure function of (vector, centroids), so a delta
    * batch assigned against yesterday's persisted [[kMeansIndex]]
    * lands in exactly the cells a full re-assignment would give it —
    * the index grows by group-merge on the id
    * ([[graft.operators.Relational.mergeReplaceGroups]]), and the
    * corpus is never re-scanned (t112, SimilaritySpec). */
  def ivfAssignedIndex(corpus: DataFrame, idCol: String, vecCol: String,
                       centroids: Array[(Int, Array[Double])]): DataFrame =
    assignCells(corpus.select(col(idCol), col(vecCol),
        transform(col(vecCol), x => x.cast("double")).as("v")), centroids)
      .select(col(idCol), col(vecCol), col("cell"))

  /** [[ivfAssignedIndex]] with SOFT multi-assignment: each vector lands
    * in its `assign` nearest cells (one row per cell, storage ×assign)
    * — the standard IVF recall fix for boundary vectors, which a fixed
    * single assignment routes into exactly one of several near-equal
    * cells and a query probing the others never sees. `assign = 1`
    * reduces to [[ivfAssignedIndex]] exactly (same struct-ordered
    * argmin, same ties). Downstream search dedups by (query, neighbor)
    * before ranking, so recall rises at unchanged output semantics. */
  def ivfAssignedIndexMulti(corpus: DataFrame, idCol: String, vecCol: String,
                            centroids: Array[(Int, Array[Double])],
                            assign: Int): DataFrame =
    ivfAssignedIndexMultiRanked(corpus, idCol, vecCol, centroids, assign)
      .drop("rank")

  /** [[ivfAssignedIndexMulti]] with the assignment RANK kept (1 = the
    * argmin cell, the SEMANTIC cluster; 2.. = routing redundancy).
    * Persisting the rank is what lets a downstream primary-cell
    * consumer (SemDeDup through [[AnnIndexStore]]) filter `rank = 1`
    * instead of re-deriving the argmin against EVERY centroid — an
    * O(members·nCells·dim) per-probe step that grows with the corpus
    * (nCells ∝ n under auto-sizing) and measured 55× at ×50 corpus in
    * the ANN store probe (StoreProbe ann) before the rank column existed. */
  def ivfAssignedIndexMultiRanked(corpus: DataFrame, idCol: String,
                                  vecCol: String,
                                  centroids: Array[(Int, Array[Double])],
                                  assign: Int): DataFrame = {
    require(assign >= 1, s"assign must be >= 1, got $assign")
    if (assign == 1)
      ivfAssignedIndex(corpus, idCol, vecCol, centroids)
        .withColumn("rank", lit(1))
    else {
      import graft.functions.VectorFunctions.dot
      val dv = corpus.select(col(idCol), col(vecCol),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      val v2 = dot(col("v"), col("v"))
      val scored = centroids.map { case (cell, c) =>
        val cCol = array(c.map(lit): _*)
        val d2 = v2 - lit(2.0) * dot(col("v"), cCol) + lit(c.map(x => x * x).sum)
        struct(d2.as("d2"), lit(cell).as("cell"))
      }
      dv.select(col(idCol), col(vecCol),
          posexplode(slice(array_sort(array(scored.toIndexedSeq: _*)),
            1, assign).getField("cell")))
        .select(col(idCol), col(vecCol), col("col").as("cell"),
          (col("pos") + 1).cast("int").as("rank"))
    }
  }

  /** Per-cell assignment-quality statistics under a FIXED centroid set:
    * (cell, n, mean_d2_ppm) with each vector's squared L2 distance to
    * its assigned centroid ppm-floored BEFORE the integer mean
    * (sum DIV n) — deterministic and partition-independent, the house
    * contract. This is the drift monitor an incremental ANN deployment
    * needs: when a delta batch's per-cell mean distance degrades
    * against the corpus baseline, the centroids no longer describe the
    * incoming distribution and a re-cluster is due — the index-health
    * analog of the reference's post-load row-count check
    * (/root/reference/delta_load.py:267-286: verify, then notify). */
  def ivfCellStats(corpus: DataFrame, idCol: String, vecCol: String,
                   centroids: Array[(Int, Array[Double])]): DataFrame =
    ivfCellStatsRaw(corpus, idCol, vecCol, centroids)
      .select(col("cell"), col("n"),
        expr("sum_d2_ppm DIV n").as("mean_d2_ppm"))

  /** [[ivfCellStats]] BEFORE the per-cell mean division: (cell, n,
    * sum_d2_ppm) with sum over the per-vector ppm floors. Unlike the
    * mean, these are pure SUMS — additive under union and subtraction
    * — so a store can maintain them incrementally across deltas and
    * re-derive the exact mean (and the exact global drift baseline)
    * without ever re-scoring the stored corpus
    * ([[AnnIndexStore.driftPpm]]'s persisted `_DRIFTBASE`). */
  private[llm] def ivfCellStatsRaw(corpus: DataFrame, idCol: String, vecCol: String,
                                   centroids: Array[(Int, Array[Double])]): DataFrame =
    assignCells(corpus.select(col(idCol),
        transform(col(vecCol), x => x.cast("double")).as("v")), centroids)
      .select(col("cell"),
        // clamp: the a²−2ab+b² expansion can go epsilon-negative when
        // v ≈ centroid, and a −1 ppm floor would break the non-negative
        // DIV contract of the mean
        floor(greatest(col("__d2"), lit(0.0)) * lit(1e6) + lit(1e-4))
          .cast("long").as("d2_ppm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("d2_ppm")).as("sum_d2_ppm"))

  /** IVF search over a persisted [[ivfAssignedIndex]]: each query
    * probes its `nprobe` nearest cells (centroid matrix is driver-side
    * control state, folded into literal expressions) and ranks exactly
    * within them; the probe set broadcasts, so the assignment index is
    * range-pruned by the cell equi-join, never fully shuffled. */
  def ivfSearchAssigned(assigned: DataFrame, centroids: Array[(Int, Array[Double])],
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int = 4): DataFrame = {
    val a = assigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_v"), col("cell"))
    val dvQ = queries.select(col(idCol), col(vecCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val probes = probeCells(dvQ, centroids, nprobe)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_v"), col("cell"))
    rankWithinProbes(a, probes, k)
  }

  /** Shared scoring tail of every assigned-index search: broadcast the
    * probe set against the (neighbor_id, c_v, cell) index view, score
    * exactly within probed cells, rank per query. */
  private def rankWithinProbes(a: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = a.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_v"), col("c_v")))
      // a soft-multi-assigned vector ([[ivfAssignedIndexMulti]]) lives
      // in several cells; a query probing two of them must not rank it
      // twice. The duplicate rows are identical (same vector ⇒ same
      // cos), so the collapse is deterministic — and a no-op under
      // single assignment, where cells partition the corpus.
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos").as("cos_sim"))
  }

  /** [[ivfSearchAssigned]] with ADAPTIVE nprobe — the recall-escalation
    * rule for queries near cell boundaries, where a fixed nprobe loses
    * most of its recall: a query probes every cell whose centroid
    * distance is within `ratioPpm`/10⁶ × its nearest-centroid distance
    * (the FAISS-style distance-ratio heuristic), floored at `minProbe`
    * cells and capped at `maxProbe`. A query that lands deep inside one
    * cell pays `minProbe`; a boundary query — exactly the kind fixed
    * nprobe misses on — escalates toward `maxProbe`. Average probe cost
    * tracks the data's boundary mass instead of its worst case, so at
    * corpus scale this dominates raising a global nprobe. Deterministic:
    * the rule is a pure per-row function of (query, centroids), and
    * in-cell ranking stays exact. Escalation monotonicity (recall ≥
    * the fixed-`minProbe` search, per query) is pinned in
    * SimilaritySpec. */
  def ivfSearchAssignedAdaptive(assigned: DataFrame,
                                centroids: Array[(Int, Array[Double])],
                                queries: DataFrame, idCol: String, vecCol: String,
                                k: Int, minProbe: Int = 4, maxProbe: Int = 10,
                                ratioPpm: Long = 2000000L): DataFrame = {
    val a = assigned.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_v"), col("cell"))
    val dvQ = queries.select(col(idCol), col(vecCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val probes = probeCellsAdaptive(dvQ, centroids, minProbe, maxProbe, ratioPpm)
      .select(col(idCol).as("query_id"), col(vecCol).as("q_v"), col("cell"))
    rankWithinProbes(a, probes, k)
  }

  /** [[ivfSearchAssignedAdaptive]] over a PERSISTED cell-bucketed
    * assignment layout ([[graft.sources.PrunedIndex]] written with
    * key = cell): the probe resolves its adaptive cell set FIRST, then
    * reads ONLY those cells' bucket files — at corpus scale the scan
    * cost is probe-bounded (≈ nprobe/nCells of the index bytes,
    * listing-free via the manifest sidecar), not corpus-bounded. This
    * is the t119 pruned-postings story applied to the embedding
    * family: cell plays the role BM25's term plays, and the same
    * completeness argument holds — a vector's rows live in exactly one
    * cell, so the pruned view contains every row of every probed cell
    * (search results are identical to the flat read, pinned in
    * SimilaritySpec and by t130's must-equal-t112 oracle).
    * Write the layout with [[writeAssignedPruned]]. */
  def ivfSearchPrunedAdaptive(spark: SparkSession, indexPath: String,
                              centroids: Array[(Int, Array[Double])],
                              queries: DataFrame, idCol: String, vecCol: String,
                              k: Int, minProbe: Int = 4, maxProbe: Int = 10,
                              ratioPpm: Long = 2000000L): DataFrame = {
    val dvQ = queries.select(col(idCol), col(vecCol),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    val probeRows = probeCellsAdaptive(dvQ, centroids, minProbe, maxProbe, ratioPpm)
    val pruned = graft.sources.PrunedIndex.readPruned(
      spark, indexPath, probeRows.select(col("cell")))
    val a = pruned.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_v"), col("cell"))
    rankWithinProbes(a,
      probeRows.select(col(idCol).as("query_id"), col(vecCol).as("q_v"), col("cell")), k)
  }

  /** Persist an assignment index in the cell-bucketed pruned layout
    * [[ivfSearchPrunedAdaptive]] probes. Maintenance stays the t112
    * group-merge: rebuild-and-rewrite the layout from the merged
    * assignment per index version (the layout is derived state; the
    * assignment frame remains the source of truth). */
  def writeAssignedPruned(assigned: DataFrame, idCol: String, vecCol: String,
                          path: String, numBuckets: Int): Unit =
    graft.sources.PrunedIndex.write(
      assigned.select(col(idCol), col(vecCol), col("cell")),
      path, Seq("cell"), numBuckets)

  /** Per-query adaptive probe set (distance-ratio rule; see
    * [[ivfSearchAssignedAdaptive]]). Squared distances are ≥ 0
    * mathematically; the expansion can go fractionally negative in
    * floating point, so the ratio test clamps d2min at 0 — a clamp of
    * the same per-row arithmetic on both sides, still deterministic. */
  private def probeCellsAdaptive(dvQ: DataFrame, centroids: Array[(Int, Array[Double])],
                                 minProbe: Int, maxProbe: Int,
                                 ratioPpm: Long): DataFrame = {
    import graft.functions.VectorFunctions.dot
    require(minProbe >= 1 && maxProbe >= minProbe,
      s"need 1 <= minProbe <= maxProbe; got ($minProbe, $maxProbe)")
    val v2 = dot(col("v"), col("v"))
    val scored = centroids.map { case (cell, c) =>
      val cCol = array(c.map(lit): _*)
      val d2 = v2 - lit(2.0) * dot(col("v"), cCol) + lit(c.map(x => x * x).sum)
      struct(d2.as("d2"), lit(cell).as("cell"))
    }
    val sorted = array_sort(array(scored: _*))
    val d2min = greatest(element_at(sorted, 1).getField("d2"), lit(0.0))
    val nNear = filter(sorted,
      c => greatest(c.getField("d2"), lit(0.0)) * lit(1000000.0) <=
        lit(ratioPpm.toDouble) * d2min)
    val nProbe = greatest(lit(minProbe),
      least(lit(maxProbe), size(nNear)))
    dvQ.withColumn("cell", explode(slice(sorted, lit(1), nProbe).getField("cell")))
  }

  /** IVF search over a k-means index: corpus pre-assigned to its
    * nearest centroid; each query probes the `nprobe` nearest cells and
    * ranks exactly within them. */
  def ivfKmeansTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                    k: Int, nCells: Int = 16, nprobe: Int = 4, iters: Int = 3): DataFrame = {
    val centroids = kMeansCentroids(corpus, idCol, vecCol, nCells, iters)
    ivfSearchAssigned(ivfAssignedIndex(corpus, idCol, vecCol, centroids),
      centroids, queries, idCol, vecCol, k, nprobe)
  }

  /** Recall of an ANN result against the exact brute-force answer over
    * the same queries: per query, the fraction of true top-k neighbors
    * the ANN result found. Both inputs use the (query_id, neighbor_id)
    * shape [[bruteTopK]]/[[ivfTopK]]/[[ivfKmeansTopK]] emit. Output is
    * integer-valued (counts + floor'd ppm) so it is bit-reproducible
    * across engines and partitionings — the driver-checkable quality
    * gate for approximate search (both frames are query-count-sized;
    * the join is a few rows per query, nothing corpus-scale). */
  def recallAtK(ann: DataFrame, brute: DataFrame, floorPpm: Long = 500000L): DataFrame = {
    val hits = ann.select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1L))
    brute.select(col("query_id"), col("neighbor_id"))
      .join(hits, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_brute"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_brute"), col("n_hits"),
        floor(col("n_hits") * lit(1000000L) / col("n_brute")).cast("long").as("recall_ppm"))
      .withColumn("floor_ok", (col("recall_ppm") >= lit(floorPpm)).cast("int"))
  }

  /** The `nprobe` nearest cells per query row (same L2 scoring);
    * `private[llm]` so [[GraphAnn]] routes with the identical rule. */
  private[llm] def probeCells(dvQ: DataFrame, centroids: Array[(Int, Array[Double])],
                         nprobe: Int): DataFrame = {
    import graft.functions.VectorFunctions.dot
    val v2 = dot(col("v"), col("v"))
    val scored = centroids.map { case (cell, c) =>
      val cCol = array(c.map(lit): _*)
      val d2 = v2 - lit(2.0) * dot(col("v"), cCol) + lit(c.map(x => x * x).sum)
      struct(d2.as("d2"), lit(cell).as("cell"))
    }
    dvQ.withColumn("__cells", slice(array_sort(array(scored: _*)), 1, nprobe))
      .withColumn("cell", explode(col("__cells.cell")))
      .drop("__cells")
  }

  /** Exact top-k by EUCLIDEAN distance — the metric twin of
    * [[bruteTopK]], and the ground truth for [[pqTopK]] (PQ's ADC
    * approximates L2, so recall must be graded against the L2
    * ranking). Same plan shape: queries broadcast, one corpus scan. */
  def bruteTopKL2(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("dist", l2Distance(col("q_v"), col("c_v")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  // ==== Product quantization (Jégou, Douze, Schmid: "Product
  // quantization for nearest neighbor search", IEEE TPAMI 2011) ====

  /** Train PQ codebooks: the `dim`-dimensional space splits into `m`
    * contiguous subspaces of dim/m, and each runs the deterministic
    * decimal-exact k-means of [[kMeansCentroids]] independently.
    * Returns [subspace][code][subdim] — m·ksub·(dim/m) doubles of
    * bounded control-plane state (the BPE-merge-table class).
    *
    * Why PQ at 100 TB: an encoded vector is `m` small ints instead of
    * `dim` floats (64-dim float → 8 codes = 32× less memory), so the
    * candidate scan works over a corpus that fits where the raw
    * vectors never would; the codebooks are trained once and persist
    * via [[pqIndex]] — new batches encode against them without
    * touching old data (the incremental-gate pattern again). */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, iters: Int = 3): Array[Array[Array[Double]]] = {
    import corpus.sparkSession.implicits._
    val dim = corpus.select(size(col(vecCol)).as("d")).head().getInt(0)
    require(dim % m == 0, s"vector dim $dim must be divisible by m=$m subspaces")
    val d = dim / m
    // All m subspaces train JOINTLY — the math is identical to m
    // independent [[kMeansCentroids]] runs over the sliced subvectors
    // (same xxhash64-seed ids, same decimal-exact means, same
    // vanish-when-empty cell behavior), but each round is ONE Spark job
    // over the exploded (id, j, v_sub) frame instead of one per
    // subspace: m× fewer driver round-trips, same result.
    val seeds = corpus
      .select(col(idCol).as("id"), transform(col(vecCol), x => x.cast("double")).as("v"))
      .withColumn("h", xxhash64(col("id")))
      .orderBy(col("h"), col("id")).limit(ksub)
      .select("v").as[Seq[Double]].collect()
    // state: per subspace, the PRESENT cells (a cell with no members
    // vanishes for later rounds, mirroring kMeansCentroids)
    var books: Array[Array[(Int, Array[Double])]] = Array.tabulate(m) { j =>
      seeds.zipWithIndex.map { case (v, i) => (i, v.slice(j * d, j * d + d).toArray) }
    }
    val subs = corpus.select(col(idCol).as("id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        jj => slice(transform(col(vecCol), x => x.cast("double")), jj * lit(d) + 1, lit(d))))
        .as(Seq("j", "v")))
    for (_ <- 0 until iters) {
      val v2 = dot(col("v"), col("v"))
      val cands = books.zipWithIndex.flatMap { case (cb, j) =>
        cb.map { case (cell, c) =>
          val d2 = v2 - lit(2.0) * dot(col("v"), array(c.map(lit): _*)) + lit(c.map(x => x * x).sum)
          struct(when(col("j") === j, d2).otherwise(lit(Double.MaxValue)).as("d2"),
            lit(cell).as("cell"))
        }
      }
      val means = subs
        .withColumn("cell", array_min(array(cands.toIndexedSeq: _*)).getField("cell"))
        .select(col("j"), col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("j"), col("cell"), col("dim"))
        .agg((sum(col("x").cast("decimal(38,20)")).cast("double") / count(lit(1))).as("mean"))
        .as[(Int, Int, Int, Double)].collect()
      val byJ = means.groupBy(_._1)
      books = books.zipWithIndex.map { case (prev, j) =>
        byJ.get(j) match {
          case None => prev
          case Some(xs) =>
            xs.groupBy(_._2).map { case (cell, ys) =>
              val arr = new Array[Double](d)
              ys.foreach { case (_, _, dd, mm) => arr(dd) = mm }
              (cell, arr)
            }.toArray.sortBy(_._1)
        }
      }
    }
    books.map(_.map(_._2))
  }

  /** Persistable PQ index: one (subspace, code, centroid) row per
    * codebook entry — write it once, [[codebooksOf3]] it back, encode
    * every later delta against it. */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int, ksub: Int, iters: Int = 3): DataFrame = {
    import corpus.sparkSession.implicits._
    pqCodebooks(corpus, idCol, vecCol, m, ksub, iters).zipWithIndex.toSeq
      .flatMap { case (cb, j) => cb.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) } }
      .toDF("subspace", "code", "centroid")
  }

  /** Load a persisted [[pqIndex]] back into the codebook matrix. */
  def codebooksOf3(index: DataFrame): Array[Array[Array[Double]]] = {
    import index.sparkSession.implicits._
    index.select(col("subspace").cast("int"), col("code").cast("int"), col("centroid"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3.toArray))
  }

  /** Encode vectors to their per-subspace nearest-centroid codes:
    * (id, codes array<int>) — the compressed corpus representation.
    * One narrow codegen'd scan, no shuffle; |q_sub|² is dropped from
    * the argmin (a per-row constant shift cannot change it). */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val d = codebooks(0)(0).length
    val codeCols = codebooks.zipWithIndex.map { case (cb, j) =>
      val sub = transform(slice(col(vecCol), j * d + 1, d), x => x.cast("double"))
      val scored = cb.zipWithIndex.map { case (c, code) =>
        struct((lit(-2.0) * dot(sub, array(c.map(lit): _*)) + lit(c.map(x => x * x).sum)).as("d2"),
          lit(code).as("code"))
      }
      array_min(array(scored: _*)).getField("code")
    }
    corpus.select(col(idCol), array(codeCols.toIndexedSeq: _*).as("codes"))
  }

  /** Top-k by asymmetric-distance computation over an encoded corpus:
    * approx ‖q−x‖² = Σⱼ ‖q_j − c_{j,code_j}‖², computed from the raw
    * query subvector against the code's centroid (ADC — the accurate
    * variant; the query is never quantized). The codebook tables ride
    * into codegen as literal arrays indexed by the code column; the
    * corpus side touches only (id, codes). Deterministic: fixed
    * subspace order, ties on neighbor id. */
  def pqSearch(encoded: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val d = codebooks(0)(0).length
    val q = queries.select(col(idCol).as("query_id"),
      transform(col(vecCol), x => x.cast("double")).as("q_v"))
    val pairs = encoded.select(col(idCol).as("neighbor_id"), col("codes"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))
    val approxD2 = codebooks.zipWithIndex.map { case (cb, j) =>
      val qsub = slice(col("q_v"), j * d + 1, d)
      val codeJ = element_at(col("codes"), j + 1)
      val cvec = element_at(array(cb.map(c => array(c.map(lit): _*)): _*), codeJ + 1)
      val cn2 = element_at(array(cb.map(c => lit(c.map(x => x * x).sum)): _*), codeJ + 1)
      dot(qsub, qsub) - lit(2.0) * dot(qsub, cvec) + cn2
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id")).orderBy(col("approx_d2"), col("neighbor_id"))
    pairs.withColumn("approx_d2", approxD2)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_d2"))
  }

  /** ADC shortlist + exact re-rank — the standard PQ pipeline shape
    * (TPAMI'11 §V): the COMPRESSED corpus (codes only) is scanned for
    * the top `k·refine` ADC candidates per query, then just those
    * shortlisted rows fetch their raw vectors for an exact L2 re-rank
    * to top-k. Quantization error then only costs recall when a true
    * neighbor falls outside the shortlist, not on every rank swap
    * inside it. At 100 TB the second pass touches ~(k·refine/corpus)
    * of the id+vector columns — a point lookup against a bucketed
    * table, not a rescan; the full-width scan only ever reads codes. */
  def pqSearchRefined(encoded: DataFrame, corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String,
                      codebooks: Array[Array[Array[Double]]],
                      k: Int, refine: Int): DataFrame = {
    val shortlist = pqSearch(encoded, queries, idCol, vecCol, codebooks, k * refine)
      .select(col("query_id"), col("neighbor_id"))
    val withVecs = shortlist
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"))),
        Seq("query_id"))
      .withColumn("dist", l2Distance(col("q_v"), col("c_v")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist"), col("neighbor_id"))
    withVecs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("dist"))
  }

  /** Train + encode + search in one call (batch form; for the
    * incremental path persist [[pqIndex]] and call [[pqEncode]] /
    * [[pqSearch]] yourself). `refine` > 1 re-ranks the `k·refine` ADC
    * shortlist exactly ([[pqSearchRefined]]); `refine` = 1 returns raw
    * ADC ranks. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, m: Int = 8, ksub: Int = 16, iters: Int = 3,
             refine: Int = 1): DataFrame = {
    val cbs = pqCodebooks(corpus, idCol, vecCol, m, ksub, iters)
    val enc = pqEncode(corpus, idCol, vecCol, cbs)
    if (refine <= 1) pqSearch(enc, queries, idCol, vecCol, cbs, k)
    else pqSearchRefined(enc, corpus, queries, idCol, vecCol, cbs, k, refine)
  }

  /** Deterministic IVF index: centroids = the `nCells` lowest-id vectors
    * (a fixed, seedless choice — swap in k-means for quality; the plan
    * shape is what matters), corpus assigned to nearest centroid. */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String, nCells: Int): DataFrame = {
    val centroids = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("cent_v"))
    val scored = corpus.select(col(idCol), col(vecCol))
      .join(broadcast(centroids), lit(true))
      .withColumn("cd", cosine(col(vecCol), col("cent_v")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("cd").desc, col("cell_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col(vecCol), col("cell_id"))
  }

  /** Per-label centroid geometry report: the class-separation audit an
    * embedding-labeled corpus gets before the labels are trusted for
    * curation (are "label clusters" actually distinct directions, or is
    * the classifier noise?). Returns the cosine between every centroid
    * pair as integer ppm.
    *
    * Engine-portable exactness: each float component is first floored
    * to integer ppm (`floor(v·1e6 + 1e-4)`, the house boundary guard),
    * so per-label component sums and the truncating mean are EXACT
    * 64-bit integer arithmetic — partition-order-independent where a
    * naive double mean is not. Dot products and squared norms of the
    * integer centroids are again exact; only the final
    * `dot / (√na·√nb)` runs in doubles (IEEE sqrt/div are correctly
    * rounded, so both engines agree bit-for-bit).
    *
    * Scale shape: posexplode → one thin (label, pos) aggregation — the
    * shuffle carries ≤ |labels|·dim accumulator rows regardless of
    * corpus size; the pairwise stage is a broadcast self-join of the
    * ≤ |labels|·dim centroid table. No corpus-sized join anywhere.
    *
    * @return (label_a, label_b, cos_ppm), label_a < label_b.
    */
  def labelCentroidCosines(embs: DataFrame, labelCol: String,
                           vecCol: String): DataFrame = {
    val comps = embs.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * 1e6 + 1e-4).cast("long").as("v_ppm"))
    val cents = comps.groupBy(col("label"), col("pos"))
      .agg(sum(col("v_ppm")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), expr(
        "CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END").as("c"))
    val a = cents.select(col("label").as("label_a"), col("pos"),
      col("c").as("ca"))
    val b = cents.select(col("label").as("label_b"), col("pos"),
      col("c").as("cb"))
    a.join(broadcast(b), Seq("pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("ca") * col("cb")).as("dot"),
        sum(col("ca") * col("ca")).as("na"),
        sum(col("cb") * col("cb")).as("nb"))
      .select(col("label_a"), col("label_b"),
        when(col("na") === 0 || col("nb") === 0, lit(0L))
          .otherwise(floor(col("dot").cast("double")
            / sqrt(col("na").cast("double")) / sqrt(col("nb").cast("double"))
            * 1e6 + 1e-4).cast("long")).as("cos_ppm"))
  }

  /** IVF search: probe the `nprobe` nearest cells per query, exact top-k
    * within the probed subset. Approximate (recall < 1 when a true
    * neighbor lives in an unprobed cell) but deterministic. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nCells: Int = 16, nprobe: Int = 4): DataFrame = {
    val assigned = ivfAssign(corpus, idCol, vecCol, nCells)
    val centroids = corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("cent_v"))

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"))
    val qCells = q.join(broadcast(centroids), lit(true))
      .withColumn("cd", cosine(col("q_v"), col("cent_v")))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cd").desc, col("cell_id"))
    val probes = qCells.withColumn("rn", row_number().over(wq)).filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_v"), col("cell_id"))

    val scored = assigned.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"), col("cell_id"))
      .join(broadcast(probes), Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("q_v"), col("c_v")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      // a neighbor can appear via multiple probed cells only if assignment
      // were ambiguous — assignment is unique, so no distinct needed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos").as("cos_sim"))
  }
}
