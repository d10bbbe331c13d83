package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{normalizeText, tokens}
import graft.llm.{AnnIndexStore, CurationLedgerStore, NearDupIndexStore, Retrieval}

/** Store-probe slope harness: does a CONSTANT-size operation on a graft
  * store grow with the operation (flat-ish) or with the corpus? For
  * each corpus factor a mode prepares its corpus and store (one-time,
  * reused from `workDir` when a previous run left them) and hands back
  * its ops; each op runs `reps` times and the MIN is the statistic
  * (stall windows cannot produce a min — the SlopeGate convention).
  * Every op's `probe_over_x1` is its min wall over the first factor's;
  * a gated op past `budget` at the last factor is a breach and the
  * process exits 2 — the delta-bounded claim is regression-tested, not
  * re-argued.
  *
  * Two conditions a real 100 TB corpus satisfies must hold in the
  * synthetic one, or the claim is untestable:
  *
  *  - VOCABULARY grows with the corpus (Heaps' law). The raw synthetic
  *    documents are word salad over 31 words — at any scale every
  *    shingle is corpus-hot and every probe key's postings grow
  *    linearly no matter the layout. The text modes therefore suffix
  *    tokens with their doc's class residue: class COUNT grows ∝
  *    corpus, class SIZE stays constant, so a probed key's postings
  *    are corpus-size-independent — the tail-shingle shape of a real
  *    crawl.
  *  - BUCKETS (and ANN cells) are sized to the corpus (`∝ factor`, the
  *    [[graft.sources.PrunedIndex]] sizing rule), so a probe's
  *    touched-bucket reads stay delta-proportional.
  *
  * Modes:
  *  - `store`: the unified near-dup store ([[NearDupIndexStore]]);
  *    jaccard / containment / winnowing / minhash pairs of an
  *    `n`-doc re-upload delta.
  *  - `pruned`: a fixed `n`-term BM25 probe over the bucketed
  *    [[graft.sources.PrunedIndex]] postings layout against the flat
  *    layout (ungated reference; both must return the same rows).
  *  - `ann`: the versioned ANN store ([[AnnIndexStore]]), flat and
  *    two-level; graph and IVF-PQ search, SemDeDup delta probe,
  *    append and drift check of `n` vectors.
  *  - `ledger`: the curation-ledger store ([[CurationLedgerStore]]);
  *    the absorb of an `n`-doc re-upload batch (each rep into the
  *    pristine store) and a pruned lookup of the batch ids.
  *
  * Usage: `runMain graft.StoreProbe <store|pruned|ann|ledger> <baseSfDir>
  *   [workDir] [factorsCsv] [n] [reps] [shape] [buckets] [budget]`,
  * where `shape` is classes per ×1 (store, ledger), vocabulary classes
  * (pruned) or vectors per cell (ann), and `buckets` is buckets per ×1
  * (the pruned mode's bucket count is fixed). */
object StoreProbe {

  /** One timed operation; `reset` runs untimed before every rep. An
    * ungated op is a reference: reported, never a breach. */
  private final case class Op(name: String, run: () => Long,
                              reset: () => Unit = () => (), gated: Boolean = true)

  private final case class Args(baseDir: String, workDir: String, factors: Seq[Int],
                                n: Int, reps: Int, shape: Int, buckets: Int, budget: Double)

  /** A mode's default factors, shape and buckets, and its preparation of
    * one factor's corpus, store and ops. */
  private final case class Mode(factors: String, shape: Int, buckets: Int,
                                prepare: (SparkSession, Args, Int) => Seq[Op])

  private val modes: Map[String, Mode] = Map(
    "store" -> Mode("1,10,50", 50, 64, storeOps),
    "pruned" -> Mode("1,10", 500, 1024, prunedOps),
    "ann" -> Mode("1,10,50", 500, 8, annOps),
    "ledger" -> Mode("1,10,50", 50, 8, ledgerOps))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && modes.contains(args(0)),
      s"usage: StoreProbe <${modes.keys.toSeq.sorted.mkString("|")}> <baseSfDir> " +
        "[workDir] [factorsCsv] [n] [reps] [shape] [buckets] [budget]")
    val name = args(0)
    val mode = modes(name)
    def arg(i: Int, default: Any): String =
      if (args.length > i) args(i) else default.toString
    val a = Args(args(1), arg(2, s"target/storeprobe-$name"),
      arg(3, mode.factors).split(",").map(_.trim.toInt).toSeq,
      arg(4, 100).toInt, arg(5, 3).toInt, arg(6, mode.shape).toInt,
      arg(7, mode.buckets).toInt, arg(8, 10.0).toDouble)
    val spark = GraftSession.build(s"graft-storeprobe-$name")

    // per factor: (factor, prep wall, [(op, first wall, min wall, rows)])
    val cells = a.factors.map { f =>
      val t0 = System.nanoTime()
      val ops = mode.prepare(spark, a, f)
      val prepSec = (System.nanoTime() - t0) / 1e9
      val timed = ops.map { op =>
        val runs = (1 to a.reps).map { _ =>
          op.reset()
          val t1 = System.nanoTime()
          val rows = op.run()
          ((System.nanoTime() - t1) / 1e9, rows)
        }
        val (first, rows) = runs.head
        val min = runs.map(_._1).min
        println(s"""{"metric":"store_probe","mode":"$name","op":"${op.name}",""" +
          s""""factor":$f,"prep_sec":$prepSec,"first_sec":$first,""" +
          s""""probe_sec":$min,"rows":$rows}""")
        (op, first, min, rows)
      }
      GraftSession.release(spark)
      (f, prepSec, timed)
    }
    val baseMin = cells.head._3.map { case (op, _, min, _) => op.name -> min }.toMap
    def ratio(op: Op, min: Double): Double = min / baseMin(op.name)
    val breaches = cells.last._3.collect {
      case (op, _, min, _) if op.gated && ratio(op, min) > a.budget => op.name -> ratio(op, min)
    }
    val scales = cells.map { case (f, prepSec, timed) =>
      val ops = timed.map { case (op, first, min, rows) =>
        s""""${op.name}":{"probe_sec":$min,"first_sec":$first,"rows":$rows,""" +
          s""""probe_over_x1":${ratio(op, min)}}"""
      }.mkString("{", ",", "}")
      s""""x$f":{"prep_sec":$prepSec,"ops":$ops}"""
    }.mkString("{", ",", "}")
    val breachesJson = breaches
      .map { case (op, r) => s"""{"op":"$op","ratio":$r}""" }.mkString("[", ",", "]")
    println(s"""{"metric":"store_probe_summary","mode":"$name","n":${a.n},""" +
      s""""reps":${a.reps},"shape":${a.shape},"buckets":${a.buckets},""" +
      s""""budget":${a.budget},"breaches":$breachesJson,""" +
      s""""pass":${breaches.isEmpty},"scales":$scales}""")
    spark.stop()
    if (breaches.nonEmpty) sys.exit(2)
  }

  /** The copy-0 rows of the first `n` base ids of a factor-`f` corpus —
    * the same constant-size set at every factor. */
  private def headRows(df: DataFrame, idCol: String, f: Int, n: Int): DataFrame =
    df.filter(pmod(col(idCol), lit(f.toLong)) === 0L && col(idCol) < lit(n.toLong * f))

  /** `factor` copies of the base docs with every token suffixed by the
    * doc's class residue — vocabulary ∝ corpus, class size constant. */
  private def classedDocsDf(spark: SparkSession, baseDir: String, factor: Int,
                            classesBase: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    val nClasses = classesBase * factor
    base.crossJoin(copies)
      .select((col("doc_id") * factor + col("copy")).as("doc_id"), col("text"))
      .select(col("doc_id"), array_join(
        transform(split(col("text"), " "),
          t => concat(t, lit("_"),
            pmod(col("doc_id"), lit(nClasses)).cast("string"))), " ")
        .as("text"))
  }

  /** One store carrying the jaccard + containment + winnowing + minhash
    * families, probed with the same `n` re-uploads (each with a trailer
    * — near-dups of their stored revision, vocabulary-matched to their
    * class). */
  private def storeOps(spark: SparkSession, a: Args, f: Int): Seq[Op] = {
    val docs = spark.read.parquet(ScaledSfDir.once(s"${a.workDir}/docs_c${a.shape}_x$f")(
      classedDocsDf(spark, a.baseDir, f, a.shape)))
    val root = s"${a.workDir}/store_c${a.shape}_x$f"
    if (NearDupIndexStore.currentVersion(root).isEmpty)
      NearDupIndexStore.build(spark, docs, "doc_id", "text", root,
        numBuckets = a.buckets * f, withContainment = true,
        winnowing = Some((16, 8)), minhash = Some((64, 16)))
    val delta = headRows(docs, "doc_id", f, a.n)
      .select(col("doc_id"),
        concat(col("text"), lit(" storeprobe_rev2_trailer")).as("text"))
      .localCheckpoint()
    Seq(
      Op("jaccard", () => NearDupIndexStore.pairsForDelta(
        spark, root, delta, "doc_id", "text").count()),
      Op("containment", () => NearDupIndexStore.containmentPairsForDelta(
        spark, root, delta, "doc_id", "text", maxDf = 16).count()),
      Op("winnowing", () => NearDupIndexStore.winnowingPairsForDelta(
        spark, root, delta, "doc_id", "text", minShared = 8, maxDf = 16).count()),
      Op("minhash", () => NearDupIndexStore.minhashPairsForDelta(
        spark, root, delta, "doc_id", "text").count()))
  }

  /** `factor` copies of the base docs (copy-unique ids, no junk
    * extension — BM25 probing needs vocabulary, not near-dup realism)
    * with every token suffixed by the doc's id-residue class; a term's
    * postings still live wholly in one bucket. */
  private def expandedDocsDf(spark: SparkSession, baseDir: String, factor: Int,
                             vocabClasses: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    base.crossJoin(copies)
      .select((col("doc_id") * factor + col("copy")).as("doc_id"), col("text"))
      .select(col("doc_id"), array_join(
        transform(tokens(normalizeText(col("text"))),
          t => concat(t, lit("_"),
            pmod(col("doc_id"), lit(vocabClasses)).cast("string"))), " ")
        .as("text"))
  }

  /** The SELECTIVE probe the bucketed layout exists for — what t119
    * cannot measure, since its corpus-derived query set hits ~all
    * buckets. The probe is a FIXED `n`-term set, the first terms of the
    * ×1 vocabulary by (md5(term), term): deterministic, spread
    * uniformly over buckets, present at every scale. `first_sec` of
    * the pruned op is the first-probe cost of an index version (no
    * bucket discovery left to amortize, with the manifest sidecar). */
  private def prunedOps(spark: SparkSession, a: Args, f: Int): Seq[Op] = {
    def postings(factor: Int): DataFrame = Retrieval.postings(spark.read.parquet(
      ScaledSfDir.once(s"${a.workDir}/docs_v${a.shape}_x$factor")(
        expandedDocsDf(spark, a.baseDir, factor, a.shape))), "doc_id", "text")
    // frozen per factor (the harness releases checkpoints between
    // factors); the ordered limit makes it the same rows every time
    val queries = postings(1).select(col("term")).distinct()
      .orderBy(md5(col("term")), col("term"))
      .limit(a.n)
      .select(monotonically_increasing_id().as("query_id"), col("term").as("qtext"))
      .localCheckpoint()
    val post = postings(f)
    val flat = ScaledSfDir.once(s"${a.workDir}/v${a.shape}_x${f}_flat")(post)
    val bkt = s"${a.workDir}/v${a.shape}_x${f}_bucketed"
    // a layout without its manifest (an older run's) must rebuild, or
    // the first probe falls back to directory listing
    if (!graft.fs.Fs.exists(s"$bkt/postings/_SUCCESS") ||
        !graft.fs.Fs.exists(s"$bkt/postings/_PRUNE_MANIFEST"))
      Retrieval.writeBm25Index(post, bkt, a.buckets)
    var flatRows = -1L
    Seq(
      Op("flat", () => {
        flatRows = Retrieval.bm25TopKFromIndex(
          spark.read.parquet(flat), queries, "query_id", "qtext", k = 5).count()
        flatRows
      }, gated = false),
      Op("pruned", () => {
        val rows = Retrieval.bm25TopKFromPrunedIndex(
          spark, bkt, queries, "query_id", "qtext", k = 5).count()
        require(rows == flatRows,
          s"layout changed results at x$f: flat=$flatRows pruned=$rows")
        rows
      }))
  }

  /** Recursive byte size of a local directory (0 when absent). */
  private def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally walk.close()
    }
  }

  /** Two stores over [[ScaledSfDir.scaledEmbeddingsDf]]'s rotated
    * corpus (copies rotated, not duplicated — no degenerate
    * identical-vector cells): a FLAT one whose cells grow ∝ corpus
    * ([[AnnIndexStore.autoCells]] at `shape` vectors per cell), and a
    * HIERARCHICAL one with a CONSTANT 4-cell coarse matrix (driver state
    * never grows) and sub-cells ∝ corpus. Before the ops, each store's
    * v1 bytes per component are printed against the raw corpus bytes —
    * the storage amplification a 100 TB embedding bill pays. The
    * `append` re-lands the same ids each rep (replace-by-key replay);
    * `drift` must be flat: it scores the delta against k centroids and
    * folds version metadata, never the stored corpus. */
  private def annOps(spark: SparkSession, a: Args, f: Int): Seq[Op] = {
    val corpusPath = ScaledSfDir.once(s"${a.workDir}/embeddings_x$f")(
      ScaledSfDir.scaledEmbeddingsDf(spark, a.baseDir, f))
    val corpus = spark.read.parquet(corpusPath)
    val cellTarget = a.shape.toLong
    val root = s"${a.workDir}/annstore_x$f"
    // maxFlatCells = 0: this store MEASURES the flat shape's slope —
    // the auto two-level switch must not quietly rescue it at ×50
    val p = AnnIndexStore.Params(nCells = 0, cellTarget = cellTarget,
      iters = 2, numBuckets = a.buckets * f, m = 8, efConstruction = 48,
      multiAssign = 2, pqM = 8, pqKsub = 16, idBuckets = a.buckets * f,
      maxFlatCells = 0)
    if (AnnIndexStore.currentVersion(root).isEmpty)
      AnnIndexStore.build(spark, corpus, "vec_id", "embedding", root, p)
    val rootH = s"${a.workDir}/annstore_hier_x$f"
    val nCorpus = corpus.count()
    val subCells = math.max(1L,
      (nCorpus + cellTarget * 4 - 1) / (cellTarget * 4)).toInt
    val pH = AnnIndexStore.Params(nCells = 4, iters = 2,
      numBuckets = a.buckets * f, m = 8, efConstruction = 48,
      multiAssign = 2, subCells = subCells)
    if (AnnIndexStore.currentVersion(rootH).isEmpty)
      AnnIndexStore.build(spark, corpus, "vec_id", "embedding", rootH, pH)
    // v1 is the pure build (always self-contained; `current` may be an
    // earlier run's appended stitch)
    val rawBytes = dirBytes(corpusPath)
    Seq("flat" -> root, "hier" -> rootH).foreach { case (shape, r) =>
      val comps = Option(new java.io.File(s"$r/v1").listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).sortBy(_.getName)
        .map(d => d.getName -> dirBytes(d.toString))
      val total = comps.map(_._2).sum
      println(s"""{"metric":"ann_store_bytes","shape":"$shape","factor":$f,""" +
        s""""raw_corpus_bytes":$rawBytes,"store_bytes":$total,""" +
        s""""amplification":${if (rawBytes > 0) total.toDouble / rawBytes else -1.0},""" +
        s""""components":${comps.map { case (c, b) => s""""$c":$b""" }.mkString("{", ",", "}")}}""")
    }
    val headIds = headRows(corpus, "vec_id", f, a.n)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    // the re-upload delta: same ids, vector rotated by one position — a
    // CHANGED revision, so the append exercises displacement
    val delta = headIds.select(col("vec_id"),
      concat(slice(col("embedding"), lit(2), size(col("embedding")) - 1),
        slice(col("embedding"), lit(1), lit(1))).as("embedding"))
      .localCheckpoint()
    Seq(
      Op("search_graph", () => AnnIndexStore.searchGraph(spark, root, headIds,
        "vec_id", "embedding", k = 10, nprobe = 8, efSearch = 96).count()),
      Op("search_pq", () => AnnIndexStore.searchPq(spark, root, headIds,
        "vec_id", "embedding", k = 10, nprobe = 8, refine = 4).count()),
      Op("semdedup_delta", () => AnnIndexStore.semDedupPairsForDelta(spark,
        root, delta, "vec_id", "embedding", minCos = 0.35).count()),
      Op("append", () => AnnIndexStore.appendDelta(spark, root, delta,
        "vec_id", "embedding", p)),
      Op("drift", () => AnnIndexStore.driftPpm(spark, root, delta,
        "vec_id", "embedding")),
      Op("hier_search", () => AnnIndexStore.searchGraph(spark, rootH, headIds,
        "vec_id", "embedding", k = 10, nprobe = 8, efSearch = 96,
        nprobeCoarse = 2).count()),
      Op("hier_semdedup", () => AnnIndexStore.semDedupPairsForDelta(spark,
        rootH, delta, "vec_id", "embedding", minCos = 0.35).count()),
      Op("hier_append", () => AnnIndexStore.appendDelta(spark, rootH, delta,
        "vec_id", "embedding", pH)),
      Op("hier_drift", () => AnnIndexStore.driftPpm(spark, rootH, delta,
        "vec_id", "embedding")))
  }

  /** `factor` copies of the base docs with HALF the tokens
    * (hash-selected) suffixed by the doc's class residue: an
    * all-suffixed corpus collapses every per-doc score onto one value
    * (uniform class sizes ⇒ equal lp everywhere), making the LM band
    * degenerate. The unsuffixed half keeps the base text's natural
    * token-frequency mix, so scores spread and the band population is a
    * real, narrow slice; shingles still go class-local (a 3-gram nearly
    * always contains a suffixed token), so pair postings stay bounded. */
  private def halfClassedDocsDf(spark: SparkSession, baseDir: String, factor: Int,
                                classesBase: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    val nClasses = classesBase * factor
    base.crossJoin(copies)
      .select((col("doc_id") * factor + col("copy")).as("doc_id"),
        col("text"), col("source"), col("n_chars"))
      .select(col("doc_id"), array_join(
        transform(split(col("text"), " "),
          t => when(pmod(hash(t), lit(2)) === 0,
            concat(t, lit("_"), pmod(col("doc_id"), lit(nClasses)).cast("string")))
            .otherwise(t)), " ").as("text"),
        col("source"), col("n_chars"))
  }

  /** The churn-bounded absorb: a constant `n`-doc re-upload batch
    * (trailer-token revisions — near-dups of their stored selves, with
    * real vocab/count churn). The quality floor must sit IN the score
    * distribution at every factor (total counts grow with f, so a fixed
    * floor drifts out of range and stages 3–5 degenerate): the build
    * derives it as the scaled corpus's median score, persisted in the
    * store's `_PARAMS`. EVERY absorb rep starts from the post-build
    * pristine snapshot (untimed tree copy), so min-of-reps can never
    * report a cheap replay (empty changed set, near-dup index already
    * advanced) as the absorb wall. */
  private def ledgerOps(spark: SparkSession, a: Args, f: Int): Seq[Op] = {
    val docs = spark.read.parquet(ScaledSfDir.once(s"${a.workDir}/docs_c${a.shape}_x$f")(
      halfClassedDocsDf(spark, a.baseDir, f, a.shape)))
    val root = s"${a.workDir}/ledgerstore_x$f"
    // the pristine snapshot IS the build artifact: a store without one
    // may already be absorbed (an earlier run's end state) — rebuild
    // rather than snapshot a polluted root
    val pristine = s"$root.pristine"
    if (CurationLedgerStore.currentVersion(pristine).isEmpty &&
        CurationLedgerStore.currentVersion(root).nonEmpty)
      graft.fs.Fs.deleteRecursive(root)
    if (CurationLedgerStore.currentVersion(root).isEmpty) {
      val scores = graft.llm.TextAnalysis.unigramLogProbPpmFromCensus(
        graft.llm.TextAnalysis.unigramCensus(docs, "doc_id", "text"), "doc_id")
      val floor = scores.stat
        .approxQuantile("avg_logprob_ppm", Array(0.5), 0.001)(0).toLong
      val bench = docs.filter(pmod(col("doc_id"), lit(997L)) === 0L)
      val p = CurationLedgerStore.Params(
        idCol = "doc_id", textCol = "text", scoreCol = "n_chars",
        sourceCol = "source",
        minAvgLogProbPpm = floor,
        neardupBuckets = 64 * f,
        idBuckets = a.buckets * f, tokBuckets = a.buckets * f)
      CurationLedgerStore.build(spark, docs, bench, "text", root, p)
      graft.fs.Fs.replaceLocalTree(root, pristine)
    }
    val delta = headRows(docs, "doc_id", f, a.n)
      .select(col("doc_id"),
        concat(col("text"), lit(" ledgerprobe rev2 trailer")).as("text"),
        col("source"), col("n_chars"))
      .localCheckpoint()
    val deltaIds = delta.select(col("doc_id")).localCheckpoint()
    Seq(
      Op("absorb", () => CurationLedgerStore.absorbBatch(spark, root, delta).count(),
        reset = () => graft.fs.Fs.replaceLocalTree(pristine, root)),
      Op("lookup", () => graft.sources.PrunedIndex.readPruned(spark,
        s"${CurationLedgerStore.currentPath(root).get}/ledger", deltaIds).count()))
  }
}
