package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.Fs
import graft.llm.{AnnIndexStore, Curation, CurationLedgerStore, NearDupIndexStore}
import graft.sinks.ParquetMergeSink
import graft.sources.PrunedIndex
import graft.store.RecordedSchema

/** The schema a store records at write time is the schema Spark would
  * infer from the files' footers, for every component of every store;
  * and a store whose sidecars are gone (written before they existed)
  * still reads — and, for the ledger, absorbs — the same rows through
  * the inference fallback. */
class RecordedSchemaSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private val PrunedSchema = "_PRUNE_SCHEMA"

  private def tree(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.toArray.map(_.asInstanceOf[Path]).toSeq finally walk.close()
  }

  private def dirsWith(root: String, sidecar: String): Seq[String] =
    tree(root).filter(_.getFileName.toString == sidecar).map(_.getParent.toString).sorted

  private def snap(df: DataFrame): (StructType, Seq[String]) =
    (df.schema, df.collect().map(_.toString).sorted.toSeq)

  /** Every dir under `root` that holds a parquet data file belongs to a
    * dir recording its schema: a plain dir itself, or a pruned layout
    * above it (bucket and delta subdirs). */
  private def unrecorded(root: String, recorded: Seq[String]): Seq[String] =
    tree(root).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.getParent.toString).distinct
      .filterNot(d => recorded.exists(r => d == r || d.startsWith(r + "/")))

  private def dropSidecars(root: String): Unit =
    tree(root).filter { p =>
      val n = p.getFileName.toString
      Seq(RecordedSchema.File, PrunedSchema).exists(s => n == s || n == s".$s.crc")
    }.foreach(Files.delete)

  /** Reads every recorded component of the store at `root` (all its
    * versions) with the sidecars, checks the plain dirs against
    * `spark.read.parquet`, then drops every sidecar and checks that each
    * component reads the same schema and rows through footer inference
    * and that `storeRead` is unchanged. `components` are names that
    * must be among the recorded dirs. */
  private def checkStore(root: String, components: Seq[String],
                         storeRead: () => Seq[String]): Unit = {
    val pruned = dirsWith(root, PrunedSchema)
    val plain = dirsWith(root, RecordedSchema.File)
    val recorded = pruned ++ plain
    assert(unrecorded(root, recorded).isEmpty, "parquet dirs without a recorded schema")
    components.foreach(c =>
      assert(recorded.exists(_.endsWith("/" + c)), s"component $c records no schema"))
    def readAll(): Map[String, (StructType, Seq[String])] =
      (pruned.map(d => d -> snap(PrunedIndex.read(spark, d))) ++
        plain.map(d => d -> snap(RecordedSchema.read(spark, d)))).toMap
    val withSidecar = readAll()
    plain.foreach(d =>
      assert(withSidecar(d) == snap(spark.read.parquet(d)), s"$d: recorded != inferred"))
    val before = storeRead()
    dropSidecars(root)
    assert(dirsWith(root, PrunedSchema).isEmpty && dirsWith(root, RecordedSchema.File).isEmpty)
    val inferred = readAll()
    recorded.foreach { d =>
      assert(inferred(d)._1 == withSidecar(d)._1, s"$d: recorded schema != inferred schema")
      assert(inferred(d)._2 == withSidecar(d)._2, s"$d: rows differ without the sidecar")
    }
    assert(storeRead() == before, "store read differs without the sidecars")
  }

  test("ParquetMergeSink: recorded == inferred; sidecar-less versions read the same rows") {
    val wh = Files.createTempDirectory("graft_recschema_sink").toString
    val v1 = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "x")
    ParquetMergeSink.merge(spark, wh, "t", v1, Seq("id"), 1L)
    ParquetMergeSink.merge(spark, wh, "t",
      Seq((2L, "B", 3.5), (3L, "c", 4.5)).toDF("id", "s", "x"), Seq("id"), 2L)
    val root = Fs.child(wh, "t")
    val versionDirs = Seq(1L, 2L).map(graft.store.VersionedRoot.versionDir(root, _))
    versionDirs.foreach(d => assert(RecordedSchema.of(d).nonEmpty, s"$d records no schema"))
    checkStore(root, Seq("v1", "v2"), () =>
      (ParquetMergeSink.readCurrent(spark, wh, "t").get.collect() ++
        ParquetMergeSink.readVersion(spark, wh, "t", 1L).get.collect())
        .map(_.toString).toSeq)
    // a merge over a sidecar-less current version records the new one
    assert(ParquetMergeSink.merge(spark, wh, "t",
      Seq((4L, "d", 5.5)).toDF("id", "s", "x"), Seq("id"), 3L) == 4L)
    assert(RecordedSchema.of(ParquetMergeSink.currentPath(wh, "t").get).nonEmpty)
    assert(ParquetMergeSink.readCurrent(spark, wh, "t").get
      .as[(Long, String, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a", 1.5), (2L, "B", 3.5), (3L, "c", 4.5), (4L, "d", 5.5)))
  }

  test("CurationLedgerStore: every component, built then absorbed") {
    val root = Files.createTempDirectory("graft_recschema_ledger").resolve("s").toString
    val p = CurationLedgerStore.Params(idCol = "doc_id", textCol = "text",
      scoreCol = "n_chars", sourceCol = "source", neardupBuckets = 8,
      idBuckets = 4, tokBuckets = 4, packBuckets = 4, hashBands = 64)
    // ids 500.. repeat docs 0.. word for word: the edge component holds pairs
    val base = Synthetic.docs(spark, 0L until 60L)
    val dups = base.filter($"doc_id" < 4L).withColumn("doc_id", $"doc_id" + 500L)
    val bench = Synthetic.docs(spark, 1000L until 1004L)
    val batch1 = Synthetic.docs(spark, 60L until 80L)
      .unionByName(Synthetic.docs(spark, Seq(5L, 9L), revision = 1))
    val batch2 = Synthetic.docs(spark, 80L until 90L)
      .unionByName(Synthetic.docs(spark, Seq(7L), revision = 1))
    CurationLedgerStore.build(spark, base.unionByName(dups), bench, "text", root, p)
    CurationLedgerStore.absorbBatch(spark, root, batch1).collect()
    def ledger(): Seq[String] =
      CurationLedgerStore.ledger(spark, root).collect().map(_.toString).sorted.toSeq
    checkStore(root, Seq("grams", "thin", "census", "censustok", "vocab", "edges",
      "bands", "mixhash", "ledger", "neardup/prefix", "neardup/sets", "neardup/dfhead"),
      () => ledger())
    // an absorb over the sidecar-less store (a store written before the
    // sidecars) still equals the from-scratch pipeline
    CurationLedgerStore.absorbBatch(spark, root, batch2).collect()
    def replace(c: DataFrame, d: DataFrame) =
      c.join(d.select($"doc_id"), Seq("doc_id"), "left_anti").unionByName(d)
    val corpus = replace(replace(base.unionByName(dups), batch1), batch2)
    val twin = Curation.fullPipelineLedger(corpus, "doc_id", "text",
      scoreCol = "n_chars", sourceCol = "source", bench = bench, benchTextCol = "text")
    val cols = Seq("doc_id", "n_tokens", "verdict").map(org.apache.spark.sql.functions.col)
    assert(CurationLedgerStore.ledger(spark, root).select(cols: _*).collect().toSet ==
      twin.select(cols: _*).collect().toSet)
  }

  test("NearDupIndexStore: every text family, built then appended") {
    val root = Files.createTempDirectory("graft_recschema_nd").resolve("s").toString
    def text(i: Int): String = (0 until 12).map(j => s"s${i}z$j").mkString(" ")
    NearDupIndexStore.build(spark, (0 until 20).map(i => (i.toLong, text(i)))
      .toDF("doc_id", "text"), "doc_id", "text", root, numBuckets = 4,
      withContainment = true, minhash = Some((16, 8)), winnowing = Some((12, 8)),
      fuzzyKey = Some((64, 3)))
    NearDupIndexStore.appendDelta(spark, root,
      Seq((100L, text(7)), (101L, text(41)), (5L, text(5) + " revised"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val probe = Seq((200L, text(3)), (201L, text(12) + " x")).toDF("doc_id", "text")
    def pairs(): Seq[String] = {
      val out = Seq(
        NearDupIndexStore.pairsForDelta(spark, root, probe, "doc_id", "text"),
        NearDupIndexStore.containmentPairsForDelta(spark, root, probe, "doc_id", "text"),
        NearDupIndexStore.minhashPairsForDelta(spark, root, probe, "doc_id", "text"),
        NearDupIndexStore.winnowingPairsForDelta(spark, root, probe, "doc_id", "text"))
        .zipWithIndex.flatMap { case (df, i) => df.collect().map(r => s"$i $r") }.sorted
      NearDupIndexStore.releaseProbeCache(root, probe, "doc_id", "text")
      out
    }
    checkStore(root, Seq("prefix", "sets", "dfhead", "postings", "dfcensus", "cthead",
      "bands", "win/byid", "win/postings", "win/dfcensus", "fuzzy/segs", "fuzzy/byid"),
      () => pairs())
  }

  test("AnnIndexStore (PQ on): every component, built then appended") {
    val root = Files.createTempDirectory("graft_recschema_ann").resolve("s").toString
    val p = AnnIndexStore.Params(nCells = 4, iters = 2, numBuckets = 4, m = 4,
      efConstruction = 12, multiAssign = 1, pqM = 4, pqKsub = 8, idBuckets = 4)
    AnnIndexStore.build(spark, Synthetic.embeddings(spark, 0L until 120L),
      "vec_id", "embedding", root, p)
    AnnIndexStore.appendDelta(spark, root,
      Synthetic.embeddings(spark, 120L until 130L), "vec_id", "embedding", p)
    val queries = Synthetic.embeddings(spark, 0L until 5L)
    checkStore(root, Seq("centroids", "assigned", "graph", "pqbooks", "codes", "vecsbyid"),
      () => AnnIndexStore.searchPq(spark, root, queries, "vec_id", "embedding", k = 5)
        .collect().map(_.toString).sorted.toSeq)
  }
}
