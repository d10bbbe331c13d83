package graftbench

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

import graft.SparkEntry
import graft.llm.{AnnIndexStore, Curation, CurationLedgerStore, Dedup, NearDupIndexStore, Similarity}
import graft.model.{IngestEvent, TableVersion}
import graft.pipeline.{DeltaLoadPipeline, LoadReport, Orchestrator}
import graft.sinks.ParquetMergeSink

/** The workloads. Each `run` loops rounds of a fixed, seed-determined
  * script until the harness's timed phase is over (see [[Harness]]). */
object Workloads {

  private def sorted(rows: Array[Row]): Array[Row] = rows.sortBy(_.toString)

  /** Canonical pair rows: (a_id, b_id, score) with a double score as an
    * integer ppm, sorted — the shape every dedup family is compared in. */
  def pairRows(df: DataFrame): DataFrame = {
    val score = df.schema.fields.filterNot(f => f.name == "a_id" || f.name == "b_id").headOption
    val s = score.map { f =>
      if (f.dataType == DoubleType || f.dataType == FloatType)
        floor(col(f.name) * 1e6).cast("long").as("score")
      else col(f.name).cast("long").as("score")
    }.getOrElse(lit(0L).as("score"))
    df.select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id"), s)
  }

  private def diffMsg(what: String, got: Array[Row], want: Array[Row]): Option[String] = {
    val (g, w) = (got.map(_.toString).toSet, want.map(_.toString).toSet)
    if (g == w && got.length == want.length) None
    else Some(s"$what: ${got.length} rows vs ${want.length} expected; " +
      s"missing ${(w -- g).take(3).mkString(" ")} extra ${(g -- w).take(3).mkString(" ")}")
  }

  // ------------------------------------------------------------ sql_analytics
  def sqlAnalytics(h: Harness, in: String, m: JsonNode): Unit = {
    val names = SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    val tables = (0 until m.get("tables").size).map(m.get("tables").get(_).asText)
    val firstResults = scala.collection.mutable.LinkedHashMap.empty[String,
      (StructType, Array[Row])]
    var r = 1
    while (h.moreRounds) {
      h.setup(r) { _ =>
        tables.foreach(t => h.spark.read.parquet(s"$in/$t.parquet").schema)
        // warm-up: one scan-join-aggregate, result dropped
        SparkEntry.queries("q05_region_revenue")(h.spark, in).collect()
      }
      // one fixed order: the JIT and cache state each query meets is alike
      // across seeds, which halves the per-seed spread of the median
      names.iterator.takeWhile(_ => h.more).foreach { q =>
        h.op("read", q, "SparkEntry", 1, q) {
          val df = SparkEntry.queries(q)(h.spark, in)
          if (h.trace) h.span("sql.plan") { df.queryExecution.executedPlan }
          (df.schema, h.span("sql.collect") { df.collect() })
        }(x => Harness.digest(x._2)) { x =>
          // the DuckDB oracle twin compares these after the run
          firstResults(q) = x
          None
        }
      }
      if (r == 1) {
        // one file per query for the oracle compare (outside any timed op)
        val spark = h.spark
        graft.util.Par.runUnit(firstResults.toSeq.map { case (q, (schema, rows)) => () =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"${h.workDir}/sqlout/$q")
        })
        val twins = new java.util.TreeMap[String, String]()
        SparkEntry.oracleSql.foreach { case (k, v) => twins.put(k, v) }
        new com.fasterxml.jackson.databind.ObjectMapper()
          .writeValue(new java.io.File(s"${h.workDir}/oracle_sql.json"), twins)
      }
      h.stopSession()
      r += 1
    }
  }

  // ---------------------------------------------------------- etl_incremental
  def etlIncremental(h: Harness, in: String, m: JsonNode): Unit = {
    val snaps = (0 until m.get("snapshots").size).map(m.get("snapshots").get(_))
    val keys = Map("orders" -> Seq("o_orderkey"), "lineitem" -> Seq("l_orderkey", "l_linenumber"))
    val price = Map("orders" -> "o_totalprice", "lineitem" -> "l_extendedprice")
    val liveBytes = Seq("orders", "lineitem").map(t => m.get("live_bytes").get(t).asLong).sum
    val versions = snaps.map(_.get("folder").asText).distinct
    val warmup = m.get("warmup_days").asInt
    // each set-up starts a round of its own, so the measured days are spread
    // over the whole run rather than packed after three set-ups
    h.scriptRounds = Harness.SetupRepeats
    var r = 1
    while (h.moreRounds) {
      var root, wh = ""
      var pipeline: DeltaLoadPipeline = null
      var orch: Orchestrator = null
      val reports = scala.collection.mutable.Map.empty[String, LoadReport]
      def load(path: String): LoadReport = {
        val p = new java.io.File(path)
        val tv = TableVersion(IngestEvent.tableOf(p.getName), IngestEvent.versionOf(p.getParentFile.getName))
        val rep = h.span("pipeline.runOne") { pipeline.runOne(tv, path) }
        reports(path) = rep
        rep
      }
      def path(folder: String, table: String) = s"$in/ingest/$folder/$table.csv"
      // what a reader must see at (table, version): rows, key sum, price cents
      def stateCheck(table: String, rows: Array[Row], snap: JsonNode): Option[String] = {
        if (rows.isEmpty && snap.get("curated_rows").asLong != 0) return Some(s"$table: no rows")
        val k = if (rows.isEmpty) 0 else rows.head.fieldIndex(keys(table).head)
        val pc = if (rows.isEmpty) 0 else rows.head.fieldIndex(price(table))
        val got = (rows.length.toLong, rows.map(_.getAs[Number](k).longValue).sum,
          rows.map(x => math.round(x.getDouble(pc) * 100)).sum)
        val want = (snap.get("curated_rows").asLong, snap.get("key_sum").asLong,
          snap.get("cents_sum").asLong)
        if (got == want) None else Some(s"$table state $got != expected $want")
      }
      def snapOf(folder: String, table: String) =
        snaps.find(s => s.get("folder").asText == folder && s.get("table").asText == table).get
      // submit → drain → committed: one write op per snapshot file
      def loadOp(kind: String, folder: String, table: String): Unit = {
        val snap = snapOf(folder, table)
        h.op(kind, s"load.$table", "pipeline", snap.get("input_rows").asLong, s"load.$folder.$table") {
          val accepted = h.span("pipeline.submit") { orch.submit(path(folder, table)) }
          (accepted, h.span("pipeline.drain") { orch.drain() })
        }(x => s"${x._1} ${x._2.map(e => (e.status, e.attempts)).mkString}") { case (accepted, recs) =>
          val rep = reports.get(path(folder, table))
          if (!accepted) Some("submit dropped a new snapshot")
          else if (recs.size != 1 || recs.head.status != "SUCCEEDED")
            Some(s"executions ${recs.map(r => (r.status, r.error)).mkString}")
          else rep match {
            case Some(rp) if rp.processed && rp.inputRows == snap.get("input_rows").asLong &&
              rp.nullRows == snap.get("null_rows").asLong && rp.dupRows == snap.get("dup_rows").asLong &&
              rp.curatedRows == snap.get("curated_rows").asLong => None
            case other => Some(s"load report $other != planted $snap")
          }
        }
      }
      h.setup(r) { k =>
        root = s"${h.workDir}/etl/r${r}a$k"
        wh = s"$root/warehouse"
        pipeline = new DeltaLoadPipeline(h.spark, wh, s"$root/tracker", keys)
        orch = new Orchestrator(s"$root/orchestrator", load)
        Seq("orders", "lineitem").foreach { t =>
          orch.submit(path(versions.head, t))
          orch.drain()
        }
      }
      if (r == 1) h.written("sinks", wh, before = true)
      h.op("check", "initial_state", "pipeline", 0, "initial_state") {
        Seq("orders", "lineitem").map(t =>
          ParquetMergeSink.readCurrent(h.spark, wh, t).get.collect())
      }(x => x.map(Harness.digestSet).mkString) { rows =>
        Seq("orders", "lineitem").zip(rows).flatMap { case (t, rs) =>
          stateCheck(t, rs, snapOf(versions.head, t)) }.headOption
      }
      // one step per day; round 1's first `warmup` days are loaded, read and
      // checked like the rest but are not measured (kind "warmup")
      versions.tail.zipWithIndex.iterator.takeWhile(_ => h.more).foreach { case (folder, i) =>
        val prev = versions(i)
        h.step = i + 1
        def kind(k: String) = if (r == 1 && i < warmup) "warmup" else k
        Seq("orders", "lineitem").foreach { t =>
          loadOp(kind("write"), folder, t)
          // two readers of the current and of the previous version
          (1 to 2).foreach { _ =>
            h.op(kind("read"), "read_current", "sinks", 0, s"cur.$folder.$t") {
              ParquetMergeSink.readCurrent(h.spark, wh, t).get.collect()
            }(Harness.digestSet)(rows => stateCheck(t, rows, snapOf(folder, t)))
            h.op(kind("read"), "read_version", "sinks", 0, s"ver.$prev.$t") {
              ParquetMergeSink.readVersion(h.spark, wh, t, IngestEvent.versionOf(prev)).get.collect()
            }(Harness.digestSet)(rows => stateCheck(t, rows, snapOf(prev, t)))
          }
        }
        if (i == 0) {
          // the same event delivered twice: the FIFO dedup must drop it
          h.op("control", "duplicate_event", "pipeline", 0, "dup") {
            orch.submit(path(folder, "orders"))
          }(_.toString) { accepted => if (accepted) Some("duplicate event was accepted") else None }
          // an older snapshot arriving late: a new event, stopped by the strict-`>` gate
          h.op("control", "stale_replay", "pipeline", 0, "stale") {
            (orch.submit(s"$in/${m.get("late").asText}"), orch.drain())
          }(x => s"${x._1} ${x._2.map(_.status)}") { case (accepted, recs) =>
            val rep = reports.get(s"$in/${m.get("late").asText}")
            if (!accepted || recs.size != 1 || !rep.exists(!_.processed))
              Some(s"stale replay not gated: accepted=$accepted report=$rep")
            else None
          }
        }
      }
      if (ops(h, r, "load.") == 2 * (versions.size - 1)) {
        if (r == 1) h.written("sinks", wh, before = false)
        h.op("write", "vacuum", "sinks", 0, "vacuum") {
          Seq("orders", "lineitem").foreach(t => ParquetMergeSink.vacuum(wh, t, keep = 2))
        }(_ => "") { _ => None }
        // row for row against the generator's final state, parsed with the
        // store's column types
        h.op("check", "final_state", "pipeline", 0, "final") {
          Seq("orders", "lineitem").map { t =>
            val cur = ParquetMergeSink.readCurrent(h.spark, wh, t).get
            val file = s"$in/expected/$t.csv"
            val header = scala.io.Source.fromFile(file)
            val cols = try header.getLines().next().split(",") finally header.close()
            val exp = h.spark.read.option("header", "true")
              .schema(StructType(cols.map(cur.schema(_)))).csv(file)
            (t, sorted(cur.collect()), sorted(exp.select(cur.columns.map(col): _*).collect()))
          }
        }(_.map(x => Harness.digest(x._2)).mkString) { tables =>
          tables.collectFirst {
            case (t, got, want) if !got.map(_.toString).sameElements(want.map(_.toString)) =>
              diffMsg(s"final $t state vs generator", got, want)
                .getOrElse(s"final $t state vs generator: same rows, other multiplicities")
          }
        }
        if (r == 1) {
          val reps = reports.values.toSeq
          h.gauges ++= Seq(
            "sinks.store_bytes" -> Harness.dirBytes(wh).toDouble,
            "storage_amp" -> Harness.dirBytes(wh).toDouble / liveBytes,
            "pipeline.attempts" -> orch.executions().map(_.attempts).sum.toDouble,
            "pipeline.gate_skips" -> reps.count(!_.processed).toDouble)
        }
      }
      h.stopSession()
      r += 1
    }
  }

  private def ops(h: Harness, r: Int, prefix: String): Int =
    h.ops.count(o => o.round == r && o.name.startsWith(prefix))

  // --------------------------------------------------------- curation_batches
  private val ledgerParams = CurationLedgerStore.Params("doc_id", "text", "n_chars", "source",
    neardupBuckets = 8, idBuckets = 4, tokBuckets = 4, packBuckets = 4, hashBands = 64)

  /** `nearDup = false` is `curation_ledger`: the same loop over the ledger
    * store alone (no near-dup index, no probes). */
  def curationBatches(h: Harness, in: String, m: JsonNode, nearDup: Boolean): Unit = {
    val batches = (0 until m.get("batches").size).map(m.get("batches").get(_))
    val probes = if (nearDup) Seq("jaccard", "containment", "minhash", "winnowing") else Nil
    var r = 1
    while (h.moreRounds) {
      val root = s"${h.workDir}/cur/r$r"
      val nd = s"$root/neardup"
      val led = s"$root/ledger"
      def bench = h.spark.read.parquet(s"$in/bench.parquet")
      def docs(f: String) = h.spark.read.parquet(s"$in/$f")
        .select("doc_id", "text", "source", "n_chars")
      var corpus: DataFrame = null
      h.setup(r) { _ => corpus = docs("base.parquet"); bench.schema }
      // the curated ledger as its consumers read it after a batch (five
      // readers); it must equal the batch pipeline over the docs committed so
      // far, which also covers every row the build wrote and the batch left
      def ledgerReads(key: String): Unit = (1 to 5).foreach { _ =>
        h.op("read", "ledger_read", "llm.CurationLedgerStore", 0, key) {
          sorted(CurationLedgerStore.ledger(h.spark, led).collect())
        }(Harness.digest) { got =>
          val want = sorted(Curation.fullPipelineLedger(corpus, "doc_id", "text", "n_chars",
            "source", bench, "text").select(got.headOption.map(_.schema.fieldNames.toSeq)
            .getOrElse(Seq("doc_id")).map(col): _*).collect())
          diffMsg("stored ledger vs fullPipelineLedger", got, want)
        }
      }
      // the one-time store builds are the round's first write
      h.op("write", "build", "llm.CurationLedgerStore", m.get("base_docs").asLong, "build") {
        if (nearDup) h.span("NearDupIndexStore.build") {
          NearDupIndexStore.build(h.spark, corpus.select("doc_id", "text"), "doc_id", "text", nd,
            numBuckets = 8, withContainment = true, winnowing = Some((16, 8)),
            minhash = Some((64, 16)))
        }
        h.span("CurationLedgerStore.build") {
          CurationLedgerStore.build(h.spark, corpus, bench, "text", led, ledgerParams)
        }
      }(_.toString)(_ => None)
      if (r == 1) { h.written("neardup", nd, before = true); h.written("ledger", led, before = true) }
      batches.zipWithIndex.iterator.takeWhile(_ => h.more).foreach { case (b, i) =>
        val delta = docs(b.get("file").asText)
        val ids = delta.select("doc_id").collect().map(_.getLong(0)).toSet
        val after = corpus.filter(!col("doc_id").isin(ids.toSeq: _*)).unionByName(delta)
        val touches = col("a_id").isin(ids.toSeq: _*) || col("b_id").isin(ids.toSeq: _*)
        val dt = delta.select("doc_id", "text")
        probes.foreach { fam =>
          h.op("read", s"probe.$fam", "llm.NearDupIndexStore", 0, s"b$i.$fam") {
            val pairs = fam match {
              case "jaccard" => NearDupIndexStore.pairsForDelta(h.spark, nd, dt, "doc_id", "text")
              case "containment" =>
                NearDupIndexStore.containmentPairsForDelta(h.spark, nd, dt, "doc_id", "text")
              case "minhash" => NearDupIndexStore.minhashPairsForDelta(h.spark, nd, dt, "doc_id", "text")
              case "winnowing" => NearDupIndexStore.winnowingPairsForDelta(h.spark, nd, dt, "doc_id", "text")
            }
            sorted(pairRows(pairs).collect())
          }(Harness.digest) { got =>
            val a = after.select("doc_id", "text")
            val batch = fam match {
              case "jaccard" => Dedup.jaccardNearDupPairs(a, "doc_id", "text")
              case "containment" => Dedup.containmentPairs(a, "doc_id", "text")
              case "minhash" => Dedup.minHashLshPairs(a, "doc_id", "text", 3, 64, 16, 0.8)
              case "winnowing" => Dedup.winnowingPairs(a, "doc_id", "text", k = 16, w = 8)
            }
            val want = sorted(pairRows(batch).filter(touches).collect())
            h.add("neardup.pairs", want.length)
            diffMsg(s"$fam probe vs batch", got, want)
          }
        }
        val absorbed = h.op("write", "absorb", "llm.CurationLedgerStore", b.get("docs").asLong, s"b$i.absorb") {
          if (nearDup) h.span("NearDupIndexStore.appendDelta") {
            NearDupIndexStore.appendDelta(h.spark, nd, dt, "doc_id", "text") }
          val changed = h.span("CurationLedgerStore.absorbBatch") {
            CurationLedgerStore.absorbBatch(h.spark, led, delta).collect() }
          val mn = nearDup && h.span("NearDupIndexStore.maybeMaintain") {
            NearDupIndexStore.maybeMaintain(h.spark, nd, maxChainDepth = 2) }.isDefined
          val ml = h.span("CurationLedgerStore.maybeMaintain") {
            CurationLedgerStore.maybeMaintain(h.spark, led, maxChainDepth = 2) }
          (sorted(changed), mn, ml.isDefined)
        }(x => Harness.digest(x._1) + x._2 + x._3) { case (changed, _, _) =>
          h.add("ledger.changed_rows", changed.length)
          // every changed row must be the stored ledger's row for that doc
          val ledger = CurationLedgerStore.ledger(h.spark, led)
          val idCol = changed.headOption.map(_.schema.fieldNames.head).getOrElse("doc_id")
          val stored = sorted(ledger.select(changed.headOption.map(_.schema.fieldNames.toSeq)
              .getOrElse(ledger.columns.toSeq).map(col): _*)
            .filter(col(idCol).isin(changed.map(_.get(0)).toSeq: _*)).collect())
          diffMsg("absorb changed rows vs stored ledger", changed, stored)
        }
        if (r == 1) absorbed.foreach { case (_, mn, ml) =>
          h.add("neardup.compactions", if (mn) 1 else 0)
          h.add("ledger.compactions", if (ml) 1 else 0)
        }
        corpus = after
        ledgerReads(s"b$i")
      }
      if (ops(h, r, "absorb") == batches.size) {
        if (r == 1) { h.written("neardup", nd, before = false); h.written("ledger", led, before = false) }
        h.op("write", "vacuum", "llm.CurationLedgerStore", 0, "vacuum") {
          (if (nearDup) NearDupIndexStore.vacuum(nd) else Nil, CurationLedgerStore.vacuum(led))
        }(_ => "") { _ => None }
        if (r == 1) {
          val (bn, bl) = (Harness.dirBytes(nd), Harness.dirBytes(led))
          h.gauges ++= Seq(
            "neardup.store_bytes" -> bn.toDouble, "ledger.store_bytes" -> bl.toDouble,
            "neardup.chain_depth" -> (if (nearDup) NearDupIndexStore.chainDepth(nd) else 0).toDouble,
            "ledger.chain_depth" -> CurationLedgerStore.chainDepth(led).toDouble,
            "storage_amp" -> (bn + bl).toDouble / m.get("live_bytes").asLong)
        }
      }
      h.stopSession()
      r += 1
    }
  }

  // ---------------------------------------------------------- ledger_no_edges
  /** A crawl without near-duplicate pairs leaves the ledger's edge component
    * empty; absorbing a batch into such a store must work too. Each round
    * builds a ledger over the first base docs that hold no near-duplicate
    * pair (the generator plants them only at ids divisible by 8) and absorbs the
    * first crawl batch into it; the stored ledger must then equal
    * `Curation.fullPipelineLedger` over those docs ∪ the batch. */
  def ledgerNoEdges(h: Harness, in: String, m: JsonNode): Unit = {
    val batch = m.get("batches").get(0)
    var r = 1
    while (h.moreRounds) {
      val led = s"${h.workDir}/noedges/r$r"
      def docs(f: String) = h.spark.read.parquet(s"$in/$f")
        .select("doc_id", "text", "source", "n_chars")
      h.setup(r) { _ => () }
      val bench = h.spark.read.parquet(s"$in/bench.parquet")
      val clean = docs("base.parquet").filter(col("doc_id") % 8 =!= 0 && col("doc_id") < 64)
      val delta = docs(batch.get("file").asText)
      h.op("write", "absorb_without_edges", "llm.CurationLedgerStore", batch.get("docs").asLong,
          "no_edges") {
        h.span("CurationLedgerStore.build") {
          CurationLedgerStore.build(h.spark, clean, bench, "text", led, ledgerParams) }
        h.span("CurationLedgerStore.absorbBatch") {
          CurationLedgerStore.absorbBatch(h.spark, led, delta).collect() }
        sorted(CurationLedgerStore.ledger(h.spark, led).collect())
      }(Harness.digest) { got =>
        val ids = delta.select("doc_id").collect().map(_.getLong(0)).toSeq
        val after = clean.filter(!col("doc_id").isin(ids: _*)).unionByName(delta)
        val want = sorted(Curation.fullPipelineLedger(after, "doc_id", "text", "n_chars",
          "source", bench, "text").select(got.headOption.map(_.schema.fieldNames.toSeq)
          .getOrElse(Seq("doc_id")).map(col): _*).collect())
        diffMsg("stored ledger vs fullPipelineLedger", got, want)
      }
      h.stopSession()
      r += 1
    }
  }

  // --------------------------------------------------------------- vector_ann
  def vectorAnn(h: Harness, in: String, m: JsonNode): Unit = {
    val batches = (0 until m.get("batches").size).map(m.get("batches").get(_))
    val k = 10
    val params = AnnIndexStore.Params(nCells = 16, iters = 2, numBuckets = 16, m = 8,
      efConstruction = 48, pqM = 8, pqKsub = 16)
    // 1e6 ppm = the batch fits the centroids as well as the corpus does; a
    // batch from the corpus's own clusters stays near that, the planted
    // drifted batch lands far above
    val driftPpm = 1500000L
    val nQueries = m.get("queries").asLong
    var r = 1
    while (h.moreRounds) {
      val root = s"${h.workDir}/ann/r$r"
      def vecs(f: String) = h.spark.read.parquet(s"$in/$f").select("vec_id", "embedding")
      var corpus: DataFrame = null
      h.setup(r) { _ => corpus = vecs("base.parquet"); corpus.schema }
      // the one-time store build is the round's first write
      h.op("write", "build", "llm.AnnIndexStore", m.get("base_vectors").asLong, "build") {
        AnnIndexStore.build(h.spark, corpus, "vec_id", "embedding", root, params)
      }(_.toString)(_ => None)
      val queries = vecs("queries.parquet")
      def topk(rows: Array[Row]): Map[Long, Seq[Long]] =
        rows.groupBy(_.getAs[Number]("query_id").longValue).map { case (q, rs) =>
          q -> rs.sortBy(_.getAs[Number]("rank").longValue).map(_.getAs[Long]("neighbor_id")).toSeq }
      val brute = scala.collection.mutable.Map.empty[Int, Map[Long, Seq[Long]]]
      def search(kind: String, i: Int): Unit =
        h.op("read", s"search.$kind", "llm.AnnIndexStore", nQueries, s"b$i.$kind") {
          val df = kind match {
            case "ivf" => AnnIndexStore.searchIvf(h.spark, root, queries, "vec_id", "embedding", k)
            case "graph" => AnnIndexStore.searchGraph(h.spark, root, queries, "vec_id", "embedding", k)
            case "pq" => AnnIndexStore.searchPq(h.spark, root, queries, "vec_id", "embedding", k)
          }
          df.select("query_id", "rank", "neighbor_id").collect()
        }(rows => Harness.digestSet(rows)) { rows =>
          val got = topk(rows)
          val want = brute.getOrElseUpdate(i, topk(Similarity.bruteTopK(corpus, queries,
            "vec_id", "embedding", k).select("query_id", "rank", "neighbor_id").collect()))
          val recall = want.map { case (q, ns) =>
            got.getOrElse(q, Nil).toSet.intersect(ns.toSet).size.toDouble / ns.size }
          h.add(s"ann.recall.$kind", recall.sum / recall.size / batches.size)
          if (got.size != want.size || got.values.exists(_.size != k))
            Some(s"$kind search returned ${got.size} queries / sizes ${got.values.map(_.size).toSet}")
          else None
        }
      if (r == 1) h.written("ann", root, before = true)
      batches.zipWithIndex.iterator.takeWhile(_ => h.more).foreach { case (b, i) =>
        Seq("ivf", "graph", "pq").foreach(search(_, i))
        val delta = vecs(b.get("file").asText)
        val ids = delta.select("vec_id").collect().map(_.getLong(0)).toSeq
        val absorbed = h.op("write", "absorb", "llm.AnnIndexStore", b.get("vectors").asLong, s"b$i.absorb") {
          val pairs = h.span("AnnIndexStore.semDedupPairsForDelta") {
            AnnIndexStore.semDedupPairsForDelta(h.spark, root, delta, "vec_id", "embedding", 0.9)
              .select("a_id", "b_id").collect() }
          val d = h.span("AnnIndexStore.reclusterIfDrifted") {
            AnnIndexStore.reclusterIfDrifted(h.spark, root, delta, "vec_id", "embedding", driftPpm) }
          if (!d.reclustered) h.span("AnnIndexStore.appendDelta") {
            AnnIndexStore.appendDelta(h.spark, root, delta, "vec_id", "embedding") }
          val mt = h.span("AnnIndexStore.maybeMaintain") {
            AnnIndexStore.maybeMaintain(h.spark, root, "vec_id", "embedding", maxChainDepth = 2) }
          (sorted(pairs), d, mt.isDefined)
        }(x => Harness.digest(x._1) + x._2.reclustered + x._3) { case (pairs, d, _) =>
          h.add(s"ann.drift_ppm.b$i", d.driftPpm)
          val planted = b.get("drifted").asBoolean
          if (pairs.exists(p => p.getLong(0) >= p.getLong(1)))
            Some("semdedup pair not ordered a_id < b_id")
          else if (!pairs.forall(p => ids.contains(p.getLong(0)) || ids.contains(p.getLong(1))))
            Some("semdedup pair does not touch the batch")
          else if (d.reclustered != planted)
            Some(s"recluster=${d.reclustered} on ${if (planted) "drifted" else "clustered"} batch (drift ${d.driftPpm} ppm)")
          else None
        }
        if (r == 1) absorbed.foreach { case (_, d, mt) =>
          h.add("ann.reclusters", if (d.reclustered) 1 else 0)
          h.add("ann.compactions", if (mt) 1 else 0)
        }
        corpus = corpus.filter(!col("vec_id").isin(ids: _*)).unionByName(delta)
      }
      if (ops(h, r, "absorb") == batches.size) {
        if (r == 1) h.written("ann", root, before = false)
        h.op("write", "vacuum", "llm.AnnIndexStore", 0, "vacuum") {
          AnnIndexStore.vacuum(root)
        }(_ => "") { _ => None }
        // exact search (every cell probed) must equal brute force
        h.op("check", "exact_search", "llm.AnnIndexStore", nQueries, "exact") {
          AnnIndexStore.searchIvf(h.spark, root, queries, "vec_id", "embedding", k,
            minProbe = params.nCells, maxProbe = params.nCells)
            .select("query_id", "rank", "neighbor_id").collect()
        }(rows => Harness.digestSet(rows)) { rows =>
          val want = Similarity.bruteTopK(corpus, queries, "vec_id", "embedding", k)
            .select("query_id", "rank", "neighbor_id").collect()
          diffMsg("all-cell search vs bruteTopK", sorted(rows), sorted(want))
        }
        if (r == 1) h.gauges ++= Seq(
          "ann.store_bytes" -> Harness.dirBytes(root).toDouble,
          "ann.chain_depth" -> AnnIndexStore.chainDepth(root).toDouble,
          "storage_amp" -> Harness.dirBytes(root).toDouble / m.get("live_bytes").asLong)
      }
      h.stopSession()
      r += 1
    }
  }
}
