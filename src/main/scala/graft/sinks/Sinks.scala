package graft.sinks

import java.sql.{Connection, DriverManager, PreparedStatement}

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType

import graft.fs.Fs
import graft.model.{Identifiers, JdbcConfig}
import graft.operators.Relational
import graft.store.{RecordedSchema, VersionedRoot}

/** Sinks: the curated-store writers (SURVEY.md §2.8).
  *
  * Two families:
  *  - `ParquetMergeSink` — the lakehouse-native curated store: keyed
  *    last-writer-wins MERGE into a parquet table (what the reference's
  *    RDS "refined store" becomes when the query engine is Spark itself).
  *  - `JdbcUpsertSink` — reference-shaped RDBMS sink (K2), but
  *    set-oriented: `foreachPartition` + batched upserts in one
  *    transaction per partition, replacing the reference's
  *    one-INSERT-one-commit-per-row loop
  *    (/root/reference/delta_load.py:180-193).
  */
object ParquetMergeSink {

  /** Table root = `<warehouse>/<table>`, laid out as a
    * [[VersionedRoot]]: versioned write dirs with a `_CURRENT` pointer
    * give atomic swap without a transaction log (single-writer-per-table
    * discipline, as the reference's FIFO groups enforce — SURVEY.md
    * §2.9). Paths are scheme-aware (`file://`, `hdfs://`, `s3a://`) via
    * [[graft.fs.Fs]]. */
  def currentPath(warehouse: String, table: String): Option[String] =
    VersionedRoot.currentPath(Fs.child(warehouse, table))

  /** The current version. Each version records its schema when it is
    * written ([[RecordedSchema]]), so a read runs one Spark job, the
    * scan; a version written without the sidecar infers it from a
    * footer first. */
  def readCurrent(spark: SparkSession, warehouse: String, table: String): Option[DataFrame] =
    currentPath(warehouse, table).map(RecordedSchema.read(spark, _))

  /** All COMMITTED retained versions of a table, ascending (time
    * travel). A version counts only once its `_SUCCESS` marker exists:
    * an in-flight [[merge]]'s half-written dir — or a crashed writer's
    * debris — is invisible to [[readVersion]], so time travel can never
    * resolve a snapshot that is still being written (the reader-side
    * half of the all-or-nothing contract; the deleter side is
    * [[vacuum]]'s rename-then-delete). */
  def versions(warehouse: String, table: String): Seq[Long] =
    VersionedRoot.versions(Fs.child(warehouse, table))

  /** Read a table as of a given version (the latest retained version
    * ≤ `asOf`) — every merge keeps its full snapshot dir, so any past
    * state is one read away until `vacuum`. One Spark job, like
    * [[readCurrent]]. */
  def readVersion(spark: SparkSession, warehouse: String, table: String, asOf: Long): Option[DataFrame] =
    versions(warehouse, table).filter(_ <= asOf).lastOption
      .map(v => RecordedSchema.read(spark, VersionedRoot.versionDir(Fs.child(warehouse, table), v)))

  /** Drop all but the newest `keep` versions (never the current one) and
    * sweep stale crashed-writer debris — [[VersionedRoot.vacuum]]; a
    * table's versions are self-contained snapshots, so no manifest
    * pins an older one. Reader safety (pinned by
    * VacuumReaderPropertySpec): a concurrent [[readVersion]] sees each
    * version all-or-nothing, falling back to the newest RETAINED
    * version ≤ asOf once one is dropped. Retention contract for long
    * scans is the lakehouse-standard one: size `keep` (and the vacuum
    * cadence) so a reader's pinned version stays inside the
    * newest-`keep` window for the duration of its scan; readers needing
    * stronger pins should copy the snapshot out. */
  def vacuum(warehouse: String, table: String, keep: Int = 1): Unit =
    VersionedRoot.vacuum(Fs.child(warehouse, table), Nil, keep): Unit

  // Per-table writer serialization — the engine-side analog of the
  // reference's per-table SQS FIFO groups
  // (/root/reference/second_lambda_function.py:119-124): read-CURRENT →
  // merge → swap-CURRENT is a read-modify-write, so two concurrent
  // writers on one table would each merge against the same base and the
  // second pointer swap would silently drop the first writer's rows.
  // JVM monitor for same-process threads + an OS file lock for
  // cross-process writers (the file lock alone can't serialize threads
  // of one JVM — overlapping locks there throw instead of blocking).
  // OS file locks only exist on local filesystems; for object stores the
  // cross-process discipline is the queue layer's job (the reference's
  // SQS FIFO groups), while the JVM monitor still covers one driver.
  private val tableMonitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withTableLock[T](warehouse: String, table: String)(body: => T): T = {
    val root = Fs.child(warehouse, table)
    val mon = tableMonitors.computeIfAbsent(root, _ => new Object)
    mon.synchronized {
      Fs.mkdirs(root)
      Fs.localPath(Fs.child(root, "_LOCK")) match {
        case Some(lockFile) =>
          val ch = java.nio.channels.FileChannel.open(lockFile,
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
          try {
            val fl = ch.lock() // blocks until any other process releases
            try body finally fl.release()
          } finally ch.close()
        case None => body
      }
    }
  }

  /** MERGE `incoming` into table on `keys` (insert-or-replace per key);
    * creates the table on first write. Returns the merged row count.
    * Serialized per table ([[withTableLock]]): concurrent merges apply
    * one after another, each rereading the other's output — no lost
    * updates. */
  def merge(spark: SparkSession, warehouse: String, table: String,
            incoming: DataFrame, keys: Seq[String], version: Long,
            policy: Relational.SchemaPolicy = Relational.SchemaPolicy.Strict): Long =
    withTableLock(warehouse, table) {
      alreadyApplied(spark, warehouse, table, version).getOrElse(
        applyMerge(spark, warehouse, table, incoming, keys, version, policy))
    }

  /** [[merge]] with a SINK-allocated version: `current max version + 1`,
    * chosen under the table lock. The writer-side contract when the
    * caller has no external version authority (ad-hoc concurrent
    * writers rather than the FIFO intake chain, whose versions are
    * assigned upstream and must use [[merge]] for replay idempotence).
    * Returns (allocated version, merged row count). */
  def mergeNext(spark: SparkSession, warehouse: String, table: String,
                incoming: DataFrame, keys: Seq[String],
                policy: Relational.SchemaPolicy = Relational.SchemaPolicy.Strict): (Long, Long) =
    withTableLock(warehouse, table) {
      val v = VersionedRoot.nextVersion(Fs.child(warehouse, table))
      (v, applyMerge(spark, warehouse, table, incoming, keys, v, policy))
    }

  private def applyMerge(spark: SparkSession, warehouse: String, table: String,
                         incoming: DataFrame, keys: Seq[String], version: Long,
                         policy: Relational.SchemaPolicy): Long = {
    val merged = readCurrent(spark, warehouse, table) match {
      case Some(existing) => Relational.mergeUpsert(existing, incoming, keys, policy)
      case None           => incoming
    }
    writeVersion(warehouse, table, merged, version)
  }

  /** MERGE with group-replace semantics
    * ([[graft.operators.Relational.mergeReplaceGroups]]) into the same
    * versioned store: incoming rows displace ALL current rows sharing
    * their group key(s). The maintenance write of multi-row-per-key
    * index tables — BM25 postings, LSH band keys, fuzzy-key segments —
    * where a row-keyed [[merge]] would leave stale orphan rows from a
    * re-uploaded document's previous revision. Same versioning, pointer
    * swap, time travel, vacuum, and per-table locking as [[merge]].
    *
    * `replaceKeySet` (optional): the EXPLICIT group-key rows to
    * displace, when it can be wider than `incoming`'s own keys — e.g.
    * a re-uploaded document that now tokenizes to ZERO postings rows
    * must still delete its old rows, but contributes nothing to
    * `incoming` (see [[graft.llm.Retrieval.mergePostingsForDelta]]). */
  def mergeGroups(spark: SparkSession, warehouse: String, table: String,
                  incoming: DataFrame, groupKeys: Seq[String], version: Long,
                  replaceKeySet: Option[DataFrame] = None): Long =
    withTableLock(warehouse, table) {
      alreadyApplied(spark, warehouse, table, version).getOrElse {
        val merged = readCurrent(spark, warehouse, table) match {
          case Some(existing) =>
            Relational.mergeReplaceGroups(existing, incoming, groupKeys, replaceKeySet)
          case None => incoming
        }
        writeVersion(warehouse, table, merged, version)
      }
    }

  /** Idempotent-replay guard: a streaming foreachBatch retry after a
    * crash re-runs the SAME (batch, version) after the pointer already
    * swapped — re-merging would read `_CURRENT` = v`version` while
    * overwriting that very dir (Spark refuses: "Cannot overwrite a path
    * that is also being read from"), wedging the stream permanently.
    * If the current pointer already names this version — or any LATER
    * one — the merge was applied; return the current count and do
    * nothing. The `<` case matters for misordered replays: re-merging
    * an old batch against a newer snapshot and then swapping `_CURRENT`
    * backwards would silently reapply stale data on top of newer data
    * and orphan the newer version from the pointer. Versions are
    * monotonically assigned by the intake chain, so `current >=
    * version` always means "this batch's effect is already in". */
  private def alreadyApplied(spark: SparkSession, warehouse: String,
                             table: String, version: Long): Option[Long] =
    VersionedRoot.currentVersion(Fs.child(warehouse, table)).filter(_ >= version)
      .map(v => RecordedSchema.read(spark, VersionedRoot.versionDir(Fs.child(warehouse, table), v)).count())

  /** Land `merged` as version `version` and commit it. The returned row
    * count is observed on the write itself instead of re-read from the
    * new version. */
  private def writeVersion(warehouse: String, table: String,
                           merged: DataFrame, version: Long): Long = {
    val rows = landVersion(warehouse, table, merged, version)
    VersionedRoot.commit(Fs.child(warehouse, table), version)
    rows
  }

  /** Land `merged`'s files and schema sidecar in version `version`'s dir
    * WITHOUT committing it; returns the observed row count. Spark's file
    * committer is told not to drop its `_SUCCESS` file there: that name
    * is [[VersionedRoot]]'s commit marker, so a merge torn after this
    * step would otherwise already be listed by [[versions]] and served
    * by [[readVersion]]. */
  private[graft] def landVersion(warehouse: String, table: String,
                                 merged: DataFrame, version: Long): Long = {
    val target = VersionedRoot.versionDir(Fs.child(warehouse, table), version)
    val rows = Observation("rows")
    merged.observe(rows, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(target)
    RecordedSchema.write(target, merged.schema)
    rows.get("n").asInstanceOf[Long]
  }
}

object JdbcUpsertSink {

  /** K1 — first-writer-wins `CREATE TABLE IF NOT EXISTS` from a Spark
    * schema (reference /root/reference/first_lambda_function.py:92-132).
    * `quoteChar` matches the DML side ([[statements]]/`upsert`) so the
    * whole K1→K2 flow speaks one dialect. */
  def ensureTableDdl(table: String, schema: StructType, dialectUpsert: Boolean = true,
                     quoteChar: String = "`"): String = {
    val q = (s: String) => Identifiers.quote(s, quoteChar)
    val cols = schema.fields.map { f =>
      val sqlType = f.dataType.typeName match {
        case "long" | "integer" => "BIGINT"
        case "double" | "float" => "DOUBLE"
        case "timestamp"        => "TIMESTAMP"
        case _                  => "VARCHAR(255)"
      }
      s"${q(Identifiers.sanitize(f.name))} $sqlType"
    }
    s"CREATE TABLE IF NOT EXISTS ${q(table)} (${cols.mkString(", ")})"
  }

  /** Generic keyed upsert statement pair (UPDATE-then-INSERT), portable
    * across JDBC dialects without MERGE support. */
  private[sinks] def statements(table: String, cols: Seq[String], keys: Seq[String],
                                quoteChar: String = "`"): (String, String) = {
    val q = (s: String) => Identifiers.quote(s, quoteChar)
    val nonKeys = cols.filterNot(keys.contains)
    val update =
      s"UPDATE ${q(table)} SET ${nonKeys.map(c => s"${q(c)} = ?").mkString(", ")} " +
        s"WHERE ${keys.map(k => s"${q(k)} = ?").mkString(" AND ")}"
    val insert =
      s"INSERT INTO ${q(table)} (${cols.map(q).mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    (update, insert)
  }

  /** K2 — distributed keyed upsert: per partition, one connection, one
    * transaction, fully batched statements on BOTH paths. Executor-side;
    * the driver never sees a row.
    *
    * Per batch of `cfg.batchSize` rows: one batched UPDATE round trip,
    * then — for the rows whose update count came back 0 (no such key) —
    * one batched INSERT round trip. Two network round trips per batch
    * regardless of the update/insert mix, vs. the reference's one commit
    * per row (/root/reference/delta_load.py:180-193). Drivers that
    * report SUCCESS_NO_INFO instead of exact counts get a per-unknown-row
    * key probe (the only sound resolution — see `probe`). Correctness note:
    * a delta deduped on `keys` (the engine's merge contract) has no
    * intra-batch key collisions, so update-then-insert per batch cannot
    * double-insert. */
  def upsert(df: DataFrame, table: String, keys: Seq[String], cfg: JdbcConfig): Unit = {
    val cols = df.columns.toSeq
    val (updateSql, insertSql) = statements(table, cols, keys, cfg.quoteChar)
    val nonKeys = cols.filterNot(keys.contains)
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn: Connection = DriverManager.getConnection(cfg.url, cfg.user, cfg.password)
        try {
          conn.setAutoCommit(false)
          val upd: PreparedStatement = conn.prepareStatement(updateSql)
          val ins: PreparedStatement = conn.prepareStatement(insertSql)
          // key-existence probe, used ONLY for batch elements reporting
          // SUCCESS_NO_INFO (-2): per JDBC that means "executed, affected
          // count unknown" — NOT "a row matched". Treating -2 as matched
          // silently drops new rows on drivers that batch-rewrite
          // updates; treating it as unmatched double-inserts. Probing is
          // the only sound resolution, and exact-count drivers never pay
          // for it.
          lazy val probe: PreparedStatement = conn.prepareStatement(
            s"SELECT 1 FROM ${Identifiers.quote(table, cfg.quoteChar)} WHERE " +
              keys.map(k => s"${Identifiers.quote(k, cfg.quoteChar)} = ?").mkString(" AND "))
          def keyExists(row: Row): Boolean = {
            keys.zipWithIndex.foreach { case (k, i) => probe.setObject(i + 1, row.getAs[Any](k)) }
            val rs = probe.executeQuery()
            try rs.next() finally rs.close()
          }

          def flush(batch: Seq[Row]): Unit = if (batch.nonEmpty) {
            batch.foreach { row =>
              nonKeys.zipWithIndex.foreach { case (c, i) => upd.setObject(i + 1, row.getAs[Any](c)) }
              keys.zipWithIndex.foreach { case (k, i) => upd.setObject(nonKeys.size + i + 1, row.getAs[Any](k)) }
              upd.addBatch()
            }
            val counts = upd.executeBatch()
            var inserts = 0
            var i = 0
            while (i < counts.length) {
              val missing = counts(i) == 0 ||
                (counts(i) == java.sql.Statement.SUCCESS_NO_INFO && !keyExists(batch(i)))
              if (missing) {
                val row = batch(i)
                cols.zipWithIndex.foreach { case (c, j) => ins.setObject(j + 1, row.getAs[Any](c)) }
                ins.addBatch()
                inserts += 1
              }
              i += 1
            }
            if (inserts > 0) ins.executeBatch()
          }

          val buf = new scala.collection.mutable.ArrayBuffer[Row](cfg.batchSize)
          rows.foreach { row =>
            buf += row
            if (buf.length >= cfg.batchSize) { flush(buf.toSeq); buf.clear() }
          }
          flush(buf.toSeq)
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally conn.close()
      }
    }
  }
}
