package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.fs.Fs
import graft.store.RecordedSchema

/** Hash-bucketed persisted-index layout: the 100×-scale answer to
  * "every online probe scans the whole index".
  *
  * The engine's persisted indexes — BM25 postings, fingerprint /
  * winnowing grams, MinHash band keys, fuzzy-key segments — are all
  * probed by a SMALL key set (a query batch's terms, a delta batch's
  * segments) against a corpus-sized table. Stored flat, every probe
  * reads the full index no matter how few keys it wants; at 100× the
  * corpus that read dominates the probe. Stored hash-bucketed on the
  * probe key (`part_bucket = pmod(hash(key…), numBuckets)` as a
  * PARTITION column), the probe collects its key rows to the driver
  * once (one probe-sized job, none for a local relation), hashes them
  * into buckets there, reads only those buckets' files and filters them
  * by the collected keys — the fraction read falls as
  * min(1, |probe buckets| / numBuckets), independent of corpus size.
  *
  * This is the directory-layout dual of [[graft.operators.Scale.bucketizeForJoin]]
  * (which co-locates two corpus-sized sides via the metastore); here
  * one side is tiny, so pruning beats co-location and the layout stays
  * a plain parquet directory any reader can open (the bucket column is
  * dropped on read).
  *
  * Bucket-count choice at scale: buckets should be ≳ the index's file
  * count at the target SF so each bucket is ≥ one file, and ≤ the
  * probe-key cardinality above which pruning stops helping (a probe
  * touching every bucket reads everything regardless — then this
  * layout costs nothing over flat: same bytes, same pushdown).
  *
  * == Staleness contract ==
  * [[read]] / [[readPruned]] serve the layout AS OF the last completed
  * [[write]] — by this or any other process: each call re-reads the
  * tiny `_PRUNE_META` sidecar and re-parses the manifest when its
  * VERSION TOKEN (monotonic, compared by value — immune to coarse
  * filesystem mtime granularity) moved, so a concurrent rebuild
  * through [[write]] is picked up. A manifest whose meta is missing
  * (a write crashed between the two sidecar lands) degrades to the
  * listing fallback rather than erroring. What is NOT supported is
  * rewriting the
  * directory by any path that bypasses [[write]] (a bare
  * `df.write.parquet(path)` overwrite): such a rewrite updates neither
  * sidecar, and readers keep serving the old file list — use [[write]]
  * for every rewrite, or delete the sidecars to force the listing
  * fallback.
  *
  * == Recorded schema ==
  * Every layout records its data columns' schema in `_PRUNE_SCHEMA`
  * ([[graft.store.RecordedSchema]]) when it is published, so a read
  * runs no footer-inference job, and an empty layout or an empty
  * bucket selection still knows its columns. A layout without the
  * sidecar was written before it existed and falls back to Spark's
  * footer inference. */
object PrunedIndex {

  val BucketCol = "part_bucket"

  private def metaPath(path: String): String = Fs.child(path, "_PRUNE_META")
  private def manifestPath(path: String): String = Fs.child(path, "_PRUNE_MANIFEST")
  private val SchemaFile = "_PRUNE_SCHEMA"

  /** Parsed `_PRUNE_MANIFEST` (bucket → relative file paths), cached
    * per (session, path) and validated against the `_PRUNE_META`
    * VERSION TOKEN on EVERY access — a monotonic value the writer
    * stamps into the sidecar (epoch-ms + process counter), compared by
    * value, so two rebuilds inside one filesystem-mtime granule still
    * invalidate correctly (an mtime check cannot distinguish them on
    * second-granularity filesystems — object stores included). A stale
    * cached listing can outlive a same-JVM rebuild no longer than one
    * tiny sidecar read. The manifest
    * is what makes the FIRST probe of an index version listing-free:
    * without it Spark rediscovers all `numBuckets` partition
    * directories on the first fresh `read.parquet` (measured 2.5–4.7 s
    * at 1024 buckets on local disk, dwarfing the pruned scan); the
    * r13 in-process listing cache only amortized that over LATER
    * probes. The writer lists the tree ONCE at write time instead —
    * the in-process analog of a metastore partition catalog, in a
    * sidecar any process can read. */
  private final case class Manifest(version: String, files: Map[Int, Seq[String]])
  private val manifestCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), Manifest]

  /** Legacy fallback (pre-manifest layouts): cached listed base
    * relations, keyed by (session, path). Same staleness contract. */
  private val baseCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]

  /** Full views ([[read]]), one per (session, path) and manifest
    * version token. A version's files never change under its token, so
    * its view is resolved and planned once and every later read of it
    * runs only the scan (for a small layout, file resolution and
    * planning are most of a fresh read's wall). Same staleness contract
    * as the manifest. */
  private final case class View(version: String, df: DataFrame)
  private val viewCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), View]

  private def sessionKey(spark: SparkSession): Int = System.identityHashCode(spark)

  private def listedBase(spark: SparkSession, path: String): DataFrame = {
    if (baseCache.size > 64) baseCache.clear()
    val key = (sessionKey(spark), path)
    val cached = baseCache.get(key).filter { df =>
      (df.sparkSession eq spark) && !df.sparkSession.sparkContext.isStopped
    }
    cached.getOrElse {
      val df = RecordedSchema.reader(spark, path, SchemaFile).parquet(path)
      baseCache.put(key, df)
      df
    }
  }

  /** Monotonic writer counter: epoch-ms alone repeats across two
    * rebuilds inside one millisecond; epoch-ms + this counter never
    * repeats within a process, and the epoch-ms prefix separates
    * processes in every realistic rebuild cadence. */
  private val versionCounter = new java.util.concurrent.atomic.AtomicLong(0L)

  private def newVersionToken(): String =
    s"${System.currentTimeMillis()}-${versionCounter.incrementAndGet()}"

  /** The meta sidecar's lines: (keyCols, numBuckets, versionToken).
    * Pre-token layouts (two-line meta) fall back to the mtime as the
    * token — weaker (granularity-bound) but only for indexes written
    * by an older build. Absent meta → None: a manifest without its
    * meta is an incomplete write (the writer lands meta LAST), so the
    * reader must treat it as "no manifest" rather than throw. */
  private def metaLines(path: String): Option[(Seq[String], Int, String)] = {
    if (!Fs.exists(metaPath(path))) return None
    val lines = Fs.readString(metaPath(path)).split("\n")
    val token =
      if (lines.length >= 3 && lines(2).trim.nonEmpty) lines(2).trim
      else "mtime:" + Fs.fs(metaPath(path))
        .getFileStatus(new org.apache.hadoop.fs.Path(metaPath(path)))
        .getModificationTime
    Some((lines(0).split(",").toSeq, lines(1).trim.toInt, token))
  }

  private def manifestFor(spark: SparkSession, path: String): Option[Map[Int, Seq[String]]] =
    manifestOf(spark, path).map(_.files)

  private def manifestOf(spark: SparkSession, path: String): Option[Manifest] = {
    if (!Fs.exists(manifestPath(path))) return None
    // manifest exists but meta is missing: a write crashed between the
    // two sidecar lands (manifest-first, meta-last) or a reader raced a
    // first write — serve the listing fallback, never throw
    val token = metaLines(path) match {
      case Some((_, _, t)) => t
      case None            => return None
    }
    if (manifestCache.size > 64) manifestCache.clear()
    val key = (sessionKey(spark), path)
    val cached = manifestCache.get(key).filter(_.version == token)
    Some(cached.getOrElse {
      val files = Fs.readString(manifestPath(path)).split("\n")
        .iterator.filter(_.nonEmpty).map { line =>
          val i = line.indexOf('\t')
          (line.substring(0, i).toInt, line.substring(i + 1))
        }.toSeq.groupMap(_._1)(_._2)
      val m = Manifest(token, files)
      manifestCache.put(key, m)
      m
    })
  }

  /** Write `df` partitioned by `pmod(hash(keyCols…), numBuckets)`.
    * Layout metadata (key columns + bucket count) rides in a
    * `_PRUNE_META` sidecar so readers never guess the hash domain, and
    * the data-file tree rides in a `_PRUNE_MANIFEST` sidecar
    * (bucket → file list) so probes never list the directory — the
    * writer pays one listing here, at write time.
    *
    * The rows are repartitioned ON the bucket value first: a naive
    * `partitionBy` write fans out to (tasks × buckets) files — ~2 000
    * small files for a 32-task, 64-bucket index, which triples the
    * write wall and taxes every later listing. One shuffle of the thin
    * index keyed by bucket lands each bucket in one task → ~one file
    * per bucket. `maxRecordsPerFile` > 0 splits a fat (hot-key) bucket
    * into multiple files so no single probe task has to scan one giant
    * file — the per-write form of `spark.sql.files.maxRecordsPerFile`,
    * the knob a skewed cell/term distribution needs at corpus scale. */
  def write(df: DataFrame, path: String, keyCols: Seq[String], numBuckets: Int,
            maxRecordsPerFile: Long = 0L): Unit = {
    require(keyCols.nonEmpty, "PrunedIndex needs at least one key column")
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    require(!df.columns.contains(BucketCol),
      s"input already carries a $BucketCol column")
    val lines = landBuckets(df, path, keyCols, numBuckets, numBuckets,
      maxRecordsPerFile, "")
    publish(path, lines, keyCols, numBuckets, newVersionToken(), df.schema)
  }

  /** Write `df` under `dir` partitioned by its key buckets, after one
    * shuffle into `partitions` tasks keyed by bucket (so each bucket
    * lands in ~one file), and return the manifest lines of the files
    * written — each entry is `entryPrefix` (`dir` relative to the
    * layout dir) plus the file's path under `dir`. */
  private def landBuckets(df: DataFrame, dir: String, keyCols: Seq[String],
                          numBuckets: Int, partitions: Int,
                          maxRecordsPerFile: Long, entryPrefix: String): Seq[String] = {
    val writer = df
      .withColumn(BucketCol, pmod(hash(keyCols.map(col): _*), lit(numBuckets)))
      .repartition(partitions, col(BucketCol))
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0L)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer)
      .partitionBy(BucketCol).parquet(dir)
    val prefix = BucketCol + "="
    Fs.list(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .flatMap { d =>
        val bucket = d.getPath.getName.substring(prefix.length).toInt
        Fs.list(d.getPath.toString)
          .filter { f =>
            val n = f.getPath.getName
            f.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .map(f => s"$bucket\t$entryPrefix${d.getPath.getName}/${f.getPath.getName}")
      }
  }

  /** Land a layout's sidecars: the recorded schema (`_PRUNE_SCHEMA`,
    * the data columns without the bucket column — every read passes it
    * to Spark instead of inferring it from a footer, and it is the only
    * source of the columns when no data file exists), then the
    * manifest, then the meta: meta (the version/validation stamp) only
    * ever points at a complete manifest; its third line is the
    * monotonic version token readers compare BY VALUE (mtime
    * granularity is filesystem-dependent — see manifestFor). */
  private def publish(path: String, lines: Seq[String], keyCols: Seq[String],
                      numBuckets: Int, token: String, schema: StructType): Unit = {
    RecordedSchema.write(path, schema, SchemaFile)
    Fs.writeStringAtomic(manifestPath(path), lines.mkString("\n"))
    Fs.writeStringAtomic(metaPath(path), s"${keyCols.mkString(",")}\n$numBuckets\n$token")
    // drop every session's cached state for this path (same-JVM
    // rebuild/compaction swaps are seen immediately)
    manifestCache.filterInPlace((k, _) => k._2 != path)
    baseCache.filterInPlace((k, _) => k._2 != path)
  }

  /** (key columns, bucket count) recorded at write time. A pruned
    * probe cannot run without them (the hash domain would be a guess),
    * so an absent meta — an uncommitted [[write]] — is a hard error
    * here, unlike [[read]]'s listing fallback. */
  def meta(path: String): (Seq[String], Int) =
    metaLines(path) match {
      case Some((cols, buckets, _)) => (cols, buckets)
      case None => throw new IllegalStateException(
        s"no _PRUNE_META at $path: the index write never completed " +
          "(meta lands last) — rebuild via PrunedIndex.write")
    }

  /** Resolve a manifest entry to a readable path: entries written by
    * [[write]] are relative to the index dir; [[writeDelta]] stitches
    * untouched buckets' files in by ABSOLUTE path (possibly under a
    * different index dir — the prior store version), detected by a
    * leading `/` or a URI scheme. */
  private def isAbsolute(e: String): Boolean = e.startsWith("/") || e.contains("://")

  private def resolveEntry(path: String, e: String): String =
    if (isAbsolute(e)) e else Fs.child(path, e)

  /** The ABSOLUTE entries of the layout's manifest — the files it
    * stitches in from other index dirs (empty for a self-contained
    * layout or a missing manifest). Reads the sidecar directly, no
    * session needed: the retention scan of [[graft.store.VersionedRoot]]. */
  private[graft] def absoluteEntries(path: String): Seq[String] =
    if (!Fs.exists(manifestPath(path))) Nil
    else Fs.readString(manifestPath(path)).split("\n").iterator
      .filter(_.nonEmpty).map(l => l.substring(l.indexOf('\t') + 1))
      .filter(isAbsolute).toSeq

  /** Read a manifest-selected entry set. All-relative entries (every
    * [[write]]-produced layout) read under a `basePath` so the bucket
    * value stays visible as a partition column — the plan shape the
    * directory-pruning assertions pin. Once a [[writeDelta]] stitch
    * introduces ABSOLUTE entries under other roots, a single basePath
    * cannot span them: the files are passed as leaves (no
    * partition-column inference — the manifest already knows each
    * file's bucket, and the bucket column carries no data). */
  private def readEntries(spark: SparkSession, path: String,
                          entries: Seq[String]): DataFrame = {
    val reader = RecordedSchema.reader(spark, path, SchemaFile)
    if (!entries.exists(isAbsolute))
      reader.option("basePath", path).parquet(entries.map(Fs.child(path, _)): _*)
    else reader.parquet(entries.map(resolveEntry(path, _)): _*)
  }

  /** The layout's data columns (no bucket column). Recorded at
    * [[publish]]; a layout written before the sidecar infers them from
    * one data file that still EXISTS — an arbitrary pick could name a
    * file retention (or a ScaleSpec mutilation proof) legitimately
    * removed from an untouched bucket — or, holding none, from the
    * directory listing. */
  private def storedSchema(spark: SparkSession, path: String,
                           m: Map[Int, Seq[String]]): StructType =
    RecordedSchema.of(path, SchemaFile).getOrElse {
      m.valuesIterator.flatten.find(e => Fs.exists(resolveEntry(path, e)))
        .fold(listedBase(spark, path))(e => readEntries(spark, path, Seq(e)))
        .drop(BucketCol).schema
    }

  /** `entries` of the layout whose manifest is `m`; no entries (an
    * empty layout, or no probed bucket holds rows) is an empty frame
    * with the stored schema. */
  private def view(spark: SparkSession, path: String, m: Map[Int, Seq[String]],
                   entries: Seq[String]): DataFrame =
    if (entries.nonEmpty) readEntries(spark, path, entries)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](),
      storedSchema(spark, path, m))

  /** Full (unpruned) view — identical to the flat layout for readers
    * that genuinely need every row (rebuild comparisons, compaction).
    * Listing-free when the manifest sidecar exists, and then planned
    * once per version (repeat reads return the same planned frame); see
    * the staleness contract above. */
  def read(spark: SparkSession, path: String): DataFrame = manifestOf(spark, path) match {
    case Some(m) =>
      if (viewCache.size > 64) viewCache.clear()
      val key = (sessionKey(spark), path)
      val cached = viewCache.get(key).filter { v =>
        v.version == m.version && (v.df.sparkSession eq spark) && !spark.sparkContext.isStopped
      }
      cached.map(_.df).getOrElse {
        val df = view(spark, path, m.files, m.files.valuesIterator.flatten.toSeq).drop(BucketCol)
        viewCache.put(key, View(m.version, df))
        df
      }
    case None => listedBase(spark, path).drop(BucketCol)
  }

  /** A probe's distinct key rows, collected to the driver ONCE — one
    * job for a checkpointed probe, none for a local relation — cast to
    * the layout's stored key types, so the bucket hash (evaluated over a
    * local relation of the rows, which Spark folds on the driver) is the
    * writer's hash even for an `int` probe of a `long` key. A row that
    * can match no stored row under equi-join semantics is dropped: a
    * null key component, or a value the stored type cannot hold (a
    * `long` probe past an `int` key's range). */
  private final case class ProbeKeys(schema: StructType, rows: Seq[Row],
                                     buckets: Set[Int]) {
    /** Key-set membership: an IN filter on the one key column, else on
      * the struct of the key columns. Optimized to an InSet, it carries
      * the keys inside the plan — no broadcast job, no join. */
    def member: Column =
      if (schema.size == 1) col(schema.head.name).isin(rows.map(_.get(0)): _*)
      else struct(schema.fieldNames.map(col): _*).isin(rows.map { r =>
        struct(schema.fields.indices.map { i =>
          lit(r.get(i)).cast(schema(i).dataType).as(schema(i).name)
        }: _*)
      }: _*)
  }

  private def probeKeys(spark: SparkSession, probe: DataFrame, keyCols: Seq[String],
                        stored: StructType, numBuckets: Int): ProbeKeys = {
    val cast = keyCols.map(k => k -> col(k).try_cast(stored(k).dataType))
    val keys = probe.where(cast.map { case (k, c) => col(k) === c }.reduce(_ && _))
      .select(cast.map { case (k, c) => c.as(k) }: _*)
    val rows = keys.collect().distinct.toSeq
    val buckets = spark.createDataFrame(rows.asJava, keys.schema)
      .select(pmod(hash(keyCols.map(col): _*), lit(numBuckets)))
      .collect().iterator.map(_.getInt(0)).toSet
    ProbeKeys(keys.schema, rows, buckets)
  }

  /** Pruned view for a probe: only the files of the buckets that
    * `probe`'s key rows hash into are read (straight from the manifest —
    * no directory listing, even on the first probe of an index
    * version), and an exact key-set filter drops same-bucket strangers.
    * `probe` must carry the index's key columns (extra columns are
    * ignored) and is assumed probe-sized: its key rows are collected to
    * the driver ([[probeKeys]]), so the read is the key collect plus the
    * scan. An empty probe is an empty frame with the stored schema.
    *
    * Completeness: a key's rows all live in exactly one bucket, so the
    * pruned view contains EVERY index row whose key appears in the
    * probe — per-key aggregates (e.g. document frequency) computed on
    * it are exact, not per-bucket approximations. */
  def readPruned(spark: SparkSession, path: String, probe: DataFrame): DataFrame = {
    val (keyCols, numBuckets) = meta(path)
    val manifest = manifestFor(spark, path)
    val stored = manifest.fold(listedBase(spark, path).drop(BucketCol).schema)(
      storedSchema(spark, path, _))
    val keys = probeKeys(spark, probe, keyCols, stored, numBuckets)
    // manifest-selected reads carry no bucket column (the file
    // selection IS the bucket filter); the listing fallback does
    val base = manifest match {
      case Some(m) =>
        view(spark, path, m,
          m.iterator.collect { case (b, fs) if keys.buckets(b) => fs }.flatten.toSeq)
      case None => listedBase(spark, path).where(col(BucketCol).isin(keys.buckets.toSeq: _*))
    }
    // in the stored column order, without the bucket column, so the
    // pruned view is schema-identical to [[read]]
    base.where(keys.member).select(stored.fieldNames.map(col): _*)
  }

  /** Delta write with REPLACE-by-key semantics and DELTA-BOUNDED write
    * I/O: the layout created at `path` holds `newKeyRows` for every key
    * in `probe` and `basePath`'s stored rows for every other key, but
    * only the TOUCHED buckets (the probe keys' hash buckets) land new
    * files — untouched buckets' files are stitched into the new
    * manifest by absolute path. At corpus scale this turns per-batch
    * index maintenance from an O(index) rewrite into an O(delta
    * buckets) one.
    *
    * `probe` is probe-sized: its key rows are collected once
    * ([[probeKeys]]) and serve both the touched-bucket set and the key
    * filter. `newKeyRows` must contain ONLY rows whose key is in
    * `probe`: an `Observation` on the landing write counts the strays,
    * and any stray fails the call before the layout is published.
    * Same-bucket strangers — stored rows of untouched keys sharing a
    * touched bucket — are read back (touched buckets only) and
    * re-landed with the new rows, since a bucket's file set is replaced
    * wholesale. So a delta write is the key collect plus its landing
    * write.
    *
    * `basePath` is the previous version of the layout (e.g. the prior
    * store version's component dir) and is never modified; `path` is a
    * fresh dir holding only the delta files under a `delta-<token>/`
    * subdir plus sidecars referencing the base's untouched files.
    * Retention of the base's files is the caller's contract — the
    * versioned stores keep every referenced version
    * ([[graft.store.VersionedRoot.vacuum]]). The stitched layout is no
    * longer a valid plain-parquet partition tree: its sidecars are
    * REQUIRED, which the staleness contract above already demands for
    * every [[write]]-maintained layout. */
  def writeDelta(spark: SparkSession, path: String, newKeyRows: DataFrame,
                 probe: DataFrame, basePath: String,
                 maxRecordsPerFile: Long = 0L): Unit = {
    val (keyCols, numBuckets) = meta(basePath)
    val old = manifestFor(spark, basePath).getOrElse(throw new IllegalStateException(
      s"writeDelta needs a _PRUNE_MANIFEST at $basePath — build the index with PrunedIndex.write"))
    require(!newKeyRows.columns.contains(BucketCol),
      s"input already carries a $BucketCol column")
    // the stored column order is the layout's schema (never the full
    // view: that would list and validate every index file per delta
    // write, and fail once retention removed an untouched bucket's files)
    val stored = storedSchema(spark, basePath, old)
    val dataCols = stored.fieldNames.toSeq.map(col)
    val keys = probeKeys(spark, probe, keyCols, stored, numBuckets)
    val inProbe = coalesce(keys.member, lit(false))
    // stray keys would silently vanish (their bucket's files are not
    // rewritten): counted on the landing write, rejected before publish.
    // An observation reports only to the session of the frame it
    // observes, so the landing write is rooted in `newRows` — a
    // `newKeyRows` of another session (a streaming micro-batch's) would
    // otherwise never report, and `strays.get` would block for good.
    val strays = Observation()
    val newRows = newKeyRows.select(dataCols: _*)
      .observe(strays, count(when(!inProbe, 1)).as("n"))
    // same-bucket strangers: untouched keys in touched buckets — their
    // rows must re-land because the bucket's file set is replaced
    val touchedEntries = old.iterator
      .collect { case (b, fs) if keys.buckets(b) => fs }
      .flatten.toSeq
    val full =
      if (touchedEntries.isEmpty) newRows
      else newRows.unionByName(readEntries(spark, basePath, touchedEntries)
        .where(!inProbe).select(dataCols: _*))
    val token = newVersionToken()
    val deltaDirName = s"delta-$token"
    val newLines = landBuckets(full, Fs.child(path, deltaDirName), keyCols,
      numBuckets, math.max(keys.buckets.size, 1), maxRecordsPerFile, s"$deltaDirName/")
    // no metric: the optimizer proved the new rows empty and pruned the
    // observation with them — no strays
    if (strays.get.getOrElse("n", 0L).asInstanceOf[Long] > 0L) {
      Fs.deleteRecursive(Fs.child(path, deltaDirName))
      throw new IllegalArgumentException(
        "writeDelta: newKeyRows contains rows whose key is not in probe")
    }
    // untouched buckets: carry the old entries forward ABSOLUTIZED, so
    // chains of deltas collapse to direct pointers (entry resolution
    // never walks history)
    val kept = old.iterator.collect { case (b, fs) if !keys.buckets(b) =>
      fs.map(e => s"$b\t${resolveEntry(basePath, e)}")
    }.flatten.toSeq
    publish(path, kept ++ newLines, keyCols, numBuckets, token, full.schema)
  }

  /** APPEND-only delta: land `rows` as new files in their key buckets
    * and carry EVERY old manifest entry forward — no replacement, no
    * same-bucket stranger re-land, so per-batch write I/O is O(rows)
    * regardless of how hot the touched buckets are. The layout becomes
    * STALE-TOLERANT by contract: a key re-landed by a later append has
    * BOTH generations of rows in its bucket, and the reader owns the
    * dedup story (e.g. keep the max-stamp row per id, or treat the
    * row set as a candidate SUPERSET that a downstream exact check
    * resolves — [[graft.llm.CurationLedgerStore]]'s score-band and
    * hash-band components do the latter). Use [[writeDelta]] when the
    * reader needs replace-by-key truth; use a full [[write]]
    * (compaction) to fold the stale generations out.
    *
    * `basePath` is the previous version of the layout, exactly as in
    * [[writeDelta]] — `path` is created fresh, referencing the base's
    * files by absolute path, and the base is never modified. */
  def appendRows(spark: SparkSession, path: String, rows: DataFrame,
                 basePath: String,
                 maxRecordsPerFile: Long = 0L): Unit = {
    val (keyCols, numBuckets) = meta(basePath)
    val old = manifestFor(spark, basePath).getOrElse(throw new IllegalStateException(
      s"appendRows needs a _PRUNE_MANIFEST at $basePath — build the index with PrunedIndex.write"))
    require(!rows.columns.contains(BucketCol),
      s"input already carries a $BucketCol column")
    // in the stored column order, like writeDelta's rows: the layout's
    // old and new files then share the one recorded schema
    val stored = rows.select(storedSchema(spark, basePath, old).fieldNames.map(col): _*)
    val token = newVersionToken()
    val deltaDirName = s"delta-$token"
    val newLines = landBuckets(stored, Fs.child(path, deltaDirName), keyCols,
      numBuckets, math.min(numBuckets, 32), maxRecordsPerFile, s"$deltaDirName/")
    val kept = old.iterator.flatMap { case (b, fs) =>
      fs.map(e => s"$b\t${resolveEntry(basePath, e)}")
    }.toSeq
    publish(path, kept ++ newLines, keyCols, numBuckets, token, stored.schema)
  }
}
