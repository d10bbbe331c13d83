package graft.store

import org.apache.hadoop.fs.FileStatus

import graft.fs.Fs
import graft.sources.PrunedIndex

/** The versioned-root layout every graft store sits on — the
  * reference's curated-store discipline (SURVEY.md §2.8–2.9): each load
  * writes a new snapshot, the snapshot commits, and one pointer flips
  * to it.
  *
  * {{{
  *   root/v<N>/...        one version's components (store-defined); each
  *                        records its schema — `_SCHEMA` in a plain
  *                        parquet dir, `_PRUNE_SCHEMA` in a PrunedIndex
  *                        layout ([[RecordedSchema]])
  *   root/v<N>/_SCHEMA    the version's schema, when the version is itself
  *                        one parquet dir (ParquetMergeSink)
  *   root/v<N>/_SUCCESS   commit marker — lands after every component
  *                        and every schema sidecar
  *   root/v<N>/_PARAMS    optional key=value sidecar (see renderParams)
  *   root/_CURRENT        "v<N>", swapped atomically (Fs.writeStringAtomic)
  * }}}
  *
  * Readers see only committed versions: [[versions]] lists a `v<N>` dir
  * once its `_SUCCESS` exists, and [[currentVersion]] follows the
  * pointer, which moves only after the marker lands. A writer that dies
  * anywhere before the pointer swap leaves readers on the previous
  * version; the next write allocates past both the last committed
  * version and the pointer ([[nextVersion]]), so it never rewrites a
  * committed dir in place. No Spark writer may drop a `_SUCCESS` in a
  * version dir ([[graft.sinks.ParquetMergeSink.landVersion]] turns the
  * file committer's marker off).
  *
  * Sink versions torn before that rule carry Spark's `_SUCCESS` without
  * a commit, and read as committed: [[versions]] lists them and time
  * travel serves them. Such a dir stays until its version's retry
  * re-lands it (the overwrite clears the stale marker) or [[vacuum]]
  * drops it past retention; the layout keeps no pointer history to tell
  * it from a committed version.
  *
  * Single-writer discipline per root, as the reference's FIFO groups
  * enforce per table: concurrent writers must be serialized by the
  * caller (the stores document this; [[graft.sinks.ParquetMergeSink]]
  * locks per table). Paths are scheme-aware through [[graft.fs.Fs]]. */
object VersionedRoot {

  private val Pointer = "_CURRENT"
  private val Marker = "_SUCCESS"
  private val ParamsFile = "_PARAMS"
  private val HiddenPrefix = ".vacuum-"

  /** How old an uncommitted `v<N>` dir (or a crashed vacuum's hidden
    * remnant) must be before [[vacuum]] sweeps it: a live writer's
    * in-flight version is younger than this, and a crashed one's retry
    * re-lands its version from scratch, so sweeping older debris never
    * loses committed data. */
  val OrphanGraceMs: Long = 24L * 3600 * 1000

  def versionDir(root: String, v: Long): String = Fs.child(root, s"v$v")

  /** `v<N>` → N; None for every other name. */
  private def parseVersion(name: String): Option[Long] =
    if (name.length > 1 && name.startsWith("v") && name.drop(1).forall(_.isDigit))
      name.drop(1).toLongOption
    else None

  /** Committed versions, ascending — an in-flight or crashed write
    * (no `_SUCCESS` yet) is invisible. */
  def versions(root: String): Seq[Long] =
    Fs.list(root).flatMap(st => parseVersion(st.getPath.getName))
      .filter(v => Fs.exists(Fs.child(versionDir(root, v), Marker)))
      .sorted

  def currentVersion(root: String): Option[Long] = {
    val p = Fs.child(root, Pointer)
    if (Fs.exists(p)) parseVersion(Fs.readString(p).trim) else None
  }

  def currentPath(root: String): Option[String] =
    currentVersion(root).map(versionDir(root, _))

  /** [[currentPath]] for operations that need a committed store. */
  def requireCurrent(root: String): String =
    currentPath(root).getOrElse(
      throw new IllegalStateException(s"no committed version under $root"))

  /** Past BOTH the last committed version and the pointer: after a crash
    * between a writer's `_SUCCESS` and its pointer swap, pointer + 1
    * alone would rewrite that committed dir in place, and a second crash
    * mid-rewrite would leave a "committed" version of mixed content. */
  def nextVersion(root: String): Long =
    math.max(versions(root).lastOption.getOrElse(0L),
      currentVersion(root).getOrElse(0L)) + 1

  /** Publish version `v`: the marker lands first, then the pointer
    * swaps atomically. Call only after every component of `v` is
    * durable. Returns `v`. */
  def commit(root: String, v: Long): Long = {
    Fs.writeStringAtomic(Fs.child(versionDir(root, v), Marker), "")
    Fs.writeStringAtomic(Fs.child(root, Pointer), s"v$v")
    v
  }

  /** Absolute file entries (qualified) that the given versions'
    * [[PrunedIndex]] component manifests reference — the files a
    * delta-stitched version reads from OTHER version dirs. `components`
    * are paths relative to a version dir. */
  private def referencedEntries(root: String, components: Seq[String],
                                vs: Seq[Long]): Set[String] =
    (for {
      v <- vs
      comp <- components
      e <- PrunedIndex.absoluteEntries(Fs.child(versionDir(root, v), comp))
    } yield Fs.qualified(e)).toSet

  /** Reference-chain depth of the current version: 1 + the number of
    * OTHER version dirs its component manifests still stitch files
    * from (manifest entries absolutize on every stitch, so one scan
    * sees the whole chain). 1 = self-contained; 0 = empty store. Both
    * sides of the prefix test are qualified, so a scheme-qualified or
    * relative caller root matches the writer's absolute entries. */
  def chainDepth(root: String, components: Seq[String]): Int =
    currentVersion(root).fold(0) { cur =>
      val qRoot = Fs.qualified(root) + "/"
      val dirs = referencedEntries(root, components, Seq(cur))
        .filter(_.startsWith(qRoot))
        .map(_.stripPrefix(qRoot).takeWhile(_ != '/'))
      1 + (dirs - s"v$cur").size
    }

  /** Retention: drop committed versions beyond the newest `keep`
    * (always sparing the current one), but NEVER a version dir whose
    * files a retained version's manifest still references — a stitched
    * chain is sparable only after the store folds it flat (compact).
    *
    * Reader safety: each dropped version is first RENAMED to a hidden
    * `.vacuum-v<N>` name — one atomic metadata op on local filesystems
    * and HDFS — and only then deleted. A concurrent reader therefore
    * sees a version all-or-nothing: resolve before the rename and every
    * file is still reachable (a scan that loses the race mid-read fails
    * whole — Spark errors on a listed file that vanished); resolve after
    * it and [[versions]] no longer lists it. On object stores without
    * atomic rename the hidden-name step is advisory.
    *
    * Debris sweep: an uncommitted `v<N>` (a crashed writer's) and a
    * `.vacuum-*` remnant (a crashed vacuum's) are removed once the
    * NEWEST file anywhere in their tree is older than [[OrphanGraceMs]]
    * — a dir's own mtime does not advance while a long write lands
    * nested files. Returns the dropped version numbers, swept orphans
    * included. */
  def vacuum(root: String, components: Seq[String], keep: Int = 1): Seq[Long] = {
    val all = versions(root)
    val cur = currentVersion(root)
    val retained = (all.takeRight(math.max(keep, 1)) ++ cur).distinct
    val refs = referencedEntries(root, components, retained)
    def referenced(v: Long): Boolean = {
      val qDir = Fs.qualified(versionDir(root, v)) + "/"
      refs.exists(_.startsWith(qDir))
    }
    val dropped = all.filterNot(retained.contains).filterNot(referenced)
    dropped.foreach { v =>
      val dir = versionDir(root, v)
      val hidden = Fs.child(root, s"${HiddenPrefix}v$v")
      // a crashed earlier vacuum may have left the hidden dir behind;
      // clear it so the rename can land
      if (Fs.exists(hidden)) Fs.deleteRecursive(hidden)
      if (Fs.rename(dir, hidden)) Fs.deleteRecursive(hidden)
      else Fs.deleteRecursive(dir) // rename-less FS: direct delete
    }
    val cutoff = System.currentTimeMillis() - OrphanGraceMs
    val swept = Fs.list(root).filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      val orphan = parseVersion(name)
        .filterNot(v => all.contains(v) || cur.contains(v) || referenced(v))
      val debris = orphan.nonEmpty || name.startsWith(HiddenPrefix)
      if (debris && treeMaxMtime(st) <= cutoff) {
        Fs.deleteRecursive(st.getPath.toString)
        orphan
      } else None
    }
    dropped ++ swept
  }

  /** Newest modification time across a directory tree (the dir's own
    * mtime for an empty one). A child vanishing mid-walk (a concurrent
    * writer committing its `_temporary` dir, or another vacuum) IS
    * activity: report "fresh as of now" instead of throwing, so a torn
    * listing can neither fail the vacuum nor judge a live dir stale.
    * Hadoop's local FS surfaces the race as FileNotFoundException or a
    * bare IOException depending on which syscall loses. */
  private def treeMaxMtime(st: FileStatus): Long =
    try {
      val children =
        if (st.isDirectory) Fs.list(st.getPath.toString).map(treeMaxMtime) else Nil
      (st.getModificationTime +: children).max
    } catch {
      case _: java.io.IOException => System.currentTimeMillis()
    }

  /** A parameter case class as `_PARAMS` lines: `field=value`, in
    * declaration order. */
  private def renderParams(p: Product): String =
    p.productElementNames.zip(p.productIterator)
      .map { case (k, v) => s"$k=$v" }.mkString("\n")

  private def parseParams(body: String): Map[String, String] =
    body.split("\n").iterator.map(_.trim).filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap

  def writeParams(dir: String, p: Product): Unit =
    Fs.writeStringAtomic(Fs.child(dir, ParamsFile), renderParams(p))

  /** The current version's `_PARAMS`, parsed; None for an empty store
    * or a version written without the sidecar. */
  def currentParams(root: String): Option[Map[String, String]] =
    currentPath(root).map(Fs.child(_, ParamsFile)).filter(Fs.exists)
      .map(p => parseParams(Fs.readString(p)))
}
