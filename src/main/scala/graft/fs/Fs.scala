package graft.fs

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}

/** Scheme-aware filesystem helpers for the engine's control-plane IO
  * (snapshot listing, watermark store, curated-store pointers).
  *
  * Everything routes through the Hadoop `FileSystem`/`FileContext` API —
  * the same abstraction Spark's own readers use — so any path Spark can
  * read works here too: `file://`, `hdfs://`, `s3a://` (the reference is
  * S3-native; this is the engine's equivalent posture). Paths without a
  * scheme resolve against the default filesystem (local in tests).
  *
  * Atomicity note: [[writeStringAtomic]] is tmp-write + OVERWRITE-rename,
  * atomic on local/HDFS. Object stores rename by copy — single-writer
  * discipline there comes from the queue/lock layer, not the rename
  * (matching the reference, which keeps this state in DynamoDB rather
  * than S3 for the same reason).
  */
object Fs {

  // Spark's Hadoop configuration (carries spark.hadoop.* — s3a
  // credentials, endpoints, hdfs nameservices), cached PER SESSION: a
  // bare `new Configuration()` would silently ignore cluster settings
  // AND re-parse XML resources on every call, while a cache keyed on
  // nothing would pin the FIRST session's settings past a restart or
  // reconfiguration. Before any session exists (pure-unit-test paths)
  // fall back to defaults without caching.
  @volatile private var cached: (org.apache.spark.sql.SparkSession, Configuration) = _

  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession) match {
      case Some(s) =>
        val c = cached
        if (c != null && (c._1 eq s)) c._2
        else {
          val built = s.sessionState.newHadoopConf()
          cached = (s, built)
          built
        }
      case None => new Configuration()
    }

  def fs(p: String): FileSystem = new Path(p).getFileSystem(conf)

  def exists(p: String): Boolean = fs(p).exists(new Path(p))

  def isDir(p: String): Boolean = {
    val f = fs(p)
    val path = new Path(p)
    f.exists(path) && f.getFileStatus(path).isDirectory
  }

  def list(p: String): Seq[FileStatus] =
    if (!isDir(p)) Nil
    else fs(p).listStatus(new Path(p)).toSeq

  def readString(p: String): String = {
    val in = fs(p).open(new Path(p))
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** tmp-write + OVERWRITE-rename (atomic where the FS can do it).
    *
    * On LOCAL paths the swap is NIO `ATOMIC_MOVE` — one `rename(2)`, so
    * an unlocked concurrent reader sees either the old or the new file,
    * never a missing one. Hadoop's `FileContext.rename(OVERWRITE)` is
    * delete-then-rename on the local AbstractFileSystem (a reader can
    * observe the gap — seen as a transient FileNotFound under a
    * `_CURRENT`-pointer read racing a swap, VacuumReaderPropertySpec);
    * it remains the path for HDFS, where the overwrite-rename IS one
    * atomic server-side op. The local tmp file is written through NIO
    * too: Hadoop's checksummed local filesystem would leave a
    * `.<name>.tmp.crc` behind that the NIO move does not carry. */
  def writeStringAtomic(p: String, body: String): Unit = {
    val target = new Path(p)
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    (localPath(tmp.toString), localPath(p)) match {
      case (Some(src), Some(dst)) =>
        java.nio.file.Files.createDirectories(dst.toAbsolutePath.getParent)
        java.nio.file.Files.write(src, bytes)
        java.nio.file.Files.move(src, dst,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      case _ =>
        val f = fs(p)
        f.mkdirs(target.getParent)
        val out = f.create(tmp, true)
        try out.write(bytes)
        finally out.close()
        FileContext.getFileContext(target.toUri, conf)
          .rename(tmp, target, Options.Rename.OVERWRITE)
    }
  }

  def mkdirs(p: String): Unit = fs(p).mkdirs(new Path(p))

  def deleteRecursive(p: String): Unit = fs(p).delete(new Path(p), true)

  /** Plain (no-overwrite) rename; false when the FS refuses (missing
    * source, existing destination). One atomic metadata op on local
    * filesystems and HDFS — the primitive that lets a deleter remove a
    * directory from its visible name in one step before grinding
    * through its files. */
  def rename(src: String, dst: String): Boolean =
    fs(src).rename(new Path(src), new Path(dst))

  /** Replace local dir `dst` with a file-by-file copy of local dir `src`
    * (a store restored from a pristine snapshot). NIO copy, NOT
    * FileUtil.copy: the checksummed LocalFileSystem would mint a `.crc`
    * sidecar for `_CURRENT` that the store's NIO-atomic pointer swap
    * later invalidates (checksum error on the next Hadoop read). */
  def replaceLocalTree(src: String, dst: String): Unit = {
    if (exists(dst)) deleteRecursive(dst)
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    } finally walk.close()
  }

  /** Local-filesystem view of a path, when it has one (`file:` scheme or
    * no scheme) — used for OS-level file locks, which only exist there. */
  def localPath(p: String): Option[java.nio.file.Path] = {
    val uri = new Path(p).toUri
    if (uri.getScheme == null || uri.getScheme == "file")
      Some(java.nio.file.Paths.get(uri.getPath))
    else None
  }

  def child(parent: String, name: String): String = new Path(parent, name).toString

  /** Fully-qualified (scheme + authority) form of a path — the
    * comparison form for prefix tests between caller-supplied roots and
    * manifest entries, which may differ in scheme qualification
    * (file:/ vs plain), trailing-slash, or relativity. */
  def qualified(p: String): String =
    fs(p).makeQualified(new Path(p)).toString
}
