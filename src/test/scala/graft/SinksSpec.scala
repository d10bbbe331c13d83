package graft

import java.nio.file.Files
import java.sql.DriverManager

import org.scalatest.funsuite.AnyFunSuite

import graft.model.JdbcConfig
import graft.sinks.{JdbcUpsertSink, ParquetMergeSink}

class SinksSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("ParquetMergeSink: create, merge, atomic current pointer") {
    val wh = Files.createTempDirectory("graft_sink").toString
    // the returned count is observed on the write; it must be the count
    // a reader of the committed version sees
    def readCount(): Long = ParquetMergeSink.readCurrent(spark, wh, "t").get.count()
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    assert(ParquetMergeSink.merge(spark, wh, "t", v1, Seq("id"), 1L) == 2L)
    assert(readCount() == 2L)
    val v2 = Seq((2L, "B"), (3L, "C")).toDF("id", "s")
    assert(ParquetMergeSink.merge(spark, wh, "t", v2, Seq("id"), 2L) == 3L)
    assert(readCount() == 3L)
    val cur = ParquetMergeSink.readCurrent(spark, wh, "t").get
      .as[(Long, String)].collect().sortBy(_._1)
    assert(cur.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "C")))
    assert(ParquetMergeSink.currentPath(wh, "t").get.endsWith("v2"))
    // an empty merge commits a version too, and counts it
    assert(ParquetMergeSink.merge(spark, wh, "t", v2.limit(0), Seq("id"), 3L) == 3L)
    assert(readCount() == 3L)
    // a group-replace merge returns the observed count the same way
    assert(ParquetMergeSink.mergeGroups(spark, wh, "t",
      Seq((3L, "D"), (4L, "E")).toDF("id", "s"), Seq("id"), 4L) == 4L)
    assert(readCount() == 4L)
    // the first merge of an empty frame creates an empty table
    assert(ParquetMergeSink.merge(spark, wh, "e", v1.limit(0), Seq("id"), 1L) == 0L)
    assert(ParquetMergeSink.readCurrent(spark, wh, "e").get.count() == 0L)
  }

  test("concurrent merges on one table lose no versions (single-writer discipline)") {
    // Without per-table serialization, each writer merges against the
    // same base and the last pointer swap drops the other writers' rows
    // (the reference serializes this via SQS FIFO message groups).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val wh = Files.createTempDirectory("graft_race").toString
    val writers = (0 until 4).map { w =>
      Future {
        val df = Seq.tabulate(5)(i => (w * 100L + i, s"w$w")).toDF("id", "s")
        // version allocated by the sink under the table lock — racing
        // writers with caller-chosen versions would trip the
        // monotonic-replay guard in whichever order they lose the race
        ParquetMergeSink.mergeNext(spark, wh, "t", df, Seq("id"))
      }
    }
    val results = Await.result(Future.sequence(writers), 300.seconds)
    val cur = ParquetMergeSink.readCurrent(spark, wh, "t").get
    assert(cur.count() == 20L) // all four writers' keys survived
    // each writer's returned count is its own version's row count, and
    // the last one is the current count
    results.foreach { case (v, n) =>
      assert(ParquetMergeSink.readVersion(spark, wh, "t", v).get.count() == n)
    }
    assert(results.map(_._2).sorted == Seq(5L, 10L, 15L, 20L))
    assert(cur.select("s").distinct().count() == 4L)
  }

  test("replayed older version is a no-op, not a backwards pointer swap") {
    // A misordered redelivery (FIFO redrive after DLQ, or a replayed
    // checkpoint) can present version 1 AFTER version 2 committed.
    // Re-merging would reapply stale data over the newer snapshot and
    // swing _CURRENT backwards; the guard must treat current >= version
    // as already applied.
    val wh = Files.createTempDirectory("graft_replay").toString
    ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "a")).toDF("id", "s"), Seq("id"), 1L)
    ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "b"), (2L, "c")).toDF("id", "s"), Seq("id"), 2L)
    // replay v1 (stale payload): must not change data or pointer
    val n = ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "a")).toDF("id", "s"), Seq("id"), 1L)
    assert(n == 2L) // reports the CURRENT count, like an exact replay
    assert(ParquetMergeSink.currentPath(wh, "t").get.endsWith("v2"))
    val cur = ParquetMergeSink.readCurrent(spark, wh, "t").get
      .as[(Long, String)].collect().sortBy(_._1)
    assert(cur.toSeq == Seq((1L, "b"), (2L, "c")))
    // same guard on the group-replace sink
    val g = ParquetMergeSink.mergeGroups(spark, wh, "t",
      Seq((9L, "stale")).toDF("id", "s"), Seq("id"), 1L)
    assert(g == 2L && ParquetMergeSink.currentPath(wh, "t").get.endsWith("v2"))
  }

  test("time travel: versions, readVersion, vacuum keeps current") {
    val wh = Files.createTempDirectory("graft_tt").toString
    ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "a")).toDF("id", "s"), Seq("id"), 10L)
    ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "b")).toDF("id", "s"), Seq("id"), 20L)
    ParquetMergeSink.merge(spark, wh, "t", Seq((2L, "c")).toDF("id", "s"), Seq("id"), 30L)
    assert(ParquetMergeSink.versions(wh, "t") == Seq(10L, 20L, 30L))
    val asOf20 = ParquetMergeSink.readVersion(spark, wh, "t", 25L).get
      .as[(Long, String)].collect().sortBy(_._1)
    assert(asOf20.toSeq == Seq((1L, "b")))
    ParquetMergeSink.vacuum(wh, "t", keep = 1)
    assert(ParquetMergeSink.versions(wh, "t") == Seq(30L))
    assert(ParquetMergeSink.readCurrent(spark, wh, "t").get.count() == 2)
  }

  test("a merge landed but not committed is invisible: no version, no time travel, no current") {
    val wh = Files.createTempDirectory("graft_torn").toString
    ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "a")).toDF("id", "s"), Seq("id"), 1L)
    // a merge torn after its data and schema landed, before the commit
    assert(ParquetMergeSink.landVersion(wh, "t",
      Seq((1L, "a"), (2L, "b")).toDF("id", "s"), 2L) == 2L)
    assert(ParquetMergeSink.versions(wh, "t") == Seq(1L))
    assert(ParquetMergeSink.readVersion(spark, wh, "t", 2L).get.count() == 1L)
    assert(ParquetMergeSink.readCurrent(spark, wh, "t").get.count() == 1L)
    // the retry re-lands the version and commits it
    assert(ParquetMergeSink.merge(spark, wh, "t", Seq((2L, "b")).toDF("id", "s"),
      Seq("id"), 2L) == 2L)
    assert(ParquetMergeSink.versions(wh, "t") == Seq(1L, 2L))
    assert(ParquetMergeSink.readVersion(spark, wh, "t", 2L).get.count() == 2L)
  }

  test("vacuum sweeps crashed-writer debris past the grace period, spares fresh dirs") {
    val wh = Files.createTempDirectory("graft_debris").toString
    ParquetMergeSink.merge(spark, wh, "t", Seq((1L, "a")).toDF("id", "s"), Seq("id"), 1L)
    val root = java.nio.file.Paths.get(wh, "t")
    // a crashed writer's uncommitted version dir (no _SUCCESS — invisible
    // to versions()) and a crashed vacuum's hidden remnant, both stale
    val staleV = root.resolve("v99"); Files.createDirectories(staleV)
    Files.writeString(staleV.resolve("part-0.parquet"), "debris")
    val staleHidden = root.resolve(".vacuum-v98"); Files.createDirectories(staleHidden)
    TreeAge.backdate(staleV.toString)
    TreeAge.backdate(staleHidden.toString)
    // an IN-FLIGHT writer's fresh uncommitted dir must survive the sweep
    val fresh = root.resolve("v100"); Files.createDirectories(fresh)
    // and so must a LONG-RUNNING writer's dir whose top-level mtime is
    // old (set at creation, never advanced) but which is still landing
    // files in nested bucket subdirs — staleness is the TREE max mtime
    val slow = root.resolve("v101")
    Files.createDirectories(slow.resolve("part_bucket=0"))
    Files.writeString(slow.resolve("part_bucket=0").resolve("part-0.parquet"), "in-flight")
    slow.toFile.setLastModified(System.currentTimeMillis() - TreeAge.PastGraceMs)
    slow.resolve("part_bucket=0").toFile.setLastModified(
      System.currentTimeMillis() - TreeAge.PastGraceMs)
    ParquetMergeSink.vacuum(wh, "t", keep = 1)
    assert(!Files.exists(staleV), "stale uncommitted v-dir must be swept")
    assert(!Files.exists(staleHidden), "stale .vacuum-* remnant must be swept")
    assert(Files.exists(fresh), "fresh (possibly in-flight) dir must be spared")
    assert(Files.exists(slow), "long-running writer's dir with a fresh nested file must be spared")
    assert(ParquetMergeSink.readCurrent(spark, wh, "t").get.count() == 1)
  }

  test("JdbcUpsertSink: batched executor-side upsert into Derby (K2)") {
    val db = Files.createTempDirectory("graft_derby").toString + "/db"
    val url = s"jdbc:derby:$db;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE \"people\" (\"id\" BIGINT PRIMARY KEY, \"name\" VARCHAR(255), \"score\" DOUBLE)")
    conn.close()

    // ANSI double-quote dialect for Derby; the real upsert path end-to-end.
    val cfg = JdbcConfig(url, "", "", "db", batchSize = 2, quoteChar = "\"")
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("id", "name", "score")
    JdbcUpsertSink.upsert(df, "people", Seq("id"), cfg)
    val df2 = Seq((2L, "B", 20.0), (4L, "d", 4.0)).toDF("id", "name", "score")
    JdbcUpsertSink.upsert(df2, "people", Seq("id"), cfg)

    val c2 = DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery("SELECT \"id\", \"name\" FROM \"people\" ORDER BY \"id\"")
    val got = Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getLong(1), r.getString(2))).toList
    c2.close()
    assert(got == List((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")))
  }

  test("upsert stays correct when the driver reports SUCCESS_NO_INFO for update batches") {
    // MySQL with rewriteBatchedStatements returns -2 per batch element:
    // "executed, count unknown" — NOT "a row matched". Without the key
    // probe, new rows would be silently dropped (treated as updated) or
    // existing rows double-inserted (treated as missing).
    val db = Files.createTempDirectory("graft_derby_noinfo").toString + "/db"
    val real = s"jdbc:derby:$db;create=true"
    DriverManager.getConnection(real).close()
    val c0 = DriverManager.getConnection(real)
    c0.createStatement().execute(
      "CREATE TABLE \"t\" (\"id\" BIGINT PRIMARY KEY, \"v\" VARCHAR(255))")
    c0.close()
    CountingJdbcDriver.ensureRegistered()
    CountingJdbcDriver.reset()
    val cfg = JdbcConfig(s"jdbc:counting:derby:$db", "", "", "db",
      batchSize = 16, quoteChar = "\"")
    JdbcUpsertSink.upsert((0L until 30L).map(i => (i, s"old$i")).toDF("id", "v").repartition(1),
      "t", Seq("id"), cfg)

    CountingJdbcDriver.maskUpdateCounts = true
    val delta = ((0L until 30L).map(i => (i, s"new$i")) ++
      (100L until 130L).map(i => (i, s"ins$i"))).toDF("id", "v").repartition(1)
    JdbcUpsertSink.upsert(delta, "t", Seq("id"), cfg)
    CountingJdbcDriver.maskUpdateCounts = false

    val c2 = DriverManager.getConnection(real)
    val rs = c2.createStatement().executeQuery(
      "SELECT count(*), sum(CASE WHEN \"v\" LIKE 'new%' THEN 1 ELSE 0 END), " +
        "sum(CASE WHEN \"v\" LIKE 'ins%' THEN 1 ELSE 0 END) FROM \"t\"")
    rs.next()
    // 60 rows total: all 30 updates applied, all 30 inserts landed
    assert(rs.getLong(1) == 60L && rs.getLong(2) == 30L && rs.getLong(3) == 30L)
    c2.close()
  }

  test("JdbcUpsertSink batches BOTH paths: zero per-row executeUpdate round trips") {
    val db = Files.createTempDirectory("graft_derby_cnt").toString + "/db"
    val real = s"jdbc:derby:$db;create=true"
    DriverManager.getConnection(real).close() // create db
    val c0 = DriverManager.getConnection(real)
    c0.createStatement().execute(
      "CREATE TABLE \"t\" (\"id\" BIGINT PRIMARY KEY, \"v\" VARCHAR(255))")
    c0.close()
    CountingJdbcDriver.ensureRegistered()
    CountingJdbcDriver.reset()

    // seed 50 existing keys through the counted path too
    val cfg = JdbcConfig(s"jdbc:counting:derby:$db", "", "", "db",
      batchSize = 16, quoteChar = "\"")
    val seed = (0L until 50L).map(i => (i, s"old$i")).toDF("id", "v").repartition(1)
    JdbcUpsertSink.upsert(seed, "t", Seq("id"), cfg)
    CountingJdbcDriver.reset()

    // mixed delta: 50 updates (keys 0..49) + 50 inserts (keys 100..149)
    val delta = ((0L until 50L).map(i => (i, s"new$i")) ++
      (100L until 150L).map(i => (i, s"ins$i"))).toDF("id", "v").repartition(1)
    JdbcUpsertSink.upsert(delta, "t", Seq("id"), cfg)

    // one partition, 100 rows, batchSize 16 → 7 update flushes + ≤7
    // insert flushes; the per-row path would be ≥50 executeUpdate calls
    assert(CountingJdbcDriver.executeUpdates.get() == 0,
      "upsert must never fire a per-row executeUpdate")
    val batches = CountingJdbcDriver.executeBatches.get()
    assert(batches >= 7 && batches <= 14, s"expected 7..14 batched round trips, got $batches")

    val c2 = DriverManager.getConnection(real)
    val rs = c2.createStatement().executeQuery("SELECT count(*), sum(CASE WHEN \"v\" LIKE 'new%' THEN 1 ELSE 0 END) FROM \"t\"")
    rs.next()
    assert(rs.getLong(1) == 100L && rs.getLong(2) == 50L)
    c2.close()
  }

  test("ensureTableDdl maps Spark types to SQL (K1)") {
    val ddl = JdbcUpsertSink.ensureTableDdl("emp",
      Seq((1L, "x", 1.5)).toDF("id", "name", "sal").schema)
    assert(ddl == "CREATE TABLE IF NOT EXISTS `emp` (`id` BIGINT, `name` VARCHAR(255), `sal` DOUBLE)")
  }
}

/** Statement-count probe: a `jdbc:counting:` URL prefix that delegates to
  * the real driver but counts `executeUpdate` (per-row round trips) and
  * `executeBatch` (batched round trips) on every PreparedStatement.
  * Local-mode executors share the JVM, so the static counters see
  * executor-side calls. */
object CountingJdbcDriver {
  val executeUpdates = new java.util.concurrent.atomic.AtomicInteger
  val executeBatches = new java.util.concurrent.atomic.AtomicInteger
  // simulate drivers (MySQL rewriteBatchedStatements) that return
  // SUCCESS_NO_INFO (-2) for every UPDATE batch element instead of
  // exact counts — the regime where the sink must key-probe
  @volatile var maskUpdateCounts = false
  def reset(): Unit = { executeUpdates.set(0); executeBatches.set(0); maskUpdateCounts = false }

  @volatile private var registered = false
  def ensureRegistered(): Unit = synchronized {
    if (!registered) { DriverManager.registerDriver(new CountingJdbcDriver); registered = true }
  }
}

class CountingJdbcDriver extends java.sql.Driver {
  import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
  private val prefix = "jdbc:counting:"

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(prefix)

  override def connect(url: String, info: java.util.Properties): java.sql.Connection =
    if (!acceptsURL(url)) null
    else proxyConn(DriverManager.getConnection("jdbc:" + url.stripPrefix(prefix), info))

  private def invokeTarget(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try { if (args == null) m.invoke(target) else m.invoke(target, args: _*) }
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxyConn(c: java.sql.Connection): java.sql.Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](classOf[java.sql.Connection]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val r = invokeTarget(c, m, args)
          if (m.getName == "prepareStatement" && r != null)
            proxyPs(r.asInstanceOf[java.sql.PreparedStatement],
              args(0).asInstanceOf[String])
          else r
        }
      }).asInstanceOf[java.sql.Connection]

  private def proxyPs(ps: java.sql.PreparedStatement, sql: String): java.sql.PreparedStatement =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](classOf[java.sql.PreparedStatement]),
      new InvocationHandler {
        override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          m.getName match {
            case "executeUpdate" => CountingJdbcDriver.executeUpdates.incrementAndGet()
            case "executeBatch"  => CountingJdbcDriver.executeBatches.incrementAndGet()
            case _               =>
          }
          val r = invokeTarget(ps, m, args)
          if (m.getName == "executeBatch" && CountingJdbcDriver.maskUpdateCounts &&
              sql.trim.toUpperCase.startsWith("UPDATE"))
            Array.fill(r.asInstanceOf[Array[Int]].length)(java.sql.Statement.SUCCESS_NO_INFO)
          else r
        }
      }).asInstanceOf[java.sql.PreparedStatement]

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getPropertyInfo(url: String, info: java.util.Properties): Array[java.sql.DriverPropertyInfo] =
    Array.empty
  override def getParentLogger: java.util.logging.Logger =
    throw new java.sql.SQLFeatureNotSupportedException()
}
