package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.infer.TypeInference
import graft.model.{Identifiers, IngestEvent}

/** Property-based coverage promised in SURVEY.md §5: idempotence of the
  * intake/merge path, commutativity of the clean ops, upsert
  * convergence — plus the pure parsing/inference lattice. Pure
  * properties run the full default 100 cases; Spark-bound ones run a
  * reduced case count (each case is a real local job). */
class PurePropertySpec extends Properties("graft.pure") {

  property("sanitize is idempotent and yields a safe SQL identifier") =
    forAll { (s: String) =>
      val once = Identifiers.sanitize(s)
      Identifiers.sanitize(once) == once &&
        once.nonEmpty && !once.head.isDigit &&
        once.forall(c => c.isLetterOrDigit && c < 128 || c == '_')
    }

  property("quote doubles every embedded quote char") =
    forAll { (s: String) =>
      val q = Identifiers.quote(s)
      q.head == '`' && q.last == '`' &&
        q.substring(1, q.length - 1) == s.replace("`", "``")
    }

  private val tsFolder: Gen[String] = for {
    y <- Gen.choose(2000, 2099); mo <- Gen.choose(1, 12); d <- Gen.choose(1, 28)
    h <- Gen.choose(0, 23); mi <- Gen.choose(0, 59); se <- Gen.choose(0, 59)
  } yield f"$y%04d$mo%02d$d%02d_$h%02d$mi%02d$se%02d"

  property("versionOf preserves snapshot-folder lexical order (the gate's total order)") =
    forAll(tsFolder, tsFolder) { (a, b) =>
      (a.compareTo(b).sign) == IngestEvent.versionOf(a).compareTo(IngestEvent.versionOf(b)).sign
    }

  private val baseName: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)

  property("tableOf strips one extension and any folder prefix") =
    forAll(baseName, baseName, Gen.oneOf("csv", "parquet", "json")) { (dir, base, ext) =>
      IngestEvent.tableOf(s"$dir/$base.$ext") == base &&
        IngestEvent.tableOf(s"$base.$ext") == base
    }

  property("reference inference lattice: digits→LONG else parseable→DOUBLE else VARCHAR") =
    forAll { (s: String) =>
      import org.apache.spark.sql.types._
      val t = TypeInference.referenceMode(Seq("c"), Seq(s)).head.dataType
      val isDigits = s.nonEmpty && s.forall(_.isDigit)
      val isDouble = try { s.trim.nonEmpty && { s.trim.toDouble; true } }
                     catch { case _: NumberFormatException => false }
      if (isDigits) t == LongType
      else if (isDouble) t == DoubleType
      else t == StringType
    }

  // FIFO queue: per-group delivery order == send order, for any
  // interleaving of groups (the per-table serialization the reference
  // gets from MessageGroupId). File IO per case → reduced count.
  private val sends: Gen[List[(String, Int)]] =
    Gen.listOfN(12, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0, 999)))

  property("FIFO queue: per-group receive order equals send order") = Prop.forAllNoShrink(sends) { xs =>
    val root = java.nio.file.Files.createTempDirectory("graft_prop_q").toString
    val q = new graft.sources.FifoQueue(root)
    xs.zipWithIndex.foreach { case ((g, body), i) => q.send(g, s"id$i", s"$g:$body:$i") }
    Seq("a", "b", "c").forall { g =>
      val got = Iterator.continually(q.receive(g)).takeWhile(_.isDefined)
        .map { m => q.ack(m.get); m.get.body }.toList
      got == xs.zipWithIndex.collect { case ((`g`, body), i) => s"$g:$body:$i" }
    }
  }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(60)
}

/** Crash-replay property over the FULL intake chain — FifoQueue
  * (at-least-once redelivery) → version gate (Watermarks, strict `>`) →
  * clean (dropNull + distinct) → ParquetMergeSink.merge (idempotent
  * replay guard + atomic pointer swap) → watermark advance. A seeded
  * schedule kills the consumer at arbitrary points between the chain's
  * durable steps:
  *
  *   - point 0: after receive, before any work (pure redelivery)
  *   - point 1: after the MERGE commits, before the watermark advances
  *     (the r11 finding-#1 window: store ahead of tracker — the replay
  *     passes the version gate and must be absorbed by the merge's
  *     `alreadyApplied` guard)
  *   - point 2: after the watermark advances, before the ack (tracker
  *     ahead of queue — the redelivery must be absorbed by the gate)
  *
  * plus a deliberate STALE REPLAY (the oldest version re-sent under a
  * fresh dedup id after the drain). The property: whatever the crash
  * schedule, the curated store and watermark converge to the no-crash
  * result. (The pointer-swap-mid-merge window itself is atomic-rename
  * + table-lock territory, pinned by SinksSpec's concurrency tests.) */
class CrashReplayPropertySpec extends Properties("graft.crashreplay") {
  private lazy val spark = GraftSpark.spark

  import graft.model.TableVersion
  import graft.operators.Relational
  import graft.sinks.ParquetMergeSink

  private final class InjectedCrash extends RuntimeException("injected crash")

  // 4 versioned batches; unique keys per batch (last write wins within
  // a send), Option values so the clean step genuinely drops rows
  private val batchGen: Gen[List[(Int, Option[Int])]] =
    Gen.listOfN(6, Gen.zip(Gen.choose(0, 5), Gen.option(Gen.choose(0, 99))))
      .map(_.groupBy(_._1).map(_._2.last).toList)
  private val batchesGen: Gen[List[List[(Int, Option[Int])]]] =
    Gen.listOfN(4, batchGen)
  // crash points consumed one per attempt; >= 3 = survive this attempt.
  // Finite schedule ⇒ eventually crash-free ⇒ the drain terminates.
  private val scheduleGen: Gen[List[Int]] = Gen.listOfN(10, Gen.choose(0, 8))

  property("crashed-and-replayed consumer converges to the no-crash store") =
    Prop.forAllNoShrink(batchesGen, scheduleGen) { (batches, schedule) =>
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft_crash").toString
      val warehouse = s"$root/warehouse"
      val tracker = new graft.tracker.Watermarks(s"$root/watermarks")
      var now = 0L
      val q = new graft.sources.FifoQueue(s"$root/queue",
        visibilityTimeoutMs = 1000L, clock = () => now)
      def dfFor(v: Int) = {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        import scala.jdk.CollectionConverters._
        val schema = StructType(Seq(
          StructField("k", IntegerType, nullable = false),
          StructField("v", IntegerType, nullable = true)))
        spark.createDataFrame(
          batches(v - 1).map { case (k, opt) =>
            Row(k, opt.map(Integer.valueOf).orNull) }.asJava, schema)
      }

      batches.indices.foreach { i => q.send("t", s"t@${i + 1}", s"${i + 1}") }

      val crashes = schedule.iterator
      def consumeAll(): Unit = {
        var iters = 0
        while (q.depth("t") > 0 && iters < 200) {
          iters += 1
          q.receive("t") match {
            case None => now += 1001 // blocked on a dead consumer's lease
            case Some(msg) =>
              val point = if (crashes.hasNext) crashes.next() else 99
              try {
                if (point == 0) throw new InjectedCrash
                val tv = TableVersion("t", msg.body.toLong)
                if (tracker.shouldProcess(tv)) {
                  val clean = Relational.distinctRows(
                    Relational.dropNullRows(dfFor(msg.body.toInt)))
                  ParquetMergeSink.merge(spark, warehouse, "t", clean, Seq("k"), tv.version)
                  if (point == 1) throw new InjectedCrash
                  tracker.advance(tv)
                }
                if (point == 2) throw new InjectedCrash
                q.ack(msg)
              } catch { case _: InjectedCrash => () } // death: no ack
          }
        }
        assert(q.depth("t") == 0, s"queue did not drain in $iters iterations")
      }
      consumeAll()
      // stale replay: oldest version re-sent under a fresh dedup id —
      // the version gate must absorb it without touching the store
      q.send("t", s"replay@1@${schedule.hashCode}", "1")
      consumeAll()

      val expected = batches.foldLeft(Map.empty[Int, Int]) { (acc, b) =>
        acc ++ b.collect { case (k, Some(v)) => k -> v }
      }.toSeq.map { case (k, v) => s"$k|$v" }.sorted
      val got = ParquetMergeSink.readCurrent(spark, warehouse, "t")
        .map(_.collect().map(_.mkString("|")).sorted.toSeq).getOrElse(Seq.empty)
      val wm = tracker.read().getOrElse("t", 0L)
      got == expected && wm == batches.size.toLong
    }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(5)
}

/** Spark-bound properties — each case runs local jobs, so the case
  * count is small; the data shapes still vary enough to hit the
  * null/duplicate/key-collision corners. */
class SparkPropertySpec extends Properties("graft.spark") {
  private lazy val spark = GraftSpark.spark

  import graft.operators.{Relational, Sampling}

  private def rowsDf(rows: List[(Int, Option[Int], String)]) = {
    import spark.implicits._
    rows.toDF("k", "v", "s")
  }

  private def bag(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private val rowGen: Gen[(Int, Option[Int], String)] =
    Gen.zip(Gen.choose(0, 6), Gen.option(Gen.choose(0, 3)), Gen.oneOf("x", "y", ""))

  property("clean ops commute: dropNull∘distinct == distinct∘dropNull (as multisets)") =
    forAll(Gen.listOfN(20, rowGen)) { rows =>
      val df = rowsDf(rows)
      bag(Relational.distinctRows(Relational.dropNullRows(df))) ==
        bag(Relational.dropNullRows(Relational.distinctRows(df)))
    }

  // Sequential keyed merges converge to driver-side last-writer-wins —
  // the D2 upsert semantics (and replaying the last delta is a no-op).
  private val batchGen: Gen[List[(Int, Int)]] =
    Gen.listOfN(8, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 99)))
      .map(_.groupBy(_._1).map(_._2.last).toList) // unique keys per batch

  property("mergeUpsert converges to last-writer-wins and is idempotent per delta") =
    forAll(batchGen, batchGen, batchGen) { (b0, b1, b2) =>
      import spark.implicits._
      def df(b: List[(Int, Int)]) = b.toDF("k", "v")
      val m1 = Relational.mergeUpsert(df(b0), df(b1), Seq("k"))
      val m2 = Relational.mergeUpsert(m1, df(b2), Seq("k"))
      val expected = (b0.toMap ++ b1.toMap ++ b2.toMap).toList.map { case (k, v) => s"$k|$v" }.sorted
      val again = Relational.mergeUpsert(m2, df(b2), Seq("k"))
      bag(m2) == expected && bag(again) == expected
    }

  property("hashSample membership is partitioning-independent") =
    forAll(Gen.choose(1, 8), Gen.choose(0.1, 0.9)) { (parts, frac) =>
      import spark.implicits._
      val df = (0 until 200).toDF("k")
      bag(Sampling.hashSample(df.repartition(parts), "k", frac)) ==
        bag(Sampling.hashSample(df.coalesce(1), "k", frac))
    }

  // cdfBins: monotone in score, in [1, nBins], tie-coherent (equal
  // scores share a bin), and the top score always lands in bin nBins.
  property("cdfBins is monotone, ranged, and tie-coherent") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-1000L, 1000L)), Gen.choose(1, 12)) {
      (scores, nBins) =>
        import spark.implicits._
        val df = scores.zipWithIndex.map { case (s, i) => (i.toLong, s) }
          .toDF("id", "score")
        val out = Sampling.cdfBins(df, "id", "score", nBins)
          .select($"score", $"bin").as[(Long, Long)].collect().toSeq
        val byScore = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        val sortedPairs = out.distinct.sortBy(_._1)
        byScore.values.forall(_.size == 1) &&
          out.forall { case (_, b) => b >= 1 && b <= nBins } &&
          sortedPairs.zip(sortedPairs.drop(1)).forall { case ((_, b1), (_, b2)) => b1 <= b2 } &&
          sortedPairs.last._2 == nBins
    }

  // exactQuantilesPpm: each quantile is an element of its group, the
  // quantile values are monotone in q, p100 is the max, and the
  // nearest-rank definition matches a driver-side sort.
  property("exactQuantilesPpm matches driver-side nearest-rank and is monotone in q") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("g1", "g2"), Gen.choose(-50L, 50L)))) {
      rows =>
        import spark.implicits._
        val df = rows.toDF("g", "v")
        val qs = Seq("p25" -> 250000L, "p50" -> 500000L, "p75" -> 750000L, "p100" -> 1000000L)
        val out = Sampling.exactQuantilesPpm(df, "g", "v", qs)
          .as[(String, Long, Long, Long, Long)].collect()
          .map(r => r._1 -> Seq(r._2, r._3, r._4, r._5)).toMap
        rows.groupBy(_._1).forall { case (g, grp) =>
          val sorted = grp.map(_._2).sorted
          val expect = Seq(250000L, 500000L, 750000L, 1000000L).map { q =>
            val rank = ((sorted.size * q + 999999L) / 1000000L).toInt
            sorted(rank - 1)
          }
          out(g) == expect &&
            out(g).zip(out(g).drop(1)).forall { case (a, b) => a <= b } &&
            out(g).last == sorted.last
        }
    }

  // thresholdSweep: n_kept/w_kept are non-increasing in the threshold,
  // totals are constant, and each row matches a driver-side count.
  property("thresholdSweep matches driver-side counts and is monotone in the cutoff") =
    forAll(Gen.nonEmptyListOf(Gen.zip(Gen.choose(-30L, 30L), Gen.choose(1L, 9L)))) {
      rows =>
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val df = rows.toDF("s", "w")
        val thrs = Seq(-40L, -10L, 0L, 10L, 40L)
        val out = Sampling.thresholdSweep(df, "s", col("w"), thrs)
          .as[(Long, Long, Long, Long, Long, Long)].collect()
          .sortBy(_._1).toSeq
        val ok = out.forall { case (t, nk, nt, kp, wk, wt) =>
          nk == rows.count(_._1 >= t) &&
            wk == rows.filter(_._1 >= t).map(_._2).sum &&
            nt == rows.size && wt == rows.map(_._2).sum &&
            kp == nk * 1000000L / nt
        }
        val mono = out.zip(out.drop(1)).forall { case ((_, nk1, _, _, wk1, _), (_, nk2, _, _, wk2, _)) =>
          nk1 >= nk2 && wk1 >= wk2
        }
        ok && mono
    }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(8)
}

/** Concurrent-reader safety of the versioned store (VERDICT r13 #7):
  * with merges, time-travel reads, and vacuums interleaving freely,
  * every read that RETURNS must return exactly one committed version's
  * full row set — never a half-written or half-deleted snapshot. A
  * read that loses the race to vacuum may fail whole (it resolved a
  * version whose files vanished mid-scan); that failure mode is the
  * documented contract and is allowed here, silent partial data is
  * not. Two store mechanisms make this hold: [[graft.sinks
  * .ParquetMergeSink.versions]] lists only `_SUCCESS`-committed dirs
  * (readers can't resolve an in-flight write), and `vacuum` renames a
  * version out of its visible name atomically before deleting files
  * (readers can't list a half-deleted file set). */
class VacuumReaderPropertySpec extends Properties("graft.vacuumreader") {
  private lazy val spark = GraftSpark.spark

  import graft.sinks.ParquetMergeSink

  // per-version incoming batches: non-empty key subsets; the merged
  // value is the writing version, so every committed snapshot is
  // distinguishable and any row mix across versions is detectable
  private val subsetGen: Gen[List[Int]] =
    Gen.someOf(0 to 4).map(_.toList.sorted).suchThat(_.nonEmpty)

  property("interleaved readVersion/merge/vacuum reads are all-or-nothing") =
    Prop.forAllNoShrink(Gen.listOfN(6, subsetGen), Gen.choose(0L, Long.MaxValue)) {
      (subsets, seed) =>
        import spark.implicits._
        val warehouse = java.nio.file.Files.createTempDirectory("graft_vac").toString
        val nV = subsets.size
        // driver-side replay of the keyed-upsert semantics
        val expected: Map[Long, Set[(Int, Long)]] =
          (1 to nV).scanLeft(Map.empty[Int, Long]) { (acc, v) =>
            acc ++ subsets(v - 1).map(_ -> v.toLong)
          }.zipWithIndex.collect { case (m, v) if v > 0 => v.toLong -> m.toSet }.toMap

        val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        @volatile var writerDone = false

        val writer = new Thread(() => {
          (1 to nV).foreach { v =>
            val df = subsets(v - 1).map(k => (k, v.toLong)).toDF("k", "v")
            ParquetMergeSink.merge(spark, warehouse, "t", df, Seq("k"), v.toLong)
          }
          writerDone = true
        })
        val vacuumer = new Thread(() => {
          // must never throw: the `_CURRENT` swap is an atomic rename
          // (Fs.writeStringAtomic), so vacuum's unlocked pointer read
          // cannot catch the pointer mid-replacement
          while (!writerDone)
            try ParquetMergeSink.vacuum(warehouse, "t", keep = 2)
            catch { case e: Throwable => bad.add(s"vacuum threw: $e") }
        })
        val rng = new scala.util.Random(seed)
        val reader = new Thread(() => {
          while (!writerDone) {
            ParquetMergeSink.versions(warehouse, "t").lastOption.foreach { maxV =>
              val asOf = 1L + rng.nextLong(maxV)
              try {
                ParquetMergeSink.readVersion(spark, warehouse, "t", asOf).foreach { df =>
                  val got = df.as[(Int, Long)].collect().toSet
                  val matches = (1L to asOf).exists(v => expected(v) == got)
                  if (!matches) bad.add(s"asOf=$asOf got=$got")
                }
              } catch {
                // losing the race to vacuum fails WHOLE — allowed
                case _: Throwable => ()
              }
            }
          }
        })
        Seq(writer, vacuumer, reader).foreach(_.start())
        Seq(writer, vacuumer, reader).foreach(_.join(120000))

        // quiescent checks: the current snapshot is the full merge
        // result, and the keep=2 window retains the final version
        ParquetMergeSink.vacuum(warehouse, "t", keep = 2)
        val finalGot = ParquetMergeSink.readCurrent(spark, warehouse, "t")
          .map(_.as[(Int, Long)].collect().toSet).getOrElse(Set.empty)
        val retained = ParquetMergeSink.versions(warehouse, "t")
        Prop(bad.isEmpty && finalGot == expected(nV.toLong) &&
            retained.contains(nV.toLong) && retained.size <= 2) :| {
          s"bad=${bad.toArray.mkString("; ")} final=$finalGot retained=$retained"
        }
    }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(4)
}

/** Crash consistency of the four versioned stores, all laid out by
  * [[graft.store.VersionedRoot]] — one property per store, same checks.
  *
  * A writer can die anywhere before its pointer swap. That leaves
  * either a version dir holding any SUBSET of its components (they land
  * concurrently) and no `_SUCCESS`, or the whole version with its
  * `_SUCCESS` but `_CURRENT` still on the previous version. Each case
  * copies a store that has committed one write, cuts that write back to
  * a random-subset crash state, and checks that readers still see the
  * previous version and that the retried write commits the same answer;
  * then does the same for the marker-but-no-pointer state. It then runs
  * a vacuum while a reader scans the previous version (every completed
  * scan must return all of it), and checks that a fresh orphan `v<N>`
  * is spared and a stale one swept under a `file:`-qualified root. */
class StoreCrashPropertySpec extends Properties("graft.storecrash") {
  private lazy val spark = GraftSpark.spark

  import java.nio.file.{Files, Path, Paths}
  import graft.fs.Fs
  import graft.sources.PrunedIndex
  import graft.store.VersionedRoot

  /** One store: `build` lands v1, `write` is the next write (run once
    * for the template, then as each retry), `readAt` reads one version
    * dir's rows, `vacuum` is the store's own `vacuum(root)`. */
  private final class Store(val build: String => Unit, val write: String => Unit,
                            val readAt: String => Set[String],
                            val vacuum: String => Unit)

  /** A store root after build + one committed write, with the answers
    * before and after the write and the write's top-level entries. */
  private final class Template(val root: String, val before: Set[String],
                               val after: Set[String], val entries: Seq[String])

  private def template(s: Store): Template = {
    val root = Files.createTempDirectory("graft_crash_tpl").resolve("s").toString
    s.build(root)
    val before = s.readAt(VersionedRoot.requireCurrent(root))
    s.write(root)
    val cur = VersionedRoot.requireCurrent(root)
    val entries = Fs.list(cur).map(_.getPath.getName)
      .filterNot(n => n == "_SUCCESS" || n.startsWith("."))
    new Template(root, before, s.readAt(cur), entries)
  }

  private def copyTree(src: String): String = {
    val dst = Files.createTempDirectory("graft_crash").resolve("s")
    val from = Paths.get(src)
    val walk = Files.walk(from)
    try walk.forEach(p => Files.copy(p, dst.resolve(from.relativize(p))): Unit)
    finally walk.close()
    dst.toString
  }

  /** Remove one entry of a version dir with its Hadoop `.crc` sidecar. */
  private def remove(dir: Path, name: String): Unit =
    Seq(name, s".$name.crc").map(dir.resolve).filter(Files.exists(_))
      .foreach(p => Fs.deleteRecursive(p.toString))

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** Every scan of `held` that completes while `vacuum` runs must
    * return `want` whole; a scan may fail whole (its files were dropped
    * under it). Returns the violations. */
  private def vacuumRacingReader(s: Store, root: String, held: String,
                                 want: Set[String]): Seq[String] = {
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (s.readAt(held) != want) bad.add("held version unreadable before the vacuum")
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done)
        try { if (s.readAt(held) != want) bad.add("a completed scan returned a partial version") }
        catch { case _: Throwable => () }
    })
    reader.start()
    try s.vacuum(root) catch { case e: Throwable => bad.add(s"vacuum threw: $e") }
    done = true
    reader.join(120000)
    bad.toArray.map(_.toString).toSeq
  }

  private def crashProperty(s: Store): Prop = {
    lazy val t = template(s)
    Prop.forAllNoShrink(Gen.choose(0L, Long.MaxValue)) { bits =>
      val root = copyTree(t.root)
      val v = VersionedRoot.currentVersion(root).get
      val held = VersionedRoot.versionDir(root, v - 1)
      val failures = Seq.newBuilder[String]
      def check(ok: Boolean, what: String): Unit = if (!ok) failures += what
      def onPrevious(committed: Seq[Long], state: String): Unit = {
        check(VersionedRoot.currentVersion(root).contains(v - 1), s"$state: pointer moved")
        check(VersionedRoot.versions(root) == committed, s"$state: versions ${VersionedRoot.versions(root)}")
        check(s.readAt(VersionedRoot.requireCurrent(root)) == t.before, s"$state: reader left v${v - 1}")
      }
      def retried(want: Long, state: String): Unit = {
        s.write(root)
        check(VersionedRoot.currentVersion(root).contains(want), s"$state: retry committed ${VersionedRoot.currentVersion(root)}")
        check(s.readAt(VersionedRoot.requireCurrent(root)) == t.after, s"$state: retry answer differs")
      }
      // abort after a random subset of the component writes
      val dir = Paths.get(VersionedRoot.versionDir(root, v))
      t.entries.zipWithIndex.filter { case (_, i) => (bits >> (i % 63) & 1L) == 0L }
        .foreach { case (e, _) => remove(dir, e) }
      remove(dir, "_SUCCESS")
      VersionedRoot.commit(root, v - 1)
      onPrevious((1L until v).toSeq, "component abort")
      retried(v, "component abort")
      // abort between _SUCCESS and the _CURRENT swap
      VersionedRoot.commit(root, v - 1)
      onPrevious((1L to v).toSeq, "marker abort")
      retried(v + 1, "marker abort")
      vacuumRacingReader(s, root, held, t.before).foreach(failures += _)
      check(s.readAt(VersionedRoot.requireCurrent(root)) == t.after, "vacuum broke the current version")
      // orphans, under a scheme-qualified root spelling
      val orphan = VersionedRoot.versionDir(root, 99)
      Fs.writeStringAtomic(Fs.child(orphan, "part-0"), "debris")
      s.vacuum("file:" + root)
      check(Fs.exists(orphan), "fresh orphan swept")
      if (Fs.exists(orphan)) TreeAge.backdate(orphan)
      s.vacuum("file:" + root)
      check(!Fs.exists(orphan), "stale orphan spared")
      val found = failures.result()
      Prop(found.isEmpty) :| found.mkString("; ")
    }
  }

  property("ParquetMergeSink") = {
    import graft.sinks.ParquetMergeSink
    def parts(root: String) = (Paths.get(root).getParent.toString, Paths.get(root).getFileName.toString)
    def merge(root: String, keys: Range, v: Long): Unit = {
      import spark.implicits._
      val (wh, t) = parts(root)
      ParquetMergeSink.mergeNext(spark, wh, t, keys.map(k => (k, v)).toDF("k", "v"), Seq("k")): Unit
    }
    crashProperty(new Store(merge(_, 0 until 5, 1L), merge(_, 3 until 7, 2L),
      dir => rows(spark.read.parquet(dir)),
      root => { val (wh, t) = parts(root); ParquetMergeSink.vacuum(wh, t) }))
  }

  property("NearDupIndexStore") = {
    import graft.llm.NearDupIndexStore
    import spark.implicits._
    def text(i: Int): String = (0 until 12).map(j => s"s${i}z$j").mkString(" ")
    // every text family, so each family's components ride every crash case
    val components = Seq("prefix", "sets", "postings", "dfcensus", "bands",
      "win/byid", "win/postings", "win/dfcensus", "fuzzy/segs", "fuzzy/byid")
    crashProperty(new Store(
      root => NearDupIndexStore.build(spark, (0 until 20).map(i => (i.toLong, text(i)))
        .toDF("doc_id", "text"), "doc_id", "text", root, numBuckets = 4,
        withContainment = true, minhash = Some((16, 8)), winnowing = Some((12, 8)),
        fuzzyKey = Some((64, 3))): Unit,
      root => NearDupIndexStore.appendDelta(spark, root,
        Seq((100L, text(7)), (101L, text(41)), (5L, text(5) + " revised"))
          .toDF("doc_id", "text"), "doc_id", "text"): Unit,
      dir => components.flatMap(c =>
        rows(PrunedIndex.read(spark, Fs.child(dir, c))).map(r => s"$c $r")).toSet,
      NearDupIndexStore.vacuum(_): Unit))
  }

  property("AnnIndexStore") = {
    import graft.llm.AnnIndexStore
    val p = AnnIndexStore.Params(nCells = 4, iters = 2, numBuckets = 4, m = 4,
      efConstruction = 12, multiAssign = 1)
    crashProperty(new Store(
      root => AnnIndexStore.build(spark, Synthetic.embeddings(spark, 0L until 120L),
        "vec_id", "embedding", root, p): Unit,
      root => AnnIndexStore.appendDelta(spark, root,
        Synthetic.embeddings(spark, 120L until 130L), "vec_id", "embedding", p): Unit,
      dir => rows(PrunedIndex.read(spark, Fs.child(dir, "assigned"))),
      AnnIndexStore.vacuum(_): Unit))
  }

  property("CurationLedgerStore") = {
    import graft.llm.CurationLedgerStore
    val p = CurationLedgerStore.Params(idCol = "doc_id", textCol = "text",
      scoreCol = "n_chars", sourceCol = "source", neardupBuckets = 8,
      idBuckets = 4, tokBuckets = 4, packBuckets = 4, hashBands = 64)
    crashProperty(new Store(
      root => CurationLedgerStore.build(spark, Synthetic.docs(spark, 0L until 60L),
        Synthetic.docs(spark, 1000L until 1004L), "text", root, p): Unit,
      root => CurationLedgerStore.absorbBatch(spark, root,
        Synthetic.docs(spark, 60L until 80L)
          .unionByName(Synthetic.docs(spark, Seq(5L, 9L), revision = 1))).collect(): Unit,
      dir => rows(PrunedIndex.read(spark, Fs.child(dir, "ledger"))),
      CurationLedgerStore.vacuum(_): Unit))
  }

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(3)
}
