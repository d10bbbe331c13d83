package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.PrunedIndex

/** `PrunedIndex.readPruned` / `writeDelta` filter a layout by the probe's
  * collected key set. Each pruned read is checked against a reference
  * that knows nothing of buckets or manifests: the layout read back as
  * plain partitioned parquet, then a `left_semi` join on the probe. */
class PrunedProbeSpec extends AnyFunSuite {
  lazy val spark = GraftSpark.spark
  import spark.implicits._

  private def dir(tag: String): String =
    Files.createTempDirectory(s"graft_probe_$tag").toString

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** The pruned read equals the reference in schema and rows. */
  private def assertLikeReference(path: String, keyCols: Seq[String], probe: DataFrame): Unit = {
    val pruned = PrunedIndex.readPruned(spark, path, probe)
    val reference = spark.read.parquet(path).drop(PrunedIndex.BucketCol)
      .join(probe, keyCols, "left_semi")
      .select(PrunedIndex.read(spark, path).columns.map(org.apache.spark.sql.functions.col): _*)
    assert(pruned.schema == PrunedIndex.read(spark, path).schema)
    assert(sorted(pruned) == sorted(reference))
  }

  test("null keys in the probe (and in the layout) match nothing") {
    val p = s"${dir("nulls")}/idx"
    val rows = (0 until 40).map(i => (if (i % 9 == 0) null else s"k${i % 11}", i.toLong))
    PrunedIndex.write(rows.toDF("k", "v"), p, Seq("k"), numBuckets = 4)
    assertLikeReference(p, Seq("k"), Seq[String]("k3", null, "k7", "absent").toDF("k"))
    assert(PrunedIndex.readPruned(spark, p, Seq[String](null).toDF("k")).count() == 0L)
  }

  test("an int probe of a long-keyed layout buckets by the stored key type") {
    val p = s"${dir("widen")}/idx"
    PrunedIndex.write((0L until 60L).map(i => (i, s"r$i")).toDF("id", "s"), p,
      Seq("id"), numBuckets = 8)
    val probe = Seq(3, 17, 42, 59, 1000).toDF("id")
    assertLikeReference(p, Seq("id"), probe)
    assert(PrunedIndex.readPruned(spark, p, probe).count() == 4L)
    // the narrowing direction: a long probe value past the int key's
    // range matches nothing (it must not wrap onto key 3)
    val q = s"${dir("narrow")}/idx"
    PrunedIndex.write((0 until 60).map(i => (i, s"r$i")).toDF("id", "s"), q,
      Seq("id"), numBuckets = 8)
    val wide = Seq(3L, (1L << 32) + 3L, 59L).toDF("id")
    assertLikeReference(q, Seq("id"), wide)
    assert(PrunedIndex.readPruned(spark, q, wide).count() == 2L)
  }

  test("two-column keys, with a null component and an absent pair") {
    val p = s"${dir("pair")}/idx"
    val rows = (0 until 80).map(i => (s"s${i % 3}", i % 5, i.toLong))
    PrunedIndex.write(rows.toDF("src", "band", "id"), p, Seq("src", "band"), numBuckets = 6)
    val probe = Seq[(String, Integer)](("s0", 1), ("s2", 4), (null, 1), ("s1", null),
      ("s9", 2)).toDF("src", "band")
    assertLikeReference(p, Seq("src", "band"), probe)
    assert(PrunedIndex.readPruned(spark, p, probe).count() ==
      rows.count(r => (r._1, r._2) == (("s0", 1)) || (r._1, r._2) == (("s2", 4))).toLong)
  }

  test("duplicate probe keys return each stored row once") {
    val p = s"${dir("dups")}/idx"
    PrunedIndex.write((0 until 30).map(i => (s"k${i % 6}", i)).toDF("k", "v"), p,
      Seq("k"), numBuckets = 4)
    val probe = Seq("k1", "k1", "k4", "k1", "k4").toDF("k")
    assertLikeReference(p, Seq("k"), probe)
    assert(PrunedIndex.readPruned(spark, p, probe).count() == 10L)
  }

  test("an empty probe is an empty frame with the stored schema") {
    val p = s"${dir("empty")}/idx"
    PrunedIndex.write((0 until 10).map(i => (i.toLong, s"t$i")).toDF("id", "term"), p,
      Seq("term"), numBuckets = 4)
    val pruned = PrunedIndex.readPruned(spark, p, Seq.empty[String].toDF("term"))
    assert(pruned.schema.map(f => (f.name, f.dataType)) ==
      graft.store.RecordedSchema.of(p, "_PRUNE_SCHEMA").get.map(f => (f.name, f.dataType)))
    assert(pruned.collect().isEmpty)
  }

  test("writeDelta: empty new rows with same-bucket strangers commits the strangers") {
    val d = dir("delta_empty")
    val base = (0 until 50).map(i => (i.toLong, s"k${i % 10}"))
    PrunedIndex.write(base.toDF("id", "k"), s"$d/v1", Seq("k"), numBuckets = 2)
    // two buckets for ten keys: the probed keys' buckets hold strangers
    PrunedIndex.writeDelta(spark, s"$d/v2", Seq.empty[(Long, String)].toDF("id", "k"),
      Seq("k2", "k5").toDF("k"), basePath = s"$d/v1")
    assert(Files.exists(java.nio.file.Paths.get(d, "v2", "_PRUNE_META")))
    val expect = base.filterNot(r => r._2 == "k2" || r._2 == "k5")
    assert(PrunedIndex.read(spark, s"$d/v2").as[(Long, String)].collect().sorted.toSeq ==
      expect.sorted)
    // a probe with duplicate and null keys replaces exactly its non-null keys
    PrunedIndex.writeDelta(spark, s"$d/v3", Seq((900L, "k3")).toDF("id", "k"),
      Seq[String]("k3", "k3", null).toDF("k"), basePath = s"$d/v2")
    val expect3 = expect.filterNot(_._2 == "k3") :+ ((900L, "k3"))
    assert(PrunedIndex.read(spark, s"$d/v3").as[(Long, String)].collect().sorted.toSeq ==
      expect3.sorted)
    assert(PrunedIndex.readPruned(spark, s"$d/v3", Seq("k3", "k4").toDF("k"))
      .as[(Long, String)].collect().sorted.toSeq ==
      expect3.filter(r => r._2 == "k3" || r._2 == "k4").sorted)
    // an empty probe with no new rows touches no bucket and commits v3 again
    PrunedIndex.writeDelta(spark, s"$d/v3b", Seq.empty[(Long, String)].toDF("id", "k"),
      Seq.empty[String].toDF("k"), basePath = s"$d/v3")
    assert(PrunedIndex.read(spark, s"$d/v3b").as[(Long, String)].collect().sorted.toSeq ==
      expect3.sorted)
    // a null-keyed new row is a stray: no probe key admits it
    intercept[IllegalArgumentException] {
      PrunedIndex.writeDelta(spark, s"$d/v4",
        spark.createDataFrame(java.util.List.of(Row(1L, null)),
          PrunedIndex.read(spark, s"$d/v3").schema),
        Seq("k3").toDF("k"), basePath = s"$d/v3")
    }
  }

  test("writeDelta: new rows from another session (a streaming micro-batch's) commit") {
    val d = dir("delta_session")
    val base = (0 until 50).map(i => (i.toLong, s"k${i % 10}"))
    PrunedIndex.write(base.toDF("id", "k"), s"$d/v1", Seq("k"), numBuckets = 2)
    val other = spark.newSession()
    val fresh = other.createDataFrame(Seq((700L, "k2"), (701L, "k5"))).toDF("id", "k")
    // the stray check must report back even though the strangers are
    // read in `spark` and the new rows live in `other`
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future(PrunedIndex.writeDelta(spark, s"$d/v2", fresh,
      Seq("k2", "k5").toDF("k"), basePath = s"$d/v1")), scala.concurrent.duration.Duration(120, "s"))
    val expect = base.filterNot(r => r._2 == "k2" || r._2 == "k5") ++
      Seq((700L, "k2"), (701L, "k5"))
    assert(PrunedIndex.read(spark, s"$d/v2").as[(Long, String)].collect().sorted.toSeq ==
      expect.sorted)
    val stray = other.createDataFrame(Seq((702L, "k7"))).toDF("id", "k")
    intercept[IllegalArgumentException] {
      Await.result(Future(PrunedIndex.writeDelta(spark, s"$d/v3", stray,
        Seq("k2").toDF("k"), basePath = s"$d/v2")), scala.concurrent.duration.Duration(120, "s"))
    }
    assert(!Files.exists(java.nio.file.Paths.get(d, "v3", "_PRUNE_META")))
  }
}
