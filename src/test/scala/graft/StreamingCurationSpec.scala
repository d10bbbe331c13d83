package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.llm.Curation

/** The reference's event-driven intake (S3 event → file arrives →
  * process exactly once) driving the INDEXED curation state: each
  * micro-batch flows through [[Curation.mergeStateIndexed]] with a
  * parquet round-trip of the frames between batches — exactly the
  * deployment loop — and the checkpointed file source supplies the
  * exactly-once file semantics (a restarted query does not re-merge an
  * absorbed batch). The streamed state must equal a from-scratch
  * [[Curation.buildStateIndexed]] over the true post-replace corpus:
  * the frames frame-for-frame, and the advanced index probe-for-probe. */
class StreamingCurationSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import spark.implicits._

  test("streamed micro-batches drive mergeStateIndexed to the batch-rebuild state") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"n_chars", $"source")
    // day 0: %3==0 docs, the %9==0 subset still at a draft revision
    val b0 = d.filter($"doc_id" % 3 === 0).withColumn("text",
      when($"doc_id" % 9 === 0,
        concat(lit("obsolete draft placeholder revision "), substring($"text", 1, 48)))
        .otherwise($"text"))
    // day 1 brings new ids; day 2 mixes new ids with the corrected drafts
    val d1 = d.filter($"doc_id" % 3 === 1)
    val d2 = d.filter($"doc_id" % 3 === 2 || $"doc_id" % 9 === 0)
    val bench = d.filter($"doc_id" % 50 === 0)

    val root = Files.createTempDirectory("graft_streamcur").toString
    val watch = s"$root/incoming"; Files.createDirectories(Paths.get(watch))
    val ckpt = s"$root/ckpt"
    def roundTrip(st: Curation.IndexedState, day: String): Curation.IndexedState = {
      def w(df: DataFrame, name: String): DataFrame = {
        df.write.mode("overwrite").parquet(s"$root/$day/$name")
        spark.read.parquet(s"$root/$day/$name")
      }
      Curation.IndexedState(w(st.thin, "thin"), w(st.pairs, "pairs"),
        w(st.cleanIds, "clean"), w(st.census, "census"), w(st.gramIndex, "grams"))
    }
    @volatile var state = roundTrip(Curation.buildStateIndexed(spark, b0,
      "doc_id", "text", "n_chars", "source", bench, "text",
      s"$root/idx", numBuckets = 16), "day0")

    // land one batch as ONE parquet file in the watched dir
    def land(df: DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(watch, s"$name.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    // one AvailableNow pass over whatever is new in the watched dir;
    // the shared checkpoint makes already-absorbed files invisible
    def drain(): Unit = {
      val q = spark.readStream.schema(d.schema).parquet(watch)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          if (!batch.isEmpty) {
            val merged = Curation.mergeStateIndexed(spark, state, s"$root/idx",
              batch, "doc_id", "text", "n_chars", "source")
            state = roundTrip(merged, s"day${id + 1}")
            graft.llm.NearDupIndexStore.releaseProbeCache(s"$root/idx", batch,
              "doc_id", "text")
          }
        }
        .start()
      assert(q.awaitTermination(120000))
    }
    land(d1, "b1"); drain()
    land(d2, "b2"); drain()

    // the streamed state == a fresh indexed build over the true corpus
    val target = Curation.buildStateIndexed(spark, d, "doc_id", "text",
      "n_chars", "source", bench, "text", s"$root/idx_ref", numBuckets = 16)
    def sortedRows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(state.thin.count() == d.count())
    assert(sortedRows(state.thin) == sortedRows(target.thin))
    assert(sortedRows(state.cleanIds) == sortedRows(target.cleanIds))
    assert(sortedRows(state.census) == sortedRows(target.census))
    assert(sortedRows(state.pairs.select($"a_id", $"b_id")) ==
      sortedRows(target.pairs.select($"a_id", $"b_id")))
    // the ADVANCED index answers a later probe like the fresh build
    val probe = d.filter($"doc_id" % 10 === 4)
    def pset(df: DataFrame) =
      df.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pset(graft.llm.NearDupIndexStore.pairsForDelta(spark, s"$root/idx",
        probe, "doc_id", "text")) ==
      pset(graft.llm.NearDupIndexStore.pairsForDelta(spark, s"$root/idx_ref",
        probe, "doc_id", "text")))
    graft.llm.Dedup.releaseShingleSetCache(d, "doc_id", "text")
    Seq(s"$root/idx", s"$root/idx_ref").foreach(r =>
      graft.llm.NearDupIndexStore.releaseProbeCache(r, probe, "doc_id", "text"))
    spark.catalog.clearCache()
  }
}
