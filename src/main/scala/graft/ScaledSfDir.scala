package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaled copies of an sf dir for the scale tools: [[build]]
  * materializes a COMPLETE sf-layout directory at `factor`× a base sf
  * dir — the absolute-scale evidence run (an sf1-equivalent when factor
  * = 10 over sf0.1), so every SparkEntry query runs unchanged on it
  * ([[SlopeGate]] times them all):
  *
  *  - lineitem / orders / events: `factor` copies with copy-unique keys
  *    (a lineitem copy joins exactly its own order copy, so join
  *    fan-out per key is preserved while key cardinality grows; events
  *    shift event_id AND user_id, so window partition sizes stay
  *    realistic)
  *  - documents: [[scaledDocsDf]]'s junk-token extension (copies fall
  *    below near-dup thresholds, so pair counts grow ~linearly, the
  *    shape a real 10× crawl has)
  *  - embeddings: [[scaledEmbeddingsDf]]'s norm-preserving rotation
  *    (same argument)
  *  - region / nation / customer / supplier / part: pass through — the
  *    TPC-H shape: facts grow, dims don't
  *
  * Every materialized table goes through [[once]], so a re-run reuses
  * what an earlier run (or a crashed one) already landed. */
object ScaledSfDir {

  /** Write `df` as parquet at `out` unless an earlier write there
    * committed (its `_SUCCESS` exists); returns `out`. */
  def once(out: String)(df: => DataFrame): String = {
    if (!graft.fs.Fs.exists(s"$out/_SUCCESS"))
      df.write.mode("overwrite").parquet(out)
    out
  }

  def build(spark: SparkSession, baseDir: String, out: String, factor: Int): String = {
    // events.parquet is TIMESTAMP(NANOS); without this the plain read
    // below throws PARQUET_TYPE_ILLEGAL (queries set it themselves,
    // but the builder runs before any query)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val copies = spark.range(factor).select(col("id").as("copy"))
    def write(name: String)(df: => DataFrame): Unit =
      once(s"$out/$name.parquet")(df): Unit
    def fanOut(name: String)(rekey: DataFrame => DataFrame): Unit =
      write(name)(rekey(spark.read.parquet(s"$baseDir/$name.parquet").crossJoin(copies))
        .drop("copy"))
    fanOut("lineitem")(_.withColumn("l_orderkey",
      col("l_orderkey") * factor + col("copy")))
    fanOut("orders")(_.withColumn("o_orderkey",
      col("o_orderkey") * factor + col("copy")))
    fanOut("events")(_
      .withColumn("event_id", col("event_id") * factor + col("copy"))
      .withColumn("user_id", col("user_id") * factor + col("copy")))
    Seq("region", "nation", "customer", "supplier", "part")
      .foreach { t => write(t)(spark.read.parquet(s"$baseDir/$t.parquet")) }
    write("documents")(scaledDocsDf(spark, baseDir, factor))
    write("embeddings")(scaledEmbeddingsDf(spark, baseDir, factor))
    out
  }

  /** Documents-only layout carrying [[scaledFuzzyDocsDf]]'s
    * key-decorrelating alphabet rotation — the [[SlopeGate]] alternate
    * input for the fuzzy-KEY family, whose slope on the shared layout
    * is output-quadratic by corpus construction (identical 64-char
    * prefix keys across copies). Factor 1 is the identity rotation, so
    * the base side times the same per-doc work. Only
    * `documents.parquet` is written — the fuzzy queries read nothing
    * else. */
  def buildFuzzy(spark: SparkSession, baseDir: String, out: String, factor: Int): String = {
    once(s"$out/documents.parquet")(scaledFuzzyDocsDf(spark, baseDir, factor))
    out
  }

  /** `factor` copies of the base documents, each copy's text extended
    * with copy-unique junk tokens (~35% of the doc's own token count).
    * Copies of one doc fall BELOW the 0.8 Jaccard threshold against each
    * other, so pair/cluster counts grow ~linearly with the corpus
    * instead of degenerating into an all-pairs blow-up of identical
    * replicas. Schema-preserving: every base column passes through;
    * only doc_id is rekeyed and text extended. */
  def scaledDocsDf(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    base.crossJoin(copies)
      .select(
        (col("doc_id") * factor + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text")).otherwise(concat(
          col("text"), lit(" "),
          array_join(transform(
            sequence(lit(1), greatest(lit(1),
              ceil(size(split(col("text"), " ")) * 0.35).cast("int"))),
            i => format_string("z%dc%dw%d", col("doc_id"), col("copy"), i)), " ")))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
  }

  /** Scaled embeddings: `factor` copies, each copy's vector circularly
    * rotated by the copy index — norm-preserving, and rotated copies
    * decorrelate, so near-dup pair counts grow ~linearly with the
    * corpus (the realistic shape) instead of quadratically in factor. */
  def scaledEmbeddingsDf(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    base.crossJoin(copies)
      .select(
        (col("vec_id") * factor + col("copy")).as("vec_id"),
        // rotate by copy MOD dim: the raw copy index degenerates once
        // copy >= dim (empty head slice + full tail = exact duplicate
        // of copy 0 → quadratic pair growth, the opposite of the
        // stated linear design)
        when(pmod(col("copy"), size(col("embedding"))) === 0, col("embedding"))
          .otherwise(concat(
            slice(col("embedding"),
              pmod(col("copy"), size(col("embedding"))) + 1,
              size(col("embedding")) - pmod(col("copy"), size(col("embedding")))),
            slice(col("embedding"), lit(1),
              pmod(col("copy"), size(col("embedding")))))).as("embedding"),
        col("label"))
  }

  /** Key-decorrelated scaled docs for the fuzzy-KEY family. The shared
    * scaled corpus appends its junk at the END of the text, so every
    * copy of a doc keeps an IDENTICAL 64-char prefix key — under the
    * all-pairs contract that is output-quadratic in factor by
    * definition (factor² cross-copy pairs per base doc), which measures
    * the contract, not the plan. Here each copy is instead passed
    * through a copy-unique ALPHABET ROTATION (`translate`, letters and
    * digits rotated by the copy index; copy 0 is the identity): within
    * a copy the key-diversity structure — segment values, hot-segment
    * skew, pair structure — is preserved bijectively, across copies
    * every alphanumeric key char differs, so Hamming distance between
    * copies ≈ key length ≫ maxDist and pair counts grow EXACTLY
    * linearly with the corpus (factor × base pairs), the real-crawl
    * shape. (A first cut prepended an 8-hex md5 copy marker instead;
    * that ate 9 of segment 0's 16 chars, collapsed its diversity, and
    * inflated the base itself 6.7× through hot-segment fan-out —
    * measuring the harness, not the operator.) */
  def scaledFuzzyDocsDf(spark: SparkSession, baseDir: String, factor: Int): DataFrame = {
    // The rotation is the identity whenever the copy index is a multiple
    // of lcm(26, 10) = 130 (and any two copies 130 apart share keys), so
    // past that the exactly-linear pair-growth claim silently breaks
    // back into cross-copy quadratic pairs. Bound the factor rather than
    // let the harness lie.
    require(factor >= 1 && factor <= 130,
      s"scaledFuzzyDocsDf factor must be in [1, 130] (alphabet rotation " +
        s"cycles at lcm(26,10)=130, collapsing cross-copy key distance); got $factor")
    val base = spark.read.parquet(s"$baseDir/documents.parquet")
    val copies = spark.range(factor).select(col("id").cast("int").as("copy"))
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val digits = "0123456789"
    def rot(s: String, k: Int): String = {
      val m = k % s.length; s.drop(m) + s.take(m)
    }
    val src = lower + lower.toUpperCase + digits
    def dst(c: Int): String =
      rot(lower, c) + rot(lower.toUpperCase, c) + rot(digits, c)
    val tx = (1 until factor)
      .foldLeft(when(col("copy") === 0, col("text"))) { (acc, c) =>
        acc.when(col("copy") === c, translate(col("text"), src, dst(c)))
      }
      .otherwise(col("text"))
    base.crossJoin(copies)
      .select(
        (col("doc_id") * factor + col("copy")).as("doc_id"),
        tx.as("text"),
        col("lang"), col("source"), col("n_chars"))
  }
}
