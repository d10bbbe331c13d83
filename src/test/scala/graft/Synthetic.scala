package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small deterministic fixtures built in memory, seeded per row id. */
object Synthetic {

  /** Crawl docs (doc_id, text, source, n_chars): 30 words drawn from a
    * skewed 400-word vocabulary, so no two docs are near-duplicates.
    * `revision` reseeds the text of the same ids (a re-upload). */
  def docs(spark: SparkSession, ids: Seq[Long], revision: Int = 0): DataFrame = {
    import spark.implicits._
    ids.map { id =>
      val rng = new scala.util.Random(id * 7919L + revision)
      val text = Seq.fill(30)(s"w${(math.pow(rng.nextDouble(), 3) * 400).toInt}").mkString(" ")
      (id, text, s"src${id % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
  }

  /** Embeddings (vec_id, embedding): 8-dim gaussian vectors. */
  def embeddings(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map { id =>
      val rng = new scala.util.Random(id)
      (id, Seq.fill(8)(rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }
}
