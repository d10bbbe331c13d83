package graft.store

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.fs.Fs

/** The Spark schema of a parquet directory a graft store writes,
  * recorded beside its files at write time (`<dir>/_SCHEMA` by
  * default; [[graft.sources.PrunedIndex]] keeps its `_PRUNE_SCHEMA`
  * name).
  *
  * A `spark.read.parquet(dir)` without a schema first runs a one-task
  * job that reads a footer to infer it, and only then the scan; reading
  * through [[reader]] / [[read]] hands Spark the recorded schema, so a
  * store read is exactly one job — the scan. The sidecar starts with
  * `_`, so Spark's file listing skips it like `_SUCCESS`. A directory
  * without the sidecar (written before it existed) falls back to
  * Spark's footer inference. */
object RecordedSchema {

  val File = "_SCHEMA"

  /** Record `schema` for `dir`. Call after the data files landed: an
    * overwrite-mode parquet write clears the directory first. */
  def write(dir: String, schema: StructType, file: String = File): Unit =
    Fs.writeStringAtomic(Fs.child(dir, file), schema.json)

  /** The schema recorded for `dir`; None for a directory written
    * without the sidecar. */
  def of(dir: String, file: String = File): Option[StructType] = {
    val p = Fs.child(dir, file)
    if (Fs.exists(p)) Some(DataType.fromJson(Fs.readString(p)).asInstanceOf[StructType])
    else None
  }

  /** A parquet reader for `dir`'s files: with the recorded schema when
    * there is one, else Spark's inference. */
  def reader(spark: SparkSession, dir: String, file: String = File): DataFrameReader =
    of(dir, file).fold(spark.read)(spark.read.schema(_))

  def read(spark: SparkSession, dir: String): DataFrame = {
    val df = reader(spark, dir).parquet(dir)
    // Spark lists a directory that vanished mid-listing (a version a
    // concurrent vacuum dropped) as empty, with only a warning; under a
    // recorded schema that would read as an empty snapshot, so fail the
    // read whole instead
    if (!Fs.exists(dir))
      throw new java.io.FileNotFoundException(s"$dir was removed while it was listed")
    df
  }

  /** Overwrite `dir` with `df` as plain parquet and record its schema —
    * the write side of every directory [[read]] serves. */
  def writeParquet(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(dir)
    write(dir, df.schema)
  }
}
