package graft
import java.nio.file.{Files, Paths}

import graft.util.Json.{str => q}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare (tools/verify_local.py).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir>`
  * env: SPARK_GRAFT_ONLY (subset), SPARK_GRAFT_CPUS ([[GraftSession]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Dev loop: SPARK_GRAFT_ONLY=t90_c4_filter,t91_... dumps a subset
    // (the driver never sets it, so the contract run is unchanged).
    val only = GraftSession.only
    val toRun = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val dumpErrors = scala.collection.mutable.ArrayBuffer.empty[String]
    toRun.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        dumpErrors += name
      }
      // release per-query persisted state (shared shingle projections,
      // localCheckpoint cuts) so pins don't accumulate across the suite
      GraftSession.release(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Tail-survivable result marker (the BENCH_RESULT treatment — the
    // driver's parsed correctness artifact arrived empty in r17 and
    // r19, so the dump phase's outcome must be recoverable from the
    // captured stdout tail alone). "dumped" counts queries whose
    // parquet landed; the DuckDB value compare is the driver's (or
    // tools/verify_local.py's) phase and prints its own marker.
    val marker = s"""CORRECTNESS_RESULT {"phase":"dump","dumped":${
      toRun.size - dumpErrors.size},"total":${toRun.size},"errors":${
      dumpErrors.sorted.map(q).mkString("[", ",", "]")},"out":${q(outDir)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_result.json"),
      marker.stripPrefix("CORRECTNESS_RESULT "))
    println(marker)
    // exit 0 even with per-query dump errors — the driver's compare
    // phase decides pass/fail per query; a non-zero exit here could
    // abort its artifact for the queries that DID land
    spark.stop()
  }
}
