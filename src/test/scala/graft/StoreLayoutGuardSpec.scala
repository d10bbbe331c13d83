package graft

import org.scalatest.funsuite.AnyFunSuite

/** The versioned-root layout (`v<N>/`, `_SUCCESS`, `_CURRENT`) has one
  * owner, `graft.store.VersionedRoot`. This guard fails when store-layout
  * knowledge reappears anywhere else in `src/main/scala`: a `"_CURRENT"`
  * or `"_SUCCESS"` literal, or the `v<N>` directory-name parse. It also
  * keeps the store sources reading parquet through
  * `graft.store.RecordedSchema`, and the Spark session config in
  * `graft.GraftSession`. */
class StoreLayoutGuardSpec extends AnyFunSuite {
  private val forbidden = Seq(
    "\"_CURRENT\"".r, "/_CURRENT\"".r, "\"_SUCCESS\"".r,
    """startsWith\("v"\).*forall\(_\.isDigit\)""".r)

  private val main = java.nio.file.Paths.get("src/main/scala")

  /** (path relative to src/main/scala, 1-based line number, line) of
    * every line of every main source. */
  private lazy val mainLines: Seq[(String, Int, String)] = {
    val walk = java.nio.file.Files.walk(main)
    val files = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq finally walk.close()
    assert(files.exists(_.toString.endsWith("VersionedRoot.scala")), "scan root is wrong")
    for {
      f <- files if f.toString.endsWith(".scala")
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray.map(_.toString).zipWithIndex
    } yield (main.relativize(f).toString, i + 1, line)
  }

  test("store layout literals and the version parse live only in graft/store/") {
    val offenders = for {
      (rel, n, line) <- mainLines if !rel.startsWith("graft/store/")
      if forbidden.exists(_.findFirstIn(line).nonEmpty)
    } yield s"$rel:$n: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // Every main runs on graft.GraftSession's config, so Bench, Verify,
  // SlopeGate and the store probes measure one engine; a second builder
  // drifts from it (doc-comment lines that name the builder are not code).
  test("GraftSession holds the only SparkSession builder in src/main") {
    val builder = """SparkSession\s*\.\s*[Bb]uilder""".r
    val offenders = for {
      (rel, n, line) <- mainLines if rel != "graft/GraftSession.scala"
      code = line.trim if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if builder.findFirstIn(code).nonEmpty
    } yield s"$rel:$n: $code"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(mainLines.exists { case (rel, _, line) =>
      rel == "graft/GraftSession.scala" && builder.findFirstIn(line).nonEmpty })
  }

  // The store sources read parquet only through graft.store.RecordedSchema,
  // which hands Spark the schema recorded at write time: a bare
  // `spark.read` here brings back the footer-inference job before every
  // scan (a reader chain split over lines included).
  private val storeSources = Seq("graft/sinks/Sinks.scala", "graft/sources/PrunedIndex.scala",
    "graft/llm/Dedup.scala", "graft/llm/NearDupIndexStore.scala",
    "graft/llm/AnnIndexStore.scala", "graft/llm/CurationLedgerStore.scala",
    "graft/streaming/IvfStream.scala")
  private val bareRead = """\.read\s*\.""".r

  test("store sources read parquet only through RecordedSchema") {
    val offenders = for {
      rel <- storeSources
      text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("src/main/scala", rel)), "UTF-8")
      m <- bareRead.findAllMatchIn(text)
    } yield s"$rel:${text.take(m.start).count(_ == '\n') + 1}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
