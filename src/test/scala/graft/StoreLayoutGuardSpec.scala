package graft

import org.scalatest.funsuite.AnyFunSuite

/** The versioned-root layout (`v<N>/`, `_SUCCESS`, `_CURRENT`) has one
  * owner, `graft.store.VersionedRoot`. This guard fails when store-layout
  * knowledge reappears anywhere else in `src/main/scala`: a `"_CURRENT"`
  * or `"_SUCCESS"` literal, or the `v<N>` directory-name parse. It also
  * keeps the store sources reading parquet through
  * `graft.store.RecordedSchema`. */
class StoreLayoutGuardSpec extends AnyFunSuite {
  private val forbidden = Seq(
    "\"_CURRENT\"".r, "/_CURRENT\"".r, "\"_SUCCESS\"".r,
    """startsWith\("v"\).*forall\(_\.isDigit\)""".r)

  test("store layout literals and the version parse live only in graft/store/") {
    val main = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(main)
    val files = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path]).toSeq finally walk.close()
    val offenders = for {
      f <- files if f.toString.endsWith(".scala")
      rel = main.relativize(f).toString if !rel.startsWith("graft/store/")
      (line, i) <- java.nio.file.Files.readAllLines(f).toArray.map(_.toString).zipWithIndex
      if forbidden.exists(_.findFirstIn(line).nonEmpty)
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(files.exists(_.toString.endsWith("VersionedRoot.scala")), "scan root is wrong")
    assert(offenders.isEmpty, offenders.mkString("\n"))
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
