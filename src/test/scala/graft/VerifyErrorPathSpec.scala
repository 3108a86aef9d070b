package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the verify harness's failure-visibility contract: a query that
  * throws must land as a machine-readable red marker (an `_ERROR` file
  * in its outDir slot plus an entry in `errors.json`), never as a
  * stderr line only. In round 8 a swallowed exception made 23 broken
  * queries "vanish" from the correctness artifact instead of showing
  * as red rows — this suite keeps that class of wound closed. It also
  * pins the query registry the harness iterates. */
class VerifyErrorPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("query registry: 157 uniquely named queries, each with an oracle") {
    val names = SparkEntry.allDefs.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty,
      s"a duplicate name silently drops a query from the registry: $dups")
    assert(names.size == 157)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("a broken sfDir surfaces EVERY query as an _ERROR slot and an " +
    "errors.json entry, with oracle_sql.json still written") {
    val bogusSf = java.nio.file.Files.createTempDirectory("graft_vesf").toString
    val out = java.nio.file.Files.createTempDirectory("graft_veout").toString
    // Pre-populate one slot with a previous "green" run's files: a failed
    // slot must be CLEARED down to the _ERROR marker, or a compare loop
    // keyed on parquet presence would read the stale result as a pass.
    val staleName = SparkEntry.queries.keys.head
    val staleSlot = java.nio.file.Paths.get(out, staleName)
    java.nio.file.Files.createDirectories(staleSlot.resolve("nested"))
    java.nio.file.Files.writeString(
      staleSlot.resolve("part-00000.parquet"), "stale")
    java.nio.file.Files.writeString(
      staleSlot.resolve("nested").resolve("_SUCCESS"), "")
    Verify.run(spark, bogusSf, out)
    assert(java.nio.file.Files.list(staleSlot).toArray.toSeq
      .map(_.toString.split('/').last) == Seq("_ERROR"),
      "a failed slot must contain ONLY the _ERROR marker")
    val errJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/errors.json"))
    SparkEntry.queries.keys.foreach { name =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(out, name, "_ERROR")),
        s"$name must leave an _ERROR marker when it fails")
      assert(errJson.contains("\"" + name + "\""),
        s"$name must appear in errors.json")
    }
    // oracle_sql.json is still written — the driver's compare loop runs
    // and every query shows as a RED row, not an absent one
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/oracle_sql.json")))
  }
}
