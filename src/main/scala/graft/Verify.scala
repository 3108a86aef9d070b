package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated query-name filter — dump and list just those.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = LocalSpark.session()
    run(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** The dump body, session-agnostic (main owns the session lifecycle;
    * tests drive this directly against the shared test session). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Unit = {
    new java.io.File(outDir).mkdirs()
    // A failed query must land as a loud, machine-readable red marker —
    // an _ERROR file in the query's outDir slot plus a row in errors.json
    // — never just a stderr line. (In round 8 a swallowed exception made
    // 23 broken queries "vanish" from CORRECTNESS instead of showing as
    // red rows; the artifact is the contract, stderr is not.)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      // repartition(1), NOT coalesce(1): both land one parquet file per
      // query (the layout the compare reads), but coalesce(1) REMOVES
      // parallelism — it fuses every narrow stage since the last
      // exchange into a single task, which serialized whole scan-shaped
      // queries at sf1 (one core busy, 31 idle). repartition inserts a
      // shuffle barrier so the query computes at full width and only
      // the final file write is single-task. Row order changes; both
      // compare paths (sorted-rows canon, order-free sum/xor lanes) are
      // order-independent by design.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(2000)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        val slot = Paths.get(outDir, name)
        // A failure before the overwrite-write truncated the slot would
        // leave a PREVIOUS run's green parquet next to the new _ERROR;
        // clear the slot first so a failed slot contains only the marker.
        if (Files.isDirectory(slot)) {
          val walk = Files.walk(slot)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .filter(p => p != slot).forEach(p => Files.deleteIfExists(p))
          finally walk.close()
        }
        Files.createDirectories(slot)
        Files.writeString(slot.resolve("_ERROR"), msg + "\n")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer(ies) FAILED: " +
        errors.keys.mkString(", "))
  }
}
