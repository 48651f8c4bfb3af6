package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the Bench session: the correctness dump must exercise the same
    // physical plans the bench times
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // Iteration aid (mirrors Bench): run only the named queries.
    val only = SparkEntry.onlyFilter
    // A thrown query must never be mistaken for a 0-row success: every
    // failure is recorded in errors.json AND as a <name>_FAILED sentinel
    // next to where the parquet would have been, so the compare step can
    // report "threw" instead of "empty".
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // a sentinel left by a previous run into the same outDir must
        // not outlive the fix — the compare reads sentinel-first
        Files.deleteIfExists(Paths.get(s"$outDir/${name}_FAILED"))
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        // full trace in the sentinel — a failure seen only in the full
        // sweep (not isolated) is undiagnosable from the message alone
        val sw = new java.io.StringWriter()
        e.printStackTrace(new java.io.PrintWriter(sw))
        try Files.writeString(Paths.get(s"$outDir/${name}_FAILED"), sw.toString)
        catch { case _: Throwable => }
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
    // under SPARK_GRAFT_ONLY the dump carries only the filtered queries'
    // oracles — the compare step cross-checks oracle keys against outputs
    // (round 16: an oracled query with no output must read as MISSING),
    // and unfiltered oracles in a filtered dump would all misfire. The
    // driver never sets the filter, so its dump is always complete.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object when clean) so its absence vs emptiness
    // is never ambiguous to the consumer.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // The names THIS run executed — check_oracle skips outDir entries
    // outside it, so a reused outDir's stale results from a previous
    // (broader) run can't read as rows-only passes after a filtered rerun
    val ran = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    Files.writeString(Paths.get(s"$outDir/run_manifest.json"),
      ran.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
