package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump (and list in
    // oracle_sql.json) only those, for quick local iteration on new
    // queries; an undeclared name fails before the session starts. The
    // driver always calls with 2 args → full dump.
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(SparkEntry.queryNames(args(2)).toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // GraftSession, not a bare builder: queries need the engine's session
    // conf (nanosAsLong, UTC) AND the GraftExtensions function registry
    // (vec_dot) to resolve.
    val spark = GraftSession.harness("graft")
    new java.io.File(outDir).mkdirs()
    // failures land in errors.json, not just stderr: a dump where broken
    // queries are silently ABSENT reads as 100% pass to any consumer that
    // iterates the dumped dirs (ADVICE r9 — the 8-query regression was
    // invisible in CORRECTNESS_r09.json for exactly this reason)
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = e.getClass.getSimpleName
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
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // exit code stays 0 even on partial failure: the driver must still
    // compare the queries that DID dump — errors.json is the record
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
  }
}
