package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (dev only; the driver passes two): run only
    // queries whose name contains any of the comma-separated substrings
    val nameFilter = args.lift(2).map(_.split(",").toSeq)
    // count codegen compile fallbacks across the WHOLE registry (Bench
    // gates only the queries it times); reported at the end, strict
    // via SPARK_GRAFT_CODEGEN_STRICT=1 — not a default hard failure,
    // because a fallback is a perf bug, not a correctness one, and
    // this main IS the correctness gate
    val codegenWatch = graft.plans.CodegenWatch.install()
    new java.io.File(outDir).mkdirs()
    Sessions.run() { spark =>
      SparkEntry.queries
        .filter { case (name, _) => nameFilter.forall(_.exists(name.contains)) }
        .foreach { case (name, fn) =>
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
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
      .filter { case (k, _) => nameFilter.forall(_.exists(k.contains)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val ce = codegenWatch.count.get()
    if (ce > 0) System.err.println(
      s"[verify] WARN: $ce codegen CompileException(s) — some stage fell back to interpreted execution")
    if (ce > 0 && sys.env.get("SPARK_GRAFT_CODEGEN_STRICT").contains("1"))
      sys.exit(2)
  }
}
