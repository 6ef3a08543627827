package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkEntry.localSession("graft-verify", SparkEntry.cpus)
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter (NOT used by the driver): comma-separated
    // exact query names; unset = run everything.
    val only = sys.env.get("GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    SparkEntry.registry.filter(q => only.forall(_.contains(q.name))).foreach { q =>
      try q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def str(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // DRIVER CONTRACT (round-1 postmortem): the driver keys its oracle
    // lookup by the parquet dump's *filename* ("q_foo.parquet"), while the
    // natural key here is the bare query name ("q_foo"). Round 1 emitted
    // only bare keys -> 0/73 key overlap -> every query recorded
    // err:"no_oracle". Emit every oracle under BOTH keys so either join works.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Stale-dump check: every query carries its oracle by construction,
    // but a reused out dir can still hold dump dirs of queries that were
    // since renamed or removed. The oracle compare would score each of
    // them as no_oracle — fail the run instead.
    val dumped = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.endsWith(".parquet")).map(_.getName)
    val orphans = dumped.filterNot(d =>
      SparkEntry.oracleSql.contains(d.stripSuffix(".parquet")))
    if (orphans.nonEmpty && only.isEmpty) {
      System.err.println(s"[verify] FATAL: dumps without oracle entry: ${orphans.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
