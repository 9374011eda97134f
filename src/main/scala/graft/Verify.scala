package graft
import org.apache.spark.metrics.source.CodegenMetrics
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare.
  * Usage: `graft.Verify <sfDir> <outDir> [q1,q2,...]`; with the name
  * filter, both the dumps and oracle_sql.json hold only those names, so
  * `tools/check_oracle.py` checks exactly them. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for fast
    // single-query iteration (the driver always runs the full dump)
    val only = args.lift(2).map(_.split(',').toSet)
    def kept(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => kept(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql.filter { case (name, _) => kept(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // every codegen cache miss compiles one class; the histogram samples
    // each compile's milliseconds, so count x mean estimates Janino's total
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    System.err.println(f"[verify] codegen: ${compiles.getCount} classes compiled, " +
      f"~${compiles.getCount * compiles.getSnapshot.getMean}%.0f ms Janino " +
      s"(cache ${GraftSession.CodegenCacheEntries} entries)")
    spark.stop()
  }
}
