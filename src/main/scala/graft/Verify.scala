package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // arg 3 (optional, builder-side pre-checks only — the driver passes
    // two): comma-separated names or name prefixes ([[Driver.select]])
    // to dump instead of the full set
    val names = Driver.select(SparkEntry.queries.keys.toSeq.sorted,
      args.drop(2).headOption.map(Driver.tokens).getOrElse(Nil))
    val spark = Driver.session(Driver.layoutBytes(sfDir))
    dump(spark, sfDir, outDir, names)
    spark.stop()
  }

  /** Writes each named query's result to `outDir/<name>` (parquet, one
    * file) and the oracle inventory to `outDir/oracle_sql.json`. A query
    * that throws is reported on stderr and the rest still run. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    names.foreach { name =>
      try Driver.run(spark, sfDir, queries(name)) {
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
