package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each registered query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd+ args: restrict the dump to the named queries
    // (local iteration only — the driver always passes exactly two)
    val Array(sfDir, outDir, rest @ _*) = args
    val only: Set[String] = rest.toSet
    val spark = Bench.session(Bench.envCpus)
    new java.io.File(outDir).mkdirs()
    Registry.specs.filter(s => only.isEmpty || only(s.name)).foreach { spec =>
      try spec.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${spec.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${spec.name} failed: ${e.getMessage}")
      } finally spark.catalog.clearCache()
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
    spark.stop()
  }
}
