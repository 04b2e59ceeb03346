package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws is reported on stderr and as one `{"name", "exception",
  * "message"}` record in `failures.json` beside `oracle_sql.json` (an
  * empty array when every query ran); the remaining queries still run. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (local iteration only; the driver passes 2): a
    // comma-separated query-name filter — dump and declare just those.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
    }
    val selected = SparkEntry.selectQueries(only)
    // Verify IS the correctness gate, so the routed==exact self-checks on
    // sub-exhaustive index queries run here (and only here — Bench times
    // the pure routed plans). A recall loss aborts the query, which fails
    // the gate loudly instead of hash-mismatching mysteriously.
    sys.props("graft.selfcheck") = "1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = selected.flatMap { query =>
      try {
        query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${query.name}")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${query.name} failed: ${e.getMessage}")
        Some((query.name, e))
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
    val json = selected
      .map(query => s"${q(query.name)}: ${q(query.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"), failures.map {
      case (name, e) =>
        s"{${q("name")}: ${q(name)}, ${q("exception")}: " +
          s"${q(e.getClass.getName)}, ${q("message")}: " +
          s"${Option(e.getMessage).fold("null")(q)}}"
    }.mkString("[", ",\n", "]\n"))
    spark.stop()
  }
}
