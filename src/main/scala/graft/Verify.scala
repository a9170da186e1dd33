package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each [[SparkEntry.registry]] query's result →
  * parquet, plus oracle_sql.json (every oracled entry's SQL), for the
  * DuckDB compare (`tools/check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // dev-loop subset: VERIFY_ONLY=q1,q2 dumps just those queries
    // (unset, the gate runs everything)
    val selected = sys.env.get("VERIFY_ONLY").fold(SparkEntry.registry)(SparkEntry.select)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // big-SF sweeps set VERIFY_COALESCE=0: a 60M-row dump through
    // coalesce(1) is a single-threaded write; the checker globs
    // multi-file dirs and ORDER-BY-ALLs, so file count is cosmetic.
    // Default stays 1 (the driver's layout).
    val coalesceN = sys.env.getOrElse("VERIFY_COALESCE", "1").toInt
    selected.foreach { q =>
      try {
        val res = q.build(spark, sfDir)
        (if (coalesceN > 0) res.coalesce(coalesceN) else res)
          .write.mode("overwrite").parquet(s"$outDir/${q.name}")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
      // per-query cache hygiene — see Bench
      spark.catalog.clearCache()
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
    val json = SparkEntry.registry
      .flatMap(e => e.oracle.map(sql => s"${q(e.name)}: ${q(sql)}")).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
