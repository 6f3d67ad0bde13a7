package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session()
    new java.io.File(outDir).mkdirs()
    // dev convenience: SPARK_GRAFT_ONLY=q1_x,q2_y restricts the dump
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A throwing query must become a recorded error, never an absent row —
    // round 6 proved that silent shrinkage hides regressions (VERDICT r6).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(500)
      }
      // targeted release of operator-internal caches (the documented
      // library lifecycle). NOT spark.catalog.clearCache(): that would
      // also evict the SharedFrames intermediates, whose whole point is
      // living across consumer queries (every persist in main goes
      // through InternalCache or SharedFrames, so nothing else lingers)
      graft.operators.InternalCache.release()
    }
    // shared materialized intermediates live for the whole dump
    graft.operators.SharedFrames.release()
    spark.catalog.clearCache()
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
    // errors.json is always written (possibly {}) so its absence can never
    // be confused with "no failures"
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
