package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.util.LocalSession(cpus)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration (driver never
    // sets this; absent → full dump, the driver contract)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: SPARK_GRAFT_VERIFY_ONLY names unknown queries: ${unknown.mkString(", ")}")
      if ((names -- unknown).isEmpty)
        System.err.println("[verify] WARNING: zero queries selected — nothing will be dumped")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>

      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        spark.catalog.clearCache() // free per-query cached relations
        // checkpoint blocks are strongly tracked outside the CacheManager;
        // release them per query (the write above consumed the result) or
        // they accumulate in the BlockManager across the whole dump
        graft.operators.Dedup.unpersistIntermediates(spark)
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
    // registry sizes for the ci.sh README-drift check: contract-facing
    // counts must be compared against the compiled registry, not trusted
    Files.writeString(Paths.get(s"$outDir/counts.json"),
      s"""{"queries": ${SparkEntry.queries.size}, "oracles": ${SparkEntry.oracleSql.size}}""")
    spark.stop()
  }
}
