package graft

import java.nio.file.{Files, Paths}
import graft.pipeline.Catalog

/** Wall time of `Catalog.registerTable` over tables of N one-row date
  * partitions, three registrations each after one warm-up:
  *
  *   SPARK_GRAFT_CPUS=4 sbt "Test/runMain graft.RegisterTiming 30 300 3000"
  *
  * Prints one line per N with the three times in seconds. Each table is
  * written once under `target/regtiming*` (fork-free, one file per date)
  * and removed at the end. */
object RegisterTiming {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val ns = if (args.isEmpty) Seq(30, 300, 3000) else args.toSeq.map(_.toInt)
    val base = Files.createTempDirectory(Paths.get("target"), "regtiming").toAbsolutePath
    try {
      def table(n: Int): String = {
        val loc = base.resolve(s"n$n").toString
        spark.range(n).selectExpr("CAST(id AS STRING) AS sopinstance_uid",
            "date_add(DATE'2000-01-01', CAST(id AS INT)) AS study_date")
          .repartition(1)
          .write.options(graft.util.ForkFreeLocalFileSystem.WriteOptions)
          .partitionBy("study_date").parquet(loc)
        loc
      }
      Catalog.registerTable(spark, table(10), "timing_db", "warmup")
      ns.foreach { n =>
        val loc = table(n)
        val secs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          Catalog.registerTable(spark, loc, "timing_db", s"t$n")
          (System.nanoTime() - t0) / 1e9
        }
        val parts = spark.sql(s"SHOW PARTITIONS timing_db.t$n").count()
        println(f"[register] N=$n%5d partitions=$parts%5d s=${secs.map(s => f"$s%.3f").mkString(" ")}")
      }
    } finally {
      graft.util.Fs.deleteRecursively(base)
      spark.stop()
    }
  }
}
