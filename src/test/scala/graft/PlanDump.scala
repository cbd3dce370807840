package graft

/** Scratch plan dumper for local iteration: prints the executed plan of
  * the queries named on the command line (sf0.001). Not a test. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.util.LocalSession("4", "ERROR")
    args.foreach { name =>
      val p = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      println(s"=== $name ===")
      println(p)
      println("exchanges: " + "Exchange hashpartitioning".r.findAllIn(p).length)
      println("scans: " + "Scan parquet".r.findAllIn(p).length)
    }
    spark.stop()
  }
}
