package graft

import org.apache.spark.sql.SparkSession

/** Plan/latency probe for one `SparkEntry.queries` entry: prints the
  * formatted physical plan and per-run wall times. Diagnostic only —
  * the driver uses Verify (correctness) and Bench (timing).
  *
  * Usage: runMain graft.Explain <query_name> <sfDir> [runs]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.getOrCreate("graft-explain")
    // ad-hoc conf experiments: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    val fn = SparkEntry.queries(name)
    val df = fn(spark, sfDir)
    println(s"==== $name @ $sfDir ====")
    df.explain("formatted")
    // SPARK_GRAFT_FINAL_PLAN=1: execute the df through its OWN query
    // execution and print the AQE final plan (runtime join strategies,
    // coalesced partition counts — explain() only shows the initial)
    if (sys.env.get("SPARK_GRAFT_FINAL_PLAN").contains("1")) {
      val d = fn(spark, sfDir)
      d.foreach(_ => ())
      println("==== final adaptive plan ====")
      println(d.queryExecution.executedPlan.toString.take(30000))
    }
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"run $i: $dt%.3f s")
      spark.sparkContext.getRDDStorageInfo.foreach { info =>
        println(s"  storage: ${info.name} parts=${info.numCachedPartitions}/" +
          s"${info.numPartitions} mem=${info.memSize}")
      }
    }
    spark.stop()
  }
}
