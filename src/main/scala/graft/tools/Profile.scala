package graft.tools

/** Dev profiler: split one key's wall time into DataFrame construction +
  * analysis, optimize+physical-planning, and execution, per iteration,
  * and print each Spark job's run time and the driver gap before it.
  * The split tells a regression hunt whether time went to Catalyst (rule
  * count grows with the inventory) or to the executed stages (data/layout).
  *
  * Usage: runMain graft.tools.Profile <key> [iters] [sfDir]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    // one key, or several in one JVM/session
    val keys = graft.SparkEntry.lookup(args(0).split(",").toSeq)
    val iters = if (args.length > 1) args(1).toInt else 6
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.builder().getOrCreate()
    // per-job wall time + inter-job driver gap — the split that tells
    // construction-time driver loops (fit/train/rounds) where their fixed
    // cost per tiny job goes
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        @volatile private var lastEnd = 0L
        private val starts =
          new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          starts.put(js.jobId, js.time)
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = starts.getOrDefault(je.jobId, je.time)
          val gap = if (lastEnd == 0) 0L else st - lastEnd
          lastEnd = je.time
          println(f"[job] id ${je.jobId}%4d  run ${(je.time - st) / 1e3}%.3f s  gap-before ${gap / 1e3}%.3f s")
        }
      })
    spark.range(1000000).selectExpr("sum(id)").collect()
    keys.foreach { key =>
      (1 to iters).foreach { i =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val df = key.run(spark, sfDir)
        df.queryExecution.analyzed // force analysis
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // optimize + plan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        println(f"[profile] ${key.name} iter $i: analyze ${(t1 - t0) / 1e9}%.3f  " +
          f"plan ${(t2 - t1) / 1e9}%.3f  exec ${(t3 - t2) / 1e9}%.3f  " +
          f"total ${(t3 - t0) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
