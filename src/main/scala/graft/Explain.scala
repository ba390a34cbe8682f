package graft

/** Dev tool: print the formatted physical plan of one or more query keys —
  * the feedback loop for the scale discipline (check PushedFilters /
  * ReadSchema / join strategies / WholeStageCodegen spans).
  *
  * Usage: runMain graft.Explain <sfDir> <key> [key...]   (or 'all')
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val keys =
      if (args.drop(1).isEmpty || args(1) == "all") SparkEntry.keys.sortBy(_.name)
      else SparkEntry.lookup(args.drop(1).toSeq)
    val spark = GraftSession.builder().getOrCreate()
    keys.foreach { k =>
      println(s"\n========== ${k.name} ==========")
      k.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
