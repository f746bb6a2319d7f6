package graft

/** Dev tool: print formatted physical plans for selected queries so the
  * scale properties (PushedFilters, ReadSchema pruning, broadcast vs
  * shuffle joins, WholeStageCodegen spans) can be inspected and kept
  * honest. Usage: runMain graft.Explain [sfDir] [query...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.benchQueries
    val spark = GraftConf.session("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
