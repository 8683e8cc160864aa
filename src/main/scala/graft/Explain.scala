package graft

/** Plan auditor: prints the formatted physical plan of selected
  * SparkEntry queries so scan pushdown (PushedFilters/ReadSchema),
  * join strategy (BroadcastHashJoin vs SortMergeJoin), and
  * WholeStageCodegen coverage can be inspected.
  * Usage: graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n========== $n ==========")
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
