package graft
/** Dev tool: dump executed plans for scale-critical queries; greppable. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val dir = "/root/testdata/sf0.001"
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"==== $n")
      println(SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
