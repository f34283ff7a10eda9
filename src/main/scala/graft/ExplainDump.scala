package graft

/** Dev tool: print `explain("formatted")` for named SparkEntry queries
  * (plan audits beyond the PlanShapeSpec string asserts).
  * `sbt "runMain graft.ExplainDump q40_pack_chunks q45_range_join"`
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- args) {
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
