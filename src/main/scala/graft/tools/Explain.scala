package graft.tools

/** Prints formatted physical plans for selected SparkEntry queries — used to
  * audit pushdown (PushedFilters), broadcast choices, and WholeStageCodegen
  * spans while iterating on plans.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("sec_rls_basic", "sec_mixed", "q1_agg", "q_join3", "dedup_exact", "ann_brute_topk")
    val spark = graft.SparkUtil.localSession(graft.SparkUtil.localCpus().toString)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(graft.SparkEntry.queries(n)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
