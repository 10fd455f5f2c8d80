package graft

/** Plan auditor: prints formatted physical plans for selected queries so
  * pushdown / broadcast / whole-stage-codegen can be inspected.
  * Usage: runMain graft.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = QuerySession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_agg_pricing_summary", "q_join_revenue_nation", "q_drift_statistics")
    // iterative graph ops eagerly checkpoint their result, so the
    // returned frame's plan is just a checkpoint scan; the probe prints
    // the last sweep's true pre-checkpoint plan as an extra section
    graft.functions.Graph.planProbe =
      df => { println("---- last-sweep pre-checkpoint plan ----"); df.explain("formatted") }
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").explain("formatted")
    }
    spark.stop()
  }
}
