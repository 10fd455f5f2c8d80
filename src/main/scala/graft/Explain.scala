package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** Plan auditor: prints formatted physical plans for selected queries so
  * pushdown / broadcast / whole-stage-codegen can be inspected.
  * Usage: runMain graft.Explain [queryName ...]
  *
  * A query whose build runs eager actions (fits, collects, the
  * checkpoints of the iterative graph ops) returns a frame whose plan
  * starts at the last materialization. So each build runs under a job
  * tag naming its query, and a listener records every root SQL
  * execution the build starts; after the run, each query's section
  * reports how many eager executions its build ran and the physical
  * plan of the last one (an iterative op's final sweep, or its output
  * frame when it checkpoints that).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = QuerySession(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_agg_pricing_summary", "q_join_revenue_nation", "q_drift_statistics")
    val starts = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          starts.add(s)
        case _ =>
      }
    })
    names.foreach { n =>
      println(s"\n========== $n ==========")
      spark.sparkContext.addJobTag(n)
      SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").explain("formatted")
      spark.sparkContext.removeJobTag(n)
    }
    spark.stop() // drains the listener bus: every start event is recorded
    names.foreach { n =>
      val runs = starts.asScala.filter(_.jobTags.contains(n)).toSeq
      println(s"\n========== $n: ${runs.size} eager executions while building ==========")
      runs.lastOption.foreach(s => println(s.physicalPlanDescription))
    }
  }
}
