package graft.workflow

import org.apache.spark.sql.SparkSession

/** spark-submit entry point — the reference's `main.py` contract
  * (main.py:1-13: argv = config path [+ run type]): load the YAML
  * config, run the staged workflow, report per-stage timings. Output
  * datasets/stats land wherever the config's `write_main` /
  * `save_stats_path` stages point; without a write stage the result
  * frame's row count is printed so the run still proves end-to-end.
  *
  * Usage: spark-submit --class graft.workflow.Main <jar> config.yaml
  * (or sbt "runMain graft.workflow.Main config.yaml"). The master
  * comes from spark-submit / SPARK_GRAFT_CPUS for local runs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.workflow.Main <config.yaml>")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")
    val spark = SparkSession.builder()
      .appName("graft-workflow")
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (df, stages) = Workflow.runFile(spark, args(0))
    stages.foreach(s => println(f"[workflow] ${s.name}%-24s ${s.seconds}%8.2f s"))
    println(s"[workflow] result rows=${df.count()}")
    spark.stop()
  }
}
