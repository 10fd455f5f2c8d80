package graft

import org.apache.spark.sql.SparkSession

/** The one local session every query-running main (Bench, TriScale,
  * Verify, Smoke, Explain) uses, so the plan Explain prints is the plan
  * Bench times and Verify checks.
  */
private[graft] object QuerySession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — unreadable without this;
      // Tables converts the resulting longs back to timestamps.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE stays ON (coalescing/skew handling are the 100 TB story), but
      // the coalesce floor drops from the 1m default: Spark's partition
      // coalescing assumes cost ~ bytes, and our compute-dense, byte-light
      // stages (text normalization regexes, posting-list buffers, HOF pair
      // expansion) lose all 32-way parallelism when a few-hundred-KB
      // shuffle coalesces to one task. At production partition sizes
      // (tens of MB+) a 16k floor is byte-identical to the default.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // Joins: preferSortMergeJoin=false (shuffled-hash where the build
      // side fits) was A/B-measured r20 — full suite once per config plus
      // a 16-query × 2×2 alternating subset — and came out DEAD EVEN
      // (best-of totals 54.2 vs 53.5 s; individual rows flip both ways
      // within host noise). Kept at the Spark default: an inconclusive
      // config is not worth diverging the benched plans from the
      // defaults every other tool assumes.
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
