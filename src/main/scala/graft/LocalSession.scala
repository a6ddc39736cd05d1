package graft

import org.apache.spark.sql.SparkSession

/** The session every main runs keys in: `local[cpus]` with one shuffle
  * partition per core, UTC, no UI, and graft's SQL functions and optimizer
  * rules registered — so Explain prints the plans Verify and Bench run.
  */
object LocalSession {
  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.registerAll(spark)
    spark
  }
}
