package graft.obs

import org.apache.spark.sql.SparkSession

/** The session the measurement and artifact mains run in: `local[cpus]`,
  * one shuffle partition per core, AQE on, UTC, no UI. Bench, Verify, Profile and the artifact
  * dumps (PlanFingerprintDump, BpeVocabDump) build it here so their
  * numbers come from the same configuration.
  */
object BenchSession {

  /** Cores to run with: `$SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def apply(appName: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
