package graft

import org.apache.spark.sql.DataFrame

/** Every query built once per test JVM against sf0.001, for the specs
  * that check all of them structurally (SparkEntrySpec,
  * PlanFingerprintSpec). Built in a fresh session pinned to the
  * fingerprint baseline's config (AQE off, 4 shuffle partitions), so
  * another suite's conf or catalog changes can't leak into the plans.
  */
object BuiltQueries {
  lazy val all: Seq[(String, DataFrame)] = PlanFingerprint.buildAll(
    PlanFingerprint.pin(SparkTestSession.spark.newSession()),
    s"${PathGuardSpec.TestDataRoot}/sf0.001")
}
