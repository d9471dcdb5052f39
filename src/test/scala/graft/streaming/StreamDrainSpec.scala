package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{PathGuardSpec, SparkEntry, SparkTestSession}

/** Every gate query that drives a stream leaves the shared session as it
  * found it: no temp view, nothing in the cache manager, no new
  * persistent RDD, and the state-store provider conf unchanged, both
  * when the caller had set it and when it was unset.
  */
class StreamDrainSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private val dir = s"${PathGuardSpec.TestDataRoot}/sf0.001"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private val StreamQueries = Seq("ev_hourly_stream", "ev_stream_dedup",
    "ev_sliding_stream", "ev_session_window_stream", "ev_sessionize_stream",
    "ev_user_stats_stream", "ev_session_timer_stream", "ev_enriched_stream",
    "ev_stream_join", "src_table_stream")

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Build and collect `name`, then list what it left in the session. */
  private def leftovers(name: String): Seq[String] = {
    spark.catalog.clearCache()
    val views = tempViews
    val rdds = spark.sparkContext.getPersistentRDDs.keySet
    val provider = spark.conf.getOption(ProviderKey)
    assert(SparkEntry.queries(name)(spark, dir).collect().nonEmpty, name)
    val newRdds = spark.sparkContext.getPersistentRDDs -- rdds
    Seq(
      Option.when((tempViews -- views).nonEmpty)(s"temp views ${tempViews -- views}"),
      Option.when(!spark.sharedState.cacheManager.isEmpty)("cached relations"),
      Option.when(newRdds.nonEmpty)(s"persistent RDDs ${newRdds.keys}"),
      Option.when(spark.conf.getOption(ProviderKey) != provider)(
        s"$ProviderKey $provider -> ${spark.conf.getOption(ProviderKey)}")
    ).flatten
  }

  StreamQueries.foreach { name =>
    test(s"$name leaves no temp view, cache or state-store conf behind") {
      val prior = spark.conf.getOption(ProviderKey)
      try {
        spark.conf.unset(ProviderKey)
        val unset = leftovers(name)
        assert(unset.isEmpty, s"conf unset: ${unset.mkString("; ")}")
        spark.conf.set(ProviderKey, HdfsProvider)
        val set = leftovers(name)
        assert(set.isEmpty, s"conf set: ${set.mkString("; ")}")
      } finally prior.fold(spark.conf.unset(ProviderKey))(spark.conf.set(ProviderKey, _))
    }
  }
}
