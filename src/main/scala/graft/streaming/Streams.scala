package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

/** The one place that runs a finite stream to completion and hands its
  * result back as a batch relation: every streaming query whose answer
  * is read as a DataFrame goes through [[drain]], so none of them leaves
  * session state behind.
  */
object Streams {

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Write `stream` to a uniquely named memory sink, process everything
    * available, stop the query and return the sink's rows as a local
    * relation. The sink's temp view is dropped before this returns and
    * nothing is cached, so the result does not depend on the view and
    * the caller's session is left as it was.
    */
  def drain(stream: DataFrame, outputMode: String): DataFrame = {
    val spark = stream.sparkSession
    val name = s"graft_drain_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = start(stream, stream.writeStream
      .outputMode(outputMode).format("memory").queryName(name))
    try {
      try q.processAllAvailable()
      finally q.stop()
      val sink = spark.table(name)
      spark.createDataFrame(java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    } finally spark.catalog.dropTempView(name)
  }

  /** transformWithState runs only on the RocksDB state store. A query
    * copies the session conf when it is constructed (StreamExecution
    * clones the session), so the provider is set around `start()` alone
    * and the caller's value, set or unset, comes back right after.
    */
  private def start(stream: DataFrame, writer: DataStreamWriter[_]): StreamingQuery =
    if (!stream.queryExecution.logical.exists(_.isInstanceOf[TransformWithState]))
      writer.start()
    else {
      val conf = stream.sparkSession.conf
      val prior = conf.getOption(ProviderKey)
      conf.set(ProviderKey, RocksDbProvider)
      try writer.start()
      finally prior.fold(conf.unset(ProviderKey))(conf.set(ProviderKey, _))
    }
}
