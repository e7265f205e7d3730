package graft

import org.apache.spark.sql.DataFrame
import graft.streaming.EventStream

/** Runs a streaming frame over everything its source holds now into a
  * memory sink named `name`, and returns that sink's table.
  */
object MemorySink {
  def drain(stream: DataFrame, outputMode: String, name: String): DataFrame = {
    EventStream.drainOnce(stream.writeStream.outputMode(outputMode)
      .format("memory").queryName(name))
    stream.sparkSession.table(name)
  }
}
