package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.Trigger

package object streaming {

  /** Drive a streaming query to completion as one AvailableNow replay:
    * every input available at start is processed in micro-batches,
    * each handed to `onBatch`, and the call returns once the source is
    * drained. `checkpoint` pins the offset/state log (default: a
    * temporary one Spark discards). Every maintenance twin, state-API
    * leg and streaming warm-up runs through here. */
  def drain(ds: Dataset[_], mode: String = "append", checkpoint: Option[String] = None)(
      onBatch: DataFrame => Unit): Unit = {
    val w = ds.toDF().writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((batch: DataFrame, _: Long) => onBatch(batch))
    checkpoint.fold(w)(w.option("checkpointLocation", _)).start().awaitTermination()
  }
}
