package org.apache.spark.ml

import org.apache.spark.ml.util.ReadWriteUtils

/** Minimal bridge into spark.ml's package-private API:
  *  - the PipelineModel constructor, needed for the reference's "serving
  *    surgery" (rebuilding a pipeline minus the label indexer,
  *    train.py:349-351). Public Spark API offers no other way to
  *    construct a PipelineModel from existing fitted stages;
  *  - MLlib's local saving mode, in which its own writers and readers
  *    move metadata and model data with `java.nio` on the driver instead
  *    of through Spark jobs (the mode Spark Connect's ML cache uses).
  */
object GraftMlBridge {
  def pipelineModel(uid: String, stages: Array[Transformer]): PipelineModel =
    new PipelineModel(uid, stages)

  /** Runs `body` with MLlib's persistence in local saving mode on this
    * thread: `write.save` and `load` inside it run no Spark job and read
    * or write local paths only. The previous mode is restored after.
    */
  def locally[T](body: => T): T = {
    val state = ReadWriteUtils.localSavingModeState
    val previous = state.get()
    state.set(true)
    try body finally state.set(previous)
  }
}
