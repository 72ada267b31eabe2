package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.{FirehoseRecords, Merge, PartitionStore}

/** Streaming ingest: a Structured Streaming file source over the
  * firehose drop-path, with `foreachBatch` running the SAME batch
  * merge + partition write as the Lambda path (reference semantics:
  * S3 ObjectCreated → ingest, serverless.yml:67-76).
  *
  * Deliberately NOT a stateful streaming aggregation: rewards arrive
  * unboundedly late (no watermark exists in the reference — groom
  * closes the join eventually), so keeping merge state in the
  * streaming engine would never expire. State lives in the partition
  * store; each micro-batch is an idempotent re-consolidation, and the
  * groom loop repairs cross-batch overlaps (SURVEY §2.9).
  */
object StreamingIngest {

  /** Start a stream: JSONL files appearing under `dropDir` are
    * validated, projected, merged per (model, decision_id) and written
    * as partition chunks under `storeDir`.
    */
  def start(spark: SparkSession, dropDir: String, storeDir: String,
      checkpointDir: String,
      nowEpochSeconds: () => Long = () => System.currentTimeMillis() / 1000,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    import spark.implicits._

    val lines = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(dropDir)

    lines.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, storeDir, nowEpochSeconds())
      }
      .start()
  }

  /** One micro-batch: parse lines → merge → write per model. Identical
    * dataflow to the batch ingest entry point.
    */
  def ingestBatch(batch: DataFrame, storeDir: String, now: Long): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    val rows = batch.as[String]
      .map(line => FirehoseRecords.parseLine(line, now))
      .flatMap(_.row)
    // no rows.isEmpty pre-check: that is a FULL extra parse of the
    // batch; an empty batch already degrades to a no-op below (the
    // store write's census finds no models)
    Merge.writePerModel(Merge.merge(rows.toDF()), storeDir)
  }
}
