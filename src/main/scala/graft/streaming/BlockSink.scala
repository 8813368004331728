package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** S7 write path — the durable side of the reference's sink contract,
  * and the engine's at-rest block layout.
  *
  * The reference sink promises its consumer each block EXACTLY ONCE —
  * "panic the moment it gets an event from a block it already published"
  * (eth_event_stream/src/sink.rs:20) — and hands flushes to a callback
  * (`stream_synced_events`, sink.rs:100-115). On a cluster the callback
  * is a distributed WRITE, and the failure mode the reference never
  * faces appears: a micro-batch can crash after writing some files, and
  * Spark replays the whole batch. A plain append sink would then
  * duplicate the replayed blocks for every external reader.
  *
  * This sink makes the replay idempotent instead of trying to make the
  * write atomic:
  *
  *  - rows are bucketed by block (`block_bucket = block / bucketBlocks`)
  *    — the directory layout a 100 TB reader needs anyway (block-range
  *    predicates partition-prune to the touched buckets, see
  *    [[rangeScan]]);
  *  - each bucket directory is an [[IngestCompaction]] epoch store:
  *    every micro-batch is written by [[IngestCompaction.writeEpoch]]
  *    as its own `ingest_batch=<id>` partition under dynamic partition
  *    overwrite, so a replay overwrites exactly the files the crashed
  *    attempt left behind and never touches neighbouring batches that
  *    share a block bucket;
  *  - exactly-once end-to-end = the source's checkpointed block offsets
  *    (each range enters exactly one epoch) + this deterministic
  *    per-epoch rewrite.
  *
  * `ingest_batch` subdirectories are an ingest artifact: readers prune
  * on `block_bucket` alone, and [[compactBucket]] folds a bucket's
  * accumulated small files into few sorted ones once it is cold (blocks
  * past the confirmation horizon never change — buckets freeze).
  */
object BlockSink {

  /** Idempotent write of one (micro-)batch of `block_number`-keyed rows.
    * Safe to call twice with the same `batchId` + rows: the second call
    * dynamically overwrites the first call's `(block_bucket,
    * ingest_batch)` partitions with identical content. Distinct batches
    * never clobber each other even inside one block bucket.
    *
    * The write is the batch's ONLY action: a `foreachBatch` frame
    * re-executes its whole plan per action, so an emptiness probe first
    * would re-run a stateful stage (committing its state-store
    * versions again) or re-fetch a stateless source's ranges. An empty
    * batch needs no guard — the dynamic overwrite of zero rows touches
    * no partition, writing no data file and no `block_bucket=`
    * directory, and earlier epochs stay as they are.
    */
  def writeBatch(batch: DataFrame, batchId: Long, path: String,
      bucketBlocks: Long = 1000L): Unit = {
    require(bucketBlocks > 0, "bucketBlocks must be positive")
    IngestCompaction.writeEpoch(
      batch.withColumn("block_bucket",
        floor(col("block_number") / lit(bucketBlocks)).cast("long")),
      path, batchId, "block_bucket")
  }

  /** Start the streaming ingest: `stream` (any block-keyed frame — raw
    * logs or decoded events) drains into `path` under the idempotent
    * per-epoch rewrite above, offsets checkpointed at `checkpoint`.
    */
  def start(stream: DataFrame, path: String, checkpoint: String,
      bucketBlocks: Long = 1000L): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, path, bucketBlocks)
      }
      .start()

  /** Blocks `from..to` (inclusive) of the sink at `path`: the bucket
    * predicate prunes whole `block_bucket` directories at planning time
    * (`PartitionFilters`, no footer reads for pruned buckets), the block
    * predicate prunes row groups. `bucketBlocks` must be the one the
    * sink was written with.
    */
  def rangeScan(spark: SparkSession, path: String, from: Long, to: Long,
      bucketBlocks: Long = 1000L): DataFrame =
    spark.read.parquet(path).filter(
      col("block_bucket").between(Math.floorDiv(from, bucketBlocks),
        Math.floorDiv(to, bucketBlocks)) &&
        col("block_number").between(from, to))

  private def bucketDir(path: String, bucket: Long) =
    s"$path/block_bucket=$bucket"

  /** Fold one frozen bucket's per-epoch files into `targetFiles` files
    * sorted on `block_number`, then `log_index` when the bucket's rows
    * carry one (raw logs do; the synced flush's per-block cells do not —
    * the order comes from the bucket's schema). Ingest leaves one file set
    * per epoch; a long-running tail accumulates hundreds per bucket, and
    * scan cost at 100 TB is dominated by file count × footer reads.
    * This is [[IngestCompaction.compact]] over every epoch of the
    * bucket's directory, with its crash protocol, its atomic-rename
    * guard and its single-maintenance-writer contract. Only run on
    * buckets past the confirmation horizon, where no epoch can still
    * append (the ingest stream may keep writing younger buckets).
    * Compacting an already-compacted bucket is a no-op.
    */
  def compactBucket(spark: SparkSession, path: String, bucket: Long,
      targetFiles: Int): Unit = {
    val dir = bucketDir(path, bucket)
    val p = new org.apache.hadoop.fs.Path(dir)
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      s"no such bucket: $dir")
    IngestCompaction.compact(spark, dir, Long.MaxValue, targetFiles,
      Seq("block_number", "log_index"))
  }

  /** Roll a bucket that a crashed [[compactBucket]] left mid-protocol
    * back to a consistent state ([[IngestCompaction.recover]] on the
    * bucket's directory; idempotent — run it when [[compactBucket]]
    * reports an incomplete prior run).
    */
  def recoverBucket(spark: SparkSession, path: String, bucket: Long): Unit =
    IngestCompaction.recover(spark, bucketDir(path, bucket))
}
