package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** S7 write path — the durable side of the reference's sink contract.
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
  *    predicates partition-prune to the touched buckets);
  *  - each micro-batch writes with DYNAMIC partition overwrite keyed on
  *    `(block_bucket, ingest_batch)`: `ingest_batch` is the epoch id
  *    Spark REUSES when it replays a failed batch, so a replay
  *    overwrites exactly the files the crashed attempt left behind and
  *    never touches neighbouring batches that share a block bucket;
  *  - exactly-once end-to-end = the source's checkpointed block offsets
  *    (each range enters exactly one epoch) + this deterministic
  *    per-epoch rewrite.
  *
  * `ingest_batch` subdirectories are an ingest artifact: readers prune
  * on `block_bucket` alone, and `compactBucket` rewrites a bucket's
  * accumulated small files into few sorted ones once it is cold (blocks
  * past the confirmation horizon never change — buckets freeze).
  */
object BlockSink {

  /** Idempotent write of one (micro-)batch. Safe to call twice with the
    * same `batchId` + rows: the second call dynamically overwrites the
    * first call's `(block_bucket, ingest_batch)` partitions with
    * identical content. Distinct batches never clobber each other even
    * inside one block bucket.
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
      blockCol: String = "block_number",
      bucketBlocks: Long = 1000L): Unit = {
    require(bucketBlocks > 0, "bucketBlocks must be positive")
    batch
      .withColumn("block_bucket",
        floor(col(blockCol) / lit(bucketBlocks)).cast("long"))
      .withColumn("ingest_batch", lit(batchId))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("block_bucket", "ingest_batch")
      .parquet(path)
  }

  /** Start the streaming ingest: `stream` (any block-keyed frame — raw
    * logs or decoded events) drains into `path` under the idempotent
    * per-epoch rewrite above, offsets checkpointed at `checkpoint`.
    */
  def start(stream: DataFrame, path: String, checkpoint: String,
      blockCol: String = "block_number",
      bucketBlocks: Long = 1000L,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, path, blockCol, bucketBlocks)
      }
      .start()

  private def hadoopPath(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Rewrite one frozen bucket's small per-epoch files into
    * `targetFiles` block-sorted files (ingest leaves one file set per
    * epoch; a long-running tail accumulates hundreds per bucket, and
    * scan cost at 100 TB is dominated by file count × footer reads).
    * The rewrite stages into HIDDEN siblings (`.compact_<bucket>.tmp` /
    * `.compact_<bucket>.old` — dot-prefixed so partition discovery
    * skips them; an unhidden `block_bucket=N.tmp` sibling would be
    * parsed as a partition VALUE, double-reading the bucket and
    * flipping the inferred partition type to string) and swaps via two
    * renames, so a reader PLANNED after the swap sees a consistent
    * bucket; a reader still holding the pre-swap file list either
    * drains its already-open files or fails cleanly with a
    * missing-file error (retryable) — it can never observe a torn mix
    * of old and new files. Only run on buckets past the confirmation
    * horizon, where no epoch can still append.
    *
    * == Filesystem requirement: atomic rename ==
    *
    * The two-rename swap assumes `FileSystem.rename` is atomic — true
    * on HDFS-class filesystems, false on S3A/GCS (copy+delete). This
    * entry point refuses loudly on untrusted schemes via
    * [[FsCommit.requireAtomicRename]] (allowlist `file`/`hdfs`/
    * `viewfs`; operator opt-in through the Hadoop conf
    * `graft.fs.rename.atomic.schemes`) — see [[FsCommit]] for the
    * object-storage guidance. The per-epoch ingest write itself
    * ([[writeBatch]]) has no such dependency: it is a plain dynamic
    * partition overwrite, idempotent under replay on any committer.
    *
    * == Single-maintenance-writer contract ==
    *
    * At most ONE compactor may run against a sink path at a time (the
    * ingest stream may keep writing — it only touches buckets inside
    * the confirmation horizon, which are never eligible for
    * compaction). The contract is the caller's to schedule; what this
    * code guarantees is that a CRASHED run is detectable and
    * recoverable rather than silent: a `_compacting_<bucket>` marker
    * brackets every run, and a new run (of any bucket-state-mutating
    * entry point) REFUSES to start while a marker or a staged-out
    * `.old` directory exists — [[recoverBucket]] rolls the bucket back
    * to a consistent state first. Double-compacting an already-compacted
    * bucket is a safe no-op-shaped rewrite (same rows, fresh files).
    */
  def compactBucket(spark: org.apache.spark.sql.SparkSession, path: String,
      bucket: Long, targetFiles: Int,
      blockCol: String = "block_number",
      orderCols: Seq[String] = Seq("block_number", "log_index")): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    val fs = hadoopPath(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the two-rename swap below is the crash-safety proof's atomicity
    // dependency — refuse loudly, before any state mutation, on
    // filesystems (S3A/GCS) whose rename is copy+delete (see FsCommit
    // for the object-storage guidance / operator opt-in)
    FsCommit.requireAtomicRename(fs,
      spark.sparkContext.hadoopConfiguration, "BlockSink.compactBucket")
    val bucketDir = hadoopPath(s"$path/block_bucket=$bucket")
    require(fs.exists(bucketDir), s"no such bucket: $bucketDir")
    val tmp = hadoopPath(s"$path/.compact_$bucket.tmp")
    val old = hadoopPath(s"$path/.compact_$bucket.old")
    val marker = hadoopPath(s"$path/_compacting_$bucket")
    // a leftover marker or staged-out dir means a compactor crashed (or
    // is still running): NEVER delete `.old` here — after a crash
    // between the two renames it may hold the only copy of the bucket
    if (fs.exists(marker) || fs.exists(old))
      throw new java.io.IOException(
        s"compact: prior compaction of bucket $bucket did not complete " +
          s"(marker=${fs.exists(marker)}, staged=${fs.exists(old)}) — " +
          "run BlockSink.recoverBucket first")
    fs.create(marker, false).close()
    try {
      fs.delete(tmp, true) // stale tmp from a pre-marker crash is inert
      val rows = spark.read.parquet(bucketDir.toString)
        // per-epoch split ends at compaction, but partition discovery
        // requires a UNIFORM directory depth across buckets — compacted
        // files keep the level under the sentinel epoch −1
        .withColumn("ingest_batch", lit(-1L))
        .repartitionByRange(targetFiles, orderCols.map(col): _*)
        .sortWithinPartitions(orderCols.map(col): _*)
      rows.write.mode(SaveMode.Overwrite)
        .partitionBy("ingest_batch").parquet(tmp.toString)
      if (!fs.rename(bucketDir, old))
        throw new java.io.IOException(s"compact: cannot stage out $bucketDir")
      if (!fs.rename(tmp, bucketDir)) {
        fs.rename(old, bucketDir) // roll back
        throw new java.io.IOException(s"compact: cannot swap in $tmp")
      }
      fs.delete(old, true)
    } finally fs.delete(marker, false)
  }

  /** Roll a bucket that a crashed compactor left mid-protocol back to a
    * consistent state (idempotent; run before retrying [[compactBucket]]
    * when it reports an incomplete prior run):
    *
    *  - bucket dir missing but `.old` present → crash BETWEEN the two
    *    renames: the old files are the only copy — restore them;
    *  - bucket dir AND `.old` present → crash after swap-in, before
    *    cleanup: the new files already serve reads — drop `.old`;
    *  - stray `.compact.tmp` / marker → drop (the tmp never serves
    *    reads; the marker only gates new runs).
    *
    * Never runs concurrently with a live compactor — that is the same
    * single-maintenance-writer contract as [[compactBucket]].
    */
  def recoverBucket(spark: org.apache.spark.sql.SparkSession, path: String,
      bucket: Long): Unit = {
    val fs = hadoopPath(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketDir = hadoopPath(s"$path/block_bucket=$bucket")
    val tmp = hadoopPath(s"$path/.compact_$bucket.tmp")
    val old = hadoopPath(s"$path/.compact_$bucket.old")
    val marker = hadoopPath(s"$path/_compacting_$bucket")
    if (fs.exists(old)) {
      if (!fs.exists(bucketDir)) {
        // the restore is itself a rename — same atomicity requirement
        // as compactBucket (a torn restore would be a second corruption)
        FsCommit.requireAtomicRename(fs,
          spark.sparkContext.hadoopConfiguration,
          "BlockSink.recoverBucket (restore)")
        if (!fs.rename(old, bucketDir))
          throw new java.io.IOException(s"recover: cannot restore $old")
      } else fs.delete(old, true)
    }
    fs.delete(tmp, true)
    fs.delete(marker, false)
  }
}
