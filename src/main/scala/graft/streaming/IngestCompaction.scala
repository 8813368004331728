package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's one at-rest format for per-epoch data: every micro-batch
  * (or build epoch) writes its rows as its own `ingest_batch=<id>`
  * partition through [[writeEpoch]], and [[compact]] folds the
  * accumulated partitions of a directory into one. Callers:
  * [[BlockSink]] (one such directory per `block_bucket`),
  * [[StreamOps.nearDupIngestStream]]'s band-index appends + pair
  * epochs, [[StreamOps.annIngestStream]]'s PQ code appends, and the
  * corpus-build artifacts.
  *
  * == The epoch write ==
  *
  * A dynamic-partition OVERWRITE keyed on the epoch id (after the
  * caller's outer partition columns): `ingest_batch` is the id Spark
  * REUSES when it replays a failed micro-batch, so a replay rewrites
  * exactly the files the crashed attempt left behind and never touches
  * another epoch's partition. Paired with a replayable source and its
  * offset log, that is exactly-once at rest.
  *
  * == The fold ==
  *
  * Every epoch adds one partition, and the near-dup epoch re-lists and
  * re-unions `base ∪ all earlier appends` — a year-long ingest pays
  * file-listing and small-file overhead LINEAR in epoch count, as does
  * a sink bucket's scan (file count × footer reads). [[compact]]
  * rewrites all partitions `ingest_batch ≤ upToEpoch` into the one
  * partition `ingest_batch=-1` ([[Folded]]), so partition count stays
  * bounded by the compaction cadence while every reader contract
  * survives unchanged:
  *
  *  - the epoch-exclusion screen (`ingest_batch < id` on the index side
  *    of [[StreamOps.nearDupIngestEpoch]]) still holds — `-1` is below
  *    every epoch id;
  *  - Spark never assigns or replays a negative epoch id, so no
  *    replayed epoch's overwrite can touch the folded rows; a replay
  *    touches only its own `ingest_batch=id`, which must therefore
  *    never be folded while it can still replay: `upToEpoch` covers
  *    COMMITTED epochs only (for an ingest dir, `id − 1` from inside
  *    `foreachBatch(id)`; for a sink bucket, a bucket past the
  *    confirmation horizon, which no epoch writes any more);
  *  - row content is preserved verbatim (union of the folded
  *    partitions), so served results — band-bucket joins, PQ top-k,
  *    drained pair sets, bucket range scans — are identical before and
  *    after.
  *
  * The fold is a no-op only when no partition other than `-1` is in
  * range: an idle stream never rewrites its folded partition on
  * cadence, while one epoch written in many files still folds to
  * `targetFiles`.
  *
  * The ingest fold lands INSIDE the append dir rather than into the
  * base index: the base artifact is commonly SHARED (several queries
  * serve from one persisted index snapshot) and may live on read-only
  * or differently-owned storage; mutating it from a stream's
  * maintenance path would corrupt every other reader.
  *
  * == Crash safety ==
  *
  * A run stages the folded partition into a HIDDEN sibling
  * (`.compact_fold.tmp` — dot-prefixed, skipped by partition discovery
  * at any depth, so concurrent readers never double-count and a sink
  * reader's `block_bucket` type never flips to string), then brackets
  * the destructive window with a `_folding` marker whose CONTENT lists
  * the epochs being folded. The marker is written create-no-overwrite
  * in one stream and SELF-VALIDATING: its last line is a
  * `#end:<count>` terminator, so [[recover]] can distinguish a complete
  * marker from a torn one without assuming anything about write or
  * rename atomicity (a torn marker can only mean the crash hit DURING
  * marker publish — after staging, before any delete — so rolling BACK
  * is always safe; rolling FORWARD off a partial epoch list would
  * delete some originals while the staged fold still contains them
  * all, duplicating the survivors). Ordering:
  *
  *  1. write fold rows → `.compact_fold.tmp/ingest_batch=-1` (parquet
  *     commit drops `_SUCCESS` inside the tmp);
  *  2. publish the marker listing the folded epochs (+ terminator);
  *  3. delete each folded `ingest_batch=<e>` partition (`-1` included);
  *  4. rename the staged partition into place;
  *  5. delete tmp + marker.
  *
  * A crash before (2), or during it (torn marker), leaves the originals
  * intact — [[recover]] rolls BACK by deleting tmp (and the torn
  * marker). A crash after (2) is always rolled FORWARD: the complete
  * marker proves staging finished, so [[recover]] finishes the deletes
  * (idempotent), performs the rename if still pending, and cleans up.
  * A new [[compact]] run REFUSES to start while a marker exists (run
  * [[recover]] first), so a crashed run is detectable, never silent.
  *
  * == Filesystem requirement: atomic rename for step (4) ==
  *
  * The marker itself needs no rename, but the staged-partition swap (4)
  * does, and the proof above assumes that rename is ATOMIC — true on
  * HDFS-class filesystems, FALSE on S3A/GCS where a directory rename is
  * copy+delete and a crash mid-swap leaves a torn partition. [[compact]]
  * therefore refuses — loudly, before any destructive step — on
  * filesystems not trusted by [[FsCommit.requireAtomicRename]]
  * (allowlist `file`/`hdfs`/`viewfs`, operator opt-in via the Hadoop
  * conf `graft.fs.rename.atomic.schemes`). See [[FsCommit]] for the
  * object-storage guidance. [[writeEpoch]] has no such dependency: a
  * plain dynamic partition overwrite is idempotent under replay on any
  * committer.
  *
  * == Single-maintenance-writer contract (and read-only serving) ==
  *
  * At most one compactor per directory, never concurrent with an epoch
  * that READS the fold range (the near-dup epoch's index-side union) or
  * WRITES any folded partition. This extends to READ-ONLY serving
  * queries: between step (3) and step (4) the entire fold range is
  * transiently ABSENT from the directory, so an external query that
  * plans `base ∪ append` during that window silently misses committed
  * rows (no error — the partitions are simply gone), and a reader still
  * holding a pre-fold file list either drains its already-open files or
  * fails cleanly with a missing-file error (retryable). Serving paths
  * must therefore either snapshot the listing before a fold can start
  * and read the snapshot, or be scheduled off the compaction cadence;
  * inside the engine the streaming integration satisfies BOTH contracts
  * for free: `compactEvery` runs the fold inside `foreachBatch`,
  * serialized with every epoch's reads and writes by the micro-batch
  * loop itself, with `upToEpoch = id − 1` (epoch `id − 1` is committed
  * before epoch `id` starts — Structured Streaming's batch ordering).
  */
object IngestCompaction {

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)
  private def fs(spark: SparkSession, dir: String) =
    hp(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Tmp = ".compact_fold.tmp"
  private val Marker = "_folding"

  /** The partition key of folded rows: below every epoch id Spark
    * assigns, so no replay overwrites it and `ingest_batch < id` keeps
    * admitting it.
    */
  val Folded = -1L

  /** Write `df` as epoch `id` of `dir`: partitioned by `outerCols`, then
    * `ingest_batch = id`, under dynamic partition overwrite — calling
    * it twice with the same `(df, id)` leaves `dir` as one call does,
    * and no other epoch's partition is touched. Zero rows touch no
    * partition and write no data file.
    */
  def writeEpoch(df: DataFrame, dir: String, id: Long,
      outerCols: String*): Unit =
    df.withColumn("ingest_batch", lit(id))
      .write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(outerCols :+ "ingest_batch": _*)
      .parquet(dir)

  /** Epoch ids present as `ingest_batch=<id>` partitions of `dir`
    * (empty if the dir does not exist yet — a stream that has not
    * written its first epoch).
    */
  def listEpochs(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    if (!f.exists(hp(dir))) Seq.empty
    else f.listStatus(hp(dir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("ingest_batch="))
      .map(_.stripPrefix("ingest_batch=").toLong)
      .sorted
  }

  /** Fold every `ingest_batch ≤ upToEpoch` partition of `dir` into the
    * one partition `ingest_batch=-1` ([[Folded]]). No-op when no
    * partition other than `-1` is in range. `orderCols` sorts the
    * folded files (range-partitioned into `targetFiles`) so serving
    * scans keep row-group pruning on those columns — pass the
    * downstream join / probe keys (`list` for PQ codes, `band_idx,
    * band_key` for band rows, `block_number, log_index` for a sink
    * bucket). A column the folded rows do not carry is skipped (a sink
    * bucket of synced flush cells has no `log_index`); no order column
    * keeps a plain `repartition(targetFiles)`.
    *
    * `upToEpoch` MUST only cover committed epochs (see the class doc) —
    * from inside `foreachBatch(id)` that means `id − 1` at most.
    */
  def compact(spark: SparkSession, dir: String, upToEpoch: Long,
      targetFiles: Int = 1, orderCols: Seq[String] = Nil): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    val f = fs(spark, dir)
    // fail BEFORE any destructive step on filesystems whose rename is
    // not atomic (S3A/GCS) — step (4)'s swap is the protocol's one
    // rename-atomicity dependency (class doc)
    FsCommit.requireAtomicRename(f,
      spark.sparkContext.hadoopConfiguration, "IngestCompaction.compact")
    val marker = hp(s"$dir/$Marker")
    if (f.exists(marker))
      throw new java.io.IOException(
        s"compact: prior fold of $dir did not complete — run " +
          "IngestCompaction.recover first")
    val epochs = listEpochs(spark, dir).filter(_ <= upToEpoch)
    if (epochs.forall(_ == Folded)) return // nothing new to fold
    val tmp = hp(s"$dir/$Tmp")
    f.delete(tmp, true) // a pre-marker crash leaves an inert tmp
    // read ONLY the fold range (partition-pruned off the inferred
    // ingest_batch column) and rewrite it under the folded key
    val folded0 = spark.read.parquet(dir)
      .filter(col("ingest_batch") <= upToEpoch)
      .withColumn("ingest_batch", lit(Folded))
    val order = orderCols.filter(folded0.columns.contains).map(col)
    val folded =
      if (order.isEmpty) folded0.repartition(targetFiles)
      else folded0.repartitionByRange(targetFiles, order: _*)
        .sortWithinPartitions(order: _*)
    folded.write.mode(SaveMode.Overwrite)
      .partitionBy("ingest_batch").parquet(tmp.toString)
    writeMarker(f, dir, epochs)
    epochs.foreach(e => f.delete(hp(s"$dir/ingest_batch=$e"), true))
    if (!f.rename(hp(s"$tmp/ingest_batch=$Folded"),
        hp(s"$dir/ingest_batch=$Folded")))
      throw new java.io.IOException(
        s"compact: cannot swap folded partition into $dir (state is " +
          "recoverable — run IngestCompaction.recover)")
    f.delete(tmp, true)
    f.delete(marker, false)
  }

  /** Roll a directory a crashed [[compact]] left mid-protocol back to a
    * consistent state (idempotent — run before retrying):
    *
    *  - COMPLETE marker (valid `#end` terminator) → staging had
    *    completed and the destructive phase may have started: roll
    *    FORWARD — finish deleting the folded partitions listed in the
    *    marker, rename the staged partition in if still pending, drop
    *    tmp + marker;
    *  - TORN marker (no valid terminator) → the crash hit DURING marker
    *    publish: staging was complete but no delete had run (deletes
    *    only start after the marker stream closes successfully) — roll
    *    BACK by dropping the torn marker + tmp; the originals are
    *    intact;
    *  - no marker, stale tmp → pre-marker crash: roll BACK by deleting
    *    the inert tmp (originals were never touched).
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark, dir)
    val marker = hp(s"$dir/$Marker")
    val tmp = hp(s"$dir/$Tmp")
    if (f.exists(marker)) {
      readMarker(f, dir) match {
        case None => // torn marker: pre-delete crash — roll back
          f.delete(marker, false)
          f.delete(tmp, true)
        case Some(epochs) =>
          // roll-forward re-runs the staged swap — same rename-atomicity
          // requirement as compact (class doc)
          FsCommit.requireAtomicRename(f,
            spark.sparkContext.hadoopConfiguration,
            "IngestCompaction.recover (roll-forward)")
          val staged = hp(s"$dir/$Tmp/ingest_batch=$Folded")
          val target = hp(s"$dir/ingest_batch=$Folded")
          if (f.exists(staged)) {
            epochs.foreach(e => f.delete(hp(s"$dir/ingest_batch=$e"), true))
            if (!f.rename(staged, target))
              throw new java.io.IOException(s"recover: cannot swap $staged in")
          } else if (!f.exists(target))
            // the staged partition is gone AND the target is missing: the
            // fold rows exist nowhere — refuse to guess (the appends' source
            // stream can rebuild, but silently dropping epochs cannot be
            // the default)
            throw new java.io.IOException(
              s"recover: $dir has a fold marker but neither staged nor " +
                "swapped-in partition — manual inspection required")
          // else: rename already happened; deletes below are idempotent
          epochs.filter(_ != Folded)
            .foreach(e => f.delete(hp(s"$dir/ingest_batch=$e"), true))
          f.delete(tmp, true)
          f.delete(marker, false)
      }
    } else f.delete(tmp, true)
  }

  /** Marker = the folded epoch list, one id per line, closed by a
    * `#end:<count>` terminator line, written create-no-overwrite in a
    * single stream. No atomicity is assumed anywhere: a crash
    * mid-publish leaves a marker whose terminator is missing or
    * inconsistent, which [[readMarker]] reports as torn ([[recover]]
    * then rolls BACK — rolling forward off a partial epoch list would
    * delete some originals while the staged fold still contains them
    * all, duplicating the survivors). Works unchanged on object stores,
    * where create+close is an all-or-nothing PUT.
    */
  private def writeMarker(f: org.apache.hadoop.fs.FileSystem,
      dir: String, epochs: Seq[Long]): Unit = {
    // no-overwrite: compact already refused to start while one exists,
    // so a create collision means a concurrent compactor — fail, don't
    // clobber its protocol state
    val out = f.create(hp(s"$dir/$Marker"), false)
    try out.write(
      (epochs.mkString("\n") + s"\n#end:${epochs.size}").getBytes("UTF-8"))
    finally out.close()
  }

  /** `Some(epochs)` for a complete marker, `None` for a torn one (short
    * write, missing/mismatched terminator, unparsable line).
    */
  private def readMarker(f: org.apache.hadoop.fs.FileSystem,
      dir: String): Option[Seq[Long]] = {
    val in = f.open(hp(s"$dir/$Marker"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    lines.reverse match {
      case term :: idLines if term == s"#end:${idLines.size}" =>
        try Some(idLines.reverse.map(_.toLong))
        catch { case _: NumberFormatException => None }
      case _ => None
    }
  }
}
