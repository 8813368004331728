package graft.streaming

import org.apache.spark.sql.SparkSession

/** Streaming state-store backend selection — the deployment knob that
  * decides WHERE stateful operators ([[StreamOps.statefulNetflow]]'s
  * `mapGroupsWithState` fold, [[StreamOps.distributedOrderedReducer]]'s
  * per-block buffers, the J2 flush's one state row of per-leg frontiers
  * and open cells, dropDuplicates dedup state, sessionization windows)
  * keep their state.
  *
  * Spark's default provider (`HDFSBackedStateStoreProvider`) holds every
  * partition's ENTIRE state map on the executor HEAP, snapshotting deltas
  * to the checkpoint — fine at fixture scale, a hard executor-OOM
  * ceiling at the 100 TB tier, where per-block ordered buffers or a
  * year-long dedup key set exceed any sane heap. The RocksDB provider
  * (bundled with Spark — `rocksdbjni` ships in `jars/`) keeps state in
  * off-heap native memory + local SSD, bounding heap usage regardless of
  * state cardinality; with changelog checkpointing the per-commit upload
  * is the DELTA, not a full SST snapshot, so commit latency stays flat
  * as state grows (Spark 3.4+, SPARK-43421).
  *
  * The provider is read from the session conf at QUERY START, so this is
  * a per-session toggle, not a rebuild: start the query inside
  * [[withRocksDb]]. Existing checkpoints are NOT portable across
  * providers — Spark refuses a provider switch on a live checkpoint
  * (`OffsetSeqMetadata` pins it), so flipping the backend on an existing
  * stream means a new checkpoint dir and a replay from the source
  * frontier (the engine's sources are replayable by construction — S7's
  * exactly-once ranges make that a safe restart, not data loss).
  *
  * Semantics are provider-independent (same key/value API, same
  * watermark eviction); StreamingSpec pins result parity between the two
  * providers on the distributed ordered reducer and asserts the RocksDB
  * run actually produced RocksDB checkpoint artifacts (zip snapshots /
  * changelogs, not HDFS-provider `.delta` files).
  */
object StateBackend {

  /** FQN of Spark's bundled RocksDB provider. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Spark's default heap-backed provider (restore with [[useDefault]]). */
  val DefaultProvider: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"

  /** Route every SUBSEQUENTLY STARTED stateful query's state to RocksDB,
    * with changelog checkpointing: per-commit deltas instead of full SST
    * snapshots.
    */
  private def useRocksDb(spark: SparkSession): Unit = {
    spark.conf.set(ProviderKey, RocksDbProvider)
    spark.conf.set(ChangelogKey, "true")
  }

  /** Restore the heap-backed default (fixture/test scale). NOTE: this
    * restores Spark's FACTORY default, not whatever the session had
    * before — a session that deliberately configured a
    * custom provider should scope the switch with [[withRocksDb]],
    * which captures and restores the prior conf values.
    */
  def useDefault(spark: SparkSession): Unit = {
    spark.conf.set(ProviderKey, DefaultProvider)
    spark.conf.unset(ChangelogKey)
  }

  /** Run `body` with every stateful query STARTED inside it using the
    * RocksDB backend, then restore the session's PRIOR provider conf —
    * set back if it was set (including a custom third-party provider),
    * unset if it was unset. A query's provider is fixed when it starts,
    * so the restore may run as soon as `start()` returns.
    */
  def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val priorProvider = spark.conf.getOption(ProviderKey)
    val priorChangelog = spark.conf.getOption(ChangelogKey)
    useRocksDb(spark)
    try body
    finally {
      priorProvider.fold(spark.conf.unset(ProviderKey))(
        spark.conf.set(ProviderKey, _))
      priorChangelog.fold(spark.conf.unset(ChangelogKey))(
        spark.conf.set(ChangelogKey, _))
    }
  }
}
