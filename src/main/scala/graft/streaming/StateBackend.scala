package graft.streaming

/** Streaming state-store backend selection — the deployment knob that
  * decides WHERE stateful operators ([[StreamOps.statefulNetflow]]'s
  * `mapGroupsWithState` fold, [[StreamOps.distributedOrderedReducer]]'s
  * per-block buffers, the J2 flush's one state row of per-leg frontiers
  * and open cells, dropDuplicates dedup state, sessionization windows)
  * keep their state.
  *
  * Spark's default provider (`HDFSBackedStateStoreProvider`) holds every
  * partition's ENTIRE state map on the executor HEAP — fine at fixture
  * scale, a hard executor-OOM ceiling where per-block ordered buffers or a
  * year-long dedup key set exceed any sane heap. The RocksDB provider
  * (bundled with Spark) keeps state in off-heap native memory + local
  * disk; with changelog checkpointing the per-commit upload is the DELTA,
  * not a full SST snapshot, so commit latency stays flat as state grows.
  *
  * The provider is read from the session a query starts on, so a query
  * moves onto RocksDB by starting on a private clone that carries
  * [[RocksDb]]:
  * `rebind(df, privateSession(spark, StateBackend.RocksDb: _*))`
  * (`org.apache.spark.sql.GraftSessionShim`); the caller's session keeps
  * its own provider. Existing checkpoints are NOT portable across
  * providers — Spark refuses a provider switch on a live checkpoint, so
  * switching an existing stream means a new checkpoint dir and a replay
  * from the source frontier (the engine's sources are replayable).
  *
  * Semantics are provider-independent; StreamingSpec pins result parity
  * between the two providers for every stateful family and asserts the
  * RocksDB runs produced RocksDB checkpoint artifacts (zip snapshots /
  * changelogs, not HDFS-provider `.delta` files).
  */
object StateBackend {

  /** Conf pairs for a private session whose stateful queries keep their
    * state in Spark's bundled RocksDB provider, with changelog
    * checkpointing.
    */
  val RocksDb: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
}
