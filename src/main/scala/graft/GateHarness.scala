package graft

import org.apache.spark.sql.{DataFrame, GraftSessionShim, SparkSession}
import org.apache.spark.sql.functions.col

/** The one harness behind every batch-equals-stream check: the queries'
  * streaming gates and ScaleProbe's stream rows drain through it, and
  * both read their fixture-derived inputs through its scratch cache.
  *
  *  - [[drain]] runs a streaming query to completion on a private clone
  *    of the caller's session ([[runStreamingGate]] into a memory sink,
  *    [[drainToParquet]] into the file sink);
  *  - [[sliceStream]] turns a frame into a file stream of N range slices,
  *    one micro-batch each;
  *  - [[fixtureScratch]] keys a /tmp cache by the fixture's identity
  *    ([[tableKey]]) and populates it atomically; [[runDir]] is per-run
  *    scratch deleted at JVM exit.
  */
private[graft] object GateHarness {

  /** Corpus identity for cross-query model/scratch caches: path + max
    * mtime + total bytes of the backing files — changes whenever the
    * fixture is regenerated. Footer-free (a Hadoop FS listing, no data
    * read). Used to key the IVF trained-quantizer cache and
    * [[fixtureScratch]].
    */
  def tableKey(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stats = fs.listStatus(p).filter(_.isFile)
    val mt = if (stats.isEmpty) 0L else stats.map(_.getModificationTime).max
    s"$path@$mt:${stats.map(_.getLen).sum}"
  }

  /** Shuffle and state-store width of every streaming drain: the gates
    * hold a few hundred rows of state, where 4 stores beat `cpus`
    * near-empty ones (each store loads and commits a version per
    * trigger).
    */
  private val DrainWidth = 4

  /** Shared harness for every streaming query a query body runs: `start`
    * receives `out` rebound onto a private clone of `s` at [[DrainWidth]]
    * plus `conf` and returns the started query, which is drained and
    * stopped. The caller's session conf is never written. A stateful
    * query's state width and state-store provider are fixed by the
    * session its DataFrame is bound to when `start()` runs, so the
    * private session sets them, and other work on `s` keeps its own
    * values throughout. Checkpoint files go through the
    * fork-free local filesystem ([[graft.streaming.NioLocalFs.install]],
    * on the private session). After the stop, the streaming listener
    * buses of the private session and of the query's own clone of it are
    * detached ([[GraftSessionShim.detachStreams]]), so a drain leaves no
    * listener on the SparkContext's bus. Returns the private session,
    * which holds a memory sink's table.
    */
  def drain(s: SparkSession, out: DataFrame,
      conf: Seq[(String, String)] = Nil)(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery)
      : SparkSession = {
    val p = GraftSessionShim.privateSession(s,
      ("spark.sql.shuffle.partitions" -> DrainWidth.toString) +: conf: _*)
    graft.streaming.NioLocalFs.install(p)
    try {
      val q = start(GraftSessionShim.rebind(out, p))
      try q.processAllAvailable()
      finally {
        q.stop()
        GraftSessionShim.detachStreams(GraftSessionShim.sessionForStream(q))
      }
    } finally GraftSessionShim.detachStreams(p)
    p
  }

  /** Drain `out` into a fresh memory sink ([[drain]]) and return the sink
    * table, bound to `s`. The checkpoint is deleted after the drain: the
    * result lives in the memory sink, and repeated Verify/Bench
    * invocations must not accumulate /tmp garbage. `rocksDb` keeps the
    * query's state on the RocksDB provider ([[graft.streaming.StateBackend]],
    * set on the drain's private session).
    */
  def runStreamingGate(s: SparkSession, sinkName: String,
      out: DataFrame,
      outputMode: org.apache.spark.sql.streaming.OutputMode =
        org.apache.spark.sql.streaming.OutputMode.Append(),
      rocksDb: Boolean = false): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sg").toString
    val p = try drain(s, out,
        if (rocksDb) graft.streaming.StateBackend.RocksDb else Nil) {
        _.writeStream.format("memory").queryName(sinkName)
          .outputMode(outputMode)
          .option("checkpointLocation", ckpt)
          .start()
      } finally deleteRecursively(ckpt)
    GraftSessionShim.rebind(p.table(sinkName), s)
  }

  /** Drain `out` into `\$run/out` through the parquet sink (checkpoint at
    * `\$run/ckpt`): the file-sink twin of [[runStreamingGate]]. `conf`
    * goes to [[drain]].
    */
  def drainToParquet(s: SparkSession,
      out: DataFrame, run: String, conf: Seq[(String, String)] = Nil): Unit =
    drain(s, out, conf)(_.writeStream.format("parquet")
      .option("path", s"$run/out")
      .option("checkpointLocation", s"$run/ckpt")
      .outputMode("append").start())

  /** `frame` as a file stream of `slices` micro-batches: `place` is
    * handed the writer of the slices (`frame` range-partitioned on `key`
    * into `slices` files under `<root>/in`) and returns the `root` it
    * ran it at — a [[fixtureScratch]] for an input derived from a
    * fixture, or a plain dir. The files are read back one per trigger
    * (`maxFilesPerTrigger=1`), so a drain sees exactly `slices` batches.
    */
  def sliceStream(s: SparkSession, frame: DataFrame, key: String,
      slices: Int)(place: (String => Unit) => String): DataFrame = {
    val root = place(dir => frame.repartitionByRange(slices, col(key))
      .write.mode("overwrite").parquet(s"$dir/in"))
    s.readStream.schema(s.read.parquet(s"$root/in").schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$root/in")
  }

  /** A fresh temp dir for one run's outputs, deleted at JVM exit: the
    * frame a query body returns may still scan it after the body ends
    * (the caller writes/collects it later), so it cannot go eagerly.
    */
  def runDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir
  }

  def deleteRecursively(dir: String): Unit = {
    // one deletion implementation (fixtureScratch already depends on
    // commons-io); the old hand-rolled Files.walk also left its stream
    // unclosed on a mid-iteration exception
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    ()
  }

  /** Fixture-keyed /tmp scratch with atomic population (shared by the
    * queries and probe rows that derive a one-time input from a fixture
    * table): the dir name embeds the fixture's mtime+size (stale copies
    * never reused), `populate` writes into a run-private temp sibling
    * that is RENAMED into place (concurrent runs: one wins, the other
    * discards), and older-version/orphaned dirs for the same fixture
    * are pruned age-gated on every call (younger than an hour may belong
    * to a live run). Returns the scratch root.
    */
  def fixtureScratch(s: SparkSession, srcPath: String, tag: String,
      markerSubdir: String)(populate: String => Unit): String = {
    val pathPart = srcPath.replaceAll("[^A-Za-z0-9]", "_")
    val scratch = s"/tmp/graft_${tag}_cache_" +
      tableKey(s, srcPath).replaceAll("[^A-Za-z0-9]", "_")
    val marker = java.nio.file.Paths.get(s"$scratch/$markerSubdir/_SUCCESS")
    if (!java.nio.file.Files.exists(marker)) {
      val tmp = s"$scratch.tmp.${java.util.UUID.randomUUID}"
      populate(tmp)
      def move(): Unit = java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(scratch),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      try move()
      catch { case _: java.nio.file.FileSystemException =>
        // target exists. If it carries the marker we lost a healthy race —
        // keep the winner's copy. A MARKER-LESS target (half-deleted dir,
        // a committer configured to skip _SUCCESS) would otherwise make
        // every future call re-populate and discard — evict it and retry
        // once; on a second loss, defer to the age-gated prune below.
        if (java.nio.file.Files.exists(marker))
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
        else {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
          try move()
          catch { case _: java.nio.file.FileSystemException =>
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
          }
        }
      }
      // the double-loss window (evicted a marker-less target, lost the
      // retry to ANOTHER marker-less writer) must not hand the caller a
      // half-populated dir — verify the winner actually carries the
      // marker and fail loudly; the next run starts clean
      if (!java.nio.file.Files.exists(marker))
        throw new IllegalStateException(
          s"fixture scratch $scratch has no $markerSubdir/_SUCCESS marker " +
            "after populate+move — concurrent populate race left an " +
            "unverified dir; re-run (stale dirs are pruned age-gated)")
    }
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    val stale = new java.io.File("/tmp").listFiles()
    if (stale != null) stale
      .filter(f => f.getName.startsWith(s"graft_${tag}_cache_$pathPart") &&
        f.getAbsolutePath != scratch &&
        f.lastModified() < cutoff)
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    scratch
  }
}
