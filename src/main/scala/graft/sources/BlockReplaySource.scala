package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GreaterThanOrEqual, LessThan, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Options of the replay source (see provider Scaladoc). */
private[sources] final case class ReplayParams(
    path: String, blockSize: Long, window: BlockWindow) {
  // a zero/negative blockSize otherwise surfaces as a bare '/ by zero'
  // deep in head tracking with no pointer back to the option
  require(blockSize >= 1, "blockSize must be >= 1")
}

private[sources] object ReplayParams {
  def apply(options: JMap[String, String]): ReplayParams = {
    val o = options.asScala
    ReplayParams(
      path = o.getOrElse("path",
        throw new IllegalArgumentException("block-replay requires a `path` option")),
      blockSize = o.getOrElse("blocksize", o.getOrElse("blockSize", "10")).toLong,
      window = BlockWindow(o))
  }
}

/** Metadata-only head discovery: the replay "chain head" is the max
  * `event_id` over the table, read from parquet FOOTER STATISTICS instead
  * of a per-trigger column scan — a tailing source probes the head on
  * every trigger, and at 100 TB a full-column max per trigger is a
  * full-table job. Footers are cached per `(path, length, modTime)`, so a
  * steady-state trigger reads only the footers of files appended since the
  * last one (O(new files), zero data pages).
  *
  * Reference counterpart: the head subscription at
  * eth_event_stream/src/data_feed/block.rs:17-68 — the node pushes the
  * head; here the growing table's metadata plays the node.
  */
private[graft] final class FooterHeadTracker(column: String) {
  private val cache = mutable.HashMap.empty[String, (Long, Long, Option[Long])]

  /** Max of `column` across all data files under `root`, footer-stats only
    * (per-file Spark-scan fallback when a footer lacks stats — never the
    * whole table). None ⇔ no rows.
    */
  def maxValue(spark: SparkSession, root: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val files = listDataFiles(fs, p)
    // bound the cache to the files that still exist UNDER THIS ROOT:
    // compacted/rotated/vacuumed files would otherwise pin entries
    // forever — at 100 TB a long-lived tail sees millions of files come
    // and go. Scoping the eviction to the root's prefix keeps a tracker
    // shared across several tables from thrashing the others' entries.
    val live = files.iterator.map(_.getPath.toString).toSet
    val rootPrefix = fs.makeQualified(p).toString
    cache.filterInPlace((k, _) =>
      live(k) || !(k == rootPrefix || k.startsWith(rootPrefix + "/")))
    val maxes = files.flatMap { st =>
      val key = st.getPath.toString
      cache.get(key) match {
        case Some((len, mod, v)) if len == st.getLen && mod == st.getModificationTime => v
        case _ =>
          // a concurrent writer's commit can rename/remove a just-listed
          // file — skip it (uncached); the next trigger re-lists
          try {
            val v = fileMax(spark, conf, st)
            cache.put(key, (st.getLen, st.getModificationTime, v))
            v
          } catch { case _: java.io.FileNotFoundException => None }
      }
    }
    maxes.maxOption
  }

  /** Entries currently cached (test hook for the bounded-growth contract). */
  private[graft] def cachedFileCount: Int = cache.size

  /** Manual recursive listing that prunes hidden directories BEFORE
    * descending — in-flight writers stage data under `_temporary/…` with
    * normally-named leaf files, and those staging dirs vanish mid-commit;
    * a recursive `listFiles` that has already descended races the rename.
    * Directories/files that disappear between list and stat are skipped —
    * the next trigger re-lists.
    */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[FileStatus] = {
    val out = mutable.ArrayBuffer.empty[FileStatus]
    def visible(n: String): Boolean = !n.startsWith("_") && !n.startsWith(".")
    def walk(dir: Path): Unit = {
      // only the writer-commit rename race is benign (the next trigger
      // re-lists); a persistent I/O or permission failure must propagate,
      // or the stream would idle forever looking like an empty directory
      val entries =
        try fs.listStatus(dir)
        catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
      entries.foreach { st =>
        val n = st.getPath.getName
        if (visible(n)) {
          if (st.isDirectory) walk(st.getPath)
          else if (n.endsWith(".parquet")) out += st
        }
      }
    }
    val root =
      try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    if (root.isFile) {
      if (root.getPath.getName.endsWith(".parquet")) out += root
    } else walk(root.getPath)
    out.toSeq
  }

  private def fileMax(spark: SparkSession, conf: Configuration,
      st: FileStatus): Option[Long] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      var best = Option.empty[Long]
      var statsMissing = false
      reader.getFooter.getBlocks.asScala.foreach { block =>
        if (block.getRowCount > 0) {
          block.getColumns.asScala.find(_.getPath.toDotString == column) match {
            case Some(c) if c.getStatistics != null && c.getStatistics.hasNonNullValue =>
              val v = c.getStatistics.genericGetMax match {
                case l: java.lang.Long    => l.longValue
                case i: java.lang.Integer => i.longValue
                case other => other.toString.toLong
              }
              best = Some(best.fold(v)(math.max(_, v)))
            case _ => statsMissing = true
          }
        }
      }
      if (statsMissing) {
        // stats absent for a non-empty row group (rare for int64 columns):
        // scan THIS file's column — still never the whole table
        val r = spark.read.parquet(st.getPath.toString).agg(max(col(column))).head()
        if (!r.isNullAt(0)) best = Some(best.fold(r.getLong(0))(math.max(_, r.getLong(0))))
      }
      best
    } finally reader.close()
  }
}

/** Deterministic replay of the events table as a block-ordered streaming
  * source — the test-harness twin of the reference's RPC-backed stream
  * (SURVEY §2.1). Offsets, admission and the `Trigger.AvailableNow` drain
  * are the [[BlockWindowStream]] core it shares with `rpc-logs`; the head
  * is the table's highest block.
  *
  * Scale design: each micro-batch DELEGATES to Spark's own DSv2 parquet
  * `Batch` — a fresh `ParquetTable` per trigger (so appended files are
  * picked up: live tail), with the block range re-derived to the raw
  * `event_id` range and PUSHED to the scan (`pushFilters` → row-group/page
  * pruning); a thin row filter makes the range exact (parquet stats prune
  * coarsely). Nothing collects to the driver; partition parallelism is the
  * parquet split planning Spark would use for the same batch query. Head
  * discovery is footer-metadata only ([[FooterHeadTracker]]).
  */
class BlockReplayStream(streamSchema: StructType, params: ReplayParams)
    extends BlockWindowStream(params.window) {
  import params._

  require(streamSchema.fieldNames.contains("event_id"),
    "block-replay requires an `event_id` column (the total-order key)")

  private def spark: SparkSession = SparkSession.active

  private val headTracker = new FooterHeadTracker("event_id")

  override protected def head(): Option[Long] =
    headTracker.maxValue(spark, path).map(Math.floorDiv(_, blockSize))

  @volatile private var currentFactory: PartitionReaderFactory = _

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = BlockOffset.of(start)
    val hi = BlockOffset.of(end)
    // blocks (lo, hi] ⇔ raw ids [ (lo+1)·bs, (hi+1)·bs ) — the derived-key
    // range re-stated on the physical column so it reaches the footer stats
    val loId = (lo + 1) * blockSize
    val hiId = (hi + 1) * blockSize
    // fresh table per batch: re-lists the directory (live tail) — the
    // listing is the metadata cost a tailing source pays per trigger
    val table = ParquetTable("block-replay", spark,
      new CaseInsensitiveStringMap(java.util.Map.of()),
      Seq(path), Some(streamSchema), classOf[ParquetFileFormat])
    val builder = table.newScanBuilder(
      new CaseInsensitiveStringMap(java.util.Map.of()))
    val eventId = AttributeReference("event_id", LongType, nullable = true)()
    builder.pushFilters(Seq[Expression](
      GreaterThanOrEqual(eventId, Literal(loId)),
      LessThan(eventId, Literal(hiId))))
    val batch = builder.build().toBatch
    val idx = streamSchema.fieldIndex("event_id")
    currentFactory =
      new BlockRangeReaderFactory(batch.createReaderFactory(), idx, loId, hiId)
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = currentFactory
}

/** Exact range residual on top of the pushed parquet filters: stats-based
  * pruning is row-group-granular, so rows outside `[loId, hiId)` that share
  * a row group with in-range rows must be dropped here (executor-side,
  * streaming pass-through — no buffering).
  *
  * Null-key contract: a row with null `event_id` is dropped by the STREAM
  * (it has no position on the total-order axis and is invisible to the
  * footer-stats head) while a BATCH read of the same table keeps it in a
  * null block group — batch↔stream comparisons over tables with null ids
  * must account for that row, or enforce a NOT NULL key upstream.
  */
private[sources] class BlockRangeReaderFactory(
    delegate: PartitionReaderFactory, fieldIdx: Int, loId: Long, hiId: Long)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val inner = delegate.createReader(p)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (inner.next()) {
          val r = inner.get()
          // a null event_id has no place on the total-order axis: it is
          // invisible to the footer-stats head and belongs to no block
          // range — skip it (reading it as 0 would silently admit it
          // into the first micro-batch)
          if (!r.isNullAt(fieldIdx)) {
            val id = r.getLong(fieldIdx)
            if (id >= loId && id < hiId) { current = r; return true }
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = inner.close()
    }
  }
}

private[sources] class BlockReplayScan(schema: StructType, params: ReplayParams)
    extends Scan {
  override def readSchema(): StructType = schema
  override def description(): String = s"block-replay(${params.path})"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BlockReplayStream(schema, params)
}

private[sources] class BlockReplayTable(schema0: StructType, params: ReplayParams)
    extends Table with SupportsRead {
  override def name(): String = s"block-replay(${params.path})"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new BlockReplayScan(schema0, params)
}

/** Programmatic construction — embedders (and specs) that drive the
  * admission-control surface directly, without the streaming engine.
  */
object BlockReplay {
  def stream(spark: SparkSession, options: Map[String, String]): BlockReplayStream = {
    val params = ReplayParams(options.asJava)
    new BlockReplayStream(spark.read.parquet(params.path).schema, params)
  }
}

/** `spark.readStream.format("graft.sources.BlockReplayProvider")`
  * registration (DSv2 `TableProvider`).
  *
  * Options: `path` (required), `blockSize` (event_id → block derivation,
  * default 10), `blockStep` (max blocks/micro-batch, default 1000),
  * `confirmations` (default 2, ≥ 0), `fromBlock` (default 0), `toBlock`
  * (default unbounded). The emitted schema is the RAW parquet schema —
  * derived block keys and the reorg guard are plain expressions applied by
  * [[graft.streaming.StreamOps.readBlockStream]] post-load.
  *
  * A TIMESTAMP(NANOS) column needs the caller's
  * `spark.sql.legacy.parquet.nanosAsLong` on the loading session (it then
  * reads as epoch-nano longs, and every batch reads under that session's
  * clone); without it Spark refuses the schema. The source never sets it.
  */
class BlockReplayProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "block-replay"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the loading session: Spark resolves the source with it active
    SparkSession.active.read.parquet(ReplayParams(options).path).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new BlockReplayTable(schema, ReplayParams(properties))
}
