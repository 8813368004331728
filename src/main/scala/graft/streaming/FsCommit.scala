package graft.streaming

import java.util.Locale

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem

/** Filesystem-semantics guard for the one maintenance protocol that
  * commits via directory `rename`: [[IngestCompaction.compact]]'s
  * staged-fold swap (which [[BlockSink.compactBucket]] runs on a sink
  * bucket).
  *
  * That protocol's crash-safety proof assumes `FileSystem.rename` is
  * ATOMIC — true on HDFS-class filesystems (HDFS, viewfs, the local FS)
  * where rename is a metadata operation, and FALSE on flat object
  * stores: S3A and GCS implement directory rename as copy-then-delete,
  * so a crash (or a concurrent reader) mid-"rename" can observe a torn
  * directory — exactly the silent-corruption window the marker exists
  * to close. At a 100 TB deployment the sink path plausibly lives on
  * object storage, so the assumption must be CHECKED, not documented
  * away: the fold and its roll-forward call [[requireAtomicRename]]
  * first and fail loudly — before any destructive step — when the
  * target filesystem is not known to provide atomic rename.
  *
  * Schemes trusted by default: `file`, `hdfs`, `viewfs`. Anything else
  * (s3a, gs, wasb, abfs, …) is rejected unless the operator opts the
  * scheme in via the Hadoop conf key [[AtomicSchemesKey]]
  * (`spark.hadoop.graft.fs.rename.atomic.schemes=abfs` — e.g. ADLS
  * Gen2 with a hierarchical namespace does guarantee atomic rename,
  * but that is a deployment property of the account, not of the
  * scheme, so the engine will not assume it). On stores without atomic
  * rename, run compaction against an HDFS-class staging filesystem and
  * copy frozen results out, or leave the append-dir growth to a
  * table-format layer (Iceberg/Delta-style log commits) — what this
  * engine must not do is pretend the marker protocol still holds.
  */
object FsCommit {

  /** Comma-separated extra schemes the OPERATOR asserts provide atomic
    * directory rename (checked case-insensitively).
    */
  val AtomicSchemesKey = "graft.fs.rename.atomic.schemes"

  private val KnownAtomic = Set("file", "hdfs", "viewfs")

  /** Scheme of `fs`, lowercased; a null scheme (bare local paths) is the
    * local filesystem.
    */
  def scheme(fs: FileSystem): String =
    Option(fs.getUri.getScheme).getOrElse("file").toLowerCase(Locale.ROOT)

  /** True when `fs` is trusted (built-in allowlist or operator opt-in)
    * to rename atomically.
    */
  def renameIsAtomic(fs: FileSystem, conf: Configuration): Boolean = {
    val s = scheme(fs)
    KnownAtomic(s) || conf.getTrimmedStrings(AtomicSchemesKey)
      .exists(_.toLowerCase(Locale.ROOT) == s)
  }

  /** Fail loudly — BEFORE any destructive step — when `fs` is not
    * trusted to rename atomically. `op` names the refusing operation in
    * the error.
    */
  def requireAtomicRename(fs: FileSystem, conf: Configuration,
      op: String): Unit =
    if (!renameIsAtomic(fs, conf))
      throw new java.io.IOException(
        s"$op: filesystem scheme '${scheme(fs)}' is not known to provide " +
          "atomic directory rename, which this commit protocol's crash " +
          "safety depends on (on S3A/GCS, rename is copy+delete — a crash " +
          "mid-swap can be observed as a torn directory). Run this " +
          "maintenance step against an HDFS-class filesystem, or — if " +
          "your store does guarantee atomic rename (e.g. ADLS Gen2 with " +
          "hierarchical namespace) — opt the scheme in via the Hadoop " +
          s"conf '$AtomicSchemesKey' (spark.hadoop.$AtomicSchemesKey=" +
          s"${scheme(fs)}).")
}
