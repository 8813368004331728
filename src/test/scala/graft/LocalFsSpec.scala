package graft

import java.io.{File, FileNotFoundException, RandomAccessFile}
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileContext,
  FileStatus, FsConstants, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{RpcLogSource, SimEthNode}
import graft.streaming.{BlockSink, NioLocalFs, NioRawLocalFileSystem, StreamOps}

/** The fork-free local filesystem: no process spawn on the streaming
  * commit path, and the same modes, link statuses, checksums and
  * recovery as Hadoop's stock `file:` filesystem.
  */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp(): String = TestSpark.tempDir("graft-localfs")

  /** A session with the engine's filesystem installed the way a pipeline
    * gets it: by building an [[EngineSession]].
    */
  private def engineSession(): SparkSession = {
    val s = spark.newSession()
    new EngineSession(s)
    s
  }

  /** The synced flush of two [[SimEthNode]] legs (steps 10 and 30). */
  private def flushed(s: SparkSession, transport: String): DataFrame = {
    def leg(source: String, addr: String, step: Int) =
      s.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", transport).option("confirmations", "0")
        .option("address", addr).option("blockStep", step.toString).load()
        .select(lit(source).as("event_type"), col("block_number"),
          graft.functions.abi.u256(col("data")).cast("double").as("value"))
    StreamOps.flushIncludingSyncedStream(Seq(
      "A" -> leg("A", "0x" + "aa" * 20, 10),
      "B" -> leg("B", "0x" + "bb" * 20, 30)))
  }

  /** Drain the flush into `BlockSink.writeBatch`; returns the triggers. */
  private def drain(s: SparkSession, transport: String, ckpt: String,
      out: String): Int = {
    val q = flushed(s, transport).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        BlockSink.writeBatch(batch, id, out, bucketBlocks = 16L)
      }
      .start()
    try { q.processAllAvailable(); q.recentProgress.length }
    finally q.stop()
  }

  private def cells(out: String): Seq[(Long, String, Long, Double)] = {
    import spark.implicits._
    spark.read.parquet(out)
      .select($"block_number", $"source", $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq.sorted
  }

  /** Commands of the processes started while `body` ran (JFR). */
  private def spawnsDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-localfs", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  test("fork guard: the synced flush into writeBatch spawns no process " +
      "on its checkpoint path") {
    val s = engineSession()
    RpcLogSource.registerTransport("fake_localfs_fork",
      new SimEthNode(head = 29L, logsPerBlock = 2))
    val (ckpt, out) = (tmp(), tmp())
    var triggers = 0
    val spawned = spawnsDuring {
      // the recorder sees a spawn: the guard below cannot pass vacuously
      new ProcessBuilder("true").start().waitFor()
      triggers = drain(s, "fake_localfs_fork", ckpt, out)
    }
    assert(spawned.exists(_.startsWith("true")),
      s"JFR recorded no jdk.ProcessStart for a known spawn: $spawned")
    assert(triggers >= 3, s"only $triggers triggers")
    val onCkpt = spawned.filter(c =>
      Seq(ckpt, new File(ckpt).getCanonicalPath).exists(c.contains))
    assert(onCkpt.size == 0, s"${onCkpt.size} spawns on the checkpoint over " +
      s"$triggers triggers, e.g. ${onCkpt.take(3).mkString("; ")}")
    assert(cells(out).map(_._1).distinct == (0L to 29L),
      "vacuous fixture: the drain did not write the whole chain")
  }

  /** Hadoop confs whose `file:` `FileContext` is the stock one and the
    * NIO one, with an optional `fs.permissions.umask-mode`.
    */
  private def confs(umask: Option[String]): (Configuration, Configuration) = {
    def conf(impl: String) = {
      val c = new Configuration()
      c.set(NioLocalFs.ContextKey, impl)
      umask.foreach(c.set("fs.permissions.umask-mode", _))
      c
    }
    (conf("org.apache.hadoop.fs.local.LocalFs"),
      conf(classOf[NioLocalFs].getName))
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0xfff

  test("file and directory modes match the stock filesystem under the " +
      "default and a custom umask") {
    for (umask <- Seq(None, Some("027"), Some("077"))) {
      val (stockConf, nioConf) = confs(umask)
      // through FileContext, as checkpoint writes go: default modes
      val written = Seq("stock" -> stockConf, "nio" -> nioConf).map {
        case (tag, c) =>
          val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, c)
          assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs] == (tag == "nio"))
          val root = tmp()
          fc.mkdir(new Path(s"$root/d/e"), FsPermission.getDirDefault, true)
          val o = fc.create(new Path(s"$root/d/f"), EnumSet.of(CreateFlag.CREATE))
          o.write(1); o.close()
          val ex = fc.create(new Path(s"$root/d/g"), EnumSet.of(CreateFlag.CREATE),
            CreateOpts.perms(new FsPermission("640")))
          ex.close()
          Seq("d", "d/e", "d/f", "d/.f.crc", "d/g", "d/.g.crc")
            .map(r => r -> mode(s"$root/$r"))
      }
      assert(written(1) == written(0), s"umask $umask")
      // through the FileSystem API: explicit modes, sticky bit included
      val Seq(stock, nio) = Seq(new RawLocalFileSystem, new NioRawLocalFileSystem)
        .map { fs => fs.initialize(FsConstants.LOCAL_FS_URI, nioConf); fs }
      for (m <- Seq("644", "600", "755", "700", "751", "1777", "1755")) {
        val got = Seq(stock, nio).map { fs =>
          val root = tmp()
          val d = new Path(s"$root/dir")
          fs.mkdirs(d, new FsPermission(m))
          val f = new Path(s"$root/file")
          fs.create(f, new FsPermission(m), false, 4096, 1.toShort, 1L << 20,
            null).close()
          fs.setPermission(d, new FsPermission(m))
          (mode(d.toString), mode(f.toString))
        }
        assert(got(1) == got(0), s"mode $m, umask $umask")
      }
    }
  }

  private def fields(st: FileStatus) = (st.getPath, st.getLen, st.isDirectory,
    st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getReplication,
    st.getBlockSize, st.getModificationTime, st.getAccessTime,
    st.getPermission, st.getOwner, st.getGroup)

  test("getFileLinkStatus matches the stock filesystem for files, dirs, " +
      "relative, absolute and dangling symlinks, and a missing path") {
    val root = new File(tmp()).getCanonicalPath
    Files.write(Paths.get(s"$root/file"), "abc".getBytes)
    Files.createDirectory(Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/rel"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(s"$root/abs"), Paths.get(s"$root/dir"))
    Files.createSymbolicLink(Paths.get(s"$root/dangling"), Paths.get("nowhere"))
    val (stockConf, nioConf) = confs(None)
    val Seq(stock, nio) = Seq(new RawLocalFileSystem, new NioRawLocalFileSystem)
      .map { fs => fs.initialize(FsConstants.LOCAL_FS_URI, stockConf); fs }
    val Seq(stockFc, nioFc) = Seq(stockConf, nioConf)
      .map(FileContext.getFileContext(FsConstants.LOCAL_FS_URI, _))
    val names = Seq("file", "dir", "rel", "abs", "dangling")
    // a scheme-qualified dangling link reads as missing on both
    def outcome(st: => FileStatus) =
      scala.util.Try(fields(st)).toEither.left.map(_.getClass)
    for (n <- names; p <- Seq(s"$root/$n", s"file:$root/$n")) {
      assert(outcome(nio.getFileLinkStatus(new Path(p))) ==
        outcome(stock.getFileLinkStatus(new Path(p))), p)
      assert(outcome(nioFc.getFileLinkStatus(new Path(p))) ==
        outcome(stockFc.getFileLinkStatus(new Path(p))), s"FileContext $p")
    }
    // the bare-path links are seen as links (the comparison above is not
    // only over plain statuses)
    for (n <- Seq("rel", "abs", "dangling"))
      assert(nio.getFileLinkStatus(new Path(s"$root/$n")).isSymlink, n)
    assert(nio.getFileLinkStatus(new Path(s"$root/rel")).getSymlink ==
      new Path(s"file:$root/file"))
    for (fs <- Seq(stock, nio))
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$root/missing")))
    for (fc <- Seq(stockFc, nioFc))
      intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(s"$root/missing")))
  }

  test("a byte flipped in a file written through the NIO FileContext " +
      "fails the read with ChecksumException, as with the stock one") {
    val payload = Array.tabulate[Byte](4000)(i => (i * 31).toByte)
    val (stockConf, nioConf) = confs(None)
    for (c <- Seq(stockConf, nioConf)) {
      val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, c)
      val root = tmp()
      val p = new Path(s"$root/data")
      val o = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      o.write(payload); o.close()
      // `open(path, bufferSize)`: the one-argument `FileContext.open`
      // reaches `FilterFs.open(path)`, which reads the raw file past
      // `ChecksumFs` on the stock filesystem too
      def readAll(): Array[Byte] = {
        val in = fc.open(p, 4096)
        try { val b = new Array[Byte](payload.length); in.readFully(b); b }
        finally in.close()
      }
      assert(new File(s"$root/.data.crc").isFile, "no checksum sidecar")
      assert(readAll().sameElements(payload))
      val raf = new RandomAccessFile(s"$root/data", "rw")
      try { raf.seek(1234); raf.write(payload(1234) ^ 0x5a) } finally raf.close()
      intercept[ChecksumException](readAll())
    }
  }

  test("stop and restart from the checkpoint writes the same sink as an " +
      "uninterrupted run") {
    val s = engineSession()
    val whole = tmp()
    RpcLogSource.registerTransport("fake_localfs_whole",
      new SimEthNode(head = 60L, logsPerBlock = 2))
    drain(s, "fake_localfs_whole", tmp(), whole)
    val (ckpt, resumed) = (tmp(), tmp())
    for (head <- Seq(25L, 60L)) { // stop mid-chain, restart on a later head
      RpcLogSource.registerTransport("fake_localfs_restart",
        new SimEthNode(head = head, logsPerBlock = 2))
      drain(s, "fake_localfs_restart", ckpt, resumed)
    }
    assert(cells(whole).map(_._1).distinct == (0L to 60L),
      "vacuous fixture: the uninterrupted run did not flush the whole chain")
    assert(cells(resumed) == cells(whole))
    assert(new File(s"$ckpt/commits/.0.crc").isFile,
      "commit log written without its checksum sidecar")
  }

  test("a byte flipped in the last offset log, the last commit log, the " +
      "metadata or a state delta fails the restart before any sink write") {
    import org.apache.spark.sql.Row
    val s = engineSession()
    // batch id → per-address log counts, recorded after the batch's one action
    val written = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Row])]()
    def run(ckpt: String, head: Long): Unit = {
      RpcLogSource.registerTransport("fake_localfs_corrupt",
        new SimEthNode(head = head, logsPerBlock = 2))
      val q = s.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", "fake_localfs_corrupt").option("confirmations", "0")
        .option("blockStep", "10").load()
        .groupBy(col("address")).count()
        .writeStream.outputMode("update").option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          written.add(id -> batch.collect().toSeq); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def last(dir: String): File =
      new File(dir).listFiles().filter(_.getName.matches("\\d+"))
        .maxBy(_.getName.toLong)
    // text files: shift their last digit down by one, so the content still
    // parses (the offset log's end block 39 reads 38)
    def shiftLastDigit(f: File): Unit = {
      val b = Files.readAllBytes(f.toPath)
      val at = b.lastIndexWhere(c => c >= '0' && c <= '9')
      b(at) = (if (b(at) == '0') '9' else b(at) - 1).toByte
      Files.write(f.toPath, b)
    }
    def flipMiddleByte(f: File): Unit = {
      val raf = new RandomAccessFile(f, "rw")
      val at = raf.length / 2
      try { raf.seek(at); val c = raf.read(); raf.seek(at); raf.write(c ^ 0x5a) }
      finally raf.close()
    }
    val corruptions: Seq[(String, String => File, File => Unit)] = Seq(
      ("offsets", c => last(s"$c/offsets"), shiftLastDigit),
      ("commits", c => last(s"$c/commits"), shiftLastDigit),
      ("metadata", c => new File(s"$c/metadata"), shiftLastDigit),
      ("state delta", c => Files.walk(Paths.get(s"$c/state")).iterator().asScala
        .map(_.toFile).filter(_.getName.matches("\\d+\\.delta")).toSeq
        .maxBy(f => (f.getName.stripSuffix(".delta").toLong, f.length)),
        flipMiddleByte))
    val resumed = corruptions.flatMap { case (kind, file, corrupt) =>
      val ckpt = tmp()
      run(ckpt, head = 39L)
      val firstRun = written.asScala.map(_._1).toSet
      assert(firstRun == (0L to 3L).toSet, s"$kind: first run wrote $firstRun")
      corrupt(file(ckpt))
      written.clear()
      val failed = scala.util.Try(run(ckpt, head = 59L)).isFailure
      val counts = written.asScala.toSeq.flatMap(_._2).map(_.getLong(1))
      written.clear()
      if (failed && counts.isEmpty) None
      else Some(s"$kind: restart ${if (failed) "failed" else "succeeded"} " +
        s"after the sink saw per-address counts $counts (60 each is exact)")
    }
    assert(resumed.isEmpty, resumed.mkString("\n"))
  }

  test("install is idempotent, keeps a user's value and touches no other " +
      "scheme") {
    val stockFc = "org.apache.hadoop.fs.local.LocalFs"
    val s = spark.newSession()
    val before = s.sessionState.newHadoopConf()
    NioLocalFs.install(s)
    NioLocalFs.install(s)
    val after = s.sessionState.newHadoopConf()
    assert(after.get(NioLocalFs.ContextKey) == classOf[NioLocalFs].getName)
    val changed = (after.iterator().asScala.map(e => e.getKey -> e.getValue).toSet --
      before.iterator().asScala.map(e => e.getKey -> e.getValue).toSet).map(_._1)
    assert(changed == Set(NioLocalFs.ContextKey))

    val user = spark.newSession()
    user.conf.set(NioLocalFs.ContextKey, stockFc)
    new EngineSession(user)
    assert(user.conf.get(NioLocalFs.ContextKey) == stockFc)
  }
}
