package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.streaming.NioLocalFs

/** Times one checkpoint file write the way a streaming query makes it —
  * Spark's `CheckpointFileManager.createAtomic` (temp file + `.crc`, then
  * a rename onto the final name) — through Hadoop's stock `file:`
  * `FileContext` and through [[NioLocalFs]], and counts the processes each
  * write starts (JFR `jdk.ProcessStart`). Each filesystem runs a warm-up
  * pass, then a timed pass. `ballastMb` keeps that much heap live, as a
  * streaming JVM does.
  *
  * Usage: sbt "Test/runMain graft.LocalFsBench [files=200] [ballastMb=0]"
  */
object LocalFsBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.fold(200)(_.toInt)
    val ballast = Array.fill(if (args.length > 1) args(1).toInt else 0)(
      new Array[Byte](1 << 20))
    val payload = Array.fill[Byte](300)(7)
    for (pass <- Seq("warm-up", "timed");
         (name, impl) <- Seq("stock" -> "org.apache.hadoop.fs.local.LocalFs",
           "nio" -> classOf[NioLocalFs].getName)) {
      val conf = new Configuration()
      conf.set(NioLocalFs.ContextKey, impl)
      val dir = Files.createTempDirectory("graft-fsbench")
      val cfm = CheckpointFileManager.create(new Path(dir.toUri), conf)
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val ns = (0 until n).map { i =>
        val t0 = System.nanoTime()
        val o = cfm.createAtomic(new Path(s"$dir/$i"), false)
        o.write(payload)
        o.close()
        System.nanoTime() - t0
      }.sorted
      rec.stop()
      val jfr = Files.createTempFile("graft-fsbench", ".jfr")
      rec.dump(jfr)
      rec.close()
      val spawns = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .count(_.getEventType.getName == "jdk.ProcessStart")
      Files.delete(jfr)
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      if (pass == "timed")
        println(f"$name%-5s files=$n p50=${ns(n / 2) / 1e6}%.2f ms " +
          f"p90=${ns(n * 9 / 10) / 1e6}%.2f ms mean=${ns.sum / n / 1e6}%.2f ms " +
          f"spawns/file=${spawns.toDouble / n}%.1f heap_ballast_mb=${ballast.length}")
    }
  }
}
