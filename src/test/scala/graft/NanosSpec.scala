package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamOps

/** A TIMESTAMP(NANOS) table is the caller's to opt into: Spark refuses the
  * column unless the session sets `spark.sql.legacy.parquet.nanosAsLong`,
  * and the engine never sets it. The bundled fixtures carry micros, so the
  * spec writes its own nanos parquet.
  */
class NanosSpec extends AnyFunSuite {
  import TestSpark.spark

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  // 40 events, 4 blocks of 10; sub-microsecond digits prove the ns survive
  private val written: Map[Long, Long] =
    (0L until 40L).map(id => id -> (1700000000000000000L + id * 1000000123L)).toMap

  private lazy val dir: String = {
    val d = TestSpark.tempDir("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val conf = new Configuration()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$d/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try written.toSeq.sorted.foreach { case (id, ts) =>
        w.write(rows.newGroup().append("event_id", id).append("ts", ts))
      }
    finally w.close()
    d
  }

  test("nanos table without the caller's flag: the replay load fails and " +
      "the session's flag stays unset") {
    val s = spark.newSession()
    val ex = intercept[Throwable](
      StreamOps.readBlockStream(s, dir, confirmations = 0L))
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(_.contains("PARQUET_TYPE_ILLEGAL")),
      s"unexpected failure: ${messages.mkString(" <- ")}")
    assert(s.conf.get(NanosAsLong) == "false",
      "the engine wrote nanosAsLong into the caller's session")
  }

  test("nanos table with the flag on the loading session only: the replay " +
      "drains ts as the written epoch-nano longs") {
    val s = spark.newSession()
    s.conf.set(NanosAsLong, "true")
    // another session without the flag is the thread's active one while
    // the stream loads: the source must resolve under the loading session
    val other = spark.newSession()
    val prior = SparkSession.getActiveSession
    SparkSession.setActiveSession(other)
    val stream =
      try StreamOps.readBlockStream(s, dir, blockStep = 2L, confirmations = 0L)
      finally prior.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    assert(other.conf.get(NanosAsLong) == "false")
    assert(stream.schema("ts").dataType == LongType)
    val q = stream.writeStream.format("memory").queryName("nanos_replay")
      .option("checkpointLocation", TestSpark.tempDir("graft-nanos-ckpt"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "the replay did not span several micro-batches")
    val got = s.table("nanos_replay").select("event_id", "ts").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == written)
  }
}
