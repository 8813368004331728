package graft

import org.apache.spark.sql.SparkSession

/** Local smoke main mirroring the driver's t1 check: `SparkEntry.entry`
  * must return >0 rows on sf0.001. Also sanity-checks the schema DSL +
  * keccak topic0 against the canonical public ERC-20 Transfer hash.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    // DSL + keccak check (pure, no Spark)
    val t = model.EventSchema.parse(
      "Transfer(address indexed from, address indexed to, uint value)")
    val expected =
      "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
    assert(t.topic0Hex == expected, s"topic0 mismatch: ${t.topic0Hex}")
    println(s"TOPIC0_OK ${t.topic0Hex}")

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry returned no rows")

    // streaming surface: replay the events table through the block-replay
    // source, barrier, and check the confirmation-lag frontier.
    // Scratch dirs are cleaned in finally — a failed assert must not
    // accumulate /tmp scratch across repeated smoke runs either.
    val ckpt = java.nio.file.Files.createTempDirectory("graft-smoke").toString
    val bsPath = java.nio.file.Files.createTempDirectory("graft-bs").toString
    try {
      val stream = streaming.StreamOps.readBlockStream(
        spark, "/root/testdata/sf0.001/events.parquet",
        blockStep = 25L, confirmations = 2L)
      val q = stream.writeStream.format("memory").queryName("smoke_stream")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      val sn = spark.table("smoke_stream").count()
      // assert BEFORE reading max: an empty drain yields a null max cell
      // and getLong would NPE, masking this diagnostic
      assert(sn > 0, "stream returned no rows")
      val sMax = spark.table("smoke_stream")
        .agg(org.apache.spark.sql.functions.max("block_number")).head().getLong(0)
      println(s"STREAM_ROWS=$sn STREAM_MAX_BLOCK=$sMax")

      // block-bucketed sink layout: write, pruned range scan back
      val ev = graft.operators.EventLog.withBlockKeys(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
      streaming.BlockSink.writeBatch(ev, 0L, bsPath, bucketBlocks = 20L)
      val bsRows = streaming.BlockSink.rangeScan(spark, bsPath, 0L, 19L, 20L)
        .count()
      println(s"BLOCKSTORE_RANGE_ROWS=$bsRows")
      assert(bsRows > 0, "block store range scan empty")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bsPath))
    }
    spark.stop()
  }
}
