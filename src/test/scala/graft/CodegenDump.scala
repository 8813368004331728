package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{abi, vec}
import graft.model.Hex

/** Writes the generated Java (`explain("codegen")`) of the ERC-20
  * `Transfer` decode and of one native kernel per codegen shape, one file
  * each, into the directory given as the only argument. The inputs derive
  * from `spark.range`, so no kernel call is constant-folded away.
  *
  * Usage: sbt "Test/runMain graft.CodegenDump plans/kernel-call/<label>"
  */
object CodegenDump {
  def main(args: Array[String]): Unit = {
    val out = Files.createDirectories(Paths.get(args(0)))
    val spark = TestSpark.spark
    import spark.implicits._
    val word: Column => Column = c => unhex(lpad(hex(c), 64, "0"))
    val token = "0x00000000000000000000000000000000000000aa"
    val sess = new EngineSession(spark)
    val transfer = sess.register(token,
      "Transfer(address indexed from, address indexed to, uint256 value)")
    val logs = spark.range(4).select($"id".as("block_number"),
      $"id".as("log_index"), lit(Hex.address(token)).as("address"),
      when($"id" >= 0, lit(transfer.topic0)).as("topic0"),
      word($"id" + 1).as("topic1"), word($"id" + 2).as("topic2"),
      lit(null).cast("binary").as("topic3"), word($"id" * 1000).as("data"))
    val hashes = spark.range(4).select(array($"id", $"id" * 7).as("h"))
    val bytes = spark.range(4).select(unhex(lpad(hex($"id"), 8, "0")).as("b"))
    val vecs = spark.range(4).select(
      array($"id".cast("float"), lit(1f)).as("a"), array($"id".cast("double"), lit(2.0)).as("b"))
    val dumps: Seq[(String, DataFrame)] = Seq(
      "decode_all_transfer" -> sess.decodeAll(logs),
      // a non-null result through Spark's defineCodeGen template
      "simhash64" -> hashes.select(vec.simHash64($"h")),
      "vector_dot" -> vecs.select(vec.dot($"a", $"b")),
      // a nullable reference result: isNull = value == null
      "dhash_bands" -> bytes.select(vec.dHashBands(hex($"b"), 4, 16)),
      // a nullable primitive result: the boxed java.lang.Long return
      "audio_fingerprint64" -> bytes.select(vec.audioFingerprint64($"b")),
      "u256_scaled" -> bytes.select(abi.u256Scaled($"b", 2)))
    dumps.foreach { case (name, df) =>
      val text = df.queryExecution.explainString(
        org.apache.spark.sql.execution.CodegenMode)
      Files.writeString(out.resolve(s"$name.txt"), text)
      println(s"wrote $name.txt")
    }
    spark.stop()
  }
}
