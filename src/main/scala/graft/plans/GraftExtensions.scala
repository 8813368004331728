package graft.plans

import org.apache.spark.sql.{GraftFunctionShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions._

/** SQL surface for the native expressions: either install at session
  * creation via `spark.sql.extensions=graft.plans.GraftExtensions`, or
  * call [[GraftFunctions.register]] on a live session. After that:
  *
  * {{{
  *   SELECT u256_to_decimal(data), keccak256(sig), vector_dot(a, b) ...
  * }}}
  */
object GraftFunctions {
  /** (name, builder) for every engine function: [[Kernels]] rows read
    * their params from foldable literals at resolution time.
    */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "u256_to_decimal", "i256_to_decimal", "keccak256", "vector_dot",
    "simhash64", "sig_agreement", "minhash_sig", "ngram_hashes",
    "token_counts", "ws_token_hashes", "lsh_band_keys", "char_ngram_hashes",
    "rolling_fp", "abi_word_tail_array", "quant_stats", "winnow_hashes",
    "abi_word_tail_slice_array", "abi_word_nonzero",
    "abi_nested_word_tail_array", "nfc_normalize", "bloom_might_contain",
    "term_tf", "abi_dyn_tail_array", "dhash_bands", "quant_residual",
    "dot_codes", "codes_dot", "nearest_centroids",
  ).map(name => name -> Kernels.sql(name)) :+
    ("cms_estimate" -> ((es: Seq[Expression]) => CmsEstimate(es(0), es(1))))
    // bpe_encode is deliberately NOT on the SQL surface: its merge table
    // is a TRAINED artifact (bpeTrainMerges output, thousands of pairs),
    // not something a user types as a literal — the DataFrame API
    // (TextOps.bpeApplyStats) threads it from the training pass.

  /** Register every function on a live session, plus the decoded-param
    * rewrite via `experimental.extraOptimizations`. NOTE the experimental
    * batch runs AFTER DSv2 scan pushdown, so on a live session the
    * rewrite benefits only physical-planning pushdowns (parquet
    * row-group pruning); sessions built with
    * `spark.sql.extensions=graft.plans.GraftExtensions` get the rule in
    * the operator-optimization batch, ahead of DSv2 pushdown.
    */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (name, b) => GraftFunctionShim.register(spark, name, b) }
    if (!spark.experimental.extraOptimizations.contains(IndexedParamRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IndexedParamRewrite
  }
}

/** `spark.sql.extensions` entry point: SQL functions + the decoded-param
  * filter rewrite (injected into the operator-optimization batch, which
  * runs BEFORE the early-scan-pushdown batch — so rewritten topic
  * equalities reach both the DSv2 `rpc-logs` translation and parquet
  * row-group pruning).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, b) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
            "graft", name),
          b))
    }
    ext.injectOptimizerRule(_ => IndexedParamRewrite)
  }
}
