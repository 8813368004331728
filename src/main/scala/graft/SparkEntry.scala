package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GateHarness._
import graft.operators.{CorpusBuild, Dedup, EventDecoder, EventLog, Multimodal, Sampling, Similarity, Sketches, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in `queries` exercises one operator from SURVEY.md §2 (or one
  * of the LLM-data-pipeline extensions); `oracleSql` holds the DuckDB
  * equivalent over the same parquet tables. Column names and output types
  * are aligned on both sides (aggregates over doubles go through
  * DECIMAL(18,2) so the fold is order-insensitive, then back to DOUBLE at
  * the boundary).
  */
object SparkEntry {

  /** Registered stream signatures for the events table (event_type ≈ topic0).
    * Passed explicitly, mirroring the sink's `add_source` registry
    * (reference: eth_event_stream/src/sink.rs:175-179).
    */
  private val EventSources = Seq("click", "error", "purchase", "signup", "view")

  // The bundled sf0.001–sf0.1 events carry `ts` as TIMESTAMP(MICROS). A
  // TIMESTAMP(NANOS) table reads only on a session where the caller set
  // `spark.sql.legacy.parquet.nanosAsLong` (as epoch-nano longs, which
  // q_retention_cohorts handles); the engine never sets it.
  private def events(spark: SparkSession, dir: String): DataFrame =
    EventLog.withBlockKeys(spark.read.parquet(s"$dir/events.parquet"))

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Max id of a fixture table, from parquet FOOTER statistics (the
    * [[graft.sources.FooterHeadTracker]] path). 35 queries derive a
    * re-id offset or a half-corpus split from `max(doc_id)` /
    * `max(vec_id)` at plan-construction time; the `agg(max).head` form
    * launched a full column-scan job per bench sample, and at 100 TB
    * reads every data page of the id column where O(files) footer reads
    * answer the same question. EXACT, not approximate: parquet int64
    * min/max stats are precise, and a stat-less footer falls back to
    * scanning that one file (never the whole table).
    */
  private def footerMaxId(s: SparkSession, path: String,
      column: String = "doc_id"): Long =
    new graft.sources.FooterHeadTracker(column).maxValue(s, path)
      .getOrElse(0L)

  /** Shared decimal cast: keeps double aggregation exact + order-insensitive. */
  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Gram document-frequency cap for the flagship dedup queries (mirrored
    * in the oracle CTEs): grams shared by more than this many docs are
    * excluded from candidate generation — the stopword-shingle skew guard
    * that keeps the gram self-join bounded at corpus scale. Jaccard
    * denominators always use the full gram set (see Dedup.ngramJaccardPairs).
    */
  private val MaxGramDf = 64

  /** One-row self-check gate for the approximate operators (LSH / IVF /
    * SimHash) whose internals no SQL oracle can restate: join the
    * approximate result against its exact counterpart and emit
    * `(n_exact, recall_ok[, subset_ok])`. `n_exact` and the expected
    * booleans ARE oracle-expressible — the approximate paths join the
    * hash-match regime, and a recall regression flips `recall_ok` into a
    * driver-visible mismatch. Fully declarative (two aggregates over a
    * semi/anti join — no driver-side collect); the raw pair / top-k
    * outputs stay available through the operator API and ExtendedOpsSpec.
    * Join strategy is left to AQE on purpose: the pair sets are
    * runtime-sized (tiny on fixtures, potentially huge on a full
    * corpus), so a static broadcast hint would be wrong at one end or
    * the other.
    */
  private def recallGate(exact: DataFrame, approx: DataFrame,
      keys: Seq[String], floor: Double, subset: Boolean = false): DataFrame = {
    // both sides feed two joins (recall + subset/anti) — persist so the
    // exact O(n²) baseline and the approximate pipeline (LSH banding /
    // IVF k-means) run once, not per consuming join; Verify/Bench clear
    // all caches after each query, and CacheScope releases them for
    // scoped callers (operator persist contract)
    val e = graft.CacheScope.persist(exact.select(keys.map(col): _*))
    val a = graft.CacheScope.persist(
      approx.select(keys.map(col): _*).dropDuplicates(keys))
    val base = e.join(a.withColumn("hit", lit(1)), keys, "left").agg(
      count(lit(1)).as("n_exact"),
      // 0 exact pairs ⇒ 0/0 ⇒ null — a vacuously perfect approximate
      // result must read true, not fail the oracle compare (try_divide:
      // ANSI mode otherwise THROWS on the empty-exact division before
      // coalesce ever sees the null)
      coalesce(try_divide(count(col("hit")).cast("double"),
        count(lit(1))) >= floor, lit(true)).as("recall_ok"))
    if (!subset) base
    else base.crossJoin(
      a.join(e, keys, "left_anti").agg((count(lit(1)) === 0).as("subset_ok")))
  }

  /** One-row verdict `name`: the `doc_id` sets of `a` and `b` are equal (a
    * full outer join leaves no one-sided row) — drained vs batch flagged
    * ids, incremental vs full re-flag.
    */
  private def idSetsEqual(a: DataFrame, b: DataFrame,
      name: String = "equal_ok"): DataFrame =
    a.withColumn("l", lit(1)).as("a")
      .join(b.withColumn("r", lit(1)).as("b"), Seq("doc_id"), "full")
      .agg((count(when(col("l").isNull || col("r").isNull, 1)) === 0).as(name))

  /** One-row `equal_ok`: `a` and `b` hold the same `(d1, d2)` pairs and
    * their `value` columns differ by at most `tol` on every pair.
    */
  private def pairValuesEqual(a: DataFrame, b: DataFrame, value: String,
      tol: Double): DataFrame =
    a.withColumnRenamed(value, "va")
      .join(b.withColumnRenamed(value, "vb"), Seq("d1", "d2"), "full")
      .agg(((count(when(col("va").isNull || col("vb").isNull, 1)) === 0)
        && coalesce(max(abs(col("va") - col("vb"))) <= tol, lit(true)))
        .as("equal_ok"))

  /** The drained pairs at `dir`, or no rows of `ddl`'s schema: a corpus
    * slice with zero qualifying pairs leaves the dir schema-less
    * (partition dirs only appear on non-empty epochs).
    */
  private def pairsOrEmpty(s: SparkSession, dir: String,
      ddl: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    try s.read.parquet(dir).select(schema.fieldNames.map(col): _*)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** The fixture-keyed half-corpus MinHash band index shared by every
    * gate that reads it (`dedup_incremental_neardup`, `stream_neardup`,
    * `dedup_index_update`, `dedup_pairs_from_index`) — ONE definition of
    * the build parameters, because the gates share one /tmp cache and
    * whichever runs first populates it: a drifting copy would silently
    * hand the others a wrong index.
    */
  private def mhIndexScratch(s: SparkSession, dir: String,
      half: Long): String =
    fixtureScratch(s, s"$dir/documents.parquet", "mhidx", "index") { tmp =>
      graft.operators.Dedup.minHashBandIndex(
          table(s, dir, "documents").filter(col("doc_id") <= half),
          n = 3, numHashes = 64, bands = 16)
        .write.mode("overwrite").parquet(s"$tmp/index")
    }

  /** The fixture-keyed half-corpus IVF-PQ index shared by
    * `sim_index_update` and `stream_ann_ingest` — same
    * one-definition-per-shared-cache rule as [[mhIndexScratch]].
    */
  private def ivfPqOldScratch(s: SparkSession, dir: String,
      half: Long): String =
    fixtureScratch(s, s"$dir/embeddings.parquet", "ivfpqold", "codes") { tmp =>
      graft.operators.Similarity.saveIvfPqIndex(
        table(s, dir, "embeddings").filter(col("vec_id") <= half), tmp,
        nlist = 16,
        corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet") + ":old"))
    }

  /** Shared fixture for the single-pass multi-event decode pair
    * (`p2_decode_multi` / `p2_decode_multi_stream`): a session with
    * Transfer@aa + Approval@bb registered, the relational synthesis of
    * the raw two-contract log frame, and the flattened struct select —
    * one definition so the batch query, the streaming twin, and the
    * shared oracle can never drift apart.
    */
  private val p2DeclT =
    "Transfer(address indexed from, address indexed to, uint value)"
  private val p2DeclA = "Approval(address indexed owner, uint spent)"

  /** Frozen codebook for `sim_cluster_assign`: 4 × 64-dim centroids whose
    * components are exact multiples of 0.25, so every `‖c‖²` is an
    * exactly-representable decimal and the oracle can restate the
    * kernel's rank-key arithmetic (`‖c‖² − 2·v·c`, dot in element order)
    * bit-for-bit — one source of truth for the query AND the SQL.
    */
  private[graft] val ClusterCentroids: Array[Array[Double]] =
    Array.tabulate(4, 64)((j, d) => (((d + j * 5) % 9) - 4) * 0.25)

  private def clusterAssignSql: String = {
    val ds = ClusterCentroids.zipWithIndex.map { case (c, j) =>
      val cn2 = c.map(x => x * x).sum // exact: multiples of 0.0625
      val dot = c.zipWithIndex.map { case (w, i) =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * CAST($w AS DOUBLE)"
      }.mkString(" + ") // left-assoc chain = the kernel's element order
      s"CAST($cn2 AS DOUBLE) - 2.0 * ($dot) AS d$j"
    }.mkString(",\n             ")
    s"""WITH d AS (SELECT vec_id, $ds FROM embeddings)
       SELECT vec_id,
         CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
              WHEN d1 <= d2 AND d1 <= d3 THEN 1
              WHEN d2 <= d3 THEN 2 ELSE 3 END AS cluster
       FROM d"""
  }

  /** Oracle for `sim_density_prune`: restates [[Similarity.densityPrune]]'s
    * full rank key — `‖v‖²` as the same left-associated per-element
    * double chain the compiled dot kernel accumulates, `dc` as the
    * assigned cluster's `‖c‖² − 2·v·c` branch (identical tie CASE to
    * [[clusterAssignSql]]), hardest-first row_number with the id
    * tie-break, and the per-cluster `ceil(keepFrac·n)` quota.
    */
  private def densityPruneSql: String = {
    val vv = (1 to 64).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) * CAST(embedding[$i] AS DOUBLE)")
      .mkString(" + ")
    val ds = ClusterCentroids.zipWithIndex.map { case (c, j) =>
      val cn2 = c.map(x => x * x).sum
      val dot = c.zipWithIndex.map { case (w, i) =>
        s"CAST(embedding[${i + 1}] AS DOUBLE) * CAST($w AS DOUBLE)"
      }.mkString(" + ")
      s"CAST($cn2 AS DOUBLE) - 2.0 * ($dot) AS d$j"
    }.mkString(",\n             ")
    s"""WITH d AS (SELECT vec_id, $vv AS vv, $ds FROM embeddings),
       a AS (SELECT vec_id, vv,
           CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0
                WHEN d1 <= d2 AND d1 <= d3 THEN 1
                WHEN d2 <= d3 THEN 2 ELSE 3 END AS cluster,
           CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN d0
                WHEN d1 <= d2 AND d1 <= d3 THEN d1
                WHEN d2 <= d3 THEN d2 ELSE d3 END AS dc
         FROM d),
       r AS (SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY cluster
             ORDER BY vv + dc DESC, vec_id) AS rn,
           count(*) OVER (PARTITION BY cluster) AS n FROM a)
       SELECT vec_id, cluster FROM r
       WHERE rn <= CAST(ceil(0.5 * n) AS BIGINT)"""
  }

  private def p2TwoEventSession(s: SparkSession): EngineSession = {
    val session = new EngineSession(s,
      StreamConfig(fromBlock = 0L, toBlock = Long.MaxValue))
    session.register("0x" + "aa" * 20, p2DeclT)
    session.register("0x" + "bb" * 20, p2DeclA)
    session
  }

  private def p2TwoEventRaw(ev: DataFrame): DataFrame = {
    val declT = p2DeclT
    val declA = p2DeclA
    val isT = col("event_type") === "purchase"
    val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
    ev.select(
      col("block_number"), col("log_index"),
      when(isT, graft.functions.abi.address("0x" + "aa" * 20))
        .otherwise(graft.functions.abi.address("0x" + "bb" * 20))
        .as("address"),
      when(isT, graft.functions.abi.topic0(declT))
        .otherwise(graft.functions.abi.topic0(declA)).as("topic0"),
      EventDecoder.encodeWordFromLong(col("user_id")).as("topic1"),
      when(isT, EventDecoder.encodeWordFromLong(col("user_id") + 1))
        .cast("binary").as("topic2"),
      lit(null).cast("binary").as("topic3"),
      EventDecoder.encodeWordFromLong(cents).as("data"))
  }

  private def p2DecodeMultiSelect(decoded: DataFrame): DataFrame =
    decoded.select(col("block_number"), col("log_index"), col("event_name"),
      concat(lit("0x"), lower(hex(col("transfer.from")))).as("t_from"),
      concat(lit("0x"), lower(hex(col("transfer.to")))).as("t_to"),
      col("transfer.value").cast("bigint").as("t_value"),
      concat(lit("0x"), lower(hex(col("approval.owner")))).as("a_owner"),
      col("approval.spent").cast("bigint").as("a_spent"))

  /** ~5 micro-batch chunk size for a replay of `path`, from footer stats. */
  private def fifthOfHead(s: SparkSession, path: String): Long = {
    val head = new graft.sources.FooterHeadTracker("event_id")
      .maxValue(s, path).getOrElse(0L) /
      graft.operators.EventLog.DefaultBlockSize
    math.max(1L, (head + 1) / 5)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's flagship is the netflow reducer over two synced streams
    * (eth_event_stream/examples/stream_multi.rs:33-70).
    */
  def entry(spark: SparkSession): DataFrame =
    EventLog.netflow(events(spark, "/root/testdata/sf0.001"), "purchase", "click")

  // ---------------------------------------------------------------------
  // Queries — one per implemented operator from SURVEY.md §2.
  // ---------------------------------------------------------------------
  // lazy val, not def: Verify/Bench/Explain index this map per query
  // name — a def rebuilt all 162 entries (closures + SQL strings) on
  // every lookup
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Schema-on-read JSONL ingestion with a corrupt-record policy — how
    // LLM corpora actually arrive. The fixture table is converted ONCE
    // to JSON lines plus three deterministic broken lines (fixture-keyed
    // scratch, atomic populate), then read back under the declared
    // schema in PERMISSIVE mode: malformed lines land in
    // _corrupt_record instead of killing the job or silently vanishing.
    // Gate: per-language counts survive the round trip exactly and the
    // corrupt bucket holds exactly the injected lines.
    "src_jsonl_ingest" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scratch = fixtureScratch(s, s"$dir/documents.parquet", "jl",
        "docs") { tmp =>
        import s.implicits._
        docs.selectExpr(
            "to_json(struct(doc_id, text, lang, source, n_chars)) AS value")
          .unionAll(Seq("{\"doc_id\": broken", "not json at all",
            "{\"doc_id\":}").toDF("value"))
          .coalesce(4).write.mode("overwrite").text(s"$tmp/docs")
      }
      // Spark requires materialization to query _corrupt_record; the
      // cache lives until the per-query clearCache in Verify/Bench, or
      // the ambient CacheScope (operator persist contract)
      val read = graft.CacheScope.persist(s.read
        .schema(docs.schema.add("_corrupt_record",
          org.apache.spark.sql.types.StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$scratch/docs"),
        org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      read.groupBy(
          when(col("_corrupt_record").isNotNull, lit("__corrupt__"))
            .otherwise(col("lang")).as("lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Schema-on-read CSV ingestion, the jsonl twin: same PERMISSIVE +
    // corrupt-capture contract over the other ubiquitous text format —
    // short rows and type-failing rows land in the corrupt bucket, never
    // silently null-padded. Gate: per-language counts survive the round
    // trip exactly and the corrupt bucket holds exactly the injected
    // lines.
    "src_csv_ingest" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scratch = fixtureScratch(s, s"$dir/documents.parquet", "cv",
        "docs") { tmp =>
        import s.implicits._
        docs.select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"))
          .coalesce(4).write.mode("overwrite").csv(s"$tmp/docs")
        Seq("broken", "not_a_number,t,en,src0,5", "only,two")
          .toDF("value").coalesce(1).write.mode("append").text(s"$tmp/docs")
      }
      val read = graft.CacheScope.persist(s.read
        .schema(docs.schema.add("_corrupt_record",
          org.apache.spark.sql.types.StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(s"$scratch/docs"),
        org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      read.groupBy(
          when(col("_corrupt_record").isNotNull, lit("__corrupt__"))
            .otherwise(col("lang")).as("lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // ORC ingestion — the columnar non-parquet member of the ingestion
    // trio (JSONL, CSV, ORC): full-schema round trip through Spark's
    // native ORC source with the lang predicate PUSHED into the ORC
    // reader (searchArgument row-group skipping — the same scan-pruning
    // contract the parquet paths get from PushedFilters). Gate: the
    // per-source aggregate over the round-tripped files hash-matches
    // the oracle on the source-of-truth parquet.
    "src_orc_ingest" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scratch = fixtureScratch(s, s"$dir/documents.parquet", "orc",
        "docs") { tmp =>
        docs.coalesce(4).write.mode("overwrite").orc(s"$tmp/docs")
      }
      s.read.orc(s"$scratch/docs")
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // Schema evolution across writer generations — the lakehouse
    // contract a 100 TB corpus accumulates by default: generation 0
    // lands without the later `quality` column, generation 1 adds it;
    // `mergeSchema` unions the parquet footers at PLAN time and
    // back-fills nulls, so old files stay readable forever without a
    // rewrite. Gate: per-generation counts + null accounting of the
    // late column hash-match the oracle on the source of truth.
    "src_schema_evolution" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val scratch = fixtureScratch(s, s"$dir/documents.parquet", "sev",
        "docs") { tmp =>
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "lang", "n_chars")
          .withColumn("gen", lit(0L))
          .coalesce(2).write.mode("overwrite").parquet(s"$tmp/docs")
        docs.filter(col("doc_id") % 2 =!= 0)
          .select("doc_id", "lang", "n_chars")
          .withColumn("gen", lit(1L))
          .withColumn("quality", col("n_chars").cast("double") / 100)
          .coalesce(2).write.mode("append").parquet(s"$tmp/docs")
      }
      s.read.option("mergeSchema", "true").parquet(s"$scratch/docs")
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("quality")).as("n_quality"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // S4 over the WIRE — the live-transport seam under the correctness
    // gate: the DSv2 rpc-logs source fetches eth_getLogs ranges
    // executor-side from the deterministic SimEthNode (the sandbox has
    // no network; a real endpoint swaps in HttpJsonRpcTransport and
    // nothing else changes), decodes the data word through the standard
    // ABI kernel, and must hash-match the oracle restating the node's
    // pure log function relationally (generate_series). Head 120,
    // confirmations 2 ⇒ blocks 0..118, 3 logs each.
    "src_rpc_logs" -> ((s, dir) => {
      graft.sources.RpcLogSource.registerTransport("verify_sim",
        new graft.sources.SimEthNode(head = 120L, logsPerBlock = 3))
      s.read.format("graft.sources.RpcLogProvider")
        .option("transport", "verify_sim").option("confirmations", "2")
        .option("fetchBlocks", "25").load()
        .select(col("block_number"), col("log_index"),
          graft.functions.abi.u256(col("data")).cast("bigint").as("v"))
    }),

    // S2 as DSv2 FILTER PUSHDOWN over the wire: the idiomatic
    // `.filter()` on an rpc-logs scan lands address equality and block
    // bounds in the eth_getLogs request itself and SHRINKS the partition
    // plan (pruned ranges are never fetched) — build_filter parity,
    // stream.rs:94-102. Spark re-evaluates the same predicates as
    // residuals, so the node filter is wire-width optimization, not the
    // correctness authority. Address 0xaa…aa = even log indexes.
    "src_rpc_pushdown" -> ((s, dir) => {
      graft.sources.RpcLogSource.registerTransport("verify_sim_push",
        new graft.sources.SimEthNode(head = 120L, logsPerBlock = 3))
      s.read.format("graft.sources.RpcLogProvider")
        .option("transport", "verify_sim_push").option("confirmations", "2")
        .option("fetchBlocks", "25").load()
        .filter(col("address") ===
            lit(graft.model.Hex.decode("aa" * 20)) &&
          col("block_number").between(40L, 80L))
        .select(col("block_number"), col("log_index"),
          graft.functions.abi.u256(col("data")).cast("bigint").as("v"))
    }),

    // Adaptive range bisection under the correctness gate: the node
    // caps responses at 20 logs (public providers reject oversized
    // eth_getLogs ranges with −32005), so the 50-block fetch partitions
    // must recursively split — result identical to the uncapped scan.
    "src_rpc_adaptive" -> ((s, dir) => {
      graft.sources.RpcLogSource.registerTransport("verify_sim_capped",
        new graft.sources.SimEthNode(head = 90L, logsPerBlock = 3,
          maxLogsPerRequest = 20))
      s.read.format("graft.sources.RpcLogProvider")
        .option("transport", "verify_sim_capped").option("confirmations", "2")
        .option("fetchBlocks", "50").load()
        .select(col("block_number"), col("log_index"),
          graft.functions.abi.u256(col("data")).cast("bigint").as("v"))
    }),

    // S7 write path end-to-end: RPC stream → BlockSink (idempotent
    // block-bucketed parquet, dynamic overwrite per (bucket, epoch)) →
    // read the FILES back. blockStep 20 versus bucketBlocks 16 forces
    // consecutive epochs to share buckets, the exact surface a naive
    // overwrite clobbers; the oracle restates the node's pure log
    // function plus the bucketing.
    "s7_sink_roundtrip" -> ((s, dir) => {
      graft.sources.RpcLogSource.registerTransport("verify_sim_sink",
        new graft.sources.SimEthNode(head = 80L, logsPerBlock = 3))
      val out = runDir("graft_sink_rt") // the result frame stays file-backed
      val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ck").toString
      val stream = s.readStream.format("graft.sources.RpcLogProvider")
        .option("transport", "verify_sim_sink").option("confirmations", "0")
        .option("blockStep", "20").load()
        .select(col("block_number"), col("log_index"),
          graft.functions.abi.u256(col("data")).cast("bigint").as("v"))
      drain(s, stream)(graft.streaming.BlockSink.start(_, out, ckpt,
        bucketBlocks = 16L))
      deleteRecursively(ckpt)
      s.read.parquet(out)
        .select(col("block_bucket").cast("bigint").as("block_bucket"),
          col("block_number"), col("log_index"), col("v"))
    }),

    // Multi-address + topic0 server-side filters (the reference's
    // build_filter takes LISTS, stream.rs:94-102): one request carrying
    // a two-contract address array, aggregated per contract.
    "src_rpc_multi" -> ((s, dir) => {
      graft.sources.RpcLogSource.registerTransport("verify_sim_multi",
        new graft.sources.SimEthNode(head = 60L, logsPerBlock = 4))
      s.read.format("graft.sources.RpcLogProvider")
        .option("transport", "verify_sim_multi").option("confirmations", "0")
        .option("fetchBlocks", "16")
        .option("address", "0x" + "aa" * 20 + ",0x" + "bb" * 20)
        .option("topic0", "0x" + "cc" * 32).load()
        .select(lower(hex(col("address"))).as("addr"),
          graft.functions.abi.u256(col("data")).cast("bigint").as("v"))
        .groupBy(col("addr"))
        .agg(count(lit(1)).as("n_logs"),
          sum(col("v")).cast("bigint").as("sum_v"))
    }),

    // TOPIC-SLOT filters over the wire — the RPC spec's positional
    // `topics` array (slot 1..3 = indexed event params, OR within a
    // slot, AND across slots): `.filter()` equality on topic1 and an
    // IN-list on topic2 push down to the request's slots, so the node
    // serves only matching logs (slot filters are how the reference's
    // indexed-param subscriptions stay narrow at backfill scale). The
    // fixture's topic1 = word(log_index), topic2 = word(block % 5);
    // Spark re-evaluates both predicates as residuals.
    "src_rpc_topic_slots" -> ((s, dir) => {
      graft.sources.RpcLogSource.registerTransport("verify_sim_slots",
        new graft.sources.SimEthNode(head = 100L, logsPerBlock = 4,
          topicsPerLog = 3))
      def word(v: Long) = graft.model.Hex.decode("%064x".format(v))
      s.read.format("graft.sources.RpcLogProvider")
        .option("transport", "verify_sim_slots").option("confirmations", "2")
        .option("fetchBlocks", "25").load()
        .filter(col("topic1") === lit(word(1L)) &&
          col("topic2").isin(lit(word(0L)), lit(word(2L))))
        .select(col("block_number"), col("log_index"),
          graft.functions.abi.u256(col("data")).cast("bigint").as("v"))
    }),

    // P2/S2 — the DECODED-param filter path end-to-end: the user writes
    // the idiomatic `abi.u256(topic2) === 2` / `abi.u256(topic1) >= 2`;
    // IndexedParamRewrite turns both into raw-word predicates (equality
    // AND the lexicographic range — 32-byte unsigned big-endian words
    // sort numerically as bytes), the DSv2 source ships the topic2
    // equality in the eth_getLogs slot filter, and Spark evaluates the
    // binary range residually. No decode expression survives the plan.
    "p2_indexed_pushdown" -> ((s, dir) => {
      graft.sources.RpcLogSource.registerTransport("verify_sim_indexed",
        new graft.sources.SimEthNode(head = 100L, logsPerBlock = 4,
          topicsPerLog = 3))
      s.read.format("graft.sources.RpcLogProvider")
        .option("transport", "verify_sim_indexed").option("confirmations", "2")
        .option("fetchBlocks", "25").load()
        .filter(graft.functions.abi.u256(col("topic2")) === lit(2) &&
          graft.functions.abi.u256(col("topic1")) >= lit(2))
        .select(col("block_number"), col("log_index"),
          graft.functions.abi.u256(col("data")).cast("bigint").as("v"))
    }),

    // P2/S2 signed twin — int256 indexed params (deltas) through the
    // SAME decoded-filter path, over a written raw-log PARQUET (the
    // replay/backfill surface): the i256 range rewrite turns the filter
    // into per-sign-band byte ranges that parquet row-group stats can
    // prune; decode never runs on non-matching rows.
    "p2_indexed_signed" -> ((s, dir) => {
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val scratch = fixtureScratch(s, s"$dir/events.parquet", "sl",
        "logs") { tmp =>
        ev.select(
            lit(Array.fill[Byte](20)(0xaa.toByte)).as("address"),
            EventDecoder.encodeWordFromLong(lit(1L)).as("topic0"),
            EventDecoder.encodeWordFromLongSigned(col("user_id") - 75)
              .as("topic1"),
            lit(null).cast("binary").as("topic2"),
            lit(null).cast("binary").as("topic3"),
            EventDecoder.encodeWordFromLong(col("user_id")).as("data"),
            col("block_number"), lit(null).cast("binary")
              .as("transaction_hash"),
            col("log_index"), lit(false).as("removed"))
          .write.mode("overwrite").parquet(s"$tmp/logs")
      }
      s.read.parquet(s"$scratch/logs")
        .filter(graft.functions.abi.i256(col("topic1")) >= lit(-50) &&
          graft.functions.abi.i256(col("topic1")) < lit(25))
        .select(col("block_number"), col("log_index"),
          graft.functions.abi.i256(col("topic1")).cast("bigint").as("delta"))
    }),

    // S1/S2 — bounded log range scan with signature + block-range pushdown
    "s1_log_scan" -> ((s, dir) =>
      EventLog.rangeScan(events(s, dir), Seq("purchase"), 10L, 500L)
        .select("event_id", "block_number", "log_index", "user_id", "value")),

    // S1 hardening — reorg guard, quarantine path: synthesize a removed
    // flag (every 97th event "uncle'd"), drop flagged rows, count per
    // signature. The fail-fast twin (assertNoRemoved aborting the query)
    // is exercised in HardeningSpec — an abort is not SQL-expressible.
    "s1_removed_guard" -> ((s, dir) =>
      EventLog.dropRemoved(
          events(s, dir).withColumn("removed", col("event_id") % 97 === 0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"))),

    // S3 — historical chunked scan (block_step partitioning)
    "s3_chunked_scan" -> ((s, dir) =>
      EventLog.chunkedScanStats(events(s, dir), 100L)),

    // S5 — hybrid historical/live split at head − confirmations
    "s5_hybrid_phases" -> ((s, dir) =>
      EventLog.hybridPhases(events(s, dir), 2L)),

    // P2 — payload decode (props JSON ≈ ABI data), aggregated per signature
    "p2_decode_props" -> ((s, dir) =>
      events(s, dir)
        .withColumn("k", regexp_extract(col("props"), "[0-9]+", 0).cast("int"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).cast("bigint").as("sum_k"),
          count(lit(1)).as("n_events"))),

    // P2/P4 — full ABI path: synthesize raw Transfer logs (topic0 = keccak
    // signature, address/uint words) from events rows, then decode them
    // back with the native u256/address expressions; output must equal the
    // direct relational projection (the oracle).
    "p2_abi_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse(
        "Transfer(address indexed from, address indexed to, uint value)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          EventDecoder.encodeWordFromLong(col("user_id")).as("topic1"),
          EventDecoder.encodeWordFromLong(col("user_id") + 1).as("topic2"),
          EventDecoder.encodeWordFromLong(
            (col("value").cast("decimal(18,2)") * 100).cast("bigint")).as("data"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          concat(lit("0x"), lower(hex(col("from")))).as("from_addr"),
          col("value").cast("bigint").as("value_cents"))
    }),

    // P2 fixed-size bytesN — the bytes4-selector/bytes16-UUID class of
    // static params (value LEFT-aligned in its word, unlike right-
    // aligned uintN): a selector word is synthesized from sha-256 of the
    // user id, decoded through the declared schema, and the oracle
    // recomputes the same 4 bytes directly.
    "p2_abi_bytesn_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse(
        "Call(address indexed from, bytes4 selector, uint value)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val selWord = concat(
        unhex(substring(sha2(col("user_id").cast("string").cast("binary"),
          256), 1, 8)),
        lit(new Array[Byte](28)))
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          EventDecoder.encodeWordFromLong(col("user_id")).as("topic1"),
          concat(selWord, EventDecoder.encodeWordFromLong(
            (col("value").cast("decimal(18,2)") * 100).cast("bigint")))
            .as("data"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          lower(hex(col("selector"))).as("selector_hex"),
          col("value").cast("bigint").as("value_cents"))
    }),

    // P2 fixed-point — ufixed128x6 + fixed128x6 (the one ABI type family
    // left beyond the reference's DSL; Solidity itself barely implements
    // fixed). data = [ufixed word][fixed word]: the value scaled to a
    // 6-dp raw integer, the signed twin negated (two's-complement sign
    // extension); decode divides back through the precision-capped
    // two-step (see EventDecoder) so the Decimal(38,6) result is exact.
    "p2_abi_fixed_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse(
        "Quote(address indexed from, ufixed128x6 price, fixed128x6 delta)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val micro = (col("value").cast("decimal(18,2)") * 1000000).cast("bigint")
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          EventDecoder.encodeWordFromLong(col("user_id")).as("topic1"),
          concat(EventDecoder.encodeWordFromLong(micro),
            EventDecoder.encodeWordFromLongSigned(-micro)).as("data"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          col("price").cast("double").as("price"),
          col("delta").cast("double").as("delta"))
    }),

    // P2 dynamic arrays — uint[] through the full tail encode/decode:
    // per-event arrays of 1..3 amounts are synthesized relationally
    // ([head offset][n][words…]), decoded back through the array tail
    // reader, and exploded so the oracle can state every element.
    "p2_abi_array_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse(
        "Batch(address indexed from, uint[] amounts)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val n = (col("event_id") % 3 + 1).cast("int")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
      def w(i: Int) = EventDecoder.encodeWordFromLong(cents + i)
      val empty = lit(Array.emptyByteArray)
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          EventDecoder.encodeWordFromLong(col("user_id")).as("topic1"),
          concat(
            EventDecoder.encodeWordFromLong(lit(32L)),
            EventDecoder.encodeWordFromLong(n.cast("long")),
            w(0),
            when(n >= 2, w(1)).otherwise(empty),
            when(n >= 3, w(2)).otherwise(empty)).as("data"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          posexplode(col("amounts")).as(Seq("idx", "amount")))
        .select(col("block_number"), col("log_index"),
          col("idx").cast("bigint").as("idx"),
          col("amount").cast("bigint").as("amount"))
    }),

    // P2 — nested array roundtrip: uint[][] through the nested tail
    // kernel, double-exploded; inner shapes vary per event.
    "p2_abi_nested_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse("Matrix(uint[][] m)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val n = (col("event_id") % 2 + 1).cast("int") // 1 or 2 inner arrays
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
      def w(c: org.apache.spark.sql.Column) = EventDecoder.encodeWordFromLong(c)
      def wl(v: Long) = EventDecoder.encodeWordFromLong(lit(v))
      val empty = lit(Array.emptyByteArray)
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          concat(
            wl(32), w(n.cast("long")),
            w(n.cast("long") * 32), // off0: after the n offset words
            when(n >= 2, w(n.cast("long") * 32 + 64)).otherwise(empty),
            wl(1), w(cents), // inner0 = [cents]
            when(n >= 2, concat(wl(2), w(cents + 1), w(cents + 2)))
              .otherwise(empty)).as("data"))
        .withColumn("topic1", lit(null).cast("binary"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          posexplode(col("m")).as(Seq("i", "row")))
        .select(col("block_number"), col("log_index"),
          col("i").cast("bigint").as("i"),
          posexplode(col("row")).as(Seq("j", "x")))
        .select(col("block_number"), col("log_index"), col("i"),
          col("j").cast("bigint").as("j"), col("x").cast("bigint").as("x"))
    }),

    // P2 — dynamic-element array roundtrip: encode a string[] tag list
    // per event (variable count AND variable element length), decode it
    // back through the offset-indirected DynTailArray kernel, explode.
    "p2_abi_dynarray_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse("Tagged(string[] tags)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val n = (col("event_id") % 2 + 1).cast("int")
      val tag0 = col("event_type").cast("binary")
      val tag1 = concat(lit("u"), col("user_id").cast("string")).cast("binary")
      val zero = Array[Byte](0)
      def elem(t: org.apache.spark.sql.Column) = concat(
        EventDecoder.encodeWordFromLong(length(t).cast("long")),
        rpad(t, 32, zero))
      val empty = lit(Array.emptyByteArray)
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          concat(
            EventDecoder.encodeWordFromLong(lit(32L)),
            EventDecoder.encodeWordFromLong(n.cast("long")),
            EventDecoder.encodeWordFromLong(n.cast("long") * 32),
            when(n >= 2, EventDecoder.encodeWordFromLong(n.cast("long") * 32 + 64))
              .otherwise(empty),
            elem(tag0),
            when(n >= 2, elem(tag1)).otherwise(empty)).as("data"))
        .withColumn("topic1", lit(null).cast("binary"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          posexplode(col("tags")).as(Seq("idx", "tag")))
        .select(col("block_number"), col("log_index"),
          col("idx").cast("bigint").as("idx"), col("tag"))
    }),

    // P2 — tuple (struct) roundtrip: a static tuple inlined beside a
    // dynamic tuple (string component) decoded through the
    // offset-relative component area; the oracle restates both structs'
    // fields relationally.
    "p2_abi_tuple_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse(
        "Trade((address maker, uint64 qty) pair, (uint256 amount, string note) info)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
      val qty = (col("event_id") % 5 + 1).cast("long")
      val note = concat(lit("t"), col("user_id").cast("string")).cast("binary")
      val zero = Array[Byte](0)
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          concat(
            EventDecoder.encodeWordFromLong(col("user_id")), // pair.maker
            EventDecoder.encodeWordFromLong(qty),            // pair.qty
            EventDecoder.encodeWordFromLong(lit(96L)),       // info head
            EventDecoder.encodeWordFromLong(cents),          // info.amount
            EventDecoder.encodeWordFromLong(lit(64L)),       // info.note rel
            EventDecoder.encodeWordFromLong(length(note).cast("long")),
            rpad(note, 32, zero)).as("data"))
        .withColumn("topic1", lit(null).cast("binary"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          concat(lit("0x"), lower(hex(col("pair.maker")))).as("maker"),
          col("pair.qty").cast("bigint").as("qty"),
          col("info.amount").cast("bigint").as("amount_cents"),
          col("info.note").as("note"))
    }),

    // P2 — tuple-ARRAY roundtrip: (address,uint256)[] fills with
    // per-event varying count through the static-tuple tail kernel,
    // exploded so the oracle states every (taker, amt) pair.
    "p2_abi_tuplearray_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse(
        "Fills((address taker, uint256 amt)[] fills)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val n = (col("event_id") % 2 + 1).cast("int")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
      def tup(i: Int) = concat(
        EventDecoder.encodeWordFromLong(col("user_id") + i),
        EventDecoder.encodeWordFromLong(cents + i))
      val empty = lit(Array.emptyByteArray)
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          concat(
            EventDecoder.encodeWordFromLong(lit(32L)),
            EventDecoder.encodeWordFromLong(n.cast("long")),
            tup(0),
            when(n >= 2, tup(1)).otherwise(empty)).as("data"))
        .withColumn("topic1", lit(null).cast("binary"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          posexplode(col("fills")).as(Seq("idx", "f")))
        .select(col("block_number"), col("log_index"),
          col("idx").cast("bigint").as("idx"),
          concat(lit("0x"), lower(hex(col("f.taker")))).as("taker"),
          col("f.amt").cast("bigint").as("amt"))
    }),

    // P2 — DYNAMIC-tuple-ARRAY roundtrip: (string memo, uint256 amt)[]
    // — the string component makes every element tuple dynamic, so the
    // tail carries per-element offsets and each element its own
    // head/tail encoding; decoded by one kernel call, exploded so the
    // oracle states every (memo, amt) pair.
    "p2_abi_dyntuplearray_roundtrip" -> ((s, dir) => {
      val schema = graft.model.EventSchema.parse(
        "FillsD((string memo, uint256 amt)[] fills)")
      val ev = events(s, dir).filter(col("event_type") === "purchase")
      val n = (col("event_id") % 2 + 1).cast("int")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("bigint")
      val zero = Array[Byte](0)
      def memo(i: Int) =
        concat(lit("m"), (col("user_id") + i).cast("string")).cast("binary")
      // element tuple: [memo rel=0x40][amt][len][payload] = 4 words
      def tup(i: Int) = concat(
        EventDecoder.encodeWordFromLong(lit(64L)),
        EventDecoder.encodeWordFromLong(cents + i),
        EventDecoder.encodeWordFromLong(length(memo(i)).cast("long")),
        rpad(memo(i), 32, zero))
      val empty = lit(Array.emptyByteArray)
      // element-list base follows the count word: off_i = n*32 + i*0x80
      val off0 = n.cast("long") * 32L
      val raw = ev.select(
          col("block_number"), col("log_index"),
          lit(schema.topic0).as("topic0"),
          concat(
            EventDecoder.encodeWordFromLong(lit(32L)),       // array head
            EventDecoder.encodeWordFromLong(n.cast("long")), // count
            EventDecoder.encodeWordFromLong(off0),
            when(n >= 2, EventDecoder.encodeWordFromLong(off0 + 128L))
              .otherwise(empty),
            tup(0),
            when(n >= 2, tup(1)).otherwise(empty)).as("data"))
        .withColumn("topic1", lit(null).cast("binary"))
        .withColumn("topic2", lit(null).cast("binary"))
        .withColumn("topic3", lit(null).cast("binary"))
      EventDecoder.decode(raw, schema)
        .select(col("block_number"), col("log_index"),
          posexplode(col("fills")).as(Seq("idx", "f")))
        .select(col("block_number"), col("log_index"),
          col("idx").cast("bigint").as("idx"),
          col("f.memo").as("memo"),
          col("f.amt").cast("bigint").as("amt"))
    }),

    // P3 — address/hex render helper parity
    "p3_address_hex" -> ((s, dir) =>
      events(s, dir)
        .select(col("user_id")).distinct()
        .withColumn("addr",
          concat(lit("0x"), lpad(lower(hex(col("user_id"))), 40, "0")))),

    // J1 — min-watermark frontier across sources
    "j1_frontier" -> ((s, dir) => EventLog.frontier(events(s, dir))),

    // J1 — per-source high-water marks (sink's source_vals)
    "j1_high_water" -> ((s, dir) => EventLog.highWaterMarks(events(s, dir))),

    // J1 — registry-aware frontier (`synced_including`): None until every
    // registered source advanced; here all 5 sources are live.
    "j1_frontier_registered" -> ((s, dir) =>
      EventLog.frontierOf(events(s, dir), EventSources)),

    // J2 — event-level flush_including parity: per (block, source) cell the
    // ordered events, empty cells kept (exploded to rows for the oracle).
    "j2_flush_events" -> ((s, dir) =>
      EventLog.flushIncluding(events(s, dir), EventSources, 0L, 9L, Seq("event_id"))
        .select(col("block_number"), col("source"),
          explode_outer(col("events")).as("ev"))
        .select(col("block_number"), col("source"),
          col("ev.log_index").as("log_index"),
          col("ev.event_id").as("event_id"))),

    // J2 — block-aligned full-outer alignment incl. empty groups
    "j2_block_align" -> ((s, dir) =>
      EventLog.blockAlign(events(s, dir), EventSources, 0L, 19L)
        .withColumn("sum_value", col("sum_value").cast("double"))),

    // J2 end-to-end through the STREAMING engine: replay through the
    // DSv2 block source into the stateful flush — dense block×source
    // cells (EMPTY cells included, the defining J2 semantic) emitted
    // exactly once, by the trigger that reads the chain past each
    // block. At drain the chain's frontier is its last block, so every
    // block ≤ max is closed and the oracle is the batch block-align
    // spine over the full range. "transfer" is a registered source with
    // ZERO events anywhere — its all-zero cells come from the
    // registration (the reference's add_source), not from data.
    "j2_flush_stream" -> ((s, dir) => {
      // ~2-3 catch-up batches (the q_stream_interval_join rationale):
      // the frontier advances mid-stream — the flush-at-frontier
      // semantic is exercised — without paying 5+ trigger round trips
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$dir/events.parquet",
        blockStep = fifthOfHead(s, s"$dir/events.parquet") * 2,
        confirmations = 0L)
      runStreamingGate(s, "j2_flush_gate",
        graft.streaming.StreamOps.flushIncludingStream(stream,
          EventSources :+ "transfer"))
    }),

    // J1 through the STREAMING engine — the reference's defining
    // topology (stream_multi.rs:105-114): TWO independent DSv2 block
    // streams at DIFFERENT rates (blockStep 1× vs 3×), one source per
    // leg, synced by the MIN frontier (sink.rs:187-197) into the
    // stateful flush. Cells emit exactly once, in the trigger where the
    // min frontier reaches each block — never past the slower leg's
    // frontier (StreamingSpec pins that mid-stream) — and at drain the
    // dense spine ends at min(max block per source): the synced range,
    // which is exactly what the oracle states.
    "j1_frontier_stream" -> ((s, dir) => {
      val path = s"$dir/events.parquet"
      val step = fifthOfHead(s, path)
      def leg(mult: Long) = graft.streaming.StreamOps.readBlockStream(
        s, path, blockStep = step * mult, confirmations = 0L)
      runStreamingGate(s, "j1_sync_gate",
        graft.streaming.StreamOps.flushIncludingSyncedStream(
          Seq("purchase" -> leg(1L), "click" -> leg(3L))))
    }),

    // A1 — the ordered/suffix reducer driver surface (the reference's
    // reduce_synced_events single-consumer contract, sink.rs:134-151)
    // under the oracle: micro-batches replay block-ascending with
    // per-block log_index order, each per-block SUFFIX slice feeds the
    // reducer, and the reducer counts view→click adjacencies from each
    // suffix head — each adjacent pair heads exactly one suffix, so the
    // fold restates the a2 batch semantics and the a2 SQL is the oracle.
    "a1_suffix_reducer" -> ((s, dir) => {
      val matches = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      // ~2-3 catch-up batches: multi-batch ordered delivery is what the
      // driver contract needs; StreamingSpec covers finer chunking
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$dir/events.parquet",
        blockStep = fifthOfHead(s, s"$dir/events.parquet") * 2,
        confirmations = 0L)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_a1").toString
      try drain(s, stream)(graft.streaming.StreamOps.runSuffixReducer(_, ckpt,
        (block, suffix) =>
          if (suffix.lengthCompare(2) >= 0 &&
            suffix.head.getAs[String]("event_type") == "view" &&
            suffix(1).getAs[String]("event_type") == "click")
            matches.merge(block, 1L, (a, b) => a + b)))
      finally deleteRecursively(ckpt)
      import s.implicits._
      import scala.jdk.CollectionConverters._
      matches.asScala.toSeq.toDF("block_number", "n_matches")
    }),

    // A1/A2 DISTRIBUTED twin (round-13): the same per-block ordered
    // fold as a1_suffix_reducer — view→click adjacency per block — but
    // with NO driver collect: blocks are flatMapGroupsWithState groups,
    // each slice buffers in the state store until the watermark closes
    // its block, then folds sorted (log_index, event_id) on the
    // executor and frees its state. Same oracle as the driver path;
    // StreamingSpec pins driver↔distributed parity on one replay. The
    // gate runs under the ROCKSDB state backend (the 100 TB state
    // story — StateBackend scaladoc): the oracle compare is therefore
    // end-to-end evidence the off-heap provider preserves the fold,
    // not just the StreamingSpec parity drill.
    "a1_distributed_reducer" -> ((s, dir) => {
      import s.implicits._
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$dir/events.parquet",
        blockStep = fifthOfHead(s, s"$dir/events.parquet") * 2,
        confirmations = 0L)
      runStreamingGate(s, "a1_dist_gate",
        graft.streaming.StreamOps.distributedOrderedReducer[(Long, Long)](
          stream,
          (block, events) => {
            var n = 0L
            var i = 0
            while (i + 1 < events.size) {
              if (events(i).event_type == "view" &&
                events(i + 1).event_type == "click") n += 1
              i += 1
            }
            if (n > 0) Some((block, n)) else None
          }).toDF("block_number", "n_matches"),
        rocksDb = true)
    }),

    // A1 as a typed distributed Aggregator (SURVEY §2.5): the netflow
    // fold through the registered UDAF — reduce map-side, merge across
    // the shuffle, decimal buffer — against the same a3 oracle. The
    // signed-delta projection is identical to EventLog.netflow; only
    // the fold operator differs (Aggregator vs built-in sum).
    "a1_aggregator_netflow" -> ((s, dir) =>
      events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("user_id"),
          when(col("event_type") === "purchase", dec(col("value")))
            .otherwise(-dec(col("value"))).cast("decimal(38,18)").as("delta"))
        .groupBy(col("user_id"))
        .agg(graft.functions.Aggregators.decimalSumOf(col("delta"))
          .cast("double").as("netflow"))),

    // The same Aggregator under the STREAMING engine (complete mode —
    // the UDAF's partial/merge contract is what lets state accumulate
    // across micro-batches), replayed through the DSv2 block source.
    "a1_aggregator_stream" -> ((s, dir) => {
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$dir/events.parquet",
        blockStep = fifthOfHead(s, s"$dir/events.parquet") * 2,
        confirmations = 0L)
      runStreamingGate(s, "a1_udaf_gate",
        stream
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("user_id"),
            when(col("event_type") === "purchase", dec(col("value")))
              .otherwise(-dec(col("value"))).cast("decimal(38,18)").as("delta"))
          .groupBy(col("user_id"))
          .agg(graft.functions.Aggregators.decimalSumOf(col("delta"))
            .cast("double").as("netflow")),
        outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
    }),

    // J4 — ordered k-way merge restoring intra-block total order
    "j4_ordered_merge" -> ((s, dir) => {
      val ev = events(s, dir)
      EventLog.orderedMerge(Seq(
          EventLog.signatureFilter(ev, "purchase"),
          EventLog.signatureFilter(ev, "click")))
        .withColumn("pos_in_block", col("pos_in_block").cast("bigint"))
        .select("block_number", "pos_in_block", "event_id", "event_type")
    }),

    // W1 — tumbling block windows
    "w1_tumbling_window" -> ((s, dir) =>
      EventLog.tumblingWindow(events(s, dir), 0L, 50L)
        .withColumn("sum_value", col("sum_value").cast("double"))),

    // W1 end-to-end through the STREAMING engine: replay the events table
    // through the DSv2 block source and the watermark-EVICTING tumbling
    // window (append mode — each window emitted exactly once when the
    // watermark passes its end, state dropped). The oracle is the batch
    // window fold over every CLOSED window: the window containing the max
    // block stays open (watermark = max event time never passes its end),
    // so batch↔stream parity over the closed set is exactly the eviction
    // contract. Chunked blockStep ⇒ several micro-batches ⇒ the watermark
    // genuinely advances mid-stream rather than in one jump.
    "w1_evicting_stream" -> ((s, dir) => {
      // chunk size from footer stats so the replay is ~5 micro-batches at
      // ANY scale factor: fixed steps either degenerate to one batch or
      // drown the run in per-trigger overhead
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$dir/events.parquet",
        blockStep = fifthOfHead(s, s"$dir/events.parquet"),
        confirmations = 0L)
      runStreamingGate(s, "w1_evict_gate",
          graft.streaming.StreamOps.tumblingWindowStreamEvicting(stream, 0L, 50L))
        .withColumn("sum_value", col("sum_value").cast("double"))
    }),

    // Streaming exact dedup end-to-end: the events table is DOUBLED into
    // a scratch dir, replayed through the block source, deduped on
    // event_id with watermark-bounded state, and counted per signature —
    // the oracle is the plain per-type count over the original table
    // (every duplicate must be dropped, nothing else).
    "stream_dedup" -> ((s, dir) => {
      // The doubled replay input is pure derived scratch — cache it under
      // a fixture-keyed path so repeated Verify/Bench runs replay it
      // instead of re-writing 2× the table each time. The key embeds the
      // fixture's mtime+size (stale copies are never reused) and one dir
      // per fixture version bounds /tmp growth; it is therefore NOT
      // deleted after the run, unlike the per-run checkpoint.
      val ev = s.read.parquet(s"$dir/events.parquet")
      val scratch = fixtureScratch(s, s"$dir/events.parquet", "dd",
        "events") { tmp =>
        ev.unionAll(ev).write.mode("overwrite").parquet(s"$tmp/events")
      }
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$scratch/events",
        blockStep = fifthOfHead(s, s"$scratch/events"), confirmations = 0L)
      runStreamingGate(s, "stream_dedup_sink",
          graft.streaming.StreamOps.dedupStream(stream, Seq("event_id"),
            withinBlocks = 10L))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    }),

    // W1 extension — sliding windows (100 blocks, slide 25: 4× overlap)
    "w1_sliding_window" -> ((s, dir) =>
      EventLog.slidingWindow(events(s, dir), 0L, 100L, 25L)
        .withColumn("sum_value", col("sum_value").cast("double"))),

    // Session windows: per-user sessions split at gaps > 20 blocks
    "w_sessionize" -> ((s, dir) =>
      EventLog.sessionize(events(s, dir), 20L)),

    // Session windows end-to-end through the STREAMING engine: replay
    // through the DSv2 block source into the native session_window
    // aggregation (sessions merge across micro-batches in the state
    // store, append mode evicts each once closed). The oracle is the
    // batch sessionize restricted to CLOSED sessions — a session closes
    // when the watermark (max block) reaches its end (session_to + gap);
    // the open last session per user is exactly what eviction
    // withholds. session_seq is reconstructed by ranking closed sessions
    // on session_from: closure only withholds a SUFFIX per user, so the
    // ordinals of closed sessions are already final.
    "w_sessionize_stream" -> ((s, dir) => {
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$dir/events.parquet",
        blockStep = fifthOfHead(s, s"$dir/events.parquet"),
        confirmations = 0L)
      val closed = runStreamingGate(s, "w_sess_gate",
        graft.streaming.StreamOps.sessionizeStreamEvicting(stream, 20L))
      closed.withColumn("session_seq",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("session_from")))
            - 1).cast("bigint"))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          col("session_from"), col("session_to"))
    }),

    // Stream-STREAM interval join end-to-end through the streaming
    // engine: purchases and clicks replayed as two independent sources,
    // inner-joined per user within ±5 blocks under dual watermarks
    // (bounded symmetric-hash state). Inner-join append parity: the
    // drained stream equals the batch join row-for-row.
    "q_stream_interval_join" -> ((s, dir) => {
      // ~2 catch-up batches per side: the dual-source join already runs
      // 2x the micro-batches of the single-source streaming queries, and
      // multi-batch join semantics are spec-covered — keep the gate lean
      val step = fifthOfHead(s, s"$dir/events.parquet") * 3
      def side(t: String) = graft.streaming.StreamOps.readBlockStream(
          s, s"$dir/events.parquet", blockStep = step, confirmations = 0L)
        .filter(col("event_type") === t)
        .select(col("event_id"), col("user_id"), col("block_number"))
      val joined = graft.streaming.StreamOps.intervalJoinStream(
        side("purchase"), side("click"), lowerBlocks = 5L, upperBlocks = 5L)
      runStreamingGate(s, "ssij_gate", joined)
        .select(col("event_id").as("p_event_id"),
          col("block_number").as("p_block"),
          col("r_event_id").as("c_event_id"),
          col("r_block_number").as("c_block"))
    }),

    // Interval join: per session, count OTHER users' purchases landing
    // inside its block span — bucketized equi-join + residual BETWEEN
    // (never a BroadcastNestedLoop; see EventLog.rangeJoin). The oracle
    // runs DuckDB's native range join over the same session CTE.
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val sessions = EventLog.sessionize(ev, 20L)
        .select(col("user_id").as("s_user"), col("session_seq"),
          col("session_from"), col("session_to"))
      val purchases = EventLog.signatureFilter(ev, "purchase")
        .select(col("event_id"), col("user_id"), col("block_number"))
      EventLog.rangeJoin(purchases, sessions,
          "block_number", "session_from", "session_to", bucketWidth = 32L)
        .filter(col("user_id") =!= col("s_user"))
        .groupBy(col("s_user"), col("session_seq"))
        .agg(count(lit(1)).as("n_foreign_purchases"))
    }),

    // Interval OVERLAP join: concurrent-session pairs among a user
    // subset — bucketized candidates, overlap residual, and the
    // max-start-bucket meet rule so each pair lands exactly once
    // (see EventLog.intervalOverlapJoin).
    "q_overlap_join" -> ((s, dir) => {
      val sessions = EventLog.sessionize(events(s, dir), 20L)
        .filter(col("user_id") < 30)
      val a = sessions.select(col("user_id").as("u1"),
        col("session_from").as("from1"), col("session_to").as("to1"))
      val b = sessions.select(col("user_id").as("u2"),
        col("session_from").as("from2"), col("session_to").as("to2"))
      EventLog.intervalOverlapJoin(a, b,
          "from1", "to1", "from2", "to2", bucketWidth = 32L)
        .filter(col("u1") < col("u2"))
        .groupBy(col("u1"), col("u2"))
        .agg(count(lit(1)).as("n_overlaps"))
    }),

    // Sketch gate: approx_count_distinct vs the exact distinct count —
    // the HLL++ result is engine-internal, so the query emits the exact
    // count plus a relative-error verdict the oracle states (same
    // pattern as the recall gates).
    "agg_sketch_gate" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.agg(
          countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), rsd = 0.05).as("n_approx"))
        .select(col("n_exact"),
          // 0 distinct values ⇒ 0/0 = NaN (not null!) ⇒ a vacuous gate
          // must read true, like recallGate
          when(col("n_exact") === 0, lit(true))
            .otherwise(abs(col("n_approx") - col("n_exact")).cast("double")
              / col("n_exact") <= 0.15).as("sketch_ok"))
    }),

    // Deterministic negative sampling for contrastive pairs: 3 modular-
    // hash-derived partner docs per doc over the dense id space (self-
    // pairs shift by one), partner payload attached by a keyed join —
    // RNG-free, bit-for-bit oracle replay.
    "pipeline_negatives" -> ((s, dir) =>
      Sampling.negativePairs(table(s, dir, "documents"), k = 3)),

    // PIVOT: per-100-block bucket × event-type count matrix. Explicit
    // pivot values keep it a single-pass conditional aggregation (no
    // value-discovery job) with deterministic columns; absent cells
    // coalesce to 0 to match the oracle's FILTER counts.
    "q_pivot_event_matrix" -> ((s, dir) => {
      val p = events(s, dir)
        .groupBy(expr("block_number div 100").as("block_bucket"))
        .pivot("event_type", EventSources)
        .agg(count(lit(1)))
      p.select(col("block_bucket") +:
        EventSources.map(e => coalesce(col(e), lit(0L)).as(e)): _*)
    }),

    // Grouped HLL gate: per-event-type approximate distinct users vs
    // exact, verdict within 5% per group (lgK=12 ⇒ ~1.6% expected) —
    // the grouped companion of the global agg_hll_union_gate.
    "agg_grouped_hll" -> ((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          expr("hll_sketch_estimate(hll_sketch_agg(user_id))").as("est"))
        .select(col("event_type"), col("n_exact"),
          when(col("n_exact") === 0, lit(true))
            .otherwise(abs(col("est") - col("n_exact")).cast("double")
              / col("n_exact") <= 0.05).as("sketch_ok"))),

    // Tukey-fence outlier screen per event type: q1/q3 as exact ORDER
    // STATISTICS (percentile_disc semantics — integer ranks through the
    // grouped distributed rank, no interpolation, so the quartile
    // doubles are engine-exact) and the outlier count outside
    // [q1-1.5*IQR, q3+1.5*IQR]; fully hash-matched.
    "agg_iqr_outliers" -> ((s, dir) =>
      Sampling.iqrOutliers(events(s, dir), "value", "event_type",
        "event_id", expr("CAST(floor(value) AS BIGINT)"))),

    // Z-order clustering stats: interleave (user_id, block_number) bits
    // into a Morton value, assign fixed z ranges (one per would-be
    // output file) and emit each range's min/max of BOTH dimensions —
    // the footer statistics that let a Z-ordered layout prune scans on
    // either predicate. Pure integer bit arithmetic; hash-matched.
    "meta_zorder" -> ((s, dir) =>
      graft.operators.Layout.zOrderStats(events(s, dir),
        "user_id", "block_number", bits = 16, nRanges = 16)),

    // Bucketed-table co-located join under the CORRECTNESS gate:
    // lineitem and orders written ONCE as 8-bucket tables hash+sorted
    // on the order key (the layout pays the shuffle at write time,
    // with the write tasks aligned to the bucket hash → one file per
    // bucket), then the fact⋈fact join consumes the layout with zero
    // shuffle exchanges — and, under the sorted-bucket-scan flag, zero
    // join-time sorts (HardeningSpec pins both plan shapes; at fixture
    // scale Catalyst may still prefer broadcast for the dim side —
    // equally shuffle-free). Gate:
    // revenue-by-priority over the bucketed layout hash-matches the
    // oracle on the raw parquet.
    "meta_bucketed_join" -> ((s, dir) => {
      import graft.operators.Layout
      // each table's layout is keyed by ITS OWN fixture content — a
      // regenerated orders.parquet must never reuse a bucketed copy
      // minted under an unchanged lineitem key
      def bktName(short: String, src: String): String =
        s"graft_bkt_${short}_" +
          tableKey(s, s"$dir/$src.parquet").replaceAll("[^A-Za-z0-9]", "_")
      val liTbl = bktName("li", "lineitem")
      val ordTbl = bktName("ord", "orders")
      // age-gated prune of superseded layouts (fixtureScratch's
      // discipline): regenerated fixtures mint new keyed dirs, the old
      // ones must not accumulate under /tmp forever. Scope: ONLY dirs
      // carrying this gate's ownership marker are ever deleted — a
      // foreign dir (another session's differently-keyed layout, a
      // user's scratch) under the shared root is never touched — and
      // staleness is judged by the MARKER's mtime, which every gate run
      // refreshes below, so any session that ran this gate inside the
      // window keeps its layouts alive
      val ownMarker = "_graft_gate_owned"
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      val stale = new java.io.File("/tmp/graft_bkt").listFiles()
      if (stale != null) stale
        .filter(f => f.getName != liTbl && f.getName != ordTbl)
        .filter { f =>
          val m = new java.io.File(f, ownMarker)
          // lastModified == 0 ⇔ no marker ⇔ not this gate's dir
          m.lastModified() > 0 && m.lastModified() < cutoff
        }
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      Layout.ensureBucketedTable(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        liTbl, "l_orderkey", 8, s"/tmp/graft_bkt/$liTbl")
      Layout.ensureBucketedTable(
        table(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        ordTbl, "o_orderkey", 8, s"/tmp/graft_bkt/$ordTbl")
      // claim + keep-alive: (re)stamp the ownership marker on this run's
      // dirs so concurrent/future sweeps see them as live
      Seq(liTbl, ordTbl).foreach { t =>
        val m = new java.io.File(s"/tmp/graft_bkt/$t/$ownMarker")
        if (!m.createNewFile()) m.setLastModified(System.currentTimeMillis())
      }
      s.table(liTbl)
        .join(s.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"))
    }),

    // One-pass column profiling over the raw table (row/non-null/
    // distinct counts, typed min/max per column, single aggregation +
    // stack unpivot); every statistic is exact and hash-matched.
    "meta_profile" -> ((s, dir) =>
      Sketches.profile(events(s, dir),
        numericCols = Seq("event_id", "user_id", "value"),
        stringCols = Seq("event_type"))),

    // The profiling scale tier: approx_count_distinct (HLL++, one
    // ordinary aggregation pass — no Expand row multiplication)
    // replacing the exact multi-countDistinct, gated per column against
    // the exact distinct count like agg_sketch_gate (rsd 5% ⇒ a 15%
    // tolerance holds with wide margin); the row/non-null counts and
    // typed min/max stay exact and hash-match directly.
    "meta_profile_approx" -> ((s, dir) => {
      val ev = events(s, dir)
      val nums = Seq("event_id", "user_id", "value")
      val strs = Seq("event_type")
      val exact = Sketches.profile(ev, nums, strs)
        .select(col("col_name"), col("n_distinct").as("n_exact"))
      Sketches.profileApprox(ev, nums, strs)
        .withColumnRenamed("n_distinct", "n_approx")
        .join(exact, "col_name")
        .select(col("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_exact"), col("min_num"), col("max_num"),
          col("min_str"), col("max_str"),
          when(col("n_exact") === 0, lit(true))
            .otherwise(abs(col("n_approx") - col("n_exact")).cast("double")
              / col("n_exact") <= 0.15).as("sketch_ok"))
    }),

    // Heavy hitters via count-min sketch, exactly verified: the sketch
    // pass (map-side mergeable summaries, no row shuffle) can't
    // undercount, so the verify pass over survivors only discards —
    // the result is EXACT and hash-matches a plain GROUP BY/HAVING
    // oracle. Threshold = 1.15x the mean per-key count (ceil'd to an
    // integer so both engines compare the same value).
    "agg_heavy_hitters" -> ((s, dir) => {
      val ev = events(s, dir)
      val stats = ev.agg(
        count(lit(1)).cast("double").as("n"),
        countDistinct(col("user_id")).cast("double").as("d")).head
      // mean-first grouping mirrors the oracle's `ceil(1.15 * mean)`
      // exactly — (1.15*n)/d and 1.15*(n/d) can differ by 1 ulp, which
      // flips ceil on integer-adjacent values
      val minCount =
        math.ceil(1.15 * (stats.getDouble(0) / stats.getDouble(1))).toLong
      Sketches.heavyHitters(ev, col("user_id"), minCount)
        .select(col("hh_key").as("user_id"), col("n_rows"))
    }),

    // Re-aggregatable distinct-count rollup: per-block-range HLL
    // sketches UNIONED to a global estimate — the 100 TB pattern where
    // partial sketches are stored per partition/day and any rollup is a
    // cheap union instead of a re-scan. Gate: union estimate within 5%
    // of the exact global distinct (Datasketches HLL, lgK=12 ⇒ ~1.6%).
    "agg_hll_union_gate" -> ((s, dir) => {
      val ev = events(s, dir)
      val parts = ev
        .groupBy((col("block_number") / 20).cast("long").as("bucket"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      val unioned = parts.agg(
        count(lit(1)).as("n_parts"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      ev.agg(countDistinct(col("user_id")).as("n_exact"))
        .join(broadcast(unioned))
        .select(col("n_exact"), col("n_parts"),
          when(col("n_exact") === 0, lit(true))
            .otherwise(abs(col("est") - col("n_exact")).cast("double")
              / col("n_exact") <= 0.05).as("sketch_ok"))
    }),

    // Sketch gate: approx_percentile vs the exact median — verdict-only
    // output (exact percentile interpolation differs subtly between
    // engines, so only the count crosses to the oracle).
    "agg_percentile_gate" -> ((s, dir) => {
      val ev = events(s, dir)
      ev.agg(
          count(lit(1)).as("n_values"),
          expr("percentile(value, 0.5)").as("p50_exact"),
          expr("approx_percentile(value, 0.5, 1000)").as("p50_approx"))
        .select(col("n_values"),
          // zero median ⇒ relative error undefined (fall back to an
          // absolute check); empty input ⇒ nulls ⇒ vacuously true
          coalesce(
            when(abs(col("p50_exact")) > 0,
              abs(col("p50_approx") - col("p50_exact"))
                / abs(col("p50_exact")) <= 0.05)
              .otherwise(abs(col("p50_approx") - col("p50_exact")) <= 1e-9),
            lit(true)).as("sketch_ok"))
    }),

    // W2 — per-block stepping, per-source groups
    "w2_per_block" -> ((s, dir) =>
      EventLog.perBlockBySource(events(s, dir), EventSources)),

    // A2 — suffix-slice sequence pattern (view immediately followed by click)
    "a2_adjacent_pattern" -> ((s, dir) =>
      EventLog.adjacentPattern(events(s, dir), "view", "click")),

    // A2 generalized — 3-event consecutive sequence within a block
    "a2_sequence3" -> ((s, dir) =>
      EventLog.sequencePattern(events(s, dir), Seq("view", "view", "click"))),

    // A2 generalized to a regex over the per-block type sequence:
    // one-or-more views immediately followed by a click ("v+c") —
    // quantified patterns the fixed-adjacency matcher can't express;
    // non-overlapping leftmost-match semantics agree between engines.
    "a2_regex_pattern" -> ((s, dir) =>
      EventLog.regexPattern(events(s, dir), "v+c")),

    // A2 regex CEP ACROSS block boundaries: the same v+c pattern over
    // sliding 4-block windows every 2 blocks — a view run ending one
    // block before its click now matches (the per-block matcher can't
    // see it). Window order key = (block, log_index, event_id).
    "a2_regex_window" -> ((s, dir) =>
      EventLog.regexPatternWindow(events(s, dir), "v+c",
        from = 0L, size = 4L, slide = 2L)),

    // A3 — flagship netflow reducer
    "a3_netflow" -> ((s, dir) =>
      EventLog.netflow(events(s, dir), "purchase", "click")
        .withColumn("netflow", col("netflow").cast("double"))),

    // A3 as the reference actually runs it — STREAMING: the events table
    // replays through the DSv2 block source in ~5 micro-batches, the
    // netflow aggregate accumulates per-key state across batches
    // (complete mode; the memory sink's final table IS the final state),
    // and the result must hash-match the batch oracle — the stream_multi
    // flagship semantic (stream_multi.rs:33-70) under the driver's gate.
    "a3_netflow_stream" -> ((s, dir) => {
      val stream = graft.streaming.StreamOps.readBlockStream(
        s, s"$dir/events.parquet",
        blockStep = fifthOfHead(s, s"$dir/events.parquet"),
        confirmations = 0L)
      runStreamingGate(s, "a3_stream_gate",
          graft.streaming.StreamOps.netflowStream(stream, "purchase", "click"),
          outputMode = org.apache.spark.sql.streaming.OutputMode.Complete())
        .withColumn("netflow", col("netflow").cast("double"))
    }),

    // A3 — derived monitor counts over the netflow state
    "a3_netflow_monitor" -> ((s, dir) =>
      EventLog.netflowMonitor(
        EventLog.netflow(events(s, dir), "purchase", "click"))),

    // Flagship end-to-end: the reference's stream_multi example replayed
    // over RAW logs — two registered contract streams, source-side
    // signature filter, ABI decode, ordered union, netflow fold
    // (stream_multi.rs:33-70). Raw logs are synthesized relationally from
    // events, so the oracle can state the expected result directly.
    // P2/S8 — SINGLE-PASS multi-event decode: two registered
    // declarations (Transfer on contract aa, Approval on contract bb),
    // one projection routes every raw log by (address, topic0) and
    // decodes BOTH schemas behind their routing guards — the
    // reference's per-log dispatch (sink.rs:86-99) without one scan of
    // history per event. Struct fields flatten to disjoint nullable
    // columns; the oracle restates the roundtrip from the source table.
    "p2_decode_multi" -> ((s, dir) => {
      val session = p2TwoEventSession(s)
      val ev = events(s, dir).filter(col("event_type").isin("purchase", "click"))
      p2DecodeMultiSelect(
        session.decodeAll(session.rawLogFilter(p2TwoEventRaw(ev))))
    }),

    // P2/S8 STREAMING — the same one-pass routed projection over the
    // replay STREAM: the reference's sink loop is itself streaming
    // (sink.rs:199-227 dispatches each incoming log once); decodeAll is
    // a pure narrow projection, so it applies to a micro-batched stream
    // unchanged — no state store, Append mode — and the drained memory
    // sink must hash-match the identical batch oracle.
    "p2_decode_multi_stream" -> ((s, dir) => {
      val session = p2TwoEventSession(s)
      val stream = graft.streaming.StreamOps.readBlockStream(
          s, s"$dir/events.parquet",
          blockStep = fifthOfHead(s, s"$dir/events.parquet"),
          confirmations = 0L)
        .filter(col("event_type").isin("purchase", "click"))
      runStreamingGate(s, "p2_multi_stream_gate",
        p2DecodeMultiSelect(
          session.decodeAll(session.rawLogFilter(p2TwoEventRaw(stream)))))
    }),

    "flagship_raw_netflow" -> ((s, dir) => {
      val decl = "Transfer(address indexed from, address indexed to, uint value)"
      val addrIn = "0x" + "aa" * 20  // inflow contract (purchase events)
      val addrOut = "0x" + "bb" * 20 // outflow contract (click events)
      val session = new EngineSession(s,
        StreamConfig(fromBlock = 0L, toBlock = Long.MaxValue))
      val hIn = session.register(addrIn, decl)
      val hOut = session.register(addrOut, decl)
      val ev = events(s, dir).filter(col("event_type").isin("purchase", "click"))
      val raw = ev.select(
          col("block_number"), col("log_index"),
          when(col("event_type") === "purchase",
            graft.functions.abi.address(addrIn))
            .otherwise(graft.functions.abi.address(addrOut)).as("address"),
          graft.functions.abi.topic0(decl).as("topic0"),
          EventDecoder.encodeWordFromLong(col("user_id")).as("topic1"),
          EventDecoder.encodeWordFromLong(col("user_id") + 1).as("topic2"),
          EventDecoder.encodeWordFromLong(
            (col("value").cast("decimal(18,2)") * 100).cast("bigint")).as("data"))
        .withColumn("topic3", lit(null).cast("binary"))
      val filtered = session.rawLogFilter(raw)
      val inflows = session.decode(filtered, hIn)
        .select(col("from"), col("value").as("delta"))
      val outflows = session.decode(filtered, hOut)
        .select(col("from"), (-col("value")).as("delta"))
      inflows.unionByName(outflows)
        .groupBy(col("from"))
        .agg(sum(col("delta")).cast("double").as("netflow_cents"))
        .select(concat(lit("0x"), lower(hex(col("from")))).as("from_addr"),
          col("netflow_cents"))
    }),

    // ------------------------------------------------------------------
    // LLM-data-pipeline extensions (driver north star): dedup, text
    // analysis, similarity search over documents/embeddings.
    // ------------------------------------------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exact(table(s, dir, "documents"))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(table(s, dir, "documents"), n = 3, minJaccard = 0.8)),

    // The dedup ACTION: exact near-dup pairs → min-label clusters → keep
    // one representative per cluster (5 bounded propagation rounds,
    // mirrored exactly by the oracle's unrolled steps). Candidate
    // generation caps gram document-frequency (the stopword-shingle skew
    // guard): one corpus-wide hot trigram must not fan out quadratically.
    "dedup_representatives" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.keepRepresentatives(docs,
          Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.8,
            maxGramDf = Some(MaxGramDf)), maxIter = 5)
        .select("doc_id")
    }),

    // MinHash+LSH and SimHash use engine-internal hashes no SQL can
    // restate — registered as self-check gates: recall vs the exact
    // n-gram-Jaccard pairs, with the exact pair count and the expected
    // boolean stated by the oracle (hash-match regime).
    "dedup_minhash_lsh" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      recallGate(
        exact = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.8),
        approx = Dedup.minHashLshPairs(docs,
          n = 3, numHashes = 64, bands = 16, minJaccard = 0.5),
        keys = Seq("d1", "d2"), floor = 0.9)
    }),

    // Band-bucket occupancy cap (maxGramDf's twin at the band level; the
    // guard the 100×-tier superlinearity finding demanded): on a
    // natural-entropy corpus no bucket reaches the cap, so capped pairs
    // must EQUAL uncapped pairs — the gate pins the guard as recall-free
    // until a mega-bucket actually forms (the degenerate 30-word-vocab
    // case where it fires, and what it drops, is drilled in
    // ExtendedOpsSpec; the 165.5→67.3 s same-result 100× measurement
    // lives in PERF.md's scale table).
    "dedup_minhash_cap_gate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // ONE shared banding serves both variants (the from-index pair
      // query) — the corpus is shingled exactly once for this gate
      val banded = graft.CacheScope.persist(
        Dedup.minHashBandIndex(docs, n = 3, numHashes = 64, bands = 16),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val capped = Dedup.minHashLshPairsFromIndex(banded,
        minJaccard = 0.5, maxBucketSize = Some(256))
      val uncapped = Dedup.minHashLshPairsFromIndex(banded,
        minJaccard = 0.5)
      val eq = capped.as("c").join(uncapped.as("u"), Seq("d1", "d2"), "full")
        .agg((count(when(col("c.est_jaccard").isNull
          || col("u.est_jaccard").isNull, 1)) === 0).as("equal_ok"))
      docs.agg(count(lit(1)).as("n_docs")).crossJoin(broadcast(eq))
    }),

    // Pair serving FROM THE PERSISTED ARTIFACT: the parquet band index
    // the incremental/streaming queries maintain answers the full pair
    // query for its own corpus WITHOUT touching documents — index rows
    // in, pairs out (minHashLshPairsFromIndex). Gate: set + estimate
    // equality with the from-scratch LSH run over the same slice.
    "dedup_pairs_from_index" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val half = footerMaxId(s, s"$dir/documents.parquet") / 2
      // the SAME fixture-keyed index the incremental/streaming gates read
      val scratch = mhIndexScratch(s, dir, half)
      val served = Dedup.minHashLshPairsFromIndex(
        s.read.parquet(s"$scratch/index"), minJaccard = 0.5)
      val direct = Dedup.minHashLshPairs(docs.filter(col("doc_id") <= half),
        n = 3, numHashes = 64, bands = 16, minJaccard = 0.5)
      val eq = pairValuesEqual(served, direct, "est_jaccard", 1e-12)
      docs.filter(col("doc_id") <= half)
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(eq))
    }),

    // Winnowing (MOSS) fingerprint candidates: any pair sharing a token
    // run ≥ window+n−1 = 6 shares a fingerprint — a guarantee, not a
    // probability, so the floor sits at 0.95 (Jaccard-0.8 pairs always
    // share such runs on this corpus; measured recall 1.00 at both SFs).
    // The candidate set is deliberately wider than whole-doc Jaccard:
    // winnowing also catches partial containment (a copied paragraph).
    "dedup_winnow" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      recallGate(
        exact = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.8),
        approx = Dedup.winnowPairs(docs, n = 3, window = 4, minShared = 2),
        keys = Seq("d1", "d2"), floor = 0.95)
    }),

    "dedup_simhash" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      recallGate(
        exact = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.95),
        // simhash d≤3 is a coarser predicate than Jaccard≥0.95: measured
        // recall 0.63 (sf0.01) / 0.83 (sf0.1) — the floor sits just below
        // the fixture minimum so any regression trips the gate
        approx = Dedup.simHashPairs(docs, maxDist = 3),
        keys = Seq("d1", "d2"), floor = 0.6)
    }),

    // The SCALED simhash layout (round-13, shared BandedHamming core):
    // 2 bands x 32 bits + radius-1 key probing — the fix for the fixed
    // 2^16 chunk space measured going coincidentally quadratic past
    // ~1M docs on the dHash twin. Both layouts are COMPLETE for
    // distance <= 3 and the verify is exact, so the gate pins the
    // strongest available fact: the scaled layout's pair set EQUALS
    // the 4x16 exact-chunk set (layouts_equal), on top of the same
    // recall floor vs the Jaccard>=0.95 oracle as dedup_simhash.
    "dedup_simhash_probed" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // both layouts band the SAME 64-bit fingerprint: the simhash
      // kernel (token hashing + 64-bit voting over every doc) computes
      // ONCE into a persisted narrow frame and each layout re-bands it
      // (BandedHamming.bandRows bit-slices the cached long) — the
      // before plan ran the full kernel once per layout. Pair sets are
      // unchanged: banding is deterministic bit-slicing of the same
      // hash, and both layouts are complete for maxDist ≤ 3.
      val hashed = graft.CacheScope.persist(Dedup.simHash64(docs))
      def run(bands: Int, bandBits: Int, probeRadius: Int) =
        graft.CacheScope.persist(graft.operators.BandedHamming.pairJoin(
          graft.operators.BandedHamming.bandRows(
            hashed, "simhash", bands, bandBits),
          maxHamming = 3, bands = bands, bandBits = bandBits,
          probeRadius = probeRadius, maxBucketSize = None,
          storage = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
          .withColumn("hamming", col("hamming").cast("int")))
      val exactChunks = run(4, 16, 0) // = the fixture's auto layout (<1M)
      val scaled = run(2, 32, 1)
      recallGate(
        exact = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.95),
        approx = scaled, keys = Seq("d1", "d2"), floor = 0.6)
        .crossJoin(broadcast(
          scaled.unionByName(exactChunks)
            .groupBy("d1", "d2", "hamming")
            .agg(count(lit(1)).as("n"))
            // every pair present in BOTH layouts (n=2); vacuous-empty
            // reads true
            .agg(coalesce(min(col("n") === 2), lit(true))
              .as("layouts_equal"))))
    }),

    // The full training-data prep pipeline in one query: quality gate →
    // near-dup removal (exact pairs + cluster resolution) → per-doc stats.
    "pipeline_prep" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // the quality-gate id frame persists (narrow: ids only): `kept`
      // is consumed TWICE downstream (keepRepresentatives' outer side +
      // clusterLabels' final join), and unpersisted each evaluation
      // re-ran the quality kernel over the full corpus
      val quality = graft.CacheScope.persist(
        TextOps.qualityScore(docs).filter(col("quality") >= 0.5)
          .select("doc_id"))
      val kept = docs.join(quality, "doc_id")
      val deduped = Dedup.keepRepresentatives(kept,
        Dedup.ngramJaccardPairs(kept, n = 3, minJaccard = 0.8,
          maxGramDf = Some(MaxGramDf)), maxIter = 5)
      TextOps.tokenStats(deduped)
    }),

    // COMPOSITE corpus-build ARTIFACT (VERDICT r10 #7) — the operators
    // exist individually; this runs the deployment story ONCE, end to
    // end: exact dedup (min-id winners) → benchmark decontamination
    // (mod-97 eval split, 3-grams) → quality gate ≥ 0.5 + language ID →
    // the training corpus, WRITTEN through idempotent build epochs
    // (IngestCompaction.writeEpoch, keyed by ingest_batch; epoch 0 is
    // deliberately REPLAYED after the build — the BlockSink crash story —
    // and must leave the artifact unchanged). The result is the
    // artifact's MANIFEST, computed from the WRITTEN parquet, not the
    // plan: per-language doc and token counts, plus the re-run-equals
    // verdict (written rows == one-shot recomputation, row for row).
    "pipeline_corpus_build" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // materialized once so the four epoch writes (and the replay)
      // never recompute the chain
      val selected = graft.CacheScope.persist(CorpusBuild.corpusBuildSelected(docs,
          Some(tableKey(s, s"$dir/documents.parquet") + ":cbsem")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val run = runDir("graft_cb")
      // the last epoch is a crash replay: it rewrites only its own partition
      Seq(0L, 1L, 2L, 3L, 0L).foreach(e => graft.streaming.IngestCompaction
        .writeEpoch(selected.filter(pmod(col("doc_id"), lit(4)) === e),
          s"$run/corpus", e))
      val written = s.read.parquet(s"$run/corpus")
      val eq = written.as("w")
        .join(selected.as("p"), Seq("doc_id"), "full")
        .agg((count(when(col("w.pred_lang").isNull || col("p.pred_lang").isNull
          || col("w.pred_lang") =!= col("p.pred_lang")
          || col("w.n_tokens") =!= col("p.n_tokens"), 1)) === 0)
          .as("equal_ok"))
      written.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(eq))
    }),

    // MULTIMODAL corpus build (round-15 capstone; round-16 wires the
    // normalize-once recipe end to end): the idempotent-epoch
    // composition extended to a mixed text+image+audio+video corpus.
    // Every 5th doc of EVERY kind is re-id'd as an arriving duplicate;
    // the corpus is DELIBERATELY mixed-container (PPM+PNG images,
    // WAV+AIFF audio, Y4M video) and normalizeImages/normalizeAudio
    // canonicalize it ONCE before any downstream decode. Then: exact
    // text dedup (min-id winners) ∩ media near-dup representatives —
    // REAL decoders throughout, the per-kind pair sets unioned into
    // ONE cluster resolution — ∩ the lang/quality gate, written as one
    // partitioned artifact with a DELIBERATE epoch replay (crash
    // recovery rewrites only its own partition), and the manifest read
    // back FROM THE WRITTEN parquet with a full-outer equality verdict
    // against the in-plan selection. The oracle replays the whole
    // composition relationally and is UNCHANGED from the canonical-
    // fixture round: normalization is bit-preserving (the round-15/16
    // normalize gates), so min-id per text, min-id per kind×text
    // cluster, and the lang/quality/token recompute all hold verbatim.
    "pipeline_corpus_build_mm" -> ((s, dir) => {
      val selected = graft.CacheScope.persist(
        CorpusBuild.corpusBuildMmSelected(table(s, dir, "documents"),
          Some(tableKey(s, s"$dir/documents.parquet") + ":cbmmsem"),
          maxIdHint =
            Some(footerMaxId(s, s"$dir/documents.parquet"))),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val run = runDir("graft_cbmm")
      // the last epoch is a crash replay: it rewrites only its own partition
      Seq(0L, 1L, 2L, 3L, 1L).foreach(e => graft.streaming.IngestCompaction
        .writeEpoch(selected.filter(pmod(col("doc_id"), lit(4)) === e),
          s"$run/corpus", e))
      val written = s.read.parquet(s"$run/corpus")
      val eq = written.as("w")
        .join(selected.as("p"), Seq("doc_id"), "full")
        .agg((count(when(col("w.kind").isNull || col("p.kind").isNull
          || col("w.pred_lang") =!= col("p.pred_lang")
          || col("w.n_tokens") =!= col("p.n_tokens"), 1)) === 0)
          .as("equal_ok"))
      written.groupBy(col("kind"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(eq))
    }),

    // Benchmark decontamination: docs sharing any 3-gram with the stand-in
    // eval set (every 97th doc) are dropped from the corpus (the rest).
    "decon_filter" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.decontaminate(
          docs.filter(col("doc_id") % 97 =!= 0),
          docs.filter(col("doc_id") % 97 === 0), n = 3)
        .select("doc_id")
    }),

    // Per-benchmark contamination audit: ONE corpus-gram pass against
    // the union of two tagged eval splits — the report a pipeline
    // publishes per eval suite before training (counts + fractions;
    // benches with zero hits still report).
    "decon_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 89 =!= 0),
        Seq(
          "eval97" -> docs.filter(col("doc_id") % 97 === 0),
          "eval89" -> docs.filter(col("doc_id") % 89 === 0)),
        n = 3)
    }),

    // Bloom-prefiltered decontamination: exact same semantics as
    // decon_filter (false positives removed by the verify join, no false
    // negatives possible) — the 100 TB shape where the corpus grams are
    // prefiltered map-side and only ~fpp of them reach a shuffle. A
    // different eval split (mod 89) than decon_filter so the two oracles
    // can't mask each other.
    "decon_bloom" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.decontaminateBloom(
          docs.filter(col("doc_id") % 89 =!= 0),
          docs.filter(col("doc_id") % 89 === 0), n = 3, fpp = 0.01)
        .select("doc_id")
    }),

    // Fraction-threshold decontamination: drop docs whose gram overlap
    // with the eval set exceeds 50% (the calibrated dial between the
    // any-gram rule and keeping everything). A third eval split
    // (mod 83) so the three decontamination oracles stay independent.
    "decon_fraction" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Dedup.decontaminateFraction(
          docs.filter(col("doc_id") % 83 =!= 0),
          docs.filter(col("doc_id") % 83 === 0), n = 3, maxOverlap = 0.5)
        .select("doc_id")
    }),

    // Fuzzy (MinHash) decontamination: near-dup screen against the eval
    // split — catches PARAPHRASED benchmark leakage the exact gram
    // rules above cannot (decon_filter/bloom/fraction all require
    // verbatim shared grams). Engine-internal hashes ⇒ registered as a
    // recall gate: approximate contaminated ids (est ≥ 0.5 vs any
    // bench doc) against the exact cross-split n-gram-Jaccard ≥ 0.8
    // contamination, same thresholds/floor as dedup_minhash_lsh.
    // Fourth independent eval split (mod 23 — chosen so the exact
    // cross-split contamination is non-vacuous at BOTH oracle scales).
    "decon_minhash" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val isBench = col("doc_id") % 23 === 0
      val exact = Dedup.ngramJaccardPairs(docs, n = 3, minJaccard = 0.8)
        .filter((col("d1") % 23 === 0) =!= (col("d2") % 23 === 0))
        .select(when(col("d1") % 23 === 0, col("d2")).otherwise(col("d1"))
          .as("doc_id"))
        .distinct()
      val approx = Dedup.contaminatedIdsFuzzy(
        docs.filter(!isBench), docs.filter(isBench),
        n = 3, numHashes = 64, bands = 16, minJaccard = 0.5)
      recallGate(exact, approx, Seq("doc_id"), floor = 0.9)
    }),

    // Deterministic training-order shuffle: pos = rank of
    // xxhash64(doc_id, seed) via the bucketed prefix sum (no global
    // single-task sort). The hash is engine-internal, so the gate
    // asserts the permutation INVARIANTS the trainer relies on — exact
    // 0..n-1 coverage — and the oracle states the count and verdicts;
    // determinism/partition-invariance are pinned in SamplingSpec.
    "pipeline_shuffle_gate" -> ((s, dir) => {
      val sh = Sampling.shufflePositions(table(s, dir, "documents"))
      sh.agg(count(lit(1)).as("n_docs"),
        coalesce(countDistinct(col("pos")) === count(lit(1)), lit(true))
          .as("perm_ok"),
        coalesce(min(col("pos")) === 0 &&
          max(col("pos")) === count(lit(1)) - 1, lit(true)).as("range_ok"))
    }),

    // Incremental index MAINTENANCE — the third leg of the incremental
    // dedup story: appending the new shard's band index to the
    // persisted old-corpus index must equal rebuilding the index from
    // scratch over (old ∪ new), row for row (band keys AND signatures).
    "dedup_index_update" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val half = footerMaxId(s, s"$dir/documents.parquet") / 2
      // the same fixture-keyed index dedup_incremental_neardup reads
      val scratch = mhIndexScratch(s, dir, half)
      val updated = s.read.parquet(s"$scratch/index")
        .unionByName(Dedup.minHashBandIndex(
          docs.filter(col("doc_id") > half), n = 3, numHashes = 64, bands = 16))
      val rebuilt = Dedup.minHashBandIndex(docs, n = 3, numHashes = 64,
        bands = 16)
      val eq = updated.as("u").join(rebuilt.as("r"),
          Seq("doc_id", "band_idx"), "full")
        .agg((count(when(col("u.band_key").isNull || col("r.band_key").isNull
          || col("u.band_key") =!= col("r.band_key")
          || !(col("u.sig") === col("r.sig")), 1)) === 0).as("equal_ok"))
      updated.agg(count(lit(1)).as("n_index_rows"))
        .crossJoin(broadcast(eq))
    }),

    // Gopher-style repetition scores (dup-word + top-bigram fractions).
    "text_repetition" -> ((s, dir) =>
      TextOps.repetitionScores(table(s, dir, "documents"))),

    // Training-sequence packing: 128-token packs over 16-doc shards.
    "text_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(table(s, dir, "documents"),
        budget = 128L, shardSize = 16L)),

    // Data-mixing selection: per predicted language, keep the 100
    // highest-quality docs (quality desc, id tiebreak) — the stratified
    // "mixing" step after cleaning. Salted two-phase top-k: a hot
    // stratum never serializes through one reducer the way a
    // row_number window partitioned by language would.
    "pipeline_mix" -> ((s, dir) =>
      graft.operators.TopK.topKPerGroup(
        TextOps.langQuality(table(s, dir, "documents")),
        "pred_lang", "quality", "doc_id", k = 100)),

    // Mixture weights over predicted language (α = 1/2 temperature
    // upsampling): counts, normalized weights, repeat factors — the
    // numbers a data-mixing scheduler feeds the trainer.
    "pipeline_mixture" -> ((s, dir) =>
      TextOps.mixtureWeights(
        TextOps.langId(table(s, dir, "documents"))
          .select(col("doc_id"), col("pred_lang")),
        "pred_lang", targetDocs = 10000L)),

    // Topic-balanced mixing over EMBEDDING-derived strata: the same
    // √n-temperature schedule the language path runs, driven by the
    // frozen-codebook cluster assignment instead of metadata — the
    // standard recipe for balancing a corpus by semantic topic. The
    // whole chain (compiled nearest-centroid kernel → √n weights →
    // per-cluster epoch counts) is restated relationally; the global
    // window runs over the nlist-row cluster table, never corpus rows.
    "pipeline_topic_mix" -> ((s, dir) =>
      TextOps.mixtureWeights(
        Similarity.assignClusters(table(s, dir, "embeddings"),
          ClusterCentroids),
        "cluster", targetDocs = 10000L)),

    // Deterministic held-out split: the assignment hash is
    // engine-internal (xxhash64), so the gate emits the oracle-able
    // total plus an eval-fraction tolerance verdict; determinism and
    // partition-invariance are pinned in ExtendedOpsSpec. 10% target;
    // binomial σ ≈ 1.3% at 500 docs — ±5pp bounds hold at every SF.
    "pipeline_split_gate" -> ((s, dir) => {
      val sp = TextOps.hashSplit(table(s, dir, "documents"), evalPerMille = 100)
      sp.agg(count(lit(1)).as("n_docs"),
          avg(when(col("split") === "eval", 1.0).otherwise(0.0)).as("frac"))
        .select(col("n_docs"),
          col("frac").between(0.05, 0.15).as("frac_ok"))
    }),

    // Web-corpus cleaning chain on a synthesized dirty twin of each doc
    // (markup wrapper + a decomposed combining accent on every 'e'):
    // strip tags → NFC → collapse whitespace. The CLEANED STRINGS
    // hash-match the oracle's replay (DuckDB nfc_normalize folds
    // e+U+0301 to é exactly like the kernel) — byte-exact cleaning,
    // not just counts.
    "text_clean" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val dirty = concat(lit("<p class=\"x\">"),
        regexp_replace(col("text"), "e", "e\u0301"),
        lit("</p>  <br/> "))
      docs.select(col("doc_id"), TextOps.cleanText(dirty).as("clean_text"))
        .withColumn("clean_len", length(col("clean_text")).cast("bigint"))
    }),

    // BPE train + encode: merges learned from the corpus's collapsed
    // word-frequency table (the standard trainer shape), applied by the
    // compiled kernel; the gate checks BPE's defining invariants per doc
    // (lossless word round trip, token-count bounds) plus the exact
    // word count — the token count itself is model-dependent and stays
    // engine-side, like the other spec-gated scores.
    "text_bpe_encode" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val merges = TextOps.bpeTrainMerges(docs, numMerges = 100)
      TextOps.bpeApplyStats(docs, merges)
        .select(col("doc_id"), col("n_words"), col("roundtrip_ok"),
          col("bounds_ok"))
    }),

    // Duplicated-substring spans (Lee et al. 2022 semantics at k-gram
    // granularity): merged per-doc token ranges covered by any word
    // 5-gram occurring ≥2× in the corpus. Gram counting runs on native
    // 64-bit gram hashes; the oracle replays it with gram STRINGS — the
    // same hashed↔string count equivalence the other gram queries rely
    // on — and the identical gap-and-islands merge.
    "text_substring_dedup" -> ((s, dir) =>
      Dedup.substringSpans(table(s, dir, "documents"), k = 5)
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("span_tokens"), col("n_dup_grams"))),

    // Incremental dedup: the second half of the doc table arrives as a
    // "new shard" and dedups against the first half (the existing
    // corpus' hash index) and within itself — no recompute over the old
    // side. Emits the surviving new ids; exact anti-join oracle.
    "dedup_incremental" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val half = footerMaxId(s, s"$dir/documents.parquet") / 2
      Dedup.incrementalExact(
          docs.filter(col("doc_id") > half),
          docs.filter(col("doc_id") <= half))
        .select(col("doc_id"), col("lang"))
    }),

    // Incremental NEAR-dup — the production companion of
    // dedup_incremental: the new shard's near-dup pairs are found
    // against a PERSISTED MinHash band index of the existing corpus
    // (fixture-keyed scratch: built once, read back off parquet — the
    // old side is never re-shingled). Gate: exact set+estimate EQUALITY
    // against the full recompute over (old ∪ new) restricted to pairs
    // touching the shard — the incremental path must be
    // indistinguishable from rerunning minHashLshPairs on everything.
    // (Recall of the banding itself vs exact Jaccard is already gated
    // by dedup_minhash_lsh; equality transfers it to this path.)
    "dedup_incremental_neardup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val half = footerMaxId(s, s"$dir/documents.parquet") / 2
      val scratch = mhIndexScratch(s, dir, half)
      val inc = Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") > half),
        s.read.parquet(s"$scratch/index"),
        n = 3, numHashes = 64, bands = 16, minJaccard = 0.5)
      // old ids ≤ half < new ids and d1 < d2 ⇒ "touches the new shard"
      // is exactly d2 > half
      val full = Dedup.minHashLshPairs(docs, n = 3, numHashes = 64,
        bands = 16, minJaccard = 0.5).filter(col("d2") > half)
      // set + estimate equality: full outer on (d1, d2) — no one-sided
      // rows, identical estimates (same sigs ⇒ same binary fractions);
      // n_new_docs anchors the oracle with an exact SQL-expressible count
      docs.filter(col("doc_id") > half)
        .agg(count(lit(1)).as("n_new_docs"))
        .crossJoin(broadcast(pairValuesEqual(full, inc, "est_jaccard", 1e-12)))
    }),

    // STREAMING near-dup ingest — the continuous twin of
    // dedup_incremental_neardup: the new half of the corpus arrives as a
    // 4-file parquet stream (one micro-batch each), deduped per epoch
    // against the SAME persisted band index plus the appends of earlier
    // epochs (StreamOps.nearDupIngestStream: epoch-partitioned
    // dynamic-overwrite writes, the BlockSink idempotence story applied
    // to the dedup index). Gate: the drained pair set EQUALS the full
    // minHashLshPairs recompute restricted to pairs touching the new
    // half — batch boundaries must leave no seam.
    "stream_neardup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val half = footerMaxId(s, s"$dir/documents.parquet") / 2
      // the SAME fixture-keyed base index dedup_incremental_neardup
      // reads — the old side is shingled once ever, for both queries
      val scratch = mhIndexScratch(s, dir, half)
      val run = runDir("graft_nds") // the returned frame scans $run/pairs lazily
      val stream = sliceStream(s,
        docs.filter(col("doc_id") > half), "doc_id", 4)(
        fixtureScratch(s, s"$dir/documents.parquet", "ndsin", "in"))
      // compactEvery=2: the 4-file stream folds its committed append +
      // pairs partitions mid-run (IngestCompaction), so THIS gate also
      // pins that the drained result is unchanged by the fold
      drain(s, stream)(graft.streaming.StreamOps.nearDupIngestStream(_,
        s"$scratch/index", s"$run/append", s"$run/pairs", s"$run/ckpt",
        n = 3, numHashes = 64, bands = 16, minJaccard = 0.5,
        compactEvery = Some(2)))
      val streamed = pairsOrEmpty(s, s"$run/pairs",
        "d1 BIGINT, d2 BIGINT, est_jaccard DOUBLE")
      val full = Dedup.minHashLshPairs(docs, n = 3, numHashes = 64,
        bands = 16, minJaccard = 0.5).filter(col("d2") > half)
      docs.filter(col("doc_id") > half)
        .agg(count(lit(1)).as("n_new_docs"))
        .crossJoin(broadcast(
          pairValuesEqual(full, streamed, "est_jaccard", 1e-12)))
    }),

    // STREAMING image near-dup ingest (round-13): dHashIngestStream
    // drains the new half of the corpus in 4 slices against the
    // persisted dHash band index of the old half — the multimodal twin
    // of stream_neardup through the SAME epoch/idempotence/compaction
    // skeleton (compactEvery=2 folds committed partitions mid-run, so
    // this gate also pins that the fold leaves the drained result
    // unchanged). Verdict: drained pairs EQUAL the one-shot full
    // recompute restricted to stream-touching pairs (d2 > half —
    // stream ids are the upper half), hamming exact.
    "stream_mm_ingest" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val half = footerMaxId(s, s"$dir/documents.parquet") / 2
      // fixture-keyed scratch for the old-half band index and the stream
      // input slices — the stream_neardup / stream_ann_ingest /
      // stream_text_embed_ingest convention (this was the only ingest
      // gate re-synthesizing and re-hashing its base index per
      // invocation; the index is the read-only deployment artifact the
      // query is DEFINED against, the drained pairs/checkpoint stay
      // per-run temp)
      val scratch = fixtureScratch(s, s"$dir/documents.parquet", "mmsidx",
        "index") { tmp =>
        Multimodal.dHashBandRows(Multimodal.attachMedia(
            docs.filter(col("doc_id") <= half)
              .select(col("doc_id"), col("text"))))
          .write.mode("overwrite").parquet(s"$tmp/index")
      }
      val run = runDir("graft_mms")
      val stream = sliceStream(s,
        docs.filter(col("doc_id") > half).select(col("doc_id"), col("text")),
        "doc_id", 4)(
        fixtureScratch(s, s"$dir/documents.parquet", "mmsin", "in"))
      drain(s, Multimodal.attachMedia(stream))(
        graft.streaming.StreamOps.dHashIngestStream(_, s"$scratch/index",
          s"$run/append", s"$run/pairs", s"$run/ckpt",
          maxHamming = 6, compactEvery = Some(2)))
      val streamed = pairsOrEmpty(s, s"$run/pairs",
        "d1 BIGINT, d2 BIGINT, hamming BIGINT")
      val full = Multimodal.dHashNearDupPairs(
          Multimodal.attachMedia(docs.select(col("doc_id"), col("text"))),
          maxHamming = 6)
        .filter(col("d2") > half)
      docs.filter(col("doc_id") > half)
        .agg(count(lit(1)).as("n_new_docs"))
        .crossJoin(broadcast(pairValuesEqual(full, streamed, "hamming", 0)))
    }),

    // Asymmetric containment near-dup (|A∩B|/|A| over gram sets): the
    // subset-inclusion screen Jaccard misses — a doc quoted wholesale
    // inside a longer one scores ~1 here. Ordered pairs, exact oracle.
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairs(table(s, dir, "documents"), n = 3,
        minContainment = 0.9)),

    // The APPLY half of substring dedup: documents rebuilt with every
    // duplicated-5-gram-covered token cut (canonical single-space
    // rebuild; fully-duplicated docs come back empty, never dropped).
    "text_substring_dedup_apply" -> ((s, dir) =>
      Dedup.applySubstringDedup(table(s, dir, "documents"), k = 5)),

    // Systematic PPS sampling (sample docs proportional to their size —
    // the "token-weighted subset" selection a mixture schedule executes):
    // exact integer arithmetic end to end, so the oracle replays the
    // selection bit-for-bit. The running total comes from the bucketed
    // distributed prefix sum, never a global single-partition window.
    "pipeline_pps_sample" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      Sampling.ppsSample(docs, col("w"), k = 50)
        .select(col("doc_id"), col("w"), col("cum"), col("pick"))
    }),

    // Token-budget corpus cut ("the first N training tokens"): docs in
    // deterministic md5 order until the running whitespace-token total
    // crosses the budget; rides the bucketed prefix sum (md5's first
    // byte = the monotone bucket), so no global single-task sort. The
    // md5 order, the compiled token count, and the crossing-doc
    // semantics all hash-match the oracle's window restatement.
    "sample_token_budget" -> ((s, dir) =>
      Sampling.tokenBudgetSelect(table(s, dir, "documents"),
        budget = 10000L)),

    // Per-LANGUAGE curriculum bins: the grouped twin of
    // text_quality_bins — quartile assignment within each language via
    // the grouped prefix sum (multilingual pipelines schedule curricula
    // per language, not globally); per-doc hash-match.
    "text_quality_bins_lang" -> ((s, dir) => {
      val q = TextOps.langQuality(table(s, dir, "documents"))
        .select(col("doc_id"), col("pred_lang"), col("quality"))
      Sampling.quantileBins(q, col("quality"), nbins = 4,
          partCols = Seq("pred_lang"))
        .select(col("doc_id"), col("pred_lang"), col("quality"),
          col("rank"), col("bin"))
    }),

    // Equal-frequency quality binning (curriculum buckets): global rank
    // via the same bucketed prefix sum, NTILE-equivalent bin in integer
    // math; per-doc assignments hash-match the oracle's window rank.
    "text_quality_bins" -> ((s, dir) => {
      val q = TextOps.qualityScore(table(s, dir, "documents"))
        .select(col("doc_id"), col("quality"))
      Sampling.quantileBins(q, col("quality"), nbins = 10)
        .select(col("doc_id"), col("quality"), col("rank"), col("bin"))
    }),

    "text_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(table(s, dir, "documents"))),

    // Char-trigram LM cross-entropy (self-trained quality filter): the
    // double score stays engine-side (float rounding differs), the
    // exact per-doc count sums hash-match the string-gram oracle — the
    // hashed-gram ↔ string-gram count equivalence the other gram
    // queries rely on.
    "text_char_lm" -> ((s, dir) =>
      TextOps.charLmScore(table(s, dir, "documents"))
        .select(col("doc_id"), col("n_grams"), col("sum_tri"),
          col("sum_ctx"))),

    "text_langid" -> ((s, dir) => TextOps.langId(table(s, dir, "documents"))),

    "text_quality" -> ((s, dir) =>
      TextOps.qualityScore(table(s, dir, "documents"))),

    "text_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(table(s, dir, "documents"))),

    // Semantic decontamination over the hashed embeddings: corpus docs
    // whose gram-profile cosine against any benchmark doc reaches 4/5 —
    // the paraphrase-leakage complement of the n-gram decon_* family.
    // Integer-exact: the cosine threshold is evaluated as
    // dot²·25 ≥ 16·n1·n2 on signed gram counts, so the oracle replays
    // the flagged PAIR SET itself in BIGINT SQL (not a verdict column).
    // Deterministic subsamples (corpus 1-in-7, benchmark 1-in-491)
    // bound the oracle's per-gram replay, not the operator.
    "decon_semantic" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.semanticDecontaminate(
        corpus = docs.filter(col("doc_id") % 7 === 0),
        benchmark = docs.filter(col("doc_id") % 491 === 0))
    }),

    // The IVF-prescreened tier over the SAME subsamples: corpus docs
    // assign row-locally to a seeded coarse quantizer, benchmark docs
    // replicate into every list whose angular ball (θ_τ + list radius,
    // triangle inequality) could hold a match, and the exact
    // integer-cosine predicate verifies the candidates — recall is a
    // THEOREM (no true pair can escape the ball cover) and precision
    // is 1 (same predicate as the exact tier), so the oracle is the
    // SAME exact replay as decon_semantic and flagged-set equality is
    // hash-checked. This is the 100 TB shape when the benchmark side
    // outgrows broadcast-NL dots: candidate generation is one
    // assignment + one hash probe per corpus row, and the verified
    // pair stream is output-sensitive (ball occupancy, not
    // corpus × benchmark).
    "decon_semantic_ivf" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.semanticDecontaminateIvf(
        corpus = docs.filter(col("doc_id") % 7 === 0),
        benchmark = docs.filter(col("doc_id") % 491 === 0),
        corpusKey = Some(tableKey(s, s"$dir/documents.parquet") + ":semivf"))
    }),

    // The FLAG tier over the same subsamples: the binary drop/keep
    // decision a corpus build actually needs, served by a broadcast
    // LEFT-SEMI join whose condition is the fused exact predicate —
    // Spark short-circuits at the first matching benchmark doc, so a
    // saturated corpus pays ~1/P(match) dots per doc instead of
    // |benchmark| (measured ~100× at the 100× tier), and the flagged
    // id set still replays EXACTLY as the exact tier's distinct ids.
    // Zero shuffles: a semi join emits each corpus row at most once.
    "decon_semantic_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.semanticDecontaminateFlag(
        corpus = docs.filter(col("doc_id") % 7 === 0),
        benchmark = docs.filter(col("doc_id") % 491 === 0))
    }),

    // Prescreen × early exit — the clustered-corpus binary tier: the
    // ball-cover candidate join consumed as a broadcast hash LEFT-SEMI
    // with the fused cos_ge kernel as its extra condition, so clean
    // docs pay one hash probe (their topic generates no candidates)
    // and contaminated docs stop at the first verified match. Flagged
    // set = the flag tier's (recall-1 prescreen + shared exact
    // predicate), so the oracle is the same exact-tier replay.
    "decon_semantic_ivf_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.semanticDecontaminateIvfFlag(
        corpus = docs.filter(col("doc_id") % 7 === 0),
        benchmark = docs.filter(col("doc_id") % 491 === 0),
        corpusKey = Some(tableKey(s, s"$dir/documents.parquet") + ":semivf"))
    }),

    // Per-BENCHMARK semantic attribution report (round-19): which eval
    // docs leak semantically and how often — the text member of the
    // decon report family (decon_report is the gram-based sibling).
    // Ball-cover prescreen (recall 1) + exact verify counted per eval
    // doc, zero-match evals included; the counts are EXACT, so the
    // oracle is the exact tier's pair replay grouped by eval_id. Same
    // corpus/benchmark fixture and centroid-cache key as the other
    // semantic tiers.
    "decon_semantic_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      TextOps.semanticDecontaminateReport(
        corpus = docs.filter(col("doc_id") % 7 === 0),
        benchmark = docs.filter(col("doc_id") % 491 === 0),
        corpusKey = Some(tableKey(s, s"$dir/documents.parquet") + ":semivf"))
    }),

    // INCREMENTAL decon under BENCHMARK APPEND: flags are monotone
    // when the eval suite grows (the verdict is existential over the
    // benchmark side), so the update job is the flag tier over ONLY
    // the previously-unflagged remainder × the NEW benchmark docs
    // (here mod-97≡11), unioned with the carried-forward flag set —
    // the corpus is never re-compared against the old suite. The
    // result equals a full re-run against the unioned benchmark by
    // monotonicity, and the oracle replays exactly that: the exact
    // tier's distinct flagged ids over (mod-491 ∪ mod-97≡11).
    "decon_semantic_incr" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 7 === 0)
      val benchOld = docs.filter(col("doc_id") % 491 === 0)
      val benchNew = docs.filter(col("doc_id") % 97 === 11)
      val prev = TextOps.semanticDecontaminateFlag(corpus, benchOld)
      TextOps.semanticDecontaminateIncr(corpus, prev, benchNew)
    }),

    // The flag tier as a LIVE INGEST GATE: corpus docs arrive as a
    // file stream (4 micro-batches) and the SAME stream-static
    // broadcast left-semi join — row-local embed + the fused cos_ge
    // condition, Spark's early exit intact per micro-batch — drops
    // contaminated docs in flight; no state store, no watermark, no
    // aggregation (the decision is per-row). The drained flagged set
    // must EQUAL the batch flag tier's (in-plan full-outer verdict);
    // the oracle anchors the exact tier's distinct flagged count.
    "stream_decon_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 491 === 0)
      val run = runDir("graft_sdf")
      val textStream = sliceStream(s,
        docs.filter(col("doc_id") % 7 === 0).select("doc_id", "text"),
        "doc_id", 4)(
        fixtureScratch(s, s"$dir/documents.parquet", "sdf", "in"))
      drainToParquet(s, TextOps.semanticDecontaminateFlag(textStream, bench),
        run)
      val streamed = s.read.parquet(s"$run/out")
      val batch = TextOps.semanticDecontaminateFlag(
        docs.filter(col("doc_id") % 7 === 0), bench)
      val eq = idSetsEqual(streamed, batch)
      streamed.agg(count(lit(1)).as("n_flagged"))
        .crossJoin(broadcast(eq))
    }),

    // Streaming image decontamination (round-18): stream_decon_flag's
    // twin for the multimodal member — contaminated images drop in
    // flight through the SAME stream-static broadcast semi join +
    // full-hash verify; the only state is the flagged-id dedup
    // (bounded by the contamination count, a doc's band rows land in
    // one micro-batch). Drained set == batch set gated in-plan.
    "stream_mm_decon_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val bench = Multimodal.attachMedia(docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text")))
      val run = runDir("graft_smdf")
      val textStream = sliceStream(s,
        docs.select("doc_id", "text"), "doc_id", 4)(
        fixtureScratch(s, s"$dir/documents.parquet", "smdf", "in"))
      drainToParquet(s, Multimodal.dHashDecontaminateFlag(
          Multimodal.attachMedia(textStream), bench,
          maxHamming = 6, bands = 4, bandBits = 16), run)
      val streamed = s.read.parquet(s"$run/out")
      val batch = Multimodal.dHashDecontaminateFlag(
        Multimodal.attachMedia(docs.select(col("doc_id"), col("text"))),
        bench, maxHamming = 6, bands = 4, bandBits = 16)
      val eq = idSetsEqual(streamed, batch)
      streamed.agg(count(lit(1)).as("n_flagged"))
        .crossJoin(broadcast(eq))
    }),

    // In-engine hashed text embedding (feature-hashing trick over char
    // 3-grams, signed 64-slot vectors): the exploded nonzero slots of a
    // deterministic doc subsample, every value a BIGINT the oracle
    // recomputes from scratch — injective gram code, mix, slot and sign
    // are all plain int64 arithmetic on both engines. The subsample
    // (1-in-50 docs) bounds the DUMP, not the operator: the kernel is a
    // row-local projection either way.
    "text_hash_embed" -> ((s, dir) =>
      TextOps.hashEmbed(
        table(s, dir, "documents").filter(col("doc_id") % 50 === 0))
        .select(col("doc_id"),
          posexplode(col("embedding")).as(Seq("dim", "wt")))
        .filter(col("wt") =!= 0)
        .select(col("doc_id"), col("dim").cast("int").as("dim"), col("wt"))),

    // Text-to-text retrieval over the hashed embeddings, EXACT integer
    // comparator: top-10 neighbors of doc 0 by raw signed-count dot
    // product (documented semantics — unnormalized dot, the gram-overlap
    // score; the cosine form is sim_ann_text_embed's job). The dense
    // kernel output makes the scoring pass one broadcast + one
    // codegen'd dot per doc — no per-gram explode, no shuffle until the
    // top-10 sort. Deterministic doc subsample (1-in-5) bounds the
    // oracle's per-gram SQL replay, not the operator.
    "sim_topk_text_embed" -> ((s, dir) => {
      val emb = CacheScope.persist(
        TextOps.hashEmbed(
          table(s, dir, "documents").filter(col("doc_id") % 5 === 0))
          .select(col("doc_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding")))
      val q = emb.filter(col("doc_id") === 0).select(col("embedding").as("qvec"))
      val top = emb.filter(col("doc_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("doc_id"),
          graft.functions.vec.dot(col("embedding"), col("qvec"))
            .cast("long").as("dot"))
        .orderBy(col("dot").desc, col("doc_id")).limit(10)
      top.select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("dot").desc, col("doc_id"))).cast("long").as("rank"),
        col("doc_id"), col("dot"))
    }),

    // The full text → vector → ANN loop with no external model: unit
    // float form of the hashed embeddings through the SAME IVF path the
    // pretrained-embedding queries use, recall-gated against the brute
    // baseline. This is the 100 TB retrieval story for corpora that
    // arrive as raw text.
    "sim_ann_text_embed" -> ((s, dir) => {
      val emb = CacheScope.persist(
        TextOps.hashEmbedUnit(table(s, dir, "documents"))
          .withColumnRenamed("doc_id", "vec_id"))
      val q = emb.filter(col("vec_id") < 5)
      recallGate(
        exact = Similarity.bruteForceTopK(emb, q, k = 10),
        approx = Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 6),
        keys = Seq("query_id", "vec_id"), floor = 0.6)
    }),

    // PII scrub: deterministic synthesis (every 3rd doc gets an email, a
    // phone and an IPv4 — the raw corpus has none, so detection would be
    // vacuous), then per-class match counts + the redacted text. The
    // patterns live in the Java-regex/RE2 common subset so the oracle's
    // regexp_* calls see byte-identical semantics.
    "text_pii_redact" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val id = col("doc_id")
      val withPii = docs.withColumn("text",
        when(id % 3 === 0,
          concat(col("text"), lit(" Contact u"), id.cast("string"),
            lit("@example.com or 555-"),
            lpad((id % 10000).cast("string"), 4, "0"),
            lit(" from 10.0."), (id % 256).cast("string"), lit("."),
            ((id * 7) % 256).cast("string")))
          .otherwise(col("text")))
      TextOps.piiRedact(withPii)
    }),

    // Corpus vocabulary heavy-hitters: exact global top-500 tokens.
    "text_vocab_topk" -> ((s, dir) =>
      TextOps.vocabTopK(table(s, dir, "documents"), k = 500)),

    // Blocklist screen (C4-style badword gate): distinct-hit count per
    // doc against a plan-literal wordlist, keep ⟺ ≤1 hit — row-local,
    // zero shuffle. Stand-in list = common fixture stopwords so both
    // branches of the verdict are exercised.
    "text_blocklist" -> ((s, dir) =>
      TextOps.blocklistScreen(table(s, dir, "documents"),
        blocklist = Seq("the", "and", "of"), maxDistinctHits = 1)),

    // Characteristic terms (exact integer tf-idf): per-doc top-3 tokens
    // by (tf desc, df asc, token asc) after the df ≤ N/2 stopword
    // screen — keyword extraction with a total order, no float scores.
    "text_characteristic_terms" -> ((s, dir) =>
      TextOps.characteristicTerms(table(s, dir, "documents"), k = 3)),

    // Hybrid retrieval: BM25 top-20 ⊕ longest-doc top-20 fused by
    // reciprocal rank (1/(60+rank)), top-10 out. Rank-only fusion makes
    // the two scorers commensurable; every fused-score op is an
    // exactly-rounded IEEE division/sum in deterministic order, so THE
    // FLOAT SCORE ITSELF hash-matches the DuckDB replay (unlike the
    // underlying BM25 score, whose ln is libm-specific).
    // Hybrid retrieval in its REAL shape (VERDICT r9 #4): BM25 top-20 ⊕
    // IVF ANN top-20 over the doc embeddings (vec_id ≡ doc_id in the
    // fixtures), fused rank-only by RRF. The ANN leg is approximate, so
    // the gate compares the fused-with-IVF top-10 against the
    // fused-with-brute top-10 (the bm25 leg is shared — any miss comes
    // from the recall-gated ANN leg alone); the oracle anchors the
    // exact-side row count from data, ulp-robust under least(10, ·).
    "hybrid_bm25_ann_topk" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val emb = table(s, dir, "embeddings")
      val bm25 = TextOps.bm25TopK(docs,
          queryTerms = Seq("spark", "vector", "hash"), k = 20)
        .select(col("doc_id"), col("rank"))
      val q0 = emb.filter(col("vec_id") === 0)
      val ann = Similarity.ivfTopK(emb, q0, k = 20, nlist = 16, nprobe = 6,
          corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet")))
        .select(col("vec_id").as("doc_id"), col("rank"))
      val brute = Similarity.bruteForceTopK(emb, q0, k = 20)
        .select(col("vec_id").as("doc_id"), col("rank"))
      recallGate(
        exact = Similarity.reciprocalRankFusion(Seq(bm25, brute), k = 10),
        approx = Similarity.reciprocalRankFusion(Seq(bm25, ann), k = 10),
        keys = Seq("doc_id"), floor = 0.6)
    }),

    "hybrid_rrf_topk" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val bm25 = TextOps.bm25TopK(docs,
          queryTerms = Seq("spark", "vector", "hash"), k = 20)
        .select(col("doc_id"), col("rank"))
      val longest = docs.select(col("doc_id"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(20)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("n_chars").desc, col("doc_id"))).cast("bigint"))
        .select(col("doc_id"), col("rank"))
      Similarity.reciprocalRankFusion(Seq(bm25, longest), k = 10)
    }),

    // Overlapping char-window chunking: size 64, stride 48 (25% overlap),
    // deterministic (doc_id, chunk_idx) identity — pure string ops, the
    // oracle replays every chunk byte-for-byte.
    "text_chunk" -> ((s, dir) =>
      TextOps.chunkDocuments(table(s, dir, "documents"), size = 64,
        stride = 48)),

    // Corpus-level LINE dedup (RefinedWeb/CCNet boilerplate removal):
    // the fixture is single-line, so the query derives a multi-line
    // corpus deterministically (line break after every 6th word) and
    // injects two shared banner/footer lines every pipeline actually
    // fights; lines in ≥2 distinct docs vanish from every doc, order
    // and blanks preserved, rebuilt text byte-exact vs the oracle.
    "text_line_dedup" -> ((s, dir) => {
      val lined = table(s, dir, "documents").select(col("doc_id"),
        concat(lit("shared cookie banner line\n"),
          regexp_replace(col("text"), "((\\S+\\s+){5}\\S+)\\s+", "$1\n"),
          lit("\nshared footer line")).as("text"))
      TextOps.lineDedup(lined, minDocs = 2)
    }),

    // Per-source frequency cap: ≤15 docs per source, bottom-15 by a
    // cross-engine-identical md5 digest — the oracle checks the exact
    // KEPT SET, not just its size.
    "text_source_cap" -> ((s, dir) =>
      TextOps.sourceCap(table(s, dir, "documents"), cap = 15)
        .select(col("source"), col("doc_id"), col("keep_rank"))),

    // BM25 keyword search: top-10 docs for a 3-term query. The oracle
    // replays the identical formula in DuckDB and compares the RANKING +
    // integer evidence; the raw score stays engine-side (ln differs in
    // the last ulp between libm implementations — measured 1/4500 args).
    "text_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(table(s, dir, "documents"),
          queryTerms = Seq("spark", "vector", "hash"), k = 10)
        .drop("score")),

    // Stratified-sampling gate: seeded hash sampling at per-language
    // rates; the oracle states each stratum's total and the expected
    // rate-adherence verdict (hash-uniformity puts the kept fraction
    // within a wide tolerance of the rate; the decision itself is
    // deterministic and growth-stable — see TextOps.stratifiedHashSample).
    "pipeline_stratified_gate" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val rates = Map("en" -> 0.5, "de" -> 0.25)
      val kept = TextOps.stratifiedHashSample(docs, rates)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      // expected rate derived from the SAME map the sampler uses — a
      // tuned rate can't drift out of sync with the verdict
      val expectedRate = rates.foldLeft(lit(Double.NaN)) {
        case (acc, (k, r)) => when(col("lang") === k, lit(r)).otherwise(acc)
      }
      docs.filter(col("lang").isin(rates.keys.toSeq: _*))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"),
          (abs(coalesce(col("n_kept"), lit(0L)).cast("double") / col("n_docs")
            - expectedRate) <= 0.15)
            .as("frac_ok"))
    }),

    // BPE merge-pair counts: tokenizer-training prep (first merge round).
    "text_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairCounts(table(s, dir, "documents"), k = 200)),

    // DSIR-style importance weights: target = English docs; the count-
    // ratio formulation keeps every intermediate an exact integer sum so
    // the oracle hash-matches bit-for-bit (see TextOps.importanceWeights).
    "text_importance_weights" -> ((s, dir) =>
      TextOps.importanceWeights(table(s, dir, "documents"),
        isTarget = col("lang") === "en")),

    // Importance RESAMPLING selection: global top-100 docs by DSIR
    // weight, doc_id tie-break so boundary ties are deterministic. Plans
    // as TakeOrderedAndProject — per-partition partial top-k, no global
    // sort shuffle, no single-partition window.
    "pipeline_dsir_select" -> ((s, dir) =>
      TextOps.importanceWeights(table(s, dir, "documents"),
          isTarget = col("lang") === "en")
        .select(col("doc_id"), col("weight"))
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(100)),

    // Multimodal plumbing: opaque binary payload + typed metadata; decode
    // is a deterministic stub (no codecs in-container), the Spark-side
    // schema/encoder/mapPartitions path is real (see operators.Multimodal).
    "mm_attach" -> ((s, dir) =>
      Multimodal.attachMedia(table(s, dir, "documents"))
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("sample_rate"), col("duration_ms"),
          length(col("payload")).cast("bigint").as("byte_len"))),

    // Resize through the metadata contract (payload transcode is the
    // stubbed codec step; the dimension math is the real surface)
    "mm_resize" -> ((s, dir) =>
      Multimodal.resize(Multimodal.attachMedia(table(s, dir, "documents")))
        .select(col("doc_id"), col("kind"), col("width"), col("height"))),

    "mm_features" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.attachMedia(table(s, dir, "documents")))
        .select("doc_id", "kind", "byte_len", "sig8")),

    // DECODED feature stats (round-15, the extractFeatures seam
    // closure): width/height/mean-luma from the REAL pixel parse, and
    // the oracle replays the milli-luma mean BYTE FOR BYTE from the
    // sha pixel recipe (the mm_resize_transcode oracle class — the
    // strongest in the engine)
    "mm_features_decoded" -> ((s, dir) =>
      Multimodal.extractFeatures(
          Multimodal.attachPpmImages(table(s, dir, "documents")))
        .select(col("doc_id"), col("width"), col("height"),
          col("luma_milli_mean"))),

    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.attachMedia(table(s, dir, "documents")))),

    // Perceptual-hash (dHash) image near-dup: the multimodal member of
    // the dedup family — banded gradient hash → bucket join (the
    // occupancy cap riding the join's own shuffle, shared with MinHash)
    // → exact Hamming verify. The fixture's sha-derived payloads make
    // only byte-identical images near, so the input deterministically
    // re-ids every 5th image as a duplicate (the doubled-input pattern
    // stream_dedup uses) — the oracle replays the same union; the
    // hamming>0 verify branch is pinned byte-level in MultimodalSpec.
    "mm_dhash_neardup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      Multimodal.dHashNearDupPairs(
        Multimodal.attachMedia(
          docs.select(col("doc_id"), col("text")).unionByName(dups)),
        maxHamming = 6, maxBucketSize = Some(256))
    }),

    // Image decontamination (round-18): the multimodal member of the
    // decon family — flag corpus images within Hamming 6 of ANY
    // benchmark image (the re-id'd every-15th docs standing in for an
    // eval suite). Broadcast LEFT-SEMI with the full-hash verify in
    // the condition, distinct flagged ids, NO occupancy cap (a drop
    // decision must not trade recall for bounded work). The oracle
    // replays hash, band join, and verify relationally.
    "mm_decon_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val bench = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      Multimodal.dHashDecontaminateFlag(
        Multimodal.attachMedia(docs.select(col("doc_id"), col("text"))),
        Multimodal.attachMedia(bench),
        maxHamming = 6, bands = 4, bandBits = 16)
    }),

    // Multimodal decon ATTRIBUTION report (round-19, VERDICT r18 #3):
    // per benchmark image, how many corpus images it flags and at
    // what minimum Hamming — decon_report's contract on the bipartite
    // INNER join (benchmark still broadcasts; one eval-keyed agg over
    // the matching pairs only). The corpus is the EVEN (doc_id DIV 3)
    // half so some benchmark items have no corpus source and the
    // zero-hit reporting path (n_flagged = 0) is exercised end to
    // end; min_hamming coalesces to -1 on zero-hit rows in BOTH
    // engines (a null would ride the driver's value hash
    // representation-dependently). Oracle replays hash/band/verify/
    // attribution relationally.
    "mm_decon_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val corpus = Multimodal.attachMedia(docs
        .filter(expr("(doc_id DIV 3) % 2 = 0"))
        .select(col("doc_id"), col("text")))
      val bench = Multimodal.attachMedia(docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text")))
      Multimodal.dHashDecontaminateReport(corpus, bench,
          maxHamming = 6, bands = 4, bandBits = 16)
        .select(col("eval_id"), col("n_flagged"),
          coalesce(col("min_hamming"), lit(-1L)).as("min_hamming"))
    }),

    // Incremental image decon (round-18, benchmark append): flags are
    // monotone under append, so the update job is the flag tier over
    // the previously-unflagged remainder x the NEW eval images only,
    // unioned with the carried set. Oracle = the full flag replay over
    // the UNIONED benchmark (the decon_semantic_incr convention) —
    // hash-checked equality to a from-scratch re-run.
    "mm_decon_incremental" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      def bench(sel: org.apache.spark.sql.Column, off: Long) =
        Multimodal.attachMedia(docs
          .filter(col("doc_id") % 3 === 0 && sel)
          .select((col("doc_id") + off).as("doc_id"), col("text")))
      val corpus = Multimodal.attachMedia(
        docs.select(col("doc_id"), col("text")))
      val prev = graft.CacheScope.persist(
        Multimodal.dHashDecontaminateFlag(corpus,
          bench(expr("(doc_id DIV 3) % 5 = 0"), m),
          maxHamming = 6, bands = 4, bandBits = 16))
      Multimodal.dHashDecontaminateIncr(corpus, prev,
        bench(expr("(doc_id DIV 3) % 7 = 3"), 2 * m),
        maxHamming = 6, bands = 4, bandBits = 16)
    }),

    // Incremental image near-dup (round-13): the arriving shard (the
    // re-id'd every-5th-image dups) is joined against the PERSISTED
    // dHash band index of the existing corpus — old payloads never
    // re-hashed; one bounded join covers new-old and new-new with the
    // occupancy cap counted over the union. The oracle replays index,
    // shard, cap, join, and verify relationally.
    "mm_dhash_incremental" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val index = Multimodal.dHashBandRows(
        Multimodal.attachMedia(docs.select(col("doc_id"), col("text"))))
      Multimodal.dHashIncrementalPairs(
        Multimodal.attachMedia(dups), index,
        maxHamming = 6, maxBucketSize = Some(256))
    }),

    // The SCALED band layout (round-13): 2 bands x 32 bits with
    // radius-1 multi-index probing — same <=3-Hamming recall guarantee
    // as the (4,16) pigeonhole layout, but the band-key space grows to
    // 2^32 so coincidental candidates stay ~linear where the fixed
    // 16-bit layout went quadratic (measured at the 1000x tier). The
    // oracle replays hash, cap, probe ball, join, and verify exactly.
    "mm_dhash_probed" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      Multimodal.dHashNearDupPairs(
        Multimodal.attachMedia(
          docs.select(col("doc_id"), col("text")).unionByName(dups)),
        maxHamming = 6, bands = 2, bandBits = 32, probeRadius = 1,
        maxBucketSize = Some(256))
    }),

    // SELF-SIZING layout gate (round-14): `bands = 0` — now the
    // operator DEFAULT — resolves the band layout from the corpus size
    // (autoNlist's `nlist = 0` convention), so a caller pointing the
    // defaults at 5M images takes the scaled 2×32+probe key space
    // instead of silently re-entering the measured fixed-2^16
    // quadratic. Pinned on BOTH sides of the 1M crossover: below it
    // auto must equal the explicit (4,16,0) pair set (resolved from
    // the actual fixture count); above it (forced via nHint, the
    // skip-the-count path) auto must equal explicit (2,32,1). The
    // pair rows themselves replay relationally as the 4×16 set.
    "mm_dhash_auto" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val media = Multimodal.attachMedia(
        docs.select(col("doc_id"), col("text")).unionByName(dups))
      // four layout runs over the SAME media: the 64-bit dHash (payload
      // synthesis + hex + gradient kernel — the expensive row-local
      // part) is layout-independent, so it computes ONCE into a
      // persisted narrow frame and each run re-bands it with
      // BandedHamming.bandRows (pure bit-slicing — the before plan
      // evaluated the full kernel once PER LAYOUT, 4 passes)
      val hashed = graft.CacheScope.persist(Multimodal.dHash64(media))
      val nImages = hashed.count() // = the auto run's image count job
      def run(bands: Int, bandBits: Int, probeRadius: Int, nHint: Long) = {
        val (b, bb, pr) = graft.operators.BandedHamming.resolveLayout(
          bands, bandBits, probeRadius, if (nHint >= 0) nHint else nImages)
        graft.CacheScope.persist(graft.operators.BandedHamming.pairJoin(
          graft.operators.BandedHamming.bandRows(hashed, "dhash", b, bb),
          maxHamming = 6, bands = b, bandBits = bb, probeRadius = pr,
          maxBucketSize = Some(256),
          storage = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
      }
      val auto = run(0, 16, 0, -1L)          // fixture count < 1M → (4,16,0)
      val expl = run(4, 16, 0, -1L)
      val autoScaled = run(0, 16, 0, 2000000L) // hinted past 1M → (2,32,1)
      val explScaled = run(2, 32, 1, -1L)
      def setsEqual(a: DataFrame, b: DataFrame) =
        a.unionByName(b).groupBy("d1", "d2", "hamming")
          .agg(count(lit(1)).as("n"))
          .agg(coalesce(min(col("n") === 2), lit(true)))
      auto.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(setsEqual(auto, expl)
          .toDF("small_auto_equals_explicit")))
        .crossJoin(broadcast(setsEqual(autoScaled, explScaled)
          .toDF("scaled_auto_equals_explicit")))
    }),

    // The REAL-decoder member of the multimodal dedup family (round-13
    // seam closure): fixture payloads are ACTUAL binary PPM images
    // (attachPpmImages — header + sha-derived pixels, so payload
    // equality ⇔ text equality), the hash is decoded pixel luma through
    // the compiled dhash_image_bands kernel (PPM parse → 9×8 box resize
    // → 64 gradient bits), and the join/cap/verify machinery is shared
    // with mm_dhash_neardup verbatim. The decoder isn't replayable in
    // SQL, so the gate is the ANN-family recall shape: the oracle pins
    // the relationally-computable half (image count, identity-pair
    // count from text equality) and the in-plan verdicts — every image
    // decodes, and EVERY byte-identical pair is recovered at hamming 0
    // (identical payload ⇒ identical hash ⇒ collides on all bands).
    "mm_dhash_decoded" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val base = docs.select(col("doc_id"), col("text")).unionByName(dups)
      val media = graft.CacheScope.persist(Multimodal.attachPpmImages(base))
      val pairs = Multimodal.dHashImageNearDupPairs(media,
        maxHamming = 6, maxBucketSize = Some(1024))
      val imgs = graft.CacheScope.persist(
        base.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), sha2(col("text"), 256).as("tkey")))
      val ident = imgs.as("a")
        .join(imgs.as("b"), col("a.tkey") === col("b.tkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      ident.join(pairs, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_identity_pairs"),
          // a missed pair (null hamming) or a non-zero hamming on an
          // identical payload both read false; no identity pairs at all
          // reads vacuously true
          coalesce(min(when(col("hamming") === 0, lit(1)).otherwise(lit(0)))
            === 1, lit(true)).as("all_identity_found"))
        .crossJoin(broadcast(imgs.agg(count(lit(1)).as("n_images"))))
        .crossJoin(broadcast(media.select(
          count(when(graft.functions.vec
            .dHashImageBands(col("payload"), 4, 16).isNull, lit(1)))
            .as("n_undecoded"))))
        .select(col("n_images"), col("n_identity_pairs"),
          col("n_undecoded"), col("all_identity_found"))
    }),

    // REAL-FORMAT image decode gate (round-15): the corpus leg is
    // ACTUAL PNG payloads (attachPngImages — the fixture pixels
    // transcoded through the JDK encoder in-plan), decoded back
    // through the magic-byte sniff → headless ImageIO → the SAME
    // luma/9×8/dHash arithmetic as the PPM path. PNG is lossless, so
    // the PNG leg's pair set must EQUAL the PPM leg's exactly (the
    // strongest in-plan verdict this gate carries), every payload
    // must decode (n_undecoded = 0), and every byte-identical pair is
    // recovered at hamming 0. The oracle pins the relational half
    // (image count, identity pairs from text equality) — codec bytes
    // are not SQL-replayable, the established mm_dhash_decoded shape.
    // Float-PCM WAV gate (round-15): every fixture WAV is transcoded
    // in-plan to IEEE-float32 (wav_to_float32 — exact sample mapping,
    // channels preserved) and BOTH encodings fingerprint through the
    // same kernel. Verdicts: the float leg fully decodes (format 3 no
    // longer nulls out), and the float fingerprint sits within a small
    // Hamming of the integer one for EVERY payload (gradient order is
    // scale-invariant; only integer-rounding ties flip — the bound is
    // measured over the fixtures and deterministic, pure integer/float
    // arithmetic). The oracle replays the relational half (audio count)
    // and pins the verdicts true.
    "mm_audio_float" -> ((s, dir) => {
      val audio = Multimodal.attachWavAudio(table(s, dir, "documents"))
      audio.select(col("doc_id"),
          graft.functions.vec.audioFingerprint64(col("payload")).as("fp_int"),
          graft.functions.vec.audioFingerprint64(
            graft.functions.vec.wavToFloat32(col("payload"))).as("fp_float"))
        .agg(count(lit(1)).as("n_audio"),
          count(when(col("fp_float").isNull, lit(1))).as("n_undecoded"),
          // measured max drift: 2 at sf0.01, 3 at sf0.1 — bound 6 is
          // 2x margin; a regression in the float sample mapping (wrong
          // scale, sign, endianness) lands FAR outside it
          coalesce(max(bit_count(col("fp_int").bitwiseXOR(col("fp_float"))))
            <= 6, lit(true)).as("drift_within_bound"))
    }),

    // AIFF container gate (round-15): every fixture WAV is transcoded
    // in-plan to AIFF (wav_to_aiff — the JDK converts unsigned-8 to
    // AIFF's signed-8 and LE-16 to BE-16 with EXACT value
    // preservation) and fingerprinted through the container-routed
    // kernel's javax.sound path. Because the sample domain is
    // identical across routes, the verdict is BIT EQUALITY of the two
    // fingerprints, not a drift bound — the strongest cross-container
    // pin the audio family carries. Relational half (audio count)
    // oracled as usual.
    "mm_audio_aiff" -> ((s, dir) => {
      val audio = Multimodal.attachWavAudio(table(s, dir, "documents"))
      audio.select(col("doc_id"),
          graft.functions.vec.audioFingerprint64(col("payload"))
            .as("fp_wav"),
          graft.functions.vec.audioFingerprint64(
            graft.functions.vec.wavToAiff(col("payload"))).as("fp_aiff"))
        .agg(count(lit(1)).as("n_audio"),
          count(when(col("fp_aiff").isNull, lit(1))).as("n_undecoded"),
          coalesce(min(col("fp_wav") === col("fp_aiff")), lit(true))
            .as("containers_bit_equal"))
    }),

    // Audio NORMALIZATION gate (round-16 — image_to_ppm's audio twin,
    // VERDICT r15 Next #1): the fixture WAVs normalize through the
    // container-routed audio_to_wav kernel to canonical PCM-16, and
    // the DuckDB oracle replays the normalized bytes FROM THE SHA
    // RECIPE — the canonical header is a constant and each 8-bit
    // fixture sample v maps to the little-endian int16 (v − 128), so
    // this is the audio family's first BYTE-EXACT oracle (the
    // strongest oracle class, previously images-only).
    "mm_audio_normalize" -> ((s, dir) =>
      Multimodal.normalizeAudio(
          Multimodal.attachWavAudio(table(s, dir, "documents")))
        .select(col("doc_id"), lower(hex(col("payload"))).as("wav_hex"))),

    // The normalize-once FINGERPRINT contract (round-16): every
    // accepted container/encoding — the original PCM-8 WAV, its AIFF
    // transcode (javax.sound leg), its IEEE-float32 transcode —
    // normalizes to a payload whose fingerprint equals the ORIGINAL
    // leg's BIT-EXACTLY (normalization never moves a near-dup
    // cluster), and the WAV and AIFF carriers of the same audio
    // normalize to BYTE-IDENTICAL outputs. These are the verdicts
    // that make "normalize once at ingest, fingerprint at pure-parse
    // cost forever" safe. Oracle pins the relational half (audio
    // count) and the verdicts true.
    "mm_audio_normalize_fp" -> ((s, dir) => {
      val v = graft.functions.vec
      val audio = Multimodal.attachWavAudio(table(s, dir, "documents"))
      audio.select(col("doc_id"), col("payload").as("p_wav"),
          v.wavToAiff(col("payload")).as("p_aiff"),
          v.wavToFloat32(col("payload")).as("p_float"))
        .select(col("doc_id"),
          v.audioToWav(col("p_wav")).as("n_wav"),
          v.audioToWav(col("p_aiff")).as("n_aiff"),
          v.audioToWav(col("p_float")).as("n_float"),
          v.audioFingerprint64(col("p_wav")).as("fp_wav"),
          v.audioFingerprint64(col("p_aiff")).as("fp_aiff"),
          v.audioFingerprint64(col("p_float")).as("fp_float"))
        .agg(count(lit(1)).as("n_audio"),
          (count(when(col("n_wav").isNull, lit(1))) +
            count(when(col("n_aiff").isNull, lit(1))) +
            count(when(col("n_float").isNull, lit(1))))
            .as("n_unnormalized"),
          coalesce(min(v.audioFingerprint64(col("n_wav")) === col("fp_wav")),
            lit(true)).as("wav_fp_preserved"),
          coalesce(min(v.audioFingerprint64(col("n_aiff")) === col("fp_aiff")),
            lit(true)).as("aiff_fp_preserved"),
          coalesce(min(v.audioFingerprint64(col("n_float")) === col("fp_float")),
            lit(true)).as("float_fp_preserved"),
          coalesce(min(col("n_aiff") === col("n_wav")), lit(true))
            .as("carriers_norm_byte_equal"))
    }),

    "mm_dhash_png" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val base = docs.select(col("doc_id"), col("text")).unionByName(dups)
      val ppmMedia = graft.CacheScope.persist(Multimodal.attachPpmImages(base))
      val pngMedia = graft.CacheScope.persist(Multimodal.attachPngImages(base))
      val pngPairs = Multimodal.dHashImageNearDupPairs(pngMedia,
        maxHamming = 6, maxBucketSize = Some(1024))
      val ppmPairs = Multimodal.dHashImageNearDupPairs(ppmMedia,
        maxHamming = 6, maxBucketSize = Some(1024))
      def setsEqual(a: DataFrame, b: DataFrame) =
        a.unionByName(b).groupBy("d1", "d2", "hamming")
          .agg(count(lit(1)).as("n"))
          .agg(coalesce(min(col("n") === 2), lit(true)))
      val imgs = graft.CacheScope.persist(
        base.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), sha2(col("text"), 256).as("tkey")))
      val ident = imgs.as("a")
        .join(imgs.as("b"), col("a.tkey") === col("b.tkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      ident.join(pngPairs, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_identity_pairs"),
          coalesce(min(when(col("hamming") === 0, lit(1)).otherwise(lit(0)))
            === 1, lit(true)).as("all_identity_found"))
        .crossJoin(broadcast(imgs.agg(count(lit(1)).as("n_images"))))
        .crossJoin(broadcast(pngMedia.select(
          count(when(graft.functions.vec
            .dHashImageBands(col("payload"), 4, 16).isNull, lit(1)))
            .as("n_undecoded"))))
        .crossJoin(broadcast(setsEqual(pngPairs, ppmPairs)
          .toDF("png_equals_ppm")))
        .select(col("n_images"), col("n_identity_pairs"),
          col("n_undecoded"), col("all_identity_found"),
          col("png_equals_ppm"))
    }),

    // LOSSY re-encode near-dup gate (round-16, VERDICT r15 Next #6):
    // the real-world image-dedup case is a JPEG re-encode of the same
    // photo, which the lossless PNG legs cannot exercise. The corpus
    // is content SMOOTH at the dHash cell scale — 9×8 sha noise
    // block-upscaled ×8 to 72×64, so the constant 8×8 blocks align
    // with BOTH the dHash cell grid and JPEG's DCT grid — and every
    // image gains a JPEG twin through the JDK encoder. Measured drift:
    // max Hamming 2 at sf0.01, 3 at sf0.1 — INSIDE the 4×16 layout's
    // ≤3 pigeonhole guarantee, so the fuzzy join finding every
    // (source, jpeg) pair is provable recall 1.0, not band-collision
    // luck. Verdicts: every JPEG decodes, and every expected pair
    // surfaces within the default maxHamming = 6. Oracle pins the
    // relational half (image count) and the verdicts true.
    "mm_dhash_jpeg" -> ((s, dir) => {
      val v = graft.functions.vec
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val smooth = graft.CacheScope.persist(
        Multimodal.attachPpmImages(docs, 9, 8)
          .select(col("doc_id"), col("kind"),
            v.ppmResize(col("payload"), 72, 64).as("payload")))
      val jpegs = graft.CacheScope.persist(
        smooth.select((col("doc_id") + m).as("doc_id"), col("kind"),
          v.ppmToJpeg(col("payload")).as("payload")))
      val pairs = Multimodal.dHashImageNearDupPairs(
        smooth.unionByName(jpegs), maxHamming = 6,
        bands = 4, bandBits = 16, maxBucketSize = Some(1024))
      smooth.select(col("doc_id").as("d1"),
          (col("doc_id") + m).as("d2"))
        .join(pairs, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_images"),
          coalesce(min(col("hamming").isNotNull && col("hamming") <= 6),
            lit(true)).as("all_jpeg_found"))
        .crossJoin(broadcast(jpegs.select(
          count(when(v.dHashImageBands(col("payload"), 4, 16).isNull,
            lit(1))).as("n_jpeg_undecoded"))))
        .select(col("n_images"), col("n_jpeg_undecoded"),
          col("all_jpeg_found"))
    }),

    // Format NORMALIZATION gate (round-15): real PNG payloads
    // (attachPngImages) are transcoded back to canonical P6 by the
    // image_to_ppm kernel — PNG is lossless, so the normalized bytes
    // must EQUAL the original PPM fixture byte for byte, and the
    // DuckDB oracle replays them from the sha pixel recipe (the
    // byte-exact oracle class). This is the transcode a mixed-format
    // corpus runs before any downstream raster kernel.
    "mm_image_normalize" -> ((s, dir) =>
      Multimodal.normalizeImages(
          Multimodal.attachPngImages(table(s, dir, "documents")))
        .select(col("doc_id"),
          lower(hex(col("payload"))).as("ppm_hex"))),

    // Grayscale PGM (P5) normalization (round-15): real P5 payloads
    // embed losslessly into canonical P6 (R=G=B=y — luma, stats, and
    // dHash all agree with the original), and the oracle replays every
    // tripled byte from the sha recipe.
    "mm_pgm_normalize" -> ((s, dir) =>
      Multimodal.normalizeImages(
          Multimodal.attachPgmImages(table(s, dir, "documents")))
        .select(col("doc_id"),
          lower(hex(col("payload"))).as("ppm_hex"))),

    // TRUE gray-PNG normalization (round-17): the P5 fixture pixels
    // transcoded into a single-band TYPE_BYTE_GRAY PNG in-plan
    // (pgm_to_gray_png — a REAL gray raster, so the decode takes the
    // raw-raster-samples path, not getRGB's linear-gray→sRGB transform)
    // must normalize to the IDENTICAL canonical P6 the raw P5 does;
    // the shared byte-exact oracle replays every tripled luma byte
    "mm_gray_png_normalize" -> ((s, dir) =>
      Multimodal.normalizeImages(
          Multimodal.attachPgmImages(table(s, dir, "documents"))
            .select(col("doc_id"), col("kind"),
              graft.functions.vec.pgmToGrayPng(col("payload"))
                .as("payload")))
        .select(col("doc_id"),
          lower(hex(col("payload"))).as("ppm_hex"))),

    // REAL resize transcode (round-14, closes the mm_resize
    // metadata-only seam): decode the fixture PPMs (12×10), integer
    // box-resize to 6×5 per RGB channel, re-encode canonical P6 — all
    // integer arithmetic, so the oracle replays the resize BYTE FOR
    // BYTE from the sha pixel recipe and compares the hex payloads.
    "mm_resize_transcode" -> ((s, dir) =>
      Multimodal.resizePpm(
          Multimodal.attachPpmImages(table(s, dir, "documents")), 6, 5)
        .select(col("doc_id"),
          lower(hex(col("payload"))).as("resized_hex"))),

    // REAL audio near-dup (round-14): fixture payloads are ACTUAL
    // binary PCM WAVs (attachWavAudio — RIFF header + sha-derived
    // 8-bit samples, payload equality ⇔ text equality), fingerprinted
    // by the pure-JVM WAV parse → windowed energy/ZCR kernel, paired
    // through the SAME shared BandedHamming core as image dHash. The
    // parse isn't SQL-replayable, so the gate is mm_dhash_decoded's
    // shape: relational half (audio count, identity pairs from text
    // equality) + in-plan verdicts (every payload parses; every
    // byte-identical pair recovered at hamming 0).
    "mm_audio_neardup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 1 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val base = docs.select(col("doc_id"), col("text")).unionByName(dups)
      val media = graft.CacheScope.persist(Multimodal.attachWavAudio(base))
      val pairs = Multimodal.audioNearDupPairs(media,
        maxHamming = 6, maxBucketSize = Some(1024))
      val auds = graft.CacheScope.persist(
        base.filter(col("doc_id") % 3 === 1)
          .select(col("doc_id"), sha2(col("text"), 256).as("tkey")))
      val ident = auds.as("a")
        .join(auds.as("b"), col("a.tkey") === col("b.tkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      ident.join(pairs, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_identity_pairs"),
          coalesce(min(when(col("hamming") === 0, lit(1)).otherwise(lit(0)))
            === 1, lit(true)).as("all_identity_found"))
        .crossJoin(broadcast(auds.agg(count(lit(1)).as("n_audio"))))
        .crossJoin(broadcast(media.select(
          count(when(graft.functions.vec
            .audioFingerprint64(col("payload")).isNull, lit(1)))
            .as("n_undecoded"))))
        .select(col("n_audio"), col("n_identity_pairs"),
          col("n_undecoded"), col("all_identity_found"))
    }),

    // Incremental audio near-dup (round-14): the arriving WAV shard is
    // fingerprinted and joined against the PERSISTED audio band index
    // — old payloads never re-parsed; the gate pins in-plan that the
    // incremental pair set EQUALS the full recompute restricted to
    // shard-touching pairs (the dHashIncrementalPairs contract), plus
    // the relational identity half.
    "mm_audio_incremental" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 1 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val oldMedia = graft.CacheScope.persist(
        Multimodal.attachWavAudio(docs.select(col("doc_id"), col("text"))))
      val shard = graft.CacheScope.persist(Multimodal.attachWavAudio(dups))
      val inc = graft.CacheScope.persist(
        Multimodal.audioIncrementalPairs(shard,
          Multimodal.audioFingerprintBandRows(oldMedia),
          maxHamming = 6, maxBucketSize = Some(1024)))
      val newIds = shard.select(col("doc_id").as("nid"))
      val restricted = Multimodal.audioNearDupPairs(
          oldMedia.unionByName(shard), maxHamming = 6,
          bands = 4, bandBits = 16, maxBucketSize = Some(1024))
        .join(broadcast(newIds),
          col("d1") === col("nid") || col("d2") === col("nid"), "leftsemi")
      def setsEqual(a: DataFrame, b: DataFrame) =
        a.unionByName(b).groupBy("d1", "d2", "hamming")
          .agg(count(lit(1)).as("n"))
          .agg(coalesce(min(col("n") === 2), lit(true)))
      val oldKeys = docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id").as("d1"), sha2(col("text"), 256).as("tk"))
      val dupKeys = dups
        .select(col("doc_id").as("d2"), sha2(col("text"), 256).as("tk"))
      oldKeys.join(dupKeys, "tk").select("d1", "d2")
        .join(inc, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_identity_pairs"),
          coalesce(min(when(col("hamming") === 0, lit(1)).otherwise(lit(0)))
            === 1, lit(true)).as("all_identity_found"))
        .crossJoin(broadcast(shard.agg(count(lit(1)).as("n_new_audio"))))
        .crossJoin(broadcast(setsEqual(inc, restricted)
          .toDF("equals_full_restricted")))
        .select(col("n_new_audio"), col("n_identity_pairs"),
          col("all_identity_found"), col("equals_full_restricted"))
    }),

    // Audio decontamination (round-18): the audio member of the decon
    // family — flag corpus clips within Hamming 6 of any benchmark
    // clip's fingerprint. The fingerprint kernel isn't SQL-replayable,
    // so the gate is mm_audio_neardup's shape: the oracle pins the
    // relational identity half (every corpus clip sharing a bench
    // doc's text — hence byte-identical WAV — MUST flag, guaranteed at
    // hamming 0) plus the in-plan verdict; coincidental fuzzy flags
    // ride the flagged set but not the gated columns.
    "mm_decon_audio_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val bench = docs
        .filter(col("doc_id") % 3 === 1 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val corpusMedia = graft.CacheScope.persist(
        Multimodal.attachWavAudio(docs.select(col("doc_id"), col("text"))))
      val flagged = graft.CacheScope.persist(
        Multimodal.audioDecontaminateFlag(corpusMedia,
          Multimodal.attachWavAudio(bench),
          maxHamming = 6, bands = 4, bandBits = 16))
      val benchKeys = bench.select(sha2(col("text"), 256).as("tkey")).distinct()
      val mustFlag = docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), sha2(col("text"), 256).as("tkey"))
        .join(broadcast(benchKeys), "tkey")
        .select("doc_id").distinct()
      // NULL-SAFE verdict (round-19, ADVICE): an unflagged identity doc
      // leaves f NULL after the left join, and `min(f === 1)` SKIPS
      // nulls — an all-null column would coalesce to true and the gate
      // could never read false. Map missing flags to 0 explicitly so a
      // recall regression flips the verdict.
      mustFlag.join(flagged.withColumn("f", lit(1)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_identity"),
          coalesce(min(when(col("f") === 1, lit(1)).otherwise(lit(0))) === 1,
            lit(true)).as("all_identity_flagged"))
        .crossJoin(broadcast(corpusMedia
          .agg(count(lit(1)).as("n_audio"))))
    }),

    // Video decontamination (round-18): the video member — flag corpus
    // videos where ANY sampled frame near-dups ANY benchmark frame
    // (a leaked eval clip shares frames even trimmed/re-containered).
    // Frame hashes aren't SQL-replayable, so the gate is the audio
    // member's shape: relational identity half (text equality ⇒ all
    // frames byte-identical ⇒ hamming 0 ⇒ MUST flag) + in-plan verdict.
    "mm_decon_video_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val bench = docs
        .filter(col("doc_id") % 3 === 2 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val corpusMedia = graft.CacheScope.persist(
        Multimodal.attachPpmVideo(docs.select(col("doc_id"), col("text"))))
      val flagged = graft.CacheScope.persist(
        Multimodal.videoDecontaminateFlag(corpusMedia,
          Multimodal.attachPpmVideo(bench),
          maxHamming = 6, bands = 4, bandBits = 16))
      val benchKeys = bench.select(sha2(col("text"), 256).as("tkey")).distinct()
      val mustFlag = docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), sha2(col("text"), 256).as("tkey"))
        .join(broadcast(benchKeys), "tkey")
        .select("doc_id").distinct()
      // null-safe verdict — see mm_decon_audio_flag's gate note
      mustFlag.join(flagged.withColumn("f", lit(1)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_identity"),
          coalesce(min(when(col("f") === 1, lit(1)).otherwise(lit(0))) === 1,
            lit(true)).as("all_identity_flagged"))
        .crossJoin(broadcast(corpusMedia
          .agg(count(lit(1)).as("n_video"))))
    }),

    // Incremental AUDIO decon under benchmark append (round-19, closes
    // the audio corner of the incremental-decon triangle): flags are
    // monotone under append, so the update is the flag tier over the
    // previously-unflagged remainder × the NEW eval clips only,
    // unioned with the carried set. Fingerprints aren't
    // SQL-replayable, so the gate pins (a) incr == full re-flag over
    // the UNIONED benchmark, in-plan full-outer equality — the
    // monotone-update contract itself — and (b) the relational
    // identity half over the union (a corpus clip text-equal to ANY
    // old-or-new bench doc is byte-identical WAV ⇒ hamming 0 ⇒ MUST
    // flag), null-safe as in mm_decon_audio_flag.
    "mm_decon_audio_incr" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      def bench(selExpr: String, off: Long) =
        Multimodal.attachWavAudio(docs
          .filter(col("doc_id") % 3 === 1 && expr(selExpr))
          .select((col("doc_id") + off).as("doc_id"), col("text")))
      val corpus = graft.CacheScope.persist(
        Multimodal.attachWavAudio(docs.select(col("doc_id"), col("text"))))
      val benchOld = bench("(doc_id DIV 3) % 5 = 0", m)
      val benchNew = bench("(doc_id DIV 3) % 7 = 3", 2 * m)
      val prev = graft.CacheScope.persist(
        Multimodal.audioDecontaminateFlag(corpus, benchOld,
          maxHamming = 6, bands = 4, bandBits = 16))
      val incr = graft.CacheScope.persist(
        Multimodal.audioDecontaminateIncr(corpus, prev, benchNew,
          maxHamming = 6, bands = 4, bandBits = 16))
      val full = Multimodal.audioDecontaminateFlag(corpus,
        benchOld.unionByName(benchNew),
        maxHamming = 6, bands = 4, bandBits = 16)
      val eqFull = idSetsEqual(incr, full, "equals_full_rerun")
      val benchKeys = docs.filter(col("doc_id") % 3 === 1 &&
          (expr("(doc_id DIV 3) % 5 = 0") || expr("(doc_id DIV 3) % 7 = 3")))
        .select(sha2(col("text"), 256).as("tkey")).distinct()
      val mustFlag = docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), sha2(col("text"), 256).as("tkey"))
        .join(broadcast(benchKeys), "tkey")
        .select("doc_id").distinct()
      mustFlag.join(incr.withColumn("f", lit(1)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_identity"),
          coalesce(min(when(col("f") === 1, lit(1)).otherwise(lit(0))) === 1,
            lit(true)).as("all_identity_flagged"))
        .crossJoin(broadcast(eqFull))
        .crossJoin(broadcast(corpus.agg(count(lit(1)).as("n_audio"))))
    }),

    // Incremental VIDEO decon under benchmark append (round-19, the
    // last corner of the triangle): same monotone-append contract and
    // gate shape as mm_decon_audio_incr — incr == full re-flag over
    // the unioned benchmark (in-plan full-outer equality) + the
    // relational identity half (text equality ⇒ all sampled frames
    // byte-identical ⇒ hamming 0 ⇒ MUST flag), null-safe verdict.
    "mm_decon_video_incr" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      def bench(selExpr: String, off: Long) =
        Multimodal.attachPpmVideo(docs
          .filter(col("doc_id") % 3 === 2 && expr(selExpr))
          .select((col("doc_id") + off).as("doc_id"), col("text")))
      val corpus = graft.CacheScope.persist(
        Multimodal.attachPpmVideo(docs.select(col("doc_id"), col("text"))))
      val benchOld = bench("(doc_id DIV 3) % 5 = 0", m)
      val benchNew = bench("(doc_id DIV 3) % 7 = 3", 2 * m)
      val prev = graft.CacheScope.persist(
        Multimodal.videoDecontaminateFlag(corpus, benchOld,
          maxHamming = 6, bands = 4, bandBits = 16))
      val incr = graft.CacheScope.persist(
        Multimodal.videoDecontaminateIncr(corpus, prev, benchNew,
          maxHamming = 6, bands = 4, bandBits = 16))
      val full = Multimodal.videoDecontaminateFlag(corpus,
        benchOld.unionByName(benchNew),
        maxHamming = 6, bands = 4, bandBits = 16)
      val eqFull = idSetsEqual(incr, full, "equals_full_rerun")
      val benchKeys = docs.filter(col("doc_id") % 3 === 2 &&
          (expr("(doc_id DIV 3) % 5 = 0") || expr("(doc_id DIV 3) % 7 = 3")))
        .select(sha2(col("text"), 256).as("tkey")).distinct()
      val mustFlag = docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), sha2(col("text"), 256).as("tkey"))
        .join(broadcast(benchKeys), "tkey")
        .select("doc_id").distinct()
      mustFlag.join(incr.withColumn("f", lit(1)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_identity"),
          coalesce(min(when(col("f") === 1, lit(1)).otherwise(lit(0))) === 1,
            lit(true)).as("all_identity_flagged"))
        .crossJoin(broadcast(eqFull))
        .crossJoin(broadcast(corpus.agg(count(lit(1)).as("n_video"))))
    }),

    // Streaming AUDIO decon (round-19 — stream_mm_decon_flag's audio
    // twin, closing the decon matrix's streaming column for audio):
    // corpus clips arrive as a file stream and the SAME stream-static
    // broadcast semi + full-fingerprint verify drops contaminated
    // clips in flight; the only state is the flagged-id dedup.
    // Fingerprints aren't SQL-replayable, so the gate pins drained ==
    // batch (in-plan full-outer equality) + the relational identity
    // half against the DRAINED set (null-safe).
    "stream_mm_decon_audio_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val bench = Multimodal.attachWavAudio(docs
        .filter(col("doc_id") % 3 === 1 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text")))
      val run = runDir("graft_smdaf")
      val textStream = sliceStream(s,
        docs.select("doc_id", "text"), "doc_id", 4)(
        fixtureScratch(s, s"$dir/documents.parquet", "smdaf", "in"))
      drainToParquet(s, Multimodal.audioDecontaminateFlag(
          Multimodal.attachWavAudio(textStream), bench,
          maxHamming = 6, bands = 4, bandBits = 16), run)
      val streamed = graft.CacheScope.persist(s.read.parquet(s"$run/out"))
      val batch = Multimodal.audioDecontaminateFlag(
        Multimodal.attachWavAudio(docs.select(col("doc_id"), col("text"))),
        bench, maxHamming = 6, bands = 4, bandBits = 16)
      val eq = idSetsEqual(streamed, batch)
      val benchKeys = docs
        .filter(col("doc_id") % 3 === 1 && expr("(doc_id DIV 3) % 5 = 0"))
        .select(sha2(col("text"), 256).as("tkey")).distinct()
      val mustFlag = docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), sha2(col("text"), 256).as("tkey"))
        .join(broadcast(benchKeys), "tkey")
        .select("doc_id").distinct()
      mustFlag.join(streamed.withColumn("f", lit(1)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_identity"),
          coalesce(min(when(col("f") === 1, lit(1)).otherwise(lit(0))) === 1,
            lit(true)).as("all_identity_flagged"))
        .crossJoin(broadcast(eq))
    }),

    // Streaming VIDEO decon (round-19 — the video twin, completing
    // the decon matrix's streaming column): frame hashes stream
    // row-local into the same broadcast semi; state = the two
    // flagged-id dedups (composite + video — Spark 4 chains the
    // stateful dedups in append mode). Same gate shape.
    "stream_mm_decon_video_flag" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val bench = Multimodal.attachPpmVideo(docs
        .filter(col("doc_id") % 3 === 2 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text")))
      val run = runDir("graft_smdvf")
      val textStream = sliceStream(s,
        docs.select("doc_id", "text"), "doc_id", 4)(
        fixtureScratch(s, s"$dir/documents.parquet", "smdvf", "in"))
      drainToParquet(s, Multimodal.videoDecontaminateFlag(
          Multimodal.attachPpmVideo(textStream), bench,
          maxHamming = 6, bands = 4, bandBits = 16), run)
      val streamed = graft.CacheScope.persist(s.read.parquet(s"$run/out"))
      val batch = Multimodal.videoDecontaminateFlag(
        Multimodal.attachPpmVideo(docs.select(col("doc_id"), col("text"))),
        bench, maxHamming = 6, bands = 4, bandBits = 16)
      val eq = idSetsEqual(streamed, batch)
      val benchKeys = docs
        .filter(col("doc_id") % 3 === 2 && expr("(doc_id DIV 3) % 5 = 0"))
        .select(sha2(col("text"), 256).as("tkey")).distinct()
      val mustFlag = docs.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id"), sha2(col("text"), 256).as("tkey"))
        .join(broadcast(benchKeys), "tkey")
        .select("doc_id").distinct()
      mustFlag.join(streamed.withColumn("f", lit(1)), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_identity"),
          coalesce(min(when(col("f") === 1, lit(1)).otherwise(lit(0))) === 1,
            lit(true)).as("all_identity_flagged"))
        .crossJoin(broadcast(eq))
    }),

    // Audio decon ATTRIBUTION report (round-19, mm_decon_report's
    // audio twin): fingerprints aren't SQL-replayable, so the gate
    // pins the report's FRAME (one row per benchmark clip — zero-hit
    // items included) and the relational identity half as in-plan
    // verdicts: every benchmark clip with a text-identical corpus
    // clip (byte-identical WAV ⇒ hamming 0) must attribute at
    // min_hamming 0 with n_flagged covering its identity matches.
    "mm_decon_audio_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val benchDocs = docs
        .filter(col("doc_id") % 3 === 1 && expr("(doc_id DIV 3) % 5 = 0"))
      val rep = Multimodal.audioDecontaminateReport(
        Multimodal.attachWavAudio(docs.select(col("doc_id"), col("text"))),
        Multimodal.attachWavAudio(benchDocs
          .select((col("doc_id") + m).as("doc_id"), col("text"))),
        maxHamming = 6, bands = 4, bandBits = 16)
      val ident = benchDocs
        .select((col("doc_id") + m).as("eval_id"),
          sha2(col("text"), 256).as("tkey"))
        .join(docs.filter(col("doc_id") % 3 === 1)
            .select(sha2(col("text"), 256).as("tkey"), col("doc_id")),
          Seq("tkey"))
        .groupBy(col("eval_id"))
        .agg(countDistinct(col("doc_id")).as("n_ident"))
      rep.join(broadcast(ident), Seq("eval_id"), "left")
        .agg(count(lit(1)).as("n_bench"),
          coalesce(min(when(col("n_ident").isNull, lit(1))
            .when(col("min_hamming") === 0 &&
              col("n_flagged") >= col("n_ident"), lit(1))
            .otherwise(lit(0))) === 1, lit(true))
            .as("all_identity_attributed"))
    }),

    // Video decon ATTRIBUTION report (round-19): the video twin —
    // keyed on VIDEOS (the composite frame hits re-key to video ids
    // before the agg), so a benchmark video with a text-identical
    // corpus video (all frames byte-identical) must attribute at
    // min_hamming 0. Same gate shape as the audio report.
    "mm_decon_video_report" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val benchDocs = docs
        .filter(col("doc_id") % 3 === 2 && expr("(doc_id DIV 3) % 5 = 0"))
      val rep = Multimodal.videoDecontaminateReport(
        Multimodal.attachPpmVideo(docs.select(col("doc_id"), col("text"))),
        Multimodal.attachPpmVideo(benchDocs
          .select((col("doc_id") + m).as("doc_id"), col("text"))),
        maxHamming = 6, bands = 4, bandBits = 16)
      val ident = benchDocs
        .select((col("doc_id") + m).as("eval_id"),
          sha2(col("text"), 256).as("tkey"))
        .join(docs.filter(col("doc_id") % 3 === 2)
            .select(sha2(col("text"), 256).as("tkey"), col("doc_id")),
          Seq("tkey"))
        .groupBy(col("eval_id"))
        .agg(countDistinct(col("doc_id")).as("n_ident"))
      rep.join(broadcast(ident), Seq("eval_id"), "left")
        .agg(count(lit(1)).as("n_bench"),
          coalesce(min(when(col("n_ident").isNull, lit(1))
            .when(col("min_hamming") === 0 &&
              col("n_flagged") >= col("n_ident"), lit(1))
            .otherwise(lit(0))) === 1, lit(true))
            .as("all_identity_attributed"))
    }),

    // DECODED frame sampling (round-14, closes the offsets-only
    // mm_frames seam): the fixture videos are 4 concatenated PPM
    // frames; the kernel must parse every frame boundary and hash each
    // sampled frame — the oracle pins that every video yields exactly
    // its 4 frame indices (a torn parse yields none, the null-drop).
    "mm_video_frames" -> ((s, dir) =>
      Multimodal.sampleFrameHashes(
          Multimodal.attachPpmVideo(table(s, dir, "documents")))
        .select(col("doc_id"), col("frame_idx"))),

    // REAL video near-dup (round-14): videos pair by SHARED DECODED
    // FRAME HASHES (exact-key self-join on the 64-bit frame dHash,
    // occupancy-capped) — identical texts ⇒ identical payloads ⇒ full
    // frame overlap. Gate: relational half (video count, identity
    // pairs) + in-plan verdicts (every payload decodes; every identity
    // pair shares ALL of its distinct frame hashes).
    "mm_video_neardup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 2 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val base = docs.select(col("doc_id"), col("text")).unionByName(dups)
      val media = graft.CacheScope.persist(Multimodal.attachPpmVideo(base))
      val pairs = Multimodal.videoNearDupPairs(media,
        minSharedFrames = 1, maxBucketSize = Some(1024))
      val vids = graft.CacheScope.persist(
        base.filter(col("doc_id") % 3 === 2)
          .select(col("doc_id"), sha2(col("text"), 256).as("tkey")))
      val ident = vids.as("a")
        .join(vids.as("b"), col("a.tkey") === col("b.tkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      val frameCounts = Multimodal.sampleFrameHashes(media)
        .groupBy(col("doc_id").as("d1"))
        .agg(countDistinct(col("frame_hash")).as("nf"))
      ident.join(pairs, Seq("d1", "d2"), "left")
        .join(frameCounts, Seq("d1"))
        .agg(count(lit(1)).as("n_identity_pairs"),
          // an identity pair must share EVERY distinct frame hash of
          // its video; vacuous-empty reads true
          coalesce(min(when(col("shared_frames") === col("nf"), lit(1))
            .otherwise(lit(0))) === 1, lit(true))
            .as("all_identity_full_overlap"))
        .crossJoin(broadcast(vids.agg(count(lit(1)).as("n_videos"))))
        .crossJoin(broadcast(media.select(
          count(when(graft.functions.vec
            .videoFrameDHashes(col("payload"), 8).isNull, lit(1)))
            .as("n_undecoded"))))
        .select(col("n_videos"), col("n_identity_pairs"),
          col("n_undecoded"), col("all_identity_full_overlap"))
    }),

    // REAL-FORMAT video gate (round-15): the corpus leg is ACTUAL
    // YUV4MPEG2 payloads (attachY4mVideo — real stream header, FRAME
    // markers, 4:2:0 planes), frame-hashed through the container-routed
    // kernel (Y plane direct — it IS the luma; chroma skipped by
    // size). Same verdict shape as mm_video_neardup: every payload
    // decodes, identity videos (text equality) share EVERY distinct
    // frame hash; the Y4M-vs-gray-PPM cross-container hash equality is
    // pinned byte-level in MultimodalSpec.
    "mm_video_y4m" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 2 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val base = docs.select(col("doc_id"), col("text")).unionByName(dups)
      val media = graft.CacheScope.persist(Multimodal.attachY4mVideo(base))
      val pairs = Multimodal.videoNearDupPairs(media,
        minSharedFrames = 1, maxBucketSize = Some(1024))
      val vids = graft.CacheScope.persist(
        base.filter(col("doc_id") % 3 === 2)
          .select(col("doc_id"), sha2(col("text"), 256).as("tkey")))
      val ident = vids.as("a")
        .join(vids.as("b"), col("a.tkey") === col("b.tkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      val frameCounts = Multimodal.sampleFrameHashes(media)
        .groupBy(col("doc_id").as("d1"))
        .agg(countDistinct(col("frame_hash")).as("nf"))
      ident.join(pairs, Seq("d1", "d2"), "left")
        .join(frameCounts, Seq("d1"))
        .agg(count(lit(1)).as("n_identity_pairs"),
          coalesce(min(when(col("shared_frames") === col("nf"), lit(1))
            .otherwise(lit(0))) === 1, lit(true))
            .as("all_identity_full_overlap"))
        .crossJoin(broadcast(vids.agg(count(lit(1)).as("n_videos"))))
        .crossJoin(broadcast(media.select(
          count(when(graft.functions.vec
            .videoFrameDHashes(col("payload"), 8).isNull, lit(1)))
            .as("n_undecoded"))))
        .select(col("n_videos"), col("n_identity_pairs"),
          col("n_undecoded"), col("all_identity_full_overlap"))
    }),

    // FUZZY video near-dup (round-14): frames within Hamming <= 6
    // count as shared — the third operator on the shared BandedHamming
    // core. Gate: identity pairs carry all 4 frame-pair matches, and
    // the exact-key pair set (mm_video_neardup's operator) is a SUBSET
    // of the fuzzy one (identical frames are Hamming-0 near).
    "mm_video_neardup_fuzzy" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 2 && expr("(doc_id DIV 3) % 5 = 0"))
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val base = docs.select(col("doc_id"), col("text")).unionByName(dups)
      val media = graft.CacheScope.persist(Multimodal.attachPpmVideo(base))
      val fuzzy = graft.CacheScope.persist(
        Multimodal.videoNearDupPairsFuzzy(media, maxHamming = 6,
          maxBucketSize = Some(1024)))
      val exact = Multimodal.videoNearDupPairs(media,
        minSharedFrames = 1, maxBucketSize = Some(1024))
        .select(col("d1"), col("d2"))
      val vids = graft.CacheScope.persist(
        base.filter(col("doc_id") % 3 === 2)
          .select(col("doc_id"), sha2(col("text"), 256).as("tkey")))
      val ident = vids.as("a")
        .join(vids.as("b"), col("a.tkey") === col("b.tkey") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      ident.join(fuzzy, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_identity_pairs"),
          // each of the 4 frames matches its identical twin at
          // Hamming 0 — at least 4 near frame pairs per identity pair
          coalesce(min(when(col("shared_frames") >= 4, lit(1))
            .otherwise(lit(0))) === 1, lit(true)).as("all_identity_full"))
        .crossJoin(broadcast(vids.agg(count(lit(1)).as("n_videos"))))
        .crossJoin(broadcast(
          exact.join(fuzzy.select("d1", "d2"), Seq("d1", "d2"), "left_anti")
            .agg((count(lit(1)) === 0).as("exact_subset_of_fuzzy"))))
        .select(col("n_videos"), col("n_identity_pairs"),
          col("all_identity_full"), col("exact_subset_of_fuzzy"))
    }),

    // End-to-end MEDIA dedup composition (round-14): decode-hash pairs
    // (real PPM kernel) → cluster resolution → representatives — the
    // full corpus-dedup pipeline a media lake runs, reusing the text
    // family's clusterLabels verbatim. On the sha-noise fixture only
    // byte-identical images pair (random 64-bit dHashes never land
    // within radius 6 at this n), so clusters are exactly the
    // text-equality groups and the oracle replays the SURVIVING IDS
    // relationally: the min doc_id per text group. Hash-matched, not a
    // verdict gate.
    "mm_dedup_media" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val m = (footerMaxId(s, s"$dir/documents.parquet") / 3 + 1) * 3
      val dups = docs
        .filter(col("doc_id") % 3 === 0 && (col("doc_id") / 3) % 5 === 0)
        .select((col("doc_id") + m).as("doc_id"), col("text"))
      val base = docs.select(col("doc_id"), col("text")).unionByName(dups)
      val media = graft.CacheScope.persist(Multimodal.attachPpmImages(base))
      val pairs = Multimodal.dHashImageNearDupPairs(media,
        maxHamming = 6, maxBucketSize = Some(1024))
      Dedup.keepRepresentatives(media.select(col("doc_id")), pairs)
        .select(col("doc_id"))
    }),

    // Fingerprint-entropy screen (round-14): the diagnostic that
    // catches the degenerate-hash regime BEFORE a fuzzy join — per-bit
    // set fractions over decoded frame hashes. The healthy 12×10
    // fixture reads every bit inside (0.2, 0.8); the deliberately
    // under-grid 8×6 twin pins bits to 0 (neighboring grid cells read
    // the same source pixel) and MUST trip the screen — both verdicts
    // in-plan, the count relational.
    "mm_fingerprint_bias" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val healthy = Multimodal.frameHashBias(Multimodal.attachPpmVideo(docs))
      val degenerate = Multimodal.frameHashBias(
        Multimodal.attachPpmVideo(docs, w = 8, h = 6))
      healthy.select(col("n").as("n_frames"),
          (col("min_p1") >= 0.2 && col("max_p1") <= 0.8)
            .as("healthy_in_bounds"))
        .crossJoin(broadcast(degenerate
          .select((col("min_p1") === 0.0).as("degenerate_trips"))))
    }),

    "sim_topk_brute" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .withColumn("rank", col("rank").cast("bigint"))
    }),

    "sim_neardup_brute" -> ((s, dir) =>
      Similarity.bruteForceNearDupPairs(table(s, dir, "embeddings"), 0.45)),

    // LSH/IVF ANN variants: engine-internal bucketing/training —
    // registered as self-check gates (recall@10 vs brute force; the
    // near-dup gates also assert the zero-false-positive subset property
    // their exact-verify construction guarantees).
    "sim_topk_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      recallGate(
        exact = Similarity.bruteForceTopK(emb, q, k = 10),
        // measured recall@10: 0.80 (sf0.01) / 0.78 (sf0.1)
        approx = Similarity.lshTopK(emb, q, k = 10, planes = 4, tables = 12),
        keys = Seq("query_id", "vec_id"), floor = 0.75)
    }),

    "sim_neardup_lsh" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      recallGate(
        exact = Similarity.bruteForceNearDupPairs(emb, 0.45),
        // hyperplane LSH at a 0.45 threshold (63° pairs): expected
        // recall ≈ 1-(1-p^planes)^tables with p ≈ 0.65, so 5 planes ×
        // 12 tables ≈ 0.77 for threshold-grazing pairs (6×8 ≈ 0.46 was
        // too weak on small fixtures). Fewer planes = bigger buckets =
        // more exact-verify work — the documented recall-vs-cost dial.
        approx = Similarity.cosineNearDupPairs(emb, 0.45,
          planes = 5, tables = 12),
        keys = Seq("v1", "v2"), floor = 0.5, subset = true)
    }),

    "sim_topk_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      recallGate(
        exact = Similarity.bruteForceTopK(emb, q, k = 10),
        // nprobe 6/16 lists: probing more lists is the standard IVF
        // recall dial (4/16 measured 0.58-0.76 across fixtures, too
        // close to the floor; cost grows linearly in nprobe)
        approx = Similarity.ivfTopK(emb, q, k = 10, nlist = 16, nprobe = 6,
          corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet"))),
        keys = Seq("query_id", "vec_id"), floor = 0.6)
    }),

    // The IVF-PQ tier: int8 residual codes inside the lists — the
    // candidate join moves bytes, not float arrays — with exact-cosine
    // rerank of the top rerank·k approximate survivors. Same recall
    // gate and floor as sim_topk_ivf (nprobe 6/16): the PQ cut only
    // changes WHICH candidates reach the exact rerank.
    "sim_topk_ivfpq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      recallGate(
        exact = Similarity.bruteForceTopK(emb, q, k = 10),
        approx = Similarity.ivfPQTopK(emb, q, k = 10, nlist = 16, nprobe = 6,
          rerank = 4,
          corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet"))),
        keys = Seq("query_id", "vec_id"), floor = 0.6)
    }),

    // The persisted form of the PQ index (VERDICT r9 #3): quantizer +
    // code rows saved as parquet once (fixture-keyed scratch), top-k
    // SERVED from the artifact — load centroids, read codes, probe,
    // rerank — under the same recall gate as the in-session path. This
    // is the deployment story the corpusKey cache stands in for.
    "sim_topk_ivfpq_index" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 5)
      val scratch = fixtureScratch(s, s"$dir/embeddings.parquet", "ivfpq",
        "codes") { tmp =>
        Similarity.saveIvfPqIndex(emb, tmp, nlist = 16,
          corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet")))
      }
      recallGate(
        exact = Similarity.bruteForceTopK(emb, q, k = 10),
        approx = Similarity.ivfPQTopKFromIndex(s, scratch, emb, q, k = 10,
          nprobe = 6, rerank = 4),
        keys = Seq("query_id", "vec_id"), floor = 0.6)
    }),

    // ANN index MAINTENANCE — the PQ mirror of dedup_index_update:
    // appending a new shard's code rows (quantized under the persisted
    // index's FROZEN centroids) to the saved codes must equal
    // rebuilding the code table over (old ∪ new) with those centroids,
    // row for row — list assignment, residual codes, scale, and norm.
    // (Retraining the quantizer is by definition a rebuild.)
    "sim_index_update" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val half = footerMaxId(s, s"$dir/embeddings.parquet", "vec_id") / 2
      val scratch = ivfPqOldScratch(s, dir, half)
      val centroids = Similarity.loadIvfPqCentroids(s, scratch)
      val updated = s.read.parquet(s"$scratch/codes")
        .unionByName(Similarity.ivfPqCodeRows(
          emb.filter(col("vec_id") > half), centroids))
      val rebuilt = Similarity.ivfPqCodeRows(emb, centroids)
      val eq = updated.as("u").join(rebuilt.as("r"), Seq("vec_id"), "full")
        .agg((count(when(col("u.list").isNull || col("r.list").isNull
          || col("u.list") =!= col("r.list")
          || col("u.cnrm") =!= col("r.cnrm")
          || col("u.qscale") =!= col("r.qscale")
          || !(col("u.codes") === col("r.codes")), 1)) === 0).as("equal_ok"))
      updated.agg(count(lit(1)).as("n_index_rows"))
        .crossJoin(broadcast(eq))
    }),

    // STREAMING ANN index ingest — the PQ mirror of stream_neardup,
    // closing the maintenance triangle (persisted artifact /
    // batch append = sim_index_update / streaming append): the new half
    // of the corpus arrives as a 4-file parquet stream, each micro-batch
    // quantized under the base index's FROZEN centroids and written as
    // its own idempotent ingest_batch partition
    // (StreamOps.annIngestStream). Gate: top-k SERVED from the drained
    // index (base codes ∪ streamed appends) EQUALS top-k from a full
    // batch rebuild of the code table under the same centroids — batch
    // boundaries must leave no seam in what the index answers.
    "stream_ann_ingest" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val half = footerMaxId(s, s"$dir/embeddings.parquet", "vec_id") / 2
      // the SAME fixture-keyed base index sim_index_update reads — the
      // old half is trained and coded once ever, for both queries
      val scratch = ivfPqOldScratch(s, dir, half)
      val run = runDir("graft_anns")
      val stream = sliceStream(s,
        emb.filter(col("vec_id") > half), "vec_id", 4)(
        fixtureScratch(s, s"$dir/embeddings.parquet", "annsin", "in"))
      drain(s, stream)(graft.streaming.StreamOps.annIngestStream(_, scratch,
        s"$run/append", s"$run/ckpt"))
      // fold ALL drained epochs into one partition before serving (the
      // stream is stopped, so every epoch is committed and foldable):
      // the gate below then asserts the compacted index answers
      // identically to a full batch rebuild
      graft.streaming.IngestCompaction.compact(s, s"$run/append",
        upToEpoch = Long.MaxValue, orderCols = Seq("list"))
      val centroids = Similarity.loadIvfPqCentroids(s, scratch)
      val served = s.read.parquet(s"$scratch/codes")
        .unionByName(s.read.parquet(s"$run/append").drop("ingest_batch"))
      val queries = emb.filter(col("vec_id") < 5)
      val drained = Similarity.ivfPQQuery(served, centroids, emb, queries,
        k = 10, nprobe = 6, rerank = 4)
      val rebuilt = Similarity.ivfPQQuery(
        Similarity.ivfPqCodeRows(emb, centroids), centroids, emb, queries,
        k = 10, nprobe = 6, rerank = 4)
      // deterministic total order (sim desc, vec_id) ⇒ identical indexes
      // answer identically rank for rank; full outer leaves no one-sided
      // rows and sims agree exactly-ish (same arithmetic, same plan)
      val eq = drained.as("d")
        .join(rebuilt.as("r"), Seq("query_id", "rank"), "full")
        .agg((count(when(col("d.vec_id").isNull || col("r.vec_id").isNull
          || col("d.vec_id") =!= col("r.vec_id")
          || abs(col("d.sim") - col("r.sim")) > 1e-12, 1)) === 0)
          .as("equal_ok"))
      served.agg(count(lit(1)).as("n_index_rows"))
        .crossJoin(broadcast(eq))
    }),

    // Streaming text→vector ingest — closes the hashed-embedding
    // family's triangle (batch oracle + served ANN recall + streaming):
    // raw DOCUMENT TEXT streams in (file-per-trigger micro-batches),
    // each batch is embedded IN-FLIGHT by the row-local kernel
    // (hashEmbedUnit is streaming-safe: projection + filter, no state,
    // no shuffle) and appended to a frozen-quantizer IVF-PQ index via
    // the shared ingest skeleton; the drained index must answer every
    // query identically to a full batch rebuild over the same
    // embeddings — the stream_ann_ingest gate, fed by text instead of
    // pretrained vectors.
    "stream_text_embed_ingest" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val emb = CacheScope.persist(
        TextOps.hashEmbedUnit(docs).withColumnRenamed("doc_id", "vec_id"))
      val half = footerMaxId(s, s"$dir/documents.parquet") / 2
      val scratch = fixtureScratch(s, s"$dir/documents.parquet", "teold",
        "codes") { tmp =>
        Similarity.saveIvfPqIndex(emb.filter(col("vec_id") <= half), tmp,
          nlist = 16,
          corpusKey = Some(tableKey(s, s"$dir/documents.parquet") + ":teold"))
      }
      val run = runDir("graft_tes")
      val textStream = sliceStream(s,
        docs.filter(col("doc_id") > half).select("doc_id", "text"),
        "doc_id", 4)(
        fixtureScratch(s, s"$dir/documents.parquet", "tesin", "in"))
      val vecStream = TextOps.hashEmbedUnit(textStream)
        .withColumnRenamed("doc_id", "vec_id")
      drain(s, vecStream)(graft.streaming.StreamOps.annIngestStream(_,
        scratch, s"$run/append", s"$run/ckpt"))
      graft.streaming.IngestCompaction.compact(s, s"$run/append",
        upToEpoch = Long.MaxValue, orderCols = Seq("list"))
      val centroids = Similarity.loadIvfPqCentroids(s, scratch)
      val served = s.read.parquet(s"$scratch/codes")
        .unionByName(s.read.parquet(s"$run/append").drop("ingest_batch"))
      val queries = emb.filter(col("vec_id") < 5)
      val drained = Similarity.ivfPQQuery(served, centroids, emb, queries,
        k = 10, nprobe = 6, rerank = 4)
      val rebuilt = Similarity.ivfPQQuery(
        Similarity.ivfPqCodeRows(emb, centroids), centroids, emb, queries,
        k = 10, nprobe = 6, rerank = 4)
      val eq = drained.as("d")
        .join(rebuilt.as("r"), Seq("query_id", "rank"), "full")
        .agg((count(when(col("d.vec_id").isNull || col("r.vec_id").isNull
          || col("d.vec_id") =!= col("r.vec_id")
          || abs(col("d.sim") - col("r.sim")) > 1e-12, 1)) === 0)
          .as("equal_ok"))
      served.agg(count(lit(1)).as("n_index_rows"))
        .crossJoin(broadcast(eq))
    }),

    "sim_neardup_ivf" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      recallGate(
        exact = Similarity.bruteForceNearDupPairs(emb, 0.45),
        // measured recall: 1.00 (sf0.01) / 0.90 (sf0.1) — multi-assignment
        // to nprobe lists catches pairs split by a list boundary
        approx = Similarity.ivfNearDupPairs(emb, 0.45, nlist = 16, nprobe = 3,
          corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet"))),
        keys = Seq("v1", "v2"), floor = 0.85, subset = true)
    }),

    // The PQ tier of the near-dup path: the per-list SELF-join moves
    // int8 residual codes (~dim bytes/side) instead of float arrays,
    // the approximate cut runs at threshold − slack, and exact cosine
    // verifies every survivor — subset_ok holds by construction, the
    // recall floor measures what the quantized cut loses (same floor
    // as sim_neardup_ivf: the slack absorbs the PQ error).
    "sim_neardup_ivfpq" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      recallGate(
        exact = Similarity.bruteForceNearDupPairs(emb, 0.45),
        approx = Similarity.ivfPQNearDupPairs(emb, 0.45, nlist = 16,
          nprobe = 3, slack = 0.05,
          corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet"))),
        keys = Seq("v1", "v2"), floor = 0.85, subset = true)
    }),

    // SemDeDup-style semantic dedup: cluster-scoped near-dup drops with
    // the min-id winner rule. Gate: exact-cosine verification means ZERO
    // false drops (subset), and the quantizer catches ≥ the IVF near-dup
    // floor of the true dominated set (same trained centroids — the
    // corpusKey cache shares them with sim_neardup_ivf).
    "sim_semantic_dedup" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val kept = Similarity.semanticDedup(emb, 0.45, nlist = 16, nprobe = 3,
        corpusKey = Some(tableKey(s, s"$dir/embeddings.parquet")))
      val exactDropped = Similarity.bruteForceNearDupPairs(emb, 0.45)
        .select(col("v2").as("vec_id")).distinct()
      val approxDropped = emb.select("vec_id")
        .join(kept.select("vec_id"), Seq("vec_id"), "left_anti")
      recallGate(exact = exactDropped, approx = approxDropped,
        keys = Seq("vec_id"), floor = 0.85, subset = true)
    }),

    // Embedding int8 compression round-trip: per-vector quantize /
    // reconstruct in one native pass; the gate asserts the error bound
    // (≤ scale/2) holds corpus-wide — the oracle states the vector count
    // and the expected verdict.
    "sim_quant_gate" -> ((s, dir) =>
      Similarity.int8RoundTrip(table(s, dir, "embeddings"))
        .agg(count(lit(1)).as("n_vecs"),
          coalesce(min(col("quant_ok")), lit(true)).as("quant_ok"))),

    // Frozen-codebook topic clustering: nearest-centroid assignment
    // against LITERAL centroids — a direct relational oracle on the
    // NearestCentroidsKernel itself (rank key ‖c‖²−2·v·c, dot in
    // element order, ties toward the smaller index), the same compiled
    // node the k-means–trained IVF tier rides. Row-local; zero shuffles.
    "sim_cluster_assign" -> ((s, dir) =>
      Similarity.assignClusters(table(s, dir, "embeddings"),
        ClusterCentroids)),

    // Cluster-based density pruning (Sorscher et al. 2022): keep the
    // hardest half of every prototype cluster — the class-balanced
    // data-pruning schedule. Rank key and tie rules are restated
    // bit-for-bit by the relational oracle (densityPruneSql); the only
    // exchange is the per-cluster window's hash partition.
    "sim_density_prune" -> ((s, dir) =>
      Similarity.densityPrune(table(s, dir, "embeddings"),
        ClusterCentroids, keepFrac = 0.5)),

    // The mega-cluster scale path gated against the exact one: the
    // sort-free approx-quantile threshold prune must agree with the
    // exact rank prune on ≥ 90% of kept rows AND hold every cluster's
    // kept fraction within keepFrac ± 0.05 — the deviation a 100 TB
    // deployment trades for never sorting a dominant cluster through
    // single-task runs. The oracle restates the exact-path row count.
    "sim_density_prune_approx" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val exact = Similarity.densityPrune(emb, ClusterCentroids,
        keepFrac = 0.5)
      val approx = graft.CacheScope.persist(
        Similarity.densityPruneApprox(emb, ClusterCentroids,
          keepFrac = 0.5))
      val sizes = Similarity.assignClusters(emb, ClusterCentroids)
        .groupBy("cluster").agg(count(lit(1)).as("n"))
      val fracOk = approx.groupBy("cluster").agg(count(lit(1)).as("k"))
        .join(sizes, Seq("cluster"))
        .agg(coalesce(
          min(abs(col("k") / col("n") - lit(0.5)) <= lit(0.05)),
          lit(true)).as("frac_ok"))
      recallGate(exact, approx, Seq("vec_id", "cluster"), floor = 0.9)
        .crossJoin(fracOk)
    }),

    // As-of join (extension): for each purchase, the same user's most
    // recent view at-or-before it in the log's total order — the
    // "state as of this event" lookup. The oracle is DuckDB's native
    // ASOF LEFT JOIN; the engine plans it as one keyed window, no
    // inequality join (see EventLog.asofJoin).
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      EventLog.asofJoin(
          EventLog.signatureFilter(ev, "purchase")
            .select("event_id", "block_number", "user_id", "value"),
          EventLog.signatureFilter(ev, "view"))
    }),

    // ------------------------------------------------------------------
    // General SQL surface (comes "for free" on Spark — SURVEY §2.7) —
    // also the bench headliners at sf0.1.
    // ------------------------------------------------------------------
    "q1_pricing_summary" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    "q3_segment_revenue" -> ((s, dir) => {
      val cust = table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = table(s, dir, "orders").filter(col("o_orderstatus") === "O")
      val li = table(s, dir, "lineitem")
      li.join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Q6-style: tight filter + aggregate — pure whole-stage-codegen scan
    "q6_forecast_revenue" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
            lit("1994-01-01").cast("timestamp"), lit("1994-12-31").cast("timestamp"))
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast("double").as("revenue"), count(lit(1)).as("n_items"))),

    // Q14-style: fact ⋈ broadcast dim + conditional aggregate ratio
    "q14_promo_revenue" -> ((s, dir) => {
      val part = table(s, dir, "part")
      table(s, dir, "lineitem")
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) * sum(when(col("p_type").startsWith("PROMO"),
            dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .otherwise(lit(BigDecimal(0)).cast("decimal(18,2)"))).cast("double")
          / sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double")).as("promo_share"))
    }),

    // Q18-style: large-quantity orders — agg + having + two joins
    "q18_big_orders" -> ((s, dir) => {
      val totals = table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(dec(col("l_quantity"))).as("total_qty"))
        .filter(col("total_qty") > 150)
      totals
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(table(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .select(col("l_orderkey").as("orderkey"), col("c_name"),
          col("total_qty").cast("double").as("total_qty"))
    }),

    // rollup / grouping sets
    "q_rollup_revenue" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))),

    // CUBE — all 2^2 grouping sets in one pass (Expand + single
    // aggregation), completing the rollup/cube pair
    "q_cube_counts" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          count(lit(1)).as("n_items"))),

    // analytic window function: per-customer running order total
    "q_window_running" -> ((s, dir) =>
      table(s, dir, "orders")
        .withColumn("running_total",
          sum(dec(col("o_totalprice"))).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("o_custkey"))
              .orderBy(col("o_orderdate"), col("o_orderkey")))
            .cast("double"))
        .select("o_custkey", "o_orderkey", "running_total")),

    // Retention cohort matrix (product-analytics staple): users bucketed
    // by first-activity day, distinct-active counts per (cohort, age).
    // Day math is integer division on the epoch-nano longs — ts exceeds
    // double precision, so no float division anywhere. The first-event
    // table is user-keyed like the activity days: the join reuses the
    // aggregation's exchange instead of a fresh shuffle.
    "q_retention_cohorts" -> ((s, dir) => {
      val ev = events(s, dir)
      // nanos fixtures read as epoch-nano LONGs (on a session where the
      // caller set nanosAsLong), micros as TIMESTAMP — integer day math either way (ns magnitudes exceed
      // double precision, so never a float division)
      // FLOOR division via pmod, not `div` (truncation): the oracle's
      // `//` floors, and the two disagree on pre-1970 timestamps
      val dayExpr = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("(ts - pmod(ts, 86400000000000)) div 86400000000000")
        // NTZ → TIMESTAMP is a same-wall-clock relabel under the UTC
        // session tz, matching DuckDB's epoch math on naive timestamps
        case _ => expr("""(unix_micros(cast(ts as timestamp))
            - pmod(unix_micros(cast(ts as timestamp)), 86400000000))
            div 86400000000""")
      }
      val days = ev.select(col("user_id"), dayExpr.as("day"))
      val first = days.groupBy("user_id").agg(min("day").as("cohort"))
      days.join(first, "user_id")
        .groupBy(col("cohort"), (col("day") - col("cohort")).as("age_days"))
        .agg(countDistinct("user_id").as("n_users"))
    }),

    // set operation: customers ordering in both years
    "q_setop_repeat_customers" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1994).select("o_custkey")
        .intersect(
          o.filter(year(col("o_orderdate")) === 1995).select("o_custkey"))
    }),

    // Q4-style: EXISTS as a LEFT SEMI join — the probe side never fans
    // out, so no post-join dedup; the non-equi late-shipment predicate
    // rides on the join condition
    "q4_order_priority" -> ((s, dir) => {
      val ord = table(s, dir, "orders")
      val li = table(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      ord.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),

    // Q12-style: conditional CASE aggregation over the fact⋈dim join,
    // one pass, keyed by ship year
    "q12_priority_lines" -> ((s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      table(s, dir, "lineitem")
        .join(table(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_lines"),
          sum(when(high, 0L).otherwise(1L)).as("low_lines"))
    }),

    // Q16-style: broadcast ANTI-join exclusion (complaint suppliers)
    // + distinct supplier count per brand/size band
    "q16_supplier_variety" -> ((s, dir) => {
      val excluded = table(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
      table(s, dir, "lineitem")
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(table(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), (col("p_size") % 5).as("size_band"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // Q19-style: disjunctive brand/size/quantity predicate bands — the
    // join stays the equi `l_partkey = p_partkey` (broadcast), the OR
    // evaluates as a post-join filter, never a cartesian
    "q19_branded_revenue" -> ((s, dir) => {
      def band(brand: String, sizeTo: Int, qFrom: Int, qTo: Int) =
        col("p_brand") === brand && col("p_size").between(1, sizeTo) &&
          col("l_quantity").between(qFrom, qTo)
      table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .filter(band("Brand#12", 5, 1, 11) || band("Brand#23", 10, 10, 20) ||
          band("Brand#34", 15, 20, 30))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q5_nation_revenue" -> ((s, dir) => {
      val region = table(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = table(s, dir, "nation")
      val supplier = table(s, dir, "supplier")
      val li = table(s, dir, "lineitem")
      val dims = supplier
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("n_name"))
      li.join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Q7-style volume shipping: the two-nation trade flow — lineitem is
    // the only fact; supplier→nation and orders→customer→nation both
    // collapse to broadcast key→name maps before touching it, so the
    // plan is one fact scan + one aggregation shuffle
    "q7_volume_shipping" -> ((s, dir) => {
      val nation = table(s, dir, "nation")
      val supp = table(s, dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val custOrd = table(s, dir, "orders")
        .join(broadcast(table(s, dir, "customer")
            .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
            .select(col("c_custkey"), col("n_name").as("cust_nation"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("cust_nation"))
      table(s, dir, "lineitem")
        .filter(year(col("l_shipdate")).between(1996, 1997))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(custOrd, col("l_orderkey") === col("o_orderkey"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
          || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("bigint").as("l_year"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
    }),

    // Q8-style market share: one nation's share of a part type's revenue
    // inside one region, per year — conditional-sum ratio over a single
    // fact pass; every dimension broadcasts
    "q8_market_share" -> ((s, dir) => {
      val nation = table(s, dir, "nation")
      val custRegion = table(s, dir, "customer")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"))
      val ords = table(s, dir, "orders")
        .filter(year(col("o_orderdate")).between(1996, 1997))
        .join(broadcast(custRegion), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("o_year"))
      val suppNation = table(s, dir, "supplier")
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")
            .filter(col("p_type") === "PROMO").select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_year"))
        // ratio of the two exact decimal sums taken in DOUBLE (the q14
        // idiom): decimal÷decimal scale rules differ between engines,
        // IEEE double division of identical operands does not
        .agg((sum(when(col("supp_nation") === "NATION_3",
            dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double")).as("mkt_share"),
          count(lit(1)).as("n_items"))
    }),

    // Q10-style returned-item ranking: revenue lost to returns per
    // customer in one quarter, top 20 — TakeOrderedAndProject tail with
    // a deterministic custkey tiebreak, never a global sort
    "q10_returned_items" -> ((s, dir) => {
      val ords = table(s, dir, "orders")
        .filter(col("o_orderdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1996-03-31").cast("timestamp")))
        .select(col("o_orderkey"), col("o_custkey"))
      val rev = table(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .join(broadcast(ords), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
      rev.join(broadcast(table(s, dir, "customer")
          .join(broadcast(table(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          col("c_acctbal"), col("n_name"))
    }),

    // Q13-style customer order-count distribution (adapted: the fixture
    // carries no o_comment, so the excluded class is a priority tier):
    // LEFT join keeps zero-order customers, then a distribution over the
    // per-customer counts — two aggregation shuffles by construction
    "q13_order_distribution" -> ((s, dir) => {
      val ords = table(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      table(s, dir, "customer")
        .join(ords, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
    }),

    // Q15-style top supplier: quarter revenue per supplier, keep the
    // max — the scalar-subquery shape as a broadcast of a 1-row agg
    "q15_top_supplier" -> ((s, dir) => {
      val rev = table(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"),
          lit("1996-03-31").cast("timestamp")))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .as("total_revenue"))
      val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
      rev.join(broadcast(top), col("total_revenue") === col("max_revenue"))
        .join(broadcast(table(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_revenue").cast("double").as("total_revenue"))
    }),

    // Q17-style small-quantity revenue: the correlated per-part AVG
    // subquery as a broadcast per-part aggregate re-joined to the fact —
    // the decorrelation Catalyst would have to find is written directly
    "q17_small_quantity" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val parts = table(s, dir, "part")
        .filter(col("p_brand") === "Brand#12" && col("p_type") === "SMALL")
        .select(col("p_partkey"))
      val branded = li.join(broadcast(parts),
        col("l_partkey") === col("p_partkey"))
      val avgQty = branded.groupBy(col("p_partkey").as("avg_pk"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_threshold"))
      branded.join(broadcast(avgQty), col("p_partkey") === col("avg_pk"))
        .filter(col("l_quantity") < col("qty_threshold"))
        .agg((sum(dec(col("l_extendedprice"))) / 7.0).cast("double")
          .as("avg_yearly"),
          count(lit(1)).as("n_items"))
    }),

    // Q22-style idle-customer opportunity (adapted twice for the
    // fixture: no c_phone, so the country screen is a nation-key
    // in-list; and every customer has SOME order, so "idle" means
    // LAPSED — no order since 2000 — keeping the anti-join non-vacuous):
    // above-average balances with no recent orders — scalar-subquery
    // broadcast + left-anti join, grouped per nation
    "q22_idle_customers" -> ((s, dir) => {
      val nations = Seq(1, 2, 3, 4, 5, 6).map(lit(_))
      val cust = table(s, dir, "customer")
        .filter(col("c_nationkey").isin(nations: _*))
      // exact decimal sum (the balances are 2-dp money values) divided
      // in double: deterministic across partition orders AND engines —
      // a raw double avg would be summation-order-sensitive at the ulp
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg((sum(dec(col("c_acctbal"))).cast("double") /
          count(lit(1))).as("avg_bal"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(table(s, dir, "orders")
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sum(dec(col("c_acctbal"))).cast("double").as("totacctbal"))
    }),

    // Q2-style min-cost supplier (adapted: the fixture has no partsupp,
    // so the part↔supplier cost relation derives from lineitem — the
    // per-pair MIN price stands in for ps_supplycost): the correlated
    // per-part MIN subquery decorrelated as a per-part aggregate
    // re-joined on (part, cost) equality; region dims broadcast, and
    // both aggregations grow from one (l_partkey, l_suppkey) shuffle
    "q2_min_cost_supplier" -> ((s, dir) => {
      val dims = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(table(s, dir, "region")
            .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      // ONE exchange for the whole fact side: the up-front l_partkey
      // repartition satisfies BOTH the (l_partkey, l_suppkey) aggregate
      // (subset-key clustering co-locates every group) and the per-part
      // window below — Catalyst inserts no further shuffle. This trades
      // the map-side partial agg away (raw rows shuffle once instead of
      // partially-combined rows shuffling twice); measured at sf0.1:
      // 0.98 s vs 1.52 s for the two-exchange shape — the stage barrier
      // and second shuffle cost more than the combine saves at TPC-H's
      // ~4-rows-per-(part,supp) fan-in
      val rps = table(s, dir, "lineitem")
        .repartition(col("l_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(dec(col("l_extendedprice"))).as("supplycost"))
        .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      // per-part MIN over region suppliers as a WINDOW over the already
      // co-located rps — one fact scan total, where the
      // aggregate-and-join-back decorrelation would re-scan lineitem (no
      // exchange reuse across the two agg subtrees); decimal equality
      // against the window min is exact, so no float-compare hazard
      rps.withColumn("min_cost",
          min(col("supplycost")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("l_partkey"))))
        .filter(col("supplycost") === col("min_cost"))
        .join(broadcast(table(s, dir, "part")
            .filter(col("p_size") === 15 && col("p_type") === "SMALL")
            .select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
        .select(col("s_acctbal").cast("double").as("s_acctbal"),
          col("s_name"), col("n_name"), col("p_partkey"),
          col("supplycost").cast("double").as("supplycost"))
    }),

    // Q9-style product-type profit (adapted: no partsupp, so the cost
    // leg of the profit formula is retail price × quantity): part-name
    // LIKE screen and supplier→nation both broadcast before the fact;
    // the only big-big join is fact⋈orders on the order key — exact
    // decimal profit summed, cast to double at the boundary
    "q9_product_profit" -> ((s, dir) => {
      val profitParts = table(s, dir, "part")
        .filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"), col("p_retailprice"))
      val suppNation = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      table(s, dir, "lineitem")
        .join(broadcast(profitParts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"),
          year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))
            - dec(col("p_retailprice")) * dec(col("l_quantity")))
          .cast("double").as("sum_profit"),
          count(lit(1)).as("n_items"))
    }),

    // Q11-style important parts (adapted: lineitem price × quantity
    // stands in for partsupp value): the HAVING > fraction-of-total
    // shape — a global 1-row scalar broadcast against the per-part
    // aggregate; both sums stay exact decimal, the fraction compare
    // happens in double with identical association on both engines
    "q11_important_share" -> ((s, dir) => {
      val scoped = table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "supplier")
            .join(broadcast(table(s, dir, "nation")
                .filter(col("n_name") === "NATION_1")),
              col("s_nationkey") === col("n_nationkey"))
            .select(col("s_suppkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey"),
          (dec(col("l_extendedprice")) * dec(col("l_quantity"))).as("v"))
      // the per-part aggregate feeds BOTH the share filter and the
      // global total; AQE reuses the exchange only at stage
      // materialization time, so without this persist the static plan
      // carries (and a cold run computes) an identical twin of the
      // aggregate — including a second scan of the fact. One row per
      // part, MEMORY_AND_DISK: bounded and spill-safe at any SF.
      val perPart = graft.CacheScope.persist(
        scoped.groupBy(col("l_partkey"))
          .agg(sum(col("v")).as("part_value")),
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = perPart.agg(sum(col("part_value")).as("total_value"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_value").cast("double") >
          col("total_value").cast("double") * 0.0005)
        .select(col("l_partkey"),
          col("part_value").cast("double").as("part_value"))
    }),

    // Q20-style excess shippers (adapted: shipped quantity above half
    // the per-part average replaces availqty > half of shipped): the
    // nested-IN chain as semi joins — part screen broadcast into the
    // fact, per-part threshold via the q17 broadcast idiom, and the
    // supplier list reaches the dimension as a broadcast semi join
    "q20_excess_suppliers" -> ((s, dir) => {
      val shipped = table(s, dir, "lineitem")
        .join(broadcast(table(s, dir, "part")
            .filter(col("p_name").like("red%")).select(col("p_partkey"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).as("qty"))
      val thr = shipped.groupBy(col("l_partkey").as("t_pk"))
        .agg((lit(0.5) * sum(col("qty")).cast("double") / count(lit(1)))
          .as("half_avg"))
      val excess = shipped
        .join(broadcast(thr), col("l_partkey") === col("t_pk"))
        .filter(col("qty").cast("double") > col("half_avg"))
        .select(col("l_suppkey")).distinct()
      table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
            .filter(col("n_name") === "NATION_2")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(excess), col("s_suppkey") === col("l_suppkey"),
          "left_semi")
        .orderBy(col("s_name"))
        .select(col("s_name"), col("s_acctbal").cast("double").as("s_acctbal"))
    }),

    // Q21-style waiting suppliers (adapted: no receipt/commit dates, so
    // "the line that came back" is the returned flag — the supplier's
    // lines in multi-supplier 'F' orders where NO OTHER supplier's line
    // returned; the supplier's own lines are NOT screened on the flag,
    // and both engines state exactly that): EXISTS →
    // left-semi, NOT EXISTS → left-anti, both keyed on the order key
    // with the different-supplier residual riding the join condition;
    // the supplier screen broadcasts FIRST so the semi/anti legs probe
    // the already-narrowed fact
    "q21_waiting_suppliers" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val suppN3 = table(s, dir, "supplier")
        .join(broadcast(table(s, dir, "nation")
            .filter(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      val l1 = li.select(col("l_orderkey"), col("l_suppkey"))
        .join(broadcast(suppN3), col("l_suppkey") === col("s_suppkey"))
        .join(table(s, dir, "orders")
            .filter(col("o_orderstatus") === "F").select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
      val l2 = li.select(col("l_orderkey").as("l2_ok"),
        col("l_suppkey").as("l2_sk"))
      val l3 = li.filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("l3_ok"), col("l_suppkey").as("l3_sk"))
      l1.join(l2, col("l_orderkey") === col("l2_ok") &&
            col("l_suppkey") =!= col("l2_sk"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_ok") &&
            col("l_suppkey") =!= col("l3_sk"), "left_anti")
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(100)
    })
  )

  // ---------------------------------------------------------------------
  // DuckDB oracle SQL — same tables, same column names, same output types.
  // ---------------------------------------------------------------------
  /** Shared SQL fragment: the events table with derived block keys. */
  private val EvKeys =
    "SELECT *, event_id // 10 AS block_number, event_id % 10 AS log_index FROM events"

  /** Shared oracle for the multi-event decode pair — batch and streaming
    * produce identical rows, so they share one SQL definition.
    */
  private lazy val P2DecodeMultiSql =
    s"""SELECT block_number, log_index,
         CASE WHEN event_type = 'purchase' THEN 'transfer'
              ELSE 'approval' END AS event_name,
         CASE WHEN event_type = 'purchase'
              THEN '0x' || lpad(lower(hex(user_id)), 40, '0') END AS t_from,
         CASE WHEN event_type = 'purchase'
              THEN '0x' || lpad(lower(hex(user_id + 1)), 40, '0') END AS t_to,
         CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END
           AS t_value,
         CASE WHEN event_type = 'click'
              THEN '0x' || lpad(lower(hex(user_id)), 40, '0') END AS a_owner,
         CASE WHEN event_type = 'click'
              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END
           AS a_spent
       FROM ($EvKeys) WHERE event_type IN ('purchase', 'click')"""

  private val Revenue =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** Shared oracle fragment: the composite quality formula over a raw
    * `text` column (mirrors TextOps.qualityExpr — one definition, used by
    * every oracle that scores quality inline).
    */
  private val QualitySql =
    """CASE WHEN len(regexp_extract_all(lower(text), '\S+')) = 0
            OR len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) = 0
       THEN 0.0 ELSE
       0.4 * least(CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE) / 100.0, 1.0)
       + 0.3 * (1.0 - CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'), x -> regexp_full_match(x, '[^a-z0-9]'))) AS DOUBLE)
           / CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS DOUBLE))
       + 0.3 * least((CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
           / CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE)) * 4.0, 1.0)
       END"""

  /** Shared oracle fragments: per-language stopword vote columns over
    * documents and the first-wins argmax (mirror TextOps.langId).
    */
  private val LangVotesCte =
    """SELECT doc_id,
         CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), w -> w IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS v_en,
         CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), w -> w IN ('der','die','das','und','ist','ein'))) AS BIGINT) AS v_de,
         CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), w -> w IN ('le','la','les','et','est','un'))) AS BIGINT) AS v_fr,
         CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), w -> w IN ('el','los','las','y','es','un'))) AS BIGINT) AS v_es,
         CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), w -> w IN ('的','是','在','了','和'))) AS BIGINT) AS v_zh
       FROM documents"""

  private val LangCaseSql =
    """CASE WHEN v_en >= v_de AND v_en >= v_fr AND v_en >= v_es AND v_en >= v_zh THEN 'en'
            WHEN v_de >= v_en AND v_de >= v_fr AND v_de >= v_es AND v_de >= v_zh THEN 'de'
            WHEN v_fr >= v_en AND v_fr >= v_de AND v_fr >= v_es AND v_fr >= v_zh THEN 'fr'
            WHEN v_es >= v_en AND v_es >= v_de AND v_es >= v_fr AND v_es >= v_zh THEN 'es'
            ELSE 'zh' END"""

  /** Unrolled min-label propagation steps for the dedup oracle (must
    * mirror `Dedup.clusterLabels` with maxIter rounds exactly).
    */
  private def labelSteps(n: Int): String =
    (1 to n).map { k =>
      s"""l$k AS (
           SELECT l.doc_id, least(l.cl, coalesce(min(nb.cl), l.cl)) AS cl
           FROM l${k - 1} l
           LEFT JOIN e ON e.d1 = l.doc_id
           LEFT JOIN l${k - 1} nb ON nb.doc_id = e.d2
           GROUP BY l.doc_id, l.cl)"""
    }.mkString(",\n")

  /** Gate oracle for the dedup self-checks: the exact n-gram-Jaccard pair
    * count at `minJaccard` plus the expected recall boolean (the
    * approximate side's recall contract is evaluated in Spark; the oracle
    * states the pass verdict it must reach).
    */
  private def ngramGateSql(minJaccard: Double,
      extraCols: String = ""): String =
    s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents),
       g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
             FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
       c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
       p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
             FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1,2)
       SELECT count(*) AS n_exact, true AS recall_ok$extraCols
       FROM p JOIN c c1 ON c1.doc_id = d1 JOIN c c2 ON c2.doc_id = d2
       WHERE CAST(shared AS DOUBLE)/CAST(c1.n + c2.n - shared AS DOUBLE) >= $minJaccard"""

  /** Shared oracle: per-user gap-20 session windows (mirrors
    * EventLog.sessionize; reused by the range-join oracle).
    */
  private val SessionizeSql =
    s"""WITH ev AS (
         SELECT *, CASE WHEN block_number - lag(block_number) OVER
             (PARTITION BY user_id ORDER BY block_number, log_index, event_id)
             > 20 THEN 1 ELSE 0 END AS boundary
         FROM ($EvKeys)),
       s AS (
         SELECT *, CAST(sum(boundary) OVER
             (PARTITION BY user_id ORDER BY block_number, log_index, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
         FROM ev)
       SELECT user_id, session_seq, count(*) AS n_events,
         min(block_number) AS session_from, max(block_number) AS session_to
       FROM s GROUP BY 1, 2"""

  /** Shared oracle: DSIR importance weights over word-bigram document
    * frequencies (mirrors TextOps.importanceWeights; counts are invariant
    * under the engine's gram hashing).
    */
  private val ImportanceWeightsSql =
    s"""WITH w AS (SELECT doc_id, lang = 'en' AS is_target,
              regexp_extract_all(text, '\\S+') AS ws FROM documents),
       g AS (SELECT DISTINCT doc_id, is_target, ws[i] || ' ' || ws[i+1] AS gram
             FROM w, unnest(generate_series(1, len(ws)-1)) AS t(i)),
       d AS (SELECT gram, count(*) AS df_all,
               count(*) FILTER (is_target) AS df_target FROM g GROUP BY 1),
       s AS (SELECT doc_id, count(*) AS n_grams,
               CAST(sum(df_target) AS BIGINT) AS sum_target,
               CAST(sum(df_all) AS BIGINT) AS sum_all
             FROM g JOIN d USING (gram) GROUP BY 1)
       SELECT doc_id, n_grams, sum_target, sum_all,
         CAST(sum_target + 1 AS DOUBLE) / CAST(sum_all + 1 AS DOUBLE) AS weight
       FROM s"""

  /** Shared BM25 ranking pipeline (mirrors [[TextOps.bm25TopK]] term for
    * term): every matching doc with its integer evidence and rank.
    */
  private val Bm25RankSql =
    """WITH p AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents),
       d AS (SELECT doc_id, len(ws) AS dl FROM p),
       stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM d),
       t AS (SELECT doc_id, unnest(ws) AS tok FROM p),
       tf AS (SELECT doc_id, tok, count(*) AS tf FROM t
              WHERE tok IN ('spark', 'vector', 'hash') GROUP BY 1, 2),
       dft AS (SELECT tok, count(*) AS dfreq FROM tf GROUP BY 1),
       c AS (SELECT tf.doc_id, tf.tf, d.dl,
               ln((stats.n - dft.dfreq + 0.5) / (dft.dfreq + 0.5) + 1.0) *
                 (tf.tf * (1.2 + 1.0)) /
                 (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl * stats.n / CAST(stats.sdl AS DOUBLE))) AS contrib
             FROM tf JOIN dft USING (tok) JOIN d USING (doc_id) CROSS JOIN stats),
       s AS (SELECT doc_id, count(*) AS matched_terms,
               CAST(sum(tf) AS BIGINT) AS tf_sum, max(dl) AS dl,
               sum(contrib) AS score FROM c GROUP BY 1),
       r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM s)
       SELECT doc_id, matched_terms, tf_sum, dl, rank FROM r"""

  /** Gate oracle for the cosine near-dup self-checks: exact pair count at
    * the threshold + the expected recall/subset booleans.
    */
  private val NearDupGateSql =
    """SELECT count(*) AS n_exact, true AS recall_ok, true AS subset_ok
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45"""

  /** Gate oracle for the ANN top-k self-checks: brute-force top-10 row
    * count (queries × k, short rows excluded by rank) + expected verdict.
    */
  /** CTE chain restating [[TextOps.hashEmbed]] in plain BIGINT SQL: per
    * char (DuckDB `ascii` of a one-char string = its codepoint — the
    * text_fingerprint convention), 3-gram injective code
    * `c1·65536² + c2·65536 + c3`, mix `(·31+7) mod 1000003`, slot
    * `mix mod 64`, sign from `(mix ÷ 64)` parity — every step exact
    * int64 on both engines. Terminal CTE `e` = (doc_id, dim, wt).
    */
  private def hashEmbedCtes(docFilter: String, p: String = ""): String =
    s"""${p}t AS (
         SELECT doc_id,
           list_transform(string_split(lower(text), ''),
             c -> CAST(ascii(c) AS BIGINT)) AS cps
         FROM documents WHERE $docFilter),
       ${p}g AS (
         SELECT doc_id, unnest(generate_series(1, len(cps) - 2)) AS i, cps
         FROM ${p}t WHERE len(cps) >= 3),
       ${p}hh AS (
         SELECT doc_id,
           ((cps[i] * 4294967296 + cps[i + 1] * 65536 + cps[i + 2]) * 31 + 7)
             % 1000003 AS mix
         FROM ${p}g),
       ${p}sl AS (
         SELECT doc_id, mix % 64 AS dim,
           CASE WHEN (mix // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
         FROM ${p}hh),
       ${p}e AS (
         SELECT doc_id, dim, sum(s) AS wt
         FROM ${p}sl GROUP BY doc_id, dim HAVING sum(s) <> 0)"""

  /** The semantic-flag CTE chain shared by both corpus-build capstone
    * oracles: prefixed embed replay over ALL documents + the
    * integer-cosine threshold (cos ≥ 4/5, HUGEINT products) of every
    * non-eval doc against the mod-97 eval split. Terminal CTE
    * `${p}sem` = (doc_id) of semantically-flagged docs. Computed over
    * the FULL corpus; the capstones intersect with their own kept sets,
    * which equals the Spark side's flag-after-gram-decon order (the
    * per-pair predicate doesn't depend on corpus membership).
    */
  private def semFlagCtes(p: String): String =
    s"""${hashEmbedCtes("TRUE", p)},
       ${p}nn AS (SELECT doc_id, sum(wt * wt) AS nrm FROM ${p}e
                  GROUP BY doc_id),
       ${p}sem AS (
         SELECT DISTINCT c.doc_id
         FROM ${p}e c JOIN ${p}e q USING (dim)
         JOIN ${p}nn n1 ON n1.doc_id = c.doc_id
         JOIN ${p}nn n2 ON n2.doc_id = q.doc_id
         WHERE c.doc_id % 97 <> 0 AND q.doc_id % 97 = 0
         GROUP BY c.doc_id, q.doc_id, n1.nrm, n2.nrm
         HAVING sum(c.wt * q.wt) > 0
           AND CAST(sum(c.wt * q.wt) AS HUGEINT) * sum(c.wt * q.wt) * 25
             >= 16 * CAST(n1.nrm AS HUGEINT) * n2.nrm)"""

  /** Byte-exact P5 → canonical-P6 gray-embedding replay, shared by
    * `mm_pgm_normalize` and `mm_gray_png_normalize`: the gray PNG
    * carries the exact P5 pixels, so both normalize to identical bytes
    * and one oracle serves both.
    */
  private val PgmNormalizeOracleSql: String =
    """WITH img AS (
         SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
       b AS (
         SELECT doc_id,
           substr(sha256(text||'#gy0')||sha256(text||'#gy1')
             ||sha256(text||'#gy2')||sha256(text||'#gy3'), 1, 240)
             AS bh
         FROM img),
       px AS (
         SELECT doc_id, i, repeat(substr(bh, 2*i+1, 2), 3) AS hex3
         FROM b, unnest(range(120)) AS t(i)),
       body AS (
         SELECT doc_id, string_agg(hex3, '' ORDER BY i) AS hex
         FROM px GROUP BY doc_id)
       SELECT doc_id, '50360a31322031300a3235350a' || hex AS ppm_hex
       FROM body"""

  /** Exact semantic-decon replay, shared verbatim by `decon_semantic`
    * and `decon_semantic_ivf` (the prescreened tier's contract is flagged-set
    * EQUALITY to the exact tier, so one oracle serves both).
    */
  private def deconSemanticCtesFor(benchPred: String): String =
    s"""WITH ${hashEmbedCtes(s"doc_id % 7 = 0 OR ($benchPred)")},
       nn AS (SELECT doc_id, sum(wt * wt) AS nrm FROM e GROUP BY doc_id),
       c AS (SELECT doc_id, dim, wt FROM e WHERE doc_id % 7 = 0),
       q AS (SELECT doc_id AS eval_id, dim, wt AS qwt FROM e
             WHERE $benchPred),
       d AS (SELECT c.doc_id, q.eval_id, sum(c.wt * q.qwt) AS dt
             FROM c JOIN q USING (dim) WHERE c.doc_id <> q.eval_id
             GROUP BY c.doc_id, q.eval_id),
       f AS (SELECT d.doc_id, d.eval_id FROM d
             JOIN nn n1 ON n1.doc_id = d.doc_id
             JOIN nn n2 ON n2.doc_id = d.eval_id
             WHERE dt > 0 AND CAST(dt AS HUGEINT) * dt * 25
               >= 16 * CAST(n1.nrm AS HUGEINT) * n2.nrm)"""

  private lazy val deconSemanticOracleCtes: String =
    deconSemanticCtesFor("doc_id % 491 = 0")

  /** Image-decon replay (shared by `mm_decon_flag`, its streaming
    * twin, and the incremental tier): hash both sides exactly as the
    * mm_dhash oracles do, band join, full-hash verify, distinct
    * flagged corpus ids in `fl`. `benchImgSql` selects the benchmark
    * `(doc_id, h)` rows — the incremental oracle passes the UNIONED
    * suite (its contract is full-re-run equality, never the
    * incremental decomposition itself).
    */
  private def mmDeconCtesFor(benchImgSql: String): String =
    mmDeconBandCtes(
      """SELECT doc_id, lower(sha256(text)) AS h FROM documents
         WHERE doc_id % 3 = 0""",
      benchImgSql) + s""",
       fl AS (
         SELECT DISTINCT c.doc_id
         FROM banded_c c JOIN banded_b b
           ON c.band_idx = b.band_idx AND c.band_key = b.band_key
             AND c.doc_id != b.doc_id
         WHERE CAST(bit_count(xor(c.bl[1], b.bl[1]))
             + bit_count(xor(c.bl[2], b.bl[2]))
             + bit_count(xor(c.bl[3], b.bl[3]))
             + bit_count(xor(c.bl[4], b.bl[4])) AS BIGINT) <= 6)"""

  /** The shared hash/band replay (corpus side `banded_c`, benchmark
    * side `banded_b`) parameterized by BOTH sides' `(doc_id, h)`
    * selections — the flag/incremental oracles append the distinct
    * flagged set `fl`, the report oracle the per-benchmark
    * attribution.
    */
  private def mmDeconBandCtes(corpusImgSql: String,
      benchImgSql: String): String =
    s"""WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
       img_c AS ($corpusImgSql),
       img_b AS ($benchImgSql),
       hash_c AS (
         SELECT doc_id,
           [CAST(list_sum([CASE WHEN
                substr(h, b*16+j+1, 1) > substr(h, ((b*16+j+1) % 64) + 1, 1)
                THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
              AS BIGINT) for b in range(4)] AS bl
         FROM img_c),
       hash_b AS (
         SELECT doc_id,
           [CAST(list_sum([CASE WHEN
                substr(h, b*16+j+1, 1) > substr(h, ((b*16+j+1) % 64) + 1, 1)
                THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
              AS BIGINT) for b in range(4)] AS bl
         FROM img_b),
       banded_c AS (
         SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
         FROM hash_c, unnest(range(4)) AS t(b)),
       banded_b AS (
         SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
         FROM hash_b, unnest(range(4)) AS t(b))"""

  private lazy val mmDeconOldBenchSql: String =
    """SELECT doc_id + (SELECT m FROM mx) AS doc_id,
         lower(sha256(text)) AS h FROM documents
       WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0"""

  private lazy val mmDeconFlagOracleCtes: String =
    mmDeconCtesFor(mmDeconOldBenchSql)

  /** The attribution report's oracle: the per-benchmark replay over
    * the EVEN (doc_id DIV 3) corpus half — count(DISTINCT) absorbs
    * the per-band duplicates exactly as the Spark agg does, zero-hit
    * benchmark items surface through the left join with
    * `(0, -1)` sentinels.
    */
  private lazy val mmDeconReportOracleSql: String =
    mmDeconBandCtes(
      """SELECT doc_id, lower(sha256(text)) AS h FROM documents
         WHERE doc_id % 3 = 0 AND (doc_id // 3) % 2 = 0""",
      mmDeconOldBenchSql) + s""",
       hits AS (
         SELECT eval_id, doc_id, hamming FROM (
           SELECT b.doc_id AS eval_id, c.doc_id AS doc_id,
             CAST(bit_count(xor(c.bl[1], b.bl[1]))
               + bit_count(xor(c.bl[2], b.bl[2]))
               + bit_count(xor(c.bl[3], b.bl[3]))
               + bit_count(xor(c.bl[4], b.bl[4])) AS BIGINT) AS hamming
           FROM banded_c c JOIN banded_b b
             ON c.band_idx = b.band_idx AND c.band_key = b.band_key) t
         WHERE hamming <= 6),
       rep AS (
         SELECT eval_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_flagged,
           min(hamming) AS min_hamming
         FROM hits GROUP BY eval_id)
       SELECT b.eval_id,
         coalesce(rep.n_flagged, 0) AS n_flagged,
         coalesce(rep.min_hamming, -1) AS min_hamming
       FROM (SELECT DISTINCT doc_id AS eval_id FROM img_b) b
       LEFT JOIN rep USING (eval_id)"""

  /** The incremental tier's oracle: the unioned (old ∪ appended)
    * benchmark through the SAME replay — monotone-update equality.
    */
  private lazy val mmDeconIncrOracleCtes: String = mmDeconCtesFor(
    s"""$mmDeconOldBenchSql
       UNION ALL
       SELECT doc_id + 2 * (SELECT m FROM mx) AS doc_id,
         lower(sha256(text)) AS h FROM documents
       WHERE doc_id % 3 = 0 AND (doc_id // 3) % 7 = 3""")

  private lazy val deconSemanticOracleSql: String =
    s"""$deconSemanticOracleCtes
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches
       FROM f GROUP BY doc_id"""

  /** The flag tier returns the DISTINCT doc ids of the exact tier —
    * the semi-join's early exit changes cost, never the set.
    */
  private lazy val deconSemanticFlagOracleSql: String =
    s"""$deconSemanticOracleCtes
       SELECT DISTINCT doc_id FROM f"""

  /** The incremental tier's contract is monotone-update equality: its
    * result set equals a FULL flag-tier re-run against the unioned
    * benchmark, so the oracle is the exact tier's distinct flagged ids
    * over (old mod-491 suite ∪ new mod-97≡11 suite) — never the
    * incremental decomposition itself.
    */
  /** The report's oracle: the exact tier's passing-pair stream grouped
    * by BENCHMARK doc (the counts are exact because the ball-cover
    * prescreen is recall-1), zero-match evals via the left join.
    */
  private lazy val deconSemanticReportOracleSql: String =
    s"""$deconSemanticOracleCtes,
       rep AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_matched
               FROM f GROUP BY eval_id)
       SELECT b.doc_id AS eval_id,
         CAST(coalesce(rep.n_matched, 0) AS BIGINT) AS n_matched
       FROM (SELECT doc_id FROM documents WHERE doc_id % 491 = 0) b
       LEFT JOIN rep ON rep.eval_id = b.doc_id"""

  private lazy val deconSemanticIncrOracleSql: String =
    s"""${deconSemanticCtesFor("doc_id % 491 = 0 OR doc_id % 97 = 11")}
       SELECT DISTINCT doc_id FROM f"""

  private val TopKGateSql =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
       p AS (SELECT qid, vec_id, list_cosine_similarity(qe, embedding) AS sim
             FROM q, embeddings WHERE vec_id != qid),
       r AS (SELECT qid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank FROM p)
       SELECT count(*) AS n_exact, true AS recall_ok FROM r WHERE rank <= 10"""

  lazy val oracleSql: Map[String, String] = Map(
    "dedup_minhash_lsh" -> ngramGateSql(0.8),
    // capped == uncapped on the natural-entropy fixture; the equality is
    // asserted in Spark (engine-internal hashes), the oracle anchors the
    // corpus count
    "dedup_minhash_cap_gate" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS equal_ok FROM documents",
    // served-from-parquet == from-scratch equality asserted in Spark;
    // the oracle anchors the indexed slice's size
    "dedup_pairs_from_index" ->
      """WITH h AS (SELECT max(doc_id) // 2 AS half FROM documents)
         SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS equal_ok
         FROM documents, h WHERE doc_id <= h.half""",
    "dedup_incremental_neardup" ->
      """WITH h AS (SELECT max(doc_id) // 2 AS half FROM documents)
         SELECT count(*) AS n_new_docs, true AS equal_ok
         FROM documents, h WHERE doc_id > h.half""",
    // fuzzy decontamination gate: exact cross-split contamination count
    // (the CORPUS-side id of every eval↔corpus pair at Jaccard ≥ 0.8)
    "decon_minhash" ->
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1,2),
         x AS (SELECT CASE WHEN d1 % 23 = 0 THEN d2 ELSE d1 END AS doc_id
               FROM p JOIN c c1 ON c1.doc_id = d1 JOIN c c2 ON c2.doc_id = d2
               WHERE (d1 % 23 = 0) <> (d2 % 23 = 0)
                 AND CAST(shared AS DOUBLE)/CAST(c1.n + c2.n - shared AS DOUBLE) >= 0.8)
         SELECT count(DISTINCT doc_id) AS n_exact, true AS recall_ok FROM x""",

    // streaming twin: same gate shape — the equality side is asserted in
    // Spark (full-outer seam check), the oracle anchors the exact count
    "stream_neardup" ->
      """WITH h AS (SELECT max(doc_id) // 2 AS half FROM documents)
         SELECT count(*) AS n_new_docs, true AS equal_ok
         FROM documents, h WHERE doc_id > h.half""",

    // the multimodal ingest twin: same relational half (new-doc count)
    // + the in-plan streamed==full-recompute verdict
    "stream_mm_ingest" ->
      """WITH h AS (SELECT max(doc_id) // 2 AS half FROM documents)
         SELECT count(*) AS n_new_docs, true AS equal_ok
         FROM documents, h WHERE doc_id > h.half""",
    "dedup_winnow" -> ngramGateSql(0.8),
    "dedup_simhash" -> ngramGateSql(0.95),

    // the scaled-layout gate adds the in-plan layout-equality verdict:
    // both layouts are complete for distance <= 3 with an exact final
    // verify, so equality is a theorem the plan re-proves per run
    "dedup_simhash_probed" ->
      ngramGateSql(0.95, ", true AS layouts_equal"),
    "sim_topk_lsh" -> TopKGateSql,
    "sim_topk_ivf" -> TopKGateSql,
    "sim_topk_ivfpq" -> TopKGateSql,
    // served-from-parquet index path: same gate shape as the in-session PQ
    "sim_topk_ivfpq_index" -> TopKGateSql,
    // append-shard = rebuild equality: every embedding contributes exactly
    // one code row, and the row-local quantization under frozen centroids
    // is deterministic — so the oracle is the corpus count + a true flag
    "sim_index_update" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_index_rows, true AS equal_ok
         FROM embeddings""",
    // streaming twin: the served-index row count is the full corpus (one
    // code row per embedding, frozen-quantizer determinism); the
    // served-equals-rebuilt equality is asserted in Spark
    "stream_ann_ingest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_index_rows, true AS equal_ok
         FROM embeddings""",
    // old-half codes + in-flight-embedded streamed half = every doc
    // with a nonzero embedding, restated from the embed CTEs themselves
    // (docs in `e` = any nonzero slot survives the HAVING) rather than
    // a length(text) >= 3 proxy — hashEmbedUnit also drops docs whose
    // signed gram weights fully cancel (norm 0 with >= 3 grams), which
    // the length predicate would overcount (round-16 ADVICE); equality
    // to the batch rebuild is the Spark-side verdict
    "stream_text_embed_ingest" ->
      s"""WITH ${hashEmbedCtes("TRUE")}
         SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_index_rows,
           true AS equal_ok
         FROM e""",
    "sim_neardup_lsh" -> NearDupGateSql,
    "sim_neardup_ivf" -> NearDupGateSql,
    "sim_neardup_ivfpq" -> NearDupGateSql,
    // exact semantic dedup drops = docs with ANY smaller-id neighbor ≥ τ
    "sim_semantic_dedup" ->
      """SELECT count(DISTINCT b.vec_id) AS n_exact, true AS recall_ok,
           true AS subset_ok
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45""",
    "dedup_representatives" ->
      s"""WITH w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         gf AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= $MaxGramDf),
         gc AS (SELECT g.doc_id, g.gram FROM g JOIN gf USING (gram)),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM gc a JOIN gc b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1,2),
         j AS (SELECT d1, d2
               FROM p JOIN c c1 ON c1.doc_id = d1 JOIN c c2 ON c2.doc_id = d2
               WHERE CAST(shared AS DOUBLE)/CAST(c1.n + c2.n - shared AS DOUBLE) >= 0.8),
         e AS (SELECT d1, d2 FROM j UNION ALL SELECT d2 AS d1, d1 AS d2 FROM j),
         l0 AS (SELECT doc_id, doc_id AS cl FROM documents),
         ${labelSteps(5)}
         SELECT doc_id FROM l5 WHERE doc_id = cl""",

    "src_rpc_logs" ->
      """SELECT b.b AS block_number, i.i AS log_index, b.b * 1000 + i.i AS v
         FROM (SELECT unnest(generate_series(0, 118)) AS b) b
         CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) i""",

    "src_rpc_pushdown" ->
      """SELECT b.b AS block_number, i.i AS log_index, b.b * 1000 + i.i AS v
         FROM (SELECT unnest(generate_series(40, 80)) AS b) b
         CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) i
         WHERE i.i % 2 = 0""",

    "src_rpc_adaptive" ->
      """SELECT b.b AS block_number, i.i AS log_index, b.b * 1000 + i.i AS v
         FROM (SELECT unnest(generate_series(0, 88)) AS b) b
         CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) i""",

    "s7_sink_roundtrip" ->
      """SELECT b.b // 16 AS block_bucket, b.b AS block_number,
           i.i AS log_index, b.b * 1000 + i.i AS v
         FROM (SELECT unnest(generate_series(0, 80)) AS b) b
         CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS i) i""",

    "src_rpc_multi" ->
      ("""SELECT CASE WHEN i.i % 2 = 0 THEN '""" + "aa" * 20 +
        """' ELSE '""" + "bb" * 20 + """' END AS addr,
         count(*) AS n_logs,
         CAST(sum(b.b * 1000 + i.i) AS BIGINT) AS sum_v
         FROM (SELECT unnest(generate_series(0, 60)) AS b) b
         CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
         GROUP BY 1"""),

    "src_rpc_topic_slots" ->
      """SELECT b.b AS block_number, i.i AS log_index, b.b * 1000 + i.i AS v
         FROM (SELECT unnest(generate_series(0, 98)) AS b) b
         CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
         WHERE i.i = 1 AND b.b % 5 IN (0, 2)""",

    "p2_indexed_pushdown" ->
      """SELECT b.b AS block_number, i.i AS log_index, b.b * 1000 + i.i AS v
         FROM (SELECT unnest(generate_series(0, 98)) AS b) b
         CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) i
         WHERE b.b % 5 = 2 AND i.i >= 2""",

    "p2_indexed_signed" ->
      s"""SELECT block_number, log_index, user_id - 75 AS delta
         FROM ($EvKeys)
         WHERE event_type = 'purchase'
           AND user_id - 75 >= -50 AND user_id - 75 < 25""",

    "s1_log_scan" ->
      s"""SELECT event_id, block_number, log_index, user_id, value
         FROM ($EvKeys)
         WHERE event_type = 'purchase' AND block_number BETWEEN 10 AND 500""",

    "s1_removed_guard" ->
      """SELECT event_type, count(*) AS n_kept
         FROM events WHERE NOT (event_id % 97 = 0) GROUP BY event_type""",

    "s3_chunked_scan" ->
      s"""SELECT block_number // 100 AS chunk_id, count(*) AS n_events,
           min(block_number) AS chunk_from, max(block_number) AS chunk_to
         FROM ($EvKeys) GROUP BY 1""",

    "s5_hybrid_phases" ->
      s"""WITH ev AS ($EvKeys), h AS (SELECT max(block_number) AS head FROM ev)
         SELECT CASE WHEN block_number <= head - 2 THEN 'historical' ELSE 'live' END AS phase,
           count(*) AS n_events, min(block_number) AS from_block,
           max(block_number) AS to_block
         FROM ev, h GROUP BY 1""",

    "p2_decode_props" ->
      """SELECT event_type,
           CAST(sum(CAST(regexp_extract(props, '[0-9]+', 0) AS INTEGER)) AS BIGINT) AS sum_k,
           count(*) AS n_events
         FROM events GROUP BY event_type""",

    "p2_abi_roundtrip" ->
      s"""SELECT block_number, log_index,
           '0x' || lpad(lower(hex(user_id)), 40, '0') AS from_addr,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
         FROM ($EvKeys) WHERE event_type = 'purchase'""",

    "p2_abi_bytesn_roundtrip" ->
      s"""SELECT block_number, log_index,
           substr(sha256(CAST(user_id AS VARCHAR)), 1, 8) AS selector_hex,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
         FROM ($EvKeys) WHERE event_type = 'purchase'""",

    "p2_abi_fixed_roundtrip" ->
      s"""SELECT block_number, log_index,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS price,
           CAST(-CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS delta
         FROM ($EvKeys) WHERE event_type = 'purchase'""",

    "p2_abi_array_roundtrip" ->
      s"""WITH base AS (
           SELECT block_number, log_index,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             event_id % 3 + 1 AS n
           FROM ($EvKeys) WHERE event_type = 'purchase')
         SELECT block_number, log_index, CAST(i AS BIGINT) AS idx,
           cents + i AS amount
         FROM base, unnest(generate_series(0, n - 1)) t(i)""",

    "p2_abi_nested_roundtrip" ->
      s"""WITH base AS (
           SELECT block_number, log_index,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             event_id % 2 + 1 AS n
           FROM ($EvKeys) WHERE event_type = 'purchase')
         SELECT block_number, log_index, CAST(0 AS BIGINT) AS i,
           CAST(0 AS BIGINT) AS j, cents AS x FROM base
         UNION ALL SELECT block_number, log_index, 1, 0, cents + 1
           FROM base WHERE n = 2
         UNION ALL SELECT block_number, log_index, 1, 1, cents + 2
           FROM base WHERE n = 2""",

    "p2_abi_dynarray_roundtrip" ->
      s"""WITH base AS (
           SELECT block_number, log_index, event_type, user_id,
             event_id % 2 + 1 AS n
           FROM ($EvKeys) WHERE event_type = 'purchase')
         SELECT block_number, log_index, CAST(i AS BIGINT) AS idx,
           CASE WHEN i = 0 THEN event_type
                ELSE 'u' || CAST(user_id AS VARCHAR) END AS tag
         FROM base, unnest(generate_series(0, n - 1)) t(i)""",

    "p2_abi_tuple_roundtrip" ->
      s"""SELECT block_number, log_index,
           '0x' || lpad(lower(hex(user_id)), 40, '0') AS maker,
           event_id % 5 + 1 AS qty,
           CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS amount_cents,
           't' || CAST(user_id AS VARCHAR) AS note
         FROM ($EvKeys) WHERE event_type = 'purchase'""",

    "p2_abi_tuplearray_roundtrip" ->
      s"""WITH base AS (
           SELECT block_number, log_index, user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             event_id % 2 + 1 AS n
           FROM ($EvKeys) WHERE event_type = 'purchase')
         SELECT block_number, log_index, CAST(i AS BIGINT) AS idx,
           '0x' || lpad(lower(hex(user_id + i)), 40, '0') AS taker,
           cents + i AS amt
         FROM base, unnest(generate_series(0, n - 1)) t(i)""",

    "p2_abi_dyntuplearray_roundtrip" ->
      s"""WITH base AS (
           SELECT block_number, log_index, user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             event_id % 2 + 1 AS n
           FROM ($EvKeys) WHERE event_type = 'purchase')
         SELECT block_number, log_index, CAST(i AS BIGINT) AS idx,
           'm' || CAST(user_id + i AS VARCHAR) AS memo,
           cents + i AS amt
         FROM base, unnest(generate_series(0, n - 1)) t(i)""",

    "p3_address_hex" ->
      """SELECT user_id, '0x' || lpad(lower(hex(user_id)), 40, '0') AS addr
         FROM (SELECT DISTINCT user_id FROM events)""",

    "j1_frontier" ->
      s"""SELECT min(high_water) AS frontier FROM (
           SELECT max(block_number) AS high_water FROM ($EvKeys) GROUP BY event_type)""",

    "j1_high_water" ->
      s"""SELECT event_type AS source, max(block_number) AS high_water
         FROM ($EvKeys) GROUP BY event_type""",

    "j1_frontier_registered" ->
      s"""SELECT min(high_water) AS frontier FROM (
           SELECT max(block_number) AS high_water FROM ($EvKeys) GROUP BY event_type)""",

    "j2_flush_events" ->
      s"""WITH spine AS (
           SELECT b.block_number, s.source
           FROM (SELECT unnest(generate_series(0, 9)) AS block_number) b
           CROSS JOIN (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')) s(source))
         SELECT spine.block_number, spine.source, e.log_index, e.event_id
         FROM spine LEFT JOIN ($EvKeys) e
           ON spine.block_number = e.block_number AND spine.source = e.event_type""",

    "j2_block_align" ->
      s"""WITH spine AS (
           SELECT b.block_number, s.source
           FROM (SELECT unnest(generate_series(0, 19)) AS block_number) b
           CROSS JOIN (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view')) s(source)),
         g AS (
           SELECT block_number, event_type AS source, count(*) AS n_events,
             sum(CAST(value AS DECIMAL(18,2))) AS sum_value
           FROM ($EvKeys) WHERE block_number BETWEEN 0 AND 19 GROUP BY 1, 2)
         SELECT spine.block_number, spine.source,
           coalesce(g.n_events, 0) AS n_events,
           CAST(coalesce(g.sum_value, 0) AS DOUBLE) AS sum_value
         FROM spine LEFT JOIN g ON spine.block_number = g.block_number AND spine.source = g.source""",

    "j2_flush_stream" ->
      s"""WITH e AS ($EvKeys),
         mx AS (SELECT max(block_number) AS mb FROM e),
         spine AS (
           SELECT b.block_number, s.source
           FROM (SELECT unnest(generate_series(0, (SELECT mb FROM mx))) AS block_number) b
           CROSS JOIN (VALUES ('click'), ('error'), ('purchase'), ('signup'), ('view'), ('transfer')) s(source)),
         g AS (
           SELECT block_number, event_type AS source, count(*) AS n_events,
             sum(CAST(value AS DECIMAL(18,2))) AS sum_value
           FROM e GROUP BY 1, 2)
         SELECT spine.block_number, spine.source,
           coalesce(g.n_events, 0) AS n_events,
           CAST(coalesce(g.sum_value, 0) AS DOUBLE) AS sum_value
         FROM spine LEFT JOIN g ON spine.block_number = g.block_number AND spine.source = g.source""",

    "j1_frontier_stream" ->
      s"""WITH e AS ($EvKeys),
         f AS (SELECT min(hw) AS frontier FROM (
           SELECT max(block_number) AS hw FROM e
           WHERE event_type IN ('purchase', 'click') GROUP BY event_type)),
         spine AS (
           SELECT b.block_number, s.source
           FROM (SELECT unnest(generate_series(0, (SELECT frontier FROM f))) AS block_number) b
           CROSS JOIN (VALUES ('purchase'), ('click')) s(source)),
         g AS (
           SELECT block_number, event_type AS source, count(*) AS n_events,
             sum(CAST(value AS DECIMAL(18,2))) AS sum_value
           FROM e GROUP BY 1, 2)
         SELECT spine.block_number, spine.source,
           coalesce(g.n_events, 0) AS n_events,
           CAST(coalesce(g.sum_value, 0) AS DOUBLE) AS sum_value
         FROM spine LEFT JOIN g ON spine.block_number = g.block_number AND spine.source = g.source""",

    "a1_suffix_reducer" ->
      s"""WITH seq AS (
           SELECT block_number, event_type,
             lead(event_type) OVER (PARTITION BY block_number ORDER BY log_index, event_id) AS next_type
           FROM ($EvKeys))
         SELECT block_number, count(*) AS n_matches
         FROM seq WHERE event_type = 'view' AND next_type = 'click'
         GROUP BY block_number""",

    "a1_distributed_reducer" ->
      s"""WITH seq AS (
           SELECT block_number, event_type,
             lead(event_type) OVER (PARTITION BY block_number ORDER BY log_index, event_id) AS next_type
           FROM ($EvKeys))
         SELECT block_number, count(*) AS n_matches
         FROM seq WHERE event_type = 'view' AND next_type = 'click'
         GROUP BY block_number""",

    "a1_aggregator_netflow" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                         ELSE -CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS netflow
         FROM events WHERE event_type IN ('purchase', 'click') GROUP BY user_id""",

    "a1_aggregator_stream" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                         ELSE -CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS netflow
         FROM events WHERE event_type IN ('purchase', 'click') GROUP BY user_id""",

    "j4_ordered_merge" ->
      s"""SELECT block_number,
           row_number() OVER (PARTITION BY block_number ORDER BY log_index, event_id) AS pos_in_block,
           event_id, event_type
         FROM ($EvKeys) WHERE event_type IN ('purchase', 'click')""",

    "w1_tumbling_window" ->
      s"""SELECT block_number // 50 AS window_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           min(block_number) AS window_from, max(block_number) AS window_to
         FROM ($EvKeys) GROUP BY 1""",

    "w1_evicting_stream" ->
      s"""WITH ev AS ($EvKeys), h AS (SELECT max(block_number) AS mb FROM ev)
         SELECT block_number // 50 AS window_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           min(block_number) AS window_from, max(block_number) AS window_to
         FROM ev, h WHERE block_number // 50 < mb // 50
         GROUP BY 1""",

    "stream_dedup" ->
      """SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type""",

    "w1_sliding_window" ->
      s"""WITH ev AS (
           SELECT *, (block_number - 0) // 25 AS q, (block_number - 0) % 25 AS r
           FROM ($EvKeys) WHERE block_number >= 0),
         w AS (
           SELECT ev.*, q - j AS window_id
           FROM ev, unnest(generate_series(0, least(q, (100 - 1 - r) // 25))) AS t(j)
           WHERE r <= 100 - 1)
         SELECT window_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           min(block_number) AS window_from, max(block_number) AS window_to
         FROM w GROUP BY 1""",

    "w_sessionize" -> SessionizeSql,

    "w_sessionize_stream" ->
      s"""WITH sess AS ($SessionizeSql),
         h AS (SELECT max(block_number) AS mb FROM ($EvKeys))
         SELECT user_id, session_seq, n_events, session_from, session_to
         FROM sess, h WHERE session_to + 20 <= mb""",

    "q_stream_interval_join" ->
      s"""WITH e AS ($EvKeys),
         p AS (SELECT event_id, user_id, block_number FROM e
               WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, block_number FROM e
               WHERE event_type = 'click')
         SELECT p.event_id AS p_event_id, p.block_number AS p_block,
           c.event_id AS c_event_id, c.block_number AS c_block
         FROM p JOIN c ON p.user_id = c.user_id
           AND c.block_number BETWEEN p.block_number - 5 AND p.block_number + 5""",

    "q_range_join" ->
      s"""WITH sess AS ($SessionizeSql),
         p AS (SELECT event_id, user_id, block_number FROM ($EvKeys)
               WHERE event_type = 'purchase')
         SELECT sess.user_id AS s_user, session_seq,
           count(*) AS n_foreign_purchases
         FROM p JOIN sess ON p.block_number BETWEEN session_from AND session_to
           AND p.user_id != sess.user_id
         GROUP BY 1, 2""",

    "q_overlap_join" ->
      s"""WITH sess AS ($SessionizeSql),
         a AS (SELECT user_id AS u1, session_from AS f1, session_to AS t1
               FROM sess WHERE user_id < 30),
         b AS (SELECT user_id AS u2, session_from AS f2, session_to AS t2
               FROM sess WHERE user_id < 30)
         SELECT u1, u2, count(*) AS n_overlaps
         FROM a JOIN b ON f1 <= t2 AND f2 <= t1 AND u1 < u2
         GROUP BY 1, 2""",

    "agg_sketch_gate" ->
      """SELECT count(DISTINCT user_id) AS n_exact, true AS sketch_ok
         FROM events""",

    "agg_percentile_gate" ->
      """SELECT count(*) AS n_values, true AS sketch_ok FROM events""",

    "agg_hll_union_gate" ->
      s"""SELECT
           (SELECT count(DISTINCT user_id) FROM ($EvKeys)) AS n_exact,
           (SELECT count(DISTINCT block_number // 20) FROM ($EvKeys)) AS n_parts,
           true AS sketch_ok""",

    "pipeline_negatives" ->
      """WITH n AS (SELECT count(*) AS n FROM documents),
         c AS (SELECT d.doc_id, j.j AS neg_rank,
                 ((d.doc_id % n.n) * 1000003 + (j.j + 1) * 40503) % n.n AS raw, n.n AS nn
               FROM documents d, n, generate_series(0, 2) j(j)),
         x AS (SELECT doc_id, neg_rank,
                 CASE WHEN raw = doc_id THEN (raw + 1) % nn ELSE raw END AS neg_id
               FROM c)
         SELECT x.doc_id, x.neg_rank, x.neg_id, d2.lang AS neg_lang
         FROM x JOIN documents d2 ON d2.doc_id = x.neg_id
         WHERE x.neg_id <> x.doc_id""",

    "q_pivot_event_matrix" ->
      """SELECT (event_id // 10) // 100 AS block_bucket,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY 1""",

    "agg_grouped_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS sketch_ok
         FROM events GROUP BY 1""",

    "agg_iqr_outliers" ->
      """WITH r AS (SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rank,
               count(*) OVER (PARTITION BY event_type) AS n
             FROM events),
         q AS (SELECT event_type, max(n) AS n,
                 max(CASE WHEN rank = (n + 3) // 4 THEN value END) AS q1,
                 max(CASE WHEN rank = (3 * n + 3) // 4 THEN value END) AS q3
               FROM r GROUP BY 1)
         SELECT q.event_type, q.n, q.q1, q.q3,
           (SELECT count(*) FROM events e WHERE e.event_type = q.event_type
              AND (e.value < q.q1 - (q.q3 - q.q1) * 1.5
                OR e.value > q.q3 + (q.q3 - q.q1) * 1.5)) AS n_outliers
         FROM q""",

    "meta_bucketed_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_lines,
           CAST(sum($Revenue) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    "meta_zorder" -> {
      val zTerms = (0 until 16).map(i =>
        s"(((ab >> $i) & 1) * ${1L << (2 * i + 1)} + " +
          s"((bb >> $i) & 1) * ${1L << (2 * i)})").mkString(" + ")
      s"""WITH e AS ($EvKeys),
         mx AS (SELECT max(user_id) AS amax, max(block_number) AS bmax FROM e),
         nb AS (SELECT user_id, block_number,
                  (user_id * 65536) // (amax + 1) AS ab,
                  (block_number * 65536) // (bmax + 1) AS bb
                FROM e, mx),
         z AS (SELECT user_id, block_number, $zTerms AS z FROM nb)
         SELECT z // ${(1L << 32) / 16} AS z_range, count(*) AS n_rows,
           min(user_id) AS min_a, max(user_id) AS max_a,
           min(block_number) AS min_b, max(block_number) AS max_b,
           min(z) AS min_z, max(z) AS max_z
         FROM z GROUP BY 1"""
    },

    "meta_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows, count(event_id) AS n_nonnull,
           count(DISTINCT event_id) AS n_distinct,
           CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(user_id), count(DISTINCT user_id),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         FROM events
         UNION ALL
         SELECT 'value', count(*), count(value), count(DISTINCT value),
           min(value), max(value), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         FROM events
         UNION ALL
         SELECT 'event_type', count(*), count(event_type), count(DISTINCT event_type),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(event_type), max(event_type)
         FROM events""",

    "meta_profile_approx" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows, count(event_id) AS n_nonnull,
           count(DISTINCT event_id) AS n_exact,
           CAST(min(event_id) AS DOUBLE) AS min_num, CAST(max(event_id) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
           true AS sketch_ok
         FROM events
         UNION ALL
         SELECT 'user_id', count(*), count(user_id), count(DISTINCT user_id),
           CAST(min(user_id) AS DOUBLE), CAST(max(user_id) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), true
         FROM events
         UNION ALL
         SELECT 'value', count(*), count(value), count(DISTINCT value),
           min(value), max(value), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), true
         FROM events
         UNION ALL
         SELECT 'event_type', count(*), count(event_type), count(DISTINCT event_type),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           min(event_type), max(event_type), true
         FROM events""",

    "agg_heavy_hitters" ->
      """WITH t AS (
           SELECT CAST(count(*) AS DOUBLE) / count(DISTINCT user_id) AS mean
           FROM events)
         SELECT user_id, count(*) AS n_rows FROM events
         GROUP BY 1 HAVING count(*) >= (SELECT ceil(1.15 * mean) FROM t)""",

    "w2_per_block" ->
      s"""SELECT block_number,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'view') AS n_view
         FROM ($EvKeys) GROUP BY block_number""",

    "a2_adjacent_pattern" ->
      s"""WITH seq AS (
           SELECT block_number, event_type,
             lead(event_type) OVER (PARTITION BY block_number ORDER BY log_index, event_id) AS next_type
           FROM ($EvKeys))
         SELECT block_number, count(*) AS n_matches
         FROM seq WHERE event_type = 'view' AND next_type = 'click'
         GROUP BY block_number""",

    "a2_regex_pattern" ->
      s"""WITH seq AS (
           SELECT block_number,
             string_agg(substr(event_type, 1, 1), '' ORDER BY log_index, event_id) AS s
           FROM ($EvKeys) GROUP BY block_number)
         SELECT block_number,
           CAST(len(regexp_extract_all(s, 'v+c')) AS BIGINT) AS n_matches
         FROM seq WHERE len(regexp_extract_all(s, 'v+c')) > 0""",

    "a2_regex_window" ->
      s"""WITH ev AS (
           SELECT *, (block_number - 0) // 2 AS q, (block_number - 0) % 2 AS r
           FROM ($EvKeys) WHERE block_number >= 0),
         w AS (
           SELECT ev.*, q - j AS window_id
           FROM ev, unnest(generate_series(0, least(q, (4 - 1 - r) // 2))) AS t(j)
           WHERE r <= 4 - 1),
         seq AS (
           SELECT window_id,
             string_agg(substr(event_type, 1, 1), ''
               ORDER BY block_number, log_index, event_id) AS s
           FROM w GROUP BY window_id)
         SELECT window_id,
           CAST(len(regexp_extract_all(s, 'v+c')) AS BIGINT) AS n_matches
         FROM seq WHERE len(regexp_extract_all(s, 'v+c')) > 0""",

    "a2_sequence3" ->
      s"""WITH seq AS (
           SELECT block_number, event_type,
             lead(event_type, 1) OVER (PARTITION BY block_number ORDER BY log_index, event_id) AS t1,
             lead(event_type, 2) OVER (PARTITION BY block_number ORDER BY log_index, event_id) AS t2
           FROM ($EvKeys))
         SELECT block_number, count(*) AS n_matches
         FROM seq WHERE event_type = 'view' AND t1 = 'view' AND t2 = 'click'
         GROUP BY block_number""",

    "a3_netflow" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                         ELSE -CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS netflow
         FROM events WHERE event_type IN ('purchase', 'click') GROUP BY user_id""",

    "a3_netflow_stream" ->
      """SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                         ELSE -CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS netflow
         FROM events WHERE event_type IN ('purchase', 'click') GROUP BY user_id""",

    "a3_netflow_monitor" ->
      """WITH nf AS (
           SELECT user_id,
             sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2))
                      ELSE -CAST(value AS DECIMAL(18,2)) END) AS netflow
           FROM events WHERE event_type IN ('purchase', 'click') GROUP BY user_id)
         SELECT count(user_id) AS n_addresses,
           count(*) FILTER (WHERE netflow > 0) AS n_positive,
           count(*) FILTER (WHERE netflow < 0) AS n_negative
         FROM nf""",

    "p2_decode_multi" -> P2DecodeMultiSql,
    // streaming twin: same decode semantics, same oracle — the drained
    // memory sink must hash-match the batch result row for row
    "p2_decode_multi_stream" -> P2DecodeMultiSql,

    "flagship_raw_netflow" ->
      """SELECT '0x' || lpad(lower(hex(user_id)), 40, '0') AS from_addr,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                         ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS DOUBLE)
             AS netflow_cents
         FROM events WHERE event_type IN ('purchase', 'click')
         GROUP BY user_id""",

    "dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text",

    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1,2)
         SELECT d1, d2, CAST(shared AS DOUBLE)/CAST(c1.n + c2.n - shared AS DOUBLE) AS jaccard
         FROM p JOIN c c1 ON c1.doc_id = d1 JOIN c c2 ON c2.doc_id = d2
         WHERE CAST(shared AS DOUBLE)/CAST(c1.n + c2.n - shared AS DOUBLE) >= 0.8""",

    "dedup_incremental" ->
      """WITH h AS (SELECT max(doc_id) // 2 AS half FROM documents),
         old AS (SELECT DISTINCT text FROM documents, h WHERE doc_id <= half),
         fresh AS (SELECT d.doc_id, d.lang, d.text FROM documents d, h
                   WHERE d.doc_id > h.half
                     AND NOT EXISTS (SELECT 1 FROM old o WHERE o.text = d.text)),
         win AS (SELECT text, min(doc_id) AS doc_id FROM fresh GROUP BY text)
         SELECT f.doc_id, f.lang FROM fresh f JOIN win w
           ON w.text = f.text AND w.doc_id = f.doc_id""",

    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id GROUP BY 1,2)
         SELECT d1, d2, CAST(shared AS DOUBLE)/CAST(c1.n AS DOUBLE) AS containment
         FROM p JOIN c c1 ON c1.doc_id = d1
         WHERE CAST(shared AS DOUBLE)/CAST(c1.n AS DOUBLE) >= 0.9""",

    "pipeline_prep" ->
      s"""WITH q AS (
           SELECT doc_id FROM (
             SELECT doc_id, $QualitySql AS quality
             FROM documents) WHERE quality >= 0.5),
         kept AS (SELECT d.* FROM documents d JOIN q USING (doc_id)),
         w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM kept),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
         gf AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= $MaxGramDf),
         gc AS (SELECT g.doc_id, g.gram FROM g JOIN gf USING (gram)),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
               FROM gc a JOIN gc b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1,2),
         j AS (SELECT d1, d2
               FROM p JOIN c c1 ON c1.doc_id = d1 JOIN c c2 ON c2.doc_id = d2
               WHERE CAST(shared AS DOUBLE)/CAST(c1.n + c2.n - shared AS DOUBLE) >= 0.8),
         e AS (SELECT d1, d2 FROM j UNION ALL SELECT d2 AS d1, d1 AS d2 FROM j),
         l0 AS (SELECT doc_id, doc_id AS cl FROM kept),
         ${labelSteps(5)}
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM kept JOIN (SELECT doc_id FROM l5 WHERE doc_id = cl) USING (doc_id)""",

    // composite build: replay the full chain — exact-dedup winners,
    // mod-97 gram decon, SEMANTIC decon (hashed-embedding cosine ≥ 4/5
    // vs the eval split, HUGEINT-exact — the h-prefixed CTE chain),
    // quality cut, language ID — then the per-lang manifest; the
    // written-artifact/replay equality is asserted in Spark
    "pipeline_corpus_build" ->
      s"""WITH win AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
         w AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram) WHERE g.doc_id % 97 != 0),
         ${semFlagCtes("h")},
         kept AS (SELECT doc_id FROM win
                  WHERE doc_id % 97 != 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
                    AND doc_id NOT IN (SELECT doc_id FROM hsem)),
         v AS ($LangVotesCte),
         lang AS (SELECT doc_id, $LangCaseSql AS pred_lang FROM v),
         q AS (SELECT doc_id, $QualitySql AS quality FROM documents),
         tok AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
                 FROM documents),
         sel AS (SELECT k.doc_id, lang.pred_lang, tok.n_tokens
                 FROM kept k JOIN lang USING (doc_id) JOIN q USING (doc_id)
                   JOIN tok USING (doc_id)
                 WHERE q.quality >= 0.5)
         SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens, true AS equal_ok
         FROM sel GROUP BY 1""",

    "pipeline_corpus_build_mm" ->
      s"""WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 5 = 0),
         win AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text),
         mrep AS (SELECT min(doc_id) AS doc_id FROM base
                  GROUP BY doc_id % 3, text),
         v AS ($LangVotesCte),
         lang AS (SELECT doc_id, $LangCaseSql AS pred_lang FROM v),
         q AS (SELECT doc_id, $QualitySql AS quality FROM documents),
         tok AS (SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
                 FROM documents),
         ${semFlagCtes("h")},
         imgc AS (
           SELECT doc_id,
             substr(sha256(text || '#px0') || sha256(text || '#px1'),
               1, 65) AS ih
           FROM base WHERE doc_id % 3 = 0),
         imgb AS (
           SELECT doc_id,
             substr(sha256(text || '#px0') || sha256(text || '#px1'),
               1, 65) AS ih
           FROM documents WHERE doc_id % 97 = 0 AND doc_id % 3 = 0),
         imghc AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN
                  substr(ih, b*16+j+1, 1) > substr(ih, b*16+j+2, 1)
                  THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
                AS BIGINT) for b in range(4)] AS bl
           FROM imgc),
         imghb AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN
                  substr(ih, b*16+j+1, 1) > substr(ih, b*16+j+2, 1)
                  THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
                AS BIGINT) for b in range(4)] AS bl
           FROM imgb),
         imgbdc AS (
           SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
           FROM imghc, unnest(range(4)) AS t(b)),
         imgbdb AS (
           SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
           FROM imghb, unnest(range(4)) AS t(b)),
         imgfl AS (
           SELECT DISTINCT c.doc_id
           FROM imgbdc c JOIN imgbdb b
             ON c.band_idx = b.band_idx AND c.band_key = b.band_key
           WHERE CAST(bit_count(xor(c.bl[1], b.bl[1]))
               + bit_count(xor(c.bl[2], b.bl[2]))
               + bit_count(xor(c.bl[3], b.bl[3]))
               + bit_count(xor(c.bl[4], b.bl[4])) AS BIGINT) <= 6),
         battr AS (
           SELECT b.doc_id, b.doc_id % 3 AS residue, lang.doc_id AS orig_id,
             lang.pred_lang, q.quality, tok.n_tokens
           FROM base b
           JOIN lang ON lang.doc_id =
             CASE WHEN b.doc_id >= (SELECT m FROM mx)
               THEN b.doc_id - (SELECT m FROM mx) ELSE b.doc_id END
           JOIN q ON q.doc_id = lang.doc_id
           JOIN tok ON tok.doc_id = lang.doc_id),
         sel AS (
           SELECT doc_id, residue, pred_lang, n_tokens FROM battr
           WHERE quality >= 0.5
             AND orig_id % 97 <> 0
             AND orig_id NOT IN (SELECT doc_id FROM hsem)
             AND doc_id NOT IN (SELECT doc_id FROM imgfl)
             AND doc_id IN (SELECT doc_id FROM win)
             AND doc_id IN (SELECT doc_id FROM mrep))
         SELECT (['image','audio','video'])[CAST(residue + 1 AS INT)] AS kind,
           pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens, true AS equal_ok
         FROM sel GROUP BY 1, 2""",

    "decon_filter" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram) WHERE g.doc_id % 97 != 0)
         SELECT doc_id FROM documents
         WHERE doc_id % 97 != 0 AND doc_id NOT IN (SELECT doc_id FROM bad)""",

    "decon_report" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         corpus AS (SELECT doc_id FROM documents
                    WHERE doc_id % 97 != 0 AND doc_id % 89 != 0),
         b AS (SELECT DISTINCT 'eval97' AS bench, gram FROM g WHERE doc_id % 97 = 0
               UNION SELECT DISTINCT 'eval89' AS bench, gram FROM g WHERE doc_id % 89 = 0),
         hits AS (SELECT b.bench, count(DISTINCT g.doc_id) AS n_contaminated
                  FROM g JOIN corpus USING (doc_id) JOIN b USING (gram)
                  GROUP BY b.bench),
         nc AS (SELECT count(*) AS n_corpus FROM corpus)
         SELECT v.bench,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           nc.n_corpus,
           CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / nc.n_corpus AS frac
         FROM (VALUES ('eval97'), ('eval89')) v(bench)
         LEFT JOIN hits h ON v.bench = h.bench, nc""",

    "decon_bloom" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 89 = 0),
         bad AS (SELECT DISTINCT g.doc_id FROM g JOIN bg USING (gram) WHERE g.doc_id % 89 != 0)
         SELECT doc_id FROM documents
         WHERE doc_id % 89 != 0 AND doc_id NOT IN (SELECT doc_id FROM bad)""",

    "decon_fraction" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents),
         g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
               FROM w, unnest(generate_series(1, len(ws)-2)) AS t(i)),
         bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 83 = 0),
         tot AS (SELECT doc_id, count(*) AS n FROM g WHERE doc_id % 83 != 0 GROUP BY 1),
         sh AS (SELECT g.doc_id, count(*) AS s FROM g JOIN bg USING (gram)
                WHERE g.doc_id % 83 != 0 GROUP BY 1)
         SELECT d.doc_id FROM documents d
         LEFT JOIN tot ON tot.doc_id = d.doc_id
         LEFT JOIN sh ON sh.doc_id = d.doc_id
         WHERE d.doc_id % 83 != 0
           AND coalesce(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 0) <= 0.5""",

    "pipeline_shuffle_gate" ->
      """SELECT count(*) AS n_docs, true AS perm_ok, true AS range_ok
         FROM documents""",

    "dedup_index_update" ->
      """SELECT CAST(count(*) * 16 AS BIGINT) AS n_index_rows, true AS equal_ok
         FROM documents""",

    "text_repetition" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents),
         b AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram
               FROM w, unnest(generate_series(1, len(ws)-1)) AS t(i)),
         tc AS (SELECT doc_id, max(cnt) AS top_cnt FROM (
                  SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2)
                GROUP BY 1)
         SELECT w.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
           CASE WHEN len(ws) > 0
                THEN CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws)
                ELSE 0.0 END AS dup_word_frac,
           coalesce(CAST(top_cnt AS DOUBLE) / (len(ws) - 1), 0.0) AS top_bigram_frac
         FROM w LEFT JOIN tc ON w.doc_id = tc.doc_id""",

    "text_pack_sequences" ->
      """WITH t AS (
           SELECT doc_id, doc_id // 16 AS shard,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (
           SELECT *, CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_offset
           FROM t)
         SELECT doc_id, shard, start_offset // 128 AS pack_in_shard,
           start_offset, n_tokens
         FROM c""",

    "pipeline_mix" ->
      s"""WITH v AS ($LangVotesCte),
         lang AS (SELECT doc_id, $LangCaseSql AS pred_lang FROM v),
         q AS (SELECT doc_id, $QualitySql AS quality FROM documents),
         r AS (
           SELECT l.doc_id, pred_lang,
             row_number() OVER (PARTITION BY pred_lang ORDER BY quality DESC, l.doc_id) AS rank
           FROM lang l JOIN q ON l.doc_id = q.doc_id)
         SELECT doc_id, pred_lang, rank FROM r WHERE rank <= 100""",

    "text_char_lm" ->
      """WITH tg AS (
           SELECT doc_id, substr(text, CAST(i AS INT), 3) AS tri,
                  substr(text, CAST(i AS INT), 2) AS ctx
           FROM documents,
                unnest(generate_series(1, greatest(length(text) - 2, 0))) t(i)),
         tc AS (SELECT tri, count(*) AS c_tri FROM tg GROUP BY 1),
         cc AS (SELECT ctx, count(*) AS c_ctx FROM tg GROUP BY 1)
         SELECT tg.doc_id, count(*) AS n_grams,
           CAST(sum(tc.c_tri) AS BIGINT) AS sum_tri,
           CAST(sum(cc.c_ctx) AS BIGINT) AS sum_ctx
         FROM tg JOIN tc USING (tri) JOIN cc USING (ctx)
         GROUP BY 1""",

    "text_token_stats" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
         FROM documents""",

    "text_langid" ->
      s"""WITH v AS ($LangVotesCte)
         SELECT doc_id, v_en, v_de, v_fr, v_es, v_zh,
           $LangCaseSql AS pred_lang
         FROM v""",

    "text_quality" ->
      """WITH t AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\S+')) AS DOUBLE) AS n_ws,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS DOUBLE) AS n_bpe,
             CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'), x -> regexp_full_match(x, '[^a-z0-9]'))) AS DOUBLE) AS n_punct,
             CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'), w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE) AS n_stop,
             CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents)
         SELECT doc_id,
           least(n_ws / 100.0, 1.0) AS len_score,
           CASE WHEN n_bpe = 0 THEN 0.0 ELSE n_punct / n_bpe END AS punct_ratio,
           CASE WHEN n_ws = 0 THEN 0.0 ELSE n_stop / n_ws END AS stop_ratio,
           CASE WHEN n_ws = 0 THEN 0.0 ELSE n_chars / n_ws END AS mean_token_len,
           CASE WHEN n_ws = 0 OR n_bpe = 0 THEN 0.0 ELSE
             0.4 * least(n_ws / 100.0, 1.0) + 0.3 * (1.0 - n_punct / n_bpe)
               + 0.3 * least((n_stop / n_ws) * 4.0, 1.0) END AS quality
         FROM t""",

    "q_asof_join" ->
      s"""WITH ev AS ($EvKeys),
         l AS (SELECT * FROM ev WHERE event_type = 'purchase'),
         r AS (SELECT * FROM ev WHERE event_type = 'view')
         SELECT l.event_id, l.block_number, l.user_id, l.value,
           r.event_id AS matched_event_id, r.value AS matched_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.event_id >= r.event_id""",

    "text_pii_redact" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || ' Contact u' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                    || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                  ELSE text END AS text
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b')) AS BIGINT) AS n_ipv4,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
             '\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b', '<IP>', 'g') AS redacted
         FROM t""",

    "text_vocab_topk" ->
      """WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS token FROM documents),
         c AS (SELECT token, count(*) AS n_occurrences FROM w GROUP BY 1)
         SELECT token, n_occurrences FROM c
         ORDER BY n_occurrences DESC, token LIMIT 500""",

    "text_blocklist" ->
      """SELECT doc_id,
           CAST(len(list_filter(['the', 'and', 'of'],
             w -> list_contains(regexp_extract_all(lower(text), '\S+'), w)))
             AS BIGINT) AS n_blocked,
           len(list_filter(['the', 'and', 'of'],
             w -> list_contains(regexp_extract_all(lower(text), '\S+'), w)))
             <= 1 AS kept
         FROM documents""",

    "text_characteristic_terms" ->
      """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS ws FROM documents),
         t AS (SELECT doc_id, unnest(ws) AS tok FROM w),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1
                 HAVING count(*) <= floor((SELECT count(*) FROM documents) * 0.5)),
         r AS (SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, dfq.df ASC, tf.tok ASC) AS rank
               FROM tf JOIN dfq USING (tok))
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok, tf, df
         FROM r WHERE rank <= 3""",

    "pipeline_stratified_gate" ->
      """SELECT lang, count(*) AS n_docs, true AS frac_ok FROM documents
         WHERE lang IN ('en', 'de') GROUP BY 1""",

    "text_bpe_pairs" ->
      """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word FROM documents),
         w AS (SELECT word, count(*) AS n_word FROM t GROUP BY 1),
         p AS (SELECT word[i:i+1] AS pair, n_word
               FROM w, unnest(generate_series(1, len(word)-1)) AS s(i)
               WHERE len(word) >= 2),
         c AS (SELECT pair, CAST(sum(n_word) AS BIGINT) AS n_occurrences FROM p GROUP BY 1)
         SELECT pair, n_occurrences FROM c
         ORDER BY n_occurrences DESC, pair LIMIT 200""",

    "text_importance_weights" -> ImportanceWeightsSql,

    "text_line_dedup" ->
      """WITH lined AS (
           SELECT doc_id,
             'shared cookie banner line' || chr(10) ||
             regexp_replace(text, '((\S+\s+){5}\S+)\s+', '\1' || chr(10), 'g') ||
             chr(10) || 'shared footer line' AS text
           FROM documents),
         lines AS (
           SELECT doc_id,
             generate_subscripts(string_split(text, chr(10)), 1) - 1 AS pos,
             unnest(string_split(text, chr(10))) AS line
           FROM lined),
         hot AS (
           SELECT line FROM lines WHERE trim(line) <> ''
           GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         kept AS (
           SELECT l.doc_id, l.pos, l.line
           FROM lines l ANTI JOIN hot h ON l.line = h.line),
         rebuilt AS (
           SELECT doc_id,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(len(string_split(d.text, chr(10))) - coalesce(r.n_kept, 0)
             AS BIGINT) AS n_lines_removed
         FROM lined d LEFT JOIN rebuilt r USING (doc_id)""",

    "text_chunk" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE len(text) > 0),
         c AS (SELECT doc_id, CAST(s.st AS BIGINT) AS chunk_start,
                 substr(text, CAST(s.st AS INT) + 1, 64) AS chunk_text
               FROM d, unnest(generate_series(0, len(text) - 1, 48)) AS s(st))
         SELECT doc_id, chunk_start // 48 AS chunk_idx, chunk_start,
           chunk_text, CAST(len(chunk_text) AS BIGINT) AS chunk_len
         FROM c""",

    "text_source_cap" ->
      """WITH r AS (SELECT source, doc_id,
           row_number() OVER (PARTITION BY source
             ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id)
             AS keep_rank
         FROM documents)
         SELECT source, doc_id, CAST(keep_rank AS BIGINT) AS keep_rank
         FROM r WHERE keep_rank <= 15""",

    "text_bm25_topk" ->
      s"""SELECT CAST(rank AS BIGINT) AS rank, doc_id, matched_terms, tf_sum,
           CAST(dl AS BIGINT) AS dl
         FROM ($Bm25RankSql) WHERE rank <= 10""",

    // the exact side fuses bm25 top-20 with brute cosine top-20 for
    // query vec 0: both legs carry 20 rows on these fixtures, so the
    // fused top-10 has exactly least(10, |union|) rows — a membership
    // count robust to cosine last-ulp rank flips between engines
    "hybrid_bm25_ann_topk" ->
      s"""WITH r1 AS (SELECT doc_id FROM ($Bm25RankSql) WHERE rank <= 20),
         r2 AS (SELECT b.vec_id AS doc_id,
                  row_number() OVER (
                    ORDER BY list_cosine_similarity(q.embedding, b.embedding)
                      DESC, b.vec_id) AS rank
                FROM embeddings q, embeddings b
                WHERE q.vec_id = 0 AND b.vec_id != 0
                QUALIFY rank <= 20)
         SELECT least(10, count(DISTINCT doc_id)) AS n_exact,
           true AS recall_ok
         FROM (SELECT doc_id FROM r1 UNION ALL SELECT doc_id FROM r2)""",

    "hybrid_rrf_topk" ->
      s"""WITH r1 AS (SELECT doc_id, rank FROM ($Bm25RankSql) WHERE rank <= 20),
         r2 AS (SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank
                FROM documents QUALIFY rank <= 20),
         u AS (SELECT doc_id, 0 AS ri, 1.0 / (rank + 60) AS contrib FROM r1
               UNION ALL
               SELECT doc_id, 1 AS ri, 1.0 / (rank + 60) AS contrib FROM r2),
         f AS (SELECT doc_id,
                 count(*) OVER (PARTITION BY doc_id) AS n_rankings,
                 sum(contrib) OVER (PARTITION BY doc_id ORDER BY ri) AS cum,
                 row_number() OVER (PARTITION BY doc_id ORDER BY ri DESC) AS rn
               FROM u),
         s AS (SELECT doc_id, n_rankings, cum AS rrf_score FROM f WHERE rn = 1),
         o AS (SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank,
                 doc_id, n_rankings, rrf_score FROM s)
         SELECT CAST(rank AS BIGINT) AS rank, doc_id,
           CAST(n_rankings AS BIGINT) AS n_rankings, rrf_score
         FROM o WHERE rank <= 10""",

    "pipeline_dsir_select" ->
      s"""SELECT doc_id, weight FROM ($ImportanceWeightsSql)
         ORDER BY weight DESC, doc_id LIMIT 100""",

    "sim_quant_gate" ->
      """SELECT count(*) AS n_vecs, true AS quant_ok FROM embeddings""",

    "sim_cluster_assign" -> clusterAssignSql,
    "sim_density_prune" -> densityPruneSql,
    // exact-path row count; the agreement/fraction verdicts are
    // Spark-side gates (the approx sketch has no relational restatement)
    "sim_density_prune_approx" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok,
           true AS frac_ok
         FROM (${densityPruneSql})""",

    "sample_token_budget" ->
      """WITH t AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM t)
         SELECT doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens - n_tokens < 10000""",

    "pipeline_split_gate" ->
      """SELECT count(*) AS n_docs, true AS frac_ok FROM documents""",

    "text_clean" ->
      """WITH d AS (SELECT doc_id,
               '<p class="x">' || replace(text, 'e', 'e' || chr(769)) || '</p>  <br/> ' AS dirty
             FROM documents),
         c AS (SELECT doc_id,
                 trim(regexp_replace(
                   nfc_normalize(regexp_replace(dirty, '<[^>]*>', ' ', 'g')),
                   '\s+', ' ', 'g')) AS clean_text
               FROM d)
         SELECT doc_id, clean_text,
           CAST(length(clean_text) AS BIGINT) AS clean_len
         FROM c""",

    "text_bpe_encode" ->
      """SELECT doc_id,
           coalesce(CAST(len(regexp_extract_all(lower(text), '\S+')) AS BIGINT), 0) AS n_words,
           true AS roundtrip_ok, true AS bounds_ok
         FROM documents""",

    "src_jsonl_ingest" ->
      """SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
         UNION ALL SELECT '__corrupt__' AS lang, 3 AS n_docs""",

    "src_csv_ingest" ->
      """SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
         UNION ALL SELECT '__corrupt__' AS lang, 3 AS n_docs""",

    "src_orc_ingest" ->
      """SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents WHERE lang = 'en' GROUP BY source""",

    // gen 0 = even ids (no quality column → 0 non-null), gen 1 = odd
    "src_schema_evolution" ->
      """SELECT doc_id % 2 AS gen, count(*) AS n_docs,
           CASE WHEN doc_id % 2 = 1 THEN count(*) ELSE 0 END AS n_quality,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM documents GROUP BY 1""",

    "text_substring_dedup" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS l FROM documents),
         pos AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, unnest(l) AS tok FROM toks),
         g AS (SELECT doc_id, i,
                 tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                     || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS gram
               FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
               QUALIFY lead(tok, 4) OVER w IS NOT NULL),
         dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         m AS (SELECT g.doc_id, g.i AS s, g.i + 4 AS e FROM g JOIN dup USING (gram)),
         mm AS (SELECT doc_id, s, e,
                  max(e) OVER (PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxe
                FROM m),
         isl AS (SELECT doc_id, s, e,
                   sum(CASE WHEN maxe IS NULL OR s > maxe + 1 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY s
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                 FROM mm)
         SELECT doc_id, min(s) AS span_start, max(e) AS span_end,
           max(e) - min(s) + 1 AS span_tokens, count(*) AS n_dup_grams
         FROM isl GROUP BY doc_id, island""",

    "text_substring_dedup_apply" ->
      """WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS l FROM documents),
         pos AS (SELECT doc_id, unnest(generate_series(1, len(l))) AS i, unnest(l) AS tok FROM toks),
         g AS (SELECT doc_id, i,
                 tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
                     || ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS gram
               FROM pos WINDOW w AS (PARTITION BY doc_id ORDER BY i)
               QUALIFY lead(tok, 4) OVER w IS NOT NULL),
         dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
         cov AS (SELECT DISTINCT g.doc_id, g.i + o.o AS i
                 FROM g JOIN dup USING (gram), generate_series(0, 4) o(o)),
         kept AS (SELECT p.doc_id, p.i, p.tok
                  FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.i = p.i
                  WHERE c.i IS NULL),
         agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
                   count(*) AS n_kept
                 FROM kept GROUP BY 1)
         SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_kept, 0) AS n_kept,
           coalesce(len(t.l), 0) - coalesce(a.n_kept, 0) AS n_dropped
         FROM toks t LEFT JOIN agg a USING (doc_id)""",

    "pipeline_pps_sample" ->
      """WITH w AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS w FROM documents),
         c AS (SELECT doc_id, w,
                 CAST(sum(w) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
               FROM w),
         t AS (SELECT max(cum) AS total FROM c)
         SELECT doc_id, w, cum, (cum * 50) // total AS pick
         FROM c, t
         WHERE (cum * 50) // total > ((cum - w) * 50) // total""",

    "text_quality_bins_lang" ->
      s"""WITH v AS ($LangVotesCte),
         lang AS (SELECT doc_id, $LangCaseSql AS pred_lang FROM v),
         q AS (SELECT d.doc_id, l.pred_lang, $QualitySql AS quality
               FROM documents d JOIN lang l USING (doc_id)),
         r AS (SELECT doc_id, pred_lang, quality,
                 row_number() OVER (PARTITION BY pred_lang
                   ORDER BY quality, doc_id) AS rank,
                 count(*) OVER (PARTITION BY pred_lang) AS n
               FROM q)
         SELECT doc_id, pred_lang, quality, rank,
           ((rank - 1) * 4) // n AS bin FROM r""",

    "text_quality_bins" ->
      s"""WITH t AS (SELECT doc_id, $QualitySql AS quality FROM documents),
         r AS (SELECT doc_id, quality,
                 row_number() OVER (ORDER BY quality, doc_id) AS rank,
                 count(*) OVER () AS n
               FROM t)
         SELECT doc_id, quality, rank, ((rank - 1) * 10) // n AS bin FROM r""",

    "pipeline_mixture" ->
      s"""WITH v AS ($LangVotesCte),
         lang AS (SELECT doc_id, $LangCaseSql AS pred_lang FROM v),
         c AS (SELECT pred_lang, count(*) AS n_docs FROM lang GROUP BY 1),
         wsum AS (
           SELECT pred_lang, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w_raw,
             sum(sqrt(CAST(n_docs AS DOUBLE))) OVER (
               ORDER BY pred_lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS w_total
           FROM c)
         SELECT pred_lang, n_docs, w_raw / w_total AS weight,
           CAST(ceil(10000.0 * (w_raw / w_total) / n_docs) AS BIGINT) AS n_epochs
         FROM wsum""",

    "pipeline_topic_mix" ->
      s"""WITH a AS ($clusterAssignSql),
         c AS (SELECT cluster, count(*) AS n_docs FROM a GROUP BY 1),
         wsum AS (
           SELECT cluster, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS w_raw,
             sum(sqrt(CAST(n_docs AS DOUBLE))) OVER (
               ORDER BY cluster
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS w_total
           FROM c)
         SELECT cluster, n_docs, w_raw / w_total AS weight,
           CAST(ceil(10000.0 * (w_raw / w_total) / n_docs) AS BIGINT) AS n_epochs
         FROM wsum""",

    "text_fingerprint" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (acc, c) -> (acc * 131 + c) % 1000000007) AS fingerprint
         FROM documents""",

    // full from-scratch replay of the hashing-trick embedding: gram
    // code, mix, slot, sign and the signed sum are all recomputed in
    // BIGINT SQL — the strongest oracle class (byte-exact, no verdict
    // columns)
    "text_hash_embed" ->
      s"""WITH ${hashEmbedCtes("doc_id % 50 = 0")}
         SELECT doc_id, CAST(dim AS INT) AS dim, CAST(wt AS BIGINT) AS wt
         FROM e""",

    // exact integer retrieval over the replayed embeddings: signed-count
    // dot products against doc 0, top-10 with the doc_id tie-break. The
    // candidate set is EVERY subsampled doc (left join + COALESCE 0),
    // mirroring the Spark side's dense ranking exactly — a doc sharing
    // no nonzero slot with the query scores 0 there, and on a sparse
    // fixture such a doc CAN reach the top-10, so the dim-join result
    // alone would under-rank (round-16 ADVICE)
    "sim_topk_text_embed" ->
      s"""WITH ${hashEmbedCtes("doc_id % 5 = 0")},
         q AS (SELECT dim, wt FROM e WHERE doc_id = 0),
         cand AS (SELECT doc_id FROM documents
                  WHERE doc_id % 5 = 0 AND doc_id <> 0),
         dj AS (
           SELECT e.doc_id, sum(e.wt * q.wt) AS dot
           FROM e JOIN q USING (dim) WHERE e.doc_id <> 0
           GROUP BY e.doc_id),
         dots AS (
           SELECT c.doc_id, COALESCE(dj.dot, 0) AS dot
           FROM cand c LEFT JOIN dj USING (doc_id)),
         o AS (
           SELECT row_number() OVER (ORDER BY dot DESC, doc_id) AS rank,
             doc_id, dot
           FROM dots)
         SELECT CAST(rank AS BIGINT) AS rank, doc_id, CAST(dot AS BIGINT) AS dot
         FROM o WHERE rank <= 10""",

    // the flagged pair set replayed exactly: embed CTEs over the union
    // of both subsets, sparse dot via the dim join, integer threshold
    // dot²·25 ≥ 16·‖c‖²·‖e‖² (cos ≥ 4/5), per-doc match counts. The
    // threshold products run in HUGEINT (int128) to mirror the Spark
    // side's Decimal(38,0) — on a repetitive doc the norms reach G² for
    // G grams, so dot²·q² reaches G⁴·q² and overflows BIGINT past ~25k
    // grams (TextOps.cosThresholdPred documents the shared bound)
    "decon_semantic" -> deconSemanticOracleSql,

    // the IVF-prescreened tier flags EXACTLY the exact tier's pair set
    // (precision 1 — every candidate passes the same integer predicate;
    // recall 1 by the triangle-inequality ball cover, not probability)
    // — so the oracle IS the exact replay: any prescreen bug fails the
    // hash match loudly
    "decon_semantic_ivf" -> deconSemanticOracleSql,

    // the flag tier: the semi-join's early exit changes COST only —
    // the flagged id set replays as the exact tier's DISTINCT doc ids
    "decon_semantic_flag" -> deconSemanticFlagOracleSql,
    "decon_semantic_incr" -> deconSemanticIncrOracleSql,
    // prescreen × early-exit tier: flagged set = the flag tier's
    "decon_semantic_ivf_flag" -> deconSemanticFlagOracleSql,
    "decon_semantic_report" -> deconSemanticReportOracleSql,

    // streaming twin: the drained flagged count is the exact tier's
    // distinct count; streamed == batch equality is the Spark verdict
    "stream_decon_flag" ->
      s"""$deconSemanticOracleCtes
         SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_flagged,
           true AS equal_ok
         FROM f""",

    // relational half of the text→vector→ANN gate: exact top-k row
    // count (queries × min(candidates, 10)) + the expected verdict —
    // the recall itself is computed in-plan by recallGate. The embedded
    // doc set is restated from the embed CTEs (any nonzero slot), not
    // the length(text) >= 3 proxy: hashEmbedUnit also drops full-
    // sign-cancellation docs (round-16 ADVICE)
    "sim_ann_text_embed" ->
      s"""WITH ${hashEmbedCtes("TRUE")},
         d AS (SELECT DISTINCT doc_id FROM e)
         SELECT CAST((SELECT count(*) FROM d WHERE doc_id < 5)
             * least((SELECT count(*) FROM d) - 1, 10) AS BIGINT) AS n_exact,
           true AS recall_ok""",

    "mm_attach" ->
      """SELECT doc_id,
           (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
           CAST(16 + doc_id % 64 AS INT) AS width,
           CAST(16 + doc_id % 48 AS INT) AS height,
           CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
           CAST(1000 + doc_id % 9000 AS INT) AS duration_ms,
           CAST(3 + octet_length(unhex(sha256(text))) AS BIGINT) AS byte_len
         FROM documents""",

    "mm_resize" ->
      """SELECT doc_id,
           (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
           CAST(greatest((16 + doc_id % 64) // 2, 1) AS INT) AS width,
           CAST(greatest((16 + doc_id % 48) // 2, 1) AS INT) AS height
         FROM documents""",

    "mm_features" ->
      """SELECT doc_id,
           (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
           CAST(3 + octet_length(unhex(sha256(text))) AS BIGINT) AS byte_len,
           substr(sha256(text), 1, 8) AS sig8
         FROM documents""",

    // byte-exact milli-luma replay: every fixture pixel byte is a sha
    // chunk of the text; luma_milli_mean = sum(299R+587G+114B) // 120
    // with DuckDB's integer // matching the kernel's one final division
    "mm_features_decoded" ->
      """WITH img AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         b AS (
           SELECT doc_id,
             substr(sha256(text||'#px0')||sha256(text||'#px1')
               ||sha256(text||'#px2')||sha256(text||'#px3')
               ||sha256(text||'#px4')||sha256(text||'#px5')
               ||sha256(text||'#px6')||sha256(text||'#px7')
               ||sha256(text||'#px8')||sha256(text||'#px9')
               ||sha256(text||'#px10')||sha256(text||'#px11'), 1, 720)
               AS bh
           FROM img),
         vals AS (
           SELECT doc_id, i,
             (strpos('0123456789abcdef', substr(bh, 2*i+1, 1))-1)*16
               + (strpos('0123456789abcdef', substr(bh, 2*i+2, 1))-1) AS v
           FROM b, unnest(range(360)) AS t(i)),
         lum AS (
           SELECT doc_id,
             sum(CASE CAST(i % 3 AS INT) WHEN 0 THEN 299*v
               WHEN 1 THEN 587*v ELSE 114*v END) AS s
           FROM vals GROUP BY doc_id)
         SELECT doc_id, CAST(12 AS BIGINT) AS width,
           CAST(10 AS BIGINT) AS height,
           CAST(s // 120 AS BIGINT) AS luma_milli_mean
         FROM lum""",

    "mm_frames" ->
      """WITH m AS (
           SELECT doc_id,
             greatest(least((1000 + doc_id % 9000) // 1000, 8), 1) AS n_frames
           FROM documents
           WHERE (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] = 'video')
         SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
           CAST(3 + (i * 32) // n_frames AS BIGINT) AS frame_off
         FROM m, unnest(generate_series(0, n_frames - 1)) AS t(i)""",

    // dHash gradient over the image payload body's hex (= sha256 hex of
    // the text, the attachMedia contract), 4 bands x 16 bits, cyclic
    // bit i: h[i] > h[(i+1) mod 64]; window-capped buckets, banded
    // candidate join, exact Hamming verify — bit-for-bit the Spark plan
    "mm_dhash_neardup" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0),
         img AS (
           SELECT doc_id, lower(sha256(text)) AS h FROM base
           WHERE doc_id % 3 = 0),
         hash AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN
                  substr(h, b*16+j+1, 1) > substr(h, ((b*16+j+1) % 64) + 1, 1)
                  THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
                AS BIGINT) for b in range(4)] AS bl
           FROM img),
         banded AS (
           SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
           FROM hash, unnest(range(4)) AS t(b)),
         capped AS (
           SELECT doc_id, bl, band_idx, band_key FROM (
             SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bn
             FROM banded)
           WHERE bn <= 256),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.bl AS bl1, b.bl AS bl2
           FROM capped a JOIN capped b
             ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
         scored AS (
           SELECT d1, d2,
             CAST(bit_count(xor(bl1[1], bl2[1])) + bit_count(xor(bl1[2], bl2[2]))
               + bit_count(xor(bl1[3], bl2[3])) + bit_count(xor(bl1[4], bl2[4]))
               AS BIGINT) AS hamming
           FROM cand)
         SELECT d1, d2, hamming FROM scored WHERE hamming <= 6""",

    // incremental shard vs persisted index: cap counted over old∪new,
    // left side capped, right side the (uncapped) new shard; pair
    // orientation normalized least/greatest — bit-for-bit the Spark plan
    "mm_decon_flag" ->
      s"""$mmDeconFlagOracleCtes
         SELECT doc_id FROM fl""",

    "mm_decon_incremental" ->
      s"""$mmDeconIncrOracleCtes
         SELECT doc_id FROM fl""",

    "mm_decon_report" -> mmDeconReportOracleSql,

    "stream_mm_decon_flag" ->
      s"""$mmDeconFlagOracleCtes
         SELECT CAST(count(*) AS BIGINT) AS n_flagged, true AS equal_ok
         FROM fl""",

    "mm_dhash_incremental" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         img_old AS (
           SELECT doc_id, lower(sha256(text)) AS h FROM documents
           WHERE doc_id % 3 = 0),
         img_new AS (
           SELECT doc_id + (SELECT m FROM mx) AS doc_id,
             lower(sha256(text)) AS h FROM documents
           WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0),
         hash_old AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN
                  substr(h, b*16+j+1, 1) > substr(h, ((b*16+j+1) % 64) + 1, 1)
                  THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
                AS BIGINT) for b in range(4)] AS bl
           FROM img_old),
         hash_new AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN
                  substr(h, b*16+j+1, 1) > substr(h, ((b*16+j+1) % 64) + 1, 1)
                  THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
                AS BIGINT) for b in range(4)] AS bl
           FROM img_new),
         banded_new AS (
           SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
           FROM hash_new, unnest(range(4)) AS t(b)),
         banded_all AS (
           SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
           FROM hash_old, unnest(range(4)) AS t(b)
           UNION ALL
           SELECT doc_id, bl, band_idx, band_key FROM banded_new),
         capped AS (
           SELECT doc_id, bl, band_idx, band_key FROM (
             SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bn
             FROM banded_all)
           WHERE bn <= 256),
         cand AS (
           SELECT DISTINCT
             least(a.doc_id, b.doc_id) AS d1,
             greatest(a.doc_id, b.doc_id) AS d2,
             CAST(bit_count(xor(a.bl[1], b.bl[1])) + bit_count(xor(a.bl[2], b.bl[2]))
               + bit_count(xor(a.bl[3], b.bl[3])) + bit_count(xor(a.bl[4], b.bl[4]))
               AS BIGINT) AS hamming
           FROM capped a JOIN banded_new b
             ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id != b.doc_id)
         SELECT d1, d2, hamming FROM cand WHERE hamming <= 6""",

    // the scaled layout: 2 bands x 32 bits, occupancy cap on EXACT
    // keys, then radius-1 probe ball (the key plus its 32 one-bit
    // flips) on the smaller-id side only — bit-for-bit the Spark plan
    "mm_dhash_probed" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0),
         img AS (
           SELECT doc_id, lower(sha256(text)) AS h FROM base
           WHERE doc_id % 3 = 0),
         hash AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN
                  substr(h, b*32+j+1, 1) > substr(h, ((b*32+j+1) % 64) + 1, 1)
                  THEN (1::BIGINT << j) ELSE 0 END for j in range(32)])
                AS BIGINT) for b in range(2)] AS bl
           FROM img),
         banded AS (
           SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
           FROM hash, unnest(range(2)) AS t(b)),
         capped AS (
           SELECT doc_id, bl, band_idx, band_key FROM (
             SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bn
             FROM banded)
           WHERE bn <= 256),
         probed AS (
           SELECT doc_id, bl, band_idx,
             CASE WHEN j = 32 THEN band_key
                  ELSE xor(band_key, (1::BIGINT << j)) END AS band_key
           FROM capped, unnest(range(33)) AS t(j)),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.bl AS bl1, b.bl AS bl2
           FROM probed a JOIN capped b
             ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
         scored AS (
           SELECT d1, d2,
             CAST(bit_count(xor(bl1[1], bl2[1])) + bit_count(xor(bl1[2], bl2[2]))
               AS BIGINT) AS hamming
           FROM cand)
         SELECT d1, d2, hamming FROM scored WHERE hamming <= 6""",

    // the self-sizing gate: the pair count replays the 4×16 layout
    // relationally (bands=0 at fixture scale resolves to it); the two
    // equality verdicts — auto == explicit below AND above the 1M
    // crossover — are in-plan pair-set comparisons
    "mm_dhash_auto" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0),
         img AS (
           SELECT doc_id, lower(sha256(text)) AS h FROM base
           WHERE doc_id % 3 = 0),
         hash AS (
           SELECT doc_id,
             [CAST(list_sum([CASE WHEN
                  substr(h, b*16+j+1, 1) > substr(h, ((b*16+j+1) % 64) + 1, 1)
                  THEN (1::BIGINT << j) ELSE 0 END for j in range(16)])
                AS BIGINT) for b in range(4)] AS bl
           FROM img),
         banded AS (
           SELECT doc_id, bl, b AS band_idx, bl[b+1] AS band_key
           FROM hash, unnest(range(4)) AS t(b)),
         capped AS (
           SELECT doc_id, bl, band_idx, band_key FROM (
             SELECT *, count(*) OVER (PARTITION BY band_idx, band_key) AS bn
             FROM banded)
           WHERE bn <= 256),
         cand AS (
           SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
             a.bl AS bl1, b.bl AS bl2
           FROM capped a JOIN capped b
             ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
         scored AS (
           SELECT d1, d2,
             CAST(bit_count(xor(bl1[1], bl2[1])) + bit_count(xor(bl1[2], bl2[2]))
               + bit_count(xor(bl1[3], bl2[3])) + bit_count(xor(bl1[4], bl2[4]))
               AS BIGINT) AS hamming
           FROM cand)
         SELECT count(*) AS n_pairs,
           true AS small_auto_equals_explicit,
           true AS scaled_auto_equals_explicit
         FROM scored WHERE hamming <= 6""",

    // the decoded-pixel gate: the PPM decode isn't SQL-replayable, so
    // the oracle pins the relational half (image count, identity pairs
    // from text equality — payload equality by the attachPpmImages
    // construction) and states the in-plan verdicts (all images decode;
    // every identity pair recovered at hamming 0)
    "mm_dhash_decoded" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0),
         img AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 0),
         ident AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2
           FROM img a JOIN img b ON a.text = b.text AND a.doc_id < b.doc_id)
         SELECT (SELECT count(*) FROM img) AS n_images,
           (SELECT count(*) FROM ident) AS n_identity_pairs,
           CAST(0 AS BIGINT) AS n_undecoded,
           true AS all_identity_found""",

    "mm_audio_float" ->
      """SELECT count(*) AS n_audio, CAST(0 AS BIGINT) AS n_undecoded,
           true AS drift_within_bound
         FROM documents WHERE doc_id % 3 = 1""",

    "mm_audio_aiff" ->
      """SELECT count(*) AS n_audio, CAST(0 AS BIGINT) AS n_undecoded,
           true AS containers_bit_equal
         FROM documents WHERE doc_id % 3 = 1""",

    // BYTE-EXACT normalization replay (round-16 — the audio family's
    // first byte-exact oracle): the canonical PCM-16 header for 96
    // mono samples at 8000 Hz is a constant, and each 8-bit fixture
    // sample v (a sha-recipe byte) maps to the little-endian int16
    // (v − 128): low byte (v+128) % 256, high byte 0x00 for v ≥ 128
    // (non-negative) / 0xff for v < 128 (two's complement sign fill)
    "mm_audio_normalize" ->
      """WITH aud AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
         b AS (
           SELECT doc_id,
             sha256(text||'#au0')||sha256(text||'#au1')
               ||sha256(text||'#au2') AS bh
           FROM aud),
         vals AS (
           SELECT doc_id, i,
             (strpos('0123456789abcdef', substr(bh, 2*i+1, 1))-1)*16
               + (strpos('0123456789abcdef', substr(bh, 2*i+2, 1))-1) AS v
           FROM b, unnest(range(96)) AS t(i)),
         sm AS (
           SELECT doc_id, i,
             lpad(lower(to_hex((v + 128) % 256)), 2, '0') ||
               (CASE WHEN v < 128 THEN 'ff' ELSE '00' END) AS hx
           FROM vals),
         body AS (
           SELECT doc_id, string_agg(hx, '' ORDER BY i) AS hex
           FROM sm GROUP BY doc_id)
         SELECT doc_id,
           '52494646e400000057415645666d7420100000000100010040' ||
           '1f0000803e00000200100064617461c0000000' || hex AS wav_hex
         FROM body""",

    "mm_audio_normalize_fp" ->
      """SELECT count(*) AS n_audio, CAST(0 AS BIGINT) AS n_unnormalized,
           true AS wav_fp_preserved, true AS aiff_fp_preserved,
           true AS float_fp_preserved, true AS carriers_norm_byte_equal
         FROM documents WHERE doc_id % 3 = 1""",

    "mm_dhash_jpeg" ->
      """SELECT count(*) AS n_images, CAST(0 AS BIGINT) AS n_jpeg_undecoded,
           true AS all_jpeg_found
         FROM documents WHERE doc_id % 3 = 0""",

    "mm_dhash_png" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0),
         img AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 0),
         ident AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2
           FROM img a JOIN img b ON a.text = b.text AND a.doc_id < b.doc_id)
         SELECT (SELECT count(*) FROM img) AS n_images,
           (SELECT count(*) FROM ident) AS n_identity_pairs,
           CAST(0 AS BIGINT) AS n_undecoded,
           true AS all_identity_found,
           true AS png_equals_ppm""",

    // byte-exact P5 → P6 gray-embedding replay: each source luma byte
    // triples into R=G=B (the lossless gray embedding), so the oracle
    // re-derives every output byte from the sha recipe and repeats its
    // hex pair three times in order
    "mm_pgm_normalize" -> PgmNormalizeOracleSql,

    // the TRUE-GRAY-PNG carrier (round-17): the same P5 pixels inside
    // a single-band TYPE_BYTE_GRAY PNG must normalize to the IDENTICAL
    // canonical P6 bytes — the gray-raster decode path (raw raster
    // samples, not getRGB's gray→sRGB transform; the round-16 fix)
    // pinned by the byte-exact replay, so the oracle is shared verbatim
    "mm_gray_png_normalize" -> PgmNormalizeOracleSql,

    // byte-exact normalization replay: PNG → canonical P6 must equal
    // the original fixture bytes — header hex "P6\n12 10\n255\n" +
    // the 720 pixel hex chars straight from the sha recipe
    "mm_image_normalize" ->
      """SELECT doc_id,
           '50360a31322031300a3235350a' ||
           substr(sha256(text||'#px0')||sha256(text||'#px1')
             ||sha256(text||'#px2')||sha256(text||'#px3')
             ||sha256(text||'#px4')||sha256(text||'#px5')
             ||sha256(text||'#px6')||sha256(text||'#px7')
             ||sha256(text||'#px8')||sha256(text||'#px9')
             ||sha256(text||'#px10')||sha256(text||'#px11'), 1, 720)
             AS ppm_hex
         FROM documents WHERE doc_id % 3 = 0""",

    // BYTE-EXACT resize replay: the fixture pixels are sha chunks of
    // the text (attachPpmImages), so the oracle recomputes every input
    // byte from hex, folds each 2×2 source box to its integer mean
    // (every input byte maps to exactly one output byte: 12→6, 10→5),
    // and re-assembles the canonical P6 hex — compared byte for byte
    // against the kernel's output
    "mm_resize_transcode" ->
      """WITH img AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
         b AS (
           SELECT doc_id,
             substr(sha256(text||'#px0')||sha256(text||'#px1')
               ||sha256(text||'#px2')||sha256(text||'#px3')
               ||sha256(text||'#px4')||sha256(text||'#px5')
               ||sha256(text||'#px6')||sha256(text||'#px7')
               ||sha256(text||'#px8')||sha256(text||'#px9')
               ||sha256(text||'#px10')||sha256(text||'#px11'), 1, 720)
               AS bh
           FROM img),
         vals AS (
           SELECT doc_id, i,
             (strpos('0123456789abcdef', substr(bh, 2*i+1, 1))-1)*16
               + (strpos('0123456789abcdef', substr(bh, 2*i+2, 1))-1) AS v
           FROM b, unnest(range(360)) AS t(i)),
         outb AS (
           SELECT doc_id,
             (((i//3)//12//2)*6 + (((i//3)%12)//2))*3 + (i%3) AS k,
             sum(v) // 4 AS val
           FROM vals GROUP BY doc_id, k),
         hexes AS (
           SELECT doc_id,
             string_agg(lpad(lower(to_hex(val)), 2, '0'), '' ORDER BY k)
               AS body
           FROM outb GROUP BY doc_id)
         SELECT doc_id, '50360a3620350a3235350a' || body AS resized_hex
         FROM hexes""",

    // the audio gate (mm_dhash_decoded's shape): the WAV parse isn't
    // SQL-replayable, so the oracle pins the relational half (audio
    // count, identity pairs from text equality — payload equality by
    // the attachWavAudio construction) and the in-plan verdicts
    "mm_audio_neardup" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 1 AND (doc_id // 3) % 5 = 0),
         aud AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 1),
         ident AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2
           FROM aud a JOIN aud b ON a.text = b.text AND a.doc_id < b.doc_id)
         SELECT (SELECT count(*) FROM aud) AS n_audio,
           (SELECT count(*) FROM ident) AS n_identity_pairs,
           CAST(0 AS BIGINT) AS n_undecoded,
           true AS all_identity_found""",

    // the audio-decon gate: fingerprints aren't SQL-replayable; the
    // oracle pins the relational identity half (corpus clips sharing a
    // bench doc's text — byte-identical WAVs — MUST flag) and the
    // in-plan all-flagged verdict
    "mm_decon_audio_flag" ->
      """WITH bk AS (
           SELECT DISTINCT text FROM documents
           WHERE doc_id % 3 = 1 AND (doc_id // 3) % 5 = 0),
         ident AS (
           SELECT DISTINCT d.doc_id FROM documents d
           JOIN bk ON d.text = bk.text
           WHERE d.doc_id % 3 = 1)
         SELECT CAST((SELECT count(*) FROM ident) AS BIGINT) AS n_identity,
           true AS all_identity_flagged,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 3 = 1)
             AS BIGINT) AS n_audio""",

    // the audio-incremental gate: fingerprints aren't SQL-replayable;
    // the oracle pins the relational half (shard size, identity pairs
    // = old×dup text matches) and the in-plan verdicts (identity at
    // hamming 0; incremental == restricted full recompute)
    "mm_audio_incremental" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         dup AS (
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text
           FROM documents
           WHERE doc_id % 3 = 1 AND (doc_id // 3) % 5 = 0),
         old AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
         ident AS (
           SELECT o.doc_id AS d1, d.doc_id AS d2
           FROM old o JOIN dup d ON o.text = d.text)
         SELECT (SELECT count(*) FROM dup) AS n_new_audio,
           (SELECT count(*) FROM ident) AS n_identity_pairs,
           true AS all_identity_found,
           true AS equals_full_restricted""",

    // every fixture video decodes to exactly its 4 frame indices — a
    // torn frame parse would null-drop the whole video
    "mm_video_frames" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx
         FROM documents, unnest(range(4)) AS t(i)
         WHERE doc_id % 3 = 2""",

    // the video gate: frame hashes aren't SQL-replayable; the oracle
    // pins video count, identity pairs (text equality ⇒ full frame
    // overlap by construction) and the in-plan verdicts
    "mm_video_neardup" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 2 AND (doc_id // 3) % 5 = 0),
         vid AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 2),
         ident AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2
           FROM vid a JOIN vid b ON a.text = b.text AND a.doc_id < b.doc_id)
         SELECT (SELECT count(*) FROM vid) AS n_videos,
           (SELECT count(*) FROM ident) AS n_identity_pairs,
           CAST(0 AS BIGINT) AS n_undecoded,
           true AS all_identity_full_overlap""",

    "mm_video_y4m" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 2 AND (doc_id // 3) % 5 = 0),
         vid AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 2),
         ident AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2
           FROM vid a JOIN vid b ON a.text = b.text AND a.doc_id < b.doc_id)
         SELECT (SELECT count(*) FROM vid) AS n_videos,
           (SELECT count(*) FROM ident) AS n_identity_pairs,
           CAST(0 AS BIGINT) AS n_undecoded,
           true AS all_identity_full_overlap""",

    // the video-decon gate: frame hashes aren't SQL-replayable; the
    // oracle pins the relational identity half (corpus videos sharing
    // a bench doc's text — all frames byte-identical — MUST flag) and
    // the in-plan all-flagged verdict
    "mm_decon_video_flag" ->
      """WITH bk AS (
           SELECT DISTINCT text FROM documents
           WHERE doc_id % 3 = 2 AND (doc_id // 3) % 5 = 0),
         ident AS (
           SELECT DISTINCT d.doc_id FROM documents d
           JOIN bk ON d.text = bk.text
           WHERE d.doc_id % 3 = 2)
         SELECT CAST((SELECT count(*) FROM ident) AS BIGINT) AS n_identity,
           true AS all_identity_flagged,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 3 = 2)
             AS BIGINT) AS n_video""",

    // the audio-incremental-decon gate: fingerprints aren't
    // SQL-replayable; the oracle pins the relational identity half
    // over the UNIONED (old ∪ appended) benchmark and the in-plan
    // verdicts (identity at hamming 0; incr == full re-flag)
    "mm_decon_audio_incr" ->
      """WITH bk AS (
           SELECT DISTINCT text FROM documents
           WHERE doc_id % 3 = 1
             AND ((doc_id // 3) % 5 = 0 OR (doc_id // 3) % 7 = 3)),
         ident AS (
           SELECT DISTINCT d.doc_id FROM documents d
           JOIN bk ON d.text = bk.text
           WHERE d.doc_id % 3 = 1)
         SELECT CAST((SELECT count(*) FROM ident) AS BIGINT) AS n_identity,
           true AS all_identity_flagged,
           true AS equals_full_rerun,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 3 = 1)
             AS BIGINT) AS n_audio""",

    // the video twin of mm_decon_audio_incr's gate
    "mm_decon_video_incr" ->
      """WITH bk AS (
           SELECT DISTINCT text FROM documents
           WHERE doc_id % 3 = 2
             AND ((doc_id // 3) % 5 = 0 OR (doc_id // 3) % 7 = 3)),
         ident AS (
           SELECT DISTINCT d.doc_id FROM documents d
           JOIN bk ON d.text = bk.text
           WHERE d.doc_id % 3 = 2)
         SELECT CAST((SELECT count(*) FROM ident) AS BIGINT) AS n_identity,
           true AS all_identity_flagged,
           true AS equals_full_rerun,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 3 = 2)
             AS BIGINT) AS n_video""",

    // the streaming audio-decon gate: fingerprints aren't
    // SQL-replayable; the oracle pins the relational identity half
    // and the in-plan verdicts (all identity flagged in the DRAINED
    // set; drained == batch)
    "stream_mm_decon_audio_flag" ->
      """WITH bk AS (
           SELECT DISTINCT text FROM documents
           WHERE doc_id % 3 = 1 AND (doc_id // 3) % 5 = 0),
         ident AS (
           SELECT DISTINCT d.doc_id FROM documents d
           JOIN bk ON d.text = bk.text
           WHERE d.doc_id % 3 = 1)
         SELECT CAST((SELECT count(*) FROM ident) AS BIGINT) AS n_identity,
           true AS all_identity_flagged,
           true AS equal_ok""",

    // the video twin
    "stream_mm_decon_video_flag" ->
      """WITH bk AS (
           SELECT DISTINCT text FROM documents
           WHERE doc_id % 3 = 2 AND (doc_id // 3) % 5 = 0),
         ident AS (
           SELECT DISTINCT d.doc_id FROM documents d
           JOIN bk ON d.text = bk.text
           WHERE d.doc_id % 3 = 2)
         SELECT CAST((SELECT count(*) FROM ident) AS BIGINT) AS n_identity,
           true AS all_identity_flagged,
           true AS equal_ok""",

    // the audio attribution-report gate: fingerprints aren't
    // SQL-replayable; the oracle pins the report frame (one row per
    // benchmark clip) and the in-plan identity-attribution verdict
    "mm_decon_audio_report" ->
      """SELECT CAST((SELECT count(*) FROM documents
           WHERE doc_id % 3 = 1 AND (doc_id // 3) % 5 = 0) AS BIGINT)
           AS n_bench,
         true AS all_identity_attributed""",

    // the video twin (keyed on videos, not frames)
    "mm_decon_video_report" ->
      """SELECT CAST((SELECT count(*) FROM documents
           WHERE doc_id % 3 = 2 AND (doc_id // 3) % 5 = 0) AS BIGINT)
           AS n_bench,
         true AS all_identity_attributed""",

    // the fuzzy-video gate: frame hashes aren't SQL-replayable; the
    // oracle pins the relational half and the in-plan verdicts
    // (identity pairs at >= 4 frame-pair matches; exact ⊆ fuzzy)
    "mm_video_neardup_fuzzy" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 2 AND (doc_id // 3) % 5 = 0),
         vid AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 2),
         ident AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2
           FROM vid a JOIN vid b ON a.text = b.text AND a.doc_id < b.doc_id)
         SELECT (SELECT count(*) FROM vid) AS n_videos,
           (SELECT count(*) FROM ident) AS n_identity_pairs,
           true AS all_identity_full,
           true AS exact_subset_of_fuzzy""",

    // media-dedup representatives: byte-identical clusters only on
    // this fixture, so survivors = min doc_id per image text group
    "mm_dedup_media" ->
      """WITH mx AS (SELECT (max(doc_id) // 3 + 1) * 3 AS m FROM documents),
         base AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + (SELECT m FROM mx) AS doc_id, text FROM documents
           WHERE doc_id % 3 = 0 AND (doc_id // 3) % 5 = 0),
         img AS (SELECT doc_id, text FROM base WHERE doc_id % 3 = 0)
         SELECT min(doc_id) AS doc_id FROM img GROUP BY text""",

    // the bias-screen gate: hashes aren't SQL-replayable; the oracle
    // pins the frame count (4 per video) and the in-plan verdicts
    "mm_fingerprint_bias" ->
      """SELECT CAST(4 * count(*) AS BIGINT) AS n_frames,
           true AS healthy_in_bounds,
           true AS degenerate_trips
         FROM documents WHERE doc_id % 3 = 2""",

    "sim_topk_brute" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
         p AS (SELECT qid, vec_id, list_cosine_similarity(qe, embedding) AS sim
               FROM q, embeddings WHERE vec_id != qid)
         SELECT qid AS query_id,
           row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank,
           vec_id
         FROM p
         QUALIFY rank <= 10""",

    "sim_neardup_brute" ->
      """SELECT a.vec_id AS v1, b.vec_id AS v2
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45""",

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q3_segment_revenue" ->
      s"""SELECT o_orderkey, CAST(sum($Revenue) AS DOUBLE) AS revenue, count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
         GROUP BY o_orderkey""",

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
         FROM lineitem
         WHERE l_shipdate BETWEEN TIMESTAMP '1994-01-01' AND TIMESTAMP '1994-12-31'
           AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",

    "q14_promo_revenue" ->
      s"""SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN $Revenue
                                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum($Revenue) AS DOUBLE) AS promo_share
         FROM lineitem JOIN part ON l_partkey = p_partkey""",

    "q18_big_orders" ->
      """WITH t AS (
           SELECT l_orderkey AS orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
           FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150)
         SELECT orderkey, c_name, CAST(total_qty AS DOUBLE) AS total_qty
         FROM t JOIN orders ON orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey""",

    "q_rollup_revenue" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n_items
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

    "q_cube_counts" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n_items
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE)
             AS running_total
         FROM orders""",

    "q_setop_repeat_customers" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994
         INTERSECT
         SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995""",

    "q_retention_cohorts" ->
      """WITH d AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
             FROM events),
         f AS (SELECT user_id, min(day) AS cohort FROM d GROUP BY user_id)
         SELECT f.cohort, d.day - f.cohort AS age_days,
           count(DISTINCT d.user_id) AS n_users
         FROM d JOIN f USING (user_id)
         GROUP BY 1, 2""",

    "q5_nation_revenue" ->
      s"""SELECT n_name, CAST(sum($Revenue) AS DOUBLE) AS revenue, count(*) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name""",

    "q7_volume_shipping" ->
      s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           CAST(sum($Revenue) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE year(l_shipdate) BETWEEN 1996 AND 1997
           AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
             OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         GROUP BY 1, 2, 3""",

    "q8_market_share" ->
      s"""SELECT year(o_orderdate) AS o_year,
           CAST(sum(CASE WHEN n2.n_name = 'NATION_3' THEN $Revenue
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum($Revenue) AS DOUBLE) AS mkt_share,
           count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' AND p_type = 'PROMO'
           AND year(o_orderdate) BETWEEN 1996 AND 1997
         GROUP BY 1""",

    "q10_returned_items" ->
      s"""SELECT c_custkey, c_name, CAST(sum($Revenue) AS DOUBLE) AS revenue,
           c_acctbal, n_name
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
         GROUP BY c_custkey, c_name, c_acctbal, n_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q13_order_distribution" ->
      """WITH c AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, count(*) AS custdist FROM c GROUP BY c_count""",

    "q15_top_supplier" ->
      s"""WITH rev AS (
           SELECT l_suppkey, sum($Revenue) AS total_revenue
           FROM lineitem
           WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",

    "q17_small_quantity" ->
      """WITH branded AS (
           SELECT l_partkey, l_quantity, l_extendedprice
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#12' AND p_type = 'SMALL'),
         thr AS (
           SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_threshold
           FROM branded GROUP BY 1)
         SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0 AS DOUBLE)
           AS avg_yearly, count(*) AS n_items
         FROM branded JOIN thr ON l_partkey = pk
         WHERE l_quantity < qty_threshold""",

    "q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer
         WHERE c_nationkey IN (1, 2, 3, 4, 5, 6)
           AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                                     AS DOUBLE) / count(*)
                            FROM customer
                            WHERE c_acctbal > 0
                              AND c_nationkey IN (1, 2, 3, 4, 5, 6))
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY c_nationkey""",

    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority""",

    "q12_priority_lines" ->
      """SELECT year(l_shipdate) AS ship_year,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",

    "q16_supplier_variety" ->
      """SELECT p_brand, p_size % 5 AS size_band,
           count(DISTINCT l_suppkey) AS supplier_cnt
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE l_suppkey NOT IN
           (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY 1, 2""",

    "q19_branded_revenue" ->
      s"""SELECT CAST(sum($Revenue) AS DOUBLE) AS revenue, count(*) AS n_items
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",

    "q2_min_cost_supplier" ->
      """WITH ps AS (
           SELECT l_partkey, l_suppkey,
                  min(CAST(l_extendedprice AS DECIMAL(18,2))) AS supplycost
           FROM lineitem GROUP BY 1, 2),
         rps AS (
           SELECT ps.*, s_name, s_acctbal, n_name
           FROM ps JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'),
         mc AS (SELECT l_partkey AS mc_pk, min(supplycost) AS min_cost
                FROM rps GROUP BY 1)
         SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
                p_partkey, CAST(supplycost AS DOUBLE) AS supplycost
         FROM rps JOIN mc ON l_partkey = mc_pk AND supplycost = min_cost
         JOIN part ON l_partkey = p_partkey
         WHERE p_size = 15 AND p_type = 'SMALL'
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",

    "q9_product_profit" ->
      s"""SELECT n_name, year(o_orderdate) AS o_year,
           CAST(sum($Revenue
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_profit,
           count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%widget%'
         GROUP BY 1, 2""",

    "q11_important_share" ->
      """WITH scoped AS (
           SELECT l_partkey,
                  CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2)) AS v
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_1'),
         pv AS (SELECT l_partkey, sum(v) AS part_value FROM scoped GROUP BY 1),
         tot AS (SELECT sum(part_value) AS total_value FROM pv)
         SELECT l_partkey, CAST(part_value AS DOUBLE) AS part_value
         FROM pv, tot
         WHERE CAST(part_value AS DOUBLE) > CAST(total_value AS DOUBLE) * 0.0005""",

    "q20_excess_suppliers" ->
      """WITH shipped AS (
           SELECT l_partkey, l_suppkey,
                  sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name LIKE 'red%'
           GROUP BY 1, 2),
         thr AS (
           SELECT l_partkey AS t_pk,
                  0.5 * CAST(sum(qty) AS DOUBLE) / count(*) AS half_avg
           FROM shipped GROUP BY 1)
         SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_2'
           AND s_suppkey IN (
             SELECT l_suppkey FROM shipped JOIN thr ON l_partkey = t_pk
             WHERE CAST(qty AS DOUBLE) > half_avg)
         ORDER BY s_name""",

    "q21_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
         FROM lineitem l1
         JOIN orders ON l1.l_orderkey = o_orderkey
         JOIN supplier ON l1.l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_returnflag = 'R')
         GROUP BY s_name
         ORDER BY numwait DESC, s_name LIMIT 100"""
  )
}
