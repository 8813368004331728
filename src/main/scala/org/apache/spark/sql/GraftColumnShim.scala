package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between custom Catalyst `Expression`s and the public `Column`
  * API. `classic.ExpressionUtils` is `private[sql]`, so the bridge lives in
  * the `org.apache.spark.sql` package — the established pattern for
  * libraries shipping native expressions.
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** `ExpectsInputTypes` for expressions outside this package:
  * `AbstractDataType` and `TypeCollection` are `private[sql]`, so each
  * input is declared as the list of types it accepts.
  */
trait GraftExpectsInputTypes extends catalyst.expressions.ExpectsInputTypes {
  def acceptedTypes: Seq[Seq[types.DataType]]
  override def inputTypes: Seq[types.AbstractDataType] = acceptedTypes.map {
    case Seq(t) => t
    case ts => types.TypeCollection(ts: _*)
  }
}

/** Registers a temp SQL function on a LIVE session (`sessionState` is
  * `private[sql]`); the extensions path covers sessions created with
  * `spark.sql.extensions`.
  */
object GraftFunctionShim {
  def register(
      spark: SparkSession,
      name: String,
      builder: Seq[catalyst.expressions.Expression] => catalyst.expressions.Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}

/** Releases the block-manager storage behind a `localCheckpoint`ed (or
  * `checkpoint`ed) DataFrame. `spark.catalog.clearCache()` does NOT free
  * checkpoint RDDs, and the ContextCleaner only reclaims them after the
  * plan object is garbage-collected — a long-lived session looping over
  * corpora accumulates blocks without bound. The checkpoint RDD sits in a
  * `LogicalRDD` leaf (`private[sql]`, hence this bridge).
  *
  * After the call the DataFrame is UNUSABLE (its lineage was truncated at
  * the checkpoint); only release checkpoints that are fully superseded.
  */
object GraftCheckpointShim {
  def releaseCheckpoint(df: Dataset[Row]): Unit =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}

/** A private session for work that needs its own conf: a clone of the
  * caller's session (conf, temp views, functions, extensions) with each
  * `conf` pair set on the clone alone. The caller's conf is never written,
  * so another query on the caller's session keeps its own values. This is
  * the engine's one way to scope conf: a drain's shuffle width and state
  * provider, the `clusterLabels` loop width, a probe's broadcast threshold.
  * A streaming query's conf (state width, state-store provider) is fixed
  * by the session its DataFrame is bound to at `start()`, which is why a
  * built plan is [[rebind]]-ed onto the private session. Nothing needs to
  * be restored: the clone is dropped with the work. `Dataset.ofRows` is
  * `private[sql]`.
  */
object GraftSessionShim {
  def privateSession(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val p = spark.asInstanceOf[classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => p.conf.set(k, v) }
    p
  }

  /** `df`'s analyzed plan bound to `spark`. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** Detach a session's streaming listener bus from the SparkContext's
    * bus once its queries have stopped. Each session whose
    * `StreamingQueryManager` is built gets its own bus, which Spark
    * registers with the SparkContext and never removes: the drain's
    * private session (it starts the query), and the clone a STATEFUL query
    * runs its batches on ([[sessionForStream]]; its stateful operators ask
    * `session.streams` for the state-store coordinator). Without this each
    * drain would leave a listener behind for the life of the context.
    * Progress events still reach `SparkListener`s: a query posts them to
    * the SparkContext's bus directly. A session whose manager was never
    * built is left alone (building it would register a bus and any
    * configured query listeners). The fields are private, hence the
    * reflection.
    */
  def detachStreams(p: SparkSession): Unit = {
    def field(c: Class[_], name: String, of: AnyRef): AnyRef = {
      val f = c.getDeclaredField(name)
      f.setAccessible(true)
      f.get(of)
    }
    val manager = field(classOf[internal.SessionState], "streamingQueryManager",
      p.asInstanceOf[classic.SparkSession].sessionState)
    if (manager != null)
      p.sparkContext.listenerBus.removeListener(
        field(classOf[classic.StreamingQueryManager], "listenerBus", manager)
          .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
  }

  /** The clone of its session that a started query runs its batches on. */
  def sessionForStream(q: streaming.StreamingQuery): SparkSession =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.sparkSessionForStream
}
