package org.apache.spark.sql

/** Plan rebase for iterative operators. Lives in the sql package because
  * `internalCreateDataFrame` and the classic `queryExecution` are
  * sql-private.
  */
object GraftPlanBridge {

  /** Cut `df`'s logical plan: the result is a single `LogicalRDD` leaf
    * over `df`'s own InternalRow RDD, with fresh attribute ids, unknown
    * partitioning and default size statistics — the leaf that
    * `createDataFrame(df.rdd, df.schema)` builds, without sending every
    * row through an external `Row` and back. A persisted `df` is read
    * from its cache, provided it was persisted before its own plan was
    * first executed (the round loops persist a fresh frame, count it,
    * then rebase it).
    */
  def rebase(df: Dataset[_]): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }
}
