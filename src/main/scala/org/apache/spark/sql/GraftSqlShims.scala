package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Accessors for `private[sql]` internals the engine needs — the common
  * pattern for Spark extension libraries (a small object inside the
  * org.apache.spark.sql package). Kept to the minimum surface:
  * Column <-> Catalyst Expression conversion in Spark 4's
  * ColumnNode-based API. */
object GraftSqlShims {
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Eagerly convert a Column to its Catalyst expression tree.
    * [[expression]] returns a LAZY `ColumnNodeExpression` wrapper (the
    * Spark 4 ColumnNode indirection) whose catalyst children only
    * materialize during analysis — useless for pre-analysis inspection
    * (e.g. collecting referenced attribute names). This runs the
    * converter now. */
  def catalystExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Rebuild a localCheckpoint'd DataFrame on a STATS-FREE copy of its
    * `LogicalRDD` leaf, staying on the checkpointed InternalRow RDD.
    *
    * `localCheckpoint` rewrites the parent plan's estimated Statistics
    * onto the checkpointed leaf (`LogicalRDD.fromDataset` ->
    * `rewriteStatsAndConstraints`), which compounds geometrically in
    * loops (graft.plans.Supersteps scaladoc). The portable fix —
    * `createDataFrame(ck.rdd, schema)` — drops the stats but detours
    * every downstream evaluation through a Row <-> InternalRow
    * conversion AND forgets the leaf's output partitioning, so each
    * loop round re-pays one exchange plus a per-row serde tax
    * (measured ~2x on the SNB superstep queries at sf0.1). This shim
    * keeps the checkpointed internal rows and partitioning, replacing
    * only the carried `originStats`/`originConstraints` with None — the
    * leaf reports the session-default size again and broadcast
    * decisions fall to AQE's runtime sizes, with zero conversion cost.
    * Returns None when the plan is not a bare LogicalRDD leaf (caller
    * falls back to the portable path). */
  def statsFreeLogicalRddCopy(df: Dataset[Row]): Option[Dataset[Row]] = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    cds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val clean = new org.apache.spark.sql.execution.LogicalRDD(
          lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering,
          lr.isStreaming, lr.stream)(cds.sparkSession, None, None)
        Some(classic.Dataset.ofRows(cds.sparkSession, clean))
      case _ => None
    }
  }

  /** Unpersist EVERY persisted `LogicalRDD` leaf under the frame's
    * analyzed plan (a `localCheckpoint`/[[statsFreeLogicalRddCopy]]
    * result, or a projection/filter over one — loop states are often
    * `cutResult.drop(...)`). Returns true when at least one leaf was
    * released. Safe ONLY when (a) every consumer of those blocks has
    * materialized — localCheckpoint truncates lineage, so a recompute
    * after release has nothing to rebuild from — and (b) every
    * persisted leaf under the plan is genuinely superseded: do NOT
    * pass a frame that joins a still-needed checkpoint (e.g. the
    * loop-constant edge set) into the state. */
  def unpersistLeafRdd(df: Dataset[Row], blocking: Boolean = false,
      skip: Int => Boolean = _ => false): Boolean = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    val released = cds.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if !skip(lr.rdd.id) &&
            lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        lr.rdd.unpersist(blocking)
    }
    released.nonEmpty
  }

  /** The ids of every `LogicalRDD` leaf RDD under the frame's analyzed
    * plan (what localCheckpoint + [[statsFreeLogicalRddCopy]] produce,
    * possibly under projections). */
  def leafRddIds(df: Dataset[Row]): Seq[Int] = {
    val cds = df.asInstanceOf[classic.Dataset[Row]]
    cds.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
  }

  /** Whether evaluating the frame only re-reads rows that are already
    * materialized: its analyzed plan is persisted `LogicalRDD` leaves
    * (checkpoints) or driver-local relations under projections,
    * filters and unions — no source scan, no shuffle. */
  def readsMaterialized(df: Dataset[Row]): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrow(p: LogicalPlan): Boolean = p match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _: LocalRelation => true
      case _: Project | _: Filter | _: Union | _: SubqueryAlias =>
        p.children.forall(narrow)
      case _ => false
    }
    narrow(df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed)
  }

  /** Register a native expression in the session's FunctionRegistry so
    * it is callable from SQL text (runtime twin of the
    * `spark.sql.extensions` injection path). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
