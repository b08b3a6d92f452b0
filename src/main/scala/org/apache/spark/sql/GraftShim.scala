package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionColumnNode, ExpressionUtils}

/** Internal-access shim: `SparkSession.sessionState`, `ExpressionUtils` and
  * `ExpressionColumnNode` are `private[sql]`, so Catalyst-expression-level
  * function registration (the codegen-friendly alternative to Scala UDFs)
  * needs accessors inside the `org.apache.spark.sql` package. Standard
  * pattern for Spark extension libraries. */
object GraftShim {
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** Wrap a raw Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = Column(ExpressionColumnNode(e))

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Neutral view of a Column's DSL-level node tree, for predicate
    * derivation outside the sql package (the `internal.ColumnNode`
    * classes themselves are private[sql]). `Fn` names are the DSL
    * operator strings ("and", "=", "<", "isnull", …); anything beyond
    * functions/attributes/literals collapses to `Other`. */
  sealed trait PredNode
  object PredNode {
    final case class Fn(name: String, args: Seq[PredNode]) extends PredNode
    final case class Attr(name: String) extends PredNode
    final case class Lit(value: Any) extends PredNode
    case object Other extends PredNode
  }

  /** Convert a Column's un-analyzed node tree to the neutral view.
    * Cast-wrapped literals FOLD (`lit("2020-01-01").cast(DateType)` →
    * `Lit(java.sql.Date)`) — the single most natural way to write a
    * date/timestamp/decimal predicate in the DSL; without the fold the
    * derivation sees a cast node, matches `Other`, and pruning silently
    * skips (perf-only — the exact filter still runs — but silent). The
    * SQL path never needed this: constant folding runs before the scan
    * rule sees the predicate. A Catalyst expression wrapped as a Column
    * (a parsed `WHERE` from `GraftSession.sql`) and an `expr(...)` string
    * convert through [[predicateTreeOf]]. */
  def predicateTree(c: Column): PredNode = {
    import org.apache.spark.sql.internal
    def conv(n: internal.ColumnNode): PredNode = n match {
      case e: ExpressionColumnNode => predicateTreeOf(e.expression)
      case e: internal.SqlExpression =>
        try predicateTreeOf(
          catalyst.parser.CatalystSqlParser.parseExpression(e.expression))
        catch { case scala.util.control.NonFatal(_) => PredNode.Other }
      case f: internal.UnresolvedFunction =>
        PredNode.Fn(f.functionName, f.arguments.map(conv))
      case a: internal.UnresolvedAttribute =>
        PredNode.Attr(a.nameParts.mkString("."))
      case l: internal.Literal => PredNode.Lit(l.value)
      case ct: internal.Cast =>
        conv(ct.child) match {
          case PredNode.Lit(v) => foldCastLiteral(v, ct.dataType)
          case _ => PredNode.Other
        }
      case _ => PredNode.Other
    }
    conv(c.node)
  }

  /** Evaluate a foldable cast of an EXTERNAL Scala literal to `to`,
    * returning the external result — TRY semantics (a failed conversion
    * yields `Other`, never a throw and never a dubious `Lit(null)`: in
    * ANSI mode the user's query would raise at execution, so the
    * derivation must not pretend the cast produced a comparable value). */
  private def foldCastLiteral(v: Any, to: types.DataType): PredNode = {
    import org.apache.spark.sql.catalyst.{expressions => ce, CatalystTypeConverters}
    try {
      val lit = ce.Literal(v)
      if (!ce.Cast.canCast(lit.dataType, to)) return PredNode.Other
      val out = ce.Cast(lit, to,
        Some(internal.SQLConf.get.sessionLocalTimeZone), ce.EvalMode.TRY)
        .eval(null)
      if (out == null) PredNode.Other
      else PredNode.Lit(CatalystTypeConverters.convertToScala(out, to))
    } catch { case scala.util.control.NonFatal(_) => PredNode.Other }
  }

  /** Convert a catalyst predicate to the neutral view — the SQL-surface
    * analog of [[predicateTree]], analyzed or straight from the parser
    * (an unresolved attribute reads by its name parts): same `Fn` operator names,
    * literals converted back to external Scala values
    * (`CatalystTypeConverters.convertToScala` — UTF8String → String,
    * int days → java.sql.Date, long micros → java.sql.Timestamp) so the
    * downstream derivation sees exactly what the DSL path sees. */
  def predicateTreeOf(e: Expression): PredNode = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions._
    def lit(v: Any, dt: org.apache.spark.sql.types.DataType): PredNode =
      PredNode.Lit(CatalystTypeConverters.convertToScala(v, dt))
    def conv(x: Expression): PredNode = x match {
      case And(l, r)                => PredNode.Fn("and", Seq(conv(l), conv(r)))
      case Or(l, r)                 => PredNode.Fn("or", Seq(conv(l), conv(r)))
      case Not(c)                   => PredNode.Fn("not", Seq(conv(c)))
      case EqualTo(l, r)            => PredNode.Fn("=", Seq(conv(l), conv(r)))
      case LessThan(l, r)           => PredNode.Fn("<", Seq(conv(l), conv(r)))
      case LessThanOrEqual(l, r)    => PredNode.Fn("<=", Seq(conv(l), conv(r)))
      case GreaterThan(l, r)        => PredNode.Fn(">", Seq(conv(l), conv(r)))
      case GreaterThanOrEqual(l, r) => PredNode.Fn(">=", Seq(conv(l), conv(r)))
      case IsNull(c)                => PredNode.Fn("isnull", Seq(conv(c)))
      case IsNotNull(c)             => PredNode.Fn("isnotnull", Seq(conv(c)))
      case In(v, list)              => PredNode.Fn("in", conv(v) +: list.map(conv))
      // the optimizer rewrites long IN-lists to InSet (internal values,
      // no per-element Literal nodes) — convert via the child's type
      case s @ InSet(v, hset)       =>
        PredNode.Fn("in", conv(v) +: hset.toSeq.map(lit(_, v.dataType)))
      // LIKE 'ab%' reaches the scan rule as StartsWith (LikeSimplification)
      case StartsWith(l, r)         => PredNode.Fn("startswith", Seq(conv(l), conv(r)))
      case a: AttributeReference    => PredNode.Attr(a.name)
      case a: catalyst.analysis.UnresolvedAttribute =>
        PredNode.Attr(a.nameParts.mkString("."))
      case l: Literal               => lit(l.value, l.dataType)
      case _                        => PredNode.Other
    }
    conv(e)
  }

  /** Parse one SQL statement with the session's own parser (no analysis)
    * — the single grammar behind `GraftSession.sql`. */
  def parsePlan(spark: SparkSession, text: String): catalyst.plans.logical.LogicalPlan =
    spark.asInstanceOf[classic.SparkSession].sessionState.sqlParser.parsePlan(text)

  /** Build a DataFrame over a raw logical plan (`Dataset.ofRows` is
    * private[sql]). */
  def dataFrame(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame's analyzed logical plan. */
  def analyzedPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A DataFrame's OPTIMIZED logical plan. Sub-plans spliced into a host
    * plan during the last optimizer batch must already be optimized —
    * an analyzed sub-plan would skip every main batch, and e.g. a
    * surviving `ResolvedHint` (from `broadcast(df)`) makes physical
    * planning throw ("should have been replaced by join hint"). */
  def optimizedPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.optimizedPlan

  /** Output attributes for a schema (fresh exprIds). */
  def attributes(schema: types.StructType): Seq[catalyst.expressions.Attribute] =
    catalyst.types.DataTypeUtils.toAttributes(schema)

  /** Install an extra optimizer rule on a LIVE session (idempotent) —
    * the post-creation analog of `SparkSessionExtensions
    * .injectOptimizerRule`, which only applies at session build. */
  def addOptimization(
      spark: SparkSession,
      rule: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }

  def activeSession: SparkSession = SparkSession.active

  /** Re-expose a BATCH DataFrame as a streaming one — what a v1
    * streaming `Source.getBatch` must return (MicroBatchExecution
    * asserts `isStreaming`). File-source relations get the
    * `isStreaming = true` flag `FileStreamSource` itself uses; a
    * relation-free plan (empty batch: LocalRelation / empty RDD) is
    * rebuilt as a streaming empty-row DataFrame over its schema. */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    var marked = 0
    val plan = df.queryExecution.analyzed.transform {
      case lr: execution.datasources.LogicalRelation =>
        marked += 1; lr.copy(isStreaming = true)
    }
    // Exactly-one guard: if the batch plan ever grows a second relation
    // (e.g. a join against a static side), blanket-marking would turn
    // the static side into a phantom second streaming source — a
    // stream-stream join with different semantics. Fail loudly instead.
    require(marked <= 1,
      s"asStreaming expects a single file-source relation, found $marked — " +
        "mark the intended source explicitly before joining static relations")
    if (marked == 1) dataFrame(spark, plan)
    else {
      require(df.isEmpty,
        "asStreaming only lifts file-source relations or empty batches")
      spark.internalCreateDataFrame(
        spark.sparkContext.emptyRDD[catalyst.InternalRow], df.schema,
        isStreaming = true)
    }
  }

  /** Streaming-mark a MULTI-relation batch plan by wrapping its compiled
    * RDD (the KafkaSource `getBatch` pattern:
    * `internalCreateDataFrame(rdd, schema, isStreaming = true)`).
    * The RDD is lazy — nothing executes until the micro-batch runs — and
    * the whole batch plan (joins, unions, anti-joins) stays distributed
    * behind one streaming leaf. Use for sources whose batch is a
    * composition (e.g. the changelog scan's per-snapshot diffs) rather
    * than a single file relation; [[asStreaming]] remains the
    * plan-transparent path for single-scan batches. */
  def asStreamingRdd(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }
}
