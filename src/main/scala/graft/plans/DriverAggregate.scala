package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, DynamicPruning, EmptyRow, Expression, JoinedRow, MutableProjection, NamedExpression, SpecificInternalRow, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.sources.GraftStoreScan

/** Plans a global aggregate (no grouping keys) over `[Project] [Filter]`
  * a store scan that plans at most one split as a [[DriverAggregateExec]].
  * Spark would plan a partial and a final aggregate; one split already
  * satisfies the final one's `AllTuples`, so no exchange is planned, but
  * the requirement alone makes Spark run the plan under AQE, which
  * submits its result stage as a job. `DriverAggregateExec` requires no
  * distribution, so the plan stays as planned and `collect()` or
  * `count()` folds the split on the driver.
  *
  * The bound is [[DriverRead]]'s: one split of at most
  * `spark.sql.autoBroadcastJoinThreshold` estimated bytes, -1 turning
  * both off. It declines imperative aggregates (`percentile`,
  * `collect_list`, ...), `DISTINCT` and `FILTER (WHERE ...)` clauses,
  * non-deterministic expressions and subqueries. The logical shape is
  * checked before the scan plans a split, so an aggregate over anything
  * but a store scan costs one pattern match. */
object DriverAggregate extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case a: Aggregate if a.groupingExpressions.isEmpty => storeScan(a.child) match {
      case Some((exprs, scan)) if exprs.forall(plain) => a match {
        case PhysicalAggregation(Seq(), aggs, results, child)
            if aggs.forall(declarative) && results.forall(plain) && DriverRead.fits(scan) =>
          DriverAggregateExec(aggs, results, planLater(child)) :: Nil
        case _ => Nil
      }
      case _ => Nil
    }
    case _ => Nil
  }

  /** The expressions of `[Project] [Filter]` over a store scan, and the scan. */
  private def storeScan(plan: LogicalPlan): Option[(Seq[Expression], GraftStoreScan)] =
    plan match {
      case Project(ps, c) => filtered(c).map { case (es, s) => (ps ++ es, s) }
      case c => filtered(c)
    }

  private def filtered(plan: LogicalPlan): Option[(Seq[Expression], GraftStoreScan)] =
    plan match {
      case Filter(cond, r: DataSourceV2ScanRelation) => scanOf(r).map(s => (Seq(cond), s))
      case r: DataSourceV2ScanRelation => scanOf(r).map(s => (Nil, s))
      case _ => None
    }

  private def scanOf(r: DataSourceV2ScanRelation): Option[GraftStoreScan] = r.scan match {
    case s: GraftStoreScan => Some(s)
    case _ => None
  }

  private def plain(e: Expression): Boolean = e.deterministic && !e.exists {
    case _: SubqueryExpression | _: DynamicPruning => true
    case _ => false
  }

  /** A `DeclarativeAggregate` over plain inputs, with no `DISTINCT` or
    * `FILTER` clause. The function itself may be order-sensitive
    * (`first`, `last`): over one split both paths see the same order. */
  private def declarative(ae: AggregateExpression): Boolean =
    !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
      case f: DeclarativeAggregate => f.children.forall(plain)
      case _ => false
    })
}

/** A global aggregate over a single-split store read (see
  * [[DriverAggregate]]), evaluated in Complete mode with Spark's own
  * `DeclarativeAggregate` expressions, so overflow, decimal and null
  * results match the partial/final job path. `executeCollect` reads the
  * split on the driver ([[DriverRead.read]]) and starts no job;
  * `doExecute` runs the same fold in one task over the child's one
  * partition. No input yields the empty-input row (`count` 0, `sum`
  * NULL). */
case class DriverAggregateExec(aggregates: Seq[AggregateExpression],
    resultExpressions: Seq[NamedExpression], child: SparkPlan) extends UnaryExecNode {
  override def nodeName: String = "DriverAggregate"
  override def output: Seq[Attribute] = resultExpressions.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def producedAttributes: AttributeSet = AttributeSet(aggregates.map(_.resultAttribute))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def executeCollect(): Array[InternalRow] = DriverRead.shape(child) match {
    case Some(shape) =>
      val fold = new DriverAggregateExec.Fold(aggregates, resultExpressions, child.output)
      DriverRead.read(shape)(fold.add)
      longMetric("numOutputRows") += 1
      DriverRead.postMetrics(sparkContext, metrics)
      Array(fold.result())
    case None => super.executeCollect()
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (aggs, results, in) = (aggregates, resultExpressions, child.output)
    val numOutputRows = longMetric("numOutputRows")
    val input = child.execute()
    val one = if (input.getNumPartitions == 0) sparkContext.parallelize(Seq.empty[InternalRow], 1)
      else input.coalesce(1)
    one.mapPartitions { it =>
      val fold = new DriverAggregateExec.Fold(aggs, results, in)
      it.foreach(fold.add)
      numOutputRows += 1
      Iterator.single(fold.result())
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): DriverAggregateExec = copy(child = c)
}

object DriverAggregateExec {
  /** The fold of rows with schema `input` through `aggregates`:
    * `initialValues` into one buffer, `updateExpressions` per row,
    * `evaluateExpression` at the end, then `results` over the aggregate
    * values, as Spark's aggregation iterators do in Complete mode. */
  private[plans] class Fold(aggregates: Seq[AggregateExpression],
      results: Seq[NamedExpression], input: Seq[Attribute]) {
    private val fns = aggregates.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    private val bufferAttrs = fns.flatMap(_.aggBufferAttributes)
    private val buffer = new SpecificInternalRow(bufferAttrs.map(_.dataType))
    MutableProjection.create(fns.flatMap(_.initialValues)).target(buffer)(EmptyRow)
    private val update =
      MutableProjection.create(fns.flatMap(_.updateExpressions), bufferAttrs ++ input)
    update.initialize(0)
    update.target(buffer)
    private val joined = new JoinedRow

    def add(row: InternalRow): Unit = update(joined(buffer, row))

    def result(): InternalRow = {
      val evaluate = MutableProjection.create(fns.map(_.evaluateExpression), bufferAttrs)
      val project = UnsafeProjection.create(results, aggregates.map(_.resultAttribute))
      project.initialize(0)
      project(evaluate(buffer))
    }
  }
}
