package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, NamedExpression, Predicate, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ExecSubqueryExpression, FilterExec, InputAdapter, ProjectExec, SQLExecution, SparkPlan, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import graft.sources.GraftStoreScan

/** Wraps the root of a plan shaped `[ProjectExec] [FilterExec]
  * BatchScanExec(GraftStoreScan)` in a [[DriverReadExec]] when the scan
  * plans at most one input partition, so that `collect()` reads it on
  * the driver and runs no Spark job: a point lookup or a metadata-only
  * aggregate then pays no closure cleaning, task-binary broadcast,
  * scheduling or result fetch.
  *
  * A data split qualifies when its estimated bytes (the manifest's live
  * rows × row width) are at most `spark.sql.autoBroadcastJoinThreshold`,
  * Spark's own bound for a relation pulled through the driver; a
  * negative threshold turns the rule off. It declines runtime filters,
  * columnar scans, non-deterministic expressions and subqueries. Only
  * the root is wrapped, and only `executeCollect` changes: everything
  * else (`toLocalIterator`, caching, writes, a non-root use) runs the
  * child as before. `count()` and other global aggregates over such a
  * scan are [[DriverAggregate]]'s. */
object DriverRead extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case _: DriverReadExec => plan
    case _ if qualifies(plan) => DriverReadExec(plan)
    case _ => plan
  }

  /** The optional projection and filter over a store scan that `plan`
    * is, through the codegen wrappers `CollapseCodegenStages` adds, when
    * the driver can read it as a task would: no runtime filters, a row
    * scan, deterministic expressions and no subqueries. */
  private[plans] def shape(plan: SparkPlan): Option[Shape] =
    (strip(plan) match {
      case ProjectExec(ps, c) => filtered(c).map { case (f, s) => (Some(ps), f, s) }
      case c => filtered(c).map { case (f, s) => (None, f, s) }
    }).filter { case (project, filter, scan) =>
      scan.runtimeFilters.isEmpty && !scan.supportsColumnar &&
        (project.getOrElse(Nil) ++ filter).forall(e =>
          e.deterministic && !e.exists(_.isInstanceOf[ExecSubqueryExpression]))
    }

  private[plans] type Shape = (Option[Seq[NamedExpression]], Option[Expression], BatchScanExec)

  private def filtered(plan: SparkPlan): Option[(Option[Expression], BatchScanExec)] =
    strip(plan) match {
      case FilterExec(cond, c) => storeScan(c).map(s => (Some(cond), s))
      case c => storeScan(c).map(s => (None, s))
    }

  private def storeScan(plan: SparkPlan): Option[BatchScanExec] = strip(plan) match {
    case b: BatchScanExec if b.scan.isInstanceOf[GraftStoreScan] => Some(b)
    case _ => None
  }

  private def strip(plan: SparkPlan): SparkPlan = plan match {
    case w: WholeStageCodegenExec => strip(w.child)
    case i: InputAdapter => strip(i.child)
    case _ => plan
  }

  /** Whether `scan` is small enough to read on the driver: at most one
    * split of at most `spark.sql.autoBroadcastJoinThreshold` estimated
    * bytes (a negative threshold turns the driver reads off). */
  private[plans] def fits(scan: GraftStoreScan): Boolean = {
    val threshold = conf.autoBroadcastJoinThreshold
    threshold >= 0 && scan.singleSplitWithin(threshold)
  }

  private def qualifies(plan: SparkPlan): Boolean =
    shape(plan).exists { case (_, _, scan) => fits(scan.scan.asInstanceOf[GraftStoreScan]) }

  /** Reads the partitions a [[shape]]'s scan planned on the driver with
    * its own reader factory, applies the filter and projection the child
    * would (`Predicate.create` and `UnsafeProjection.create` over the same
    * expressions) and hands each surviving row to `emit`. The row is
    * reused: copy it to keep it. */
  private[plans] def read(shape: Shape)(emit: InternalRow => Unit): Unit = {
    val (project, filter, scan) = shape
    val in = scan.output
    val keep = filter.map { c => val p = Predicate.create(c, in); p.initialize(0); p }
    val proj = UnsafeProjection.create(project.getOrElse(in), in)
    proj.initialize(0)
    val factory = scan.readerFactory
    scan.inputPartitions.foreach { p =>
      val reader = factory.createReader(p)
      try {
        while (reader.next()) {
          val r = reader.get()
          if (keep.forall(_.eval(r))) emit(proj(r))
        }
      } finally reader.close()
    }
  }

  /** Posts metrics updated on the driver to the running execution. */
  private[plans] def postMetrics(sc: SparkContext, metrics: Map[String, SQLMetric]): Unit =
    SQLMetrics.postDriverMetricUpdates(sc,
      sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
}

/** The root of a single-split store read (see [[DriverRead]]).
  * `executeCollect` reads the scan's planned partition on the driver
  * ([[DriverRead.read]]); `doExecute` runs the child unchanged. */
case class DriverReadExec(child: SparkPlan) extends UnaryExecNode {
  override def nodeName: String = "DriverRead"
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = child.execute()

  override def executeCollect(): Array[InternalRow] = DriverRead.shape(child) match {
    case Some(shape) =>
      val rows = ArrayBuffer.empty[InternalRow]
      DriverRead.read(shape)(r => rows += r.copy())
      longMetric("numOutputRows") += rows.size
      DriverRead.postMetrics(sparkContext, metrics)
      rows.toArray
    case None => child.executeCollect()
  }

  override protected def withNewChildInternal(c: SparkPlan): DriverReadExec = copy(child = c)
}
