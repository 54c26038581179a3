package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.plans.{DriverAggregateExec, DriverReadExec}

/** Helpers for specs that compare a `collect()` served on the driver
  * (graft.plans.DriverRead, graft.plans.DriverAggregate) with the job
  * path it replaces. */
object DriverReads extends AdaptiveSparkPlanHelper {
  private val FenceKey = "graft.spec.jobFence"

  /** `body`'s value and the Spark jobs started while it ran, counted by
    * a listener. A fence job run after `body` marks the end: listener
    * events arrive in order, so every job of `body` is counted once the
    * fence is seen. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(FenceKey) != null)) fenced.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setLocalProperty(FenceKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(FenceKey, null)
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the fence job")
      (out, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  /** `df`'s rows through the job path: the executed plan's RDD, which
    * runs the plan under any DriverRead root unchanged. */
  def viaJob(df: DataFrame): Seq[Row] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    df.queryExecution.toRdd.map(_.copy()).collect().toSeq.map(r => toRow(r).asInstanceOf[Row])
  }

  /** Whether `df`'s executed plan holds a DriverRead or DriverAggregate
    * node (at its root, where a `collect()` reads on the driver). */
  def onDriver(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan) {
      case _: DriverReadExec | _: DriverAggregateExec => true
      case _ => false
    }.isDefined

  /** Rows as sorted strings, for order-free comparison. */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
}
