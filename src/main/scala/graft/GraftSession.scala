package graft

import org.apache.spark.sql.SparkSession

/** The session configuration every harness main (Bench, Verify, PlanDump,
  * ControlAB) and the test `SparkSuite` run under, so a spec exercises
  * the configuration the bench times and the oracle dump checks. Callers
  * add what only they need (Verify's parquet timestamp type, the suite's
  * task-retry master) on the returned builder. */
object GraftSession {
  def builder(master: String, partitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      // Kryo for RDD shuffles (round 19): DataFrame exchanges use
      // UnsafeRow and are unaffected, but the graph/CC fixpoint family
      // shuffles Scala tuples through spark.serializer every superstep —
      // Java serialization there measured ~8% of pagerank's superstep
      // time and ~0.3 s on q_dedup_connected's delta iteration. Scale-
      // independent (standard production setting), value-neutral.
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      // the status stores retain per-job/stage/execution state (incl.
      // full plan graphs) even with the UI off — across a 290-query run
      // that is hundreds of MB of old-gen churn that shows up as 2-3x
      // slowdowns on late queries vs the same query isolated. Keep just
      // enough for post-mortem of the last few queries.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "0")
}
