package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One lazy SparkSession per suite (guide idiom); sf0.001 fixtures. */
trait SparkSuite extends AnyFunSuite {
  val sfDir = sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
  /** Sibling fixture dir at another scale factor, derived from sfDir so a
    * relocated testdata tree keeps working (no absolute paths in specs). */
  def sfSibling(sf: String): String =
    new java.io.File(new java.io.File(sfDir).getParentFile, s"sf$sf").getPath
  // local[4, 2]: 4 threads, maxFailures = 2 — one task retry, so the
  // GraftStoreSpec kill-one-task exactly-once proof can run a REAL
  // failed-then-retried attempt (plain local[N] hardcodes maxFailures=1
  // and any injected task failure would fail the whole job)
  lazy val spark: SparkSession = GraftSession.builder("local[4, 2]", 4)
    .appName(getClass.getSimpleName)
    .getOrCreate()
}
