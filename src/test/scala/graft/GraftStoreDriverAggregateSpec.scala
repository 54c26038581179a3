package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}

import graft.DriverReads._
import graft.plans.DriverAggregateExec
import graft.sources.GraftStore

/** graft.plans.DriverAggregate: a global aggregate or `count()` over a
  * single-split store read folds on the driver and starts no job. Every
  * case checks `collect()` against the job path
  * (`queryExecution.toRdd`, the same fold in one task) and a parquet twin
  * planned by Spark alone, under ANSI on and off. */
class GraftStoreDriverAggregateSpec extends SparkSuite {

  private lazy val (session, root) = {
    val s2 = spark.newSession()
    val r = graft.ops.Util.managedTempDir("graft_driver_agg_")
    s2.conf.set("spark.sql.catalog.gda", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gda.root", r)
    (s2, r)
  }

  private val Ansi = "spark.sql.ansi.enabled"

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = session.conf.getOption(k)
    session.conf.set(k, v)
    try body
    finally old.fold(session.conf.unset(k))(session.conf.set(k, _))
  }

  /** Rows 0 until 400 with a long key, a double, a decimal, a nullable
    * long (null on k % 5 = 0) and a partition-like int. */
  private def rows(keep: String = "true"): DataFrame =
    session.range(0, 400, 1, 1).selectExpr("id AS k", "CAST(id * 0.25 AS DOUBLE) AS d",
      "CAST(id * 1.0625 - 100 AS DECIMAL(20, 4)) AS m",
      "IF(id % 5 = 0, NULL, id * 3) AS n", "CAST(id % 4 AS INT) AS g").where(keep)

  private def twin(name: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$root/twin_$name")
    session.read.parquet(s"$root/twin_$name").createOrReplaceTempView(name)
  }

  /** A one-file copy-on-write table and its twin. */
  private lazy val cow: String = {
    rows().createOrReplaceTempView("cow_src")
    session.sql("CREATE TABLE gda.cow AS SELECT * FROM cow_src")
    twin("cow_twin", rows())
    "gda.cow"
  }

  /** A one-file merge-on-read table with deletion vectors over
    * k % 7 = 3, and its twin. */
  private lazy val dv: String = {
    rows().createOrReplaceTempView("dv_src")
    session.sql("CREATE TABLE gda.dv (k BIGINT, d DOUBLE, m DECIMAL(20, 4), n BIGINT, g INT) " +
      "TBLPROPERTIES('write.mode'='merge-on-read')")
    session.sql("INSERT INTO gda.dv SELECT * FROM dv_src")
    session.sql("DELETE FROM gda.dv WHERE k % 7 = 3")
    val es = GraftStore.readManifest(s"$root/dv").get._2
    assert(es.size == 1 && es.head.dv.nonEmpty, es)
    twin("dv_twin", rows("k % 7 != 3"))
    "gda.dv"
  }

  /** A one-file path table with equality deletes, and its twin. */
  private lazy val eq: String = {
    val path = s"$root/eqdel"
    rows().write.format("graft.sources.GraftStore").option("path", path).mode("overwrite").save()
    import session.implicits._
    val dead = Seq(3L, 77L, 150L, 399L)
    GraftStore.deleteByKey(session, path, dead.toDF("k"))
    session.read.format("graft.sources.GraftStore").option("path", path).load()
      .createOrReplaceTempView("eqdel")
    twin("eqdel_twin", rows(s"k NOT IN (${dead.mkString(", ")})"))
    "eqdel"
  }

  private def storeOf(twinView: String): String = twinView match {
    case "cow_twin" => cow
    case "dv_twin" => dv
    case "eqdel_twin" => eq
  }

  /** `query` over the store twin of `twinView` through `collect()`: its
    * rows, which must equal the job path's and the parquet twin's, and
    * its jobs. */
  private def check(query: String => String, twinView: String): (Seq[Row], Int) = {
    val table = storeOf(twinView)
    val df = session.sql(query(table))
    val (got, jobs) = jobsOf(spark)(df.collect().toSeq)
    assert(canon(got) == canon(viaJob(df)), s"collect() != job path for ${query(table)}")
    assert(canon(got) == canon(session.sql(query(twinView)).collect().toSeq),
      s"store != parquet twin for ${query(table)}")
    (got, jobs)
  }

  private def onDriverAgg(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan)(_.isInstanceOf[DriverAggregateExec]).isDefined

  private val everyAgg = (t: String) =>
    "SELECT count(*) AS c, count(n) AS cn, sum(k) AS sk, sum(d) AS sd, sum(m) AS sm, " +
      "sum(n) AS sn, avg(k) AS ak, avg(d) AS ad, avg(m) AS am, avg(n) AS an, " +
      "min(k) AS mink, max(d) AS maxd, min(m) AS minm, max(m) AS maxm, max(n) AS maxn, " +
      "first(k) AS fk, last(d) AS ld, first(n, true) AS fn, last(m) AS lm, " +
      s"count(*) * 2 + 1 AS c2 FROM $t WHERE k > 11"

  Seq("true", "false").foreach { ansi =>
    test(s"every declarative aggregate over CoW, DV and equality-delete tables folds on the driver (ANSI $ansi)") {
      withConf(Ansi, ansi) {
        Seq("cow_twin", "dv_twin", "eqdel_twin").foreach { t =>
          val (got, jobs) = check(everyAgg, t)
          assert(got.size == 1 && got.head.getLong(0) > 300, got)
          assert(jobs == 0, s"$t: a one-split aggregate ran $jobs jobs")
          assert(onDriverAgg(session.sql(everyAgg(storeOf(t)))))
        }
      }
    }
  }

  test("count() over one split runs no job and equals the job path") {
    Seq(cow, dv, eq).foreach { t =>
      val df = session.table(t).where("k > 11")
      val (n, jobs) = jobsOf(spark)(df.count())
      assert(jobs == 0, s"$t: count() ran $jobs jobs")
      assert(n == viaJob(df.groupBy().count()).head.getLong(0))
      val (all, allJobs) = jobsOf(spark)(session.table(t).count())
      assert(allJobs == 0 && all == session.sql(s"SELECT * FROM $t").collect().length)
    }
    assert(session.table(dv).count() == (0 until 400).count(_ % 7 != 3))
  }

  test("the plan is DriverAggregate over the scan, with no exchange and no AQE") {
    val q = s"SELECT count(*) AS n, sum(d) AS s FROM $dv WHERE g = 2"
    val df = session.sql(q)
    val (r, jobs) = jobsOf(spark)(df.collect())
    assert(jobs == 0)
    assert(r.head.getLong(0) == (0 until 400).count(k => k % 4 == 2 && k % 7 != 3))
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[DriverAggregateExec], plan)
    assert(plan.toString.startsWith("DriverAggregate") && plan.toString.contains("splits=1"), plan)
    assert(plan.metrics("numOutputRows").value == 1L)
  }

  test("no input yields the empty-input row on both paths") {
    Seq("true", "false").foreach { ansi =>
      withConf(Ansi, ansi) {
        // no row passes the filter: the split is read, nothing folds
        val none = (t: String) =>
          s"SELECT count(*) AS c, sum(k) AS s, avg(m) AS a, max(d) AS x, first(n) AS f FROM $t WHERE k % 1000 = 999"
        val (got, jobs) = check(none, "dv_twin")
        assert(got == Seq(Row(0L, null, null, null, null)) && jobs == 0, got)
        // stats prune every file: no split at all
        val pruned = (t: String) => s"SELECT count(*) AS c, sum(k) AS s FROM $t WHERE k < 0 AND n > 7"
        val (p, pJobs) = check(pruned, "cow_twin")
        assert(p == Seq(Row(0L, null)) && pJobs == 0, p)
        val plan = session.sql(pruned(cow)).queryExecution.executedPlan
        assert(plan.isInstanceOf[DriverAggregateExec] && plan.toString.contains("splits=0"), plan)
        assert(session.sql(pruned(cow)).queryExecution.toRdd.getNumPartitions == 1)
      }
    }
  }

  test("ANSI sum overflow raises the same error class on both paths; without ANSI both wrap alike") {
    def conditions(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.toSeq
    session.sql("CREATE TABLE gda.big AS SELECT id AS k, 9000000000000000000 - id AS v " +
      "FROM range(0, 3, 1, 1)")
    val q = "SELECT sum(v) AS s, count(*) AS c FROM gda.big"
    withConf(Ansi, "true") {
      assert(onDriverAgg(session.sql(q)))
      val onDriver = intercept[Exception](session.sql(q).collect())
      assert(!onDriver.isInstanceOf[org.apache.spark.SparkException], onDriver)
      assert(conditions(onDriver).headOption.contains("ARITHMETIC_OVERFLOW"), onDriver)
      val viaTask = intercept[Exception](viaJob(session.sql(q)))
      assert(conditions(viaTask).contains("ARITHMETIC_OVERFLOW"), viaTask)
    }
    withConf(Ansi, "false") {
      val df = session.sql(q)
      val (got, jobs) = jobsOf(spark)(df.collect().toSeq)
      assert(jobs == 0 && got == viaJob(df))
      assert(got.head.getLong(0) == (0 until 3).map(i => 9000000000000000000L - i).sum)
    }
  }

  test("2 splits, a threshold of -1 and a split above the threshold keep the job") {
    session.sql("CREATE TABLE gda.parts PARTITIONED BY (g) AS SELECT * FROM cow_src")
    val two = (t: String) => s"SELECT count(*) AS c, sum(m) AS s FROM $t WHERE g IN (1, 2)"
    cow // the source view
    val df = session.sql(two("gda.parts"))
    val (got, jobs) = jobsOf(spark)(df.collect().toSeq)
    assert(got == session.sql(two("cow_twin")).collect().toSeq && got == viaJob(df))
    assert(jobs >= 1 && !onDriverAgg(df), df.queryExecution.executedPlan)
    val one = (t: String) => s"SELECT count(*) AS c, sum(m) AS s FROM $t WHERE g = 1 AND k > 3"
    val (g1, g1Jobs) = jobsOf(spark)(session.sql(one("gda.parts")).collect().toSeq)
    assert(g1 == session.sql(one("cow_twin")).collect().toSeq && g1Jobs == 0)

    val key = "spark.sql.autoBroadcastJoinThreshold"
    Seq("-1", "100").foreach { threshold =>
      withConf(key, threshold) {
        val (r, j) = check(everyAgg, "dv_twin")
        assert(r.size == 1)
        assert(j >= 1 && !onDriverAgg(session.sql(everyAgg(dv))), s"threshold $threshold: $j jobs")
        val (_, countJobs) = jobsOf(spark)(session.table(dv).count())
        assert(countJobs >= 1, s"threshold $threshold: count() ran no job")
      }
    }
  }

  test("GROUP BY, DISTINCT, FILTER, percentile, rand() and subqueries keep the job") {
    val cases = Seq[String => String](
      t => s"SELECT g, count(*) AS c, sum(d) AS s FROM $t GROUP BY g",
      t => s"SELECT count(DISTINCT g) AS c, sum(k) AS s FROM $t",
      t => s"SELECT count(*) FILTER (WHERE k > 5) AS c FROM $t",
      t => s"SELECT percentile(k, 0.5) AS p FROM $t",
      // rand() < k holds on every row with k > 0, so the answer is fixed
      t => s"SELECT count(*) AS c FROM $t WHERE k > 0 AND rand() < k",
      t => s"SELECT count(*) AS c, sum(k) AS s FROM $t WHERE k > (SELECT max(id) FROM range(100))")
    cases.foreach { q =>
      val (got, jobs) = check(q, "dv_twin")
      assert(got.nonEmpty)
      assert(jobs >= 1 && !onDriverAgg(session.sql(q(dv))), q(dv))
    }
  }
}
