package graft

import java.io.File

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.DriverReads._
import graft.plans.DriverReadExec
import graft.sources.{GraftStore, GraftStoreScan}

/** graft.plans.DriverRead: a `collect()` whose root is a single-split
  * store scan (with its filter and projection) reads on the driver and
  * starts no job. Every case checks that `collect()` equals the job path
  * (`queryExecution.toRdd`) and a parquet twin, and counts jobs. */
class GraftStoreDriverReadSpec extends SparkSuite {

  private lazy val (session, root) = {
    val s2 = spark.newSession()
    val r = graft.ops.Util.managedTempDir("graft_driver_read_")
    s2.conf.set("spark.sql.catalog.gdr", "graft.sources.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gdr.root", r)
    (s2, r)
  }

  /** Writes `df` as the parquet twin view `name`. */
  private def twin(name: String, df: DataFrame): Unit = {
    df.write.mode("overwrite").parquet(s"$root/twin_$name")
    session.read.parquet(s"$root/twin_$name").createOrReplaceTempView(name)
  }

  /** `query` over `table` through `collect()`: its rows, which must equal
    * the job path's and the same query over `twinView`, and its jobs. */
  private def check(query: String => String, table: String, twinView: String): (Seq[Row], Int) = {
    val df = session.sql(query(table))
    val (rows, jobs) = jobsOf(spark)(df.collect().toSeq)
    assert(canon(rows) == canon(viaJob(df)), s"collect() != job path for ${query(table)}")
    assert(canon(rows) == canon(session.sql(query(twinView)).collect().toSeq),
      s"store != parquet twin for ${query(table)}")
    (rows, jobs)
  }

  private def scanOf(df: DataFrame): GraftStoreScan =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b.scan }
      .collectFirst { case g: GraftStoreScan => g }
      .getOrElse(fail(s"no graft store scan:\n${df.queryExecution.executedPlan}"))

  /** A PARTITIONED BY (g) table of 2000 keys (k = id * 7, sketched) over
    * 5 values of g, and its twin. */
  private lazy val keyed: String = {
    val src = session.range(0, 2000, 1, 1).selectExpr("id * 7 AS k",
      "CAST(pmod(hash(id), 5) AS INT) AS g", "id AS v")
    src.createOrReplaceTempView("keyed_src")
    session.sql("CREATE TABLE gdr.keyed PARTITIONED BY (g) AS SELECT * FROM keyed_src")
    twin("keyed_twin", src)
    "gdr.keyed"
  }

  /** A one-file merge-on-read table of 300 rows with deletion vectors
    * over k % 7 = 3, and its twin. */
  private lazy val mor: String = {
    session.sql("CREATE TABLE gdr.mor (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('write.mode'='merge-on-read')")
    session.sql("INSERT INTO gdr.mor SELECT id AS k, id * 10 AS v FROM range(0, 300, 1, 1)")
    session.sql("DELETE FROM gdr.mor WHERE k % 7 = 3")
    val es = GraftStore.readManifest(s"$root/mor").get._2
    assert(es.size == 1 && es.head.dv.nonEmpty, es)
    twin("mor_twin", session.range(0, 300).selectExpr("id AS k", "id * 10 AS v")
      .where("k % 7 != 3"))
    "gdr.mor"
  }

  test("a CoW point lookup reads on the driver: no job, same rows, DriverRead in EXPLAIN") {
    val q = (t: String) => s"SELECT k, g, v FROM $t WHERE k = 7007"
    val (rows, jobs) = check(q, keyed, "keyed_twin")
    assert(rows.map(_.getLong(0)) == Seq(7007L))
    assert(jobs == 0, s"point lookup ran $jobs jobs")
    val df = session.sql(q(keyed))
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[DriverReadExec], plan)
    val text = plan.toString
    assert(text.startsWith("DriverRead") && text.contains("files=1/5") &&
      text.contains("splits=1"), text)
    assert(plan.metrics("numOutputRows").value == 1L)
  }

  test("a VERSION AS OF point lookup reads its pinned snapshot on the driver") {
    keyed // the source view
    session.sql("CREATE TABLE gdr.pinned PARTITIONED BY (g) AS SELECT * FROM keyed_src")
    val v0 = session.sql("SELECT max(version) FROM gdr.`pinned$snapshots`").collect()(0).getLong(0)
    session.sql("DELETE FROM gdr.pinned WHERE k = 7007")
    val now = (t: String) => s"SELECT k, v FROM $t WHERE k = 7007"
    val (gone, _) = check(now, "gdr.pinned", "(SELECT * FROM keyed_twin WHERE k != 7007)")
    assert(gone.isEmpty)
    val asOf = (t: String) =>
      if (t.startsWith("gdr.")) s"SELECT k, v FROM $t VERSION AS OF $v0 WHERE k = 7007"
      else s"SELECT k, v FROM $t WHERE k = 7007"
    val (rows, jobs) = check(asOf, "gdr.pinned", "keyed_twin")
    assert(rows.map(_.getLong(1)) == Seq(1001L))
    assert(jobs == 0, s"VERSION AS OF lookup ran $jobs jobs")
  }

  test("deletion vectors and equality deletes mask on the driver exactly as tasks do") {
    val q = (t: String) => s"SELECT k, v FROM $t WHERE v > 100"
    val (rows, jobs) = check(q, mor, "mor_twin")
    assert(rows.size == (11 until 300).count(_ % 7 != 3))
    assert(jobs == 0, s"$jobs jobs")

    val path = s"$root/eqdel"
    session.range(0, 300, 1, 1).selectExpr("id AS k", "id * 10 AS v")
      .write.format("graft.sources.GraftStore").option("path", path).mode("overwrite").save()
    import session.implicits._
    val dead = Seq(3L, 77L, 150L, 299L)
    GraftStore.deleteByKey(session, path, dead.toDF("k"))
    session.read.format("graft.sources.GraftStore").option("path", path).load()
      .createOrReplaceTempView("eqdel")
    twin("eqdel_twin", session.range(0, 300).selectExpr("id AS k", "id * 10 AS v")
      .where(!$"k".isin(dead: _*)))
    val (eqRows, eqJobs) = check(t => s"SELECT k, v FROM $t WHERE k < 200", "eqdel", "eqdel_twin")
    assert(eqRows.size == 197)
    assert(eqJobs == 0, s"$eqJobs jobs")
  }

  test("_file and _pos read on the driver as in a task") {
    val file = GraftStore.readManifest(s"$root/${mor.stripPrefix("gdr.")}").get._2.head.file
    val df = session.sql(s"SELECT k, _file, _pos FROM $mor WHERE k < 50")
    val (rows, jobs) = jobsOf(spark)(df.collect().toSeq)
    assert(jobs == 0 && onDriver(df))
    assert(canon(rows) == canon(viaJob(df)))
    val expect = (0L until 50L).filter(_ % 7 != 3).map(k => Row(k, file, k))
    assert(canon(rows) == canon(expect))
  }

  test("a metadata-only aggregate and an absent key run no job") {
    val part = (t: String) => s"SELECT count(*) AS n, sum(v) AS s FROM $t WHERE g = 2"
    val (agg, aggJobs) = check(part, keyed, "keyed_twin")
    assert(agg.head.getLong(0) > 0)
    assert(scanOf(session.sql(part(keyed))).description().contains("metadata-only"))
    assert(aggJobs == 0, s"metadata-only aggregate ran $aggJobs jobs")
    val absent = (t: String) => s"SELECT * FROM $t WHERE k = 7008"
    val (none, absentJobs) = check(absent, keyed, "keyed_twin")
    assert(none.isEmpty)
    assert(scanOf(session.sql(absent(keyed))).description().contains("files=0/5"))
    assert(absentJobs == 0, s"absent key ran $absentJobs jobs")
  }

  test("a 2-split scan, a threshold of -1 and a split above the threshold keep the job") {
    keyed // the twin view
    val ks = (0 until 2).map(g =>
      session.sql(s"SELECT k FROM keyed_twin WHERE g = $g ORDER BY k LIMIT 1").collect()(0).getLong(0))
    val two = (t: String) => s"SELECT k, v FROM $t WHERE k IN (${ks.mkString(", ")})"
    val (rows, jobs) = check(two, keyed, "keyed_twin")
    assert(rows.size == 2)
    assert(scanOf(session.sql(two(keyed))).description().contains("splits=2"))
    assert(jobs >= 1 && !onDriver(session.sql(two(keyed))))

    val lookup = (t: String) => s"SELECT k, v FROM $t WHERE k = 7007"
    val key = "spark.sql.autoBroadcastJoinThreshold"
    Seq("-1", "100").foreach { threshold =>
      session.conf.set(key, threshold)
      try {
        val (one, j) = check(lookup, keyed, "keyed_twin")
        assert(one.size == 1)
        assert(j >= 1 && !onDriver(session.sql(lookup(keyed))), s"threshold $threshold: $j jobs")
      } finally session.conf.unset(key)
    }
    assert(scanOf(session.sql(lookup(keyed))).estimatedBytes > 100)
  }

  test("rand() and subquery filters keep the job") {
    // rand() < k holds on every row with v > 100 (k > 10), so the answer
    // is fixed; a comparison with a literal would be folded away
    val rand = (t: String) => s"SELECT k FROM $t WHERE v > 100 AND rand() < k"
    val (r, rJobs) = check(rand, mor, "mor_twin")
    assert(r.nonEmpty && rJobs >= 1)
    assert(!onDriver(session.sql(rand(mor))))
    val sub = (t: String) => s"SELECT k FROM $t WHERE v > (SELECT max(id) FROM range(100))"
    val (s, sJobs) = check(sub, mor, "mor_twin")
    assert(s.nonEmpty && sJobs >= 1)
    val df = session.sql(sub(mor))
    df.collect()
    assert(!onDriver(df), df.queryExecution.executedPlan)
  }

  test("a join keeps its job; a one-split aggregate runs none") {
    val join = (t: (String, String)) =>
      s"SELECT a.k, b.v FROM ${t._1} a JOIN ${t._2} b ON a.v = b.k WHERE a.k = 7 * 250"
    val df = session.sql(join((keyed, mor)))
    val (rows, _) = jobsOf(spark)(df.collect().toSeq)
    assert(!onDriver(df))
    assert(canon(rows) == canon(viaJob(df)))
    assert(canon(rows) == canon(session.sql(join(("keyed_twin", "mor_twin"))).collect().toSeq))
    assert(rows == Seq(Row(1750L, 2500L)))
    // a global aggregate over the one split folds on the driver
    // (graft.plans.DriverAggregate)
    val agg = (t: String) => s"SELECT count(*), max(v) FROM $t WHERE v > 5"
    val (a, aggJobs) = check(agg, mor, "mor_twin")
    assert(a.head.getLong(0) == (1 until 300).count(_ % 7 != 3))
    assert(aggJobs == 0 && onDriver(session.sql(agg(mor))), s"$aggJobs jobs")
  }

  test("ANSI overflow in a projection raises the same error class on both paths") {
    def conditions(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
        case s: SparkThrowable if s.getCondition != null => s.getCondition
      }.toSeq
    val q = s"SELECT k * 9223372036854775807 AS x FROM $keyed WHERE k = 7007"
    val onDriverErr = intercept[Exception](session.sql(q).collect())
    assert(onDriver(session.sql(q)))
    assert(!onDriverErr.isInstanceOf[org.apache.spark.SparkException], onDriverErr)
    assert(conditions(onDriverErr).headOption.contains("ARITHMETIC_OVERFLOW"), onDriverErr)
    val jobErr = intercept[Exception](viaJob(session.sql(q)))
    assert(conditions(jobErr).contains("ARITHMETIC_OVERFLOW"), jobErr)
  }

  test("a missing data file fails with a message naming the file") {
    val path = s"$root/missing"
    session.range(0, 100, 1, 1).selectExpr("id AS k", "id AS v")
      .write.format("graft.sources.GraftStore").option("path", path).mode("overwrite").save()
    val file = GraftStore.readManifest(path).get._2.head.file
    assert(new File(path, file).delete())
    val df = session.read.format("graft.sources.GraftStore").option("path", path).load()
      .where("k = 5")
    assert(onDriver(df))
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e = intercept[Exception](df.collect())
    assert(e.isInstanceOf[java.io.FileNotFoundException], e)
    assert(e.getMessage.contains(new File(file).getName), e.getMessage)
    val viaTask = intercept[Exception](viaJob(df))
    assert(messages(viaTask).contains(new File(file).getName), messages(viaTask))
  }

  test("4 threads doing point lookups during appends lose nothing") {
    keyed // the source view
    session.sql("CREATE TABLE gdr.conc PARTITIONED BY (g) AS SELECT * FROM keyed_src")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (0 until 4).map { t =>
      val th = new Thread(() => {
        val rnd = new scala.util.Random(t)
        var n = 0
        while (!stop.get() || n < 20) {
          val id = rnd.nextInt(2000).toLong
          try {
            val got = session.sql(s"SELECT v FROM gdr.conc WHERE k = ${id * 7}").collect()
            if (got.map(_.getLong(0)).toSeq != Seq(id)) errors.add(s"k=${id * 7}: ${got.toSeq}")
          } catch { case e: Exception => errors.add(s"k=${id * 7}: $e") }
          n += 1
        }
      })
      th.start(); th
    }
    try {
      (1 to 4).foreach { i =>
        session.sql(s"INSERT INTO gdr.conc SELECT 20000 + id * 7 + $i AS k, " +
          s"CAST(pmod(hash(id), 5) AS INT) AS g, -id AS v FROM range(0, 50, 1, 1)")
      }
    } finally {
      stop.set(true)
      readers.foreach(_.join(120000))
    }
    assert(errors.isEmpty, errors.toArray.take(5).mkString("; "))
    val appended = session.sql("SELECT count(*) FROM gdr.conc WHERE k >= 20000").collect()(0).getLong(0)
    assert(appended == 200)
    val (rows, jobs) = jobsOf(spark)(session.sql("SELECT v FROM gdr.conc WHERE k = 20008").collect())
    assert(rows.map(_.getLong(0)).toSeq == Seq(-1L) && jobs == 0)
  }
}
