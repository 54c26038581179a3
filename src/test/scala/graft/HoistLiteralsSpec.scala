package graft

import java.time.{Instant, LocalDate, LocalDateTime}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types._

import graft.plans.{BoundLiteral, HoistLiterals}

/** graft.plans.HoistLiterals: primitive literals of filters and
  * projections are read from the generated class, so a query shape
  * compiles once for all its parameters, with results, errors and plan
  * text unchanged. */
class HoistLiteralsSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def bound(plan: SparkPlan): Seq[BoundLiteral] =
    flatMap(plan)(_.expressions.flatMap(_.collect { case b: BoundLiteral => b }))

  test("50 point lookups with distinct keys compile nothing after the first") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.h", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.h.root",
      graft.ops.Util.managedTempDir("graft_hoist_spec_"))
    s.sql("CREATE TABLE h.pl PARTITIONED BY (g) AS " +
      "SELECT id AS k, id % 5 AS g, concat('v', id) AS v FROM range(0, 500)")
    def lookup(key: Int): Seq[Row] =
      s.sql(s"SELECT k, v FROM h.pl WHERE k = $key").collect().toSeq
    assert(lookup(7) == Seq(Row(7L, "v7")))
    val c0 = compiles
    (100 until 149).foreach(key => assert(lookup(key) == Seq(Row(key.toLong, s"v$key"))))
    assert(compiles == c0, s"49 lookups after the first compiled ${compiles - c0} classes")
  }

  // one column per hoisted type: nulls, the type's extremes, NaN and -0.0
  private val types: Seq[(String, DataType, Seq[Any], Seq[Any])] = Seq(
    ("b", ByteType, Seq(null, Byte.MinValue, -1.toByte, 0.toByte, 7.toByte, Byte.MaxValue),
      Seq(7.toByte, Byte.MinValue)),
    ("s", ShortType, Seq(null, Short.MinValue, -1.toShort, 0.toShort, 7.toShort, Short.MaxValue),
      Seq(7.toShort, Short.MaxValue)),
    ("i", IntegerType, Seq(null, Int.MinValue, -3, 0, 13, Int.MaxValue),
      Seq(13, -3, Int.MinValue)),
    ("l", LongType, Seq(null, Long.MinValue, -1L, 0L, 13L, Long.MaxValue),
      Seq(13L, Long.MaxValue, Long.MinValue)),
    ("f", FloatType, Seq(null, Float.NaN, -0.0f, 0.0f, 1.5f, Float.NegativeInfinity),
      Seq(1.5f, Float.NaN, -0.0f)),
    ("d", DoubleType, Seq(null, Double.NaN, -0.0, 0.0, 1.5, Double.MaxValue),
      Seq(0.0, -0.0, Double.NaN, 1.5)),
    ("dt", DateType, Seq(null, LocalDate.parse("1970-01-01"), LocalDate.parse("2024-02-29"),
      LocalDate.parse("9999-12-31"), LocalDate.parse("1900-01-01"), LocalDate.parse("2024-03-01")),
      Seq(LocalDate.parse("2024-02-29"))),
    ("ts", TimestampType, Seq(null, Instant.parse("1970-01-01T00:00:00Z"),
      Instant.parse("2024-02-29T12:00:00.000001Z"), Instant.parse("1900-01-01T00:00:00Z"),
      Instant.parse("9999-12-31T23:59:59Z"), Instant.parse("2024-02-29T12:00:00Z")),
      Seq(Instant.parse("2024-02-29T12:00:00.000001Z"))),
    ("tsn", TimestampNTZType, Seq(null, LocalDateTime.parse("1970-01-01T00:00:00"),
      LocalDateTime.parse("2024-02-29T12:00:00.000001"), LocalDateTime.parse("1900-01-01T00:00:00"),
      LocalDateTime.parse("9999-12-31T23:59:59"), LocalDateTime.parse("2024-02-29T12:00:00")),
      Seq(LocalDateTime.parse("2024-02-29T12:00:00.000001"))))

  /** The typed table, from parquet so filters and projections stay in the
    * physical plan (a local relation is evaluated by the optimizer). */
  private lazy val table: DataFrame = {
    val schema = StructType(StructField("id", IntegerType) +:
      types.map { case (n, dt, _, _) => StructField(n, dt) })
    val rows = types.head._3.indices.map(r => Row.fromSeq(r +: types.map(_._3(r))))
    val dir = graft.ops.Util.managedTempDir("graft_hoist_types_")
    withConf("spark.sql.datetime.java8API.enabled" -> "true") {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir)
  }

  /** Every hoisted operator with `x` as its literal or column operand. */
  private def ops(c: Column, x: Column, numeric: Boolean): Seq[Column] =
    Seq(c === x, c <=> x, c < x, c <= x, c > x, c >= x, c.isin(x), c.isin(x, lit(null))) ++
      (if (numeric) Seq(c + x, c - x, c * x, c % x, x - c) else Nil)

  /** The projection, the `>=` filter and the `IN` filter of one type and
    * parameter, as strings (so -0.0 and 0.0 differ), in id order. */
  private def run(n: String, dt: DataType, p: Any, param: Boolean): Seq[Seq[String]] = {
    val numeric = dt.isInstanceOf[NumericType]
    val (t, x) =
      if (param) (table.crossJoin(broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(p)), 1),
        StructType(Seq(StructField("p", dt)))))), col("p"))
      else (table, lit(p).cast(dt))
    val c = col(n)
    val queries = Seq(
      t.select(col("id") +: ops(c, x, numeric): _*),
      t.where(c >= x).select("id"),
      t.where(c.isin(x, lit(null)) || c < x).select("id"))
    queries.flatMap { q =>
      val rows = q.collect().toSeq.map(_.toSeq.map(String.valueOf))
      if (!param && spark.conf.get("spark.sql.codegen.factoryMode") != "NO_CODEGEN")
        assert(bound(q.queryExecution.executedPlan).nonEmpty,
          s"no literal of $n was hoisted:\n${q.queryExecution.executedPlan}")
      rows.sortBy(_.head.toInt) :+ Seq("--")
    }
  }

  test("every hoisted operator and type matches the column-operand and interpreted paths, AQE on and off") {
    withConf("spark.sql.ansi.enabled" -> "false",
        "spark.sql.datetime.java8API.enabled" -> "true") {
      for ((n, dt, _, params) <- types; p <- params) {
        val expected = run(n, dt, p, param = true)
        for (aqe <- Seq("true", "false"))
          withConf("spark.sql.adaptive.enabled" -> aqe) {
            assert(run(n, dt, p, param = false) == expected, s"$n $p, AQE $aqe")
          }
        withConf("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
            "spark.sql.codegen.wholeStage" -> "false") {
          assert(run(n, dt, p, param = false) == expected, s"$n $p, interpreted")
        }
      }
    }
    // an anchor in plain values: the extremes of a long column
    assert(table.where(col("l") === lit(Long.MaxValue)).select("id").collect()
      .map(_.getInt(0)).toSeq == Seq(5))
    assert(table.where(col("l") < lit(Long.MinValue + 1)).select("id").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
  }

  test("ANSI overflow and remainder by zero still raise through a hoisted literal") {
    def failure(expr: String): String = {
      val df = spark.range(0, 4, 1, 1).selectExpr(expr)
      val e = intercept[Exception](df.collect())
      assert(bound(df.queryExecution.executedPlan).nonEmpty)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
    }
    withConf("spark.sql.ansi.enabled" -> "true") {
      val overflow = failure("id + 9223372036854775807 AS v")
      assert(overflow.contains("ARITHMETIC_OVERFLOW"), overflow)
      // Spark 4.1 names the `%` case apart from division's DIVIDE_BY_ZERO
      val byZero = failure("id % 0 AS v")
      assert(byZero.contains("REMAINDER_BY_ZERO"), byZero)
    }
  }

  test("EXPLAIN text is the literal's: the plan prints as it did before hoisting") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = spark.range(0, 100, 1, 2).where("id % 7 = 3 AND id > 10")
        .selectExpr("id * 2 + 1 AS v", "id IN (17, 24) AS hit")
      val plan = df.queryExecution.executedPlan
      assert(bound(plan).size == 7, plan.toString)
      val unbound = plan.transformAllExpressions { case b: BoundLiteral => b.lit }
      assert(bound(unbound).isEmpty)
      for (verbose <- Seq(true, false))
        assert(plan.treeString(verbose) == unbound.treeString(verbose))
      def formatted(p: SparkPlan): String = {
        val sb = new StringBuilder
        org.apache.spark.sql.execution.ExplainUtils.processPlan(p, sb.append(_))
        sb.toString
      }
      assert(formatted(plan) == formatted(unbound))
      assert(plan.toString.contains("% 7) = 3)"), plan.toString)
      // a plan with nothing to hoist comes back as the same node
      val none = spark.range(3).selectExpr("id AS v").queryExecution.sparkPlan
      assert(HoistLiterals(none) eq none)
    }
  }
}
