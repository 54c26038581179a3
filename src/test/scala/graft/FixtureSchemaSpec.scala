package graft

import org.apache.spark.sql.types._

/** Regression guard for the driver-generated fixtures (SURVEY §1.2).
  *
  * Regenerated parquet fixtures with DIFFERENT physical types surface as
  * dozens of cryptic analysis errors deep inside queries (round 7:
  * events.ts once flipped from timestamp[ns] to timestamp[us]). This spec
  * pins what the queries actually assume, so the next environment shift
  * fails HERE with a pointed message instead.
  *
  * events.ts is a set-membership check: graft.ops.Util.events and
  * graft.streaming.StreamingOps.readEvents accept a tz-naive (NTZ) or a
  * tz-aware µs timestamp and normalize both to TIMESTAMP. A nanosecond
  * file does not read as a timestamp in Spark 4 and is refused.
  */
class FixtureSchemaSpec extends SparkSuite {

  private def schemaOf(table: String): Map[String, DataType] =
    spark.read.parquet(s"$sfDir/$table.parquet")
      .schema.fields.map(f => f.name -> f.dataType).toMap

  private def assertCols(table: String, expected: (String, DataType)*): Unit = {
    val actual = schemaOf(table)
    expected.foreach { case (name, dt) =>
      assert(actual.contains(name),
        s"FIXTURE DRIFT: $table.$name missing — the fixtures were regenerated " +
          s"with a different schema; audit every query reading `$table`")
      assert(actual(name) == dt,
        s"FIXTURE DRIFT: $table.$name is ${actual(name)}, queries assume $dt — " +
          s"the testdata was regenerated with different physical types; " +
          s"audit every query reading `$table` (see Util.events for the " +
          s"round-7 events.ts precedent)")
    }
  }

  test("events.ts reads as one of the two types Util.events adapts to") {
    val tsType = schemaOf("events")("ts")
    assert(Set[DataType](TimestampNTZType, TimestampType)(tsType),
      s"FIXTURE DRIFT: events.ts reads as $tsType — Util.events/" +
        s"StreamingOps.readEvents only adapt to TIMESTAMP_NTZ or TIMESTAMP; " +
        s"extend both helpers before anything else this round")
    assertCols("events",
      "event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType)
  }

  test("TPC-H-ish tables keep the types the oracles assume") {
    assertCols("region", "r_regionkey" -> IntegerType, "r_name" -> StringType)
    assertCols("nation", "n_nationkey" -> IntegerType,
      "n_name" -> StringType, "n_regionkey" -> IntegerType)
    assertCols("customer", "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType)
    assertCols("supplier", "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
    assertCols("part", "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
    // orderdate/shipdate have themselves drifted (ms → µs across rebuilds);
    // any timestamp flavor Spark surfaces as a timestamp is fine, LONG is not
    val od = schemaOf("orders")("o_orderdate")
    assert(Set[DataType](TimestampNTZType, TimestampType)(od),
      s"FIXTURE DRIFT: orders.o_orderdate reads as $od (expected a timestamp)")
    assertCols("orders", "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderpriority" -> StringType)
    val sd = schemaOf("lineitem")("l_shipdate")
    assert(Set[DataType](TimestampNTZType, TimestampType)(sd),
      s"FIXTURE DRIFT: lineitem.l_shipdate reads as $sd (expected a timestamp)")
    assertCols("lineitem", "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType)
  }

  test("LLM-pipeline tables keep the types the curation ops assume") {
    assertCols("documents", "doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType)
    assertCols("embeddings", "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  }
}
