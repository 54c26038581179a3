package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      // Write µs timestamps (not INT96) so DuckDB reads the dump natively.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Spark writes TimestampType as UTC-adjusted (instant) parquet, which
    // DuckDB surfaces as TIMESTAMPTZ while oracle results are naive — cast
    // all timestamp outputs to NTZ (session TZ is UTC, wall clock preserved).
    def ntz(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.col
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      df.select(df.schema.fields.map { f =>
        if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
        else col(f.name)
      }.toSeq: _*)
    }
    // optional subset for fast local parity iteration (driver sets nothing)
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (n, _) => filter.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // self-cached query subtrees must not accumulate: builders register
      // every internal cache, so release is deterministic (not LRU)
      graft.ops.Util.unpersistRegistered()
      try ntz(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
