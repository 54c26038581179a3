package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface of the engine (SURVEY §2.10). These are the
  * production (readStream) forms of the batch-equivalent queries declared in
  * graft.ops.StreamOps; StreamingParitySpec proves stream == batch on the
  * fixtures by running them through a memory sink.
  *
  * Scale notes: every aggregation here carries a watermark, so state-store
  * size is bounded by (watermark horizon × key cardinality), not by stream
  * length; sliding windows share one shuffle per (window, key) aggregation;
  * session windows use Spark's native merging session store.
  */
object StreamingOps {

  def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Events as an unbounded stream from a parquet directory. readStream
    * requires a user schema, and `ts` reads as TIMESTAMP_NTZ (tz-naive µs)
    * or TIMESTAMP depending on the file's UTC-adjusted flag, so probe the
    * footer with a one-off batch read and declare the stream schema to
    * match, normalizing to TIMESTAMP exactly as graft.ops.Util.events does
    * for batch. The probe reads footers only (no row groups) — cheap even
    * on a large directory. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val tsType = spark.read.parquet(dir).schema("ts").dataType
    val raw = spark.readStream.schema(eventsSchema(tsType)).parquet(dir)
    tsType match {
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other (expected TIMESTAMP_NTZ or TIMESTAMP)")
    }
  }

  /** Tumbling 1-hour counts/sums per event type, 10-minute watermark. */
  def tumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 1-hour/15-minute windows. */
  def sliding(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Per-user session windows with a 30-minute gap. */
  def sessions(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("n_events"), col("sum_value"))

  /** Hourly OHLC composite per event type (streaming form of
    * graft.ops.TimeSeries.qTsOhlc): min_by/max_by on the unique
    * event_id arrival order are ordinary declarative aggregates, so the
    * state store carries one (value, key) pair per group — the same
    * O(1)-per-group cost as the batch plan, bounded by the watermark
    * horizon × type cardinality. */
  def ohlc(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(min_by(col("value"), col("event_id")).as("open"),
        max_by(col("value"), col("event_id")).as("close"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("window.start").as("hour"),
        col("open"), col("close"), col("high"), col("low"), col("n_events"))

  /** Exactly-once style dedup on event_id within the watermark horizon. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment: the event stream joined to a STATIC
    * (batch) dimension DataFrame — broadcast per micro-batch, no
    * watermark, no join state. The canonical streaming dimension join. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Stream-stream inner self-join: purchases ⋈ same-user clicks in the
    * preceding 30 minutes. Watermarks on BOTH sides plus the time-range
    * join condition let Spark expire click state older than the watermark
    * + range — state is bounded by (horizon × active users), not stream
    * length. Returns the raw matched pairs; the batch analog aggregates
    * them (graft.ops.StreamOps.qStreamJoin). */
  def purchaseClicks(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(clicks,
      expr("user_id = c_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("p_id"), col("c_id"))
  }

  /** Stream-stream LEFT OUTER join — same bounded predicate as
    * purchaseClicks, but a purchase with no qualifying click emits one
    * null-padded row once the GLOBAL watermark (min across both sides)
    * passes its join window, i.e. the row is provably unmatchable. This
    * is the streaming semantics inner joins can't express: "every
    * purchase, attributed or not". State stays bounded exactly as in
    * the inner form. */
  /** Stream-stream FULL OUTER join (round 17) — the last join laterality
    * the streaming engine supports: unmatched PURCHASES null-pad like the
    * left-outer form, and unmatched CLICKS also emit once the global
    * watermark proves no future purchase can claim them (the range
    * condition bounds both sides' state, so eviction works in both
    * directions). Output keys on coalesce(user) so both null-padded
    * shapes carry their user. */
  def purchaseClicksFullOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(clicks,
      expr("user_id = c_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 30 MINUTES"),
      "fullOuter")
      .select(coalesce(col("user_id"), col("c_user")).as("user_id"),
        col("p_id"), col("c_id"))
  }

  def purchaseClicksOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
      .withWatermark("p_ts", "10 minutes")
    purchases.join(clicks,
      expr("user_id = c_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 30 MINUTES"),
      "leftOuter")
      .select(col("user_id"), col("p_id"), col("c_id"))
  }
}
