package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** End-to-end training-corpus cleaning pipeline — the composition showcase:
  * the individual operators (language filter, quality scoring, exact dedup)
  * each exist as standalone queries; this chains them the way a real
  * 100 TB data-prep job would, in ONE declarative plan so Catalyst fuses
  * the filters into the scan and the whole pre-dedup stage runs in a
  * single codegen'd pass.
  *
  * Scale: filters prune before the only wide operation (the dedup
  * groupBy's shuffle on the text hash); the keeper join back is on the
  * aggregated (small) side, so AQE broadcasts it when it fits.
  */
object Pipelines {

  /** documents → keep lang='en' → quality gate (5 ≤ tokens ≤ 1000, mean
    * word length ≤ 15) → exact-dedup (keeper = min doc_id per normalized
    * text hash) → per-source corpus stats. */
  val qPipelineClean: Q = (s, dir) => {
    import s.implicits._
    val en = table(s, dir, "documents")
      .filter($"lang" === "en")
      .withColumn("n_toks", size(split($"text", " ")).cast("long"))
      // mean word length = non-space chars / tokens
      .withColumn("avg_wlen",
        (length($"text") - ($"n_toks" - 1)).cast("double") / $"n_toks")
      .filter($"n_toks".between(5, 1000) && $"avg_wlen" <= 15.0)
    val groups = en
      .groupBy(md5(lower(trim($"text"))).as("h"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n"))
    en.join(groups, en("doc_id") === groups("keeper"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n" - 1).as("n_dups_removed"),
        sum($"n_toks").as("sum_toks"))
      .orderBy($"source")
  }

  /** The FULL curation funnel as one declarative plan — the real-user
    * shape the standalone stages compose into: quality gates → NEAR-dup
    * cluster keeper (MinHash pairs → connected components → keep the
    * min-doc_id doc per transitive cluster) → per-language corpus
    * mixture totals, with the funnel counts (raw → gated → kept)
    * surfaced per language so the job's data-loss profile is an output,
    * not a log line.
    *
    * Scale shape: the gates are a codegen'd scan-side filter; the CC
    * labels live on the near-dup EDGE list (kilobytes per million docs)
    * so the non-keeper set is broadcast into a left-anti join against
    * the gated scan — the corpus is never shuffled; the three funnel
    * aggregates are map-side-combinable counts off one cached projection.
    * The gate comparison is integer-exact ((chars - toks + 1) ≤ 15·toks,
    * no float avg-word-length boundary). At sf0.1 the near-dup signature
    * pipeline dominates (~3 s) — the funnel itself is sub-second. */
  val qPipelineE2e: Q = (s, dir) => {
    import s.implicits._
    val raw = cached(table(s, dir, "documents")
      .select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_toks"),
        length($"text").cast("long").as("n_chars_txt")))
    val gated = raw.filter($"n_toks".between(5L, 1000L) &&
      ($"n_chars_txt" - $"n_toks" + 1L) <= $"n_toks" * 15L)
    // docs that sit in a near-dup cluster but are NOT its keeper
    val nonKeepers = Curation.ccLabels(s, dir)
      .filter($"node" =!= $"comp").select($"node".as("doc_id"))
    val kept = gated.join(broadcast(nonKeepers), Seq("doc_id"), "left_anti")
    val f1 = raw.groupBy($"lang").agg(count(lit(1)).as("n_raw"))
    val f2 = gated.groupBy($"lang").agg(count(lit(1)).as("n_gated"))
    val f3 = kept.groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"n_toks").as("tokens_kept"))
    f1.join(f2, Seq("lang"), "left").join(f3, Seq("lang"), "left")
      .select($"lang", $"n_raw",
        coalesce($"n_gated", lit(0L)).as("n_gated"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"tokens_kept", lit(0L)).as("tokens_kept"))
      .orderBy($"lang")
  }

  /** Deterministic ~12.5% Bernoulli sample by content hash: the selector
    * is a pure function of the KEY (last md5 hex nibble ∈ {0,1}), so the
    * sample is reproducible across engines, partitionings, and reruns —
    * unlike rand()/TABLESAMPLE, whose output depends on the seed AND the
    * physical row order. At 100 TB this is the only sampling shape whose
    * result a downstream job can re-derive and join against. */
  val qSampleHash: Q = (s, dir) => {
    import s.implicits._
    table(s, dir, "orders")
      .filter(substring(md5($"o_orderkey".cast("string")), 32, 1)
        .isin("0", "1"))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** Stratified deterministic sample: exactly (up to) 20 orders per
    * priority, chosen by md5 hash order — per-stratum quotas without a
    * global sort: one shuffle on the stratum key, rank within stratum. */
  val qSampleStratified: Q = (s, dir) => {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderpriority")
      .orderBy(md5($"o_orderkey".cast("string")), $"o_orderkey")
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 20)
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_orderpriority", $"rn")
  }

  /** One-pass column profiler (the data-quality primitive): null counts,
    * distinct counts, numeric min/max for every profiled column computed
    * in a SINGLE aggregate over one scan, then unpivoted to one row per
    * column with stack() — at 100 TB the difference between one pass and
    * one pass per column. */
  val qProfile: Q = (s, dir) => {
    import s.implicits._
    table(s, dir, "customer")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"c_custkey").as("nn_key"), countDistinct($"c_custkey").as("nd_key"),
        min($"c_custkey").cast("double").as("min_key"),
        max($"c_custkey").cast("double").as("max_key"),
        count($"c_acctbal").as("nn_bal"), countDistinct($"c_acctbal").as("nd_bal"),
        min(dec($"c_acctbal")).cast("double").as("min_bal"),
        max(dec($"c_acctbal")).cast("double").as("max_bal"),
        count($"c_mktsegment").as("nn_seg"), countDistinct($"c_mktsegment").as("nd_seg"))
      .selectExpr("n_rows", """stack(3,
          'c_custkey',    nn_key, nd_key, min_key, max_key,
          'c_acctbal',    nn_bal, nd_bal, min_bal, max_bal,
          'c_mktsegment', nn_seg, nd_seg, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        ) AS (col_name, n_nonnull, n_distinct, vmin, vmax)""")
      .orderBy($"col_name")
  }

  /** MERGE INTO / upsert semantics as a batch plan: a deterministic
    * changes set (updates for custkey%7=0, inserts keyed above the base
    * range for custkey%13=0) applied to the customer base via ONE
    * full-outer join on the key — matched rows take the change, unmatched
    * base rows persist, unmatched changes insert. The engines-without-
    * MERGE shape; at 100 TB it is a single co-partitioned shuffle join
    * (and with both sides bucketed by key, no shuffle at all). */
  val qEtlUpsert: Q = (s, dir) => {
    import s.implicits._
    val base = table(s, dir, "customer")
      .select($"c_custkey", $"c_name", dec($"c_acctbal").as("bal"))
    val changes = base.filter($"c_custkey" % 7 === 0)
      .select($"c_custkey", $"c_name",
        ($"bal" + 100).cast("decimal(18,4)").as("bal"))
      .unionAll(base.filter($"c_custkey" % 13 === 0)
        .select(($"c_custkey" + 1000000).as("c_custkey"),
          concat(lit("NEW "), $"c_name").as("c_name"), $"bal"))
    base.as("b").join(changes.as("c"),
        col("b.c_custkey") === col("c.c_custkey"), "full_outer")
      .select(
        coalesce(col("c.c_custkey"), col("b.c_custkey")).as("c_custkey"),
        coalesce(col("c.c_name"), col("b.c_name")).as("c_name"),
        coalesce(col("c.bal"), col("b.bal")).cast("double").as("bal"),
        when(col("b.c_custkey").isNull, "insert")
          .when(col("c.c_custkey").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy($"c_custkey")
  }

  /** Deterministic train/val/test split by content hash: bucket = last
    * md5 nibble of the doc key — {c,d}→val, {e,f}→test, rest→train
    * (75/12.5/12.5%). Like q_sample_hash, membership is a pure function
    * of the KEY: reproducible across engines, partitionings and reruns,
    * and any downstream job re-derives it without storing an assignment
    * table. Summarized per split with order-independent checksums. */
  val qPipelineSplit: Q = (s, dir) => {
    import s.implicits._
    val nib = substring(md5($"doc_id".cast("string")), 32, 1)
    table(s, dir, "documents")
      .select($"doc_id", $"n_chars",
        when(nib.isin("c", "d"), "val")
          .when(nib.isin("e", "f"), "test")
          .otherwise("train").as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("first_doc"),
        sum($"doc_id").as("docsum"), sum($"n_chars").as("charsum"))
      .orderBy($"split")
  }

  /** LEAKAGE-SAFE train/val/test split (round 16) — the eval-integrity
    * rule every serious pretraining pipeline enforces: a near-duplicate
    * of a training document must never land in val/test (a doc-keyed
    * hash split leaks — the model is evaluated on paraphrases of its
    * training data). The split key is therefore the near-dup CLUSTER
    * representative (CC over the banded minhash pairs; singleton docs
    * represent themselves), so whole clusters move atomically: same
    * deterministic md5-nibble rule as q_pipeline_split, applied to the
    * representative instead of the doc. Scale shape: the cluster label
    * table is EDGE-sized (kilobytes per million docs), left-joined onto
    * the corpus — one broadcast-ish join over the doc table, and the
    * split column is a pure projection after it. The no-cluster-spans-
    * splits invariant is pinned in CurationSpec. */
  val qPipelineSplitSafe: Q = (s, dir) => {
    import s.implicits._
    val docs = table(s, dir, "documents").select($"doc_id", $"n_chars")
    val labels = Curation.ccLabels(s, dir)
    val nib = substring(md5($"rep".cast("string")), 32, 1)
    docs.join(labels, docs("doc_id") === labels("node"), "left")
      .select($"doc_id", $"n_chars",
        coalesce($"comp", $"doc_id").as("rep"))
      .withColumn("split",
        when(nib.isin("c", "d"), "val")
          .when(nib.isin("e", "f"), "test")
          .otherwise("train"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"rep").as("n_clusters"),
        sum($"doc_id").as("docsum"), sum($"n_chars").as("charsum"))
      .orderBy($"split")
  }

  /** Incremental aggregate maintenance (materialized-view refresh): the
    * standing daily rollup was built from the OLD events (event_id <
    * 5000); a new batch (event_id >= 5000) arrives, gets its own partial
    * rollup, and the refresh MERGES the two partial-agg tables by key —
    * sums add, counts add. The merge touches only |keys| rows, never the
    * raw history: at 100 TB the nightly refresh costs O(batch + keys),
    * not O(corpus). The oracle recomputes from scratch — incremental
    * maintenance must be indistinguishable from recomputation. */
  val qEtlIncrAgg: Q = (s, dir) => {
    import s.implicits._
    def rollup(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("day", to_date($"ts"))
      .groupBy($"user_id", $"day")
      .agg(count(lit(1)).as("n_events"), sum(dec($"value")).as("sum_v"))
    val ev = events(s, dir)
    val mv = rollup(ev.filter($"event_id" < 5000))
    val delta = rollup(ev.filter($"event_id" >= 5000))
    mv.unionAll(delta)
      .groupBy($"user_id", $"day")
      .agg(sum($"n_events").as("n_events"),
        sum($"sum_v").cast("double").as("sum_v"))
      .orderBy($"user_id", $"day")
  }

  /** Deequ-style data-quality audit in ONE pass over orders: each
    * expectation (non-null key, price range, status domain, date range,
    * key uniqueness) is a conditional count inside a single aggregate —
    * the 100 TB shape, where N rules cost one scan, not N. Key
    * uniqueness rides the same pass as count(*) − count(DISTINCT key)
    * (Catalyst plans the distinct via expand, still one scan). Emitted
    * long, one row per rule, so adding rules never changes the schema. */
  val qEtlExpectations: Q = (s, dir) => {
    import s.implicits._
    val o = table(s, dir, "orders")
    val audit = o.agg(
      count(lit(1)).as("total"),
      sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("null_custkey"),
      sum(when($"o_totalprice" <= 0.0 || $"o_totalprice" > 1000000.0, 1L)
        .otherwise(0L)).as("price_range"),
      sum(when(!$"o_orderstatus".isin("O", "F", "P"), 1L).otherwise(0L))
        .as("status_domain"),
      sum(when($"o_orderdate" < ts("1992-01-01") ||
        $"o_orderdate" >= ts("2003-01-01"), 1L).otherwise(0L))
        .as("date_range"),
      (count(lit(1)) - countDistinct($"o_orderkey")).as("dup_orderkey"))
    audit.selectExpr(
      """stack(6,
        | 'total_rows', total,
        | 'null_custkey', null_custkey,
        | 'price_out_of_range', price_range,
        | 'status_out_of_domain', status_domain,
        | 'date_out_of_range', date_range,
        | 'duplicate_orderkey', dup_orderkey) AS (rule, n_violations)
        |""".stripMargin)
      .orderBy($"rule")
  }

  /** CDC-log replay with delete semantics: the event stream read as a
    * change log per user ('error' = tombstone, anything else = upsert
    * of that event's value). Current state = last writer wins — one
    * window pass ranks each user's log by (ts, event_id) descending,
    * keeps the head row, and drops users whose head is a tombstone.
    * The 100 TB shape: state reconstruction is one shuffle on the key;
    * compaction = writing the result back as the new snapshot, after
    * which only the log's tail needs replaying (q_dedup_incremental's
    * anti-join shape). */
  val qEtlCdc: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc)
    events(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_changes", count(lit(1)).over(
        Window.partitionBy($"user_id")))
      .filter($"rn" === 1 && $"event_type" =!= "error")
      .select($"user_id", $"event_type".as("last_type"),
        $"value".as("last_value"), $"ts".as("last_ts"), $"n_changes")
      .orderBy($"user_id")
  }

  /** Partition backfill via DYNAMIC partition overwrite — the restatement
    * primitive (INSERT OVERWRITE one partition, leave the rest untouched):
    * orders land partitioned by o_year, then ONE year is rewritten with
    * restated prices under partitionOverwriteMode=dynamic, which replaces
    * exactly the partitions present in the incoming frame. Static mode
    * would truncate the whole table — the difference between a backfill
    * and an outage at 100 TB. The read-back aggregates per year, so the
    * oracle (CASE-restated source rows) proves untouched partitions
    * survived byte-for-byte and the restated one changed. */
  val qEtlBackfill: Q = (s, dir) => {
    import s.implicits._
    val path = Util.staged(s, dir, "backfill") {
      val d = Util.managedTempDir("graft_backfill_")
      val base = table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          year($"o_orderdate").as("o_year"))
      base.write.partitionBy("o_year").mode("overwrite").parquet(d)
      base.filter($"o_year" === 1996)
        .withColumn("o_totalprice", $"o_totalprice" + 1000.0)
        .write.partitionBy("o_year").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(d)
      d
    }
    s.read.parquet(path)
      .groupBy($"o_year")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"o_year")
  }

  val queries: Map[String, Q] = Map(
    "q_etl_backfill" -> qEtlBackfill,
    "q_etl_cdc" -> qEtlCdc,
    "q_etl_expectations" -> qEtlExpectations,
    "q_etl_incr_agg" -> qEtlIncrAgg,
    "q_pipeline_clean" -> qPipelineClean,
    "q_pipeline_e2e" -> qPipelineE2e,
    "q_pipeline_split" -> qPipelineSplit,
    "q_pipeline_split_safe" -> qPipelineSplitSafe,
    "q_sample_hash" -> qSampleHash,
    "q_sample_stratified" -> qSampleStratified,
    "q_profile" -> qProfile,
    "q_etl_upsert" -> qEtlUpsert,
  )

  val oracleSql: Map[String, String] = Map(
    "q_etl_backfill" ->
      """SELECT CAST(year(o_orderdate::TIMESTAMP) AS INT) AS o_year,
        | count(*) AS n_orders,
        | CAST(sum(CAST(CASE WHEN year(o_orderdate::TIMESTAMP) = 1996
        |   THEN o_totalprice + 1000.0 ELSE o_totalprice END
        |  AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_year ORDER BY o_year""".stripMargin,
    "q_etl_cdc" ->
      """WITH e AS (SELECT user_id, event_type, value, ts::TIMESTAMP AS ts,
        |  event_id FROM events),
        |ranked AS (SELECT user_id, event_type, value, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n_changes
        | FROM e)
        |SELECT user_id, event_type AS last_type, value AS last_value,
        |  ts AS last_ts, n_changes
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q_etl_expectations" ->
      """WITH a AS (SELECT
        |  count(*) AS total,
        |  count(CASE WHEN o_custkey IS NULL THEN 1 END) AS null_custkey,
        |  count(CASE WHEN o_totalprice <= 0.0 OR o_totalprice > 1000000.0
        |    THEN 1 END) AS price_range,
        |  count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END)
        |    AS status_domain,
        |  count(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
        |    OR o_orderdate >= TIMESTAMP '2003-01-01' THEN 1 END) AS date_range,
        |  count(*) - count(DISTINCT o_orderkey) AS dup_orderkey
        | FROM orders)
        |SELECT rule, n_violations FROM (
        |  SELECT 'total_rows' AS rule, total AS n_violations FROM a
        |  UNION ALL SELECT 'null_custkey', null_custkey FROM a
        |  UNION ALL SELECT 'price_out_of_range', price_range FROM a
        |  UNION ALL SELECT 'status_out_of_domain', status_domain FROM a
        |  UNION ALL SELECT 'date_out_of_range', date_range FROM a
        |  UNION ALL SELECT 'duplicate_orderkey', dup_orderkey FROM a)
        |ORDER BY rule""".stripMargin,
    "q_etl_incr_agg" ->
      """SELECT user_id, ts::TIMESTAMP::DATE AS day, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY user_id, day
        |ORDER BY user_id, day""".stripMargin,
    "q_pipeline_clean" ->
      """WITH en AS (
        |  SELECT doc_id, source, text,
        |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents WHERE lang = 'en'),
        |q AS (
        |  SELECT *, CAST(length(text) - (n_toks - 1) AS DOUBLE) / n_toks AS avg_wlen
        |  FROM en WHERE n_toks BETWEEN 5 AND 1000),
        |qq AS (SELECT * FROM q WHERE avg_wlen <= 15.0),
        |d AS (SELECT md5(lower(trim(text))) AS h, min(doc_id) AS keeper,
        |   count(*) AS n
        |  FROM qq GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n - 1) AS BIGINT) AS n_dups_removed,
        | CAST(sum(n_toks) AS BIGINT) AS sum_toks
        |FROM qq JOIN d ON qq.doc_id = d.keeper
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_pipeline_e2e" ->
      s"""WITH cc AS (${Curation.oracleSql("q_dedup_connected")}),
         |raw AS (SELECT doc_id, lang,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
         |  CAST(length(text) AS BIGINT) AS n_chars_txt
         | FROM documents),
         |gated AS (SELECT * FROM raw
         | WHERE n_toks BETWEEN 5 AND 1000
         |   AND (n_chars_txt - n_toks + 1) <= n_toks * 15),
         |kept AS (SELECT g.* FROM gated g
         | WHERE NOT EXISTS (SELECT 1 FROM cc
         |   WHERE cc.doc_id = g.doc_id AND NOT cc.is_keeper)),
         |f1 AS (SELECT lang, count(*) AS n_raw FROM raw GROUP BY lang),
         |f2 AS (SELECT lang, count(*) AS n_gated FROM gated GROUP BY lang),
         |f3 AS (SELECT lang, count(*) AS n_kept,
         |  CAST(sum(n_toks) AS BIGINT) AS tokens_kept FROM kept GROUP BY lang)
         |SELECT f1.lang, n_raw,
         | coalesce(n_gated, 0) AS n_gated,
         | coalesce(n_kept, 0) AS n_kept,
         | coalesce(tokens_kept, 0) AS tokens_kept
         |FROM f1 LEFT JOIN f2 ON f1.lang = f2.lang
         | LEFT JOIN f3 ON f1.lang = f3.lang
         |ORDER BY f1.lang""".stripMargin,
    "q_pipeline_split" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
        |       ELSE 'train' END AS split
        | FROM documents)
        |SELECT split, count(*) AS n_docs, min(doc_id) AS first_doc,
        | CAST(sum(doc_id) AS BIGINT) AS docsum, CAST(sum(n_chars) AS BIGINT) AS charsum
        |FROM s GROUP BY split ORDER BY split""".stripMargin,
    // cluster-keyed split: the CC machinery of q_dedup_connected's
    // oracle resolves each doc's representative, then the same nibble
    // rule applies to the REPRESENTATIVE
    "q_pipeline_split_safe" ->
      s"""WITH RECURSIVE pairs AS (${graft.ops.LlmOps.oracleSql("q_dedup_near")}),
         |und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
         |        UNION ALL SELECT doc_b, doc_a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS node FROM und),
         |reach AS (SELECT node, node AS r FROM nodes
         |  UNION
         |  SELECT u.b AS node, reach.r FROM reach JOIN und u ON u.a = reach.node),
         |comp AS (SELECT node, min(r) AS cluster FROM reach GROUP BY node),
         |rep AS (SELECT d.doc_id, d.n_chars,
         |          COALESCE(c.cluster, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |spl AS (SELECT doc_id, n_chars, rep,
         |  CASE WHEN substr(md5(CAST(rep AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
         |       WHEN substr(md5(CAST(rep AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
         |       ELSE 'train' END AS split
         | FROM rep)
         |SELECT split, count(*) AS n_docs,
         | CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
         | CAST(sum(doc_id) AS BIGINT) AS docsum, CAST(sum(n_chars) AS BIGINT) AS charsum
         |FROM spl GROUP BY split ORDER BY split""".stripMargin,
    "q_sample_hash" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 32, 1) IN ('0', '1')
        |ORDER BY o_orderkey""".stripMargin,
    "q_sample_stratified" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |   ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
        | FROM orders) WHERE rn <= 20
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q_profile" ->
      """WITH a AS (SELECT count(*) AS n_rows,
        |  count(c_custkey) AS nn_key, count(DISTINCT c_custkey) AS nd_key,
        |  CAST(min(c_custkey) AS DOUBLE) AS min_key,
        |  CAST(max(c_custkey) AS DOUBLE) AS max_key,
        |  count(c_acctbal) AS nn_bal, count(DISTINCT c_acctbal) AS nd_bal,
        |  CAST(min(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS min_bal,
        |  CAST(max(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS max_bal,
        |  count(c_mktsegment) AS nn_seg, count(DISTINCT c_mktsegment) AS nd_seg
        | FROM customer)
        |SELECT n_rows, col_name, n_nonnull, n_distinct, vmin, vmax FROM (
        | SELECT n_rows, 'c_custkey' AS col_name, nn_key AS n_nonnull,
        |   nd_key AS n_distinct, min_key AS vmin, max_key AS vmax FROM a
        | UNION ALL SELECT n_rows, 'c_acctbal', nn_bal, nd_bal, min_bal, max_bal FROM a
        | UNION ALL SELECT n_rows, 'c_mktsegment', nn_seg, nd_seg,
        |   CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM a)
        |ORDER BY col_name""".stripMargin,
    "q_etl_upsert" ->
      """WITH base AS (SELECT c_custkey, c_name,
        |   CAST(c_acctbal AS DECIMAL(18,4)) AS bal FROM customer),
        |changes AS (
        | SELECT c_custkey, c_name, CAST(bal + 100 AS DECIMAL(18,4)) AS bal
        |  FROM base WHERE c_custkey % 7 = 0
        | UNION ALL
        | SELECT c_custkey + 1000000, 'NEW ' || c_name, bal
        |  FROM base WHERE c_custkey % 13 = 0)
        |SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
        | coalesce(c.c_name, b.c_name) AS c_name,
        | CAST(coalesce(c.bal, b.bal) AS DOUBLE) AS bal,
        | CASE WHEN b.c_custkey IS NULL THEN 'insert'
        |      WHEN c.c_custkey IS NULL THEN 'keep'
        |      ELSE 'update' END AS action
        |FROM base b FULL JOIN changes c ON b.c_custkey = c.c_custkey
        |ORDER BY c_custkey""".stripMargin,
  )
}
