package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import Util._

/** SURVEY.md §2.3 — join operators (as-of join lives in AsOf.scala).
  *
  * Scale notes: dimension tables (region 5 / nation 25 / supplier 1k /
  * customer ~1.5M at 100 TB) are broadcast — no shuffle of the fact side.
  * Fact-fact joins (lineitem⋈orders) shuffle both sides on the join key;
  * AQE handles skew splitting at runtime. Nothing here collects to the
  * driver.
  */
object Joins {

  /** Inner equi join orders⋈customer. */
  val qJoinInner: Q = (s, dir) => {
    import s.implicits._
    val o = table(s, dir, "orders")
    val c = table(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .select($"o_orderkey", $"c_custkey", $"c_name", $"o_totalprice")
      .orderBy($"o_orderkey")
  }

  /** Star-schema dim broadcast: customer⋈nation⋈region, counts per dim. */
  val qJoinBroadcast: Q = (s, dir) => {
    import s.implicits._
    val c = table(s, dir, "customer")
    val n = table(s, dir, "nation")
    val r = table(s, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_custs"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"r_name", $"n_name")
  }

  /** Large-large sort-merge join lineitem⋈orders (merge hint). */
  val qJoinSmj: Q = (s, dir) => {
    import s.implicits._
    val li = table(s, dir, "lineitem")
    val o = table(s, dir, "orders").hint("merge")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(dec($"l_extendedprice") * (lit(1).cast("decimal(18,4)") - dec($"l_discount")))
          .cast("double"), 4).as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** The third join strategy: SHUFFLED HASH (build a hash map per
    * partition instead of sorting both sides). Worth forcing when one
    * side is much smaller per partition but too big to broadcast — it
    * skips both sorts. The shuffle_hash hint is the per-join control;
    * ShuffledHashJoin presence is asserted in PlanShapeSpec (BHJ and SMJ
    * have their own queries, completing the strategy triple). */
  val qJoinShuffleHash: Q = (s, dir) => {
    import s.implicits._
    val li = table(s, dir, "lineitem")
    val sup = table(s, dir, "supplier").hint("shuffle_hash")
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_lines"),
        dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"s_nationkey")
  }

  /** Null-SAFE equality join (<=>): null keys match each other instead
    * of vanishing — the semantics MERGE/dedup pipelines need when the
    * join key is legitimately absent. Planned as an ordinary hash join
    * on the null-safe comparator, NOT a cartesian residual; the nation
    * dim keeps the null⋈null block tiny here, and at scale a null-heavy
    * key column should be pre-split (nulls don't need the join at all)
    * — the same reasoning as skew salting. */
  val qJoinNullsafe: Q = (s, dir) => {
    import s.implicits._
    val a = table(s, dir, "nation")
      .select($"n_nationkey".as("a_key"),
        expr("nullif(n_regionkey, 2)").as("k"))
    val b = table(s, dir, "nation")
      .select($"n_nationkey".as("b_key"),
        expr("nullif(n_regionkey, 2)").as("k"))
    a.join(b, a("k") <=> b("k"))
      .groupBy(a("k").as("k"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"b_key").as("n_right"))
      .orderBy($"k".asc_nulls_first)
  }

  /** Left + full outer with null extension, tagged and unioned.
    * Left side: BUILDING customers; right side: orders > 100k — so the full
    * outer has both left-only and right-only rows. */
  val qJoinOuter: Q = (s, dir) => {
    import s.implicits._
    val c = table(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
    val o = table(s, dir, "orders").filter($"o_totalprice" > 100000.0)
    val cols = Seq($"c_custkey", $"c_mktsegment", $"o_orderkey", $"o_totalprice")
    val left = c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(lit("left").as("tag") +: cols: _*)
    val full = c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
      .select(lit("full").as("tag") +: cols: _*)
    left.unionAll(full)
      .orderBy($"tag", $"c_custkey".asc_nulls_first, $"o_orderkey".asc_nulls_first)
  }

  /** Left-semi join: customers with at least one order (EXISTS). */
  val qJoinSemi: Q = (s, dir) => {
    import s.implicits._
    val c = table(s, dir, "customer")
    val o = table(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Left-anti join: customers with no orders (NOT EXISTS). */
  val qJoinAnti: Q = (s, dir) => {
    import s.implicits._
    val c = table(s, dir, "customer")
    val o = table(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Band join: equi key + residual range condition. Catalyst extracts the
    * equi part for the hash/SMJ key; the BETWEEN stays as a join residual —
    * never a cartesian. */
  val qJoinTheta: Q = (s, dir) => {
    import s.implicits._
    val li = table(s, dir, "lineitem")
    val o = table(s, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey") &&
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  /** Pure range join (NO equi key) made shuffle-joinable by time-bucket
    * blocking: for each error event, count other error events within ±5
    * minutes. A naive formulation is a cartesian with a range residual —
    * O(n²) and the classic 100 TB killer. Blocking: bucket = floor(µs /
    * 5min); the probe side explodes each row into its bucket and both
    * neighbors {b-1, b, b+1}, so every qualifying pair shares an EQUALITY
    * key with the build side (|Δt| ≤ bucket width ⇒ buckets differ by ≤1)
    * and the join is a plain hash join on bucket — work scales with
    * Σ(bucket size²), not n². Same trick the dedup family uses for band
    * keys; at 100 TB bucket width trades candidate count vs key skew. */
  val qJoinRangeBlocked: Q = (s, dir) => {
    import s.implicits._
    val err = events(s, dir).filter($"event_type" === "error")
      .select($"event_id", unix_micros($"ts").as("us"))
    val width = 300L * 1000 * 1000 // 5 min in µs
    val probe = err.select($"event_id", $"us",
        explode(array((-1 to 1).map(d => ($"us" / width).cast("long") + d): _*))
          .as("bkey"))
    val build = err.select($"event_id".as("b_id"), $"us".as("b_us"),
      ($"us" / width).cast("long").as("bkey"))
    probe.join(build, probe("bkey") === build("bkey") &&
        abs($"us" - $"b_us") <= width && $"event_id" =!= $"b_id")
      .groupBy($"event_id")
      .agg(count(lit(1)).as("n_nearby"), max(abs($"us" - $"b_us")).as("max_dt_us"))
      .orderBy($"event_id")
  }

  /** Cross join of two tiny dims (BroadcastNestedLoopJoin). */
  val qJoinCrossagg: Q = (s, dir) => {
    import s.implicits._
    val r = table(s, dir, "region")
    val n = table(s, dir, "nation")
    r.crossJoin(n)
      .select($"r_name", $"n_name",
        ($"r_regionkey" + $"n_nationkey").cast("long").as("keysum"))
      .orderBy($"r_name", $"n_name")
  }

  /** Skew-salted join — the explicit fix for a hot key that AQE's
    * skew-split can't always save (one key too large for any split):
    * the FACT side gets a deterministic salt (8 lanes of l_orderkey),
    * the DIM side is replicated once per salt via explode, and the join
    * runs on (key, salt) so the hot key's rows spread over 8 reducers.
    * The RESULT is identical to the unsalted join — which is exactly
    * what the oracle checks (plain join SQL): salting must never change
    * semantics, only the shuffle distribution. Cost: dim side ×8 (dims
    * are small; at 100 TB you salt only the known-hot keys and union
    * with an unsalted join of the rest).
    *
    * When to salt vs when AQE is enough (SCALE.md §joins; the AQE half
    * is pinned in PlanShapeSpec's skew=true test): AQE's skew split
    * already fixes oversized SMJ partitions at runtime for free —
    * reach for manual salt only when one build-side key exceeds a
    * task's memory outright, in stateful streaming (no AQE), or for
    * skewed AGGREGATION keys (AQE splits join partitions, not groupBy
    * keys). */
  val qJoinSalted: Q = (s, dir) => {
    import s.implicits._
    val salts = 8
    val fact = table(s, dir, "lineitem")
      .select($"l_suppkey", $"l_extendedprice",
        pmod($"l_orderkey", lit(salts)).as("salt"))
    val dim = table(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey",
        explode(sequence(lit(0), lit(salts - 1))).as("salt"))
    fact.join(dim, $"l_suppkey" === $"s_suppkey" && fact("salt") === dim("salt"))
      .groupBy($"s_nationkey")
      .agg(count(lit(1)).as("n_items"), dsum($"l_extendedprice").as("revenue"))
      .orderBy($"s_nationkey")
  }

  /** Runtime Bloom-filter join pruning — the row-level sibling of
    * q_join_dpp's partition-level pruning. A selective predicate on the
    * orders (creation) side lets Catalyst's InjectRuntimeFilter build a
    * Bloom filter over the surviving join keys and evaluate
    * `might_contain(xxhash64(l_orderkey))` INSIDE the lineitem scan stage,
    * so non-joining fact rows die before the shuffle instead of after it.
    * At 100 TB this is the difference between shuffling the whole fact
    * table and shuffling only the ~fraction that can join — with zero
    * manual work beyond leaving the optimizer enabled (exactness is
    * unconditional: false positives just travel to the join and lose
    * there). Runs in a child session (conf-isolation precedent:
    * q_layout_compact) because the fixture-sized scan sits below the
    * 10 GB default application-side threshold that gates the rewrite on
    * real clusters; broadcast is disabled so the plan is the shuffle join
    * the rule targets. PlanShapeSpec pins `might_contain` into the
    * executed plan. */
  val qJoinBloom: Q = (s, dir) => {
    val s2 = Util.child(s, confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1024",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
    import s2.implicits._
    val urgent = table(s2, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_custkey")
    table(s2, dir, "lineitem")
      .join(urgent, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Bucketed catalog tables already written this JVM. The session
    * catalog lives in SparkContext-wide SharedState (unlike the
    * per-session temp-dir memos), so the guard is a JVM-wide lock plus a
    * catalog-existence check — if a test harness ever rebuilds the
    * context, the tables are simply rewritten. */
  private val bucketedLock = new Object

  private def bucketedTables(s: SparkSession, dir: String): (String, String) =
    bucketedLock.synchronized {
      val hex = Integer.toHexString(dir.hashCode)
      val (ot, ct) = (s"graft_bkt_orders_$hex", s"graft_bkt_customer_$hex")
      if (!s.catalog.tableExists(ot))
        table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(8, col("o_custkey"))
          .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"${Util.managedTempDir("graft_bkt_")}/orders")
          .saveAsTable(ot)
      if (!s.catalog.tableExists(ct))
        table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .repartition(8, col("c_custkey"))
          .write.bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"${Util.managedTempDir("graft_bkt_")}/customer")
          .saveAsTable(ct)
      (ot, ct)
    }

  /** Spark-NATIVE bucketed tables — the built-in complement to the
    * connector-level storage-partitioned join (q_src_spj): both sides are
    * written once with `bucketBy(8, key).sortBy(key)` into catalog tables,
    * and every future join on the bucket key plans with ZERO shuffle —
    * the write-time exchange is amortized across all downstream joins,
    * which is the whole 100 TB economics of bucketing (pay the fact-table
    * shuffle once at ingest, never per query).
    *
    * Two load-bearing details, both pinned in PlanShapeSpec:
    *   - each write `repartition(8, key)`s FIRST with the same hash
    *     Spark's bucketing uses (pmod(murmur3, n) on both paths), so
    *     every task holds exactly one bucket and each bucket lands in
    *     ONE file — the precondition for Spark to also trust the
    *     per-file `sortBy` order and elide the SMJ's Sort nodes;
    *   - a filter `key = literal` on a bucketed scan prunes to a single
    *     bucket (`SelectedBucketsCount 1 out of 8`) with no runtime
    *     machinery at all — bucket pruning is static metadata.
    *
    * Child session to disable auto-broadcast (the fixture dims are
    * tiny; at 100 TB both sides would exceed the threshold and SMJ is
    * what the planner picks anyway) and to opt into the sorted-scan
    * property: since 3.0 Spark only trusts per-file order under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` because PROVING
    * one-file-per-bucket costs a driver file listing per query — cheap
    * here, a deliberate trade at 100 TB (leave it off and pay two
    * partition-local sorts instead; the shuffle elision is the part that
    * matters and needs no conf). The oracle joins the source parquet —
    * content is invariant to the storage layout. */
  val qJoinBucketed: Q = (s, dir) => {
    val (ot, ct) = bucketedTables(s, dir)
    val s2 = Util.child(s, confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true"))
    import s2.implicits._
    val o = s2.table(ot)
    val c = s2.table(ct)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum($"o_totalprice").as("sum_price"))
      .orderBy($"c_mktsegment")
  }

  /** CBO catalog tables (stats-analyzed, unbucketed) already written this
    * JVM — same SharedState guard discipline as bucketedTables. */
  private val cboLock = new Object

  private def cboTables(s: SparkSession, dir: String): (String, String, String) =
    cboLock.synchronized {
      val hex = Integer.toHexString(dir.hashCode)
      val (lt, ot, ct) = (s"graft_cbo_lineitem_$hex", s"graft_cbo_orders_$hex",
        s"graft_cbo_customer_$hex")
      if (!s.catalog.tableExists(lt)) {
        table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
          .write.option("path", s"${Util.managedTempDir("graft_cbo_")}/lineitem")
          .saveAsTable(lt)
        table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
          .write.option("path", s"${Util.managedTempDir("graft_cbo_")}/orders")
          .saveAsTable(ot)
        table(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
          .filter(col("c_mktsegment") === "BUILDING")
          .write.option("path", s"${Util.managedTempDir("graft_cbo_")}/customer")
          .saveAsTable(ct)
        Seq(lt, ot, ct).foreach(t =>
          s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
      }
      (lt, ot, ct)
    }

  /** COST-BASED JOIN REORDER — the statistics leg of "let Catalyst
    * optimize": three catalog tables carry ANALYZE TABLE row/column stats,
    * the query text joins them in the WORST order (fact⋈fact first, the
    * selective dimension last), and the CBO join-reorder rule
    * (spark.sql.cbo.joinReorder) re-plans the chain cheapest-first from
    * the stats — the selective customer slice joins orders before the
    * lineitem fact ever enters. At 100 TB this is the difference between
    * shuffling the full fact⋈fact intermediate and never materializing
    * it; the engine's job is to keep stats fresh, not to hand-order SQL.
    * PlanShapeSpec pins the reorder (lineitem is the OUTERMOST join leaf
    * in the optimized plan, despite being first in the query text). */
  /** Cost-based optimizer with join reordering (also q_store_cbo's). */
  private[ops] val cboConfs = Map(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  val qCboReorder: Q = (s, dir) => {
    val (lt, ot, ct) = cboTables(s, dir)
    val s2 = Util.child(s, confs = cboConfs)
    import s2.implicits._
    val l = s2.table(lt); val o = s2.table(ot); val c = s2.table(ct)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_rows"), dsum($"l_extendedprice").as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  val queries: Map[String, Q] = Map(
    "q_cbo_reorder" -> qCboReorder,
    "q_join_bucketed" -> qJoinBucketed,
    "q_join_bloom" -> qJoinBloom,
    "q_join_shuffle_hash" -> qJoinShuffleHash,
    "q_join_nullsafe" -> qJoinNullsafe,
    "q_join_salted" -> qJoinSalted,
    "q_join_inner" -> qJoinInner,
    "q_join_range_blocked" -> qJoinRangeBlocked,
    "q_join_broadcast" -> qJoinBroadcast,
    "q_join_smj" -> qJoinSmj,
    "q_join_outer" -> qJoinOuter,
    "q_join_semi" -> qJoinSemi,
    "q_join_anti" -> qJoinAnti,
    "q_join_theta" -> qJoinTheta,
    "q_join_crossagg" -> qJoinCrossagg,
  )

  val oracleSql: Map[String, String] = Map(
    // content is invariant to the join order CBO picks
    "q_cbo_reorder" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_bloom" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_join_shuffle_hash" ->
      """SELECT s_nationkey, count(*) AS n_lines,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_join_nullsafe" ->
      """WITH a AS (SELECT n_nationkey AS a_key, nullif(n_regionkey, 2) AS k
        |  FROM nation),
        |b AS (SELECT n_nationkey AS b_key, nullif(n_regionkey, 2) AS k
        |  FROM nation)
        |SELECT a.k, count(*) AS n_pairs, count(DISTINCT b_key) AS n_right
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |GROUP BY a.k ORDER BY a.k ASC NULLS FIRST""".stripMargin,
    "q_join_salted" ->
      """SELECT s_nationkey, count(*) AS n_items,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_custs,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_smj" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_outer" ->
      """WITH c AS (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'),
        | o AS (SELECT * FROM orders WHERE o_totalprice > 100000.0)
        |SELECT 'left' AS tag, c_custkey, c_mktsegment, o_orderkey, o_totalprice
        | FROM c LEFT JOIN o ON c_custkey = o_custkey
        |UNION ALL
        |SELECT 'full' AS tag, c_custkey, c_mktsegment, o_orderkey, o_totalprice
        | FROM c FULL JOIN o ON c_custkey = o_custkey
        |ORDER BY tag, c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_theta" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_crossagg" ->
      """SELECT r_name, n_name, CAST(r_regionkey + n_nationkey AS BIGINT) AS keysum
        |FROM region CROSS JOIN nation ORDER BY r_name, n_name""".stripMargin,
    "q_join_range_blocked" ->
      """WITH e AS (SELECT event_id, epoch_us(ts::TIMESTAMP) AS us
        |  FROM events WHERE event_type = 'error')
        |SELECT a.event_id, count(*) AS n_nearby,
        | max(abs(a.us - b.us)) AS max_dt_us
        |FROM e a JOIN e b
        | ON b.us BETWEEN a.us - 300000000 AND a.us + 300000000
        | AND a.event_id <> b.event_id
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin,
  )
}
