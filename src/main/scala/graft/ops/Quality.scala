package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** Round-5 batch 4: retrieval scoring, corpus-level duplication metrics,
  * quality-rule batteries, information-theoretic signals, exact-distinct
  * bitmaps, weighted sampling, interpolation resampling, and
  * moment-statistics — the remaining staples of a training-data curation
  * stack, each expressed as one declarative Catalyst plan.
  *
  * Determinism conventions (SURVEY §5.4): every libm value (ln/log2) is
  * rounded to 8dp and cast DECIMAL(18,8) BEFORE any aggregation so sums
  * are exact and order-independent; double formulas that both engines
  * evaluate identically (same textual op sequence on identical inputs)
  * are emitted rounded 6dp.
  */
object Quality {

  // ---------------------------------------------------------------- BM25

  private val Bm25Terms = Seq("spark", "query", "join")

  /** BM25 retrieval scoring of every document against a fixed term set —
    * the classic sparse-retrieval primitive (idf from corpus df, tf
    * saturation k1=1.2, length normalization b=0.75). Corpus stats (N,
    * avgdl, per-term df) are tiny aggregates broadcast back onto the
    * per-doc tf table, so at 100 TB the only wide op is the one
    * (doc, term) tf aggregation — partial-agg friendly. Per-term
    * contributions are rounded 8dp and decimal-summed (≤3 terms/doc, but
    * partial-agg order must still not move the double). */
  val qTextBm25: Q = (s, dir) => {
    import s.implicits._
    val d = table(s, dir, "documents")
      .select($"doc_id", LlmOps.toks($"text").as("ws"))
    val dl = d.select($"doc_id", size($"ws").cast("long").as("dl"))
    // avgdl as exact-integer sum / count — DuckDB's avg(BIGINT) is a
    // streaming double accumulation, not sum/count, and the ulp leaks
    // into every contrib's 8dp rounding
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      (sum($"dl").cast("double") / count(lit(1))).as("avgdl"))
    val tf = d.select($"doc_id", explode($"ws").as("w"))
      .filter($"w".isin(Bm25Terms: _*))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy($"w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0))
      // k1+1 is written as the literal 2.2 (not 1.2+1.0): the Scala-side
      // double sum lands exactly between two doubles and round-to-even
      // need not match the SQL literal the oracle parses
      .withColumn("contrib",
        round($"idf" * ($"tf" * lit(2.2)) /
          ($"tf" + lit(1.2) * (lit(1.0) - lit(0.75) + lit(0.75) * $"dl" / $"avgdl")), 8)
          .cast("decimal(18,8)"))
      .groupBy($"doc_id")
      // the decimal sum is exact — emitted UNROUNDED, because a sum of
      // 8dp decimals can land exactly on a 6dp .5 boundary where Spark
      // (rounds the shortest decimal repr) and DuckDB (rounds the binary
      // value) disagree
      .agg(count(lit(1)).as("n_terms"),
        sum($"contrib").cast("double").as("bm25"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------- cross-doc duplicated 8-grams

  /** Per-document duplicated-8-gram fraction: of a doc's DISTINCT word
    * 8-grams, the share that also appear in at least one OTHER document —
    * the RefinedWeb/Gopher cross-corpus duplication signal (q_text_repetition
    * is the within-doc sibling). Shape at 100 TB: per-doc distinct first
    * (explode + distinct is doc-local), then one shuffle on the gram for
    * the corpus-wide doc-frequency, partial-agg friendly on both. */
  /** Cross-document EXACT-SUBSTRING duplicated runs — the standard
    * exact-substring dedup pass (the pass pretraining pipelines run after
    * document-level minhash/simhash): every maximal run of ≥ k tokens
    * shared verbatim across ≥ 2 distinct documents, with its position and
    * text. q_text_dupgrams reports only the duplicated FRACTION; this
    * operator emits the RUNS themselves, so a downstream rewrite can cut
    * them.
    *
    * Shape: word k-grams WITH their start position; a gram is duplicated
    * when it occurs in ≥ 2 distinct docs — decided as min(doc_id) !=
    * max(doc_id) over its occurrences in ONE salted exchange (the
    * suffixRuns skew discipline; see the body comment) instead of a
    * distinct + count + join-back chain. A doc's duplicated positions
    * coalesce into maximal
    * runs by gaps-and-islands: island = pos − row_number() over
    * (doc ordered by pos) — integer-exact, and the window partitions on
    * doc_id (high cardinality, no low-card funnel). A run of consecutive
    * duplicated gram starts [p..q] covers tokens [p, q+k−1]; runs from
    * near-adjacent (gap ≥ 1) duplicated grams may overlap by < k−1
    * tokens — deterministic, and mirrored exactly by the oracle.
    * At 100 TB the gram table is the big intermediate (≈ tokens rows);
    * every stage over it is partial-agg or doc-local, nothing funnels. */
  private[graft] def substringRuns(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = cached(spread(docs).select($"doc_id", LlmOps.toks($"text").as("ws"))
      .filter(size($"ws") >= k))
    val grams = toks
      .select($"doc_id", $"ws",
        explode(sequence(lit(1), size($"ws") - (k - 1))).as("pos"))
      .select($"doc_id", $"pos",
        concat_ws(" ", slice($"ws", $"pos", lit(k))).as("gram"))
    // cross-doc duplicate = the gram occurs in ≥ 2 DISTINCT docs, i.e.
    // min(doc_id) != max(doc_id) over all its occurrences — min/max are
    // salt-mergeable, so ONE salted exchange (the suffixRuns skew
    // discipline: (gram, salt) cells bounded at corpus/64, per-gram
    // verdict from a window over ≤ 64 cells) replaces the r15
    // distinct + groupBy + join-back chain, which shuffled the
    // string-keyed gram table three times (measured 5.3s -> ~2s at
    // sf0.1, same rows). grams is single-consumer now: no cache.
    val dp = grams
      .withColumn("salt",
        pmod(xxhash64($"doc_id", $"pos"), lit(64L)).cast("int"))
      .groupBy($"gram", $"salt")
      .agg(collect_list(struct($"doc_id", $"pos")).as("ps"),
        min($"doc_id").as("mn"), max($"doc_id").as("mx"))
      .withColumn("lo", min($"mn").over(Window.partitionBy($"gram")))
      .withColumn("hi", max($"mx").over(Window.partitionBy($"gram")))
      .filter($"lo" =!= $"hi")
      .select(explode($"ps").as("p"))
      .select($"p.doc_id".as("doc_id"), $"p.pos".as("pos"))
    val wI = Window.partitionBy($"doc_id").orderBy($"pos")
    val runs = dp
      .withColumn("isl", $"pos" - row_number().over(wI))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("rs"), max($"pos").as("mp"),
        count(lit(1)).as("n_grams"))
    runs.join(toks, "doc_id")
      .select($"doc_id",
        $"rs".cast("long").as("run_start"),
        ($"mp" + (k - 1)).cast("long").as("run_end"),
        ($"mp" - $"rs" + k).cast("long").as("n_tokens"),
        $"n_grams",
        concat_ws(" ", slice($"ws", $"rs", $"mp" - $"rs" + k)).as("run_text"))
      .orderBy($"doc_id", $"run_start")
  }

  /** The 8-gram exact-substring pass over the documents corpus (k matches
    * q_text_dupgrams' gram size, so the two signals are comparable). */
  val qDedupSubstring: Q = (s, dir) =>
    substringRuns(table(s, dir, "documents"), 8)

  /** ARBITRARY-LENGTH exact-substring dedup (round 14) — the
    * suffix-array-class operator: every MAXIMAL interval of ≥ L
    * characters that is repeated anywhere in the corpus (any other doc
    * OR elsewhere in the same doc), the published standard for
    * training-data substring dedup. Equivalence that makes it a
    * hash-shuffle instead of a global suffix sort: two suffixes have a
    * common prefix ≥ L iff their first-L-char windows are equal, so the
    * positions a bucketed suffix sort would flag via adjacent-pair
    * LCP ≥ L are exactly the positions whose L-gram occurs ≥ 2 times;
    * merging consecutive flagged positions (gaps-and-islands) yields
    * every maximal repeated interval and its exact length — same
    * output, no sort.
    *
    * Scale shape — the per-character explode stays inside whole-stage
    * codegen (explode of a sequence + substring in one fused pipeline —
    * measured ~10x a native-Generator formulation, which walks
    * GenerateExec's interpreted per-row path), and the corpus reaches
    * exactly ONE corpus-sized salted exchange: keyed by the window
    * string itself for short L (collision-proof, (16+L)-byte rows), or
    * by xxhash64(window) for long L (24-byte rows) with an exact
    * string-keyed confirm pass over the dup-fraction-sized survivors —
    * see the key-choice comment in the body. Islands merge shuffles the
    * survivors once on doc_id. No self-join of the corpus, no cross
    * product, nothing driver-sided. */
  private[graft] def suffixRuns(docs: DataFrame, L: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // the doc table arrives as ONE small parquet split, but the explode
    // amplifies it ~300x — spread the docs across the cluster BEFORE
    // the amplification or the whole map stage runs in one task
    val spreadDocs = docs
      .repartition(s.sparkContext.defaultParallelism)
      .filter(length($"text") >= L)
      .select($"doc_id", $"text",
        explode(sequence(lit(0L), (length($"text") - L).cast("long")))
          .as("pos"))
    // Duplicate detection never colocates EVERY copy of one window in a
    // single task (a boilerplate window repeated millions of times would
    // be one straggler partition at scale, and windows can never be
    // AQE-split): the one corpus-sized exchange groups by (key, salt in
    // [0,64)) — bounded at corpus/64 per cell even for a window owned by
    // half the corpus — packing each cell's positions into one list row;
    // the per-key total then needs a window over AT MOST 64 rows per key.
    // Single-consumer all the way (a groupBy+join-back alternative re-ran
    // the explode pipeline once per leg — measured 1.5-1.9x), hash
    // aggregation instead of the window's corpus-wide sort; per-task list
    // memory equals the task's share of positions.
    //
    // KEY CHOICE by window length (round 16, measured): for short windows
    // the key is the window STRING itself — one salted exchange of
    // (doc_id, pos, window) ≈ (16 + L)-byte rows, collision-proof by
    // construction, done. For long windows that exchange balloons (a
    // 1000-char window is 40x the 24-byte hash row), so the wide shuffle
    // ships xxhash64(window) instead and the dup-fraction-sized survivors
    // re-derive their text and confirm exactly in a second salted pass (a
    // 64-bit collision can never fabricate a repeat). Crossover where the
    // string row ≈ 2-3x the hash row: L = 64. The r15 two-phase-always
    // form paid both exchanges plus a docs join at every L — for the
    // L=40 flagship that was 2 corpus exchanges + join where one slightly
    // wider exchange suffices (measured 3.5s -> ~1.5s at sf0.1).
    def saltedDupPositions(keyed: DataFrame): DataFrame = keyed
      .withColumn("salt",
        pmod(xxhash64($"doc_id", $"pos"), lit(64L)).cast("int"))
      .groupBy($"k", $"salt")
      .agg(collect_list(struct($"doc_id", $"pos")).as("ps"),
        count(lit(1)).as("cp"))
      .withColumn("c", sum($"cp").over(Window.partitionBy($"k")))
      .filter($"c" >= 2)
      .select(explode($"ps").as("p"))
      .select($"p.doc_id".as("doc_id"), $"p.pos".as("pos"))
    val window = expr(s"substring(text, CAST(pos + 1 AS INT), $L)")
    val dp =
      if (L <= 64)
        saltedDupPositions(
          spreadDocs.select($"doc_id", $"pos", window.as("k")))
      else {
        val cand = saltedDupPositions(
          spreadDocs.select($"doc_id", $"pos", xxhash64(window).as("k")))
        saltedDupPositions(cand.join(docs, "doc_id")
          .select($"doc_id", $"pos", window.as("k")))
      }
    val wI = Window.partitionBy($"doc_id").orderBy($"pos")
    dp.withColumn("isl", $"pos" - row_number().over(wI))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("start_pos"),
        (max($"pos") - min($"pos") + L).as("rep_len"))
      .select($"doc_id", $"start_pos".cast("long").as("start_pos"),
        $"rep_len".cast("long").as("rep_len"))
      .orderBy($"doc_id", $"start_pos")
  }

  val qDedupSuffix: Q = (s, dir) =>
    suffixRuns(table(s, dir, "documents").select(col("doc_id"), col("text")), 40)

  val qTextDupgrams: Q = (s, dir) => {
    import s.implicits._
    // gram generation through the native ShingleGenerator (planned via
    // GenerateExec like explode): the HOF composition it replaces —
    // explode(transform(sequence → concat_ws(slice)))) — is
    // CodegenFallback, so every gram paid an interpreted expression-tree
    // walk with per-element array allocation (measured ~2x this query's
    // cost at sf0.1); semantics identical (< 8 tokens ⇒ no grams)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingles8", exprs => ShingleGenerator(exprs.head, 8), "scala_udf")
    val grams = spread(table(s, dir, "documents"))
      .selectExpr("doc_id", "shingles8(text) AS g")
      .distinct()
      .transform(cached) // reused by the unique-gram and per-doc legs
    // JOIN-FREE doc-frequency attribution (round 20, guide §2.3/§2.4):
    // n_dup(doc) = n_grams(doc) − #{grams of doc unique corpus-wide},
    // and a doc-frequency-1 gram has exactly ONE (doc_id, g) row, so
    // min(doc_id) over its gram group IS its owning doc. The r16-r19
    // shape shipped every (doc_id, g) row through a second corpus-sized
    // exchange (join-back on g, wide 8-token gram strings) to tag rows
    // with their doc frequency; this form carries the one needed doc_id
    // through the gram aggregation itself and the per-doc counts reduce
    // map-side to ~docs-sized exchanges. Plan: 4 exchanges → 3, and the
    // eliminated one was corpus-sized (same-session A/B at sf0.1:
    // 0.84-1.8 s → 0.30-0.34 s, parity exact; the min(doc_id) of a
    // filtered nd=1 group is partition-order-free by uniqueness).
    val uniqPerDoc = grams.groupBy($"g")
      .agg(count(lit(1)).as("nd"), min($"doc_id").as("d"))
      .filter($"nd" === 1)
      .groupBy($"d").agg(count(lit(1)).as("n_uniq"))
    grams.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      .join(uniqPerDoc, $"doc_id" === $"d", "left")
      .select($"doc_id", $"n_grams",
        ($"n_grams" - coalesce($"n_uniq", lit(0L))).as("n_dup"))
      .withColumn("dup_frac",
        round($"n_dup".cast("double") / $"n_grams", 6))
      .select($"doc_id", $"n_grams", $"n_dup", $"dup_frac")
      .orderBy($"doc_id")
  }

  // ------------------------------------------------- Gopher rule battery

  /** Gopher-style quality-rule battery in ONE pass over the exploded
    * token table: token-count bounds, mean word length bounds, stopword
    * evidence (≥2 distinct stopwords present), and alphabetic-word
    * fraction. Every metric is integer-exact or a rounded ratio of
    * integers, so the keep/flag decision is engine-exact by
    * construction. One narrow shuffle on doc_id. */
  val qCurateGopher: Q = (s, dir) => {
    import s.implicits._
    val stop = Seq("the", "a", "value", "key")
    table(s, dir, "documents")
      .select($"doc_id", explode(LlmOps.toks($"text")).as("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum(length($"w")).as("n_wchars"),
        countDistinct(when($"w".isin(stop: _*), $"w")).as("stop_hits"),
        sum(when($"w".rlike("^[a-z]+$"), 1L).otherwise(0L)).as("n_alpha"))
      .select($"doc_id", $"n_toks",
        round($"n_wchars".cast("double") / $"n_toks", 6).as("mean_wlen"),
        $"stop_hits",
        round($"n_alpha".cast("double") / $"n_toks", 6).as("alpha_frac"))
      .withColumn("keep",
        $"n_toks".between(10, 1000) &&
          $"mean_wlen".between(2.0, 12.0) &&
          $"stop_hits" >= 2 &&
          $"alpha_frac" >= 0.8)
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------- word entropy

  /** Per-document word-distribution Shannon entropy (bits) — the
    * information-density quality signal: H = log2(n) − Σ c·log2(c) / n.
    * log2 values are rounded 8dp → DECIMAL before the multiply/sum (the
    * unigram-LM convention), so the aggregation is exact integer×decimal
    * arithmetic and partial-agg order cannot move the result; the final
    * two-double expression is identical text on both engines. */
  val qTextEntropy: Q = (s, dir) => {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", explode(LlmOps.toks($"text")).as("w"))
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n"), count(lit(1)).as("n_distinct"),
        sum(($"c".cast("decimal(10,0)") *
          round(log(2.0, $"c".cast("double")), 8).cast("decimal(18,8)"))
          .cast("decimal(28,8)")).as("clog"))
      // final expression emitted UNROUNDED (the bm25/ewma convention):
      // both terms are deterministic doubles and a final 6dp round can
      // land on a .5 boundary where the engines' round() algorithms split
      .select($"doc_id", $"n", $"n_distinct",
        (round(log(2.0, $"n".cast("double")), 8) -
          $"clog".cast("double") / $"n").as("entropy_bits"))
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------ BFS hops

  /** Min-hop BFS (4 supersteps) over the part co-order graph from the
    * smallest part key — the graph-traversal sibling of pagerank /
    * connected-components / triangles. The fixpoint runs on
    * co-partitioned RDDs for the same reason pagerank does: a DataFrame
    * loop pays a fixed Catalyst+codegen replan per level (measured
    * ~1.2 s × 4 here). Each level is ONE shuffle of the candidate set
    * (the frontier's adjacency, never the closure); the dedup exploits
    * the undirected-BFS invariant that a neighbor of a level-(h−1) node
    * lies at hop h−2, h−1 or h, so subtracting just the previous TWO
    * frontiers (both narrow, co-partitioned) isolates level h — the
    * visited set is never shuffled at all. */
  val qGraphBfs: Q = (s, dir) => {
    import s.implicits._
    // edge build via the shared single-exchange coOrderPairs form
    // (round 19 — see Util.coOrderPairs)
    val half = cached(Util.coOrderPairs(s, dir).distinct())
    // partitioner sized to the edge data, like pagerank: a fixed wide
    // partitioner would pay near-empty task launches per level at sf0.1
    val nEdges = half.count() * 2
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(s.sparkContext.defaultParallelism,
        (nEdges / 65536 + 1).toInt)))
    val und = cachedRdd(half.as[(Long, Long)].rdd
      .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .partitionBy(part))
    // round 19: staged per-partition adjacency + frontier zip with a
    // local combine, replacing the per-level edge cogroup — every
    // pushed value IS h, so the local min-combine is a plain dedup and
    // the level sets are identical (pinned in PropertySpec; the
    // pagerank/CC precedent)
    val adj = cachedRdd(Util.adjacencyMapOf(und))
    val seedNode = und.keys.min()
    val seed = s.sparkContext
      .parallelize(Seq((seedNode, 0L))).partitionBy(part)
    var levels = List(cachedRdd(seed))
    for (h <- 1 to 4) {
      val prev = levels.head
      val prev2 = if (levels.lengthCompare(2) >= 0) levels(1) else prev
      val next = adj.zipPartitions(prev.mapValues(_ => h.toLong)) {
          (ait, actIt) => Util.pushMinLabels(ait, actIt)
        }
        .reduceByKey(part, (a, _) => a)
        .subtractByKey(prev, part)
        .subtractByKey(prev2, part)
      levels = cachedRdd(next) :: levels
    }
    s.sparkContext.union(levels.reverse)
      .toDF("node", "hop").orderBy($"node")
  }

  // ------------------------------------------------------ bitmap distinct

  /** Exact distinct-count via bitmaps: users per event type as
    * bitmap_construct_agg over (type, bucket) sub-aggregates, OR-merged
    * and popcounted — the EXACT mergeable-distinct shape for 100 TB
    * (each 32768-id bucket reduces to a 4 KB bitmap map-side; the final
    * merge shuffles kilobytes per group, where count(DISTINCT) shuffles
    * every id). The oracle is plain count(DISTINCT user_id) — bitmaps
    * are exact, so this is oracle-checked, unlike the HLL family. */
  val qAggBitmapDistinct: Q = (s, dir) => {
    events(s, dir)
      .selectExpr("event_type", "user_id")
      .groupBy(col("event_type"), expr("bitmap_bucket_number(user_id)").as("bkt"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
      .orderBy(col("event_type"))
  }

  // ------------------------------------------------------ weighted sample

  /** Deterministic weighted sampling without replacement (top-3 per
    * language, weight = n_chars): the A-ES exponential-jitter scheme —
    * key = −ln(u)/w with u a pure md5-derived function of the doc key —
    * so the sample is reproducible across engines, partitionings and
    * reruns (the rand() forms are none of these). One window shuffle on
    * lang; at 100 TB the native top-k operator (q_win_topk_native)
    * carries the same idiom shuffle-free. */
  val qSampleWeighted: Q = (s, dir) => {
    import s.implicits._
    // u in (0,1): (16-bit md5 prefix + 0.5) / 65536 — shared arithmetic
    // with the q_pipeline_mixture oracle, shifted off zero for the ln.
    // u is computed in DOUBLE end-to-end and is EXACT: the numerator
    // (n + 0.5, n ≤ 65535) is exactly representable and /65536 is a
    // power-of-two division — so both engines hand libm ln the identical
    // bit pattern. (A decimal-literal route here quantizes u differently
    // per engine; 1/u amplifies that through the ln for small u.)
    val u = expr(
      """(CAST((position(substr(md5(cast(doc_id AS STRING)), 1, 1) IN '0123456789abcdef') - 1) * 4096
        | + (position(substr(md5(cast(doc_id AS STRING)), 2, 1) IN '0123456789abcdef') - 1) * 256
        | + (position(substr(md5(cast(doc_id AS STRING)), 3, 1) IN '0123456789abcdef') - 1) * 16
        | + (position(substr(md5(cast(doc_id AS STRING)), 4, 1) IN '0123456789abcdef') - 1)
        | AS DOUBLE) + 0.5D) / 65536.0D""".stripMargin)
    // libm parity: −ln(u) is rounded 8dp and squeezed through DECIMAL
    // before the divide (the batch-wide convention, cf. bm25/entropy), so
    // a 1-ulp JVM-vs-DuckDB ln() difference can't flip near-tied ranks;
    // the double divide then has exact inputs on both engines.
    val keyed = table(s, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars",
        (round(-log(u), 8).cast("decimal(12,8)").cast("double") / $"n_chars")
          .as("k"))
    keyed
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"k", $"doc_id")))
      .filter($"rk" <= 3)
      // k is emitted UNROUNDED (§5.4): its inputs are exact on both
      // engines (8dp-decimal ln, integer n_chars), so the double divide is
      // bit-identical — while round(k, 9) can straddle a .5 boundary that
      // Spark (decimal HALF_UP) and DuckDB (binary) settle differently
      // (observed at sf0.1).
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id", $"k")
      .orderBy($"lang", $"rk")
  }

  // ------------------------------------------------- linear interpolation

  /** Resample-with-LINEAR-interpolation: per-user hourly mean of purchase
    * values on a dense hour grid, gaps filled by the line between the
    * nearest observed neighbors (q_ts_gapfill is the step-function
    * sibling). Means come from exact decimal sums; the interpolation
    * ratio is integer hour arithmetic; grid size is span-bounded per
    * user, so the work scales with users × hours, not events². */
  val qTsInterp: Q = (s, dir) => {
    import s.implicits._
    val hourly = events(s, dir)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id", date_trunc("hour", $"ts").as("hour"))
      .agg((dsum($"value") / count(lit(1))).as("hr_mean"))
    val grid = hourly.groupBy($"user_id")
      .agg(min($"hour").as("h0"), max($"hour").as("h1"))
      .select($"user_id",
        explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("hour"))
    val wPrev = Window.partitionBy($"user_id").orderBy($"hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy($"user_id").orderBy($"hour")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val hidx = (unix_timestamp($"hour") / 3600L).cast("long")
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .withColumn("hidx", hidx)
      .withColumn("pv", last($"hr_mean", ignoreNulls = true).over(wPrev))
      .withColumn("ph",
        last(when($"hr_mean".isNotNull, $"hidx"), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first($"hr_mean", ignoreNulls = true).over(wNext))
      .withColumn("nh",
        first(when($"hr_mean".isNotNull, $"hidx"), ignoreNulls = true).over(wNext))
      // emitted UNROUNDED (the q_ts_ewma convention): every input is an
      // exact-decimal-derived double and the per-row chain is the same
      // IEEE sequence on both engines, while round() at an exact .5e-6
      // boundary is where the engines diverge
      .withColumn("interp",
        when($"hr_mean".isNotNull, $"hr_mean")
          .when($"pv".isNull, $"nv")
          .when($"nv".isNull, $"pv")
          .otherwise($"pv" + ($"nv" - $"pv") *
            ($"hidx" - $"ph").cast("double") / ($"nh" - $"ph")))
      .select($"user_id", $"hour", $"hr_mean".as("observed"), $"interp")
      .orderBy($"user_id", $"hour")
  }

  // ------------------------------------------------------- skew/kurtosis

  /** Higher-moment statistics per event type — population skewness and
    * excess kurtosis derived from EXACT decimal power sums (Σx..Σx⁴), so
    * the only doubles are the final closed-form combination, identical
    * text on both engines (Spark's built-in skewness/kurtosis match to
    * ~1e-9 — asserted in QualitySpec — but are double-accumulated and
    * order-dependent, so the decimal route is what's oracle-checked).
    * Decimal widths: x fits (10,4) up to ~10⁶, but the binding bound is
    * x² in (15,8), which only holds |x²| < 10⁷ i.e. |x| < ~3162 (fixture
    * max is 560.21 — safe with 5× headroom); x³ (26,12); x⁴ = (x²)²
    * (31,16) — all within DECIMAL(38). Widen x² to (20,8) first if the
    * value domain ever grows past ~3e3. */
  val qAggSkewKurt: Q = (s, dir) => {
    import s.implicits._
    val x = $"value".cast("decimal(10,4)")
    val x2 = ($"value".cast("decimal(10,4)") * $"value".cast("decimal(10,4)"))
      .cast("decimal(15,8)")
    events(s, dir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(x).cast("double").as("s1"),
        sum(x2).cast("double").as("s2"),
        sum((x2 * x).cast("decimal(26,12)")).cast("double").as("s3"),
        sum((x2 * x2).cast("decimal(31,16)")).cast("double").as("s4"))
      .withColumn("mu", $"s1" / $"n")
      .withColumn("m2", $"s2" / $"n" - $"mu" * $"mu")
      .withColumn("m3",
        $"s3" / $"n" - lit(3.0) * $"mu" * ($"s2" / $"n") +
          lit(2.0) * $"mu" * $"mu" * $"mu")
      .withColumn("m4",
        $"s4" / $"n" - lit(4.0) * $"mu" * ($"s3" / $"n") +
          lit(6.0) * $"mu" * $"mu" * ($"s2" / $"n") -
          lit(3.0) * $"mu" * $"mu" * $"mu" * $"mu")
      .select($"event_type", $"n",
        round($"mu", 6).as("mean"),
        round($"m3" / ($"m2" * sqrt($"m2")), 6).as("skewness"),
        round($"m4" / ($"m2" * $"m2") - 3.0, 6).as("kurtosis"))
      .orderBy($"event_type")
  }

  // -------------------------------------------------- canonical-URL dedup

  /** Crawl-frontier URL dedup: canonicalize (lowercase host, drop the
    * query string and fragment, strip a trailing slash) and keep one
    * fetch per canonical URL — the step BEFORE content dedup in a crawl
    * pipeline, where the same page hides behind ?session= and #fragment
    * variants. URLs are synthesized from fixture columns (the q_fn_url
    * convention) with the variant noise in the query/fragment, so
    * canonicalization provably collapses them. One groupBy on the
    * canonical key — at 100 TB this is a map-side-combinable exact-dedup
    * shuffle over ~60-byte keys. */
  val qDedupUrl: Q = (s, dir) => {
    import s.implicits._
    val url = concat(
      lit("https://"), upper($"source"), lit(".Example.org/"),
      $"lang", lit("/page"),
      when($"doc_id" % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?session="), $"doc_id", lit("#sec"), $"doc_id" % 7)
    table(s, dir, "documents")
      .select($"doc_id", url.as("url"))
      .withColumn("canonical",
        regexp_replace(
          lower(regexp_replace($"url", "[?#].*$", "")), "/$", ""))
      .groupBy($"canonical")
      .agg(count(lit(1)).as("n_variants"),
        min($"doc_id").as("keeper_doc"))
      .orderBy($"canonical")
  }

  // --------------------------------------------------- gaps-and-islands

  /** Batch sessionization as the gaps-and-islands window idiom: a new
    * island starts where the gap to the previous event exceeds 30
    * minutes (lag → boundary flag → running sum = session id), then one
    * aggregation per (user, session). The declarative twin of the
    * streaming session_window (q_stream_session) and the
    * flatMapGroupsWithState form — same semantics, one window pass + one
    * shuffle, no state store. Session bounds are min/max event times and
    * the id is 0-based per user, so every output column is
    * integer/timestamp-exact. */
  val qWinIslands: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val flagged = events(s, dir)
      .select($"user_id", $"event_id", $"ts")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      // µs integers on both engines: unix_timestamp/epoch would compare
      // truncated seconds vs fractional seconds at the gap boundary
      .withColumn("new_island",
        ($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > 1800000000L)
          .cast("long"))
      .withColumn("session_id",
        sum($"new_island").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
    flagged.groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        min($"ts").as("s_start"), max($"ts").as("s_end"))
      .orderBy($"user_id", $"session_id")
  }

  // ------------------------------------------------------ BPE statistics

  /** The BPE-training kernel: corpus-wide adjacent-character-pair
    * frequencies within words, top 20 — the statistic a byte-pair-
    * encoding trainer maximizes at every merge step (the full trainer
    * iterates argmax→merge; the kernel is this ONE exploded aggregation,
    * map-side combinable on the pair key, and at 100 TB it is the only
    * part that touches the corpus — the merge table itself is
    * vocab-sized driver state in any real tokenizer trainer). */
  val qTextBpeStep: Q = (s, dir) => {
    import s.implicits._
    // char pairs through the native CharGramGenerator (round 19): the
    // interpreted explode(transform(sequence → substr)) chain it
    // replaces paid a per-pair expression-tree walk over every adjacent
    // char pair of the corpus (parity pinned in PropertySpec)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "charpairs", exprs => CharGramGenerator(exprs.head, 2, keepShort = false),
      "scala_udf")
    spread(table(s, dir, "documents"))
      .select(explode(LlmOps.toks($"text")).as("w"))
      .filter(length($"w") >= 2)
      .selectExpr("charpairs(w) AS pair")
      .groupBy($"pair").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"pair")
      .limit(20)
  }

  // ------------------------------------------------- token-budget fill

  /** Budget-constrained selection: fill a fixed per-language token
    * budget greedily by rank (longest docs first, doc_id tiebreak) —
    * the "assemble exactly N tokens of training data" step downstream
    * of all the quality gates. A doc is kept while the running token
    * total INCLUDING it fits the budget; the window cumsum makes the
    * cut integer-exact on both engines. One window shuffle per
    * language; at 100 TB the rank ordering comes from the native
    * top-k/window machinery and budgets are per-shard. */
  val qCurateBudget: Q = (s, dir) => {
    import s.implicits._
    val budget = 5000L
    val w = Window.partitionBy($"lang").orderBy($"n_toks".desc, $"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "documents")
      .select($"doc_id", $"lang",
        size(LlmOps.toks($"text")).cast("long").as("n_toks"))
      .withColumn("cum", sum($"n_toks").over(w))
      .filter($"cum" <= budget)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), max($"cum").as("tokens_kept"),
        min($"n_toks").as("shortest_kept"))
      .orderBy($"lang")
  }

  // ----------------------------------------------------- BPE trainer

  /** A 3-merge BPE TRAINER as one declarative plan: each round counts
    * adjacent symbol pairs over the whole corpus (q_text_bpe_step's
    * kernel), takes the argmax pair (count desc, pair asc — the
    * deterministic tie-break), and re-tokenizes every word by merging
    * that pair. The 1-row argmax cross-joins back (broadcast) so "apply
    * the learned merge" is a per-row string replace — no driver loop, no
    * collect; 3 unrolled stages. Merge semantics are greedy
    * non-overlapping left-to-right (both engines' replace()), so an
    * immediately-repeated pair ('a a a a') merges at alternating
    * positions and leaves the rest to later rounds — documented, and
    * identical on both engines by construction. At 100 TB each round is
    * one map-side-combinable pair count + one broadcast + one projection
    * — the merge TABLE is vocab-sized in any real trainer; only the
    * counts touch the corpus. */
  val qTextBpeTrain: Q = (s, dir) => {
    import s.implicits._
    // The corpus is touched ONCE — the word-frequency dictionary
    // (word, multiplicity) is what iterates, exactly like real BPE
    // trainers (HF/GPT-2 count merges over the word dict, not the raw
    // corpus). Rounds then run on vocabulary-sized data with
    // multiplicity-WEIGHTED pair counts: 5.5 s (instance-level, three
    // cached 600k-row corpus rewrites) → sub-second.
    // dict cache coalesced (round 20): the merge rounds make 7 passes
    // over this VOCAB-sized table — at 32 cached partitions that is
    // ~200 near-empty task launches per invocation; width derives from
    // the parallelism so a cluster still gets a few dict tasks
    val dictParts = math.max(1, s.sparkContext.defaultParallelism / 8)
    val words = cached(table(s, dir, "documents")
      .select(explode(LlmOps.toks($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("mult"))
      // ' a b c ' via one regexp (each char → char+space + leading pad)
      .select(concat(lit(" "), regexp_replace($"w", "(.)", "$1 ")).as("s"),
        $"mult")
      .coalesce(dictParts))
    // symbol pairs through the native WordWindowGenerator (round 19):
    // the HOF chain it replaces — explode(transform(sequence →
    // concat(element_at, " ", element_at))) — walked the interpreted
    // expression path per pair over the vocab × word-length pair table;
    // the generator emits the identical "a b" strings as byte slices of
    // the trimmed spaced string (parity pinned in PropertySpec)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sympairs", exprs => WordWindowGenerator(exprs.head, 2), "scala_udf")
    def round1(tok: DataFrame, r: Int): (DataFrame, DataFrame) = {
      val top = tok
        .selectExpr("sympairs(trim(s)) AS pair", "mult")
        .groupBy($"pair").agg(sum($"mult").as("cnt"))
        .orderBy($"cnt".desc, $"pair").limit(1)
        .select(lit(r.toLong).as("round"), $"pair", $"cnt")
      val merged = tok.crossJoin(broadcast(top.select($"pair")))
        .select(expr(
          "replace(s, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ')")
          .as("s"), $"mult")
      (merged, top)
    }
    val (t1, m1) = round1(words, 1)
    val (t2, m2) = round1(t1, 2)
    val (_, m3) = round1(t2, 3)
    m1.union(m2).union(m3).orderBy($"round")
  }

  /** BPE ENCODE — the operator a pretraining pipeline actually runs over
    * the whole corpus once the trainer (q_text_bpe_train) has learned its
    * merge table: re-tokenize every document with the learned merges and
    * report per-doc token statistics. Same 100 TB shape as the trainer,
    * inverted: the merges are (re)learned on the vocab-sized word dict,
    * applied to the DICT (each word encoded once, multiplicity-weighted —
    * never per word instance), and the word→token-count map is broadcast
    * back onto the corpus token scan. Greedy left-to-right replace
    * semantics identical to the trainer (non-overlapping, both engines'
    * replace()). n_syms = pre-merge symbol (=char) count, so
    * n_syms - n_tokens = number of merge applications inside the doc. */
  val qTextBpeApply: Q = (s, dir) => {
    import s.implicits._
    // dict cache coalesced — same rationale as q_text_bpe_train above
    val dictParts = math.max(1, s.sparkContext.defaultParallelism / 8)
    val words = cached(spread(table(s, dir, "documents"))
      .select(explode(LlmOps.toks($"text")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("mult"))
      .select($"w",
        concat(lit(" "), regexp_replace($"w", "(.)", "$1 ")).as("s"),
        $"mult")
      .coalesce(dictParts))
    // symbol pairs through the native WordWindowGenerator — same
    // rationale + parity pin as q_text_bpe_train
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sympairs", exprs => WordWindowGenerator(exprs.head, 2), "scala_udf")
    // one merge round: argmax pair on the dict, then rewrite the dict
    def merge1(tok: DataFrame): DataFrame = {
      val top = tok
        .selectExpr("sympairs(trim(s)) AS pair", "mult")
        .groupBy($"pair").agg(sum($"mult").as("cnt"))
        .orderBy($"cnt".desc, $"pair").limit(1)
        .select($"pair")
      tok.crossJoin(broadcast(top))
        .select($"w", expr(
          "replace(s, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ')")
          .as("s"), $"mult")
    }
    val encodedDict = merge1(merge1(merge1(words)))
      .select($"w", size(split(trim($"s"), " ")).cast("long").as("n_tok"))
    spread(table(s, dir, "documents"))
      .select($"doc_id", explode(LlmOps.toks($"text")).as("w"))
      .join(broadcast(encodedDict), Seq("w"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length($"w")).cast("long").as("n_syms"),
        sum($"n_tok").as("n_tokens"))
      .orderBy($"doc_id")
  }

  // --------------------------------------------------- DSIR importance

  /** DSIR-style importance weighting (Xie et al.): score every document
    * by the unigram log-likelihood ratio between a TARGET distribution
    * (here the 'en' slice — the domain being selected for) and the whole
    * corpus, both add-1 smoothed over the shared vocabulary. The model
    * is vocab-sized (per-word llr, rounded 8dp → decimal) so at 100 TB
    * it broadcasts back onto the token scan — the same "model built FROM
    * the corpus, broadcast ONTO the corpus" shape as the unigram LM —
    * and per-doc scores are exact decimal sums of c(doc,w)·llr(w),
    * emitted unrounded (bm25 convention). */
  val qCurateDsir: Q = (s, dir) => {
    import s.implicits._
    val tok = cached(spread(table(s, dir, "documents"))
      .select($"doc_id", $"lang", explode(LlmOps.toks($"text")).as("w")))
    val wc = tok.groupBy($"w")
      .agg(count(lit(1)).as("cc"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("ct"))
    val totals = wc.agg(sum($"cc").as("nc"), sum($"ct").as("nt"),
      count(lit(1)).as("v"))
    val model = wc.crossJoin(broadcast(totals))
      .select($"w", round(
        log((($"ct" + 1L).cast("double") / ($"nt" + $"v")) /
          (($"cc" + 1L).cast("double") / ($"nc" + $"v"))), 8)
        .cast("decimal(18,8)").as("llr"))
    tok.groupBy($"doc_id", $"w").agg(count(lit(1)).as("c"))
      .join(broadcast(model), "w")
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_toks"),
        sum(($"c".cast("decimal(10,0)") * $"llr").cast("decimal(28,8)"))
          .cast("double").as("llr_sum"))
      .withColumn("selected", $"llr_sum" > 0.0)
      .orderBy($"doc_id")
  }

  // ------------------------------------------------------------ masking

  /** Data-masking battery on the customer dim: the built-in mask()
    * (upper→X, lower→x, digit→n, other kept) plus a custom-replacement
    * variant — the redaction primitive next to q_text_pii's regexp
    * route. Pure per-row codegen'd string work; the oracle rebuilds the
    * same masks from chained regexp_replace. */
  val qFnMask: Q = (s, dir) => {
    import s.implicits._
    table(s, dir, "customer")
      .select($"c_custkey",
        mask($"c_name").as("masked_name"),
        mask($"c_mktsegment").as("masked_seg"),
        mask($"c_name", lit("X"), lit("x"), lit("n"), lit("*"))
          .as("masked_name_star"))
      .orderBy($"c_custkey")
  }

  // ------------------------------------------------------ weighted SSSP

  /** Single-source shortest paths, 4 relaxation rounds of Bellman-Ford
    * over the WEIGHTED part co-order graph (weight = co-occurrence
    * count, so costs stay integer-exact) — the weighted sibling of
    * q_graph_bfs. Same RDD-fixpoint rationale; each round is one
    * shuffle of the relaxed-candidate set plus the min-merge, and after
    * round k the vector is exactly min-cost over ≤k-edge paths (the
    * bounded-round Bellman-Ford invariant), which is what the oracle's
    * recursive walk enumeration computes. */
  val qGraphSssp: Q = (s, dir) => {
    import s.implicits._
    // edge build via the shared single-exchange coOrderPairs form; the
    // generator preserves pair MULTIPLICITY, so the weight aggregate is
    // unchanged (round 19 — see Util.coOrderPairs)
    val half = cached(Util.coOrderPairs(s, dir)
      .groupBy($"u", $"v")
      .agg(count(lit(1)).as("w")))
    val nEdges = half.count() * 2
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, math.min(s.sparkContext.defaultParallelism,
        (nEdges / 65536 + 1).toInt)))
    val und = cachedRdd(half.as[(Long, Long, Long)].rdd
      .flatMap { case (u, v, w) => Seq((u, (v, w)), (v, (u, w))) }
      .partitionBy(part))
    // round 19: staged weighted adjacency + zip relax with a local
    // min-combine replacing the per-round edge cogroup; the caller's
    // union + reduceByKey(min) sees the min over the same relaxation
    // multiset, so distances are identical (pinned in PropertySpec)
    val adj = cachedRdd(Util.adjacencyWeightedOf(und))
    val seedNode = und.keys.min()
    var dist = s.sparkContext
      .parallelize(Seq((seedNode, 0L))).partitionBy(part)
    for (_ <- 1 to 4) {
      val relaxed = adj.zipPartitions(dist) { (ait, dit) =>
        Util.pushMinDist(ait, dit)
      }
      dist = dist.union(relaxed).reduceByKey(part, math.min(_: Long, _: Long))
    }
    dist.toDF("node", "cost").orderBy($"node")
  }

  val queries: Map[String, Q] = Map(
    "q_text_bm25" -> qTextBm25,
    "q_text_dupgrams" -> qTextDupgrams,
    "q_dedup_substring" -> qDedupSubstring,
    "q_dedup_suffix" -> qDedupSuffix,
    "q_curate_gopher" -> qCurateGopher,
    "q_text_entropy" -> qTextEntropy,
    "q_graph_bfs" -> qGraphBfs,
    "q_agg_bitmap_distinct" -> qAggBitmapDistinct,
    "q_sample_weighted" -> qSampleWeighted,
    "q_ts_interp" -> qTsInterp,
    "q_agg_skewkurt" -> qAggSkewKurt,
    "q_curate_dsir" -> qCurateDsir,
    "q_fn_mask" -> qFnMask,
    "q_graph_sssp" -> qGraphSssp,
    "q_text_bpe_step" -> qTextBpeStep,
    "q_win_islands" -> qWinIslands,
    "q_dedup_url" -> qDedupUrl,
    "q_text_bpe_train" -> qTextBpeTrain,
    "q_text_bpe_apply" -> qTextBpeApply,
    "q_curate_budget" -> qCurateBudget,
  )

  val oracleSql: Map[String, String] = Map(
    "q_dedup_suffix" ->
      """WITH grams AS (
        |  SELECT d.doc_id, p.pos, substr(d.text, CAST(p.pos + 1 AS INT), 40) AS g
        |  FROM documents d
        |  CROSS JOIN LATERAL (SELECT unnest(range(0, greatest(length(d.text) - 40 + 1, CAST(0 AS BIGINT)))) AS pos) p
        |),
        |dups AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
        |dp AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dups)),
        |runs AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid FROM dp)
        |SELECT doc_id, min(pos) AS start_pos, max(pos) - min(pos) + 40 AS rep_len
        |FROM runs GROUP BY doc_id, rid
        |ORDER BY doc_id, start_pos""".stripMargin,
    "q_dedup_substring" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |p AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS pos
        |  FROM tok),
        |gr AS (SELECT doc_id, pos, array_to_string(ws[pos:pos+7], ' ') AS gram
        |  FROM p),
        |dup AS (SELECT gram FROM (
        |   SELECT gram, count(*) AS nd
        |   FROM (SELECT DISTINCT doc_id, gram FROM gr) GROUP BY gram)
        |  WHERE nd > 1),
        |d AS (SELECT doc_id, pos FROM gr WHERE gram IN (SELECT gram FROM dup)),
        |i AS (SELECT doc_id, pos,
        |   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM d),
        |r AS (SELECT doc_id, min(pos) AS rs, max(pos) AS mp,
        |   count(*) AS n_grams
        |  FROM i GROUP BY doc_id, isl)
        |SELECT r.doc_id, CAST(rs AS BIGINT) AS run_start,
        | CAST(mp + 7 AS BIGINT) AS run_end,
        | CAST(mp - rs + 8 AS BIGINT) AS n_tokens, n_grams,
        | array_to_string(ws[rs:mp+7], ' ') AS run_text
        |FROM r JOIN tok ON tok.doc_id = r.doc_id
        |ORDER BY r.doc_id, run_start""".stripMargin,
    "q_curate_budget" ->
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        | FROM documents),
        |c AS (SELECT doc_id, lang, n_toks,
        |  sum(n_toks) OVER (PARTITION BY lang ORDER BY n_toks DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM t)
        |SELECT lang, count(*) AS n_kept,
        | CAST(max(cum) AS BIGINT) AS tokens_kept,
        | min(n_toks) AS shortest_kept
        |FROM c WHERE cum <= 5000
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_bpe_train" ->
      """WITH w0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s,
        |   count(*) AS mult
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |pr1 AS (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
        |    i -> sy[i] || ' ' || sy[i+1])) AS pair, mult
        |  FROM (SELECT string_split(trim(s), ' ') AS sy, mult FROM w0)),
        |t1 AS (SELECT CAST(1 AS BIGINT) AS round, pair,
        |   CAST(sum(mult) AS BIGINT) AS cnt
        |  FROM pr1 GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
        |w1 AS (SELECT replace(s, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ') AS s, mult
        |  FROM w0 CROSS JOIN t1),
        |pr2 AS (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
        |    i -> sy[i] || ' ' || sy[i+1])) AS pair, mult
        |  FROM (SELECT string_split(trim(s), ' ') AS sy, mult FROM w1)),
        |t2 AS (SELECT CAST(2 AS BIGINT) AS round, pair,
        |   CAST(sum(mult) AS BIGINT) AS cnt
        |  FROM pr2 GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
        |w2 AS (SELECT replace(s, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ') AS s, mult
        |  FROM w1 CROSS JOIN t2),
        |pr3 AS (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
        |    i -> sy[i] || ' ' || sy[i+1])) AS pair, mult
        |  FROM (SELECT string_split(trim(s), ' ') AS sy, mult FROM w2)),
        |t3 AS (SELECT CAST(3 AS BIGINT) AS round, pair,
        |   CAST(sum(mult) AS BIGINT) AS cnt
        |  FROM pr3 GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)
        |SELECT round, pair, cnt FROM t1
        |UNION ALL SELECT round, pair, cnt FROM t2
        |UNION ALL SELECT round, pair, cnt FROM t3
        |ORDER BY round""".stripMargin,
    "q_text_bpe_apply" ->
      """WITH w0 AS (SELECT w, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS s,
        |   count(*) AS mult
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |pr1 AS (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
        |    i -> sy[i] || ' ' || sy[i+1])) AS pair, mult
        |  FROM (SELECT string_split(trim(s), ' ') AS sy, mult FROM w0)),
        |t1 AS (SELECT pair FROM (SELECT pair, CAST(sum(mult) AS BIGINT) AS cnt
        |  FROM pr1 GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)),
        |w1 AS (SELECT w, replace(s, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ') AS s, mult
        |  FROM w0 CROSS JOIN t1),
        |pr2 AS (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
        |    i -> sy[i] || ' ' || sy[i+1])) AS pair, mult
        |  FROM (SELECT string_split(trim(s), ' ') AS sy, mult FROM w1)),
        |t2 AS (SELECT pair FROM (SELECT pair, CAST(sum(mult) AS BIGINT) AS cnt
        |  FROM pr2 GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)),
        |w2 AS (SELECT w, replace(s, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ') AS s, mult
        |  FROM w1 CROSS JOIN t2),
        |pr3 AS (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
        |    i -> sy[i] || ' ' || sy[i+1])) AS pair, mult
        |  FROM (SELECT string_split(trim(s), ' ') AS sy, mult FROM w2)),
        |t3 AS (SELECT pair FROM (SELECT pair, CAST(sum(mult) AS BIGINT) AS cnt
        |  FROM pr3 GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1)),
        |w3 AS (SELECT w, replace(s, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ') AS s, mult
        |  FROM w2 CROSS JOIN t3),
        |wt AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n_tok
        |  FROM w3),
        |d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT d.doc_id, count(*) AS n_words,
        | CAST(sum(len(d.w)) AS BIGINT) AS n_syms,
        | CAST(sum(wt.n_tok) AS BIGINT) AS n_tokens
        |FROM d JOIN wt ON d.w = wt.w
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "q_dedup_url" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || upper(source) || '.Example.org/' || lang || '/page'
        |   || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        |   || '?session=' || doc_id || '#sec' || (doc_id % 7) AS url
        | FROM documents),
        |c AS (SELECT doc_id,
        |  regexp_replace(lower(regexp_replace(url, '[?#].*$', '')),
        |   '/$', '') AS canonical
        | FROM u)
        |SELECT canonical, count(*) AS n_variants,
        | min(doc_id) AS keeper_doc
        |FROM c GROUP BY canonical ORDER BY canonical""".stripMargin,
    "q_win_islands" ->
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
        |f AS (SELECT user_id, event_id, ts,
        |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e),
        |g AS (SELECT user_id, event_id, ts,
        |   CASE WHEN prev_ts IS NULL
        |     OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_island
        |  FROM f),
        |s AS (SELECT user_id, ts,
        |   sum(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | count(*) AS n_events, min(ts) AS s_start, max(ts) AS s_end
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q_text_bpe_step" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(w) - 1),
        |   i -> w[i:i+1])) AS pair
        |  FROM w WHERE len(w) >= 2)
        |SELECT pair, count(*) AS cnt FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,
    "q_curate_dsir" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wc AS (SELECT w, count(*) AS cc,
        |   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        |  FROM tok GROUP BY w),
        |tot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc,
        |   CAST(sum(ct) AS BIGINT) AS nt, count(*) AS v FROM wc),
        |model AS (SELECT w, CAST(round(ln(
        |   (CAST(ct + 1 AS DOUBLE) / (nt + v)) /
        |   (CAST(cc + 1 AS DOUBLE) / (nc + v))), 8) AS DECIMAL(18,8)) AS llr
        |  FROM wc CROSS JOIN tot),
        |dc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
        |   CAST(sum(CAST(CAST(c AS DECIMAL(10,0)) * llr AS DECIMAL(28,8)))
        |     AS DOUBLE) AS llr_sum
        |  FROM dc JOIN model USING (w) GROUP BY doc_id)
        |SELECT doc_id, n_toks, llr_sum, llr_sum > 0.0 AS selected
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_fn_mask" ->
      """SELECT c_custkey,
        | regexp_replace(regexp_replace(regexp_replace(c_name,
        |   '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |  AS masked_name,
        | regexp_replace(regexp_replace(regexp_replace(c_mktsegment,
        |   '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
        |  AS masked_seg,
        | -- after the three class replacements the only chars left are
        | -- 'other' chars (c_name's alphabet adds only '#'), so the
        | -- custom-other variant is one more sweep
        | regexp_replace(regexp_replace(regexp_replace(regexp_replace(c_name,
        |   '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g'),
        |   '[^Xxn]', '*', 'g') AS masked_name_star
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_graph_sssp" ->
      """WITH RECURSIVE
        |li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_returnflag = 'R'),
        |e1 AS (SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS w
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  GROUP BY u, v),
        |e AS (SELECT u, v, w FROM e1 UNION ALL SELECT v, u, w FROM e1),
        |walk(node, cost, hop) AS (
        |  SELECT (SELECT min(u) FROM e), CAST(0 AS BIGINT), 0
        |  UNION
        |  SELECT e.v, walk.cost + e.w, walk.hop + 1
        |  FROM walk JOIN e ON e.u = walk.node WHERE walk.hop < 4)
        |SELECT node, CAST(min(cost) AS BIGINT) AS cost
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    "q_text_bm25" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM tok),
        |corpus AS (SELECT count(*) AS n_docs,
        |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(ws) AS w FROM tok)
        |  WHERE w IN ('spark', 'query', 'join') GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
        |SELECT tf.doc_id, count(*) AS n_terms,
        | CAST(sum(CAST(round(
        |   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |   * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 8)
        |  AS DECIMAL(18,8))) AS DOUBLE) AS bm25
        |FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN corpus
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin,
    "q_text_dupgrams" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(
        |   generate_series(1, len(ws) - 7),
        |   i -> array_to_string(ws[i:i+7], ' '))) AS g
        |  FROM tok),
        |freq AS (SELECT g, count(*) AS nd FROM g GROUP BY g)
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        | round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 6) AS dup_frac
        |FROM g JOIN freq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_curate_gopher" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |m AS (SELECT doc_id, count(*) AS n_toks,
        |   sum(len(w)) AS n_wchars,
        |   count(DISTINCT CASE WHEN w IN ('the', 'a', 'value', 'key')
        |     THEN w END) AS stop_hits,
        |   sum(CASE WHEN regexp_matches(w, '^[a-z]+$') THEN 1 ELSE 0 END)
        |     AS n_alpha
        |  FROM w GROUP BY doc_id)
        |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
        | round(CAST(n_wchars AS DOUBLE) / n_toks, 6) AS mean_wlen,
        | CAST(stop_hits AS BIGINT) AS stop_hits,
        | round(CAST(n_alpha AS DOUBLE) / n_toks, 6) AS alpha_frac,
        | (n_toks BETWEEN 10 AND 1000
        |  AND round(CAST(n_wchars AS DOUBLE) / n_toks, 6) BETWEEN 2.0 AND 12.0
        |  AND stop_hits >= 2
        |  AND round(CAST(n_alpha AS DOUBLE) / n_toks, 6) >= 0.8) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_entropy" ->
      """WITH wc AS (SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY doc_id, w),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |   count(*) AS n_distinct,
        |   sum(CAST(CAST(c AS DECIMAL(10,0)) *
        |     CAST(round(log2(CAST(c AS DOUBLE)), 8) AS DECIMAL(18,8))
        |    AS DECIMAL(28,8))) AS clog
        |  FROM wc GROUP BY doc_id)
        |SELECT doc_id, n, n_distinct,
        | round(log2(CAST(n AS DOUBLE)), 8)
        |   - CAST(clog AS DOUBLE) / n AS entropy_bits
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_graph_bfs" ->
      """WITH RECURSIVE
        |li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_returnflag = 'R'),
        |half AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey),
        |e AS (SELECT u, v FROM half UNION ALL SELECT v, u FROM half),
        |walk(node, hop) AS (
        |  SELECT (SELECT min(u) FROM e), 0
        |  UNION
        |  SELECT e.v, walk.hop + 1 FROM walk JOIN e ON e.u = walk.node
        |  WHERE walk.hop < 4)
        |SELECT node, CAST(min(hop) AS BIGINT) AS hop
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    "q_agg_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sample_weighted" ->
      """WITH keyed AS (SELECT lang, doc_id,
        |  CAST(CAST(round(-ln((CAST((position(substr(md5(cast(doc_id AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1) * 4096
        |   + (position(substr(md5(cast(doc_id AS VARCHAR)), 2, 1) IN '0123456789abcdef') - 1) * 256
        |   + (position(substr(md5(cast(doc_id AS VARCHAR)), 3, 1) IN '0123456789abcdef') - 1) * 16
        |   + (position(substr(md5(cast(doc_id AS VARCHAR)), 4, 1) IN '0123456789abcdef') - 1)
        |   AS DOUBLE) + 0.5) / 65536.0), 8) AS DECIMAL(12,8)) AS DOUBLE) / n_chars AS k
        | FROM documents),
        |ranked AS (SELECT lang, doc_id, k,
        |  row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rk
        | FROM keyed)
        |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, k
        |FROM ranked WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    "q_ts_interp" ->
      """WITH hourly AS (SELECT user_id,
        |  date_trunc('hour', ts::TIMESTAMP) AS hour,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS hr_mean
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1,
        |   INTERVAL 1 HOUR)) AS hour
        | FROM (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |       FROM hourly GROUP BY user_id)),
        |j AS (SELECT g.user_id, g.hour, h.hr_mean,
        |  CAST(floor(epoch(g.hour) / 3600) AS BIGINT) AS hidx
        | FROM grid g LEFT JOIN hourly h
        |   ON g.user_id = h.user_id AND g.hour = h.hour),
        |w AS (SELECT user_id, hour, hr_mean, hidx,
        |  last_value(hr_mean IGNORE NULLS) OVER wp AS pv,
        |  last_value(CASE WHEN hr_mean IS NOT NULL THEN hidx END IGNORE NULLS)
        |    OVER wp AS ph,
        |  first_value(hr_mean IGNORE NULLS) OVER wn AS nv,
        |  first_value(CASE WHEN hr_mean IS NOT NULL THEN hidx END IGNORE NULLS)
        |    OVER wn AS nh
        | FROM j
        | WINDOW wp AS (PARTITION BY user_id ORDER BY hour
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        | wn AS (PARTITION BY user_id ORDER BY hour
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, hour, hr_mean AS observed,
        | CASE WHEN hr_mean IS NOT NULL THEN hr_mean
        |   WHEN pv IS NULL THEN nv
        |   WHEN nv IS NULL THEN pv
        |   ELSE pv + (nv - pv) * CAST(hidx - ph AS DOUBLE) / (nh - ph)
        |  END AS interp
        |FROM w ORDER BY user_id, hour""".stripMargin,
    "q_agg_skewkurt" ->
      """WITH b AS (SELECT event_type, CAST(value AS DECIMAL(10,4)) AS x,
        |  -- precision 19 operand forces DuckDB's int128 multiply path
        |  -- (narrower operands multiply in int64 raw and overflow);
        |  -- the VALUES are the same exact decimals Spark sums
        |  CAST(CAST(value AS DECIMAL(10,4)) * CAST(value AS DECIMAL(10,4))
        |    AS DECIMAL(19,8)) AS x2
        | FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |  CAST(sum(x) AS DOUBLE) AS s1,
        |  CAST(sum(x2) AS DOUBLE) AS s2,
        |  CAST(sum(CAST(x2 * x AS DECIMAL(26,12))) AS DOUBLE) AS s3,
        |  CAST(sum(CAST(x2 * x2 AS DECIMAL(38,16))) AS DOUBLE) AS s4
        | FROM b GROUP BY event_type),
        |c AS (SELECT event_type, n, s1 / n AS mu,
        |  s2 / n - (s1 / n) * (s1 / n) AS m2,
        |  s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |    + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |  s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |    + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |    - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        | FROM m)
        |SELECT event_type, n, round(mu, 6) AS mean,
        | round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
        | round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis
        |FROM c ORDER BY event_type""".stripMargin,
  )
}
