package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** Extended LLM-pipeline operators beyond SURVEY §2.9's core set: SimHash
  * and n-gram-Jaccard dedup, embedding-cosine near-dup (kNN join), IVF-style
  * partitioned ANN, language-ID, quality scoring, token counting, document
  * fingerprinting. Same scale stance as LlmOps: banded/blocked candidate
  * generation, no driver materialization, md5-only content hashing.
  */
object LlmOpsExt {

  private def toks(c: Column): Column = split(c, " ")

  // dot(a, b) comes from Util — the codegen'd DotProduct expression.

  private def emb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "embeddings")
      .select($"vec_id", $"label",
        // round 19: native array cast (see LlmOps.emb)
        $"embedding".cast("array<double>").as("emb"))
  }

  // ---------------------------------------------------------------- dedup

  /** SimHash dedup: 32-bit signature from tf-weighted md5-nibble votes
    * (bit b = sign of Σ ±1 over token OCCURRENCES — identical to Σ ±w over
    * distinct tokens with tf weight w), banded LSH on 2×16-bit signature
    * halves, Hamming ≤ 4 on the band-join candidates.
    *
    * Plan shape: one explode + ONE groupBy, with the 32 per-bit votes
    * PACKED four-per-long into 16-bit lanes, so the aggregation buffer is
    * 9 columns (8 packed sums + count) instead of the round-2 32
    * conditional sums — the measured cost there was whole-stage-codegen
    * compilation of the 32-column aggregate, not data work. Lane math:
    * a 0/1 vote per hex position; bit b set ⇔ Σvotes·2 > n (identical to
    * the ±1-sum sign). 16-bit lanes bound docs at ~32,767 tokens under
    * Spark 4's default ANSI mode: the lane-3 votes carry weight 2^48, so
    * the long SUM overflows (ANSI ArithmeticException) once n reaches
    * 2^15 — not the 65,535 the lane width alone suggests (that range is
    * only reachable with ANSI off, where the sign-bit wrap is benign
    * because extraction masks each lane with 0xFFFF). Longer docs at
    * 100 TB want 2 votes/long (32-bit lanes) — same shape, 16 sums. The
    * signature rides the band join as a bigint built by shifts,
    * so Hamming distance is a native bit_count(XOR), filtered BEFORE the
    * pair distinct so only near-dups reach the shuffle. */
  val qDedupSimhash: Q = (s, dir) => {
    import s.implicits._
    // 32-bit signature in one per-row pass via the codegen'd SimHashBits
    // kernel — per-token md5 votes (hex nibble high bit), majority per
    // bit, token multiplicity counted: integer sums in either order, so
    // bit-identical to the round-5 explode→packed-vote aggregation
    // (bit-parity proven in PropertySpec) with NO shuffle and no
    // 9-column vote buffer. The oracle replays the same votes in SQL.
    val sig = table(s, dir, "documents")
      .select($"doc_id", org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.SimHashBits(
          org.apache.spark.sql.graft.GraftSql.expression(toks($"text"))))
        .as("shl"))
      .transform(cached)
    val bands = sig.select($"doc_id", $"shl",
      explode(array(
        struct(lit(0).as("k"), shiftright($"shl", 16).as("bkey")),
        struct(lit(1).as("k"), $"shl".bitwiseAND(lit(0xFFFFL)).as("bkey")))).as("f"))
      .select($"doc_id", $"shl", $"f.k".as("k"), $"f.bkey".as("bkey"))
    bands.as("x").join(bands.as("y"),
        $"x.k" === $"y.k" && $"x.bkey" === $"y.bkey" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        bit_count($"x.shl".bitwiseXOR($"y.shl")).cast("long").as("hamming"))
      .filter($"hamming" <= 4)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  /** Character-5-gram Jaccard near-dup with prefix blocking: candidates
    * share md5(first 40 chars) — a cheap equality-blocked join (the planted
    * near-dups share a 60-char prefix) — then exact Jaccard ≥ 0.5. */
  val qDedupNgram: Q = (s, dir) => {
    import s.implicits._
    val d = table(s, dir, "documents")
    val block = d.select($"doc_id", md5(substring($"text", 1, 40)).as("bk"))
    val cands = block.as("x").join(block.as("y"),
        $"x.bk" === $"y.bk" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .transform(cached) // consumed by both candDocs legs and the intersection join
    // grams are only needed for docs that survived blocking (~10% of the
    // table) — semi-join before the expensive character-gram derivation
    val candDocs = cands.select($"doc_a".as("doc_id"))
      .unionAll(cands.select($"doc_b".as("doc_id"))).distinct()
    // round 20: per-doc DISTINCT gram SETS as one array via the native
    // DistinctCharGramsArray kernel (byte-identical gram strings to the
    // r19 CharGramGenerator explode + distinct; keepShort = true keeps the
    // sub-5-char-doc whole-text gram convention — parity pinned in
    // PropertySpec), intersected PER ROW with array_intersect — the
    // nearDupPairs verify discipline. The old shape exploded the grams,
    // distinct-shuffled the corpus-sized (doc, gram) table, then shuffled
    // it TWICE more through the ga.g = gb.g intersection join and the
    // pair-keyed count; the gram sets now ride the two candidate joins and
    // never hit an exchange (stage audit: 3 gram-table shuffles → 0).
    // |A∩B|, |A|, |B| over the same distinct sets ⇒ identical jaccard.
    // DistinctCharGramsArray maps NULL text to the EMPTY set, not NULL.
    // Safe here: a NULL text has a NULL blocking key, which joins nothing,
    // and the 0/0 of two empty sets is guarded below. A call site where
    // NULL must propagate needs a null-preserving form.
    val docg = cached(d.join(candDocs, Seq("doc_id"), "left_semi")
      .select($"doc_id",
        org.apache.spark.sql.graft.GraftSql.column(
          graft.functions.DistinctCharGramsArray(
            org.apache.spark.sql.graft.GraftSql.expression($"text"),
            5, keepShort = true)).as("gs")))
    cands
      .join(docg.select($"doc_id".as("doc_a"), $"gs".as("ga")), "doc_a")
      .join(docg.select($"doc_id".as("doc_b"), $"gs".as("gb")), "doc_b")
      .select($"doc_a", $"doc_b",
        size(array_intersect($"ga", $"gb")).cast("long").as("i"),
        (size($"ga") + size($"gb")).cast("long").as("nn"))
      // NULL-text docs have EMPTY gram sets (the explode form emitted no
      // row and the inner gram join dropped their pairs): guard the 0/0
      // and let the >= 0.5 filter drop them, same output either way
      .select($"doc_a", $"doc_b",
        round(when($"nn" - $"i" > 0,
          $"i".cast("double") / ($"nn" - $"i").cast("double")), 6).as("jac"))
      .filter($"jac" >= 0.5)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Embedding-cosine near-dup as a label-blocked kNN self-join: nearest
    * same-label neighbor per vector + threshold flag. Blocking by cluster
    * label is the IVF idea applied to dedup — at 100 TB the per-label
    * partitions join independently instead of an all-pairs cross product. */
  val qDedupEmbed: Q = (s, dir) => {
    import s.implicits._
    val e = emb(s, dir)
    val scored = e.as("a").join(e.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("vec_id"), $"b.vec_id".as("neighbor_id"),
        round(dot($"a.emb", $"b.emb"), 4).as("score"))
    val w = Window.partitionBy($"vec_id").orderBy($"score".desc, $"neighbor_id")
    scored.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"vec_id", $"neighbor_id", $"score",
        ($"score" >= 0.95).as("is_near_dup"))
      .orderBy($"vec_id")
  }

  /** Embedding near-dup, bucketed ANN variant: random-hyperplane LSH inside
    * label blocks — the 100 TB answer to qDedupEmbed's O(n²/L) within-label
    * all-pairs. 96 seeded ±1 hyperplanes → 96-bit signature per vector →
    * 24 bands × 4 bits; candidates come from equality joins on
    * (label, band, band-key) — the same band-join machinery as q_dedup_near
    * — then exact cosine scores only the candidates, top-1 per vector.
    *
    * Oracle-exempt (like q_agg_hll): lossless blocking cannot preserve
    * exact top-1 semantics; LlmOpsExtSpec asserts recall ≥ 0.9 against the
    * exact kNN instead. Parameter note: 4-bit bands suit THIS fixture,
    * whose nearest neighbors are weak (median cos ≈ 0.33 — near random, so
    * pruning is modest); a genuine near-dup workload (cos ≥ 0.95) wants
    * 8-bit bands, where random pairs collide at only ~6% while true
    * near-dups still hit ≥ 0.9⁸ per band. */
  val qDedupEmbedLsh: Q = (s, dir) => {
    import s.implicits._
    // Deterministic hyperplanes (seeded driver-side, shipped as literals —
    // no Math.random in any task, bit-identical across runs/partitions).
    val rnd = new scala.util.Random(42)
    val planes: Seq[Seq[Double]] =
      Seq.fill(96)(Seq.fill(64)(if (rnd.nextBoolean()) 1.0 else -1.0))
    val e = emb(s, dir)
    // Signature: ONE per-row HOF over the planes literal. Profiled against
    // both a 96-way unrolled dot-product projection and a posexplode ×
    // broadcast-plane-table matrix multiply: the HOF computes all 2000×96
    // dots in 0.08s — these queries are dominated by one-time codegen
    // compilation, so the smallest expression tree / fewest stages wins,
    // and the matrix-multiply's extra join+aggs benched 3× slower cold.
    // signatures cached at n rows (the expensive 96-dot projection runs
    // once); each join side re-derives its 24x band explode from the
    // cache — explode is free next to the projection
    val sig = cached(e.withColumn("sig",
      array_join(transform(typedlit(planes), p =>
        when(dot($"emb", p) >= 0, "1").otherwise("0")), "")))
    // The canonical distributed LSH-join shape (round 16): the band rows
    // CARRY their embedding through the one (label, band, bkey) equality
    // exchange — 24x-replicated vectors, linear in the corpus — so the
    // cosine scores map-side on the joined row and the top-1 per vector
    // is a single max(struct) aggregation (band-duplicate candidate
    // pairs collapse in the same agg; ties break to the smallest
    // neighbor via the negated id). The r15 form shuffled a narrow band
    // table, then paid candidate DISTINCT + two endpoint-fetch joins +
    // a row_number window — five corpus-candidate-sized exchanges where
    // this needs two (measured 7.0s -> ~2s at sf0.1, same result).
    def bands(alias: String) = sig.select($"vec_id", $"label", $"emb",
        explode(array((0 until 24).map(b =>
          struct(lit(b).as("band"), substring($"sig", b * 4 + 1, 4).as("bkey"))): _*)).as("f"))
      .select($"vec_id", $"label", $"emb",
        $"f.band".as("band"), $"f.bkey".as("bkey"))
      .as(alias)
    bands("x").join(bands("y"),
        $"x.label" === $"y.label" && $"x.band" === $"y.band" &&
          $"x.bkey" === $"y.bkey" && $"x.vec_id" =!= $"y.vec_id")
      .select($"x.vec_id".as("vec_id"), $"y.vec_id".as("neighbor_id"),
        round(dot($"x.emb", $"y.emb"), 4).as("score"))
      .groupBy($"vec_id")
      .agg(max(struct($"score", (-$"neighbor_id").as("negn"))).as("m"))
      .select($"vec_id", (-$"m.negn").as("neighbor_id"),
        $"m.score".as("score"), ($"m.score" >= 0.95).as("is_near_dup"))
      .orderBy($"vec_id")
  }

  // ------------------------------------------------------------------- ANN

  /** Exact per-label centroids: posexplode → per-dimension decimal-summed
    * mean (order-independent) → re-collected dense array. ONE copy of
    * the math serves every IVF-family build — the frozen-centroid
    * assignment rule and each probe's coarse-ranking rule must be the
    * SAME rule, which this sharing guarantees (r19 review: four drifting
    * copies). posexplode + re-collect over 64 agg columns in one groupBy:
    * the wide form looked cheaper on paper (fewer shuffles) but blows up
    * whole-stage codegen compile time (64 decimal aggregates) and benched
    * slower — the narrow-row explode wins. */
  private def centroidsOf(e: DataFrame): DataFrame = {
    import e.sparkSession.implicits._
    e.select($"label", posexplode($"emb").as(Seq("pos", "v")))
      .groupBy($"label", $"pos")
      .agg((sum($"v".cast("decimal(18,8)")).cast("double") / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(transform(array_sort(collect_list(struct($"pos", $"c"))),
        x => x.getField("c")).as("cent"))
  }

  /** IVF-style ANN: exact per-label centroids (see [[centroidsOf]]),
    * probe → top-2 nearest partitions → search only those partitions.
    * The scale path vs q_sim_topk's brute force: nprobe/nlist of the
    * work per query. */
  val qSimIvf: Q = (s, dir) => {
    import s.implicits._
    val e = emb(s, dir)
    val cent = centroidsOf(e)
    val probes = e.orderBy($"vec_id").limit(10)
      .select($"vec_id".as("probe_id"), $"emb".as("pemb"))
    val wl = Window.partitionBy($"probe_id").orderBy($"cscore".desc, $"label")
    val top2 = probes.crossJoin(broadcast(cent))
      .select($"probe_id", $"pemb", $"label",
        round(dot($"pemb", $"cent"), 6).as("cscore"))
      .withColumn("lrn", row_number().over(wl))
      .filter($"lrn" <= 2)
      .select($"probe_id", $"pemb", $"label")
    val wv = Window.partitionBy($"probe_id").orderBy($"score".desc, $"neighbor_id")
    top2.join(e, Seq("label"))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id".as("neighbor_id"),
        round(dot($"pemb", $"emb"), 4).as("score"))
      .withColumn("rn", row_number().over(wv).cast("long"))
      .filter($"rn" <= 5)
      .orderBy($"probe_id", $"rn")
  }

  /** STORED IVF INDEX (round 8) — q_sim_ivf with the index as TABLES
    * instead of a per-query recomputation, the q_pipeline_incr_stored
    * pattern applied to ANN: the centroid sidecar (nlist rows of one
    * 64-d array each) and the vectors CLUSTERED by cell land in
    * GraftStore once at build time; a probe then (1) broadcasts the
    * tiny centroid table, ranks cells, keeps nprobe=2, and (2) joins
    * the winners against the vector table on the cell key — which the
    * store's runtime CLUSTER-KEY pruning turns into planning-time file
    * skipping: the clustered write single-values `label` per file, the
    * scan advertises it for runtime filtering, Spark delivers the ≤
    * probes·nprobe surviving cells as an IN list, and only those cells'
    * files are read (asserted in GraftStoreSpec). At 100 TB this is the
    * real IVF economics — index build amortized across queries, probe
    * cost ∝ nprobe/nlist of the corpus in actual bytes-from-storage,
    * not just in rows-after-filter. Centroids are the same exact
    * decimal-summed means as q_sim_ivf (double roundtrip through the
    * store is bit-exact), so the results — and the oracle — are
    * identical. */
  val qSimIvfStored: Q = (s, dir) => {
    import s.implicits._
    val (vecPath, centPath) = Util.staged(s, dir, "ivf_stored") {
      val root = Util.managedTempDir("graft_ivf_vec_")
      val cd = Util.managedTempDir("graft_ivf_cent_")
      val e = emb(s, dir)
      // vectors PARTITIONED BY cell: per-value file rolling single-
      // values `label` per file, which is what the scan's cluster-like
      // detection needs to advertise it for runtime pruning
      val s2 = Util.child(s, Map("givf" -> root))
      emb(s2, dir).createOrReplaceTempView("ivf_vecs")
      s2.sql(
        """CREATE TABLE givf.v PARTITIONED BY (label) AS
          |SELECT vec_id, label, emb FROM ivf_vecs""".stripMargin)
      val vd = s"$root/v"
      centroidsOf(e)
        .repartition(1)
        .write.format("graft.sources.GraftStore").option("path", cd)
        .mode("overwrite").save()
      (vd, cd)
    }
    val vecs = s.read.format("graft.sources.GraftStore")
      .option("path", vecPath).load()
    val cent = s.read.format("graft.sources.GraftStore")
      .option("path", centPath).load()
    val probes = emb(s, dir).orderBy($"vec_id").limit(10)
      .select($"vec_id".as("probe_id"), $"emb".as("pemb"))
    val wl = Window.partitionBy($"probe_id").orderBy($"cscore".desc, $"label")
    val top2 = probes.crossJoin(broadcast(cent))
      .select($"probe_id", $"pemb", $"label",
        round(dot($"pemb", $"cent"), 6).as("cscore"))
      .withColumn("lrn", row_number().over(wl))
      .filter($"lrn" <= 2)
      .select($"probe_id", $"pemb", $"label")
    val wv = Window.partitionBy($"probe_id").orderBy($"score".desc, $"neighbor_id")
    // TWO-PHASE probe, the control plane every IVF service runs: the
    // surviving cell ids (≤ probes·nprobe values — metadata by
    // construction, like the compaction bins) come to the driver and
    // re-enter as a LITERAL IN predicate, which the manifest's
    // min==max-per-file stats prune at PLANNING time — only the probed
    // cells' files are read, asserted below and in GraftStoreSpec. The
    // join-driven alternative (runtime cluster-key pruning, also in
    // GraftStoreSpec) stays correct here but degrades to reading every
    // cell: Spark's adaptive DPP only reuses a broadcast whose build
    // side has no nested stages, and the probe subtree has one. The
    // literal predicate is deterministic and shape-independent.
    val cells = top2.select($"label").distinct().collect().map(_.getInt(0))
    broadcast(top2).join(
        vecs.filter($"label".isin(cells.toSeq: _*)), Seq("label"))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id".as("neighbor_id"),
        round(dot($"pemb", $"emb"), 4).as("score"))
      .withColumn("rn", row_number().over(wv).cast("long"))
      .filter($"rn" <= 5)
      .orderBy($"probe_id", $"rn")
  }

  /** Corpus bigram LM scoring: P(w2|w1) = c(w1,w2)/c(w1·) estimated from
    * the corpus itself, per-doc mean NLL over its adjacent-token bigrams —
    * the stronger fluency filter next to q_text_unigram_lm (a doc of
    * common words in an improbable ORDER scores badly here but fine
    * there). No smoothing needed: the model is fit on the scored corpus,
    * so every observed bigram has c12 ≥ 1. Unlike the unigram model the
    * bigram table does NOT broadcast at 100 TB (vocab² rows) — the score
    * join is a plain shuffle join on (w1,w2), which is the honest shape.
    * NLLs are decimal-summed so the per-doc mean is order-independent. */
  /** Shared bigram front end (round 20): ONE pass over the raw bigram
    * stream into per-(doc, w1, w2) counts, cached at TYPE granularity.
    * The round-19 shape cached the per-OCCURRENCE bigram rows and read
    * them twice (model counts + scoring join) — a corpus-sized
    * InMemoryRelation whose columnar build/decompress dominated the
    * subtree's task time (r20 stage audit: 17 s task CPU at sf0.1) and
    * whose footprint grows with the corpus, competing with execution
    * memory at scale (guide §5). The per-doc count table is what both
    * consumers actually need: model counts fold from it map-side
    * (sum(c) ≡ count over occurrences), and per-doc NLL totals are
    * sum(nll·c) with c cast decimal(10,0) so the product keeps scale 8
    * exactly (a bare long multiply hits the decimal-38 cap and
    * TRUNCATES — caught by the A/B parity gate). Bigrams still come
    * from the native WordPairGenerator (round 19, parity-pinned). */
  private def bigramDocCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bigrams2", exprs => WordPairGenerator(exprs.head), "scala_udf")
    cached(spread(table(s, dir, "documents"))
      .selectExpr("doc_id", "bigrams2(text) AS (w1, w2)")
      .groupBy($"doc_id", $"w1", $"w2").agg(count(lit(1)).as("c")))
  }

  /** Vocab²-bounded NLL model from the per-doc count table (MBs at any
    * corpus scale — broadcast back onto the corpus, never shuffle the
    * corpus on the pair key). */
  private def bigramModel(bigDoc: DataFrame): DataFrame = {
    val s = bigDoc.sparkSession
    import s.implicits._
    val cnt = bigDoc.groupBy($"w1", $"w2").agg(sum($"c").as("c12"))
    val ctx = cnt.groupBy($"w1").agg(sum($"c12").as("c1"))
    cnt.join(ctx, "w1")
      .select($"w1", $"w2",
        round(-log($"c12".cast("double") / $"c1"), 8)
          .cast("decimal(18,8)").as("nll"))
  }

  val qTextBigramLm: Q = (s, dir) => {
    import s.implicits._
    val bigDoc = bigramDocCounts(s, dir)
    bigDoc.join(broadcast(bigramModel(bigDoc)), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg((sum($"nll" * $"c".cast("decimal(10,0)")).cast("double") /
        sum($"c")).as("avg_nll"),
        sum($"c").as("n_bigrams"))
      .orderBy($"doc_id")
  }

  /** CCNet-style PERPLEXITY GATE (round 7) — the composition the two LM
    * scores exist for: fit the bigram LM on the corpus, score every doc's
    * mean NLL, keep the most-fluent 70% by GLOBAL rank, and report the
    * surviving mass per language. The global ranking is the scale trap —
    * `row_number() OVER (ORDER BY avg_nll)` is one task sorting the
    * whole corpus — so the rank runs through the two-phase DistRank
    * kernel (range-sliced local ranks + broadcast offsets; the plain
    * window form stays as the oracle, the q_join_salted precedent). The
    * gate itself is integer-exact: keep iff rn·10 ≤ n_docs·7 — no
    * float threshold to disagree on. Determinism: per-doc NLL totals
    * stay DECIMAL end-to-end (the double avg is used only for ORDERING,
    * where bit-identical inputs give identical order); survivors'
    * decimal totals sum exactly in any partition order. At 100 TB this
    * is the standard corpus-quality pass: LM fit, score, quantile gate —
    * all shuffle-bounded, no driver materialization, no single-task
    * sort. */
  val qCuratePerplexity: Q = (s, dir) => {
    import s.implicits._
    val d = table(s, dir, "documents")
    // shared single-pass bigram front end (round 20) — see
    // bigramDocCounts; tot_nll = sum(nll·c) cast back to the old
    // sum-of-occurrences type decimal(28,8) so every downstream value
    // (ordering double, survivor decimal totals) is bit-identical
    val bigDoc = bigramDocCounts(s, dir)
    val scored = bigDoc.join(broadcast(bigramModel(bigDoc)), Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(sum($"nll" * $"c".cast("decimal(10,0)"))
        .cast("decimal(28,8)").as("tot_nll"),
        sum($"c").as("n_bigrams"))
      .withColumn("avg_nll", $"tot_nll".cast("double") / $"n_bigrams")
      .join(d.select($"doc_id", $"lang"), "doc_id")
    DistRank.rowNumberInGroup(scored, Seq.empty,
        Seq($"avg_nll", $"doc_id"), $"avg_nll", "rn", Some("n_docs"))
      .filter($"rn" * 10 <= $"n_docs" * 7)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"),
        sum($"n_bigrams").as("sum_bigrams"),
        sum($"tot_nll").cast("double").as("sum_nll"))
      .orderBy($"lang")
  }

  /** PMI collocation mining — the corpus-analysis staple next to the two
    * LM scores: rank adjacent-word pairs by pointwise mutual information
    * pmi(w1,w2) = ln( p(w1,w2) / (p(w1)·p(w2)) ), with pair probability
    * from bigram counts over NB bigrams and word probabilities from
    * unigram counts over NT tokens, gated at c12 ≥ 5 (the classic
    * min-count guard against one-off pairs dominating). Shapes for
    * 100 TB: both count aggregations are partial-agg friendly; the score
    * join broadcasts the VOCAB-sized unigram table onto the bigram table
    * twice (the unigram-LM precedent) — never the reverse; top-100 is
    * TakeOrderedAndProject, no global sort. Determinism: counts are
    * BIGINT; the pmi operand is one double expression with identical
    * association on both engines (products < 2^53 only AFTER the single
    * divide, so each step is same-rounded IEEE), and ln is rounded 6dp —
    * output stays DOUBLE (hash-safe; decimal outputs fail the driver's
    * hash gate, round-9 verdict), deliberately looser than the 8dp libm-parity
    * convention after a driver-stack DuckDB produced a differently-
    * rounded ln at the 8dp boundary (round-7 hash-fail): a 1-ulp libm
    * divergence cannot move a value across a 5e-7 rounding boundary. */
  val qTextCollocations: Q = (s, dir) => {
    import s.implicits._
    // NO spread here: the token subtree feeds FOUR legs (uni, bi, two
    // totals aggregates), so a repartition shuffle is paid once per leg
    // while the amplification it would parallelize is tiny — r14
    // measured the spread variant 2.1× slower (0.46 -> 0.96 s)
    val tok = table(s, dir, "documents")
      .select(toks($"text").as("ws"))
    val uni = tok.select(explode($"ws").as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
    // native bigram generator (over text — it tokenizes itself with
    // split(" ",-1) semantics) — same rationale + parity pin as the
    // bigram LM
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bigrams2", exprs => WordPairGenerator(exprs.head), "scala_udf")
    val bi = table(s, dir, "documents")
      .selectExpr("bigrams2(text) AS (w1, w2)")
      .groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c12"))
    val totals = uni.agg(sum($"c").as("nt"))
      .crossJoin(bi.agg(sum($"c12").as("nb")))
    bi.filter($"c12" >= 5)
      .join(broadcast(uni.select($"w".as("w1"), $"c".as("c1"))), "w1")
      .join(broadcast(uni.select($"w".as("w2"), $"c".as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .select($"w1", $"w2", $"c12", $"c1", $"c2",
        round(log(($"c12".cast("double") * $"nt" * $"nt") /
          ($"nb".cast("double") * $"c1" * $"c2")), 6).as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(100)
  }

  /** Scalar-quantized (int8) similarity search: each vector compressed to
    * integer codes in [-127,127] with a per-vector max-abs scale, top-k
    * cosine computed ON the quantized codes and de-scaled. The
    * memory-bandwidth lever for brute-force ANN at 100 TB: 4× fewer bytes
    * scanned per probe than float32 (int8 is how FAISS/ScaNN store flat
    * indexes). All math is exact in doubles (integer products ≪ 2^53) and
    * the codes are a pure per-row function, so — unlike kmeans codebooks —
    * this quantization IS oracle-checkable; CurationSpec additionally
    * bounds recall vs the exact float top-k. Codes ride the codegen'd
    * dot_product expression after an int→double transform. */
  val qSimQuantized: Q = (s, dir) => {
    import s.implicits._
    val q = emb(s, dir)
      .select($"vec_id",
        greatest(array_max(transform($"emb", x => abs(x))), lit(1e-12)).as("scale"),
        $"emb")
      .select($"vec_id", $"scale",
        transform($"emb", x => round(x / $"scale" * 127, 0)).as("qv"))
    val probes = q.orderBy($"vec_id").limit(10)
      .select($"vec_id".as("probe_id"), $"scale".as("ps"), $"qv".as("pq"))
    val scored = q.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id".as("neighbor_id"),
        round(dot($"pq", $"qv") * $"ps" * $"scale" / lit(127.0 * 127.0), 4)
          .as("score"))
    val w = Window.partitionBy($"probe_id").orderBy($"score".desc, $"neighbor_id")
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .orderBy($"probe_id", $"rn")
  }

  /** Product quantization (PQ) similarity search — the codebook
    * compression used by FAISS-style indexes at 100 TB: each vector is
    * stored as m=4 int codes (one per 16-d subspace, k=16 centroids
    * each → 16 bits/vector, 128× smaller than float32; int8 scalar
    * quantization above is only 4×). Codebooks are per-subspace MLlib
    * KMeans fits (seeded); scoring is ADC — each probe precomputes a
    * (m × k) lookup table of subspace dots ONCE, then every candidate
    * costs m table lookups instead of a 64-d dot product. The LUT and
    * codebooks travel as literals/broadcast; the corpus side only ships
    * its codes. Oracle-exempt like q_cluster_kmeans (float centroids are
    * engine/partitioning-specific); CurationSpec bounds reconstruction
    * distortion against the null model and pins structure. */
  /** Seeded per-subspace PQ codebook fits, shared by q_sim_pq and
    * q_sim_ivfpq. Codebooks train on a bounded deterministic sample,
    * single-partition: FAISS-style PQ training uses ~100k sampled
    * vectors regardless of corpus size — the fit is a constant-cost
    * model-estimation step, only encode/score scale with the corpus.
    * The m per-subspace fits are independent seeded jobs on the same
    * cached single-partition sample — run CONCURRENTLY (the scheduler
    * interleaves the jobs; results equal the sequential loop because
    * each fit is seeded and reads an immutable cache). Random init,
    * few iterations: k-means|| costs ~5 extra passes PER subspace fit,
    * and a PQ codebook only needs a decent quantizer, not a converged
    * clustering (measured 11.5s -> ~3s for the whole query). */
  private def pqCodebooks(s: SparkSession, dir: String,
      m: Int, sub: Int, k: Int): Seq[Seq[Seq[Double]]] =
    pqCodebooksOf(emb(s, dir), m, sub, k)

  /** PQ codebooks fit on an explicit training set — the incremental
    * index freezes a model trained on the PRE-GROWTH corpus, so the
    * training frame must be selectable, not hardwired to the table. */
  private def pqCodebooksOf(e: org.apache.spark.sql.DataFrame,
      m: Int, sub: Int, k: Int): Seq[Seq[Seq[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = e.orderBy(col("vec_id")).limit(100000)
      .coalesce(1).transform(cached)
    train.count() // materialize ONCE before the concurrent fits share it
    val pool = java.util.concurrent.Executors.newFixedThreadPool(m)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fits = (0 until m).map { j =>
        scala.concurrent.Future {
          val sl = train.select(
            array_to_vector(slice(col("emb"), j * sub + 1, sub)).as("features"))
          new KMeans().setK(k).setSeed(11L + j).setMaxIter(4)
            .setInitMode("random")
            .setFeaturesCol("features").fit(sl)
            .clusterCenters.map(_.toArray.toSeq).toSeq
        }
      }
      fits.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  val qSimPq: Q = (s, dir) => {
    import s.implicits._
    val m = 4; val sub = 16; val k = 16
    val e = emb(s, dir)
    val cbs = pqCodebooks(s, dir, m, sub, k)
    val cb = typedlit(cbs) // m × k × sub literal (probe LUT construction)
    // encode: code_j = argmin_c ||slice_j - cb[j][c]||², computed as
    // argmin_c (-2·a·c + |c|²) — the |a|² term is constant per row, so the
    // argmin is identical, and the dot products ride the tight-loop
    // DotProduct expression instead of an interpreted zip_with+aggregate
    // lambda (HOF lambda bodies don't codegen; the custom expression's
    // eval is still one fused Java loop). argmin via array_position of
    // the min — the min is compared against itself, so double equality
    // is exact.
    val coded = e.select($"vec_id",
      pqEncodeExpr($"emb", cbs, m, sub).as("codes")) // 1-based positions into cb[j]
    // ADC: per probe, LUT[j][c] = dot(probe_slice_j, cb[j][c])
    val probesLut = e.orderBy($"vec_id").limit(10)
      .select($"vec_id".as("probe_id"), $"emb".as("pemb"))
      .select($"probe_id",
        transform(sequence(lit(0), lit(m - 1)), j =>
          transform(element_at(cb, j + 1),
            c => dot(slice($"pemb", j * lit(sub) + 1, lit(sub)), c)))
          .as("lut"))
    val scored = coded.select($"vec_id", $"codes")
      .crossJoin(broadcast(probesLut))
      .filter($"vec_id" =!= $"probe_id")
      .select($"probe_id", $"vec_id".as("neighbor_id"),
        // round 19: native AdcSum — same left-to-right fold as the
        // aggregate(zip_with(...element_at...)) HOF (pinned in
        // PropertySpec)
        round(org.apache.spark.sql.graft.GraftSql.column(
          graft.functions.AdcSum(
            org.apache.spark.sql.graft.GraftSql.expression($"lut"),
            org.apache.spark.sql.graft.GraftSql.expression($"codes"))),
          4).as("score"))
    val w = Window.partitionBy($"probe_id").orderBy($"score".desc, $"neighbor_id")
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .orderBy($"probe_id", $"rn")
  }

  /** PQ encode expression: m int codes (1-based positions into cb[j])
    * for `embCol` under the frozen codebook literal `cbl` — code_j =
    * argmin_c ||slice_j − cb[j][c]||², computed as argmin_c (−2·a·c +
    * |c|²) (the |a|² term is per-row constant, so the argmin is
    * identical, and the dot products ride the codegen'd DotProduct
    * expression). Shared by q_sim_pq, q_sim_ivfpq, and the incremental
    * index's frozen-codebook append encode. */
  private def pqEncodeExpr(embCol: Column, cbs: Seq[Seq[Seq[Double]]],
      m: Int, sub: Int): Column = {
    // Round 19 (optimization): native PqEncode expression — the nested
    // transform/array_position HOF chain it replaces ran interpreted per
    // codeword per row (m × k lambda walks each); arithmetic and the
    // first-min argmin are replicated bit-exactly (pinned in
    // PropertySpec), so encodes — and therefore every staged code table
    // and recall pin — are unchanged. m is carried by the codebook.
    require(cbs.length == m, s"codebook has ${cbs.length} subspaces, want $m")
    org.apache.spark.sql.graft.GraftSql.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.graft.GraftSql.expression(embCol), cbs, sub))
  }

  /** IVF+PQ composed — the production FAISS `IVFx,PQy` layout (round 18,
    * verdict item 6), with the index STAGED the way a production service
    * runs it (the q_sim_ivf_stored precedent): the PQ codebooks and the
    * per-label centroids are fit once per (session, corpus); every
    * vector is encoded once into m=4 int codes and lands in a GraftStore
    * table PARTITIONED BY cell. A probe then (1) broadcasts the tiny
    * centroid table and keeps nprobe=2 cells, (2) ADC-scores ONLY those
    * cells' code rows — the literal cell IN-list prunes whole files at
    * planning time via the store's single-valued-per-file stats, so
    * bytes-from-storage ∝ nprobe/nlist of the CODES (128× smaller than
    * float32) — and (3) exactly RE-RANKS the ADC top-32 against fetched
    * float vectors (float I/O ∝ the re-rank budget only). Oracle-exempt
    * like its two halves (kmeans codebooks are engine-specific);
    * CurationSpec pins recall@5 ≥ the PQ floor at nprobe=2 and that
    * every returned score equals the brute-force scan's exact cosine. */
  val qSimIvfPq: Q = (s, dir) => {
    import s.implicits._
    val m = 4; val sub = 16; val k = 16
    val (codesPath, centPath, codebooks) = Util.staged(s, dir, "ivfpq") {
      val root = Util.managedTempDir("graft_ivfpq_codes_")
      val cd = Util.managedTempDir("graft_ivfpq_cent_")
      val cbs = pqCodebooks(s, dir, m, sub, k)
      // encode once: per-value file rolling single-values `label` per
      // file — the layout the probed-cell scan prunes on
      val s2 = Util.child(s, Map("gipq" -> root))
      emb(s2, dir).select($"vec_id", $"label",
        pqEncodeExpr($"emb", cbs, m, sub).as("codes"))
        .createOrReplaceTempView("ivfpq_codes_src")
      s2.sql(
        """CREATE TABLE gipq.c PARTITIONED BY (label) AS
          |SELECT vec_id, label, codes FROM ivfpq_codes_src""".stripMargin)
      // exact per-label centroids (identical math to q_sim_ivf)
      centroidsOf(emb(s, dir))
        .repartition(1)
        .write.format("graft.sources.GraftStore").option("path", cd)
        .mode("overwrite").save()
      (s"$root/c", cd, cbs)
    }
    ivfPqProbe(s, dir, codesPath, centPath, codebooks)
  }

  /** The two-phase IVF+PQ probe over a staged (codes, centroids,
    * codebooks) index — shared by the from-scratch index, the
    * incrementally-grown index, and the spec's probe-equivalence proof:
    * (1) coarse-rank cells against the broadcast centroid table
    * (nprobe=2); (2) the surviving cell ids re-enter as a LITERAL IN
    * predicate, which the manifest's min==max-per-file stats prune at
    * planning time — only the probed cells' CODE files are read; (3)
    * ADC-score those cells' codes, keep the top-`cand`, and exactly
    * RE-RANK the shortlist against fetched float vectors (float I/O ∝
    * the re-rank budget only). */
  private[graft] def ivfPqProbe(s: SparkSession, dir: String,
      codesPath: String, centPath: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    import s.implicits._
    val m = 4; val sub = 16; val cand = 32
    val cb = typedlit(codebooks)
    val cent = s.read.format("graft.sources.GraftStore")
      .option("path", centPath).load()
    val coded = s.read.format("graft.sources.GraftStore")
      .option("path", codesPath).load()
    // probes: coarse-rank cells (nprobe=2) and precompute the ADC LUT
    val probes = emb(s, dir).orderBy($"vec_id").limit(10)
      .select($"vec_id".as("probe_id"), $"emb".as("pemb"))
      .transform(cached)
    val wl = Window.partitionBy($"probe_id").orderBy($"cscore".desc, $"label")
    val cells = probes.crossJoin(broadcast(cent))
      .select($"probe_id", $"label",
        round(dot($"pemb", $"cent"), 6).as("cscore"))
      .withColumn("lrn", row_number().over(wl))
      .filter($"lrn" <= 2)
      .select($"probe_id", $"label")
    val luts = probes.select($"probe_id",
      transform(sequence(lit(0), lit(m - 1)), j =>
        transform(element_at(cb, j + 1),
          c => dot(slice($"pemb", j * lit(sub) + 1, lit(sub)), c)))
        .as("lut"))
    val liveCells = cells.select($"label").distinct().collect().map(_.getInt(0))
    val wc = Window.partitionBy($"probe_id").orderBy($"adc".desc, $"neighbor_id")
    val shortlist = coded.filter($"label".isin(liveCells.toSeq: _*))
      .join(broadcast(cells), Seq("label"))
      .filter($"vec_id" =!= $"probe_id")
      .join(broadcast(luts), Seq("probe_id"))
      .select($"probe_id", $"vec_id".as("neighbor_id"),
        // round 19: native AdcSum (see q_sim_pq)
        org.apache.spark.sql.graft.GraftSql.column(
          graft.functions.AdcSum(
            org.apache.spark.sql.graft.GraftSql.expression($"lut"),
            org.apache.spark.sql.graft.GraftSql.expression($"codes")))
          .as("adc"))
      .withColumn("crn", row_number().over(wc))
      .filter($"crn" <= cand)
      .select($"probe_id", $"neighbor_id")
    // exact re-rank: fetch ONLY the shortlisted floats, score exactly
    val wv = Window.partitionBy($"probe_id").orderBy($"score".desc, $"neighbor_id")
    shortlist
      .join(emb(s, dir).select($"vec_id".as("neighbor_id"), $"emb"), Seq("neighbor_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select($"probe_id", $"neighbor_id",
        round(dot($"pemb", $"emb"), 4).as("score"))
      .withColumn("rn", row_number().over(wv).cast("long"))
      .filter($"rn" <= 5)
      .orderBy($"probe_id", $"rn")
  }

  /** The growth split shared by BOTH incremental index families (dense
    * IVF+PQ over vec_id, sparse postings over doc_id): id % 5 == 0 (20%
    * of the corpus) arrives AFTER the index was built — held out of
    * training and of the initial encode. The sparse oracle interpolates
    * the same constant, so retuning the split cannot drift the engines
    * apart. */
  private[graft] val IncrGrowthMod = 5

  /** INCREMENTAL ANN index maintenance (round 19, verdict item 1): a
    * 100 TB embedding corpus grows daily, and a full re-train +
    * re-encode per growth step is the plan you cannot run. Staging:
    *
    *  1. the index (PQ codebooks, per-label centroids, cell-partitioned
    *     GraftStore codes table) is built from the BASE corpus only
    *     (vec_id % 5 != 0) — the model is then FROZEN;
    *  2. the growth batch (vec_id % 5 == 0) is encoded with the frozen
    *     codebooks, assigned to a cell by NEAREST FROZEN CENTROID (new
    *     data's labels are unknown at ingest — this is the IVF
    *     assignment rule), and APPENDED into the existing cell
    *     partitions as one commit — the r18 append fast path makes the
    *     metadata cost ∝ the appended entries, and no codebook,
    *     centroid, or existing code row is touched.
    *
    * The probe path is [[ivfPqProbe]] verbatim, so old ∪ new flow
    * through one plan. CurationSpec pins (a) recall@5 over the GROWN
    * corpus ≥ the PQ floor, (b) the appended table's contents equal a
    * from-scratch re-encode under the same frozen model, row for row,
    * and (c) the probe output over both layouts is identical. */
  private[graft] def ivfPqIncrStaged(s: SparkSession, dir: String)
      : (String, String, Seq[Seq[Seq[Double]]]) =
    Util.staged(s, dir, "ivfpq_incr") {
      import s.implicits._
      val m = 4; val sub = 16; val k = 16
      val root = Util.managedTempDir("graft_ivfpqi_root_")
      val cd = Util.managedTempDir("graft_ivfpqi_cent_")
      val base = emb(s, dir).filter($"vec_id" % IncrGrowthMod =!= 0)
      // frozen model: codebooks AND per-label centroids fit on BASE only
      val cbs = pqCodebooksOf(base, m, sub, k)
      centroidsOf(base)
        .repartition(1)
        .write.format("graft.sources.GraftStore").option("path", cd)
        .mode("overwrite").save()
      val s2 = Util.child(s, Map("gipqi" -> root))
      emb(s2, dir).filter($"vec_id" % IncrGrowthMod =!= 0)
        .select($"vec_id", $"label", pqEncodeExpr($"emb", cbs, m, sub).as("codes"))
        .createOrReplaceTempView("ivfpqi_codes_src")
      s2.sql(
        """CREATE TABLE gipqi.c PARTITIONED BY (label) AS
          |SELECT vec_id, label, codes FROM ivfpqi_codes_src""".stripMargin)
      // GROWTH: frozen-model encode + nearest-centroid cell assignment,
      // appended into the existing cells — one commit, zero re-training
      ivfPqEncodeBatch(s2, dir, cd, cbs,
        emb(s2, dir).filter($"vec_id" % IncrGrowthMod === 0))
        .createOrReplaceTempView("ivfpqi_incr_src")
      s2.sql("INSERT INTO gipqi.c SELECT vec_id, label, codes FROM ivfpqi_incr_src")
      (s"$root/c", cd, cbs)
    }

  /** Frozen-model encode of a new batch: PQ codes from the frozen
    * codebooks, cell (`label` column) from the nearest frozen centroid
    * (ties broken by cell id — deterministic). */
  private def ivfPqEncodeBatch(s: SparkSession, dir: String,
      centPath: String, codebooks: Seq[Seq[Seq[Double]]],
      batch: DataFrame): DataFrame = {
    import s.implicits._
    val m = 4; val sub = 16
    val cent = s.read.format("graft.sources.GraftStore")
      .option("path", centPath).load()
      .select($"label".as("clabel"), $"cent")
    val wA = Window.partitionBy($"vec_id").orderBy($"cdot".desc, $"clabel")
    batch.crossJoin(broadcast(cent))
      .select($"vec_id", $"clabel", $"emb", dot($"emb", $"cent").as("cdot"))
      .withColumn("arn", row_number().over(wA))
      .filter($"arn" === 1)
      .select($"vec_id", $"clabel".as("label"),
        pqEncodeExpr($"emb", codebooks, m, sub).as("codes"))
  }

  /** The grown index's logical content, recomputed DIRECTLY from the
    * frozen staged model (no codes-table read): base rows encoded under
    * their labels ∪ the growth batch encoded/assigned by the frozen
    * model — what a from-scratch single write of the same corpus under
    * the same model would contain. The spec compares the appended
    * table's read-back against this, row for row. */
  private[graft] def ivfPqIncrLogical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, centPath, cbs) = ivfPqIncrStaged(s, dir)
    val m = 4; val sub = 16
    val base = emb(s, dir).filter($"vec_id" % IncrGrowthMod =!= 0)
      .select($"vec_id", $"label", pqEncodeExpr($"emb", cbs, m, sub).as("codes"))
    base.unionAll(ivfPqEncodeBatch(s, dir, centPath, cbs,
      emb(s, dir).filter($"vec_id" % IncrGrowthMod === 0)))
  }

  /** Probe the incrementally-grown index (the registry query). */
  val qSimIvfPqIncr: Q = (s, dir) => {
    val (codesPath, centPath, cbs) = ivfPqIncrStaged(s, dir)
    ivfPqProbe(s, dir, codesPath, centPath, cbs)
  }

  // --------------------------------------------------------- text analysis

  private val enStops = Seq("the", "a", "of", "to", "and", "in", "is")

  /** Heuristic language ID: English-stopword token ratio → en / other. */
  val qTextLangid: Q = (s, dir) => {
    import s.implicits._
    val ws = toks($"text")
    table(s, dir, "documents")
      .select($"doc_id", $"lang",
        round(size(filter(ws, w => w.isin(enStops: _*))).cast("double") /
          size(ws), 6).as("en_score"))
      .select($"doc_id", $"lang", $"en_score",
        when($"en_score" >= 0.05, "en").otherwise("other").as("pred"))
      .orderBy($"doc_id")
  }

  /** Quality scoring: token stats + stopword/digit ratios + composite. */
  val qTextQuality: Q = (s, dir) => {
    import s.implicits._
    val ws = toks($"text")
    table(s, dir, "documents")
      .select($"doc_id",
        length($"text").cast("long").as("n_chars_m"),
        size(ws).cast("long").as("n_tokens"),
        round(aggregate(transform(ws, w => length(w)), lit(0),
          (acc, v) => acc + v).cast("double") / size(ws), 4).as("avg_token_len"),
        round(size(filter(ws, w => w.isin(enStops: _*))).cast("double") /
          size(ws), 4).as("stop_ratio"),
        round(length(regexp_replace($"text", "[^0-9]", "")).cast("double") /
          length($"text"), 4).as("digit_ratio"))
      .withColumn("quality",
        round((lit(1.0) - $"digit_ratio") *
          least($"n_tokens".cast("double") / 20.0, lit(1.0)), 4))
      .orderBy($"doc_id")
  }

  /** Token counting: whitespace tokens + a BPE-ish subword estimate
    * (⌈len/4⌉ chunks per word) + chars-per-token. */
  val qTextTokens: Q = (s, dir) => {
    import s.implicits._
    val ws = toks($"text")
    table(s, dir, "documents")
      .select($"doc_id",
        size(ws).cast("long").as("ws_tokens"),
        aggregate(transform(ws, w => ceil(length(w) / lit(4.0)).cast("int")),
          lit(0), (acc, v) => acc + v).cast("long").as("bpe_tokens"),
        round(length($"text").cast("double") / size(ws), 4).as("chars_per_token"))
      .orderBy($"doc_id")
  }

  /** Document fingerprint: min-md5 over char-8-gram windows (winnowing-style
    * rolling-window fingerprint) + distinct-gram cardinality. Pure per-row
    * array expressions — array_distinct + array_min(transform(.., md5))
    * replace the explode → global distinct → re-aggregate shape: zero
    * shuffle, stays in whole-stage codegen, embarrassingly parallel at
    * any scale. */
  val qTextFingerprint: Q = (s, dir) => {
    import s.implicits._
    val grams = array_distinct(
      transform(sequence(lit(1), greatest(length($"text") - 7, lit(1))),
        i => $"text".substr(i, lit(8))))
    table(s, dir, "documents")
      .select($"doc_id", grams.as("grams"))
      .select($"doc_id",
        array_min(transform($"grams", g => md5(g))).as("fp"),
        size($"grams").cast("long").as("n_grams"))
      .orderBy($"doc_id")
  }

  /** Corpus-level unigram language-model scoring: term probabilities from
    * the WHOLE corpus (the model), broadcast back onto every token, per-doc
    * mean negative log-likelihood. The training-data-filtering primitive a
    * per-row heuristic (q_text_quality) can't express — and the canonical
    * "small model built FROM the corpus, broadcast join back ONTO the
    * corpus" shape: at 100 TB the model is vocab-sized (MBs) while the scan
    * is petabytes, so the score pass is one broadcast hash join, no
    * shuffle. Parity: log rounded to 8dp before aggregation (the tfidf
    * convention) and decimal-summed so partial-aggregation order can't
    * move the double result. */
  val qTextUnigramLm: Q = (s, dir) => {
    import s.implicits._
    // the token explode feeds both the model counts and the scoring
    // join; r14 measured the CACHE of the exploded rows slower than
    // recomputing the cheap fused explode twice (0.25->0.53 s), and the
    // spread shuffle — paid once per leg — slower than the recompute it
    // parallelizes (0.25 -> 0.40 s): plain recompute per leg wins
    val tok = table(s, dir, "documents")
      .select($"doc_id", explode(toks($"text")).as("t"))
    val tf = tok.groupBy($"t").agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum($"c").as("n"))
    val model = tf.crossJoin(broadcast(tot))
      .select($"t",
        round(-log($"c".cast("double") / $"n"), 8)
          .cast("decimal(18,8)").as("nll"))
    tok.join(broadcast(model), "t")
      .groupBy($"doc_id")
      .agg((sum($"nll").cast("double") / count(lit(1))).as("avg_nll"),
        count(lit(1)).as("n_toks"))
      .orderBy($"doc_id")
  }

  /** Sparse-cosine all-pairs similarity with DOMINANT-TERM BLOCKING: the
    * text-side analogue of the embedding ANN family. TF-IDF sparse vectors
    * over the corpus vocabulary; candidate pairs must share their argmax
    * (top tf-idf) term — a deterministic blocking key that cuts the
    * all-pairs space by ~|vocab|× — then EXACT cosine on candidates only,
    * thresholded.
    *
    * Plan shape: one self-join on (top_term, term) — each posting list is
    * partitioned by the compound key, so the quadratic blow-up is bounded
    * per (block, term) cell rather than per term (this fixture's vocabulary
    * is 31 terms with df ≈ 0.8·N: plain inverted-index joins are O(|V|·N²),
    * the blocked join is O(|V|·(N/|V|)²·|V|) = O(N²) but with every cell
    * independently parallel and threshold-filtered before any wide row is
    * materialized). At 100 TB the blocking key would also be size-capped
    * (split blocks over a posting-length bound, the canopy/LSH discipline
    * q_dedup_embed_lsh uses); the join never materializes non-candidate
    * pairs, and weights/norms/dots are exact scaled INTEGERS (idf
    * quantized at 1e-4) so partial-aggregation order and cross-engine
    * decimal rounding rules can't move the hash — doubles appear only in
    * per-row IEEE-exact ops (convert-below-2^53, multiply, sqrt,
    * divide).
    *
    * ROUND 17: NOT REGISTERED. This uncapped form keeps the scale-hazard
    * shape — a stop-word-ish dominant term owns one unbounded (block,
    * term) hash build in one task — so the registry id q_sim_sparse now
    * points at the salted block-capped builder below (bit-identical
    * results; the r16 verdict's one `weak` item). This body remains as
    * the REFERENCE the PlanShapeSpec bit-identity proof compares the
    * salted split against, and as the documented contrast between the
    * works-at-sf0.1 plan and the works-at-100TB plan. */
  private[graft] val qSimSparseUncapped: Q = (s, dir) => {
    import s.implicits._
    val d = table(s, dir, "documents")
    val tf = spread(d).select($"doc_id", explode(toks($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    // cross-engine hash parity demands NO decimal downscales (Spark rounds
    // HALF_UP where DuckDB truncates) and NO big-decimal→double casts (not
    // correctly rounded identically): quantize the idf to an exact scaled
    // INTEGER (round(·,0) yields an integral double both engines agree on —
    // the 31 idf values sit ≥3e-3 from any .5 boundary), so weights, dots
    // and norms are exact int64 < 2^53 (exact in double), and the 10⁴
    // weight scale cancels between dot and √(ssq_a·ssq_b); the remaining
    // double ops (multiply, sqrt, divide, 6dp round) are IEEE-deterministic
    // dictionary-encode terms to LONG ids: the 10M+-row self-join below
    // then joins and aggregates on LONG keys, not strings (measurably
    // cheaper hash/compare in the hot stage). Ids are xxhash64(term) —
    // NOT row_number() over a no-partition window, which is a
    // single-task sort of the whole dictionary (fine at sf0.1, a
    // one-core stage over a billions-of-terms corpus vocabulary). A
    // 64-bit collision would silently merge two posting lists, so the
    // guard below fails the query loudly if any id is shared — a
    // vocab-sized distributed agg, no driver action
    // the id is a PURE PROJECTION in the hot path — no dictionary
    // shuffle at all (the old row_number dict was a single-task global
    // sort; a guard agg inlined here would recompute df once per plan
    // leg). The collision check runs ONCE, grafted onto the tiny final
    // result as a broadcast 1-row cross join (see `guard` below)
    val dict = df.select($"term", $"df", xxhash64($"term").as("tid"))
    val guard = dict.groupBy($"tid").agg(count(lit(1)).as("nt"))
      .agg(max($"nt").as("mx"))
      .select(when($"mx" <= 1, lit(1)).otherwise(raise_error(
        lit("term-id hash collision in sparse-sim dictionary"))
          .cast("int")).as("_guard"))
    // the weighted-postings subtree feeds FOUR plan legs (top, norm, and
    // both sides of the candidate self-join, which gets fresh attribute
    // ids so exchange reuse can never fire) — cache it once or pay the
    // explode+groupBy+joins four times (the r13 twice-consumed-subtree
    // class; measured ~2x this query's cost). `term` rides along ONLY
    // for the argmax tie-break (the oracle's ORDER BY w DESC, term) —
    // hashed tids are not order-isomorphic to terms like the old
    // row_number ids were
    val w = cached(tf.join(broadcast(dict), "term").crossJoin(broadcast(n))
      .select($"doc_id", $"tid", $"term",
        ($"tf" * round(log($"n_docs".cast("double") / $"df") * 10000, 0)
          .cast("long")).as("w")))
    val top = w.withColumn("rn",
        row_number().over(
          Window.partitionBy($"doc_id").orderBy($"w".desc, $"term")))
      .filter($"rn" === 1).select($"doc_id", $"tid".as("top_tid"))
    // physical shape: one self-join on (top_term, term) feeding a
    // pair-keyed partial aggregation — whole-stage-codegen'd end to end.
    // (A measured alternative — candidate pairs joined to broadcast
    // per-doc weight MAPS with a per-row aggregate() dot — was 2.5×
    // SLOWER: higher-order lambda evaluation doesn't codegen like the
    // relational join+agg, a reminder that "fewer shuffled rows" loses
    // to "stays inside codegen" at this fan-in.)
    val norm = w.groupBy($"doc_id").agg(sum($"w" * $"w").as("ssq"))
    val wt = cached(w.select($"doc_id", $"tid", $"w").join(top, "doc_id"))
    val dots = wt.as("a").join(wt.as("b"),
        $"a.top_tid" === $"b.top_tid" && $"a.tid" === $"b.tid" &&
          $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(sum($"a.w" * $"b.w").as("dot"))
    dots
      .join(norm.select($"doc_id".as("doc_a"), $"ssq".as("ssq_a")), "doc_a")
      .join(norm.select($"doc_id".as("doc_b"), $"ssq".as("ssq_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        // zero-norm docs (only corpus-universal terms -> every tf-idf
        // weight 0) are real at scale; ANSI mode makes the bare 0/0 an
        // error, so gate the divide — NULL cosine drops at the filter
        round(when(sqrt($"ssq_a".cast("double") * $"ssq_b".cast("double")) > 0.0,
          $"dot".cast("double") /
            sqrt($"ssq_a".cast("double") * $"ssq_b".cast("double"))), 6)
          .as("cosine"))
      .filter($"cosine" >= 0.9)
      .crossJoin(broadcast(guard)).drop("_guard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** q_sim_sparse with the BLOCK-SIZE CAP the 100 TB shape demands —
    * previously documented, now implemented: a dominant-term block is a
    * skew cell (a stop-word-ish argmax term can own a large fraction of
    * the corpus, so one (block, term) join cell serializes into one
    * task and one hash build). The cap splits every oversize block with
    * SALTED TRIANGULAR REPLICATION — the exact-preserving skew-join
    * discipline, not the approximate second-term canopy: the left
    * posting set takes a deterministic per-doc salt in [0, g) with
    * g = ceil(block/CAP), the right is replicated across all g salts,
    * and the equi-join gains the salt key. Every candidate pair (a<b)
    * still meets EXACTLY once (in a's salt cell), so results are
    * bit-identical to the uncapped query and the same DuckDB oracle
    * applies — but the biggest block now builds g bounded hash tables
    * in g parallel tasks instead of one unbounded one. Work stays
    * O(block²) (inherent to exact all-pairs); what the cap bounds is
    * per-task MEMORY and the critical path.
    *
    * ROUND 17: this is now the builder behind BOTH registry ids —
    * q_sim_sparse (the canonical default) and q_sim_sparse_capped (kept
    * for contract stability) — so the registry default has bounded
    * per-task builds. The uncapped shape survives only as
    * [[qSimSparseUncapped]] for the bit-identity spec. */
  val qSimSparseCapped: Q = (s, dir) => {
    import s.implicits._
    val Cap = 64L // posting-length bound per salt cell (fixture-sized; content-invariant)
    val d = table(s, dir, "documents")
    val tf = spread(d).select($"doc_id", explode(toks($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    // same hash-id dictionary + collision guard as q_sim_sparse (no
    // single-task dictionary sort); tie-break by term keeps oracle parity
    // the id is a PURE PROJECTION in the hot path — no dictionary
    // shuffle at all (the old row_number dict was a single-task global
    // sort; a guard agg inlined here would recompute df once per plan
    // leg). The collision check runs ONCE, grafted onto the tiny final
    // result as a broadcast 1-row cross join (see `guard` below)
    val dict = df.select($"term", $"df", xxhash64($"term").as("tid"))
    val guard = dict.groupBy($"tid").agg(count(lit(1)).as("nt"))
      .agg(max($"nt").as("mx"))
      .select(when($"mx" <= 1, lit(1)).otherwise(raise_error(
        lit("term-id hash collision in sparse-sim dictionary"))
          .cast("int")).as("_guard"))
    // NOTE: caching the NARROW postings (w) here measured SLOWER twice
    // (r14, with and without the spread): the replicate-and-join sides
    // fuse into whole-stage codegen straight off the exchange, and an
    // InMemoryTableScan in that position costs more than recomputing
    // the narrow subtree. The POST-JOIN wt below is different (r17
    // re-measure): it embeds the explode+groupBy+two-joins chain and
    // feeds BOTH salted self-join legs, so caching it saves a full
    // recomputation of the heaviest subtree — isolated min dropped
    // 2.2 -> 1.6-2.0 s at sf0.1 (box-noise bracketed, oracle and all
    // sparse pins unchanged)
    val w = tf.join(broadcast(dict), "term").crossJoin(broadcast(n))
      .select($"doc_id", $"tid", $"term",
        ($"tf" * round(log($"n_docs".cast("double") / $"df") * 10000, 0)
          .cast("long")).as("w"))
    // top and norm are DOC-sized (one row per doc) but each uncached
    // consumer leg re-derives the full postings subtree (corpus scan +
    // explode + tf/df aggregation): top feeds groups AND wt, norm feeds
    // BOTH cosine denominator legs — r20 plan audit counted the w
    // subtree rebuilt 5x per run. Caching the two doc-sized frames cuts
    // that to 2 evaluations for kilobytes per million docs of memory.
    val top = cached(w.withColumn("rn",
        row_number().over(
          Window.partitionBy($"doc_id").orderBy($"w".desc, $"term")))
      .filter($"rn" === 1).select($"doc_id", $"tid".as("top_tid")))
    // block sizes -> salt-group counts (tiny: one row per distinct
    // dominant term; broadcast back onto the postings)
    val groups = top.groupBy($"top_tid")
      .agg(ceil(count(lit(1)).cast("double") / Cap).cast("int").as("g"))
    val norm = cached(w.groupBy($"doc_id").agg(sum($"w" * $"w").as("ssq")))
    val wt = cached(w.select($"doc_id", $"tid", $"w").join(top, "doc_id")
      .join(broadcast(groups), "top_tid"))
    // left: one deterministic salt per doc; right: replicated to all g
    val a = wt.withColumn("salt",
      pmod(xxhash64($"doc_id"), $"g".cast("long")).cast("int"))
    val b = wt.withColumn("salt",
      explode(sequence(lit(0), $"g" - 1)))
    val dots = a.as("a").join(b.as("b"),
        $"a.top_tid" === $"b.top_tid" && $"a.salt" === $"b.salt" &&
          $"a.tid" === $"b.tid" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(sum($"a.w" * $"b.w").as("dot"))
    dots
      .join(norm.select($"doc_id".as("doc_a"), $"ssq".as("ssq_a")), "doc_a")
      .join(norm.select($"doc_id".as("doc_b"), $"ssq".as("ssq_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        // zero-norm docs (only corpus-universal terms -> every tf-idf
        // weight 0) are real at scale; ANSI mode makes the bare 0/0 an
        // error, so gate the divide — NULL cosine drops at the filter
        round(when(sqrt($"ssq_a".cast("double") * $"ssq_b".cast("double")) > 0.0,
          $"dot".cast("double") /
            sqrt($"ssq_a".cast("double") * $"ssq_b".cast("double"))), 6)
          .as("cosine"))
      .filter($"cosine" >= 0.9)
      .crossJoin(broadcast(guard)).drop("_guard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** SPARSE-SIM STORED INDEX (round 19, verdict item 6) — the tf-idf
    * postings staged the way the dense family already stages IVF/PQ
    * (q_sim_ivf_stored precedent): the whole build prefix — tokenize →
    * explode → tf/df aggregation → dominant-term argmax window → salt
    * groups — runs ONCE per (session, corpus) and lands in a GraftStore
    * table BUCKETED BY dominant-term block (`bucket(16, top_tid)`, the
    * vocab-cardinality-safe layout; identity-partitioning a vocabulary
    * would mint millions of cells), with each doc's squared norm
    * denormalized onto its posting rows. A probe is then a pruned scan
    * + the salted candidate join instead of rebuilding
    * explode→groupBy→two-joins per query; a
    * block-targeted probe additionally prunes whole files via the
    * `__bucket` pseudo-stats. The xxhash64 term-id collision guard runs
    * at BUILD time (loud failure aborts the staging, nothing is cached).
    * Weights stay exact scaled int64, so the staged probe is
    * BIT-IDENTICAL to the self-contained capped builder — same DuckDB
    * oracle, and PlanShapeSpec's salt + bit-identity pins hold
    * unchanged. */
  /** Per-salt-cell posting bound — the same Cap as the capped builder. */
  private val SparseCap = 64L

  /** THE frozen tf-idf weight — exact scaled int64. ONE definition serves
    * the base staging and the incremental batch encode, so the frozen-model
    * invariant (batch encoded with EXACTLY the base build's rule) cannot
    * drift between two hand-maintained copies. The self-contained capped/
    * uncapped builders keep their inline copy by design: they ARE the
    * reference the bit-identity pins compare to. */
  private def frozenSparseWeight(tf: Column, nDocs: Column, df: Column): Column =
    (tf * round(log(nDocs.cast("double") / df) * 10000, 0).cast("long")).as("w")

  /** Dominant-term argmax under frozen weights (highest w, term-asc
    * tie-break): (doc_id, tid, term, w, …) → (doc_id, top_tid). Shared by
    * the base staging and the batch encode for the same reason as the
    * weight formula. */
  private def dominantBlock(w: DataFrame): DataFrame =
    w.withColumn("rn",
        row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("w").desc, col("term"))))
      .filter(col("rn") === 1).select(col("doc_id"), col("tid").as("top_tid"))

  /** Shared base staging for the sparse index family: tokenize → tf/df →
    * hashed dictionary (collision guard fired HERE, loudly — nothing is
    * cached on failure) → frozen integer weights → dominant-term argmax →
    * salt groups → denormalized norms, then CTAS the postings into
    * `cat`.postings bucketed by block. Returns the (model = term/tid/df/
    * n_docs, groups = block/g) frames the incremental grower persists as
    * its frozen model. ONE copy of the weight formula serves both staged
    * indexes; the self-contained capped/uncapped builders keep theirs by
    * design (they ARE the reference the bit-identity pins compare to). */
  private def stageSparsePostings(s2: SparkSession, cat: String,
      docs: DataFrame): (DataFrame, DataFrame) = {
    import s2.implicits._
    val tf = spread(docs).select($"doc_id", explode(toks($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val dict = df.select($"term", $"df", xxhash64($"term").as("tid"))
    dict.groupBy($"tid").agg(count(lit(1)).as("nt"))
      .agg(max($"nt").as("mx"))
      .select(when($"mx" <= 1, lit(1)).otherwise(raise_error(
        lit("term-id hash collision in sparse-sim dictionary"))
          .cast("int")).as("_guard"))
      .head()
    val w = tf.join(broadcast(dict), "term").crossJoin(broadcast(n))
      .select($"doc_id", $"tid", $"term",
        frozenSparseWeight($"tf", $"n_docs", $"df"))
    val top = dominantBlock(w)
    val groups = top.groupBy($"top_tid")
      .agg(ceil(count(lit(1)).cast("double") / SparseCap).cast("int").as("g"))
    val norm = w.groupBy($"doc_id").agg(sum($"w" * $"w").as("ssq"))
    w.select($"doc_id", $"tid", $"w").join(top, "doc_id")
      .join(broadcast(groups), "top_tid")
      .join(norm, "doc_id")
      .createOrReplaceTempView(s"${cat}_postings_src")
    s2.sql(
      s"""CREATE TABLE $cat.postings PARTITIONED BY (bucket(16, top_tid)) AS
         |SELECT top_tid, doc_id, tid, w, g, ssq FROM ${cat}_postings_src""".stripMargin)
    (dict.crossJoin(broadcast(n)).select($"term", $"tid", $"df", $"n_docs"),
      groups)
  }

  private[graft] def sparseStagedIndex(s: SparkSession,
      dir: String): String =
    Util.staged(s, dir, "sparse_index") {
      val root = Util.managedTempDir("graft_sparse_idx_")
      val s2 = Util.child(s, Map("gsprs" -> root))
      stageSparsePostings(s2, "gsprs", table(s2, dir, "documents"))
      s"$root/postings"
    }

  /** q_sim_sparse as a PROBE over the staged index: read the bucketed
    * postings, salt, join, aggregate, normalize — no tokenize, no tf/df
    * shuffle, no argmax window in the per-query plan. Results are
    * bit-identical to [[qSimSparseCapped]] (and hence to the uncapped
    * reference and the DuckDB oracle). */
  val qSimSparseStored: Q = (s, dir) =>
    sparseProbe(s, sparseStagedIndex(s, dir))

  /** The probe over a staged postings table — shared by the from-scratch
    * index and the incrementally-grown one. */
  private def sparseProbe(s: SparkSession, pPath: String): DataFrame = {
    import s.implicits._
    val wt = s.read.format("graft.sources.GraftStore")
      .option("path", pPath).load()
    val a = wt.withColumn("salt",
      pmod(xxhash64($"doc_id"), $"g".cast("long")).cast("int"))
    val b = wt.withColumn("salt", explode(sequence(lit(0), $"g" - 1)))
    // ssq is a per-doc constant denormalized onto the postings, so it
    // joins the grouping key instead of costing two post-agg joins
    val dots = a.as("a").join(b.as("b"),
        $"a.top_tid" === $"b.top_tid" && $"a.salt" === $"b.salt" &&
          $"a.tid" === $"b.tid" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.ssq".as("ssq_a"), $"b.ssq".as("ssq_b"))
      .agg(sum($"a.w" * $"b.w").as("dot"))
    dots
      .select($"doc_a", $"doc_b",
        round(when(sqrt($"ssq_a".cast("double") * $"ssq_b".cast("double")) > 0.0,
          $"dot".cast("double") /
            sqrt($"ssq_a".cast("double") * $"ssq_b".cast("double"))), 6)
          .as("cosine"))
      .filter($"cosine" >= 0.9)
      .orderBy($"doc_a", $"doc_b")
  }

  /** INCREMENTAL SPARSE-INDEX MAINTENANCE (round 19) — the text-side
    * sibling of q_sim_ivfpq_incr: grow the staged postings index by a
    * document batch WITHOUT retraining the model. The frozen model here
    * is the idf table: the base corpus (doc_id % 5 != 0) is staged
    * exactly like [[sparseStagedIndex]], and its (term, tid, df,
    * n_docs) dictionary plus per-block salt-group sizes land beside the
    * postings as model tables. The batch (doc_id % 5 == 0) is then
    * encoded with the FROZEN idf — terms outside the base vocabulary
    * drop (no df, standard frozen-vocab behavior; a document with zero
    * known terms contributes no postings), dominant term and norms are
    * computed under frozen weights, and each appended row inherits its
    * block's BASE salt-group count — a block new in the batch instead
    * gets g sized from its own BATCH cardinality (ceil(count/Cap)), so
    * a boilerplate-heavy growth batch cannot recreate the unbounded
    * skew cell the cap exists to bound. Either way g is row-consistent
    * per block (base-block rows all carry the base g, new-block rows
    * all come from the batch), so every pair still meets exactly
    * once. The append is an ordinary GraftStore INSERT into the
    * bucketed postings table (the r18 append fast path keeps the
    * metadata cost ∝ the batch). Unlike the k-means family, the frozen
    * model is exact integer math end to end, so the grown probe is
    * FULLY oracle-checkable: DuckDB recomputes idf over the base subset
    * and scores old ∪ new pairs with it. */
  private[graft] def sparseIncrStagedIndex(s: SparkSession, dir: String): String =
    Util.staged(s, dir, "sparse_incr") {
      val root = Util.managedTempDir("graft_sparse_incr_")
      val s2 = Util.child(s, Map("gspri" -> root))
      import s2.implicits._
      val docs = table(s2, dir, "documents")
      // ---- base build: the shared staging, restricted to the base ----
      val (modelDf, groupsDf) =
        stageSparsePostings(s2, "gspri",
          docs.filter($"doc_id" % IncrGrowthMod =!= 0))
      // ---- frozen model staged beside the postings ----
      modelDf.createOrReplaceTempView("sparse_incr_model")
      s2.sql(
        """CREATE TABLE gspri.model AS
          |SELECT term, tid, df, n_docs FROM sparse_incr_model""".stripMargin)
      groupsDf.createOrReplaceTempView("sparse_incr_groups")
      s2.sql("CREATE TABLE gspri.groups AS SELECT top_tid, g FROM sparse_incr_groups")
      // ---- append the batch, encoded with the frozen model ----
      val model = s2.read.format("graft.sources.GraftStore")
        .option("path", s"$root/model").load()
      val baseG = s2.read.format("graft.sources.GraftStore")
        .option("path", s"$root/groups").load()
      val batch = docs.filter($"doc_id" % IncrGrowthMod === 0)
      val btf = spread(batch).select($"doc_id", explode(toks($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val bw = btf.join(broadcast(model), "term") // inner: frozen vocab
        .select($"doc_id", $"tid", $"term",
          frozenSparseWeight($"tf", $"n_docs", $"df"))
      val btop = dominantBlock(bw)
      // a block NEW in the batch gets g from its own batch cardinality —
      // g=1 would hand a boilerplate-dominant growth batch one unbounded
      // salt cell, the exact skew hazard the cap bounds (r19 review)
      val batchG = btop.groupBy($"top_tid")
        .agg(ceil(count(lit(1)).cast("double") / SparseCap).cast("int").as("bg"))
      val bssq = bw.groupBy($"doc_id").agg(sum($"w" * $"w").as("ssq"))
      bw.select($"doc_id", $"tid", $"w").join(btop, "doc_id")
        .join(broadcast(baseG), Seq("top_tid"), "left")
        .join(broadcast(batchG), Seq("top_tid"))
        .withColumn("g", coalesce($"g", $"bg")).drop("bg")
        .join(bssq, "doc_id")
        .createOrReplaceTempView("sparse_incr_batch")
      s2.sql(
        """INSERT INTO gspri.postings
          |SELECT top_tid, doc_id, tid, w, g, ssq FROM sparse_incr_batch""".stripMargin)
      s"$root/postings"
    }

  /** All-pairs probe over the incrementally-grown index: old ∪ new
    * documents under the frozen base-corpus idf. */
  val qSimSparseIncr: Q = (s, dir) =>
    sparseProbe(s, sparseIncrStagedIndex(s, dir))

  val queries: Map[String, Q] = Map(
    "q_sim_sparse" -> qSimSparseStored,
    "q_sim_sparse_incr" -> qSimSparseIncr,
    "q_sim_sparse_capped" -> qSimSparseCapped,
    "q_dedup_simhash" -> qDedupSimhash,
    "q_text_unigram_lm" -> qTextUnigramLm,
    "q_text_bigram_lm" -> qTextBigramLm,
    "q_curate_perplexity" -> qCuratePerplexity,
    "q_text_collocations" -> qTextCollocations,
    "q_dedup_ngram" -> qDedupNgram,
    "q_dedup_embed" -> qDedupEmbed,
    "q_dedup_embed_lsh" -> qDedupEmbedLsh,
    "q_sim_ivf" -> qSimIvf,
    "q_sim_ivf_stored" -> qSimIvfStored,
    "q_sim_quantized" -> qSimQuantized,
    "q_sim_pq" -> qSimPq,
    "q_sim_ivfpq" -> qSimIvfPq,
    "q_sim_ivfpq_incr" -> qSimIvfPqIncr,
    "q_text_langid" -> qTextLangid,
    "q_text_quality" -> qTextQuality,
    "q_text_tokens" -> qTextTokens,
    "q_text_fingerprint" -> qTextFingerprint,
  )

  val oracleSql: Map[String, String] = Map(
    // blocked candidates (shared argmax tf-idf term), exact cosine over
    // INTEGER-quantized weights (idf × 10⁴ rounded to an integer); all
    // sums exact int64 < 2^53, doubles only in IEEE-exact scalar ops
    "q_sim_sparse" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT doc_id, tf.term,
        |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE)/df) * 10000, 0) AS BIGINT) AS w
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |top AS (SELECT doc_id, term AS top_term FROM (
        |    SELECT doc_id, term,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rn
        |    FROM w) WHERE rn = 1),
        |norm AS (SELECT doc_id, sum(w*w) AS ssq FROM w GROUP BY 1),
        |wt AS (SELECT w.doc_id, w.term, w.w, top.top_term
        |  FROM w JOIN top ON w.doc_id = top.doc_id),
        |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w*b.w) AS dot
        |  FROM wt a JOIN wt b
        |    ON a.top_term = b.top_term AND a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cosine FROM (
        |  SELECT doc_a, doc_b,
        |    round(CAST(dot AS DOUBLE) /
        |      sqrt(CAST(na.ssq AS DOUBLE) * CAST(nb.ssq AS DOUBLE)), 6) AS cosine
        |  FROM dots JOIN norm na ON doc_a = na.doc_id JOIN norm nb ON doc_b = nb.doc_id)
        |WHERE cosine >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    // frozen-model incremental growth: idf (df, n_docs) computed over
    // the BASE subset only (doc_id % IncrGrowthMod != 0, interpolated so
    // the split cannot drift between the engines); every document — base
    // and appended batch — is weighted with that frozen idf, batch terms
    // outside the base vocabulary drop (inner join with df)
    "q_sim_sparse_incr" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf WHERE doc_id % $IncrGrowthMod != 0 GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id % $IncrGrowthMod != 0),
        |w AS (SELECT doc_id, tf.term,
        |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE)/df) * 10000, 0) AS BIGINT) AS w
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |top AS (SELECT doc_id, term AS top_term FROM (
        |    SELECT doc_id, term,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rn
        |    FROM w) WHERE rn = 1),
        |norm AS (SELECT doc_id, sum(w*w) AS ssq FROM w GROUP BY 1),
        |wt AS (SELECT w.doc_id, w.term, w.w, top.top_term
        |  FROM w JOIN top ON w.doc_id = top.doc_id),
        |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w*b.w) AS dot
        |  FROM wt a JOIN wt b
        |    ON a.top_term = b.top_term AND a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cosine FROM (
        |  SELECT doc_a, doc_b,
        |    round(CAST(dot AS DOUBLE) /
        |      sqrt(CAST(na.ssq AS DOUBLE) * CAST(nb.ssq AS DOUBLE)), 6) AS cosine
        |  FROM dots JOIN norm na ON doc_a = na.doc_id JOIN norm nb ON doc_b = nb.doc_id)
        |WHERE cosine >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the salted block-cap is exact-preserving (every pair meets exactly
    // once), so the capped variant answers to the SAME oracle as the
    // uncapped query — the equality IS the proof the skew split changes
    // nothing
    "q_sim_sparse_capped" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |w AS (SELECT doc_id, tf.term,
        |    tf * CAST(round(ln(CAST(n_docs AS DOUBLE)/df) * 10000, 0) AS BIGINT) AS w
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |top AS (SELECT doc_id, term AS top_term FROM (
        |    SELECT doc_id, term,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rn
        |    FROM w) WHERE rn = 1),
        |norm AS (SELECT doc_id, sum(w*w) AS ssq FROM w GROUP BY 1),
        |wt AS (SELECT w.doc_id, w.term, w.w, top.top_term
        |  FROM w JOIN top ON w.doc_id = top.doc_id),
        |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w*b.w) AS dot
        |  FROM wt a JOIN wt b
        |    ON a.top_term = b.top_term AND a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, cosine FROM (
        |  SELECT doc_a, doc_b,
        |    round(CAST(dot AS DOUBLE) /
        |      sqrt(CAST(na.ssq AS DOUBLE) * CAST(nb.ssq AS DOUBLE)), 6) AS cosine
        |  FROM dots JOIN norm na ON doc_a = na.doc_id JOIN norm nb ON doc_b = nb.doc_id)
        |WHERE cosine >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_sim_quantized" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |q AS (SELECT vec_id,
        |   greatest(list_max(list_transform(emb, x -> abs(x))), 1e-12) AS scale,
        |   list_transform(emb, x ->
        |     round(x / greatest(list_max(list_transform(emb, y -> abs(y))), 1e-12) * 127, 0)) AS qv
        |  FROM e),
        |probes AS (SELECT vec_id AS probe_id, scale AS ps, qv AS pq
        |  FROM q ORDER BY vec_id LIMIT 10),
        |scored AS (SELECT probe_id, q.vec_id AS neighbor_id,
        |   round(list_sum(list_transform(generate_series(1,64), i -> pq[i]*qv[i]))
        |     * ps * scale / (127.0*127.0), 4) AS score
        |  FROM q CROSS JOIN probes WHERE q.vec_id <> probe_id)
        |SELECT probe_id, neighbor_id, score, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rn
        |  FROM scored) WHERE rn <= 5
        |ORDER BY probe_id, rn""".stripMargin,
    "q_text_unigram_lm" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents),
        |tf AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT sum(c) AS n FROM tf),
        |model AS (SELECT t,
        |   CAST(round(-ln(CAST(c AS DOUBLE)/n), 8) AS DECIMAL(18,8)) AS nll
        |  FROM tf CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(nll) AS DOUBLE)/count(*) AS avg_nll,
        | count(*) AS n_toks
        |FROM tok JOIN model USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |big AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
        |    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS u
        |  FROM tok WHERE len(ws) >= 2)),
        |cnt AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY w1),
        |model AS (SELECT w1, w2,
        |   CAST(round(-ln(CAST(c12 AS DOUBLE)/c1), 8) AS DECIMAL(18,8)) AS nll
        |  FROM cnt JOIN ctx USING (w1))
        |SELECT doc_id, CAST(sum(nll) AS DOUBLE)/count(*) AS avg_nll,
        | count(*) AS n_bigrams
        |FROM big JOIN model USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the gate replayed with the PLAIN global window (the oracle for the
    // two-phase DistRank form — same precedent as q_join_salted)
    "q_curate_perplexity" ->
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |big AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
        |    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS u
        |  FROM tok WHERE len(ws) >= 2)),
        |cnt AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM cnt GROUP BY w1),
        |model AS (SELECT w1, w2,
        |   CAST(round(-ln(CAST(c12 AS DOUBLE)/c1), 8) AS DECIMAL(18,8)) AS nll
        |  FROM cnt JOIN ctx USING (w1)),
        |scored AS (SELECT doc_id, sum(nll) AS tot_nll, count(*) AS n_bigrams,
        |   CAST(sum(nll) AS DOUBLE)/count(*) AS avg_nll
        |  FROM big JOIN model USING (w1, w2) GROUP BY doc_id),
        |ranked AS (SELECT s.doc_id, s.tot_nll, s.n_bigrams, d.lang,
        |   row_number() OVER (ORDER BY s.avg_nll, s.doc_id) AS rn,
        |   count(*) OVER () AS n_docs
        |  FROM scored s JOIN documents d USING (doc_id))
        |SELECT lang, count(*) AS n_kept,
        | CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
        | CAST(sum(tot_nll) AS DOUBLE) AS sum_nll
        |FROM ranked WHERE rn * 10 <= n_docs * 7
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q_text_collocations" ->
      """WITH tok AS (SELECT string_split(text,' ') AS ws FROM documents),
        |uni AS (SELECT unnest(ws) AS w FROM tok),
        |ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
        |big AS (SELECT u.w1 AS w1, u.w2 AS w2 FROM (
        |  SELECT unnest(list_transform(generate_series(1, len(ws)-1),
        |    i -> {'w1': ws[i], 'w2': ws[i+1]})) AS u
        |  FROM tok WHERE len(ws) >= 2)),
        |bcnt AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY w1, w2),
        |tot AS (SELECT (SELECT sum(c) FROM ucnt) AS nt,
        |               (SELECT sum(c12) FROM bcnt) AS nb)
        |SELECT w1, w2, c12, u1.c AS c1, u2.c AS c2,
        | round(ln((CAST(c12 AS DOUBLE) * nt * nt) /
        |   (CAST(nb AS DOUBLE) * u1.c * u2.c)), 6) AS pmi
        |FROM bcnt
        |JOIN ucnt u1 ON bcnt.w1 = u1.w
        |JOIN ucnt u2 ON bcnt.w2 = u2.w
        |CROSS JOIN tot
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,
    "q_dedup_simhash" -> {
      val hex = "'8','9','a','b','c','d','e','f'"
      val bitCols = (1 to 32).map(b =>
        s"CASE WHEN sum(CASE WHEN substr(h, $b, 1) IN ($hex) THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END")
        .mkString(" || ")
      s"""WITH tok AS (SELECT doc_id, md5(t) AS h FROM (
         |  SELECT doc_id, unnest(string_split(text,' ')) AS t FROM documents)),
         |sig AS (SELECT doc_id, $bitCols AS sh FROM tok GROUP BY doc_id),
         |bands AS (SELECT doc_id, k, substr(sh, k*16+1, 16) AS bkey
         |  FROM sig, unnest(generate_series(0,1)) AS tb(k)),
         |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y ON x.k=y.k AND x.bkey=y.bkey AND x.doc_id < y.doc_id),
         |ham AS (SELECT doc_a, doc_b,
         |   list_sum(list_transform(generate_series(1,32),
         |     i -> CASE WHEN substr(za.sh,i,1) <> substr(zb.sh,i,1) THEN 1 ELSE 0 END)) AS hamming
         |  FROM cands JOIN sig za ON za.doc_id=doc_a JOIN sig zb ON zb.doc_id=doc_b)
         |SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
         |FROM ham WHERE hamming <= 4
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q_dedup_ngram" ->
      """WITH block AS (SELECT doc_id, md5(substr(text,1,40)) AS bk FROM documents),
        |cands AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM block x JOIN block y ON x.bk=y.bk AND x.doc_id < y.doc_id),
        |cdocs AS (SELECT doc_a AS doc_id FROM cands UNION SELECT doc_b FROM cands),
        |grams AS (SELECT DISTINCT doc_id, g FROM (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, greatest(length(text)-4, 1)),
        |    i -> substr(text, i, 5))) AS g
        |  FROM documents SEMI JOIN cdocs USING (doc_id))),
        |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
        |inter AS (SELECT doc_a, doc_b, count(*) AS i FROM cands
        |  JOIN grams ga ON ga.doc_id=doc_a JOIN grams gb ON gb.doc_id=doc_b AND ga.g=gb.g
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, round(CAST(i AS DOUBLE)/(za.n+zb.n-i), 6) AS jac
        |FROM inter JOIN sizes za ON za.doc_id=doc_a JOIN sizes zb ON zb.doc_id=doc_b
        |WHERE round(CAST(i AS DOUBLE)/(za.n+zb.n-i), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_dedup_embed" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |scored AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |   round(list_sum(list_transform(generate_series(1,64), i -> a.emb[i]*b.emb[i])), 4) AS score
        |  FROM e a JOIN e b ON a.label=b.label AND a.vec_id <> b.vec_id)
        |SELECT vec_id, neighbor_id, score, score >= 0.95 AS is_near_dup FROM (
        | SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, neighbor_id) AS rn
        | FROM scored) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,
    "q_sim_ivf" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |dims AS (SELECT label, i AS pos, emb[i] AS v FROM e, unnest(generate_series(1,64)) AS t(i)),
        |cdim AS (SELECT label, pos,
        |   CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE)/count(*) AS c
        |  FROM dims GROUP BY label, pos),
        |cent AS (SELECT label, list(c ORDER BY pos) AS cent FROM cdim GROUP BY label),
        |probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM e ORDER BY vec_id LIMIT 10),
        |csc AS (SELECT probe_id, pemb, label,
        |   round(list_sum(list_transform(generate_series(1,64), i -> pemb[i]*cent[i])), 6) AS cscore
        |  FROM probes CROSS JOIN cent),
        |top2 AS (SELECT probe_id, pemb, label FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cscore DESC, label) AS lrn
        |  FROM csc) WHERE lrn <= 2),
        |scored AS (SELECT probe_id, e.vec_id AS neighbor_id,
        |   round(list_sum(list_transform(generate_series(1,64), i -> pemb[i]*emb[i])), 4) AS score
        |  FROM top2 JOIN e ON top2.label = e.label WHERE e.vec_id <> probe_id)
        |SELECT probe_id, neighbor_id, score, rn FROM (
        | SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rn
        | FROM scored) WHERE rn <= 5
        |ORDER BY probe_id, rn""".stripMargin,
    "q_sim_ivf_stored" ->
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |  FROM embeddings),
        |dims AS (SELECT label, i AS pos, emb[i] AS v FROM e, unnest(generate_series(1,64)) AS t(i)),
        |cdim AS (SELECT label, pos,
        |   CAST(sum(CAST(v AS DECIMAL(18,8))) AS DOUBLE)/count(*) AS c
        |  FROM dims GROUP BY label, pos),
        |cent AS (SELECT label, list(c ORDER BY pos) AS cent FROM cdim GROUP BY label),
        |probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM e ORDER BY vec_id LIMIT 10),
        |csc AS (SELECT probe_id, pemb, label,
        |   round(list_sum(list_transform(generate_series(1,64), i -> pemb[i]*cent[i])), 6) AS cscore
        |  FROM probes CROSS JOIN cent),
        |top2 AS (SELECT probe_id, pemb, label FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cscore DESC, label) AS lrn
        |  FROM csc) WHERE lrn <= 2),
        |scored AS (SELECT probe_id, e.vec_id AS neighbor_id,
        |   round(list_sum(list_transform(generate_series(1,64), i -> pemb[i]*emb[i])), 4) AS score
        |  FROM top2 JOIN e ON top2.label = e.label WHERE e.vec_id <> probe_id)
        |SELECT probe_id, neighbor_id, score, rn FROM (
        | SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, neighbor_id) AS rn
        | FROM scored) WHERE rn <= 5
        |ORDER BY probe_id, rn""".stripMargin,
    "q_text_langid" ->
      """SELECT doc_id, lang,
        | round(CAST(len(list_filter(string_split(text,' '),
        |   w -> list_contains(['the','a','of','to','and','in','is'], w))) AS DOUBLE)
        |  / len(string_split(text,' ')), 6) AS en_score,
        | CASE WHEN round(CAST(len(list_filter(string_split(text,' '),
        |   w -> list_contains(['the','a','of','to','and','in','is'], w))) AS DOUBLE)
        |  / len(string_split(text,' ')), 6) >= 0.05 THEN 'en' ELSE 'other' END AS pred
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """WITH base AS (SELECT doc_id, text, string_split(text,' ') AS ws FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(ws) AS BIGINT) AS n_tokens,
        |  round(CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)/len(ws), 4) AS avg_token_len,
        |  round(CAST(len(list_filter(ws, w -> list_contains(['the','a','of','to','and','in','is'], w))) AS DOUBLE)/len(ws), 4) AS stop_ratio,
        |  round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)/length(text), 4) AS digit_ratio
        | FROM base)
        |SELECT doc_id, n_chars_m, n_tokens, avg_token_len, stop_ratio, digit_ratio,
        | round(1.0 * (1.0 - digit_ratio) * least(CAST(n_tokens AS DOUBLE)/20.0, 1.0), 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        | CAST(list_sum(list_transform(string_split(text,' '),
        |   w -> CAST(ceil(length(w)/4.0) AS INT))) AS BIGINT) AS bpe_tokens,
        | round(CAST(length(text) AS DOUBLE)/len(string_split(text,' ')), 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_fingerprint" ->
      """WITH g AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(length(text)-7, 1)),
        |    i -> substr(text, i, 8))) AS grams FROM documents)
        |SELECT doc_id, list_min(list_transform(grams, x -> md5(x))) AS fp,
        | CAST(len(grams) AS BIGINT) AS n_grams
        |FROM g ORDER BY doc_id""".stripMargin,
  )
}
