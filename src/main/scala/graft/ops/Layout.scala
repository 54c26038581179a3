package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import Util._

/** Data-layout operators: multi-dimensional clustering keys. */
object Layout {

  /** Z-order (Morton) key via the codegen'd graft.functions.MortonInterleave
    * expression (shared with the GraftStore ZORDER rewrite in Sources). */
  private[graft] def morton(x: Column, y: Column): Column =
    org.apache.spark.sql.graft.GraftSql.column(
      graft.functions.MortonInterleave(
        org.apache.spark.sql.graft.GraftSql.expression(x),
        org.apache.spark.sql.graft.GraftSql.expression(y)))

  /** Z-order layout key over part(p_size, p_partkey mod 64): the space-
    * filling-curve trick behind multi-dimensional file clustering —
    * writing a table range-partitioned + sorted by morton(a, b) gives
    * every file a tight min/max envelope in BOTH columns, so footer
    * stats prune scans for predicates on either (a one-dimensional sort
    * only prunes its leading column). At 100 TB this decides whether
    * `p_size = 37` reads one file group or every file. The two curve
    * inputs are scaled to the SAME bit width (6 bits each) — interleaving
    * a 6-bit column with a 16-bit one puts only the wide column's bits
    * in the high positions and degenerates the curve back to a 1-d sort.
    * The query buckets the curve by its top 6 bits (= 3 high bits of
    * EACH dimension) and reports each bucket's envelope in both source
    * dimensions — exactly the per-file stats a z-ordered write would
    * produce; both envelopes spanning ≤ 2^3 IS the pruning evidence
    * (asserted in PlanShapeSpec), and the oracle replays the interleave
    * with explicit magic-mask arithmetic. The expression is pure per-row
    * compute inside whole-stage codegen; the only shuffle is the bucket
    * aggregation. */
  val qLayoutZorder: Q = (s, dir) => {
    import s.implicits._
    table(s, dir, "part")
      .select($"p_partkey", $"p_size",
        ($"p_partkey" % 64).cast("long").as("k64"),
        morton($"p_size".cast("long"),
          ($"p_partkey" % 64).cast("long")).as("zval"))
      .withColumn("bucket", shiftright($"zval", 6))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_parts"),
        min($"zval").as("zmin"), max($"zval").as("zmax"),
        min($"p_size").as("size_min"), max($"p_size").as("size_max"),
        min($"k64").as("k64_min"), max($"k64").as("k64_max"))
      .orderBy($"bucket")
  }

  /** Point-in-bbox spatial join via grid binning — the GEE filterBounds
    * analog (scene footprints × query points) and the 2-d sibling of the
    * blocked range join: a naive formulation is a cross join with two
    * interval predicates (quadratic); binning space into cells the size
    * of the max bbox extent makes it an EQUI-join on the cell key. Each
    * bbox explodes to the ≤2×2 cells it can overlap, each point maps to
    * exactly ONE cell, and the exact containment predicate runs only on
    * cell-collided pairs — at 100 TB candidate volume scales with local
    * density, never |scenes|×|points|. Scenes/points are derived
    * deterministically from part/customer (4×4 bboxes on a ~104×54
    * grid); the oracle is the naive inequality join, so binning is
    * proven semantics-preserving. */
  val qGeoBbox: Q = (s, dir) => {
    import s.implicits._
    val cell = 4.0
    val scenes = table(s, dir, "part")
      .select($"p_partkey", $"p_brand",
        ($"p_partkey" % 100).cast("double").as("x0"),
        $"p_size".cast("double").as("y0"))
      .withColumn("x1", $"x0" + 4.0).withColumn("y1", $"y0" + 4.0)
      .withColumn("cx", explode(sequence(
        floor($"x0" / cell).cast("int"), floor($"x1" / cell).cast("int"))))
      .withColumn("cy", explode(sequence(
        floor($"y0" / cell).cast("int"), floor($"y1" / cell).cast("int"))))
    val points = table(s, dir, "customer")
      .select($"c_custkey",
        (($"c_custkey" % 100).cast("double") + 0.5).as("px"),
        (($"c_custkey" % 50).cast("double") + 0.5).as("py"))
      .withColumn("cx", floor($"px" / cell).cast("int"))
      .withColumn("cy", floor($"py" / cell).cast("int"))
    scenes.join(points, Seq("cx", "cy"))
      .filter($"px" >= $"x0" && $"px" <= $"x1" &&
        $"py" >= $"y0" && $"py" <= $"y1")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"c_custkey").as("n_points"))
      .orderBy($"p_brand")
  }

  /** Within-radius spatial SELF-join via grid-cell blocking — the
    * all-pairs killer for proximity queries: points land in cells of
    * side r (integer division), the probe side replicates into its 3×3
    * cell neighborhood, and candidates come from an EQUALITY join on the
    * cell key — any pair within L2 distance r is guaranteed to share one
    * of the 9 cells, so the exact integer d² ≤ r² filter sees only
    * neighborhood-local candidates. At 100 TB: a 9× replication of one
    * side against a hash equi-join, never a cross product; per-cell
    * density bounds every task (the same blocking argument as the
    * minhash band join, in 2-D). Coordinates are 16-bit integers from
    * md5 nibbles of the key (the §5.4 portable-hash idiom shared with
    * q_sample_weighted — a LINEAR key→coord map was tried first and put
    * every point on a sparse lattice with no close pairs at all);
    * deterministic and exact on both engines, genuinely scattered. Each
    * qualifying pair matches in exactly ONE cell (the probe's 9 shifted
    * cells are distinct), so no dedup pass is needed, and (id_a < id_b)
    * halves the symmetric pairs. */
  val qGeoJoin: Q = (s, dir) => {
    import s.implicits._
    val r = 500L
    def nib(i: Int) =
      s"(position(substr(md5(cast(c_custkey AS STRING)), $i, 1) IN '0123456789abcdef') - 1)"
    def coord(off: Int) = // nibbles off..off+3 -> 0..65535
      s"CAST(${nib(off)}*4096 + ${nib(off + 1)}*256 + ${nib(off + 2)}*16 + ${nib(off + 3)} AS BIGINT)"
    val pts = table(s, dir, "customer").select($"c_custkey".as("id"),
      expr(coord(1)).as("x"), expr(coord(5)).as("y"))
    val a = pts.select($"id".as("id_a"), $"x".as("xa"), $"y".as("ya"),
      expr(s"x div $r").as("cx"), expr(s"y div $r").as("cy"))
    val b = pts
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select($"id".as("id_b"), $"x".as("xb"), $"y".as("yb"),
        (expr(s"x div $r") + $"dx").as("cx"),
        (expr(s"y div $r") + $"dy").as("cy"))
    a.join(b, Seq("cx", "cy"))
      .filter($"id_a" < $"id_b")
      .withColumn("d2",
        ($"xa" - $"xb") * ($"xa" - $"xb") + ($"ya" - $"yb") * ($"ya" - $"yb"))
      .filter($"d2" <= r * r)
      .select($"id_a", $"id_b", $"d2")
      .orderBy($"id_a", $"id_b")
  }

  /** (fragmented dir, compacted dir), written once per (session, fixture
    * dir); private[graft] so the compaction spec can count the files. */
  private[graft] def compactedDirs(s: SparkSession, dir: String): (String, String) =
    Util.staged(s, dir, "layout_compact") {
      import s.implicits._
      val frag = Util.managedTempDir("graft_frag_")
      val comp = Util.managedTempDir("graft_compact_")
      // over-fragment: 64 round-robin shards of a small table
      table(s, dir, "documents")
        .select($"doc_id", $"lang", $"text", $"n_chars")
        .repartition(64)
        .write.mode("overwrite").parquet(frag)
      // The bin-size scanner confs live in a CHILD session (same
      // SparkContext, isolated SQLConf), so queries planned concurrently
      // on the caller's session — a real pattern here, e.g. qSimPq's
      // parallel fits — can never observe the 4 MB scan setting.
      Util.child(s, confs = Map(
        "spark.sql.files.maxPartitionBytes" -> (4L << 20).toString,
        "spark.sql.files.openCostInBytes" -> "1024"))
        .read.parquet(frag).write.mode("overwrite").parquet(comp)
      (frag, comp)
    }

  /** Small-file COMPACTION — the other half of table maintenance next to
    * Z-order: an OPTIMIZE-style bin-packing rewrite of an over-fragmented
    * table back to target-sized files. The bin-packer is Spark's own
    * file-scan partition packing: reading the fragmented table with
    * `maxPartitionBytes` = target size (and `openCostInBytes` lowered so
    * packing is purely size-driven) groups small files first-fit into
    * target-sized scan partitions, and the narrow (shuffle-free) rewrite
    * emits ONE file per packed partition. No repartition(): the data
    * never shuffles, each task streams its bin's files into one output —
    * exactly what Delta/Iceberg OPTIMIZE does, expressed through the
    * scanner. At 100 TB compaction runs per table partition with this
    * identical plan; cost is one read+write of the fragmented bytes.
    * The query then reads the COMPACTED table and reports per-language
    * content aggregates incl. min/max text-md5 — the oracle recomputes
    * them from the source rows, so the fragment→compact round-trip is
    * what's proven lossless. File-count/size bounds are asserted in
    * LayoutCompactionSpec (the oracle can't see the filesystem). */
  val qLayoutCompact: Q = (s, dir) => {
    import s.implicits._
    s.read.parquet(compactedDirs(s, dir)._2)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"doc_id").as("docsum"),
        sum($"n_chars").as("charsum"),
        min(md5($"text")).as("md5_min"),
        max(md5($"text")).as("md5_max"))
      .orderBy($"lang")
  }

  val queries: Map[String, Q] = Map(
    "q_layout_zorder" -> qLayoutZorder,
    "q_layout_compact" -> qLayoutCompact,
    "q_geo_bbox" -> qGeoBbox,
    "q_geo_join" -> qGeoJoin,
  )

  val oracleSql: Map[String, String] = Map(
    "q_layout_compact" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(doc_id) AS BIGINT) AS docsum,
        | CAST(sum(n_chars) AS BIGINT) AS charsum,
        | min(md5(text)) AS md5_min,
        | max(md5(text)) AS md5_max
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // spread(v) = five shift/mask steps (DuckDB reuses SELECT aliases, so
    // the steps chain in one projection); morton = spread(x) | spread(y)<<1
    "q_layout_zorder" ->
      """WITH b AS (SELECT p_partkey, p_size,
        |  CAST(p_size AS BIGINT) & 65535 AS x,
        |  CAST(p_partkey % 64 AS BIGINT) AS k64,
        |  CAST(p_partkey % 64 AS BIGINT) & 65535 AS y FROM part),
        |sp AS (SELECT p_partkey, p_size, k64,
        |  ((x | (x << 8)) & 16711935) AS xa,
        |  ((xa | (xa << 4)) & 252645135) AS xb,
        |  ((xb | (xb << 2)) & 858993459) AS xc,
        |  ((xc | (xc << 1)) & 1431655765) AS xd,
        |  ((y | (y << 8)) & 16711935) AS ya,
        |  ((ya | (ya << 4)) & 252645135) AS yb,
        |  ((yb | (yb << 2)) & 858993459) AS yc,
        |  ((yc | (yc << 1)) & 1431655765) AS yd
        | FROM b),
        |z AS (SELECT p_partkey, p_size, k64, (xd | (yd << 1)) AS zval FROM sp)
        |SELECT zval >> 6 AS bucket, count(*) AS n_parts,
        | min(zval) AS zmin, max(zval) AS zmax,
        | min(p_size) AS size_min, max(p_size) AS size_max,
        | min(k64) AS k64_min, max(k64) AS k64_max
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_geo_join" ->
      s"""WITH pts AS (SELECT c_custkey AS id,
        |  CAST((position(substr(md5(cast(c_custkey AS VARCHAR)), 1, 1) IN '0123456789abcdef') - 1)*4096 + (position(substr(md5(cast(c_custkey AS VARCHAR)), 2, 1) IN '0123456789abcdef') - 1)*256 + (position(substr(md5(cast(c_custkey AS VARCHAR)), 3, 1) IN '0123456789abcdef') - 1)*16 + (position(substr(md5(cast(c_custkey AS VARCHAR)), 4, 1) IN '0123456789abcdef') - 1) AS BIGINT) AS x,
        |  CAST((position(substr(md5(cast(c_custkey AS VARCHAR)), 5, 1) IN '0123456789abcdef') - 1)*4096 + (position(substr(md5(cast(c_custkey AS VARCHAR)), 6, 1) IN '0123456789abcdef') - 1)*256 + (position(substr(md5(cast(c_custkey AS VARCHAR)), 7, 1) IN '0123456789abcdef') - 1)*16 + (position(substr(md5(cast(c_custkey AS VARCHAR)), 8, 1) IN '0123456789abcdef') - 1) AS BIGINT) AS y FROM customer),
        |a AS (SELECT id AS id_a, x AS xa, y AS ya,
        |  x // 500 AS cx, y // 500 AS cy FROM pts),
        |b AS (SELECT id AS id_b, x AS xb, y AS yb,
        |  x // 500 + dx.g AS cx, y // 500 + dy.g AS cy
        | FROM pts,
        |  (SELECT unnest(generate_series(-1, 1)) AS g) dx,
        |  (SELECT unnest(generate_series(-1, 1)) AS g) dy)
        |SELECT id_a, id_b,
        |  (xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) AS d2
        |FROM a JOIN b USING (cx, cy)
        |WHERE id_a < id_b
        |  AND (xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) <= 250000
        |ORDER BY id_a, id_b""".stripMargin,
    // the oracle is the NAIVE inequality join — the grid binning in the
    // Spark plan must be invisible in the result
    "q_geo_bbox" ->
      """WITH scenes AS (SELECT p_partkey, p_brand,
        |  CAST(p_partkey % 100 AS DOUBLE) AS x0,
        |  CAST(p_size AS DOUBLE) AS y0 FROM part),
        |pts AS (SELECT c_custkey,
        |  CAST(c_custkey % 100 AS DOUBLE) + 0.5 AS px,
        |  CAST(c_custkey % 50 AS DOUBLE) + 0.5 AS py FROM customer)
        |SELECT p_brand, count(*) AS n_pairs,
        | count(DISTINCT c_custkey) AS n_points
        |FROM scenes JOIN pts
        |  ON px >= x0 AND px <= x0 + 4.0 AND py >= y0 AND py <= y0 + 4.0
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
  )
}
