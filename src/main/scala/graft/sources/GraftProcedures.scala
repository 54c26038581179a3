package graft.sources

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** Table-maintenance STORED PROCEDURES — the Iceberg `CALL
  * cat.system.<proc>(…)` surface, on Spark 4's native ProcedureCatalog
  * connector API (no SQL-extension parser needed: `CALL`,
  * `SHOW PROCEDURES`, `DESCRIBE PROCEDURE` are first-class statements).
  * Each procedure is the SQL face of an existing audited maintenance
  * primitive; the result is a one-row LocalScan so a caller can chain
  * on the returned version. Side-effecting by definition —
  * `isDeterministic = false` keeps Spark from caching/replaying a call.
  *
  * At 100 TB these ARE the operational surface: compaction, delete
  * folding, snapshot expiry and restore are scheduled jobs written by
  * platform engineers in SQL, not Scala — a lakehouse without CALL
  * makes every maintenance task a bespoke JVM deployment. */
private[sources] object GraftProcedures {

  private def P(name: String, dt: DataType, comment: String) =
    ProcedureParameter.in(name, dt).comment(comment).build()

  private val VersionOut = new StructType().add("version", LongType,
    nullable = false)

  /** One-table procedures share arg-0 = table name (single path segment
    * under the catalog root, same traversal guard as the catalog). */
  private abstract class GraftProcedure(root: String, procName: String)
    extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false

    protected def out: StructType = VersionOut
    protected def run(spark: SparkSession, input: InternalRow): Array[Any]

    protected def tablePath(input: InternalRow): String = {
      val t = input.getUTF8String(0).toString
      require(t.nonEmpty && !t.contains("/") && !t.contains("\\") &&
        t != "..", s"illegal table name: $t")
      new File(root, t).getPath
    }

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val vals = run(SparkSession.active, input)
      val schema = out
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] =
          Array(new GenericInternalRow(vals))
        override def readSchema(): StructType = schema
        override def description(): String = s"graft_call_$procName"
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  /** `CALL cat.system.purge_deletes('t')` — fold position vectors and
    * equality deletes into clean files (rewrite_data_files' delete-
    * folding half); restores metadata-only answers. */
  private final class PurgeDeletes(root: String)
    extends GraftProcedure(root, "purge_deletes") {
    override def description(): String =
      "fold deletion vectors and equality deletes into clean data files"
    override def parameters(): Array[ProcedureParameter] =
      Array(P("table", StringType, "table name under the catalog root"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] =
      Array(GraftStore.purgeDeletes(spark, tablePath(input)))
  }

  /** `CALL cat.system.restore('t', 3)` — roll the table back to a
    * retained snapshot as a NEW commit (history preserved). */
  private final class Restore(root: String)
    extends GraftProcedure(root, "restore") {
    override def description(): String =
      "restore the table to a retained snapshot (as a new commit)"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("version", LongType, "snapshot version to restore"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] =
      Array(GraftStore.restore(tablePath(input), input.getLong(1)))
  }

  /** `CALL cat.system.restore_to_timestamp('t', '2026-08-16 12:00:00')`
    * — the Delta `RESTORE … TO TIMESTAMP AS OF` surface (round 16):
    * resolve the UTC instant through the same commit-timestamp index
    * TIMESTAMP AS OF reads use (latest snapshot at or before) and
    * restore to it as a new commit. A timestamp before the retained
    * history refuses loudly. */
  private final class RestoreToTimestamp(root: String)
    extends GraftProcedure(root, "restore_to_timestamp") {
    override def description(): String =
      "restore the table to the latest snapshot at or before a UTC timestamp (as a new commit)"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("ts", StringType, "UTC timestamp 'yyyy-MM-dd HH:mm:ss[.fff]'"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      val ts = input.getUTF8String(1).toString
      val ms = org.apache.spark.sql.catalyst.util.DateTimeUtils
        .stringToTimestamp(org.apache.spark.unsafe.types.UTF8String.fromString(ts),
          java.time.ZoneOffset.UTC)
        .map(micros => Math.floorDiv(micros, 1000L))
        .getOrElse(throw new IllegalArgumentException(
          s"restore_to_timestamp: '$ts' is not a UTC timestamp"))
      val v = GraftStore.versionAsOfTimestamp(path, ms).getOrElse(
        throw new IllegalArgumentException(
          s"restore_to_timestamp: no snapshot at or before '$ts' at $path " +
            "(history starts later, or was expired)"))
      Array(GraftStore.restore(path, v))
    }
  }

  /** `CALL cat.system.compact('t', 64*1024*1024)` — bin-pack small
    * files up to target_bytes (skips delete-affected files). Returns
    * the new version, or the current one when nothing packed. */
  private final class Compact(root: String)
    extends GraftProcedure(root, "compact") {
    override def description(): String =
      "bin-pack small data files up to target_bytes per file"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("target_bytes", LongType, "max packed file size in bytes"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      val v = GraftStore.compact(spark, path, input.getLong(1))
      Array(if (v < 0) GraftStore.readVersion(path) else v)
    }
  }

  /** `CALL cat.system.compact_where('t', 64*1024*1024, 'pri = 2')` —
    * predicate-scoped bin-packing (round 16): compacts only the files
    * the manifest stats PROVE entirely inside the predicate — the
    * compact-yesterday's-partition maintenance shape (on a 100 TB
    * table nobody compacts the whole thing; they compact the slice the
    * last ingest fragmented). Out-of-scope and stats-undecidable files
    * stay byte-identical in place; an unparseable or non-stats-
    * evaluable predicate refuses at CALL time. Returns the new
    * version, or the current one when nothing packed. */
  private final class CompactWhere(root: String)
    extends GraftProcedure(root, "compact_where") {
    override def description(): String =
      "bin-pack small data files within a stats-provable predicate scope"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("target_bytes", LongType, "max packed file size in bytes"),
      P("where", StringType, "SQL predicate over top-level columns"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      val schema = GraftStore.latest(path).getOrElse(
        throw new IllegalArgumentException(s"no graft-store table at $path")).schema
      val f = GraftStore.v1FilterOf(spark, schema, "compact_where scope",
        input.getUTF8String(2).toString)
      val v = GraftStore.compact(spark, path, input.getLong(1), Some(f))
      Array(if (v < 0) GraftStore.readVersion(path) else v)
    }
  }

  /** `CALL cat.system.compact_sorted('t', 64*1024*1024, 'k1,k2')` —
    * OPTIMIZE … SORT BY: rewrite the clean data files through a global
    * range-partition + sort on the cluster keys, producing key-disjoint
    * key-sorted files with re-derived stats (point/range lookups then
    * prune to one file). Content-invariant (op=optimize, CDF-silent). */
  private final class CompactSorted(root: String)
    extends GraftProcedure(root, "compact_sorted") {
    override def description(): String =
      "rewrite data files sorted and range-clustered on the given keys"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("target_bytes", LongType, "max rewritten file size in bytes"),
      P("sort_cols", StringType, "comma-separated cluster/sort columns"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      val cols = input.getUTF8String(2).toString.split(',')
        .map(_.trim).filter(_.nonEmpty).toSeq
      val v = GraftStore.compactSorted(spark, path, cols, input.getLong(1))
      Array(if (v < 0) GraftStore.readVersion(path) else v)
    }
  }

  /** `CALL cat.system.zorder('t', 'a,b[,c[,d]]', 16)` — OPTIMIZE …
    * ZORDER BY: rewrite the table range-partitioned + sorted on a
    * Morton interleave of 2-4 columns, each scaled into its lattice
    * lane from the table's OWN min/max — which the scan answers as a
    * metadata-only aggregate from manifest stats, so planning the
    * rewrite costs no data I/O. Dimensions may be int/long OR
    * timestamp/date (round 16): temporal columns map monotonically to
    * epoch micros/days before scaling, so the canonical time×key
    * layout (`zorder('t', 'ts,user_id', n)`) prunes on either the time
    * range or the key. Lattice is 16 bits/dim at N≤3, 15 at N=4 (the
    * interleave must never reach the long's sign bit); scaling divides
    * by a driver-computed step, never multiplies the raw span (a
    * century of micros times 2^16 would overflow). After the rewrite
    * every file has a tight min/max envelope in EVERY dimension and
    * stats skipping prunes filters on ANY of them (a 1-D sort only
    * ever prunes its leading column). Content-invariant (op=optimize,
    * CDF-silent). */
  private final class ZOrder(root: String)
    extends GraftProcedure(root, "zorder") {
    override def description(): String =
      "rewrite data files z-ordered (Morton) on 2-4 int/long/timestamp/date columns"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("cols", StringType, "2-4 comma-separated int/long/timestamp/date columns"),
      P("target_files", LongType, "number of rewritten files"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      val cols = input.getUTF8String(1).toString.split(',')
        .map(_.trim).filter(_.nonEmpty)
      require(cols.length >= 2 && cols.length <= 4,
        s"zorder takes 2-4 columns, got '${cols.mkString(",")}'")
      val df = spark.read.format("graft.sources.GraftStore")
        .option("path", path).load()
      import org.apache.spark.sql.functions.{col, lit, max, min, unix_date, unix_micros}
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      // monotone long view of a dimension (epoch micros/days for
      // temporal types — order-isomorphic to their SQL semantics)
      def lane(c: String): org.apache.spark.sql.Column =
        df.schema.fields(df.schema.fieldIndex(c)).dataType match {
          case IntegerType | LongType => col(c).cast("long")
          case TimestampType => unix_micros(col(c))
          case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
          case DateType => unix_date(col(c)).cast("long")
          case other => throw new IllegalArgumentException(
            s"zorder needs int/long/timestamp/date columns, '$c' is ${other.simpleString}")
        }
      // min/max over the RAW columns: the connector answers those from
      // manifest stats (metadata-only); the epoch conversion happens
      // driver-side on the two scalars
      val aggExprs = cols.toSeq.flatMap(c => Seq(min(col(c)), max(col(c))))
      val r = df.agg(aggExprs.head, aggExprs.tail: _*).head()
      def lng(i: Int): Long = r.get(i) match {
        case n: java.lang.Number => n.longValue()
        case t: java.sql.Timestamp =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
        case t: java.time.Instant =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t)
        case t: java.time.LocalDateTime =>
          // must match the LANE's convention: the lane converts NTZ via
          // cast(TimestampType) + unix_micros, which interprets the wall
          // clock in the SESSION timezone — a UTC-fixed
          // localDateTimeToMicros here would offset (lane - lo) by the
          // zone in any non-UTC session and push lattice values negative
          // (clustering quality only, results unaffected). (r17, advice)
          org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(
            t.atZone(java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)).toInstant)
        case d: java.sql.Date =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
        case d: java.time.LocalDate =>
          org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong
        case other => throw new IllegalStateException(s"non-orderable stat $other")
      }
      val bits = if (cols.length == 4) 15 else 16
      val lanes = cols.zipWithIndex.map { case (c, i) =>
        val (lo, hi) = (lng(2 * i), lng(2 * i + 1))
        val span = hi - lo
        // every dimension must occupy the SAME lattice resolution or the
        // wider one's bits dominate the sort and the narrow one never
        // clusters (a 64-value key next to a micros timestamp would get
        // 6 of 32 interleaved bits — its files span everything). Small
        // spans scale UP by a multiplier, large spans DOWN by a step;
        // both factors are driver-computed so nothing overflows at any
        // span (upscaled product < 2^bits · 2^bits, downscale divides)
        val expr =
          if (span >= 0 && span < (1L << bits)) {
            val mult = math.max(1L, (1L << bits) / (span + 1L))
            (lane(c) - lo) * lit(mult)
          } else if (span >= 0) {
            val step = (span >>> bits) + 1L
            (lane(c) - lo) / lit(step)
          } else {
            // span overflowed Long (range wider than 2^63, e.g. sentinel
            // MIN/MAX values in the column). `lane - lo` would itself
            // overflow per row (ANSI mode, pinned on by the suite,
            // throws ARITHMETIC_OVERFLOW) — and `lo` is unnecessary for
            // a monotone lattice anyway: flipping the sign bit embeds
            // the full signed Long range into unsigned order
            // (MinValue→0, MaxValue→2^64-1) with no arithmetic that can
            // wrap, and the unsigned shift keeps it in [0, 2^bits).
            // (r18, advice item: wrap-free monotone unsigned embedding)
            import org.apache.spark.sql.functions.shiftrightunsigned
            shiftrightunsigned(lane(c).bitwiseXOR(lit(Long.MinValue)),
              64 - bits)
          }
        org.apache.spark.sql.graft.GraftSql.expression(expr.cast("long"))
      }
      val zkey = org.apache.spark.sql.graft.GraftSql.column(
        graft.functions.MortonInterleaveN(lanes))
      Array(GraftStore.rewriteClustered(spark, path, zkey,
        input.getLong(2).toInt))
    }
  }

  /** `CALL cat.system.remove_orphan_files('t', 86400000)` — the Iceberg
    * maintenance classic (round 16): delete data-directory files
    * referenced by NO retained snapshot — the residue of failed or
    * abandoned writes, which no expiry path ever reaches because
    * nothing points at them. The age guard is mandatory and must be
    * generous (an in-flight writer's uncommitted output looks exactly
    * like an orphan until its commit lands); refuse zero/negative ages
    * rather than default them. Returns the number of files removed. */
  private final class RemoveOrphanFiles(root: String)
    extends GraftProcedure(root, "remove_orphan_files") {
    override def description(): String =
      "delete data files referenced by no retained snapshot, older than an age"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("older_than_ms", LongType, "only remove orphans at least this old"))
    override def out: StructType =
      new StructType().add("removed", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      require(GraftStore.latest(path).isDefined,
        s"no graft-store table at $path")
      val age = input.getLong(1)
      require(age > 0,
        "remove_orphan_files needs a positive age — an in-flight writer's " +
          "uncommitted output looks exactly like an orphan")
      Array(Long.box(GraftStore.gcUnreferenced(path, Set.empty, age)))
    }
  }

  /** `CALL cat.system.expire_snapshots('t', 2)` — drop all but the last
    * `keep_last` snapshots (tagged ones pinned) and GC unreferenced
    * files. Returns the retained snapshot count. */
  private final class ExpireSnapshots(root: String)
    extends GraftProcedure(root, "expire_snapshots") {
    override def description(): String =
      "expire old snapshots (tags pinned) and GC unreferenced files"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("keep_last", LongType, "how many trailing snapshots to retain"))
    override def out: StructType =
      new StructType().add("retained", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      GraftStore.expireSnapshots(path, input.getLong(1).toInt,
        graceMs = 0L)
      Array(GraftStore.snapshotFiles(path).size.toLong)
    }
  }

  /** `CALL cat.system.expire_snapshots_older_than('t', 86400000, 2)` —
    * the TIME-BASED retention form every production policy actually
    * takes (Iceberg `older_than`, Delta `RETAIN x HOURS`): expire
    * snapshots whose commit is older than `older_than_ms` (an AGE from
    * now, the same duration semantics as the branch retain override),
    * always keeping the newest `keep_last_floor` and every tagged
    * snapshot. Returns the retained snapshot count. */
  private final class ExpireSnapshotsOlderThan(root: String)
    extends GraftProcedure(root, "expire_snapshots_older_than") {
    override def description(): String =
      "expire snapshots older than an age in ms (tags + newest floor pinned)"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("older_than_ms", LongType,
        "expire snapshots whose commit is older than this many ms"),
      P("keep_last_floor", LongType,
        "newest snapshots that survive regardless of age (>= 1)"))
    override def out: StructType =
      new StructType().add("retained", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      GraftStore.expireSnapshotsOlderThan(path, input.getLong(1),
        input.getLong(2).toInt, graceMs = 0L)
      Array(GraftStore.snapshotFiles(path).size.toLong)
    }
  }

  /** `CALL cat.system.branch_create('t', 'audit')` — fork a named
    * writable branch from the table's current snapshot (hard-linked,
    * lineage-continuing clone; see [[GraftStore.branchCreate]]). */
  private final class BranchCreate(root: String)
    extends GraftProcedure(root, "branch_create") {
    override def description(): String =
      "fork a named writable branch from the current snapshot"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("branch", StringType, "branch name (file-safe identifier)"))
    override def out: StructType =
      new StructType().add("fork_version", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val path = tablePath(input)
      val b = input.getUTF8String(1).toString
      GraftStore.branchCreate(path, b)
      Array(GraftStore.branchForkVersion(path, b))
    }
  }

  /** `CALL cat.system.fast_forward('t', 'audit')` — publish the branch
    * tip to main in one atomic commit (refuses if main diverged). */
  private final class FastForward(root: String)
    extends GraftProcedure(root, "fast_forward") {
    override def description(): String =
      "fast-forward publish a branch tip to main (one atomic commit)"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("branch", StringType, "branch to publish"))
    override def run(spark: SparkSession, input: InternalRow): Array[Any] =
      Array(GraftStore.fastForward(tablePath(input),
        input.getUTF8String(1).toString))
  }

  /** `CALL cat.system.branch_drop('t', 'audit')` — delete a branch
    * (its hard links only; main is untouched by construction). */
  private final class BranchDrop(root: String)
    extends GraftProcedure(root, "branch_drop") {
    override def description(): String =
      "drop a named branch (main is untouched)"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("branch", StringType, "branch to drop"))
    override def out: StructType =
      new StructType().add("dropped", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      GraftStore.branchDelete(tablePath(input),
        input.getUTF8String(1).toString)
      Array(1L)
    }
  }

  /** `CALL cat.system.branch_retain('t', 'audit', 86400000)` — set (or
    * with retain_ms <= 0, clear) the branch's retention override; the
    * policy `expire_branches` enforces. */
  private final class BranchRetain(root: String)
    extends GraftProcedure(root, "branch_retain") {
    override def description(): String =
      "set a per-branch retention override (retain_ms <= 0 clears it)"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("branch", StringType, "branch to configure"),
      P("retain_ms", LongType, "retention from last commit, in millis"))
    override def out: StructType =
      new StructType().add("retain_ms", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val ms = input.getLong(2)
      GraftStore.branchSetRetain(tablePath(input),
        input.getUTF8String(1).toString, ms)
      Array(math.max(ms, 0L))
    }
  }

  /** `CALL cat.system.expire_branches('t', 604800000)` — drop every
    * branch whose last commit is older than its retention (per-branch
    * `branch_retain` override, else the given default; the scheduled
    * counterpart of branch_drop that keeps stale audit branches from
    * accumulating silently). Returns the dropped count. */
  private final class ExpireBranches(root: String)
    extends GraftProcedure(root, "expire_branches") {
    override def description(): String =
      "drop branches whose last commit exceeds their retention age"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("default_retain_ms", LongType,
        "retention for branches without a branch_retain override"))
    override def out: StructType =
      new StructType().add("dropped", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] =
      Array(GraftStore.expireBranches(tablePath(input),
        input.getLong(1)).size.toLong)
  }

  /** `CALL cat.system.branch_expire_snapshots('t', 'audit', 2)` — the
    * per-branch form of expire_snapshots: a branch IS a table, so its
    * own history ages out independently of main's. */
  private final class BranchExpireSnapshots(root: String)
    extends GraftProcedure(root, "branch_expire_snapshots") {
    override def description(): String =
      "expire old snapshots within a branch (tags pinned) and GC its files"
    override def parameters(): Array[ProcedureParameter] = Array(
      P("table", StringType, "table name under the catalog root"),
      P("branch", StringType, "branch whose history to expire"),
      P("keep_last", LongType, "how many trailing snapshots to retain"))
    override def out: StructType =
      new StructType().add("retained", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val bp = GraftStore.branchPath(tablePath(input),
        input.getUTF8String(1).toString)
      GraftStore.expireSnapshots(bp, input.getLong(2).toInt, graceMs = 0L)
      Array(GraftStore.snapshotFiles(bp).size.toLong)
    }
  }

  /** `CALL cat.system.rewrite_manifests('t')` — metadata-only manifest
    * regroup (Iceberg's rewrite_manifests): re-chunk the current
    * snapshot's entries into the canonical sharded layout at the
    * session's shard threshold, touching no data files. The scheduled
    * repair after a threshold retune or partition-spec evolution. */
  private final class RewriteManifests(root: String)
    extends GraftProcedure(root, "rewrite_manifests") {
    override def description(): String =
      "regroup manifest children to the current shard threshold (metadata-only)"
    override def parameters(): Array[ProcedureParameter] =
      Array(P("table", StringType, "table name under the catalog root"))
    override def out: StructType = new StructType()
      .add("version", LongType, nullable = false)
      .add("children_before", LongType, nullable = false)
      .add("children_after", LongType, nullable = false)
    override def run(spark: SparkSession, input: InternalRow): Array[Any] = {
      val (v, before, after) =
        GraftStore.rewriteManifests(tablePath(input))
      Array(v, before, after)
    }
  }

  private def all(root: String): Seq[GraftProcedure] = Seq(
    new PurgeDeletes(root), new Restore(root),
    new RestoreToTimestamp(root), new Compact(root),
    new CompactWhere(root), new RemoveOrphanFiles(root),
    new CompactSorted(root), new ZOrder(root),
    new ExpireSnapshots(root), new ExpireSnapshotsOlderThan(root),
    new BranchCreate(root),
    new FastForward(root), new BranchDrop(root), new BranchRetain(root),
    new ExpireBranches(root), new BranchExpireSnapshots(root),
    new RewriteManifests(root))

  def names: Seq[String] = Seq("purge_deletes", "restore",
    "restore_to_timestamp", "compact", "compact_where",
    "remove_orphan_files",
    "compact_sorted", "zorder",
    "expire_snapshots", "expire_snapshots_older_than", "branch_create",
    "fast_forward", "branch_drop",
    "branch_retain", "expire_branches", "branch_expire_snapshots",
    "rewrite_manifests")

  /** Resolve by name from any namespace (the `system` namespace by
    * convention, not enforcement — matching the catalog's function
    * resolution). */
  def load(ident: Identifier, root: String): UnboundProcedure =
    all(root).find(_.name() == ident.name().toLowerCase).getOrElse(
      throw new NoSuchElementException(
        s"procedure ${ident.name()} (available: ${names.mkString(", ")})"))
}
