package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path (round-6 verdict item 4 — SynthSource covers
  * the read surface; this is the other half of the connector story): a
  * local-directory table with an Iceberg-style MANIFEST-POINTER commit
  * protocol.
  *
  * Commit protocol (the part that matters at 100 TB, where the "file
  * system" is an object store with no atomic rename-into-directory):
  *   - every task ATTEMPT writes attempt-unique data files through the
  *     one task writer ([[GraftStorePartitionedWriter]], made by the one
  *     [[GraftStoreWriterFactory]]): `data/<kind>-<stamp>-<partition>-
  *     <task>[-e<epoch>][-p<n>].bin`, where kind is `part` (append,
  *     overwrite, streaming epoch), `rw` (copy-on-write rewrite) or `mor`
  *     (merge-on-read insert), `-e` marks a streaming epoch and `-p` a
  *     partitioned table's rolled file. The task id is unique per
  *     attempt within a Spark context, the per-write stamp across
  *     contexts, whose task ids restart at 0. The writer opens its first
  *     file at its first row, so a task that gets no rows writes none.
  *     Each task reports its files in its commit MESSAGE; nothing a task
  *     writes is visible to readers by virtue of existing on disk;
  *   - the driver's `commit(messages)` runs one prologue
  *     ([[GraftStore.committedEntries]]: the messages' files as entries,
  *     CHECK constraints proven from their stats), then writes a NEW
  *     manifest listing exactly the committed files (append = old list +
  *     new, truncate = new only) to a temp name, then ATOMIC_MOVEs it
  *     onto `_manifest`
  *     — the single atomic step; a reader sees the old table or the new
  *     table, never a mix. Data files never move or rename.
  *   - files from failed/duplicate/speculative attempts are simply never
  *     listed; `commit` garbage-collects any unreferenced files, and
  *     `abort` (job failure) deletes exactly the files its messages name.
  *   - Spark's OutputCommitCoordinator (`useCommitCoordinator` = true)
  *     guarantees at most one attempt per partition delivers a message,
  *     so duplicate attempts cannot BOTH be listed: exactly-once.
  *
  * Rows are stored as length-framed UnsafeRow bytes — Tungsten's own
  * binary layout, so ANY schema round-trips without a custom codec and
  * the reader rebuilds rows with zero parsing (the write side converts
  * non-unsafe rows with a reused UnsafeProjection).
  *
  * The Write implements RequiresDistributionAndOrdering: `clusterBy` /
  * `sortBy` options let the sink DEMAND a clustering+ordering from
  * Spark (the planner inserts the exchange/sort), so a key's rows land
  * in one data file in sorted order — the layout a downstream
  * partition-pruned reader wants, requested by the sink itself rather
  * than trusted to the caller (GraftStoreSpec proves per-file key
  * disjointness).
  *
  * Test hooks (batch writes): `failFirstAttemptOf=<partitionId>` makes
  * the FIRST attempt of that partition throw at the second row of its
  * file — the kill-one-task exactly-once proof (GraftStoreSpec): the
  * retried attempt's file is committed, the dead attempt's half-file is
  * GC'd, and the read-back equals the input exactly.
  * `failAllAttemptsOf=<partitionId>` fails every attempt, so the job
  * aborts (the abort-path proof). The factory hands both to every file
  * the task writer opens.
  */
object GraftStore {
  private[graft] val ManifestName = "_manifest"

  /** Two-thread daemon pool for overlapping a commit's INDEPENDENT Spark
    * jobs (the eq-delete sidecar write vs the scratch data write — guide
    * §2.6): actions are only sequential because the driver calls them
    * sequentially; submitting the second from another thread lets its
    * tasks back-fill the first job's tail. Daemon threads so a JVM
    * shutdown never hangs on the pool. */
  private lazy val commitPool = java.util.concurrent.Executors.newFixedThreadPool(
    2,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-commit-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  /** Per-file, per-column statistics for the numeric columns (int / long /
    * double): min and max over the file's NON-NULL values as type-faithful
    * strings (Long.toString / Double.toString round-trip exactly; empty
    * when every value is null) plus the null count. The manifest carries
    * one [[FileEntry]] per committed data file, which is what makes the
    * two Iceberg-style metadata operations possible with no data I/O:
    * scan-side FILE SKIPPING (a pushed filter disproves whole files) and
    * METADATA-ONLY DELETE (a predicate every file either entirely
    * satisfies or entirely misses = a manifest swap). */
  /** `mono` = the WRITER VERIFIED this column arrived nondecreasing with
    * no nulls while streaming the file's rows (one compare per row,
    * alongside the min/max update) — per-file sortedness as a proven
    * manifest fact, never a declared hope. Any set of individually-
    * monotonic columns is lexicographically sorted in any order (ties in
    * one column leave the others still globally nondecreasing), which is
    * what lets the scan advertise a reported ordering (see
    * GraftStoreScan.outputOrdering). Compaction concatenation drops the
    * flag (merged ranges may interleave); deletion vectors only remove
    * rows, so the flag survives them. */
  /** `sum` (round 11) = the file's EXACT wrap-around int64 sum over
    * non-null values of an int/long column (empty when unrecorded, when
    * the column is a double — FP addition is order-dependent, a
    * metadata fold could not reproduce Spark's result — or when every
    * value is null). Java `+` wraps exactly like Spark's non-ANSI
    * sum(long), and wrap-add is associative, so per-file partial sums
    * fold to the table sum in any order — which is what makes
    * metadata-only SUM (and grouped SUM) an exact answer, not an
    * estimate. */
  case class ColStats(min: String, max: String, nulls: Long,
      bloom: String = "", ndv: String = "", mono: Boolean = false,
      sum: String = "")

  /** Tiny per-file HyperLogLog NDV sketch (m=64 registers, 2 hex chars
    * each = 128 manifest chars per column), kept for every stats-bearing
    * column so the manifest can answer "how many distinct values" at
    * PLANNING time — the input Spark's cost-based optimizer needs for
    * equi-join cardinality estimates. Registers merge by max, so the
    * table-level NDV is a union of per-file sketches with no data I/O:
    * the ANALYZE TABLE full scan every warehouse schedules becomes a
    * fold over manifest lines (the Iceberg puffin/theta-sketch idea, in
    * miniature). Deterministic (seeded Murmur3 over the value bytes);
    * ~13%% standard error at m=64 — an ESTIMATE feeding the cost model,
    * never a query result. Deletion vectors only remove rows, so a DV'd
    * file's sketch stays a sound upper estimate. */
  private[graft] object NdvHll {
    val M = 64
    import scala.util.hashing.MurmurHash3
    def empty: Array[Byte] = new Array[Byte](M)
    def add(regs: Array[Byte], bytes: Array[Byte]): Unit = {
      val h = MurmurHash3.bytesHash(bytes, 0x2545f491)
      val idx = h & (M - 1)
      val w = h >>> 6 // remaining 26 bits
      val rank = (if (w == 0) 27 else Integer.numberOfTrailingZeros(w) + 1).toByte
      if (rank > regs(idx)) regs(idx) = rank
    }
    def addLong(regs: Array[Byte], v: Long): Unit = {
      val b = new Array[Byte](8)
      var i = 0; var x = v
      while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
      add(regs, b)
    }
    def hex(regs: Array[Byte]): String = regs.map(r => f"$r%02x").mkString
    def fromHex(s: String): Array[Byte] =
      Array.tabulate(M)(i => Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte)
    /** Per-register max — the HLL union (associative, order-free). */
    def mergeHex(a: String, b: String): String = {
      val (x, y) = (fromHex(a), fromHex(b))
      hex(Array.tabulate(M)(i => if (x(i) >= y(i)) x(i) else y(i)))
    }
    /** Standard HLL estimate with the small-range linear-counting
      * correction (alpha for m=64 per Flajolet et al.). */
    def estimate(regs: Array[Byte]): Long = {
      val alpha = 0.709
      var sum = 0.0; var zeros = 0
      var i = 0
      while (i < M) {
        sum += java.lang.Math.pow(2.0, -regs(i).toDouble)
        if (regs(i) == 0) zeros += 1
        i += 1
      }
      val raw = alpha * M * M / sum
      val est =
        if (raw <= 2.5 * M && zeros > 0) M * math.log(M.toDouble / zeros)
        else raw
      math.max(1L, math.round(est))
    }
  }

  /** Tiny per-file Bloom filter for STRING columns (256 bits, 2 probes,
    * Murmur3 over the UTF-8 bytes — deterministic across JVMs), carried
    * in the manifest as 64 hex chars in [[KeySketch]]'s word format.
    * Strings can't ride the min/max fields (arbitrary values would
    * collide with the tab-format delimiters) but a fixed-width hash
    * sketch can — and equality is
    * what string predicates overwhelmingly are. One-sided by
    * construction: absent ⇒ NoRows (skip the file), present ⇒ Unknown
    * (false positives just read the file; the residual filter still
    * runs) — the same contract parquet/Iceberg bloom filters have. At
    * ~100 distinct values per file the false-positive rate is ≈0.4%,
    * and a miss-heavy workload (needle-in-100TB lookups by id/url/hash)
    * skips almost every file from manifest lines alone. */
  private[sources] object StringBloom {
    private val Bits = 256
    import scala.util.hashing.MurmurHash3
    // `% Bits` of a non-negative int equals `& (Bits - 1)`: the same
    // position rule as KeySketch, so folding stays exact
    private def probes(bytes: Array[Byte]): (Int, Int) = (
      (MurmurHash3.bytesHash(bytes, 0x9747b28c) & 0x7fffffff) % Bits,
      (MurmurHash3.bytesHash(bytes, 0x5f3759df) & 0x7fffffff) % Bits)
    def empty: Array[Long] = new Array[Long](Bits / 64)
    def add(bits: Array[Long], bytes: Array[Byte]): Unit = {
      val (a, b) = probes(bytes)
      bits(a >> 6) |= 1L << (a & 63)
      bits(b >> 6) |= 1L << (b & 63)
    }
    def mightContain(hexStr: String, v: String): Boolean = {
      val (a, b) = probes(v.getBytes(StandardCharsets.UTF_8))
      KeySketch.bit(hexStr, a) && KeySketch.bit(hexStr, b)
    }
  }

  /** Per-file membership sketch for INT and LONG columns: the sibling of
    * [[StringBloom]] in the same `bloom` sub-field (numeric columns left
    * it empty before), so point lookups by id — `WHERE k = …`, `IN` —
    * skip every file that cannot hold the key even when each file's
    * min/max spans the whole key range (keys scattered over partitions).
    *
    * Format: 64-bit words as 16 hex chars each, bit `p` in word `p >> 6`;
    * a sketch of `m` bits (a power of two, [[MinBits]] to [[MaxBits]])
    * sets bits `(h1 + i*h2) & (m - 1)` for [[Probes]] probes, where h1
    * and h2 are seeded Murmur3 of the value AS A LONG — deterministic
    * across JVMs, and an int file and its int→long widened reading hash
    * alike. Because positions are masks, halving a sketch is an OR of
    * its two halves and keeps every set bit reachable: [[fold]] and
    * [[or]] stay exactly one-sided at any size.
    *
    * Sizing ([[bitsFor]]): the power of two nearest [[BitsPerKey]] bits
    * per distinct value (the file's HLL `ndv`, at most its rows), 7 to 14
    * bits a key, ≈1 % false positives (4 % at worst). The floor is 2048
    * bits, not less: below it a sketch saves fewer bytes than the line's
    * other stats hold, so a small file's line costs the same whatever its
    * row count (the manifest stays linear in files), and an OR of many
    * small files' sketches (child refs) still prunes. Only identifier-like
    * columns earn one — ndv at least half the file's rows; a low-ndv
    * column recurs in every file and would prune nothing — and none when
    * min == max (the range already decides) or when even the cap would
    * answer "maybe" for more than [[MaxFpr]] of absent keys (≈8k
    * distinct values per file). Writers build at the cap and fold down
    * at commit; compaction rebuilds from the packed rows (folding a big
    * file's sketch to a small one's size would saturate it).
    *
    * One-sided: absent ⇒ NoRows, present ⇒ Unknown, never AllRows. */
  private[graft] object KeySketch {
    val MinBits = 2048
    val MaxBits = 1 << 15
    private val Probes = 7
    private val BitsPerKey = 10
    private val MaxFpr = 0.25
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    @inline private def h1(v: Long): Int = Murmur3_x86_32.hashLong(v, 0x2f6b5c1d)
    // odd stride: with a power-of-two size the probes never cycle early
    @inline private def h2(v: Long): Int = Murmur3_x86_32.hashLong(v, 0x6a09e667) | 1

    /** A cap-sized sketch, the writers' build buffer. */
    def empty(bits: Int = MaxBits): Array[Long] = new Array[Long](bits / 64)

    def add(bits: Array[Long], v: Long): Unit = {
      val mask = bits.length * 64 - 1
      val a = h1(v); val b = h2(v)
      var i = 0
      while (i < Probes) {
        val p = (a + i * b) & mask
        bits(p >>> 6) |= 1L << (p & 63)
        i += 1
      }
    }

    private[sources] def bit(hexStr: String, p: Int): Boolean = {
      val w = (p >>> 6) * 16
      (java.lang.Long.parseUnsignedLong(hexStr.substring(w, w + 16), 16) &
        (1L << (p & 63))) != 0
    }

    def mightContain(hexStr: String, v: Long): Boolean = {
      val mask = hexStr.length * 4 - 1
      val a = h1(v); val b = h2(v)
      var i = 0
      while (i < Probes) {
        if (!bit(hexStr, (a + i * b) & mask)) return false
        i += 1
      }
      true
    }

    /** Expected false-positive rate of `n` keys in `m` bits. */
    def fpr(n: Double, m: Int): Double =
      math.pow(1 - math.exp(-Probes * n / m), Probes)

    /** The sketch size for an int/long column of a file with `rows` rows,
      * from its stats; 0 = the column gets no sketch. */
    def bitsFor(st: ColStats, rows: Long): Int =
      if (st.ndv.isEmpty || st.min.isEmpty || st.min == st.max || rows <= 0) 0
      else {
        val n = math.min(NdvHll.estimate(NdvHll.fromHex(st.ndv)), rows)
        if (2 * n < rows || fpr(n.toDouble, MaxBits) > MaxFpr) 0
        else {
          val want = math.min(n * BitsPerKey, MaxBits.toLong).toInt
          val below = Integer.highestOneBit(want)
          // nearest power of two, in the geometric sense
          val near = if (want.toLong * want > 2L * below * below) below << 1 else below
          math.min(MaxBits, math.max(MinBits, near))
        }
      }

    /** Halve `bits` down to `m` bits (OR of halves). */
    def fold(bits: Array[Long], m: Int): Array[Long] = {
      var cur = bits
      while (cur.length * 64 > m) {
        val half = cur.length / 2
        val c = cur
        cur = Array.tabulate(half)(i => c(i) | c(i + half))
      }
      cur
    }

    def hex(bits: Array[Long]): String = {
      val sb = new java.lang.StringBuilder(bits.length * 16)
      bits.foreach { l =>
        val h = java.lang.Long.toHexString(l)
        var pad = 16 - h.length
        while (pad > 0) { sb.append('0'); pad -= 1 }
        sb.append(h)
      }
      sb.toString
    }

    def words(hexStr: String): Array[Long] =
      Array.tabulate(hexStr.length / 16)(i =>
        java.lang.Long.parseUnsignedLong(hexStr.substring(16 * i, 16 * i + 16), 16))

    /** Bitwise OR of two sketches of the same value space (stats merges),
      * the larger folded to the smaller's size first. */
    def or(a: String, b: String): String = {
      val m = math.min(a.length, b.length) * 4
      val (x, y) = (fold(words(a), m), fold(words(b), m))
      hex(Array.tabulate(x.length)(i => x(i) | y(i)))
    }

    /** True when a merged sketch would answer "maybe" for more than
      * [[MaxFpr]] of absent keys: it costs manifest bytes and prunes
      * almost nothing. */
    def saturated(hexStr: String): Boolean = {
      val ws = words(hexStr)
      val set = ws.map(java.lang.Long.bitCount).sum.toDouble
      math.pow(set / (ws.length * 64), Probes) > MaxFpr
    }

    /** A power-of-two run of at least 256 bits (a [[StringBloom]]) in
      * lowercase hex (what [[hex]] writes), checked when a manifest line
      * is parsed. */
    def wellFormed(hexStr: String): Boolean = {
      val n = hexStr.length
      var ok = n >= 64 && (n & (n - 1)) == 0
      var i = 0
      while (ok && i < n) {
        val ch = hexStr.charAt(i)
        ok = (ch >= '0' && ch <= '9') || (ch >= 'a' && ch <= 'f')
        i += 1
      }
      ok
    }
  }

  /** `cols` = how many leading schema fields the file's rows physically
    * carry (UnsafeRow arity is baked into the bytes at write time). A
    * table that gained columns via ADD COLUMN has old files with fewer
    * — the reader null-pads them to the scan schema; -1 means "written
    * before arity tracking" and is treated as full-width.
    *
    * `dv` = relative path of the file's DELETION VECTOR sidecar (empty =
    * none): the merge-on-read DELETE representation. `rows` is always the
    * LIVE count (physical rows minus deleted positions), which keeps the
    * metadata-only COUNT answer exact; per-column min/max stay valid
    * BOUNDS over the live rows (deletion only shrinks the true range, so
    * skip decisions remain sound). An exact zero null count stays exact
    * (deletion cannot add nulls); a non-zero one becomes unknowable
    * without a rescan and is recorded as -1 — every consumer that needs
    * an exact null count (AllRows pruning, metadata COUNT(col)/MIN/MAX,
    * cluster-like detection) degrades conservatively on -1.
    *
    * `addedv` = the snapshot version whose commit ADDED this file (0 =
    * written before tracking, or while the table carried no equality
    * deletes). Only equality-delete applicability reads it: a delete
    * committed at seq `d` applies to a file iff `addedv < d` — files
    * born in the same commit as the delete (CDC upsert's inserts) or
    * later are exempt, everything older is filtered. 0 is the
    * conservative floor: an untracked file predates every delete. */
  case class FileEntry(file: String, rows: Long, stats: Map[String, ColStats],
      cols: Int = -1, dv: String = "", addedv: Long = 0L,
      narrow: Seq[Int] = Seq.empty, nested: Seq[Int] = Seq.empty)

  /** A `narrow` marker packs (ordinal, conversion kind) in one int: low
    * 24 bits = ordinal, high 8 = kind. Kind 0 is the original int→long
    * sign-extension, so every pre-round-14 manifest (bare ordinals)
    * parses unchanged. The other kinds are the round-14 widenings —
    * each is a lossless promotion whose fix-up rewrites the 8-byte
    * UnsafeRow slot in place exactly like kind 0 does. (Kind 1,
    * long→double, is lossless only within ±2^53 — [[widenColumn]]
    * admits it solely for files whose min/max stats prove the bound,
    * so a committed marker is always exact.) */
  final val NarrowIntToLong = 0
  final val NarrowLongToDouble = 1
  final val NarrowFloatToDouble = 2
  final val NarrowIntToDouble = 3
  @inline def packNarrow(ord: Int, kind: Int): Int = ord | (kind << 24)
  @inline def narrowOrd(m: Int): Int = m & 0xffffff
  @inline def narrowKind(m: Int): Int = m >>> 24
  private[sources] def fmtNarrow(m: Int): String =
    if (narrowKind(m) == 0) narrowOrd(m).toString
    else s"${narrowOrd(m)}@${narrowKind(m)}"
  private[sources] def parseNarrow(s: String): Int = {
    val at = s.indexOf('@')
    if (at < 0) s.toInt
    else packNarrow(s.substring(0, at).toInt, s.substring(at + 1).toInt)
  }

  /** A `nested` marker records how a file's STRUCT column bytes differ
    * from the current struct type. Three kinds share the `nested` list
    * (round 15 pads; round 16 skips + widens):
    *   - PAD `ord@arity` (bits 31-30 = 00): the bytes carry `arity`
    *     fields — fewer than the schema after a nested ADD; the reader
    *     answers null beyond.
    *   - SKIP `ord!phys` (bits 31-30 = 10): the bytes still carry a
    *     DROPPED subfield at physical position `phys`; the reader maps
    *     logical positions past it (positional skip — the dropped
    *     bytes are never touched, so their type needn't be known).
    *   - WIDEN `ord~phys` (bits 31-30 = 11): the bytes hold a LONG at
    *     `phys` where the schema now says DOUBLE; the reader converts
    *     on access (a nested UnsafeRow slot is 8 bytes either way, but
    *     long bits are not double bits — unlike the top-level int→long
    *     sign-extension this needs a value conversion, hence a marker
    *     kind, not a lane re-read).
    * All three need a per-access wrapper ([[GraftNestedPadRow]] /
    * [[GraftStructEvolveView]]) because a nested UnsafeRow's layout
    * bakes its field count into the bytes — a JoinedRow can't reach
    * inside. */
  @inline def packNested(ord: Int, arity: Int): Int = ord | (arity << 16)
  @inline def packNestedSkip(ord: Int, phys: Int): Int =
    0x80000000 | ord | (phys << 16)
  @inline def packNestedWiden(ord: Int, phys: Int): Int =
    0xC0000000 | ord | (phys << 16)
  @inline def nestedOrd(m: Int): Int = m & 0xffff
  /** PAD marker's byte arity (call only on pad markers). */
  @inline def nestedArity(m: Int): Int = m >>> 16
  /** SKIP/WIDEN marker's physical field position. */
  @inline def nestedPhys(m: Int): Int = (m >>> 16) & 0x3fff
  @inline def nestedIsPad(m: Int): Boolean = (m & 0x80000000) == 0
  @inline def nestedIsSkip(m: Int): Boolean = (m >>> 30) == 2
  @inline def nestedIsWiden(m: Int): Boolean = (m >>> 30) == 3
  private[sources] def fmtNested(m: Int): String =
    if (nestedIsSkip(m)) s"${nestedOrd(m)}!${nestedPhys(m)}"
    else if (nestedIsWiden(m)) s"${nestedOrd(m)}~${nestedPhys(m)}"
    else s"${nestedOrd(m)}@${nestedArity(m)}"
  private[sources] def parseNested(s: String): Int = {
    val bang = s.indexOf('!')
    val tilde = s.indexOf('~')
    if (bang >= 0)
      packNestedSkip(s.substring(0, bang).toInt, s.substring(bang + 1).toInt)
    else if (tilde >= 0)
      packNestedWiden(s.substring(0, tilde).toInt, s.substring(tilde + 1).toInt)
    else {
      val at = s.indexOf('@')
      packNested(s.substring(0, at).toInt, s.substring(at + 1).toInt)
    }
  }

  /** One EQUALITY-DELETE file (the Iceberg-v2 equality-delete design):
    * `file` is a sidecar (under data/) holding a set of key TUPLES over
    * `cols`; every data file with `addedv < seq` hides its rows whose
    * key tuple is in the set. Written by CDC-shaped writers
    * ([[deleteByKey]] / [[upsertByKey]]) that must delete by KEY without
    * reading any data file — write cost ∝ batch, zero data-file I/O,
    * the pure-append ingest shape a 100 TB streaming upsert needs
    * (position deletes would first have to FIND the rows: a table
    * scan per batch). Read cost: files born before the delete probe a
    * hash set per row; [[purgeDeletes]] folds the sets back into clean
    * files and bounds the accumulation. */
  case class EqDelete(file: String, seq: Long, cols: Seq[String])

  // file<TAB>rows<TAB>col=min:max:nulls;col2=...<TAB>cols<TAB>dv —
  // ':'/';'/'=' cannot occur inside Long/Double.toString, and
  // stats-bearing column names are restricted to ones without the
  // delimiters (others just carry no stats); the 4th field is absent in
  // pre-evolution manifests, the 5th only present when the file carries
  // a deletion vector (trailing empty fields don't survive split).
  // Per-column sub-fields: min:max:nulls[:bloom[:ndv[:mono[:sum]]]] —
  // bloom is the membership sketch (StringBloom for strings, KeySketch
  // for identifier-like int/long columns, empty otherwise), ndv the
  // HLL hex, mono the writer-verified sortedness marker (emitted as "1"
  // only when true; an empty slot when a later field follows), sum the
  // exact wrap-around int64 sum (round 11; emitted only when recorded).
  // A column with an ndv but no bloom writes the empty bloom explicitly
  // (interior empty fields DO survive split).
  private def fmtEntry(e: FileEntry): String = {
    val st = e.stats.toSeq.sortBy(_._1)
      .map { case (c, s) =>
        val b =
          if (s.sum.nonEmpty)
            s":${s.bloom}:${s.ndv}:${if (s.mono) "1" else ""}:${s.sum}"
          else if (s.mono) s":${s.bloom}:${s.ndv}:1"
          else if (s.ndv.nonEmpty) s":${s.bloom}:${s.ndv}"
          else if (s.bloom.nonEmpty) s":${s.bloom}"
          else ""
        s"$c=${s.min}:${s.max}:${s.nulls}$b"
      }.mkString(";")
    // field 6 (addedv) only when tracked — entries at 0 keep the old
    // byte format; an interior empty dv field survives split. Field 7
    // (narrow: ordinals whose physical lane is int under a widened long
    // schema) forces fields 5-6 explicit when present.
    val dvf =
      if (e.nested.nonEmpty)
        s"\t${e.dv}\t${e.addedv}\t${e.narrow.map(fmtNarrow).mkString(",")}" +
          s"\t${e.nested.map(fmtNested).mkString(",")}"
      else if (e.narrow.nonEmpty)
        s"\t${e.dv}\t${e.addedv}\t${e.narrow.map(fmtNarrow).mkString(",")}"
      else if (e.addedv > 0L) s"\t${e.dv}\t${e.addedv}"
      else if (e.dv.isEmpty) "" else s"\t${e.dv}"
    s"${e.file}\t${e.rows}\t$st\t${e.cols}$dvf"
  }

  private def parseEntry(line: String): FileEntry = line.split('\t') match {
    case Array(f) => FileEntry(f, -1L, Map.empty) // pre-stats manifest line
    case parts =>
      val stats = if (parts.length < 3 || parts(2).isEmpty) Map.empty[String, ColStats]
      else parts(2).split(';').map { kv =>
        val Array(c, v) = kv.split('=')
        val cs = v.split(':') match {
          case Array(mn, mx, nulls) => c -> ColStats(mn, mx, nulls.toLong)
          case Array(mn, mx, nulls, bloom) =>
            c -> ColStats(mn, mx, nulls.toLong, bloom)
          case Array(mn, mx, nulls, bloom, ndv) =>
            c -> ColStats(mn, mx, nulls.toLong, bloom, ndv)
          case Array(mn, mx, nulls, bloom, ndv, mono) =>
            c -> ColStats(mn, mx, nulls.toLong, bloom, ndv, mono == "1")
          case Array(mn, mx, nulls, bloom, ndv, mono, sum) =>
            c -> ColStats(mn, mx, nulls.toLong, bloom, ndv, mono == "1", sum)
        }
        // a sketch decides which files a lookup skips: a damaged one must
        // fail the read, never prune at random
        val bloom = cs._2.bloom
        if (bloom.nonEmpty && !KeySketch.wellFormed(bloom))
          throw new IllegalStateException(
            s"malformed membership sketch for column '$c' of ${parts(0)} in " +
              s"the manifest (${bloom.length} chars; expected a power-of-two " +
              "run of lowercase hex, at least 64)")
        cs
      }.toMap
      FileEntry(parts(0), parts(1).toLong, stats,
        if (parts.length >= 4) parts(3).toInt else -1,
        if (parts.length >= 5) parts(4) else "",
        if (parts.length >= 6) parts(5).toLong else 0L,
        if (parts.length >= 7 && parts(6).nonEmpty)
          parts(6).split(',').map(parseNarrow).toSeq
        else Seq.empty,
        if (parts.length >= 8 && parts(7).nonEmpty)
          parts(7).split(',').map(parseNested).toSeq
        else Seq.empty)
  }

  /** Deletion-vector sidecar: Int count + sorted Long physical row
    * ordinals, written atomically (tmp + move). A DV is CUMULATIVE —
    * each DELETE writes a fresh sidecar holding the union of every
    * deleted position for its file, so one manifest field suffices and
    * the row-level change between two snapshots is the set difference
    * of their sidecars. Positions are physical (pre-deletion) ordinals:
    * what the reader's frame counter sees, stable across any number of
    * later deletes. */
  private[sources] object Dv {
    def write(abs: String, positions: Array[Long]): Unit = {
      val tmp = Paths.get(abs + ".tmp" + java.util.UUID.randomUUID().toString.take(8))
      val out = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(tmp.toFile)))
      out.writeInt(positions.length)
      positions.foreach(out.writeLong)
      out.close()
      Files.move(tmp, Paths.get(abs), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    def read(abs: String): Array[Long] = {
      val in = new DataInputStream(new BufferedInputStream(
        new FileInputStream(abs)))
      try {
        val n = in.readInt()
        Array.fill(n)(in.readLong())
      } finally in.close()
    }
    def bitset(abs: String): java.util.BitSet = {
      val bs = new java.util.BitSet()
      read(abs).foreach(p => bs.set(p.toInt))
      bs
    }

    /** Writes `file`'s new vector to `rel`: the union of its current
      * sidecar `oldRel` ("" for none) and the `added` positions (DVs
      * are cumulative — one sidecar per file, ever). Paths are relative
      * to the table root `path`. */
    def merge(path: String, file: String, oldRel: String, added: Iterable[Long],
        rel: String): GraftStoreDvSummary = {
      val oldPos =
        if (oldRel.isEmpty) Array.empty[Long]
        else read(new File(path, oldRel).getPath)
      val merged = (oldPos ++ added).distinct.sorted
      write(new File(path, rel).getPath, merged)
      GraftStoreDvSummary(file, rel, (merged.length - oldPos.length).toLong)
    }

    /** The entries once the merged vectors `byFile` commit: each named
      * entry gets its new `dv`, its live row count and stats through
      * [[statsAfterDelete]]; an entry with no live row left is dropped. */
    def applyTo(entries: Seq[FileEntry], byFile: Map[String, GraftStoreDvSummary])
      : Seq[FileEntry] =
      entries.flatMap { e =>
        byFile.get(e.file) match {
          case Some(d) =>
            val live = e.rows - d.newlyDeleted
            if (live <= 0) None
            else Some(e.copy(rows = live, dv = d.dvRel,
              stats = statsAfterDelete(e.stats)))
          case None => Some(e)
        }
      }
  }

  /** Equality-delete sidecar: a set of key TUPLES, written atomically.
    * Layout: int nCols, nCols tag bytes ('L' integral, 'S' string), then
    * tuples until EOF (L = long; S = int byteLen + utf8 bytes). Tuples
    * are held and probed as canonical encoded strings — longs as
    * decimal digits, strings length-prefixed (`len:bytes`, so a string
    * of digits can never alias a long), columns joined by a space.
    * Sidecars are immutable once committed (uuid-stamped names), so
    * executors cache parsed sets per JVM ([[EqSet.cached]]) — a 32-task
    * scan loads each batch's set once, not 32 times. */
  private[sources] object EqSet {
    val TagLong: Byte = 'L'
    val TagString: Byte = 'S'

    def encodeLong(v: Long): String = v.toString
    def encodeString(s: String): String = s"${s.length}:$s"

    def write(abs: String, tags: Array[Byte],
        tuples: Iterator[Array[Any]]): Long = {
      val tmp = Paths.get(abs + ".tmp" + java.util.UUID.randomUUID().toString.take(8))
      val out = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(tmp.toFile)))
      var n = 0L
      try {
        out.writeInt(tags.length)
        tags.foreach(out.writeByte(_))
        tuples.foreach { t =>
          var i = 0
          while (i < tags.length) {
            tags(i) match {
              case TagLong => out.writeLong(t(i).asInstanceOf[Long])
              case TagString =>
                val b = t(i).asInstanceOf[String].getBytes(StandardCharsets.UTF_8)
                out.writeInt(b.length); out.write(b)
            }
            i += 1
          }
          n += 1
        }
      } finally out.close()
      Files.move(tmp, Paths.get(abs), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      n
    }

    def read(abs: String): java.util.HashSet[String] = {
      val in = new DataInputStream(new BufferedInputStream(
        new FileInputStream(abs)))
      val set = new java.util.HashSet[String]()
      try {
        val nCols = in.readInt()
        val tags = Array.fill(nCols)(in.readByte())
        val sb = new java.lang.StringBuilder()
        // committed sidecars end exactly on a tuple boundary, so EOF
        // can only surface at a tuple's first read
        try {
          while (true) {
            sb.setLength(0)
            var i = 0
            while (i < nCols) {
              if (i > 0) sb.append(' ')
              tags(i) match {
                case TagLong => sb.append(encodeLong(in.readLong()))
                case TagString =>
                  val b = new Array[Byte](in.readInt()); in.readFully(b)
                  sb.append(encodeString(new String(b, StandardCharsets.UTF_8)))
              }
              i += 1
            }
            set.add(sb.toString)
          }
        } catch { case _: java.io.EOFException => () }
      } finally in.close()
      set
    }

    // executor-JVM parsed-set LRU (sidecars are immutable; 64 batches)
    private val cache =
      new java.util.LinkedHashMap[String, java.util.HashSet[String]](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, java.util.HashSet[String]]): Boolean =
          size() > 64
      }
    def cached(abs: String): java.util.HashSet[String] = cache.synchronized {
      val hit = cache.get(abs)
      if (hit != null) hit
      else { val s = read(abs); cache.put(abs, s); s }
    }
  }

  /** One snapshot manifest: the whole state of a table at one version,
    * and the one record every reader and every commit goes through.
    * Read and written only on the driver. On disk it is UTF-8 text, one
    * item per line, in this order:
    *   - the schema, as DDL;
    *   - `!version=<n>`: the snapshot id, the `n` of `_manifest.v<n>`;
    *   - `!uid=<uuid>`: unique per manifest write, the parse cache's key
    *     (see [[manifestCache]]);
    *   - `!ts=<millis>`: the commit time, strictly increasing along a
    *     lineage; TIMESTAMP AS OF resolves on it;
    *   - `!stats=2`: the stats format version. Without it, every
    *     DoubleType column's stats are dropped at parse (`demoted`, see
    *     [[StatsFormatVersion]]);
    *   - `!op=<kind>`: the commit kind ("create", "append", "overwrite",
    *     "delete", "replace" for copy-on-write DML, "optimize",
    *     "evolve…", "restore(v<n>)", …). The change feed tells a
    *     compaction from an overwrite by it; absent before op tracking;
    *   - `!epoch=<n>`: the last streaming epoch committed, the sink's
    *     replay marker;
    *   - `!txn=<app>:<version>`, one per writer application: the highest
    *     idempotent-write version it committed (`txnAppId`/`txnVersion`);
    *   - `!eqdel=<seq>\t<file>\t<cols>`, one per live [[EqDelete]];
    *   - one [[FileEntry]] line per data file (`fmtEntry`), or, past the
    *     shard threshold, one `!clist=` [[ChildRef]] line per child
    *     manifest that holds those lines.
    * A `!` line this build does not know is skipped. `entries` are the
    * inline entry lines; [[files]] adds the children's. A commit maps
    * its base record to the next one with `copy` ([[commit]]), so the
    * epoch, the txn watermarks and the equality deletes carry forward
    * unless the commit sets them. The epoch and the txn watermarks are
    * writer watermarks, not table content: they survive TRUNCATE,
    * overwrites, `restore`, `publish` and `fastForward` too, so a sink
    * replaying an epoch after a reset stays a no-op. */
  private[graft] case class Manifest(schema: StructType, version: Long = 0L,
      uid: String = "", ts: Long = 0L, op: String = "",
      epoch: Option[Long] = None, txns: Map[String, Long] = Map.empty,
      eqDels: Seq[EqDelete] = Seq.empty, entries: Seq[FileEntry] = Seq.empty,
      children: Seq[ChildRef] = Seq.empty, demoted: Set[String] = Set.empty) {
    /** Every live file of this manifest, read from table directory `dir`:
      * the inline entries, then each child's entries in listed order. A
      * pruned scan passes `keep` to leave children unopened. */
    def files(dir: String, keep: ChildRef => Boolean = _ => true): Seq[FileEntry] =
      if (children.isEmpty) entries
      else entries ++ children.filter(keep).flatMap { c =>
        val es = readChildEntries(new File(dir), c.file)
        // children inherit the parent's stats version
        if (demoted.isEmpty) es else es.map(e => e.copy(stats = e.stats -- demoted))
      }
  }

  /** The manifest codec: `parse` and `fmt` are exact inverses on records
    * (`parse(fmt(m)) == m`), and `header` is the bounded read behind the
    * cache key, [[readVersion]] and the timestamp lookups. */
  private[graft] object Manifest {
    private val Version = "!version="
    private val Uid = "!uid="
    private val Ts = "!ts="
    private val Stats = "!stats="
    private val Op = "!op="
    private val Epoch = "!epoch="
    private val Txn = "!txn="
    private val EqDel = "!eqdel="
    private val CList = "!clist="

    def parse(text: String): Option[Manifest] = {
      val lines = text.split('\n').iterator.filter(_.nonEmpty)
      if (!lines.hasNext) return None
      var m = Manifest(StructType.fromDDL(lines.next()))
      var statsV = 1L
      val eqDels = Vector.newBuilder[EqDelete]
      val entries = Vector.newBuilder[FileEntry]
      val children = Vector.newBuilder[ChildRef]
      lines.foreach { l =>
        if (!l.startsWith("!")) entries += parseEntry(l)
        else if (l.startsWith(CList)) {
          // a ref line is a FileEntry line: nfiles in the cols slot, the
          // cell tag in the dv slot
          val e = parseEntry(l.substring(CList.length))
          children += ChildRef(e.file, e.cols.toLong, e.rows, e.stats, e.dv)
        } else if (l.startsWith(EqDel)) {
          val Array(seq, file, cols) = l.substring(EqDel.length).split('\t')
          eqDels += EqDelete(file, seq.toLong, cols.split(',').toSeq)
        } else if (l.startsWith(Stats)) statsV = l.substring(Stats.length).toLong
        else m = withHeader(m, l)
      }
      // pre-NaN-fix double stats are untrustworthy (see
      // StatsFormatVersion); the child refs' folds and the entries inside
      // the children were written by the same writer, so they go too
      val demoted =
        if (statsV >= StatsFormatVersion) Set.empty[String]
        else m.schema.fields
          .filter(_.dataType == org.apache.spark.sql.types.DoubleType)
          .map(_.name).toSet
      val es = entries.result()
      val cs = children.result()
      Some(m.copy(eqDels = eqDels.result(), demoted = demoted,
        entries =
          if (demoted.isEmpty) es else es.map(e => e.copy(stats = e.stats -- demoted)),
        children =
          if (demoted.isEmpty) cs else cs.map(c => c.copy(stats = c.stats -- demoted))))
    }

    private def withHeader(m: Manifest, l: String): Manifest =
      if (l.startsWith(Version)) m.copy(version = l.substring(Version.length).toLong)
      else if (l.startsWith(Uid)) m.copy(uid = l.substring(Uid.length))
      else if (l.startsWith(Ts)) m.copy(ts = l.substring(Ts.length).toLong)
      else if (l.startsWith(Op)) m.copy(op = l.substring(Op.length))
      else if (l.startsWith(Epoch))
        m.copy(epoch = Some(l.substring(Epoch.length).toLong))
      else if (l.startsWith(Txn)) {
        val kv = l.substring(Txn.length)
        val i = kv.lastIndexOf(':')
        m.copy(txns = m.txns + (kv.take(i) -> kv.drop(i + 1).toLong))
      } else m

    def fmt(m: Manifest): String = {
      val out = Seq.newBuilder[String]
      out += m.schema.toDDL
      out += s"$Version${m.version}"
      out += s"$Uid${m.uid}"
      out += s"$Ts${m.ts}"
      if (m.demoted.isEmpty) out += s"$Stats$StatsFormatVersion"
      if (m.op.nonEmpty) out += s"$Op${m.op}"
      m.epoch.foreach(e => out += s"$Epoch$e")
      m.txns.toSeq.sortBy(_._1).foreach { case (app, v) => out += s"$Txn$app:$v" }
      m.eqDels.foreach(d =>
        out += s"$EqDel${d.seq}\t${d.file}\t${d.cols.mkString(",")}")
      m.entries.foreach(e => out += fmtEntry(e))
      m.children.foreach(c => out += CList + fmtEntry(
        FileEntry(c.file, c.rows, c.stats, cols = c.nfiles.toInt, dv = c.cell)))
      out.result().mkString("\n")
    }

    /** The header fields of the manifest at `f` (version, uid, ts, op,
      * epoch, txns), read up to the first line that names a file and
      * never further; the schema is left empty. None if there is no
      * readable manifest at `f`. */
    def header(f: File): Option[Manifest] = {
      val in =
        try Files.newBufferedReader(f.toPath, StandardCharsets.UTF_8)
        catch { case _: java.io.IOException => return None }
      try {
        if (in.readLine() == null) return None // schema DDL
        var m = Manifest(new StructType())
        var l = in.readLine()
        while (l != null && l.startsWith("!") && !l.startsWith(EqDel) &&
            !l.startsWith(CList)) {
          m = withHeader(m, l)
          l = in.readLine()
        }
        Some(m)
      } catch { case _: java.io.IOException => None } finally in.close()
    }
  }

  // ------------------------------------------------ manifest SHARDING
  // (round 18, verdict item 1): past a threshold the snapshot manifest
  // stops inlining FileEntry lines and becomes a MANIFEST LIST — the
  // Iceberg two-level metadata layout. Each `!clist=` header line
  // references one immutable CHILD manifest (plain fmtEntry lines, no
  // headers) holding the entries of one partition cell (chunked at the
  // threshold), and carries the child's AGGREGATED column stats so a
  // partition-pruned scan can disprove whole children from the parent
  // alone — planning then opens only the matching children, which is
  // what keeps 100 TB metadata reads proportional to the partitions a
  // query touches, not the table. Children are CONTENT-ADDRESSED
  // (`_mchild.<sha1>`): an append that touches 1 of N partitions
  // regroups the other N-1 cells byte-identically, hits the existing
  // name, and skips the write — incremental metadata cost without any
  // manifest-diff protocol. The commit point is unchanged: children
  // land BEFORE the parent's link(2) claim and are invisible until a
  // committed parent lists them (exactly the data-file rule), so the
  // atomic-swap / CAS / time-travel / CDF semantics hold verbatim.
  private[graft] val ChildPrefix = "_mchild."

  /** Root-level staging prefixes for atomic metadata writes — ONE
    * definition shared by the write sites and gcUnreferenced's
    * crash-residue sweep (a renamed staging prefix must move the sweep
    * with it or crash residue silently stops being reclaimed). */
  private[graft] val ManifestTmpPrefix = ".manifest.tmp."
  private[graft] val ChildTmpPrefix = ".mchild.tmp."
  private[graft] val PartitionTmpPrefix = ".partition.tmp."
  private[graft] val DefaultShardThreshold = 4096

  /** Entries-per-manifest shard trigger AND per-child chunk bound.
    * Session-configurable (`spark.graft.manifest.shardThreshold`) so
    * ingest jobs can tune it and specs can force sharding small. */
  private[sources] def shardThreshold: Int =
    org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(_.conf.getOption("spark.graft.manifest.shardThreshold"))
      .map { v =>
        // validate BEFORE the commit path consumes it: a bare .toInt
        // NumberFormatException or a grouped(<=0) IllegalArgumentException
        // would otherwise abort a commit midway, after child files were
        // already written (orphans until GC) — r18 review
        val n =
          try v.trim.toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              "spark.graft.manifest.shardThreshold must be a positive " +
                s"integer, got '$v'") }
        require(n >= 1,
          s"spark.graft.manifest.shardThreshold must be >= 1, got $n")
        n
      }.getOrElse(DefaultShardThreshold)

  /** One `!clist=` reference: child file name, how many entries it
    * holds, their live-row sum, per-column stats aggregated over them
    * (only columns EVERY member carries, merged type-faithfully — see
    * [[mergeChildStats]]; absence of a column = Unknown = the child is
    * opened, never wrongly skipped), and the child's partition-CELL tag
    * — what lets an APPEND commit reuse untouched cells' refs without
    * re-deriving cells from their entries. Tags: `c:<rendered-cell>`
    * (provable cell; `c:` alone = the unpartitioned single group),
    * `u` (catch-all of unprovable-cell files), `` (legacy ref written
    * before tags — disables the append fast path, never correctness). */
  private[graft] case class ChildRef(file: String, nfiles: Long, rows: Long,
      stats: Map[String, ColStats], cell: String = "")

  private def cellTag(k: Option[String]): String = k.fold("u")("c:" + _)

  /** Child-level stats = the per-column fold of the members' stats,
    * kept only where the fold is PROVABLY sound for the tri-state
    * evaluator: numeric/temporal min-max folds by the column's own
    * comparison (keeping the original strings — no reformat drift;
    * doubles via Double.compare, so an any-member NaN max and an
    * all-member NaN min merge exactly like the v2 writer records them),
    * null counts sum, HLL registers union, exact sums wrap-add.
    * Anything unprovable — a member missing the column, unknown null
    * counts, a non-schema pseudo-stat with differing values — drops the
    * column (or field) from the child: Unknown, the child is read. Mono
    * never survives (children interleave files); membership sketches OR
    * together, and an integral one that the OR saturates is dropped. */
  private def mergeChildStats(schema: StructType,
      es: Seq[FileEntry]): Map[String, ColStats] = {
    import org.apache.spark.sql.types._
    if (es.isEmpty) return Map.empty
    val shared = es.map(_.stats.keySet).reduce(_ intersect _)
    shared.iterator.flatMap { c =>
      val sts = es.map(_.stats(c))
      if (sts.exists(_.nulls < 0)) None
      else {
        val nulls = sts.map(_.nulls).sum
        val nonEmpty = sts.filter(_.min.nonEmpty)
        val kind: Option[Int] = schema.fields.find(_.name == c).map(_.dataType) match {
          case Some(IntegerType | LongType | DateType |
                    TimestampType | TimestampNTZType) => Some(0)
          case Some(DoubleType) => Some(1)
          case _ => None
        }
        val mm: Option[(String, String)] = kind match {
          case _ if nonEmpty.isEmpty => Some(("", "")) // all members all-null
          case Some(0) =>
            Some((nonEmpty.map(_.min).minBy(_.toLong),
              nonEmpty.map(_.max).maxBy(_.toLong)))
          case Some(_) =>
            val ord = Ordering.fromLessThan[String]((a, b) =>
              java.lang.Double.compare(a.toDouble, b.toDouble) < 0)
            Some((nonEmpty.map(_.min).min(ord), nonEmpty.map(_.max).max(ord)))
          case None =>
            // string columns (min/max always empty — handled above) and
            // pseudo-stats (derived bucket): sound only when every
            // member pins the SAME value
            val pairs = sts.map(s => (s.min, s.max)).distinct
            if (pairs.size == 1) Some(pairs.head) else None
        }
        mm.map { case (mn, mx) =>
          val ndv = if (sts.forall(_.ndv.nonEmpty))
            sts.map(_.ndv).reduce(NdvHll.mergeHex) else ""
          val sum = if (sts.forall(_.sum.nonEmpty))
            sts.map(_.sum.toLong).foldLeft(0L)(_ + _).toString else ""
          // membership sketches OR together (folded to the smallest
          // member's size), so a point predicate can skip whole children;
          // many members' keys saturate an integral sketch, which then
          // costs parent bytes and prunes nothing
          val ored = if (sts.forall(_.bloom.nonEmpty))
            sts.map(_.bloom).reduce(KeySketch.or) else ""
          val bloom =
            if (ored.nonEmpty && kind.contains(0) && KeySketch.saturated(ored)) ""
            else ored
          c -> ColStats(mn, mx, nulls, bloom = bloom, ndv = ndv,
            mono = false, sum = sum)
        }
      }
    }.toMap
  }

  private def sha1hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(bytes)
      .map(b => f"$b%02x").mkString

  /** fmtEntry calls made by the sharding writer (test hook): the append
    * fast path's observable — an append to one cell must format ~the
    * appended entries, never the whole table. */
  private[graft] val shardFmtEntries = new java.util.concurrent.atomic.AtomicLong

  /** Refresh a reused/carried child's mtime so the GC grace window
    * treats it exactly like a freshly written file. `setLastModified`
    * returns false on filesystems where it fails or is unsupported —
    * silently ignoring that would degrade the committed-snapshot-vs-GC
    * race protection (r18 review), so on failure the file is REWRITTEN
    * in place (identical bytes, tmp + ATOMIC_MOVE onto the same
    * content-addressed name — benign by construction), which installs a
    * fresh mtime reliably; if even that fails, fail loudly. */
  private def refreshChildMtime(f: File): Unit = {
    if (!f.setLastModified(System.currentTimeMillis())) {
      val tmp = Paths.get(f.getParent,
        s"$ChildTmpPrefix${java.util.UUID.randomUUID()}")
      // catch every failure shape, not just IOException: the
      // ATOMIC_MOVE+REPLACE_EXISTING combination is implementation-
      // specific per Files.move, so a provider may throw
      // UnsupportedOperationException — that too must surface as the
      // loud GC-grace explanation, and the tmp file must not leak
      try {
        Files.write(tmp, Files.readAllBytes(f.toPath))
        Files.move(tmp, f.toPath, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } catch { case e: Exception =>
        try Files.deleteIfExists(tmp) catch { case _: Exception => }
        throw new IllegalStateException(
          s"cannot refresh GC-grace mtime of reused manifest child $f — " +
            "a concurrent snapshot expiry could sweep it before the " +
            "commit claims it", e)
      }
    }
  }

  /** Write one cell-chunk as a content-addressed child (skip if the
    * name exists) and return its ref. */
  private def writeChunk(path: String, schema: StructType,
      chunk: Seq[FileEntry], tag: String): ChildRef = {
    shardFmtEntries.addAndGet(chunk.size.toLong)
    val content = chunk.map(fmtEntry).mkString("\n")
      .getBytes(StandardCharsets.UTF_8)
    val name = ChildPrefix + sha1hex(content)
    val target = Paths.get(path, name)
    if (!Files.exists(target)) {
      val tmp = Paths.get(path, s"$ChildTmpPrefix${java.util.UUID.randomUUID()}")
      Files.write(tmp, content)
      // two writers racing on identical content move identical bytes
      // onto the same name — REPLACE_EXISTING is benign by construction
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      // REUSED child: refresh its mtime so the GC grace window protects
      // it exactly like a freshly written file — without this, a commit
      // reusing a child referenced only by about-to-expire snapshots
      // (restore to an old version racing a concurrent expiry) could
      // see the sweep delete it between this existence check and the
      // manifest claim, bricking the committed snapshot (r18 review)
      refreshChildMtime(target.toFile)
    }
    ChildRef(name, chunk.size.toLong,
      chunk.map(e => math.max(e.rows, 0L)).sum,
      mergeChildStats(schema, chunk), cell = tag)
  }

  private def groupByCell(path: String, schema: StructType,
      files: Seq[FileEntry]): java.util.LinkedHashMap[String,
        scala.collection.mutable.ArrayBuffer[FileEntry]] = {
    val terms = readPartitionTerms(path)
    def keyOf(e: FileEntry): Option[String] =
      if (terms.isEmpty) Some("")
      else {
        val cells = terms.map(derivedCellOf(schema, _, e))
        if (cells.forall(_.isDefined)) Some(cells.flatten.mkString("/")) else None
      }
    val groups = new java.util.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[FileEntry]]()
    files.foreach { e =>
      val k = cellTag(keyOf(e))
      var b = groups.get(k)
      if (b == null) { b = scala.collection.mutable.ArrayBuffer.empty; groups.put(k, b) }
      b += e
    }
    groups
  }

  /** Group `files` into per-partition-cell children (first-appearance
    * order, preserving within-cell entry order — for the clustered
    * writes this format produces, the flattened read-back is the exact
    * original sequence), chunk each cell at the threshold, write any
    * child whose content-addressed name doesn't exist yet, and return
    * their refs. Unprovable-cell files (pre-spec history,
    * compaction-merged cells) group into one catch-all child —
    * degraded honestly: it merely never prunes. */
  private def shardEntries(path: String, schema: StructType,
      files: Seq[FileEntry], threshold: Int): Seq[ChildRef] = {
    import scala.jdk.CollectionConverters._
    groupByCell(path, schema, files).asScala.toSeq.flatMap {
      case (tag, group) =>
        group.toSeq.grouped(threshold).map(writeChunk(path, schema, _, tag))
    }
  }

  /** APPEND FAST PATH (round 18, second half): when this commit's file
    * list EXTENDS the base snapshot's flattened list (the shape every
    * append/streaming-epoch commit produces), untouched cells' child
    * refs carry forward VERBATIM — zero entry formatting, zero child
    * reads — and only each touched cell's trailing partial chunk is
    * re-read, merged with its appends, and re-chunked. Commit metadata
    * CPU becomes ∝ appended entries + one partial chunk per touched
    * cell instead of O(total entries) string work. The output is
    * BYTE-IDENTICAL to a full regroup (same grouping order: base cells
    * in base order, new cells in appended first-appearance order; same
    * chunk boundaries: grouped() keeps full prefix chunks; content
    * addressing then yields the same child names), proven by the
    * restore-equivalence spec. Falls back to the full regroup whenever
    * the extension shape or the full-prefix-chunk invariant (threshold
    * changed mid-table, legacy untagged refs) doesn't hold —
    * conservative, never wrong. After PARTITION-SPEC EVOLUTION, carried
    * refs keep their old-spec cell tags while new appends group under
    * the new spec — the Iceberg old-manifests-keep-their-spec shape;
    * pruning is unaffected (it reads the refs' aggregated STATS, never
    * the tags) and a rewrite (OPTIMIZE/restore) regroups everything. */
  private def shardEntriesIncremental(path: String, schema: StructType,
      files: Seq[FileEntry], threshold: Int, base: Manifest): Seq[ChildRef] = {
    val full = () => shardEntries(path, schema, files, threshold)
    val baseRefs = base.children
    if (baseRefs.isEmpty || base.entries.nonEmpty) return full()
    if (baseRefs.exists(_.cell.isEmpty)) return full() // legacy refs
    // a base written at an older `!stats=` version has demoted refs —
    // carrying them verbatim into a parent that claims the CURRENT
    // version would relabel untrustworthy stats as trustworthy; full()
    // regroups from the already-demoted entries instead
    if (base.demoted.nonEmpty) return full()
    val dir = new File(path)
    // prefix check against the flattened base — by reference first (the
    // append path concatenates the very Seq the child cache returned),
    // falling back to value equality
    val baseFlat = base.files(path)
    if (files.size < baseFlat.size) return full()
    // lockstep iterators, never positional indexing (a List-backed Seq
    // would turn files(i) into an O(n²) pointer walk at 10⁶ entries);
    // reference equality hits first because the append path concatenates
    // the very instances the child cache returned
    val itA = files.iterator; val itB = baseFlat.iterator
    while (itB.hasNext) {
      val b = itB.next(); val a = itA.next()
      if (!(a.asInstanceOf[AnyRef].eq(b.asInstanceOf[AnyRef]) || a == b))
        return full()
    }
    // full-prefix-chunk invariant per cell: every non-last chunk full
    val refsByCell = new java.util.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[ChildRef]]()
    baseRefs.foreach { r =>
      var b = refsByCell.get(r.cell)
      if (b == null) { b = scala.collection.mutable.ArrayBuffer.empty; refsByCell.put(r.cell, b) }
      b += r
    }
    import scala.jdk.CollectionConverters._
    if (refsByCell.values.asScala.exists(rs =>
        rs.init.exists(_.nfiles != threshold) || rs.last.nfiles > threshold))
      return full()
    val appended = groupByCell(path, schema, files.drop(baseFlat.size))
    val out = Seq.newBuilder[ChildRef]
    refsByCell.asScala.foreach { case (tag, refs) =>
      val adds = Option(appended.remove(tag)).map(_.toSeq).getOrElse(Seq.empty)
      if (adds.isEmpty) refs.foreach { r =>
        // same grace-refresh as writeChunk's reuse branch: a carried-
        // forward child must look recently-touched to the GC sweep
        refreshChildMtime(new File(dir, r.file))
        out += r
      }
      else {
        val (fullRefs, tail) =
          if (refs.last.nfiles == threshold) (refs.toSeq, Seq.empty[ChildRef])
          else (refs.init.toSeq, Seq(refs.last))
        fullRefs.foreach { r =>
          refreshChildMtime(new File(dir, r.file))
          out += r
        }
        val tailEntries = tail.flatMap(r => readChildEntries(dir, r.file))
        (tailEntries ++ adds).grouped(threshold)
          .foreach(ch => out += writeChunk(path, schema, ch, tag))
      }
    }
    appended.asScala.foreach { case (tag, group) =>
      group.toSeq.grouped(threshold)
        .foreach(ch => out += writeChunk(path, schema, ch, tag))
    }
    out.result()
  }

  /** Logical child-manifest reads (pre-cache) — the observable the
    * sharding spec pins: a partition-pruned scan must request exactly
    * the matching children, however warm the cache. */
  private[graft] val childReads = new java.util.concurrent.atomic.AtomicLong

  // children are content-addressed, hence immutable: cache parsed
  // entries by absolute path, forever-valid (LRU-bounded)
  private val childCache =
    new java.util.LinkedHashMap[String, Seq[FileEntry]](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[FileEntry]]): Boolean = size() > 256
    }

  private def readChildEntries(dir: File, name: String): Seq[FileEntry] = {
    childReads.incrementAndGet()
    val f = new File(dir, name)
    val key = f.getAbsolutePath
    val hit = childCache.synchronized(childCache.get(key))
    if (hit != null) return hit
    val bytes =
      try Files.readAllBytes(f.toPath)
      catch {
        case e: java.io.IOException => throw new IllegalStateException(
          s"manifest child $name missing at $dir — referenced by a " +
            "committed snapshot; was the table directory partially copied?", e)
      }
    val parsed = new String(bytes, StandardCharsets.UTF_8)
      .split('\n').toSeq.filter(_.nonEmpty).map(parseEntry)
    childCache.synchronized(childCache.put(key, parsed))
    parsed
  }

  /** Double-column stats format version. v2 (round 10) made the writer
    * NaN-sound: NaN presence demotes mono unless NaN-tailed, max becomes
    * the literal "NaN" when any value is NaN, min "NaN" only when all
    * are. Stats written by a v1 (pre-NaN-fix) build may advertise a
    * stale non-NaN max and mono=true over NaN-bearing doubles — unsound
    * for the LessThan-AllRows fast path and SMJ sort elision — so
    * [[Manifest.parse]] DEMOTES them: a manifest without `!stats=2`
    * has every DoubleType column's stats dropped at parse time
    * (no pruning, no metadata agg, no ordering claim — conservative,
    * never wrong). Because demotion happens before any carry-forward,
    * a new commit on an old table may claim `!stats=2` unconditionally:
    * double stats can only enter a v2 manifest through the v2 writer.
    * Old tables regain double stats via rewrite (OPTIMIZE/clone/CTAS). */
  private[graft] val StatsFormatVersion = 2L

  /** Parsed-manifest LRU: every metadata consumer (scan planning, file
    * skipping, estimateStatistics, metadata aggregates, DML base reads,
    * the catalog) funnels through [[snapshot]], and a busy
    * session re-reads the SAME immutable snapshot many times per query.
    * The cache key is the manifest's `!uid=` header — a UUID stamped by
    * every manifest write, i.e. the CONTENT's own identity. Nothing
    * stat-derived can be sound here: an (mtime, size) key collides when
    * two commits inside one filesystem timestamp tick produce
    * equal-length manifests (metadata-only commits — only the version
    * digit and ts change), and a (path, version) key collides when a
    * table is dropped and recreated in the same directory (versions
    * restart at 1, `_manifest.v1` gets REWRITTEN) — both serve readers
    * a stale snapshot, breaking read-your-writes. The uid is resolved
    * with the bounded header read (uncached, O(1) I/O); manifests
    * written before uid stamping parse uncached — correct, merely
    * unaccelerated. Driver-side only, 64 entries — at 10^6-line
    * manifests this turns the per-query metadata fold from re-parse
    * (O(lines × columns) string work) into a map hit. */
  private val manifestCache =
    new java.util.LinkedHashMap[String, Manifest](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Manifest]): Boolean = size() > 64
    }

  /** The manifest at `f` (the pointer or a retained `_manifest.v<n>`),
    * parsed once per `!uid=`; None if there is none. */
  private[graft] def snapshot(f: File): Option[Manifest] = {
    val uid = Manifest.header(f).getOrElse(return None).uid
    if (uid.nonEmpty) {
      val hit = manifestCache.synchronized(manifestCache.get(uid))
      if (hit != null) return Some(hit)
    }
    val bytes =
      try Files.readAllBytes(f.toPath)
      catch { case _: java.io.IOException => return None } // raced deletion
    val parsed = Manifest.parse(new String(bytes, StandardCharsets.UTF_8))
    // cached under the uid of the bytes ACTUALLY read — the pointer may
    // have been atomically replaced between the header read and this one
    parsed.filter(_.uid.nonEmpty).foreach(m =>
      manifestCache.synchronized(manifestCache.put(m.uid, m)))
    parsed
  }

  /** The latest COMMITTED table state: the highest retained snapshot,
    * even while the pointer lags it — the base every compare-and-swap
    * commit works from (its `version` is the one the commit claims
    * past). None for a table with no manifest yet. */
  private[graft] def latest(path: String): Option[Manifest] =
    snapshot(snapshotFiles(path).lastOption.getOrElse(new File(path, ManifestName)))

  /** The (schema, every live file) the pointer names. */
  private[graft] def readManifest(path: String): Option[(StructType, Seq[FileEntry])] =
    snapshot(new File(path, ManifestName)).map(m => (m.schema, m.files(path)))

  /** Snapshot id the current pointer carries (0 = pre-versioning table
    * or no table — the next commit becomes v1 either way). */
  private[graft] def readVersion(path: String): Long =
    Manifest.header(new File(path, ManifestName)).fold(0L)(_.version)

  /** Retained snapshot manifests (`_manifest.v<n>`), oldest first. */
  private[graft] def snapshotFiles(path: String): Seq[File] =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(ManifestName + ".v")).toSeq
      .sortBy(_.getName.stripPrefix(ManifestName + ".v").toLong)

  /** Latest snapshot committed at or before `tsMillis` (the Iceberg/Delta
    * timestamp-resolution rule), or None if the table's history starts
    * after it. */
  private[graft] def versionAsOfTimestamp(path: String, tsMillis: Long): Option[Long] =
    commitTimestamps(path).filter(_._2 <= tsMillis).lastOption.map(_._1)

  /** (version, commit wall-clock millis) per retained snapshot, oldest
    * first — the resolution table a TIMESTAMP AS OF read consults. The
    * `!ts=` commit time is deliberately NOT exposed in oracle-checked
    * query output (wall clocks aren't reproducible). */
  private[graft] def commitTimestamps(path: String): Seq[(Long, Long)] =
    snapshotFiles(path).map(f =>
      (f.getName.stripPrefix(ManifestName + ".v").toLong,
        Manifest.header(f).fold(0L)(_.ts)))

  /** Two writers that both read base version N both try to commit N+1 —
    * without a claim step the second pointer move would silently erase
    * the first commit's files from the table. Thrown instead; appends
    * retry against the fresh base, content-dependent commits surface it. */
  class ConflictException(msg: String) extends RuntimeException(msg)

  /** Optimistic commit loop: `prepare` re-reads the latest snapshot and
    * works the commit out against it, `claim` makes the CAS claim. A
    * ConflictException from the claim (a competitor took the version)
    * re-runs both, up to 10 attempts with a 5·n ms backoff; one that
    * `prepare` throws (the commit's content went stale under it) fails
    * at once. */
  private[graft] def retryOnConflict[P, T](prepare: => P)(claim: P => T): T = {
    var attempt = 0
    while (true) {
      val p = prepare
      try return claim(p)
      catch {
        case c: ConflictException =>
          attempt += 1
          if (attempt >= 10) throw c
          Thread.sleep(5L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Every commit writes the manifest under the NEXT snapshot id and
    * retains the previous ones. OPTIMISTIC CONCURRENCY: the versioned
    * name `_manifest.v<n>` is CLAIMED with a hard link — `link(2)` is
    * atomic and fails with EEXIST if a competing writer claimed n first
    * (on an object store: an if-none-match PUT) — so the SNAPSHOT is
    * the commit point and a conflict loser throws [[ConflictException]]
    * with nothing clobbered, never a silent lost update. The pointer
    * move after it is a cache refresh for readers: if two refreshes
    * race out of order the pointer briefly lags (read-committed
    * staleness, repaired by [[repointIfBehind]] / the next commit) but
    * always names a fully-committed snapshot. Crash after claim,
    * before refresh = a committed version the pointer hasn't surfaced
    * yet — the same commit-ambiguity window every log-structured table
    * format has. Retained snapshots are what make time-travel reads
    * and cross-OPTIMIZE history possible; [[expireSnapshots]] bounds
    * their cost.
    *
    * The commit is a true COMPARE-AND-SWAP: the claimed version is
    * exactly `base.version + 1`, where `base` is the record the CALLER
    * read (via [[latest]]) — never a version recomputed at claim time.
    * The distinction is the lost-update bug class: with a version
    * recomputed at claim time, a writer whose base read raced behind N other
    * commits would claim base+N+1 WITHOUT conflict and publish its stale
    * merge, silently erasing those commits' files (caught by the
    * 8-writer stress spec). Pinning the claim to base+1 makes any
    * interleaving commit turn the claim into [[ConflictException]],
    * which appends retry and content-dependent commits surface.
    *
    * `change` maps the base record to the new one, typically
    * `_.copy(entries = …, op = …)`: its `entries` are EVERY live file
    * of the new snapshot (the commit lays them out inline or in
    * children itself), and what it leaves alone — schema, epoch, txn
    * watermarks, equality deletes — carries forward from the base. The
    * commit reads nothing of the base from disk again. Returns the
    * claimed version. */
  private[graft] def commit(path: String, base: Manifest,
      regroup: Boolean = false)(change: Manifest => Manifest): Long = {
    val next = change(base)
    val v = base.version + 1
    // While any equality delete is live, every file NEW in this commit
    // gets stamped addedv = v, the exemption marker that keeps deletes
    // applying only to files that existed before them (a file the
    // commit merely carries forward keeps whatever it had — 0 means
    // "predates every delete").
    val files =
      if (next.eqDels.isEmpty) next.entries
      else {
        val baseNames = base.files(path).iterator.map(_.file).toSet
        next.entries.map(e =>
          if (e.addedv == 0L && !baseNames.contains(e.file)) e.copy(addedv = v)
          else e)
      }
    // past the shard threshold the entry block becomes a manifest list
    // (see the sharding section above); children land before the claim
    // below, so they are invisible until this commit wins. A base that
    // is ALREADY sharded keeps the list layout regardless of the
    // committing context's threshold (r19: a metadata-only evolve —
    // rename/widen — issued outside a threshold-forcing session was
    // collapsing a sharded table back into an inline million-entry
    // parent: answers right, metadata wall back); the layout follows
    // the TABLE, the session conf only tunes chunk size and first entry.
    val threshold = shardThreshold
    val (inline, children) =
      if (regroup)
        // rewrite_manifests: force the canonical layout at the CURRENT
        // threshold — full regroup (never the carry-forward fast path,
        // whose whole point is to preserve the existing children), and
        // the explicit override of the layout-follows-the-table rule: a
        // table whose entry count shrank back under the threshold
        // collapses to inline here and only here
        if (files.size > threshold)
          (Seq.empty, shardEntries(path, next.schema, files, threshold))
        else (files, Seq.empty)
      else if (files.size > threshold || (files.nonEmpty && base.children.nonEmpty))
        (Seq.empty, shardEntriesIncremental(path, next.schema, files, threshold, base))
      else (files, Seq.empty)
    // !uid = this manifest WRITE's unique identity — the only sound cache
    // key: version numbers restart when a table is dropped and recreated
    // in the same directory, and (mtime, size) collides across same-tick
    // equal-length rewrites (see manifestCache).
    // STRICTLY MONOTONIC commit timestamps (the Delta rule, r17 advice):
    // two commits landing in the same millisecond would make
    // timestamp-AS-OF / table_changes boundary resolution ambiguous
    // (commits.find(ts >= x) could straddle them) — stamp
    // max(now, prev_ts + 1) so the commit index is a strict order.
    val text = Manifest.fmt(next.copy(version = v,
      uid = java.util.UUID.randomUUID().toString,
      ts = math.max(System.currentTimeMillis(), base.ts + 1L),
      entries = inline, children = children, demoted = Set.empty))
    // a table's first write may have written no data file (every task
    // got no rows), so nothing has made its directory yet
    Files.createDirectories(Paths.get(path))
    val tmp = Paths.get(path, s"$ManifestTmpPrefix${java.util.UUID.randomUUID()}")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    try Files.createLink(Paths.get(path, s"$ManifestName.v$v"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.delete(tmp)
        throw new ConflictException(
          s"concurrent commit: snapshot v$v at $path was claimed by " +
            "another writer — re-read the base and retry (appends) or " +
            "fail (content-dependent commits)")
    }
    Files.move(tmp, Paths.get(path, ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    repointIfBehind(path)
    v
  }

  /** If a racing pointer refresh landed out of order, re-point to the
    * highest committed snapshot (idempotent, at most one step here plus
    * every future commit). */
  private[sources] def repointIfBehind(path: String): Unit = {
    val latest = snapshotFiles(path).lastOption
      .map(_.getName.stripPrefix(ManifestName + ".v").toLong).getOrElse(0L)
    if (readVersion(path) < latest) {
      val tmp = Paths.get(path, s"$ManifestTmpPrefix${java.util.UUID.randomUUID()}")
      Files.copy(Paths.get(path, s"$ManifestName.v$latest"), tmp)
      Files.move(tmp, Paths.get(path, ManifestName),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Snapshot retention: keep the newest `keepLast` snapshot manifests
    * (the current pointer's snapshot is always among them), delete the
    * older ones, then GC data files no retained manifest references —
    * the Iceberg expire-snapshots economics: history costs only the
    * small manifest files plus the data files exclusive to expired
    * versions, and reclaiming it is a driver-side metadata walk.
    * `graceMs` is the vacuum-retention dial: unreferenced files younger
    * than it survive (they may be a concurrent writer's uncommitted
    * output); pass 0 only when no other writer can be in flight. */
  private[graft] def expireSnapshots(path: String, keepLast: Int,
      graceMs: Long = GcGraceMs): Unit = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    // a TAGGED snapshot is pinned: its manifest survives expiry however
    // old, so its data files stay referenced and survive GC — the
    // Iceberg ref-retention contract that makes a tag a durable audit
    // point rather than a name that silently dangles after vacuum
    val tagged = readRefs(path).values.toSet
    snapshotFiles(path).dropRight(keepLast)
      .filterNot(f => tagged.contains(
        f.getName.stripPrefix(ManifestName + ".v").toLong))
      .foreach(_.delete())
    // the sweep keeps whatever the pointer and the retained snapshots name
    gcUnreferenced(path, Set.empty, graceMs)
  }

  /** TIME-BASED snapshot retention (round 15) — the form every
    * production policy actually takes (Iceberg `expire_snapshots(
    * older_than => …)`, Delta `RETAIN x HOURS`): expire snapshots whose
    * COMMIT TIME is older than `olderThanMs` (an age, measured from
    * now — the same duration semantics as the branch `retain_for_ms`
    * override), subject to two pins: the newest `keepLastFloor`
    * snapshots always survive however old (the current pointer is
    * always among them), and TAGGED snapshots survive at any age —
    * the same ref-retention contract as count-based expiry. A
    * snapshot's commit time is its manifest file's mtime: every commit
    * writes `_manifest.v<n>` exactly once ([[commit]] renames
    * over nothing), so the mtime is the publish instant. */
  private[graft] def expireSnapshotsOlderThan(path: String,
      olderThanMs: Long, keepLastFloor: Int = 1,
      graceMs: Long = GcGraceMs): Unit = {
    require(olderThanMs >= 0, "retention age must be >= 0 ms")
    require(keepLastFloor >= 1, "must retain at least the current snapshot")
    val cutoff = System.currentTimeMillis() - olderThanMs
    val tagged = readRefs(path).values.toSet
    snapshotFiles(path).dropRight(keepLastFloor)
      .filter(_.lastModified() < cutoff)
      .filterNot(f => tagged.contains(
        f.getName.stripPrefix(ManifestName + ".v").toLong))
      .foreach(_.delete())
    // the sweep keeps whatever the pointer and the retained snapshots name
    gcUnreferenced(path, Set.empty, graceMs)
  }

  /** NAMED SNAPSHOT REFS — TAGS (the Iceberg `tag` surface): a durable
    * human name for one snapshot version. `VERSION AS OF 'audit-q1'`
    * (SQL) and `.option("versionAsOf", "audit-q1")` (reader) resolve
    * through [[resolveVersionSpec]]; [[expireSnapshots]] pins tagged
    * manifests (and therefore, via GC's retained-manifest contract,
    * their data files) however far the history rolls. Representation:
    * one file per tag under `_refs/` whose single line is the version —
    * creation is `Files.createFile` (an ATOMIC claim: two racing
    * creates of the same name cannot both win, and a duplicate is the
    * same loud refusal with no lock file, no read-modify-write window),
    * deletion is a single unlink. Tag names are file-safe identifiers
    * and must not be all-digits (a numeric "tag" would shadow version
    * numbers in every resolution site). */
  private[graft] val RefsDirName = "_refs"

  private[graft] def readRefs(path: String): Map[String, Long] =
    Option(new File(path, RefsDirName).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).flatMap { f =>
        scala.util.Try(new String(Files.readAllBytes(f.toPath),
          StandardCharsets.UTF_8).trim.toLong).toOption.map(f.getName -> _)
      }.toMap

  private[graft] def tagCreate(path: String, name: String, version: Long): Unit = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"tag name must be a file-safe identifier, got '$name'")
    require(!name.forall(_.isDigit),
      s"tag name must not be all digits (would shadow version $name)")
    require(new File(path, s"$ManifestName.v$version").exists(),
      s"cannot tag v$version at $path: no such retained snapshot")
    val dir = new File(path, RefsDirName)
    Files.createDirectories(dir.toPath)
    val f = new File(dir, name)
    try Files.write(f.toPath,
      version.toString.getBytes(StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new IllegalArgumentException(
        s"tag '$name' already exists at v${readRefs(path).getOrElse(name, -1L)} " +
          "— drop it first (tags are immutable once created)")
    }
  }

  private[graft] def tagDelete(path: String, name: String): Boolean =
    Files.deleteIfExists(new File(new File(path, RefsDirName), name).toPath)

  /** WRITABLE BRANCH REFS (the Iceberg branch surface, round 13): a
    * branch is an independently-committable line of table history that
    * forks from main's current snapshot and can later be PUBLISHED back
    * by fast-forward — the write-audit-publish v2 shape: write to
    * `audit`, validate by reading the branch, `fastForward` to make main
    * content-identical in one atomic commit.
    *
    * Representation: a full sub-table at `_branches/<name>/` created by
    * [[cloneTable]] (hard-linked data/DV/eq-sidecar files — zero bytes
    * of data movement, O(files) metadata), plus a `_fork` file recording
    * the MAIN version the branch forked from. Because committed files
    * are immutable and clones hard-link, branch and main cannot observe
    * each other's subsequent commits, and GC/expire on either side only
    * unlinks its own references — the branch is self-contained by
    * construction, no retention pinning needed (contrast tags, which pin
    * shared manifests).
    *
    * Reads and writes route to a branch via `.option("branch", name)` on
    * the ordinary reader/writer — every table feature (time travel, CDF,
    * partition specs, DML, streaming sinks) works on a branch because a
    * branch IS a table. Fast-forward requires main's head to still be
    * the fork version (i.e. main is an ancestor of the branch tip) —
    * the Iceberg fast-forward contract; a diverged main refuses loudly
    * (rebase/cherry-pick is not a thing this format does). */
  private[graft] val BranchesDirName = "_branches"
  private[graft] val ForkFileName = "_fork"

  /** Resolve a reader/writer's (path, branch-option) to the directory
    * the operation actually targets. A named branch must already exist
    * (branchCreate) — a typo'd branch name must refuse, not silently
    * create a fresh table beside the real one. */
  private[graft] def effectivePath(path: String,
      branch: Option[String]): String =
    branch.filter(_ => path != null).fold(path) { b =>
      val bp = branchPath(path, b)
      require(new File(bp, ManifestName).exists(),
        s"no branch '$b' at $path — create it first " +
          s"(known branches: ${branchList(path).mkString(", ")})")
      bp
    }

  private[graft] def branchPath(path: String, name: String): String = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"branch name must be a file-safe identifier, got '$name'")
    new File(new File(path, BranchesDirName), name).getPath
  }

  private[graft] def branchCreate(path: String, name: String): Unit = {
    val bp = branchPath(path, name)
    require(!new File(bp, ManifestName).exists(),
      s"branch '$name' already exists at $path — drop it first")
    val forkV = latest(path).getOrElse(throw missingSnapshot(path, None)).version
    // the branch's first manifest is numbered forkV (NOT 1): inherited
    // addedv / eq-delete seq values are main-lineage version numbers, so
    // the branch's own commits (forkV+1, ...) stay ordered after them —
    // one coherent lineage, which is also what lets fast-forward graft
    // the branch numbering straight onto main
    cloneTable(path, bp, startVersion = Some(forkV))
    Files.write(Paths.get(bp, ForkFileName),
      forkV.toString.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(bp, BranchCreatedFileName),
      System.currentTimeMillis().toString.getBytes(StandardCharsets.UTF_8))
  }

  // -------------------------------------------- branch retention (r14)
  // Branches are self-contained hard-linked clones — GC-safe by
  // construction — which also means STALE audit branches accumulate
  // silently: nothing pins them, nothing ages them out. The retention
  // surface: `_created` records the fork wall-clock, the manifest
  // pointer's mtime IS the last-commit time (every commit replaces the
  // pointer atomically), an optional `_retain` file is the per-branch
  // `retain_for` override, and [[expireBranches]] drops every branch
  // older (by last commit) than its effective retention. Age/expiry is
  // wall-clock policy, so `nowMs` is a parameter — callers pass
  // currentTimeMillis, tests pass a fixed clock.
  private[graft] val BranchCreatedFileName = "_created"
  private[graft] val BranchRetainFileName = "_retain"

  private[graft] def branchCreatedAt(path: String, name: String): Long = {
    val f = new File(branchPath(path, name), BranchCreatedFileName)
    if (f.isFile)
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim.toLong
    // pre-r14 branch: the fork marker's mtime is the creation time
    else new File(branchPath(path, name), ForkFileName).lastModified()
  }

  private[graft] def branchLastCommitAt(path: String, name: String): Long =
    new File(branchPath(path, name), ManifestName).lastModified()

  private[graft] def branchRetainFor(path: String, name: String): Option[Long] = {
    val f = new File(branchPath(path, name), BranchRetainFileName)
    if (f.isFile)
      Some(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .trim.toLong)
    else None
  }

  private[graft] def branchSetRetain(path: String, name: String,
      retainMs: Long): Unit = {
    require(new File(branchPath(path, name), ManifestName).exists(),
      s"no branch '$name' at $path")
    val f = Paths.get(branchPath(path, name), BranchRetainFileName)
    if (retainMs <= 0) Files.deleteIfExists(f)
    else Files.write(f, retainMs.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** Drop every branch whose last commit is older than its effective
    * retention (per-branch `_retain` override, else `defaultMs`; a
    * non-positive effective retention means "never expire"). Returns
    * the dropped names — metadata-sized by definition. */
  private[graft] def expireBranches(path: String, defaultMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] =
    branchList(path).filter { b =>
      val retain = branchRetainFor(path, b).getOrElse(defaultMs)
      retain > 0 && nowMs - branchLastCommitAt(path, b) > retain
    }.map { b => branchDelete(path, b); b }

  private[graft] def branchForkVersion(path: String, name: String): Long = {
    val f = new File(branchPath(path, name), ForkFileName)
    require(f.exists(), s"no branch '$name' at $path")
    new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim.toLong
  }

  private[graft] def branchDelete(path: String, name: String): Unit =
    deleteRecursively(new File(branchPath(path, name)))

  private[graft] def branchList(path: String): Seq[String] =
    Option(new File(path, BranchesDirName).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSeq.sorted

  /** Publish a branch to main by FAST-FORWARD: main's next commit gets
    * exactly the branch tip's (schema, entries, equality deletes).
    * Sound only while main is an ancestor of the branch tip — i.e. main
    * has not committed since the fork — so a diverged main refuses
    * (publishing would silently erase its commits). New files born on
    * the branch are hard-linked into main first (metadata-speed, like
    * the clone that created the branch); files the branch merely
    * carried forward already exist in main. Returns main's new version.
    * After publish the fork marker advances to the new main head, so
    * the same branch can keep accumulating the next audit cycle. */
  private[graft] def fastForward(path: String, name: String): Long = {
    val bp = branchPath(path, name)
    val tip = snapshot(new File(bp, ManifestName)).getOrElse(
      throw new IllegalArgumentException(s"no branch '$name' at $path"))
    val (entries, eqDels) = (tip.files(bp), tip.eqDels)
    val forkV = branchForkVersion(path, name)
    val main = latest(path).getOrElse(throw missingSnapshot(path, None))
    val mainV = main.version
    require(mainV == forkV,
      s"cannot fast-forward '$name' into $path: main is at v$mainV but " +
        s"the branch forked at v$forkV — main has committed since the " +
        "fork and is no longer an ancestor of the branch tip (publish " +
        "would erase those commits); re-branch and re-apply instead")
    def linkIn(rel: String): Unit = {
      val to = Paths.get(path, rel)
      if (!Files.exists(to)) {
        if (to.getParent != null) Files.createDirectories(to.getParent)
        Files.createLink(to, Paths.get(bp, rel))
      }
    }
    entries.foreach { e => linkIn(e.file); if (e.dv.nonEmpty) linkIn(e.dv) }
    eqDels.foreach(d => linkIn(d.file))
    // LINEAGE SQUASH: publish is ONE main commit (v = forkV+1), but the
    // branch may have made several (forkV+1 .. tip) — every addedv /
    // eq-delete seq above the fork must compress to v while preserving
    // the `addedv < seq` relation. Compressing k>1 distinct post-fork
    // versions to one CANNOT preserve a strict in-branch ordering where
    // a post-fork FILE predates a post-fork DELETE (fork < a < s: the
    // delete applies on the branch, but after squash a == s == v and
    // strictness would resurrect the rows) — that one shape refuses,
    // and purgeDeletes on the branch (folds deletes into clean files)
    // is the documented remedy. Every other pairing survives the
    // squash: both ≤ fork untouched; post-fork file vs pre-fork delete
    // stays exempt (v > s); pre-fork file vs post-fork delete stays
    // deleted (a ≤ fork < v); post-fork file at-or-after its delete
    // (s ≤ a) stays exempt (v == v not <).
    val hazard = for {
      d <- eqDels if d.seq > forkV
      e <- entries if e.addedv > forkV && e.addedv < d.seq
    } yield (e.file, d.file)
    require(hazard.isEmpty,
      s"cannot fast-forward '$name': the branch holds a file committed " +
        s"after the fork that a LATER branch equality-delete applies to " +
        s"(e.g. ${hazard.head._1} vs ${hazard.head._2}) — squashing the " +
        "branch history into one publish commit would exempt it and " +
        "resurrect deleted rows; run purgeDeletes on the branch first")
    val v0 = mainV + 1 // the version the commit will claim
    val squashedEntries = entries.map(e =>
      if (e.addedv > forkV) e.copy(addedv = v0) else e)
    val squashedDels = eqDels.map(d =>
      if (d.seq > forkV) d.copy(seq = v0) else d)
    val v = commit(path, main)(_.copy(schema = tip.schema,
      entries = squashedEntries, op = s"fastForward($name)",
      eqDels = squashedDels))
    Files.write(Paths.get(bp, ForkFileName),
      v.toString.getBytes(StandardCharsets.UTF_8))
    v
  }

  /** Resolve a `versionAsOf` spec: a numeric string is a version id, any
    * other string is a tag name looked up in `_refs/`. */
  private[graft] def resolveVersionSpec(path: String, spec: String): Long =
    if (spec.nonEmpty && spec.forall(_.isDigit)) spec.toLong
    else readRefs(path).getOrElse(spec, throw new IllegalArgumentException(
      s"no tag '$spec' at $path — known tags: " +
        s"${readRefs(path).keys.toSeq.sorted.mkString(", ")}"))

  /** RESTORE (rollback-as-commit, the Delta `RESTORE TABLE ... VERSION
    * AS OF` semantics): re-commit snapshot `version`'s exact (schema,
    * file set) as a NEW version instead of rewinding the pointer, so
    * the restore itself is in the history, later snapshots stay
    * time-travel readable until expiry, and concurrent readers never
    * observe a version number going backwards. Pure metadata — no data
    * file is read, written, or moved; the restored files still exist
    * because every retained snapshot's files survive GC by contract.
    * Goes through the same claim-then-refresh commit as every writer,
    * so a racing append either lands before (restore wins the race and
    * undoes it — the documented RESTORE hazard) or conflicts and
    * retries on top. */
  private[graft] def restore(path: String, version: Long): Long = {
    val old = snapshot(new File(path, s"$ManifestName.v$version"))
      .getOrElse(throw missingSnapshot(path, Some(version)))
    // the restored snapshot's equality deletes come with it (restoring
    // to before a delete revives the rows; to after keeps them hidden)
    commit(path, latest(path).getOrElse(throw missingSnapshot(path, None)))(
      _.copy(schema = old.schema, entries = old.files(path),
        op = s"restore(v$version)", eqDels = old.eqDels))
  }

  /** METADATA-ONLY MANIFEST REWRITE (`CALL cat.system.rewrite_manifests`,
    * round 19) — the Iceberg-standard repair for manifest fragmentation:
    * regroup the current snapshot's entries into the canonical sharded
    * layout at the CURRENT shard threshold, as one new commit listing
    * the same data files (zero data I/O — only child manifests are read
    * and written, and content addressing skips every chunk that comes
    * out byte-identical). This is what re-canonicalizes a table after a
    * threshold retune (ingest wrote at a small chunk size, platform
    * raised it) or a partition-spec evolution (carried refs keep their
    * old-spec cell tags until a rewrite regroups under the new spec),
    * and the one explicit way to collapse a sharded table back to an
    * inline manifest once its entry count shrinks under the threshold.
    * Answers and history are untouched; time travel to pre-rewrite
    * snapshots reads the old children (content-addressed, still
    * referenced, GC-protected). Returns (new version, children before,
    * children after). */
  private[graft] def rewriteManifests(path: String): (Long, Long, Long) = {
    // CONFLICT-RETRY like appends: a maintenance job racing ingest must
    // not die on the CAS. Recomputing from the new base is always sound
    // here — the regroup is metadata-only and derives entirely from
    // whatever file list the re-read observes.
    retryOnConflict {
      latest(path).getOrElse(throw missingSnapshot(path, None))
    } { base =>
      val v = commit(path, base, regroup = true)(
        _.copy(entries = base.files(path), op = "rewrite_manifests"))
      (v, base.children.size.toLong, snapshot(new File(path,
        s"$ManifestName.v$v")).fold(0L)(_.children.size.toLong))
    }
  }

  /** Zero-copy SHALLOW CLONE: a new table at `dst` whose v1 manifest
    * lists the SAME file entries (stats and all) as `src`'s current
    * snapshot. Data files are hard-linked — the local-filesystem analog
    * of the object-store metadata copy Delta/Iceberg shallow clones do;
    * O(files) driver-side metadata ops, zero bytes of data movement,
    * and because committed files are immutable by the format's contract,
    * the two tables cannot observe each other's subsequent commits
    * (copy-on-write DML writes NEW files; GC on either side only
    * deletes files its own retained manifests stop referencing, which
    * for a hard-linked file just drops one link). Partition spec, if
    * any, is cloned with the table. */
  private[graft] def cloneTable(src: String, dst: String,
      startVersion: Option[Long] = None): Unit = {
    val from = snapshot(new File(src, ManifestName))
      .getOrElse(throw missingSnapshot(src, None))
    val (entries, eqDels) = (from.files(src), from.eqDels)
    Files.createDirectories(Paths.get(dst))
    entries.foreach { e =>
      val to = Paths.get(dst, e.file)
      if (to.getParent != null) Files.createDirectories(to.getParent)
      Files.createLink(to, Paths.get(src, e.file))
      if (e.dv.nonEmpty)
        Files.createLink(Paths.get(dst, e.dv), Paths.get(src, e.dv))
    }
    // equality-delete sidecars are referenced content like DVs: link
    // them and carry the headers (entry addedv values come along with
    // the entries, so applicability is preserved verbatim)
    eqDels.foreach { d =>
      val to = Paths.get(dst, d.file)
      if (to.getParent != null) Files.createDirectories(to.getParent)
      Files.createLink(to, Paths.get(src, d.file))
    }
    val part = new File(src, PartitionFileName)
    if (part.exists())
      Files.copy(part.toPath, Paths.get(dst, PartitionFileName))
    // the clone's v1 records the source version it forked from — the
    // fast-forward baseline a write-audit-publish `publish` checks.
    // startVersion (branches) aligns the clone's numbering with the
    // SOURCE lineage instead of restarting at 1: inherited addedv /
    // eq-delete seq values then stay coherent with versions the clone
    // itself commits next (a v1-restart clone with live deletes could
    // otherwise mint a new delete whose seq is BELOW inherited addedv
    // stamps — see the guard in commitEqDelete). Its base holds the
    // source's files and deletes at the clone's numbering, so the commit
    // stamps no file as new.
    commit(dst, Manifest(from.schema, version = startVersion.getOrElse(1L) - 1,
      eqDels = eqDels, entries = entries))(_.copy(op = s"clone(v${from.version})"))
  }

  /** MERGE-ON-READ DELETE via deletion vectors (the Delta/Iceberg-v2 DV
    * design): instead of rewriting every file containing a match
    * (copy-on-write `DELETE`, write amplification ∝ matched FILES), mark
    * the matched ROWS deleted in per-file position sidecars and commit a
    * manifest that points at them — write amplification ∝ matched ROWS.
    * At 100 TB, deleting 0.1% of rows scattered across every file is the
    * difference between rewriting the table and writing a few MB of
    * sidecars. The mechanics:
    *   1. one distributed scan finds matches, projecting the `_file` /
    *      `_pos` metadata columns (`_pos` is the PHYSICAL pre-deletion
    *      ordinal, so repeated deletes compose);
    *   2. EXECUTORS write the sidecars — matches are clustered by file,
    *      each task merges its files' new positions with the existing DV
    *      (DVs are cumulative: one sidecar per file, ever) and emits one
    *      summary row per file;
    *   3. the driver commits metadata only: affected entries get the new
    *      `dv`, live `rows`, and stats through [[statsAfterDelete]]; a
    *      fully-deleted file's entry is dropped.
    * Readers apply DVs as a frame-skip (no join, no shuffle); the change
    * feed emits exactly the newly-deleted positions ([[CdfUnit]]);
    * [[purgeDeletes]] is the compaction path that folds DVs back into
    * clean files. Commit is the same compare-and-swap as every writer.
    * Returns the committed version (or the base version if nothing
    * matched — a no-op writes no commit). */
  private[graft] def deleteWhereDV(spark: org.apache.spark.sql.SparkSession,
      path: String, condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.col
    val snap = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (base, entries) = (snap.version, snap.files(path))
    val oldDvByFile = entries.map(e => e.file -> e.dv).toMap
    val absRoot = new File(path).getAbsolutePath
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val matches = spark.read.format("graft.sources.GraftStore")
      .option("path", path).option("versionAsOf", base.toString).load()
      .select(col("*"), col("_file"), col("_pos"))
      .filter(condition)
      .select(col("_file"), col("_pos"))
    // executor-side sidecar writes: cluster matches by file, one sidecar
    // write per affected file, one metadata-sized summary row back
    val summary: Array[GraftStoreDvSummary] = matches
      .repartition(col("_file"))
      .sortWithinPartitions(col("_file"), col("_pos"))
      .rdd.mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[GraftStoreDvSummary]
        var curFile: String = null
        val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
        def flush(): Unit = if (curFile != null) {
          out += Dv.merge(absRoot, curFile, oldDvByFile.getOrElse(curFile, ""),
            buf, s"$curFile.dv.$stamp")
          buf.clear()
        }
        it.foreach { row =>
          val f = row.getString(0)
          if (f != curFile) { flush(); curFile = f }
          buf += row.getLong(1)
        }
        flush()
        out.iterator
      }.collect()
    if (summary.isEmpty) return base
    val newEntries = Dv.applyTo(entries, summary.map(d => d.file -> d).toMap)
    commit(path, snap)(_.copy(entries = newEntries, op = "delete"))
  }

  /** A file's column stats once a deletion vector hides more of its
    * rows. Deleting rows cannot add nulls, so an exact zero null count
    * stays exact — which keeps a partitioned file's cell provable
    * (SPJ key grouping, `$partitions`, per-cell manifest children) across
    * merge-on-read DML. A non-zero count shrank by an unknown amount
    * and drops to -1; every consumer degrades conservatively on that.
    * Min/max stay as bounds (they may no longer be attained). */
  private[sources] def statsAfterDelete(stats: Map[String, ColStats])
      : Map[String, ColStats] =
    stats.map { case (c, st) =>
      c -> (if (st.nulls == 0L) st else st.copy(nulls = -1L))
    }

  /** EQUALITY DELETE (the Iceberg-v2 equality-delete file design): mark
    * every row whose key tuple appears in `keys` as deleted — WITHOUT
    * reading a single data file. A position delete must first FIND the
    * rows (a keyed table scan per batch); an equality delete just
    * writes the key set and commits, so a CDC feed deleting 0.1% of
    * keys per batch costs KBs of sidecar I/O where position-vector
    * DELETE costs a scan and copy-on-write costs a table rewrite. The
    * delete applies to every data file born BEFORE it (`addedv < seq`);
    * readers probe a per-sidecar hash set (loaded once per executor
    * JVM); [[purgeDeletes]] folds accumulated sets into clean files.
    * Key columns: int/long/string/date/timestamp (dates ride the
    * sidecar as day counts, timestamps as micros — the physical lane
    * the reader probes), null keys match nothing (SQL
    * semantics). Empty key set = no commit. Returns the new version. */
  private[graft] def deleteByKey(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: org.apache.spark.sql.DataFrame): Long =
    commitEqDelete(spark, path, keys, appendRows = None, op = "eqdelete")

  /** CDC UPSERT as pure append (the Flink-on-Iceberg ingest shape): ONE
    * commit that (a) equality-deletes the batch's keys from every
    * pre-existing file and (b) appends the batch's rows — the appended
    * files are stamped with the committing version, which exempts them
    * from their own delete (`addedv < seq` is strict). Last-writer-wins
    * per key, no read-side MERGE, no data-file read at all: at 100 TB
    * the steady-state CDC apply writes the batch plus a key sidecar and
    * touches nothing else. The trade is read-side probing until
    * [[purgeDeletes]]/compaction folds the sets — the same contract
    * Iceberg v2 equality deletes carry. Upstream must deliver each
    * key's changes in order (the CDC-log contract); a keyed MERGE with
    * a guard is the tool when it cannot. */
  private[graft] def upsertByKey(spark: org.apache.spark.sql.SparkSession,
      path: String, keyCols: Seq[String],
      rows: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    commitEqDelete(spark, path, rows.select(keyCols.map(col): _*),
      appendRows = Some(rows), op = "upsert")
  }

  private def commitEqDelete(spark: org.apache.spark.sql.SparkSession,
      path: String, keys: org.apache.spark.sql.DataFrame,
      appendRows: Option[org.apache.spark.sql.DataFrame], op: String): Long = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType,
      StringType, TimestampNTZType, TimestampType}
    val snap0 = latest(path).getOrElse(throw missingSnapshot(path, None))
    val tblSchema = snap0.schema
    val keyCols = keys.schema.fields.map(_.name).toSeq
    keys.schema.fields.foreach { f =>
      val tf = tblSchema.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"equality-delete key '${f.name}' is not a column of $path"))
      require(Seq(IntegerType, LongType, StringType, DateType,
          TimestampType, TimestampNTZType).contains(tf.dataType),
        s"equality-delete key '${f.name}' has type ${tf.dataType} — " +
          "int/long/string/date/timestamp only (hash-probed per row at read)")
      // the KEY SET's own type must match the table's: a mistyped key
      // frame would otherwise encode garbage tuples (getLong over a
      // double column reinterprets raw bits; a date's day-count aliasing
      // an int column would delete the wrong rows) and silently delete
      // nothing or the wrong thing
      require(f.dataType == tf.dataType,
        s"equality-delete key '${f.name}' is ${f.dataType} but the " +
          s"table column is ${tf.dataType} — cast the key set first " +
          "(int/long/string/date/timestamp only)")
    }
    // sidecar codec: dates ride as their day count, timestamps as their
    // micros — both long lanes (canonical decimal-digit encoding), the
    // same physical value the reader's UnsafeRow probe sees
    val tags = keys.schema.fields.map(_.dataType match {
      case StringType => EqSet.TagString
      case _ => EqSet.TagLong // int/date widen to long in the sidecar
    })
    val srcTags = keys.schema.fields.map(_.dataType match {
      case IntegerType | DateType => 'I'.toByte // 4-byte lanes in InternalRow
      case StringType => EqSet.TagString
      case _ => EqSet.TagLong // long + timestamp-micros
    })
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val absRoot = new File(path).getAbsolutePath
    // executor-side sidecar writes: each partition of the (distinct,
    // null-free) key set writes its own immutable sidecar; only file
    // NAMES return to the driver — the key data never leaves executors
    def writeSidecars(): Seq[String] = keys.na.drop("any").distinct()
      .queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val rel = s"data/eqdel-$stamp-$pid.bin"
          val n = EqSet.write(new File(absRoot, rel).getPath, tags,
            it.map { row =>
              val vals = new Array[Any](srcTags.length)
              var i = 0
              while (i < srcTags.length) {
                vals(i) = srcTags(i) match {
                  case 'I' => row.getInt(i).toLong
                  case EqSet.TagLong => row.getLong(i)
                  case _ => row.getUTF8String(i).toString
                }
                i += 1
              }
              vals
            })
          if (n == 0) { new File(absRoot, rel).delete(); Iterator.empty }
          else Iterator.single(rel)
        }
      }.collect().toSeq
    // append side (upsert): rows write through the ordinary writer into
    // a scratch table carrying the SAME partition spec (per-value
    // rolling preserved), then hard-link in — the purge/clone pattern.
    // The sidecar job and the scratch write are INDEPENDENT passes over
    // the same batch (one projects keys, one writes rows; they touch
    // disjoint files), so run them CONCURRENTLY (guide §2.6 — overlap
    // independent jobs): FIFO scheduling back-fills the second job's
    // tasks into the first's tail instead of paying two sequential
    // job-launch+shuffle rounds per commit. Commit content and the
    // manifest (up to the per-run stamp in file names) are identical to
    // the sequential order.
    val sidecarsF: java.util.concurrent.Future[Seq[String]] = appendRows match {
      case Some(_) => commitPool.submit(
        new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = writeSidecars()
        })
      case _ => null // delete-only commits have a single job; run inline
    }
    val fresh: Seq[FileEntry] = appendRows match {
      case Some(rows) =>
        val scratch = Files.createTempDirectory("graft_upsert").toFile
        val part = new File(path, PartitionFileName)
        if (part.exists())
          Files.copy(part.toPath, Paths.get(scratch.getAbsolutePath, PartitionFileName))
        rows.write.format("graft.sources.GraftStore")
          .option("path", scratch.getAbsolutePath).mode("append").save()
        val es = linkStamped(path, scratch, "upsert")
        deleteRecursively(scratch)
        es
      case _ => Seq.empty
    }
    val sidecars: Seq[String] =
      if (sidecarsF == null) writeSidecars()
      else try sidecarsF.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
    if (sidecars.isEmpty && fresh.isEmpty) return snap0.version
    // commit with append-style retry: key deletes stay valid under any
    // concurrent commit (they address KEYS, not positions), so a lost
    // CAS just re-reads the base — the delete's seq becomes the new
    // commit's version, which still post-dates every pre-existing file
    retryOnConflict {
      val base = latest(path).getOrElse(Manifest(tblSchema))
      val entries = base.files(path)
      val seq = base.version + 1
      // lineage soundness: an addedv stamp at or beyond this commit's seq
      // can only come from a v1-restart clone of a table whose history
      // was longer than the clone's — minting a delete here would be
      // silently exempted by those stamps. Branches avoid this by
      // lineage-continuing numbering (cloneTable startVersion); a plain
      // clone that trips it re-clones or purges first.
      require(entries.forall(_.addedv < seq),
        s"table at $path carries addedv stamps >= the next version $seq " +
          "(a restarted-lineage clone of a longer history) — an equality " +
          "delete committed now would not apply to those files; " +
          "purgeDeletes on the source then re-clone, or OPTIMIZE first")
      (base, entries)
    } { case (base, entries) =>
      commit(path, base)(b => b.copy(entries = entries ++ fresh, op = op,
        eqDels = b.eqDels ++ sidecars.map(EqDelete(_, b.version + 1, keyCols))))
    }
  }

  /** Hard-links the files of the scratch table at `scratch` into the
    * table at `path` under per-run STAMPED names `data/<tag>-<stamp>-<i>.bin`
    * and returns the scratch entries renamed to them. Never the scratch
    * write's task-derived part-<pid>-<tid> names: task ids restart per
    * JVM, so a later session's rewrite against a table written by an
    * earlier one could collide with a live or orphaned file
    * (FileAlreadyExistsException mid-loop); the stamp makes every run's
    * names fresh. Created links are removed (and the scratch table
    * deleted) if a later link fails, so an aborted rewrite leaves no
    * orphans waiting for GC. */
  private[sources] def linkStamped(path: String, scratch: File, tag: String): Seq[FileEntry] = {
    val fresh = readManifest(scratch.getAbsolutePath).map(_._2).getOrElse(Seq.empty)
    val stamp = java.lang.Long.toHexString(System.nanoTime())
    val linked = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    try fresh.zipWithIndex.map { case (e, i) =>
      val name = s"data/$tag-$stamp-$i.bin"
      val to = Paths.get(path, name)
      if (to.getParent != null) Files.createDirectories(to.getParent)
      Files.createLink(to, Paths.get(scratch.getAbsolutePath, e.file))
      linked += to
      e.copy(file = name)
    } catch { case t: Throwable =>
      linked.foreach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
      deleteRecursively(scratch)
      throw t
    }
  }

  /** REWRITE DATA FILES (Iceberg's `rewrite_data_files` / Delta's `PURGE`
    * DV compaction): fold every deletion vector back into clean files —
    * read ONLY the delete-vectored files (exact file selection via the
    * `files` read option, never a table scan), write the surviving rows
    * through the ordinary writer (fresh exact stats, null counts
    * restored), hard-link the results in, and commit `!op=optimize`
    * (content-identical ⇒ the change feed stays silent, the pre-purge
    * snapshot stays time-travelable). Restores metadata-only aggregates
    * and AllRows pruning, which degrade conservatively while DVs are
    * present. I/O ∝ delete-vectored files only. Returns the committed
    * version (base version if the table has no DVs). */
  private[graft] def purgeDeletes(spark: org.apache.spark.sql.SparkSession,
      path: String): Long = {
    val snap = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (base, entries, eqDels0) = (snap.version, snap.files(path), snap.eqDels)
    // fold BOTH delete flavors: position vectors and applicable
    // equality deletes (the read below composes them, so the rewritten
    // files are clean of each) — afterwards the eqdel headers drop and
    // metadata-only answers come back
    val dvd = entries.filter(e =>
      e.dv.nonEmpty || eqDels0.exists(e.addedv < _.seq))
    if (dvd.isEmpty && eqDels0.isEmpty) return base
    val scratch = Files.createTempDirectory("graft_purge").toFile
    if (dvd.nonEmpty)
      spark.read.format("graft.sources.GraftStore").option("path", path)
        .option("versionAsOf", base.toString)
        .option("files", dvd.map(_.file).mkString(","))
        .load()
        .write.format("graft.sources.GraftStore")
        .option("path", scratch.getAbsolutePath).mode("append").save()
    val fresh = linkStamped(path, scratch, "purge")
    val dvdSet = dvd.map(_.file).toSet
    val v = commit(path, snap)(_.copy(
      entries = entries.filterNot(e => dvdSet.contains(e.file)) ++ fresh,
      op = "optimize", eqDels = Seq.empty))
    deleteRecursively(scratch) // data bytes survive via the hard links
    v
  }

  /** SORT-AWARE OPTIMIZE (round 15) — `OPTIMIZE … SORT BY`: the other
    * half of table maintenance next to byte-concat [[compact]]. Where
    * compact is deliberately content-INVISIBLE (frames copied verbatim,
    * so mixed-key files stay mixed), this rewrite DECODES the packable
    * files through the ordinary reader (narrow promotions and nested
    * pads apply, so output files carry the current schema natively with
    * no markers), globally RANGE-PARTITIONS on the cluster key(s) and
    * sorts within each output file — after which the files are
    * KEY-DISJOINT and each is key-sorted, so an equality or range
    * lookup on the key prunes to the one file whose min/max bounds
    * cover it and the writer's mono flag marks the order. Stats are
    * re-derived by the scratch write, never merged. Committed as
    * op="optimize": a permutation of the same rows, so the change feed
    * stays silent. Delete-affected files are skipped like compact's —
    * run purge_deletes first to fold them in. Cost is a full
    * decode/sort/re-encode of the packed bytes — the eager layout
    * investment, one shuffle, that buys every later point query its
    * one-file plan. */
  private[graft] def compactSorted(spark: org.apache.spark.sql.SparkSession,
      path: String, sortBy: Seq[String],
      targetBytes: Long = Long.MaxValue): Long = {
    val snap = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (base, schema, entries) = (snap.version, snap.schema, snap.files(path))
    require(sortBy.nonEmpty, "compactSorted needs at least one sort column")
    sortBy.foreach(c => require(schema.fieldNames.contains(c),
      s"no column '$c' at $path — columns: ${schema.fieldNames.mkString(", ")}"))
    val eqDels0 = snap.eqDels
    val (dvEntries, packable) = entries.partition(e =>
      e.dv.nonEmpty || eqDels0.exists(e.addedv < _.seq))
    if (packable.isEmpty) return -1L
    val totalBytes = packable.map(e => new File(path, e.file).length()).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val scratch = Files.createTempDirectory("graft_sortopt").toFile
    import org.apache.spark.sql.functions.col
    spark.read.format("graft.sources.GraftStore").option("path", path)
      .option("versionAsOf", base.toString)
      .option("files", packable.map(_.file).mkString(","))
      .load()
      .repartitionByRange(nOut, sortBy.map(col): _*)
      .sortWithinPartitions(sortBy.map(col): _*)
      .write.format("graft.sources.GraftStore")
      .option("path", scratch.getAbsolutePath).mode("append").save()
    val renamed = linkStamped(path, scratch, "sortopt")
    val packedSet = packable.map(_.file).toSet
    val v = commit(path, snap)(_.copy(
      entries = entries.filterNot(e => packedSet.contains(e.file)) ++ renamed,
      op = "optimize"))
    deleteRecursively(scratch) // data bytes survive via the hard links
    gcUnreferenced(path, (dvEntries.flatMap(e =>
      if (e.dv.isEmpty) Seq(e.file) else Seq(e.file, e.dv)) ++
      renamed.map(_.file)).toSet)
    v
  }

  /** WRITE-AUDIT-PUBLISH: fast-forward a branch (a [[cloneTable]] fork)
    * back onto its source table. The Iceberg WAP pattern with clone as
    * the branch mechanism: stage a day's writes on the branch, AUDIT
    * them there (expectations, dedup, contamination checks — any query;
    * main's readers never see staged data), then publish atomically.
    * Publish = hard-link the branch's new data files into main (zero
    * copy — staged bytes are never rewritten) and commit the branch's
    * exact (schema, entries) through main's compare-and-swap at the
    * branch-point version + 1, so ANY commit that landed on main since
    * the fork turns publish into [[ConflictException]] — never a silent
    * lost update (re-branch and replay is the resolution, exactly
    * git's fast-forward-only discipline). Returns main's new version. */
  private[graft] def publish(mainPath: String, branchPath: String): Long = {
    val tip = snapshot(new File(branchPath, ManifestName)).getOrElse(
      throw new IllegalArgumentException(
        s"no graft-store branch table at $branchPath"))
    val (entries, brEqDels) = (tip.files(branchPath), tip.eqDels)
    val v1op = snapshot(new File(branchPath, s"$ManifestName.v1")).fold("")(_.op)
    require(v1op.startsWith("clone(v"),
      s"publish source is not a cloned branch (v1 op is '$v1op')")
    val forkV = v1op.stripPrefix("clone(v").stripSuffix(")").toLong
    val main = latest(mainPath).getOrElse(Manifest(tip.schema))
    val mainV = main.version
    if (mainV != forkV)
      throw new ConflictException(
        s"cannot fast-forward publish: main is at v$mainV but the branch " +
          s"forked from v$forkV — re-branch from the current main and " +
          "replay the staged writes")
    entries.foreach { e =>
      val to = Paths.get(mainPath, e.file)
      if (!Files.exists(to)) {
        if (to.getParent != null) Files.createDirectories(to.getParent)
        Files.createLink(to, Paths.get(branchPath, e.file))
      }
      if (e.dv.nonEmpty) {
        val dvTo = Paths.get(mainPath, e.dv)
        if (!Files.exists(dvTo))
          Files.createLink(dvTo, Paths.get(branchPath, e.dv))
      }
    }
    brEqDels.foreach { d =>
      val to = Paths.get(mainPath, d.file)
      if (!Files.exists(to)) {
        if (to.getParent != null) Files.createDirectories(to.getParent)
        Files.createLink(to, Paths.get(branchPath, d.file))
      }
    }
    commit(mainPath, main)(_.copy(schema = tip.schema, entries = entries,
      op = "publish", eqDels = brEqDels))
  }

  private[sources] def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** Snapshot history as (version, nFiles, nRows, op), oldest first —
    * driver-side metadata walk over the retained manifests, the
    * `.snapshots` metadata-table economics: answering "how did this
    * table grow" costs one small file read per retained version, no
    * data I/O. `op` is the commit kind the snapshot recorded ("" for
    * pre-op-tracking manifests). */
  private[graft] def history(path: String): Seq[(Long, Long, Long, String)] =
    snapshotFiles(path).map { f =>
      // answer from the parent alone: ChildRef lines already carry each
      // child's entry count and row sum, so a sharded snapshot's history
      // row costs zero child-manifest opens — keeping the documented
      // "one small file read per retained version" contract (r18 review)
      val m = snapshot(f).getOrElse(Manifest(new StructType()))
      (f.getName.stripPrefix(ManifestName + ".v").toLong,
        m.entries.size.toLong + m.children.map(_.nfiles).sum,
        m.entries.map(_.rows).sum + m.children.map(_.rows).sum, m.op)
    }

  /** The (schema, entries) a read with these options sees: the current
    * pointer or a retained snapshot (`versionAsOf`), minus the base
    * snapshot's files for an incremental read (`fromVersion`, non-append
    * ranges refused). Shared by the scan and the metadata-aggregate
    * answerer so both always agree on the file set. */
  private[sources] def selectEntries(path: String, versionAsOf: Option[Long],
      fromVersion: Option[Long]): (StructType, Seq[FileEntry]) = {
    val (s, e, _) = selectWithEq(path, versionAsOf, fromVersion)
    (s, e)
  }

  /** The table or the snapshot a read names does not exist (never
    * committed, expired, or no table at the path). An
    * IllegalArgumentException, as before, to callers; the scan builder's
    * optional manifest answers decline on exactly this and nothing else. */
  final class MissingSnapshotException(msg: String) extends IllegalArgumentException(msg)

  private def missingSnapshot(path: String, v: Option[Long]) =
    new MissingSnapshotException(v match {
      case Some(x) => s"no snapshot v$x at $path (never committed, or expired)"
      case None => s"no graft-store table at $path"
    })

  private[sources] def selectWithEq(path: String, versionAsOf: Option[Long],
      fromVersion: Option[Long]): (StructType, Seq[FileEntry], Seq[EqDelete]) = {
    val m = snapshot(manifestFile(path, versionAsOf))
      .getOrElse(throw missingSnapshot(path, versionAsOf))
    val (schema, current, eqDels) = (m.schema, m.files(path), m.eqDels)
    val entries = fromVersion match {
      case Some(v) =>
        val from = snapshot(manifestFile(path, fromVersion))
          .getOrElse(throw missingSnapshot(path, fromVersion))
        val baseEq = from.eqDels
        val base = from.files(path).map(e => e.file -> e.dv).toMap
        // a file whose DELETION VECTOR changed is content-mutated even
        // though its name survives — append-only means names AND dvs
        // are stable for every base file. An EQUALITY delete landing in
        // the range mutates content without touching any entry, so the
        // header sets must match too.
        val removed = (base.keySet -- current.map(_.file).toSet) ++
          current.collect {
            case e if base.get(e.file).exists(_ != e.dv) => e.file
          }
        require(removed.isEmpty && eqDels == baseEq,
          s"incremental read from v$v crosses a non-append snapshot " +
            s"(${removed.size} base file(s) no longer present or " +
            "delete-vectored" +
            (if (eqDels != baseEq) "; equality deletes changed" else "") +
            ") — use a change-feed read " +
            "(changesFrom/changesTo) for ranges with deletes or rewrites")
        current.filterNot(e => base.contains(e.file))
      case None => current
    }
    (schema, entries, eqDels)
  }

  /** [[selectWithEq]] for a plain (current or time-travel) scan WITH
    * pushed filters: on a sharded manifest, children whose aggregated
    * stats disprove every row (tri-state NoRows) are skipped UNOPENED —
    * the parent read is the only metadata I/O a pruned-away partition
    * costs. Per-file pruning still runs downstream on the survivors'
    * entries, so semantics equal the flattened read exactly; an
    * unsharded manifest takes the identical code path with zero
    * children. Incremental and metadata-aggregate scans keep the
    * flattened read (they are defined over the FULL entry set). */
  private[sources] def selectWithEqPruned(path: String,
      versionAsOf: Option[Long],
      pushed: Seq[org.apache.spark.sql.sources.Filter])
    : (StructType, Seq[FileEntry], Seq[EqDelete]) = {
    val m = snapshot(manifestFile(path, versionAsOf))
      .getOrElse(throw missingSnapshot(path, versionAsOf))
    (m.schema, m.files(path, c =>
      StatsPruning.evalAll(pushed, FileEntry(c.file, c.rows, c.stats),
        m.schema) != StatsPruning.NoRows), m.eqDels)
  }

  /** The pointer (None) or retained snapshot `v`'s manifest file. */
  private[sources] def manifestFile(path: String, v: Option[Long]): File =
    v.fold(new File(path, ManifestName))(x => new File(path, s"$ManifestName.v$x"))

  /** Flatten task commit messages to the data files they name: the
    * task writer sends a [[GraftStoreMultiMessage]], a merge-on-read
    * task a [[GraftStoreDeltaMessage]] carrying its inserts, a bare
    * [[GraftStoreDataWriter]] one [[GraftStoreCommitMessage]]. */
  private[sources] def flatMessages(ms: Array[WriterCommitMessage]): Seq[GraftStoreCommitMessage] =
    ms.toSeq.flatMap {
      case s: GraftStoreCommitMessage => Seq(s)
      case GraftStoreMultiMessage(ps) => ps
      case GraftStoreDeltaMessage(_, ps) => ps
      case _ => Seq.empty // abort sees null slots for never-committed partitions
    }

  /** The commit prologue every sink runs: the messages' data files as
    * entries, with the table's CHECK constraints proven from their
    * stats before any manifest claim (`what` names the files in the
    * refusal). */
  private[sources] def committedEntries(path: String, schema: StructType,
      messages: Array[WriterCommitMessage], what: String): Seq[FileEntry] = {
    val entries = flatMessages(messages).map(m =>
      FileEntry(m.file, m.rows, m.stats, m.cols))
    if (entries.nonEmpty)
      enforceChecks(org.apache.spark.sql.SparkSession.active, path, schema,
        entries, what)
    entries
  }

  private[sources] val PartitionFileName = "_partition"
  private[sources] val PropsFileName = "_props"

  /** Table properties sibling (`k=v` lines, written at create time like
    * `_partition`). The one consumer today is `write.mode=merge-on-read`
    * — the Iceberg/Delta dial that routes DELETE/UPDATE/MERGE through
    * the delta (deletion-vector) write path instead of copy-on-write
    * group rewrites. Properties are write-path DIALS, never read-path
    * facts: no reader correctness ever depends on them. */
  private[graft] def readProps(path: String): Map[String, String] = {
    val f = new File(path, PropsFileName)
    if (!f.exists()) Map.empty
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .split('\n').filter(_.contains("=")).map { l =>
        val i = l.indexOf('=')
        l.take(i).trim -> l.drop(i + 1).trim
      }.toMap
  }

  private[graft] def writeProps(path: String, props: Map[String, String]): Unit =
    if (props.nonEmpty)
      Files.write(Paths.get(path, PropsFileName),
        props.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }
          .mkString("\n").getBytes(StandardCharsets.UTF_8))

  /** The table's CURRENT partition column, if any — stored in a sibling
    * file (written BEFORE the first manifest at create time, so it is
    * never observable without the table). The spec does not ride the
    * per-commit headers because no reader TRUSTS it: every consumer
    * (pruning, SPJ reporting, metadata-only delete) re-proves
    * single-valuedness from per-file stats, which is what makes
    * [[evolvePartitionBy]] a pure metadata operation. */
  private[graft] def readPartitionBy(path: String): Option[String] = {
    val f = new File(path, PartitionFileName)
    if (!f.exists()) None
    else Some(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
      .trim).filter(_.nonEmpty)
  }

  /** HIDDEN-PARTITIONING terms (round 11, second half) — the `_partition`
    * file holds a comma-joined list of terms, each either a bare column
    * (identity) or a MONOTONE transform of one:
    *
    *   `col` | `days(col)` | `trunc(W,col)`
    *
    * The Iceberg insight re-expressed on this format's invariants: a
    * transform term changes ONLY the write layout (cluster + order on
    * the SOURCE column, roll a file whenever the DERIVED value changes —
    * sound because both transforms are monotone in the source, so
    * source-ordered rows are derived-contiguous), while the read side
    * keeps proving everything from per-file SOURCE-column stats exactly
    * as before: a `days(ts)` table's files each span one UTC day, so the
    * `ts >= D AND ts < D'` range every dashboard issues prunes whole
    * files from manifest micros bounds, and dropping a day is a
    * metadata-only DELETE (entire-file proof from the same bounds).
    * Users never filter on a hidden partition value — they filter on the
    * source column, which is precisely what the stats index. Bucket
    * transforms are NOT monotone and are refused at create/evolve time
    * (they would need derived-value clustering, i.e. a function-catalog
    * exchange key).
    *
    * Consumers that need IDENTITY semantics (SPJ key grouping, grouped
    * metadata aggregates, cluster-like runtime filtering) read
    * [[partitionColsOf]], which returns only the identity subset — a
    * transform term silently degrades those features, never correctness. */
  sealed trait PartTerm { def source: String; def render: String }
  case class PartIdentity(source: String) extends PartTerm {
    def render: String = source
  }
  case class PartDays(source: String) extends PartTerm {
    def render: String = s"days($source)"
  }
  /** Hour-grain sibling of days (round 12, completing the Iceberg
    * temporal transform family): epoch-micros floor-divided to hours.
    * Monotone in the source like days, so the same rolling-write /
    * stats-pruning story holds — a `ts >= H AND ts < H'` range prunes
    * whole hour files from manifest micros bounds. Timestamp columns
    * only (a date has no sub-day grain to expose). */
  case class PartHours(source: String) extends PartTerm {
    def render: String = s"hours($source)"
  }
  /** Month-grain temporal transform (round 12): months-since-epoch
    * (year−1970)×12 + month−1 of the source's UTC date. Monotone —
    * increasing time never decreases the month index — so the same
    * rolling-write / stats-pruning story holds despite the
    * calendar-variable month LENGTH (the index, not the length, is what
    * rolls files); timestamp and date columns. */
  case class PartMonths(source: String) extends PartTerm {
    def render: String = s"months($source)"
  }
  /** Year-grain temporal transform (round 12): years-since-epoch of the
    * source's UTC date — the coarsest member of the Iceberg temporal
    * family (years/months/days/hours), the archival-tier grain.
    * Monotone like the others (leap years change a year's LENGTH, never
    * the index ordering), so the same rolling-write / stats-pruning
    * story holds; timestamp and date columns. */
  case class PartYears(source: String) extends PartTerm {
    def render: String = s"years($source)"
  }

  /** Months-since-epoch of an epoch day — the derived value
    * [[PartMonths]] clusters on. */
  private[sources] def monthIndexOfDay(epochDay: Long): Int = {
    val ld = java.time.LocalDate.ofEpochDay(epochDay)
    (ld.getYear - 1970) * 12 + ld.getMonthValue - 1
  }

  /** Years-since-epoch of an epoch day — the derived value [[PartYears]]
    * clusters on. */
  private[sources] def yearIndexOfDay(epochDay: Long): Int =
    java.time.LocalDate.ofEpochDay(epochDay).getYear - 1970
  case class PartTrunc(width: Int, source: String) extends PartTerm {
    def render: String = s"trunc($width,$source)"
  }
  /** NOT monotone — the one term that clusters and orders on the
    * DERIVED value, resolved through the catalog's V2 `bucket` function
    * (see [[GraftBucket]]); its per-file value is recorded as a
    * pseudo-column stat ([[PartBucket.statName]]) because no source
    * min/max range can prove bucket membership. */
  case class PartBucket(n: Int, source: String) extends PartTerm {
    def render: String = s"bucket($n,$source)"
    /** Manifest stats key for the file's derived bucket (safeName-clean:
      * letters/digits/underscores only). */
    def statName: String = s"__bucket_${n}_$source"
  }

  /** Split a spec on TOP-LEVEL commas only (a `trunc(4,c)` term carries
    * an internal one). */
  private def splitTerms(spec: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    spec.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case ch => cur += ch
    }
    out += cur.result()
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private val DaysRe = """(?i)days\(\s*([^(),\s]+)\s*\)""".r
  private val HoursRe = """(?i)hours\(\s*([^(),\s]+)\s*\)""".r
  private val MonthsRe = """(?i)months\(\s*([^(),\s]+)\s*\)""".r
  private val YearsRe = """(?i)years\(\s*([^(),\s]+)\s*\)""".r
  private val TruncRe = """(?i)trunc\(\s*(\d+)\s*,\s*([^(),\s]+)\s*\)""".r
  private val BucketRe = """(?i)bucket\(\s*(\d+)\s*,\s*([^(),\s]+)\s*\)""".r

  private[graft] def partitionTermsOf(spec: Option[String]): Seq[PartTerm] =
    spec.toSeq.flatMap(splitTerms).map {
      case DaysRe(c) => PartDays(c)
      case HoursRe(c) => PartHours(c)
      case MonthsRe(c) => PartMonths(c)
      case YearsRe(c) => PartYears(c)
      case TruncRe(w, c) => PartTrunc(w.toInt, c)
      case BucketRe(n, c) => PartBucket(n.toInt, c)
      case c =>
        require(!c.contains("(") && !c.contains(")"),
          s"unsupported partition transform term '$c' — supported: " +
            "identity column, years(col), months(col), days(col), " +
            "hours(col), trunc(width,col), bucket(n,col)")
        PartIdentity(c)
    }

  /** The IDENTITY subset of the spec — what SPJ / grouped metadata
    * aggregates / cluster-like advertisement key on. */
  private[graft] def partitionColsOf(spec: Option[String]): Seq[String] =
    partitionTermsOf(spec).collect { case PartIdentity(c) => c }

  /** The CLUSTER keys every rolling write demands (shared by the append,
    * replace-data and MOR-insert writes): identity terms on their
    * column, bucket terms on the DERIVED bucket expression. Monotone
    * transforms leave distribution to the caller. */
  private[sources] def clusterExprs(terms: Seq[PartTerm])
    : Seq[org.apache.spark.sql.connector.expressions.Expression] =
    terms.collect {
      case PartIdentity(c) => Expressions.column(c)
      case PartBucket(n, c) => Expressions.bucket(n, c)
    }

  /** The per-term SORT key list every rolling write demands (shared by
    * the append, replace-data and MOR-insert writes): identity terms
    * sort on their column, bucket on the derived bucket expression, a
    * temporal transform on its DERIVED cell index when it is NOT the
    * last term (a composite like (days(ts), lang) ordered by raw ts
    * alternates lang within a day — one rolled file per flip; the
    * derived day key, resolved through the catalog's V2 temporal
    * functions, groups the (day, lang) tuple so the writer rolls one
    * file per cell) and on its raw SOURCE column in final position
    * (monotone ⇒ derived-contiguous, and a bare-path write needs no
    * function catalog). trunc is always source-keyed: its non-final
    * use keeps the same correctness (single-valued files) at a
    * file-count cost. `extra` appends any sortBy keys within the
    * finest cell. */
  private[sources] def termOrdering(terms: Seq[PartTerm],
      extra: Seq[String] = Seq.empty)
    : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expression => VExpr, Expressions, SortDirection, SortOrder}
    val last = terms.size - 1
    val termKeys: Seq[VExpr] = terms.zipWithIndex.map {
      case (PartBucket(n, c), _) => Expressions.bucket(n, c): VExpr
      case (PartDays(c), i) if i < last => Expressions.days(c): VExpr
      case (PartHours(c), i) if i < last => Expressions.hours(c): VExpr
      case (PartMonths(c), i) if i < last => Expressions.months(c): VExpr
      case (PartYears(c), i) if i < last => Expressions.years(c): VExpr
      case (t, _) => Expressions.column(t.source): VExpr
    }
    (termKeys ++ extra.map(c => Expressions.column(c): VExpr))
      .foldLeft(Vector.empty[VExpr]) {
        (acc, e) => if (acc.exists(_.toString == e.toString)) acc else acc :+ e
      }
      .map(e => Expressions.sort(e, SortDirection.ASCENDING): SortOrder)
      .toArray
  }

  private[graft] def readPartitionCols(path: String): Seq[String] =
    partitionColsOf(readPartitionBy(path))

  private[graft] def readPartitionTerms(path: String): Seq[PartTerm] =
    partitionTermsOf(readPartitionBy(path))

  /** PARTITION-SPEC EVOLUTION (round 11) — the Iceberg
    * `REPLACE PARTITION FIELD` semantics on the one-column identity
    * spec this format supports: atomically swap the `_partition`
    * sibling (tmp + ATOMIC_MOVE; None drops the spec) and version the
    * change as a metadata-only commit (op="evolve-partition" — CDF
    * emits nothing, history/time-travel record it, zero data I/O).
    * Old files keep their old layout and are NEVER rewritten: every
    * read-side consumer re-proves its claims from per-file stats
    * rather than trusting the spec — pruning on the new column is
    * ordinary stats skipping (new files are single-valued on it by
    * write-time rolling; old files usually straddle and stay scanned),
    * SPJ/key-grouped reporting checks min==max on EVERY selected file
    * and silently degrades on a mixed-spec table, and metadata-only
    * DELETE demands entire-file proof as always. Appends after the
    * swap cluster + roll on the NEW column, so the table converges to
    * the new layout as data arrives; OPTIMIZE-style rewrite of the old
    * files completes it eagerly. Time-travel reads of pre-evolution
    * snapshots see the CURRENT spec for write-distribution purposes
    * only — their correctness never depended on it. */
  private[graft] def evolvePartitionBy(path: String, newSpec: Option[String]): Long = {
    val base = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (base.schema, base.files(path))
    val newTerms = partitionTermsOf(newSpec)
    validatePartitionTerms(schema, newTerms)
    // store the CANONICAL rendering (create-path format: no spaces), so
    // readPartitionBy round-trips identically however the caller spelled
    // the evolved spec
    val newCol = newSpec.map(_ => newTerms.map(_.render).mkString(","))
    // commit FIRST, swap after: a ConflictException (or any commit
    // failure) must leave the spec untouched — the swap is the effective
    // change, and a reader between commit and swap merely sees the new
    // version with the old spec, which is harmless (the spec is a
    // write-layout hint; every read-side consumer re-proves from stats)
    val v = commit(path, base)(_.copy(entries = entries,
      op = "evolve-partition"))
    newCol match {
      case Some(c) =>
        val tmp = Paths.get(path, s"$PartitionTmpPrefix${java.util.UUID.randomUUID()}")
        Files.write(tmp, c.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, Paths.get(path, PartitionFileName),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      case None =>
        Files.deleteIfExists(Paths.get(path, PartitionFileName))
    }
    v
  }

  /** COLUMN RENAME (round 13) — metadata-only, NO field ids needed:
    * this format's data files are POSITIONAL (length-framed UnsafeRow
    * bytes with per-entry arity), so a name never appears in a data
    * file and a rename cannot mis-bind old data — the property Iceberg
    * buys with field ids, this format gets from positional framing.
    * What a rename must NOT silently break is every NAME-KEYED piece of
    * metadata, all of it driver-side and O(files): per-entry stats keys
    * (else pruning and metadata aggregates quietly stop firing for the
    * column), bucket pseudo-stat keys, live equality-delete key-column
    * lists (else the read probe fails loudly on a phantom column), and
    * the `_partition` spec's term sources. All remapped in ONE commit;
    * time travel to a pre-rename snapshot reads the OLD name with its
    * OLD stats keys — each manifest is self-consistent. The spec swap
    * follows the commit exactly like [[evolvePartitionBy]] (commit
    * first, swap after; the spec is a write-layout hint, never a
    * read-side fact). */
  private[graft] def renameColumn(path: String, from: String,
      to: String): Long = {
    val base = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (base.schema, base.files(path))
    require(schema.fieldNames.contains(from),
      s"no column '$from' at $path — columns: ${schema.fieldNames.mkString(", ")}")
    require(!schema.fieldNames.contains(to),
      s"column '$to' already exists at $path")
    require(to.nonEmpty && !to.exists(c => c == '=' || c == ':' || c == ';'
        || c == '\t' || c == ',' || c == '(' || c == ')'),
      s"'$to' carries a manifest/spec delimiter — pick a plain identifier")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    def mapKey(k: String): String =
      if (k == from) to
      // Bucket pseudo-stat key: __bucket_<n>_<source>. Parse the key
      // structurally — strip the prefix, take the digits, and require
      // the remainder to equal `from` EXACTLY. A suffix match would
      // corrupt unrelated keys (renaming `id` must not touch
      // `__bucket_4_user_id`), silently breaking SPJ bucket pruning
      // for that column.
      else if (k.startsWith("__bucket_")) {
        val rest = k.stripPrefix("__bucket_")
        val digits = rest.takeWhile(_.isDigit)
        if (digits.nonEmpty && rest.startsWith(digits + "_") &&
            rest.drop(digits.length + 1) == from)
          s"__bucket_${digits}_$to"
        else k
      } else k
    val newEntries = entries.map(e =>
      e.copy(stats = e.stats.map { case (k, v) => mapKey(k) -> v }))
    val eqs = base.eqDels
      .map(d => d.copy(cols = d.cols.map(c => if (c == from) to else c)))
    val v = commit(path, base)(_.copy(schema = newSchema, entries = newEntries,
      op = s"rename($from->$to)", eqDels = eqs))
    readPartitionBy(path).foreach { spec =>
      val terms = partitionTermsOf(Some(spec))
      if (terms.exists(_.source == from)) {
        val newSpec = terms.map {
          case PartIdentity(`from`) => PartIdentity(to).render
          case PartDays(`from`) => PartDays(to).render
          case PartHours(`from`) => PartHours(to).render
          case PartMonths(`from`) => PartMonths(to).render
          case PartYears(`from`) => PartYears(to).render
          case PartTrunc(w, `from`) => PartTrunc(w, to).render
          case PartBucket(n, `from`) => PartBucket(n, to).render
          case t => t.render
        }.mkString(",")
        val tmp = Paths.get(path, s"$PartitionTmpPrefix${java.util.UUID.randomUUID()}")
        Files.write(tmp, newSpec.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, Paths.get(path, PartitionFileName),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    v
  }

  /** TYPE WIDENING int -> long (round 13) — metadata-only, the Iceberg
    * type-promotion semantics without field ids: the schema field flips
    * to LongType in one commit and every CURRENT entry that physically
    * carries the column records its ordinal in `narrow` — the marker
    * the reader uses to fix the lane up. The fix-up is free by layout:
    * UnsafeRow gives EVERY fixed-width column an 8-byte slot, an int
    * lives in the low 4 bytes of its slot, so the reader rewrites the
    * slot in place (`setLong(i, getInt(i).toLong)`, sign-extending)
    * right after the frame read — no wrapper row, no per-consumer
    * special cases, and downstream (codegen, equality-delete probes
    * tagged from the long schema, sorts) sees a true long lane. Files
    * written after the widen carry longs natively (no marker); files
    * that PREDATE the column null-pad as before (arity < ordinal).
    * Narrowing, and any other type change, is refused — information
    * loss needs a rewrite, not a metadata commit. Stats survive
    * verbatim: int min/max/sum strings parse as longs. Time travel to a
    * pre-widen snapshot reads int with the old schema; RESTORE of one
    * replays its schema wholesale, staying self-consistent. */
  private[graft] def widenColumn(path: String, col: String,
      target: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType): Long = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val base = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (base.schema, base.files(path))
    require(schema.fieldNames.contains(col),
      s"no column '$col' at $path — columns: ${schema.fieldNames.mkString(", ")}")
    val ord = schema.fieldIndex(col)
    val dt = schema.fields(ord).dataType
    // REFUSAL MATRIX: only value-preserving promotions are metadata
    // commits. Everything else — narrowing (long→int, double→float,
    // double→long), precision-losing "widening" (long→float), or a
    // representation change (numeric↔string, int→float which rounds
    // ints above 2^24) — loses information and needs a data rewrite,
    // never a schema flip.
    import org.apache.spark.sql.types.DecimalType
    // DECIMAL PRECISION GROWTH (round 14): decimal(p1,s) -> decimal(p2,s)
    // with p1 < p2 <= 18 is the one widening that needs NO lane fix-up
    // at all — compact decimals store the unscaled long in the 8-byte
    // slot, and the unscaled value is identical under both precisions —
    // so it commits as a pure schema flip (kind = -1 below = no marker).
    // Scale growth multiplies every unscaled value by 10^k (a rewrite,
    // not metadata) and crossing 18 changes the physical representation
    // (16-byte decimals): both refuse.
    val kind = (dt, target) match {
      case (IntegerType, LongType) => NarrowIntToLong
      case (LongType, DoubleType) => NarrowLongToDouble
      case (FloatType, DoubleType) => NarrowFloatToDouble
      case (IntegerType, DoubleType) => NarrowIntToDouble
      case (d1: DecimalType, d2: DecimalType)
          if d1.scale == d2.scale && d1.precision < d2.precision &&
            d2.precision <= 18 => -1
      case _ => throw new IllegalArgumentException(
        s"cannot ALTER '$col' $dt -> $target: supported widenings are " +
          "int->long, int->double, long->double, float->double and " +
          "decimal(p,s)->decimal(p2,s) with p < p2 <= 18" +
          (if (dt == target) s" (already $dt)"
           else " — any other change loses information (or changes the " +
             "physical layout) and needs a rewrite, not a metadata commit"))
    }
    if (kind == NarrowLongToDouble) {
      // long→double is only value-preserving within ±2^53 (a double's
      // 53-bit mantissa): beyond that the reader fix-up toDouble ROUNDS
      // and equality/join/filter results silently corrupt — the reason
      // both Iceberg's promotion spec and Delta's type widening exclude
      // this direction outright. We allow it only when every file that
      // physically carries a NATIVE long lane (files narrow-marked from
      // an earlier int→long widen hold ints — always exact) PROVES via
      // its min/max stats that the column fits in ±2^53; an unproven
      // file (no stats, or out of range) refuses the whole commit.
      val SafeAbs = 1L << 53
      entries.foreach { e =>
        val arity = if (e.cols > 0) e.cols else schema.size
        val intLane = e.narrow.exists(m =>
          narrowOrd(m) == ord && narrowKind(m) == NarrowIntToLong)
        if (arity > ord && !intLane) {
          val ok = e.stats.get(schema.fields(ord).name).exists { st =>
            (st.nulls == e.rows && e.rows >= 0L) ||
              (st.min.nonEmpty && st.max.nonEmpty &&
                scala.util.Try(
                  math.abs(st.min.toLong) <= SafeAbs &&
                    math.abs(st.max.toLong) <= SafeAbs).getOrElse(false))
          }
          require(ok, s"cannot widen '$col' long -> double: file " +
            s"${e.file} cannot prove its values fit in a double's exact " +
            "integer range (|v| <= 2^53) — values beyond it would round " +
            "on read. Rewrite the data (e.g. compact()) instead")
        }
      }
    }
    if (target == DoubleType) {
      // a double renders differently ("5.0" vs "5") — the string-keyed
      // equality-delete probe and the partition-spec transforms
      // (bucket/trunc need int/long; identity dirs key on the rendered
      // value) would silently stop matching. Refuse both up front.
      readPartitionBy(path).foreach { spec =>
        require(!partitionTermsOf(Some(spec)).exists(_.source == col),
          s"cannot widen '$col' to double: it is a partition source " +
            s"in spec '$spec' — drop it from the spec (evolvePartitionBy) first")
      }
      val liveEq = base.eqDels
      require(!liveEq.exists(_.cols.contains(col)),
        s"cannot widen '$col' to double: live equality deletes key on it " +
          "(their stored key renderings would no longer match) — run " +
          "purgeDeletes first")
    }
    val newSchema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (i == ord) f.copy(dataType = target) else f
    })
    val statName = schema.fields(ord).name
    val newEntries = entries.map { e =>
      // only files that physically CARRY the column need the marker; a
      // pre-ADD-COLUMN file (arity <= ordinal) null-pads either way
      val arity = if (e.cols > 0) e.cols else schema.size
      val e2 =
        if (arity <= ord || kind < 0) e // kind -1: no lane fix-up needed
        else e.narrow.find(m => narrowOrd(m) == ord) match {
          // a file already narrow-marked from an earlier int→long widen
          // keeps its PHYSICAL int lane — its marker upgrades to
          // int→double in one step (the only legal chain: il then ld)
          case Some(m) if kind == NarrowLongToDouble &&
              narrowKind(m) == NarrowIntToLong =>
            e.copy(narrow = e.narrow.map(x =>
              if (x == m) packNarrow(ord, NarrowIntToDouble) else x))
          case Some(_) => e
          case None =>
            e.copy(narrow =
              (e.narrow :+ packNarrow(ord, kind)).distinct.sortBy(narrowOrd))
        }
      // int stat strings reparse as exact longs, but long/float strings
      // reparsed as doubles can ROUND past the true value — an unsound
      // min/max bound prunes files that contain matches. Drop the
      // column's stats on any widen-to-double; post-widen writes track
      // native double stats again.
      if (target == DoubleType) e2.copy(stats = e2.stats - statName) else e2
    }
    commit(path, base)(_.copy(schema = newSchema, entries = newEntries,
      op = s"widen($col)"))
  }

  /** CHECK CONSTRAINTS (round 15) — Delta-style `check.<name>` table
    * properties, enforced at COMMIT TIME from the new files' OWN stats
    * instead of a per-row writer tax: a committed file satisfies a
    * constraint iff the tri-state evaluator proves the (constraint OR
    * any-referenced-column-IS-NULL) filter AllRows over it — exact for
    * range predicates on statable columns because writer min/max are
    * exact bounds, zero I/O, zero executor plumbing, and a file the
    * stats cannot PROVE refuses loudly (never a silently-admitted
    * violation). The IS NULL disjunct is the SQL-standard CHECK rule: a
    * NULL evaluation passes the constraint. Constraints must translate
    * to v1 filters over statable columns — enforced when the property
    * is SET, so an unenforceable expression is refused at DDL time, not
    * at first write. */
  /** Parse + analyze a SQL predicate against `schema` and translate to
    * a stats-evaluable v1 Filter; loud refusal naming `what` otherwise.
    * Shared by CHECK constraints and the scoped-maintenance surface. */
  private[graft] def v1FilterOf(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, what: String, sql: String)
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LocalRelation}
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val parsed = spark.sessionState.sqlParser.parseExpression(sql)
    val analyzed = spark.sessionState.analyzer.execute(
      LFilter(parsed, LocalRelation(attrs)))
    val cond = analyzed.collectFirst { case LFilter(c, _) => c }.getOrElse(
      throw new IllegalArgumentException(
        s"$what ('$sql') did not analyze to a predicate"))
    toV1Filter(cond).getOrElse(
      throw new IllegalArgumentException(
        s"$what ('$sql') is not stats-evaluable — use " +
          "comparisons/IN/AND/OR/NOT over top-level columns"))
  }

  private[graft] def checkFilterOf(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, name: String, sql: String)
      : org.apache.spark.sql.sources.Filter = {
    val v1 = v1FilterOf(spark, schema, s"constraint $name", sql)
    // SQL CHECK semantics: a row passes unless the predicate evaluates
    // FALSE — i.e. the file must prove `pred IS NOT FALSE` for every
    // row. Widening is therefore structural, not blanket: a comparison
    // atom goes UNKNOWN on a null operand (OR IsNull(col) is exact),
    // but IS [NOT] NULL atoms are two-valued — never UNKNOWN — so they
    // must NOT be widened ('x IS NOT NULL' OR IsNull(x) would be a
    // tautology that silently admits the exact rows the constraint
    // exists to refuse).
    notFalse(v1)
  }

  /** `f IS NOT FALSE` under SQL three-valued logic, as a v1 filter the
    * tri-state evaluator can prove. Comparison/IN atoms are UNKNOWN
    * (pass) on a null operand → OR IsNull(col); IS [NOT] NULL atoms are
    * never UNKNOWN → kept exact; AND/OR distribute (x AND y is FALSE
    * iff either is FALSE; x OR y is FALSE iff both are); NOT flips to
    * the dual `IS NOT TRUE`. */
  private def notFalse(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.{sources => v1}
    f match {
      case v1.And(l, r) => v1.And(notFalse(l), notFalse(r))
      case v1.Or(l, r) => v1.Or(notFalse(l), notFalse(r))
      case v1.Not(p) => notTrue(p)
      case v1.IsNull(_) | v1.IsNotNull(_) => f
      case _ => f.references.foldLeft(f) { (acc, c) =>
        v1.Or(acc, v1.IsNull(c))
      }
    }
  }

  /** Dual of [[notFalse]]: `f IS NOT TRUE` (NOT f passes rows where f
    * is FALSE or UNKNOWN). */
  private def notTrue(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.{sources => v1}
    f match {
      case v1.And(l, r) => v1.Or(notTrue(l), notTrue(r))
      case v1.Or(l, r) => v1.And(notTrue(l), notTrue(r))
      case v1.Not(p) => notFalse(p)
      case v1.IsNull(c) => v1.IsNotNull(c)
      case v1.IsNotNull(c) => v1.IsNull(c)
      case _ => f.references.foldLeft(
        v1.Not(f): org.apache.spark.sql.sources.Filter) { (acc, c) =>
        v1.Or(acc, v1.IsNull(c))
      }
    }
  }

  /** Resolved catalyst predicate → v1 Filter, for the shapes the
    * tri-state evaluator understands (comparisons between a top-level
    * attribute and a foldable literal, IN, IS [NOT] NULL, AND/OR/NOT).
    * None = not expressible, refuse at DDL time. */
  private def toV1Filter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.{sources => v1}
    // the analyzer wraps comparison sides in type-promotion casts —
    // fold literal sides to values, unwrap casts around attributes (the
    // tri-state evaluator compares in the COLUMN's own type, so a
    // widening promotion cast is transparent to it)
    def lit(x: ce.Expression): Option[Any] =
      if (x.foldable)
        Some(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(x.eval(), x.dataType))
      else None
    def attr(x: ce.Expression): Option[String] = x match {
      case a: ce.Attribute => Some(a.name)
      case c: ce.Cast => attr(c.child)
      case _ => None
    }
    e match {
      case ce.EqualTo(a, b) =>
        attr(a).zip(lit(b)).map(t => v1.EqualTo(t._1, t._2))
          .orElse(attr(b).zip(lit(a)).map(t => v1.EqualTo(t._1, t._2)))
      case ce.GreaterThan(a, b) =>
        attr(a).zip(lit(b)).map(t => v1.GreaterThan(t._1, t._2))
          .orElse(attr(b).zip(lit(a)).map(t => v1.LessThan(t._1, t._2)))
      case ce.GreaterThanOrEqual(a, b) =>
        attr(a).zip(lit(b)).map(t => v1.GreaterThanOrEqual(t._1, t._2))
          .orElse(attr(b).zip(lit(a)).map(t => v1.LessThanOrEqual(t._1, t._2)))
      case ce.LessThan(a, b) =>
        attr(a).zip(lit(b)).map(t => v1.LessThan(t._1, t._2))
          .orElse(attr(b).zip(lit(a)).map(t => v1.GreaterThan(t._1, t._2)))
      case ce.LessThanOrEqual(a, b) =>
        attr(a).zip(lit(b)).map(t => v1.LessThanOrEqual(t._1, t._2))
          .orElse(attr(b).zip(lit(a)).map(t => v1.GreaterThanOrEqual(t._1, t._2)))
      case ce.In(a, vs) if vs.forall(lit(_).isDefined) =>
        attr(a).map(c => v1.In(c, vs.flatMap(lit).toArray))
      case ce.IsNull(a) => attr(a).map(v1.IsNull)
      case ce.IsNotNull(a) => attr(a).map(v1.IsNotNull)
      case ce.And(l, r) =>
        toV1Filter(l).zip(toV1Filter(r)).map(t => v1.And(t._1, t._2))
      case ce.Or(l, r) =>
        toV1Filter(l).zip(toV1Filter(r)).map(t => v1.Or(t._1, t._2))
      case ce.Not(inner) => toV1Filter(inner).map(v1.Not)
      case _ => None
    }
  }

  /** Enforce every `check.*` property against a set of file entries
    * (new files at commit; the whole table when a constraint is ADDED).
    * Violations AND unprovable files both refuse — the conservative
    * side of exactness. */
  private[graft] def enforceChecks(spark: org.apache.spark.sql.SparkSession,
      path: String, schema: StructType, entries: Seq[FileEntry],
      what: String): Unit = {
    val checks = readProps(path).filter(_._1.startsWith("check."))
    if (checks.isEmpty) return
    checks.foreach { case (name, sql) =>
      val f = checkFilterOf(spark, schema, name, sql)
      entries.foreach { e =>
        val tri = StatsPruning.evalAll(Seq(f), e, schema)
        require(tri == StatsPruning.AllRows,
          s"CHECK constraint $name ('$sql') ${
            if (tri == StatsPruning.NoRows) "is violated by"
            else "cannot be proven from the stats of"} $what file " +
            s"${e.file} — the commit is refused")
      }
    }
  }

  /** NESTED-FIELD EVOLUTION (round 15) — ADD a nullable subfield at the
    * END of a struct column as a metadata-only commit: the schema's
    * struct type gains the field, and every CURRENT entry that
    * physically carries the column records (ordinal, OLD struct arity)
    * in `nested` — a nested UnsafeRow bakes its field count into its
    * bytes (null bitmap + fixed region are arity-sized), so unlike the
    * top-level tail pad the reader must wrap access to the struct in a
    * delegating view that answers null beyond the file's arity
    * ([[StructPadView]]). Files written after the commit carry the full
    * struct natively; a file that already carries an OLDER marker for
    * the column keeps it (its bytes didn't change). Repeated adds
    * compose: the marker always records the BYTES' arity. Struct
    * columns carry no per-file stats, so nothing is dropped. */
  private[graft] def addStructField(path: String, col: String,
      field: String, dt: org.apache.spark.sql.types.DataType): Long = {
    val base = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (base.schema, base.files(path))
    require(schema.fieldNames.contains(col),
      s"no column '$col' at $path — columns: ${schema.fieldNames.mkString(", ")}")
    val ord = schema.fieldIndex(col)
    val st = schema.fields(ord).dataType match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"cannot ADD nested field $col.$field: '$col' is ${other.simpleString}, not a struct")
    }
    require(!st.fieldNames.contains(field),
      s"field '$col.$field' already exists")
    require(field.nonEmpty && !"=:;,\t@".exists(field.contains(_)),
      s"illegal nested field name '$field'")
    val newStruct = st.add(field, dt, nullable = true)
    val newSchema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (i == ord) f.copy(dataType = newStruct) else f
    })
    val newEntries = entries.map { e =>
      val arity = if (e.cols > 0) e.cols else schema.size
      if (arity <= ord) e // file predates the column: null-pads whole
      // older PAD marker wins (it already records the bytes' count);
      // skip/widen markers don't — the bytes' count must be pinned NOW,
      // including any dropped fields the bytes still carry
      else if (e.nested.exists(m => nestedIsPad(m) && nestedOrd(m) == ord)) e
      else {
        val ownSkips =
          e.nested.count(m => nestedIsSkip(m) && nestedOrd(m) == ord)
        e.copy(nested =
          (e.nested :+ packNested(ord, st.size + ownSkips))
            .sortBy(m => (nestedOrd(m), m)))
      }
    }
    commit(path, base)(_.copy(schema = newSchema, entries = newEntries,
      op = s"evolve-nested($col.$field)"))
  }

  /** Physical position of logical subfield `logical` in bytes whose
    * dropped fields sit at ascending physical positions `skips`. */
  private def nestedPhysOf(logical: Int, skips: Seq[Int]): Int = {
    var p = logical
    skips.foreach(s => if (s <= p) p += 1)
    p
  }

  /** (struct type, top ordinal) of column `col`, or throw. */
  private def structAt(schema: StructType, path: String, col: String)
      : (StructType, Int) = {
    require(schema.fieldNames.contains(col),
      s"no column '$col' at $path — columns: ${schema.fieldNames.mkString(", ")}")
    val ord = schema.fieldIndex(col)
    schema.fields(ord).dataType match {
      case s: StructType => (s, ord)
      case other => throw new IllegalArgumentException(
        s"'$col' is ${other.simpleString}, not a struct")
    }
  }

  /** NESTED-FIELD DROP (round 16) — remove a struct subfield as a
    * metadata-only commit: the schema's struct type loses the field,
    * and every CURRENT file whose bytes physically carry it gains a
    * SKIP marker recording the field's physical position in THAT
    * file's bytes (files differ: earlier drops shift positions, pad
    * files may never have carried it). The reader maps logical
    * positions past skipped bytes — the dropped values are never
    * touched, so even their type is irrelevant from here on. Files
    * written after the commit don't carry the field at all. */
  private[graft] def dropStructField(path: String, col: String,
      field: String): Long = {
    val base = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (base.schema, base.files(path))
    val (st, ord) = structAt(schema, path, col)
    require(st.fieldNames.contains(field),
      s"no field '$col.$field' — fields: ${st.fieldNames.mkString(", ")}")
    require(st.size >= 2,
      s"cannot DROP '$col.$field': it is the struct's only field — drop the column instead")
    val idx = st.fieldIndex(field)
    val newStruct = StructType(st.fields.patch(idx, Nil, 1))
    val newSchema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (i == ord) f.copy(dataType = newStruct) else f
    })
    val newEntries = entries.map { e =>
      val arity = if (e.cols > 0) e.cols else schema.size
      if (arity <= ord) e // file predates the column entirely
      else {
        val ownSkips = e.nested.collect {
          case m if nestedIsSkip(m) && nestedOrd(m) == ord => nestedPhys(m)
        }.sorted
        val physCount = e.nested.collectFirst {
          case m if nestedIsPad(m) && nestedOrd(m) == ord => nestedArity(m)
        }.getOrElse(st.size + ownSkips.size)
        val phys = nestedPhysOf(idx, ownSkips)
        if (phys >= physCount) e // bytes never carried the field (pad)
        else e.copy(nested =
          (e.nested :+ packNestedSkip(ord, phys))
            .sortBy(m => (nestedOrd(m), m)))
      }
    }
    commit(path, base)(_.copy(schema = newSchema, entries = newEntries,
      op = s"evolve-nested(drop $col.$field)"))
  }

  /** NESTED-FIELD WIDEN long→double (round 16) — metadata-only: the
    * schema's subfield type flips to double, and every CURRENT file
    * physically carrying the field gains a WIDEN marker at the field's
    * per-file physical position; the reader converts the long bits on
    * access (a nested UnsafeRow slot is 8 bytes either way, but long
    * bits aren't double bits — the top-level in-place lane trick
    * doesn't reach inside a struct). Post-widen appends carry native
    * doubles. Narrowing and other type flips refuse. */
  private[graft] def widenStructField(path: String, col: String,
      field: String, to: org.apache.spark.sql.types.DataType): Long = {
    val base = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (base.schema, base.files(path))
    val (st, ord) = structAt(schema, path, col)
    require(st.fieldNames.contains(field),
      s"no field '$col.$field' — fields: ${st.fieldNames.mkString(", ")}")
    val idx = st.fieldIndex(field)
    require(st.fields(idx).dataType == org.apache.spark.sql.types.LongType &&
        to == org.apache.spark.sql.types.DoubleType,
      s"nested widen supports BIGINT -> DOUBLE only, got " +
        s"${st.fields(idx).dataType.simpleString} -> ${to.simpleString}")
    val newStruct = StructType(st.fields.zipWithIndex.map { case (f, i) =>
      if (i == idx) f.copy(dataType = to) else f
    })
    val newSchema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (i == ord) f.copy(dataType = newStruct) else f
    })
    val newEntries = entries.map { e =>
      val arity = if (e.cols > 0) e.cols else schema.size
      if (arity <= ord) e
      else {
        val ownSkips = e.nested.collect {
          case m if nestedIsSkip(m) && nestedOrd(m) == ord => nestedPhys(m)
        }.sorted
        val physCount = e.nested.collectFirst {
          case m if nestedIsPad(m) && nestedOrd(m) == ord => nestedArity(m)
        }.getOrElse(st.size + ownSkips.size)
        val phys = nestedPhysOf(idx, ownSkips)
        if (phys >= physCount) e // bytes never carried it: pads as null
        else e.copy(nested =
          (e.nested :+ packNestedWiden(ord, phys))
            .sortBy(m => (nestedOrd(m), m)))
      }
    }
    commit(path, base)(_.copy(schema = newSchema, entries = newEntries,
      op = s"evolve-nested(widen $col.$field)"))
  }

  /** RENAME a struct subfield — pure metadata: data is positional and
    * no name-keyed metadata reaches below the top level (per-file stats,
    * equality-delete keys and partition specs are all top-level-only,
    * enforced at their creation sites). */
  private[graft] def renameStructField(path: String, col: String,
      from: String, to: String): Long = {
    val base = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (base.schema, base.files(path))
    require(schema.fieldNames.contains(col),
      s"no column '$col' at $path")
    val ord = schema.fieldIndex(col)
    val st = schema.fields(ord).dataType match {
      case s: StructType => s
      case other => throw new IllegalArgumentException(
        s"cannot RENAME nested field $col.$from: '$col' is ${other.simpleString}, not a struct")
    }
    require(st.fieldNames.contains(from), s"no field '$col.$from'")
    require(!st.fieldNames.contains(to),
      s"field '$col.$to' already exists")
    require(to.nonEmpty && !"=:;,\t@".exists(to.contains(_)),
      s"illegal nested field name '$to'")
    val newStruct = StructType(st.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val newSchema = StructType(schema.fields.zipWithIndex.map { case (f, i) =>
      if (i == ord) f.copy(dataType = newStruct) else f
    })
    commit(path, base)(_.copy(schema = newSchema, entries = entries,
      op = s"evolve-nested($col.$from->$to)"))
  }

  /** Shared per-transform validation (create / evolve must agree):
    * sources exist and are top-level, `days` needs a temporal column,
    * `trunc` a string/int/long, `bucket` an int/long — the same checks
    * [[GraftCatalog.createTable]] enforces, so an evolved spec can never
    * smuggle in a term the create path would refuse (e.g. days over a
    * long, which would throw at write time instead). */
  private[graft] def validatePartitionTerms(schema: StructType,
      terms: Seq[PartTerm]): Unit = {
    import org.apache.spark.sql.types._
    terms.foreach { t =>
      require(schema.fieldNames.contains(t.source),
        s"partition column ${t.source} must be a top-level table column")
      val dt = schema.fields(schema.fieldIndex(t.source)).dataType
      t match {
        case PartIdentity(_) => ()
        case PartDays(c) =>
          require(dt == TimestampType || dt == TimestampNTZType || dt == DateType,
            s"days($c) needs a timestamp/date column, got $dt")
        case PartHours(c) =>
          require(dt == TimestampType || dt == TimestampNTZType,
            s"hours($c) needs a timestamp column, got $dt")
        case PartMonths(c) =>
          require(dt == TimestampType || dt == TimestampNTZType || dt == DateType,
            s"months($c) needs a timestamp/date column, got $dt")
        case PartYears(c) =>
          require(dt == TimestampType || dt == TimestampNTZType || dt == DateType,
            s"years($c) needs a timestamp/date column, got $dt")
        case PartTrunc(w, c) =>
          require(dt == StringType || dt == IntegerType || dt == LongType,
            s"trunc over $c needs a string/int/long column, got $dt")
          require(w > 0, s"trunc width must be positive, got $w")
        case PartBucket(n, c) =>
          require(dt == IntegerType || dt == LongType,
            s"bucket over $c needs an int/long column, got $dt")
          require(n > 0, s"bucket count must be positive, got $n")
      }
    }
    val sources = terms.map(_.source)
    require(sources.distinct.size == sources.size,
      s"duplicate partition source columns: ${sources.mkString(", ")}")
  }

  /** `$partitions` metadata-table rows: (rendered partition tuple,
    * n_files, live n_rows) per distinct derived partition value of the
    * CURRENT manifest — the Iceberg partitions-table surface, derived
    * the way every other consumer of the spec is: RE-PROVEN from
    * per-file stats, never trusted. A term's derived value is provable
    * when the file's source bounds pin one cell (identity: min==max &&
    * no nulls; days/hours: both micros bounds in one day/hour;
    * trunc(int): both bounds in one width-multiple; bucket: the
    * single-valued pseudo-stat). Files where ANY term is unprovable
    * (pre-spec history, compaction-merged cells, string trunc — strings
    * carry no min/max) aggregate into one NULL-partition catch-all row
    * — degraded honestly, never guessed. Temporal cells render
    * human-readable (`ts_day=2024-01-10`, `ts_hour=2024-01-10-06`), the
    * Iceberg display convention. Driver-side fold over manifest lines;
    * zero data I/O by construction. */
  private[graft] def partitionRows(path: String): Seq[(Option[String], Long, Long)] = {
    val terms = readPartitionTerms(path)
    val (schema, entries) = readManifest(path)
      .getOrElse((new StructType(), Seq.empty[FileEntry]))
    if (terms.isEmpty) return Seq.empty
    def derivedOf(t: PartTerm, e: FileEntry): Option[String] =
      derivedCellOf(schema, t, e)
    entries.groupBy { e =>
      val parts = terms.map(derivedOf(_, e))
      if (parts.forall(_.isDefined)) Some(parts.flatten.mkString("/")) else None
    }.toSeq.map { case (p, es) =>
      (p, es.size.toLong, es.map(e => math.max(e.rows, 0L)).sum)
    }.sortBy(_._1.getOrElse(""))
  }

  /** One term's PROVEN derived partition value for one file, rendered
    * (shared by `$partitions` and dynamic partition overwrite): Some
    * only when the file's own stats pin a single cell; None = honest
    * "cannot prove" (pre-spec history, compaction-merged cells, string
    * trunc, nulls). */
  private[graft] def derivedCellOf(schema: StructType, t: PartTerm,
      e: FileEntry): Option[String] = {
    def isDate(c: String): Boolean = schema.fields.find(_.name == c)
      .exists(_.dataType == org.apache.spark.sql.types.DateType)
    t match {
      case b: PartBucket =>
        e.stats.get(b.statName)
          .filter(st => st.nulls == 0 && st.min.nonEmpty && st.min == st.max)
          .map(st => s"${b.source}_bucket=${st.min}")
      case _ =>
        e.stats.get(t.source)
          .filter(st => st.nulls == 0 && st.min.nonEmpty)
          .flatMap { st =>
            t match {
              case PartIdentity(c) =>
                if (st.min == st.max) Some(s"$c=${st.min}") else None
              case PartDays(c) =>
                // DateType stats are epoch days already; timestamp stats
                // are epoch micros — the schema says which
                val (lo, hi) = (st.min.toLong, st.max.toLong)
                val (dLo, dHi) =
                  if (isDate(c)) (lo, hi)
                  else (Math.floorDiv(lo, 86400000000L),
                    Math.floorDiv(hi, 86400000000L))
                if (dLo == dHi)
                  Some(s"${c}_day=${java.time.LocalDate.ofEpochDay(dLo)}")
                else None
              case PartMonths(c) =>
                val (lo, hi) = (st.min.toLong, st.max.toLong)
                val (dLo, dHi) =
                  if (isDate(c)) (lo, hi)
                  else (Math.floorDiv(lo, 86400000000L),
                    Math.floorDiv(hi, 86400000000L))
                val (mLo, mHi) = (monthIndexOfDay(dLo), monthIndexOfDay(dHi))
                if (mLo == mHi)
                  Some(f"${c}_month=${1970 + mLo / 12}%04d-${mLo % 12 + 1}%02d")
                else None
              case PartYears(c) =>
                val (lo, hi) = (st.min.toLong, st.max.toLong)
                val (dLo, dHi) =
                  if (isDate(c)) (lo, hi)
                  else (Math.floorDiv(lo, 86400000000L),
                    Math.floorDiv(hi, 86400000000L))
                val (yLo, yHi) = (yearIndexOfDay(dLo), yearIndexOfDay(dHi))
                if (yLo == yHi) Some(f"${c}_year=${1970 + yLo}%04d") else None
              case PartHours(c) =>
                val (hLo, hHi) = (Math.floorDiv(st.min.toLong, 3600000000L),
                  Math.floorDiv(st.max.toLong, 3600000000L))
                if (hLo == hHi)
                  Some(f"${c}_hour=${java.time.LocalDate.ofEpochDay(Math.floorDiv(hLo, 24L))}-${Math.floorMod(hLo, 24L)}%02d")
                else None
              case PartTrunc(w, c) =>
                // int/long only — string columns carry no min/max stats
                // and fall through via toLong failure below
                try {
                  val (tLo, tHi) = (Math.floorDiv(st.min.toLong, w.toLong) * w,
                    Math.floorDiv(st.max.toLong, w.toLong) * w)
                  if (tLo == tHi) Some(s"${c}_trunc=$tLo") else None
                } catch { case _: NumberFormatException => None }
              case _ => None
            }
          }
    }
  }

  /** A change-feed read's schema: the data schema plus the two CDF
    * columns every row carries. */
  private[graft] def cdfSchema(dataSchema: StructType): StructType =
    dataSchema
      .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)

  /** CHANGE DATA FEED planning: walk the retained manifests of versions
    * (fromV, toV] and turn each commit into file-grained change sets —
    * files a commit removed emit their rows as `delete` (read from the
    * PREVIOUS snapshot, whose manifest still references them, so GC
    * retention covers exactly the feed's needs), files it added emit as
    * `insert`. The `!op=` header is what makes the diff honest:
    * `optimize` (byte-identical rewrite) and `evolve`/`create`
    * (metadata-only) emit NOTHING — without the op a compaction's file
    * churn is indistinguishable from an overwrite. Copy-on-write
    * `replace` commits surface at file granularity: rows copied
    * unchanged into a replacement file appear as a paired delete+insert
    * (net change exact, like Delta tables without per-commit CDC
    * files); batch-aligned layouts (cluster on the DML key) keep those
    * pairs to the files the predicate actually touched. This is the
    * answer to the non-append ranges the incremental read refuses:
    * every commit kind has a defined, loss-free change representation.
    * Returns (relFile, fileArity, changeType, version) tuples — one
    * scan partition each; cost is metadata-proportional to the CHANGED
    * files only, never a rescan of the table. */
  /** One planned unit of change-feed work: a whole file's LIVE rows
    * (`dvDelta = false`, skipping `applyDv`'s positions — so a file that
    * already carried deletions never re-emits them), or, for a commit
    * that only GREW a file's deletion vector, exactly the NEWLY deleted
    * positions (`dvDelta = true`: emit positions in `applyDv` minus
    * `baseDv`) — row-level precision at I/O cost proportional to one
    * file, the Delta deletion-vector CDF shape. */
  private[sources] case class CdfUnit(file: String, cols: Int,
      changeType: String, version: Long, applyDv: String = "",
      baseDv: String = "", dvDelta: Boolean = false,
      maskEq: Seq[EqDelete] = Seq.empty, onlyEq: Seq[EqDelete] = Seq.empty,
      narrow: Seq[Int] = Seq.empty, nested: Seq[Int] = Seq.empty)

  private[sources] def cdfFileDiffs(path: String, fromV: Long,
      toV: Long): Seq[CdfUnit] = {
    require(0 <= fromV && fromV <= toV,
      s"invalid change range v$fromV..v$toV")
    def manifestAt(v: Long): Manifest =
      snapshot(new File(path, s"$ManifestName.v$v")).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot v$v at $path is not retained (expired or never " +
            "committed) — a change feed needs every snapshot in its range"))
    def eqAt(v: Long): Seq[EqDelete] =
      if (v <= 0) Seq.empty else manifestAt(v).eqDels
    // A type-widening commit inside the range flips the feed's output
    // schema. The feed reads EVERYTHING under the schema at `toV` and
    // upgrades each unit's narrow markers STRUCTURALLY: for every
    // ordinal the file physically carries, compare its physical lane
    // type (the source manifest's type, unwound through the entry's own
    // markers) against the target type and emit the promotion marker.
    // Structural — not keyed on the op string — so a widen that reaches
    // this lineage inside a fastForward/publish commit is handled
    // identically. Old images from pre-widen versions thus emit in the
    // WIDENED type, the Delta/Iceberg changelog behavior.
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val tgtSchema = if (toV > 0) manifestAt(toV).schema else StructType(Seq.empty)
    val tgtTypes = tgtSchema.fields.map(_.dataType)
    def upgradeNarrow(e: FileEntry, srcSchema: StructType): Seq[Int] = {
      val srcTypes = srcSchema.fields.map(_.dataType)
      if (srcTypes.sameElements(tgtTypes)) e.narrow
      else {
        val arity = if (e.cols > 0) e.cols else srcSchema.size
        val byOrd = e.narrow.map(m => narrowOrd(m) -> m).toMap
        val n = math.min(math.min(arity, srcTypes.length), tgtTypes.length)
        (0 until n).flatMap { o =>
          val phys = byOrd.get(o).map(m => narrowKind(m) match {
            case NarrowLongToDouble => LongType
            case NarrowFloatToDouble => FloatType
            case _ => IntegerType // il and id markers both mean an int lane
          }).getOrElse(srcTypes(o))
          val want = tgtTypes(o)
          if (phys == want) None
          else (phys, want) match {
            case (IntegerType, LongType) => Some(packNarrow(o, NarrowIntToLong))
            case (IntegerType, DoubleType) => Some(packNarrow(o, NarrowIntToDouble))
            case (LongType, DoubleType) => Some(packNarrow(o, NarrowLongToDouble))
            case (FloatType, DoubleType) => Some(packNarrow(o, NarrowFloatToDouble))
            // same-scale decimal precision growth: identical unscaled
            // lane, no fix-up
            case (d1: org.apache.spark.sql.types.DecimalType,
                d2: org.apache.spark.sql.types.DecimalType)
                if d1.scale == d2.scale && d1.precision <= d2.precision &&
                  d2.precision <= 18 => None
            // struct changes (nested ADD/RENAME/DROP/WIDEN): handled by
            // the parallel NESTED marker channel, which throws its own
            // split-the-feed error when the pair is unmappable — no
            // top-level lane fix-up either way
            case (_: StructType, _: StructType) => None
            case _ => throw new IllegalArgumentException(
              s"change range v$fromV..v$toV crosses a non-widening type " +
                s"change at ordinal $o ($phys -> $want) — split the feed " +
                "at the evolving commit")
          }
        }
      }
    }
    // NESTED channel of the same structural upgrade: a unit from a
    // pre-evolve version reads its struct bytes under the schema at
    // `toV`, so its markers must be RE-DERIVED against the target
    // struct type. The file's own markers (vs the source-era struct)
    // give its physical layout — byte count, already-skipped and
    // already-widened positions; the src→tgt field mapping then adds
    //   - SKIPs for source fields the target dropped (matched by NAME —
    //     a nested rename in the same range as a drop is unmappable
    //     and throws: split the feed at the evolving commit),
    //   - WIDENs where the bytes hold long and the target says double,
    //   - a PAD pinning the byte count when the target appended fields.
    // Prefix-extensions by TYPE (add/rename-only ranges) stay purely
    // positional, so a rename-only range never consults names.
    def upgradeNested(e: FileEntry, srcSchema: StructType): Seq[Int] = {
      val srcTypes = srcSchema.fields.map(_.dataType)
      if (srcTypes.sameElements(tgtTypes)) e.nested
      else {
        val arity = if (e.cols > 0) e.cols else srcSchema.size
        val n = math.min(math.min(arity, srcTypes.length), tgtTypes.length)
        val passthrough = e.nested.filter(m => nestedOrd(m) >= n)
        passthrough ++ (0 until n).flatMap { o =>
          val own = e.nested.filter(m => nestedOrd(m) == o)
          (srcTypes(o), tgtTypes(o)) match {
            case (s1: StructType, s2: StructType) =>
              val ownSkips = own.collect {
                case m if nestedIsSkip(m) => nestedPhys(m)
              }.sorted
              val ownWidens = own.collect {
                case m if nestedIsWiden(m) => nestedPhys(m)
              }.toSet
              val physCount = own.collectFirst {
                case m if nestedIsPad(m) => nestedArity(m)
              }.getOrElse(s1.size + ownSkips.size)
              val prefixExt = s1.size <= s2.size &&
                s2.fields.take(s1.size).map(_.dataType)
                  .sameElements(s1.fields.map(_.dataType))
              val (skips, widens, srcOf) =
                if (prefixExt)
                  (ownSkips, ownWidens,
                    (j: Int) => if (j < s1.size) Some(j) else None)
                else {
                  val tgtNames = s2.fieldNames.toSet
                  val survivors = s1.fields.map(_.name).filter(tgtNames)
                  if (survivors.toSeq !=
                      s2.fieldNames.take(survivors.length).toSeq)
                    throw new IllegalArgumentException(
                      s"change range v$fromV..v$toV crosses a nested " +
                        s"struct change at ordinal $o that is not an " +
                        "add/drop/widen composition (e.g. a rename " +
                        "together with a drop) — split the feed at the " +
                        "evolving commit")
                  val dropped = s1.fields.zipWithIndex
                    .filterNot(f => tgtNames(f._1.name)).map(_._2)
                  val sk = (ownSkips ++
                    dropped.map(li => nestedPhysOf(li, ownSkips))
                      .filter(_ < physCount)).distinct.sorted
                  val srcIdxOf = (j: Int) =>
                    if (j < survivors.length)
                      Some(s1.fieldIndex(survivors(j)))
                    else None
                  (sk, ownWidens, srcIdxOf)
                }
              val newWidens = (0 until s2.size).flatMap { j =>
                srcOf(j).flatMap { li =>
                  val phys = nestedPhysOf(li, ownSkips)
                  if (phys >= physCount) None
                  else {
                    val bytesType =
                      if (ownWidens(phys)) LongType else s1.fields(li).dataType
                    (bytesType, s2.fields(j).dataType) match {
                      case (a, b) if a == b => None
                      case (LongType, DoubleType) => Some(phys)
                      case (a, b) => throw new IllegalArgumentException(
                        s"change range v$fromV..v$toV crosses a nested " +
                          s"non-widening type change at ordinal $o field " +
                          s"$j ($a -> $b) — split the feed at the " +
                          "evolving commit")
                    }
                  }
                }
              }.toSet ++ widens.filter(_ < physCount)
              // physical positions the target no longer reads at all
              val skipMarkers = skips.map(p => packNestedSkip(o, p))
              val widenMarkers = newWidens.toSeq.sorted
                .map(p => packNestedWiden(o, p))
              // pin the byte count whenever it differs from what the
              // reader would infer (tgt width + skips)
              val pad =
                if (physCount != s2.size + skips.length)
                  Seq(packNested(o, physCount))
                else Seq.empty
              (pad ++ skipMarkers ++ widenMarkers).sortBy(m => (nestedOrd(m), m))
            case _ => own
          }
        }
      }
    }

    // eq-delete sidecars store RENDERED key strings; a key column whose
    // type changed inside the range would probe with a different
    // rendering ("5.0" vs "5") and silently stop masking — refuse that
    // compound corner honestly (widenColumn itself refuses it for live
    // deletes, but an old range can still hold since-purged ones)
    (fromV to toV).filter(_ > 0).foreach { v =>
      lazy val sch = manifestAt(v).schema
      eqAt(v).foreach { d =>
        d.cols.foreach { c =>
          val srcDt = if (sch.fieldNames.contains(c))
            Some(sch.fields(sch.fieldIndex(c)).dataType) else None
          val tgtDt = if (tgtSchema.fieldNames.contains(c))
            Some(tgtSchema.fields(tgtSchema.fieldIndex(c)).dataType) else None
          require(srcDt == tgtDt || srcDt.zip(tgtDt).forall {
              case (IntegerType, LongType) => true; case _ => false },
            s"change range v$fromV..v$toV crosses a type change on " +
              s"equality-delete key '$c' — purge deletes or split the feed")
        }
      }
    }
    var base: Map[String, FileEntry] = Map.empty
    var baseSchema: StructType = tgtSchema
    if (fromV > 0) {
      val m = manifestAt(fromV)
      base = m.files(path).map(e => e.file -> e).toMap
      baseSchema = m.schema
    }
    var eqBase: Seq[EqDelete] = eqAt(fromV)
    (fromV + 1 to toV).flatMap { v =>
      val m = manifestAt(v)
      val (op, curSchema, eqCur) = (m.op, m.schema, m.eqDels)
      val cur = m.files(path).map(e => e.file -> e).toMap
      def baseNarrow(e: FileEntry): Seq[Int] = upgradeNarrow(e, baseSchema)
      def curNarrow(e: FileEntry): Seq[Int] = upgradeNarrow(e, curSchema)
      def baseNested(e: FileEntry): Seq[Int] = upgradeNested(e, baseSchema)
      def curNested(e: FileEntry): Seq[Int] = upgradeNested(e, curSchema)
      val out: Seq[CdfUnit] =
        if (op == "optimize" || op.startsWith("evolve") || op.startsWith("create"))
          Seq.empty
        else {
          // rows already hidden by a PRE-commit equality delete were
          // never live inside the range — every old-image emission
          // (removed file, dv delta) masks them out, symmetrically to
          // how applyDv masks pre-range position deletes
          def maskPrev(e: FileEntry) = eqBase.filter(e.addedv < _.seq)
          val removed = (base.keySet -- cur.keySet).toSeq.sorted
            .map(f => CdfUnit(f, base(f).cols, "delete", v,
              applyDv = base(f).dv, maskEq = maskPrev(base(f)),
              narrow = baseNarrow(base(f)), nested = baseNested(base(f))))
          // an added file masks the CURRENT deletes applicable to it:
          // none in the ordinary append (fresh files are stamped
          // exempt), but a restore/publish can re-add an OLD file whose
          // rows a still-live delete hides
          val added = (cur.keySet -- base.keySet).toSeq.sorted
            .map(f => CdfUnit(f, cur(f).cols, "insert", v,
              applyDv = cur(f).dv,
              maskEq = eqCur.filter(cur(f).addedv < _.seq),
              narrow = curNarrow(cur(f)), nested = curNested(cur(f))))
          // same file, CHANGED deletion vector. Grown (the merge-on-read
          // DELETE): emit ONLY the newly deleted rows. Shrunk or
          // replaced (a RESTORE to before the delete re-commits the old
          // entry verbatim, so the dv can go backwards — including to
          // none): the formerly-deleted rows come back ALIVE, so emit
          // them as INSERT old-new-images (base dv minus cur dv), minus
          // rows the current state still hides (cur dv is the skip in
          // the grown case's mirror; current eq deletes mask). A
          // replacement dv emits both units; each side's bitset diff
          // picks up only its own rows.
          val dvChanged = (base.keySet & cur.keySet).toSeq.sorted
            .filter(f => base(f).dv != cur(f).dv)
          val dvGrown = dvChanged.filter(f => cur(f).dv.nonEmpty)
            .map(f => CdfUnit(f, cur(f).cols, "delete", v,
              applyDv = cur(f).dv, baseDv = base(f).dv, dvDelta = true,
              maskEq = maskPrev(cur(f)), narrow = curNarrow(cur(f)),
              nested = curNested(cur(f))))
          val dvRevived = dvChanged.filter(f => base(f).dv.nonEmpty)
            .map(f => CdfUnit(f, cur(f).cols, "insert", v,
              applyDv = base(f).dv, baseDv = cur(f).dv, dvDelta = true,
              maskEq = eqCur.filter(cur(f).addedv < _.seq),
              narrow = curNarrow(cur(f)), nested = curNested(cur(f))))
          // equality deletes REMOVED by the commit (restore to before a
          // keyed delete): rows matching the dropped key sets on carried
          // files resurrect — emit their current images as INSERTs,
          // skipping rows the current dv still hides and masking rows a
          // STILL-live equality delete keeps hidden
          val eqRemovedDels = eqBase.filterNot(eqCur.toSet)
          val eqRevived =
            if (eqRemovedDels.isEmpty) Seq.empty
            else (base.keySet & cur.keySet).toSeq.sorted.flatMap { f =>
              val e = cur(f)
              val applicable = eqRemovedDels.filter(e.addedv < _.seq)
              if (applicable.isEmpty) None
              else Some(CdfUnit(f, e.cols, "insert", v, applyDv = e.dv,
                baseDv = base(f).dv, // union skip: dv-dead at EITHER end
                maskEq = eqCur.filter(e.addedv < _.seq),
                onlyEq = applicable,
                narrow = curNarrow(e), nested = curNested(e)))
            }
          // an EQUALITY-DELETE commit (deleteByKey / upsertByKey)
          // mutates content with no entry diff: emit the OLD IMAGES —
          // for every carried file the new key sets apply to, the rows
          // matching them (minus rows already dead: current DV +
          // pre-commit deletes) — the Iceberg changelog-scan semantics.
          // I/O ∝ files the delete applies to: the read-side cost the
          // pure-append write deferred, paid exactly where it's asked
          // for.
          val eqPrevSet = eqBase.toSet
          val newDels = eqCur.filterNot(eqPrevSet)
          val eqDelta =
            if (newDels.isEmpty) Seq.empty
            else (base.keySet & cur.keySet).toSeq.sorted.flatMap { f =>
              val e = cur(f)
              val applicable = newDels.filter(e.addedv < _.seq)
              if (applicable.isEmpty) None
              else Some(CdfUnit(f, e.cols, "delete", v, applyDv = e.dv,
                baseDv = base(f).dv, // union skip: dv-dead at EITHER end
                maskEq = maskPrev(e), onlyEq = applicable,
                narrow = curNarrow(e), nested = curNested(e)))
            }
          removed ++ added ++ dvGrown ++ dvRevived ++ eqRevived ++ eqDelta
        }
      base = cur
      baseSchema = curSchema
      eqBase = eqCur
      out
    }
  }

  /** The change feed's scan partitions for v`fromV`..v`toV`, one per
    * [[cdfFileDiffs]] unit (the batch feed and its stream). */
  private[sources] def cdfPartitions(path: String, dataSchema: StructType,
      fromV: Long, toV: Long): Array[InputPartition] = {
    def abs(rel: String) = if (rel.isEmpty) "" else new File(path, rel).getAbsolutePath
    cdfFileDiffs(path, fromV, toV).map { u =>
      GraftStoreCdfPartition(abs(u.file), u.cols, u.changeType, u.version,
        abs(u.applyDv), abs(u.baseDv), u.dvDelta,
        eqRefs(path, dataSchema, u.maskEq), eqRefs(path, dataSchema, u.onlyEq),
        u.narrow, u.nested): InputPartition
    }.toArray
  }

  /** The guard both table streams run on a batch v`s`..v`e`. The
    * snapshot at a committed batch end must be retained: one that is
    * missing expired under the stream, which fails loudly rather than
    * skip the schema guard. And its column types must still be the
    * stream's: the stream's schema is FIXED at start, and schema
    * evolution since then flips lanes/arity under it (an int scan over
    * a new long-lane file reads the low half). The comparison is
    * structural, not by op string, so a widen that arrives inside a
    * fastForward publish is refused identically, while a stream started
    * AFTER the widen replays pre-widen history fine (current-manifest
    * entries carry the narrow markers that promote old lanes). Restart
    * the stream to adopt the evolved schema. `what` names the stream in
    * the refusal. */
  private[sources] def streamBatchGuard(path: String, streamSchema: StructType,
      s: Long, e: Long, what: String): Unit = {
    val endSchema = snapshot(manifestFile(path, Some(e)))
      .getOrElse(throw new IllegalStateException(
        s"snapshot v$e at $path expired while a stream checkpoint still " +
          "references it — retain snapshots at least as long as readers")).schema
    require(streamSchema.fields.map(_.dataType)
        .sameElements(endSchema.fields.map(_.dataType)),
      s"$what batch v$s..v$e crosses a schema-evolving commit " +
        s"(stream schema ${streamSchema.catalogString} vs " +
        s"${endSchema.catalogString}) — restart the stream to adopt the " +
        "evolved schema")
  }

  /** Resolve equality deletes to reader-side refs (sidecar absolute
    * path + key ordinals and type tags in `schema`); a key column the
    * schema no longer carries fails loudly — silently skipping a delete
    * would resurrect its rows. */
  private[sources] def eqRefs(path: String, schema: StructType,
      dels: Seq[EqDelete]): Seq[GraftStoreEqDelRef] =
    dels.map { d =>
      val ords = d.cols.map { c =>
        require(schema.fieldNames.contains(c),
          s"equality delete ${d.file} keys on column '$c' which the " +
            "schema no longer carries — purge deletes before evolving " +
            "it away")
        schema.fieldIndex(c)
      }
      val tags = ords.map(i => schema.fields(i).dataType match {
        // date = int day count, timestamp = long micros in UnsafeRow —
        // the probe reads the physical lane and the sidecar stores the
        // same value, so both share the int/long codecs
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.DateType => 'I'.toByte
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => EqSet.TagLong
        case org.apache.spark.sql.types.StringType => EqSet.TagString
        case other => throw new IllegalStateException(
          s"equality-delete key '${d.cols}' over unsupported type $other")
      })
      GraftStoreEqDelRef(new File(path, d.file).getAbsolutePath,
        ords.toArray, tags.toArray)
    }

  /** Union of two files' per-column stats — min of mins, max of maxes,
    * null counts add; an all-null side (empty min/max strings) defers to
    * the other. Comparison happens in the column's own type via the
    * schema, exactly like [[StatsPruning]] — never through a lossy
    * string compare ("9" < "10" numerically, not lexically). */
  private[sources] def mergeStats(schema: StructType,
      a: Map[String, ColStats], b: Map[String, ColStats]): Map[String, ColStats] = {
    import org.apache.spark.sql.types.DoubleType
    (a.keySet ++ b.keySet).flatMap { c =>
      (a.get(c), b.get(c)) match {
        case (Some(x), Some(y)) =>
          // membership sketches OR together (the larger folded to the
          // smaller's size); one side lacking its sketch poisons the
          // merged one (absence could no longer prove absence). NDV
          // sketches union by register max; one side lacking its sketch
          // poisons the estimate the same way. Monotonicity SURVIVES a
          // concatenation merge exactly when both inputs are proven
          // sorted AND their ranges are ordered non-overlapping in
          // concat order (left.max <= right.min): compaction's
          // manifest-order byte concat of range-clustered sorted files
          // then yields a provably-sorted packed file, and the
          // left-fold reduce keeps the check pairwise-sound (a passing
          // prefix's max IS its last file's max).
          val merged =
            if (x.min.isEmpty) ColStats(y.min, y.max, x.nulls + y.nulls)
            else if (y.min.isEmpty) ColStats(x.min, x.max, x.nulls + y.nulls)
            else schema.fields.find(_.name == c).map(_.dataType) match {
              case Some(DoubleType) =>
                // Spark's NaN-GREATEST total order: an all-NaN side's
                // "NaN" min sentinel must not poison the merged minimum
                // (math.min propagates NaN) — take the other side's real
                // min, "NaN" only when both sides are all-NaN. math.max's
                // NaN propagation already coincides with NaN-greatest (a
                // NaN max IS the greatest value present), keep it. The
                // mono range check uses total-order <= (everything <= NaN,
                // NaN <= only NaN) so a sorted non-NaN file followed by an
                // all-NaN file stays provably sorted.
                val (xm, xM) = (x.min.toDouble, x.max.toDouble)
                val (ym, yM) = (y.min.toDouble, y.max.toDouble)
                def leTotal(p: Double, q: Double): Boolean =
                  q.isNaN || (!p.isNaN && p <= q)
                ColStats(
                  if (xm.isNaN) y.min
                  else if (ym.isNaN) x.min
                  else math.min(xm, ym).toString,
                  math.max(xM, yM).toString,
                  x.nulls + y.nulls,
                  mono = x.mono && y.mono && leTotal(xM, ym))
              case _ => ColStats(
                math.min(x.min.toLong, y.min.toLong).toString,
                math.max(x.max.toLong, y.max.toLong).toString,
                x.nulls + y.nulls,
                mono = x.mono && y.mono && x.max.toLong <= y.min.toLong)
            }
          val bloom =
            if (x.bloom.nonEmpty && y.bloom.nonEmpty)
              KeySketch.or(x.bloom, y.bloom)
            else ""
          val ndv =
            if (x.ndv.nonEmpty && y.ndv.nonEmpty) NdvHll.mergeHex(x.ndv, y.ndv)
            else ""
          // exact sums wrap-add (associative); an all-null side (empty
          // min — contributed no values) defers to the other; a side
          // with VALUES but no recorded sum (pre-sum manifest) poisons
          val sum =
            if (x.min.isEmpty) y.sum
            else if (y.min.isEmpty) x.sum
            else if (x.sum.nonEmpty && y.sum.nonEmpty)
              (x.sum.toLong + y.sum.toLong).toString
            else ""
          Some(c -> merged.copy(bloom = bloom, ndv = ndv, sum = sum))
        case _ => None // a pre-stats file poisons the column: no stats
      }
    }.toMap
  }

  /** The next frame's length in a data file, -1 at its end (committed
    * files end exactly on a frame boundary). */
  private def readFrameLength(in: DataInputStream): Int =
    try in.readInt() catch { case _: java.io.EOFException => -1 }

  /** Table-level OPTIMIZE: bin-pack the current snapshot's small data
    * files, one partition key at a time, into ~`targetBytes` files and
    * commit the rewritten manifest
    * in one atomic pointer swap. Because rows are length-framed
    * UnsafeRow bytes, a bin is compacted by CONCATENATING its files'
    * bytes — zero decode, zero re-encode (on an object store this is a
    * server-side multipart copy; no row ever moves through compute).
    * The rewrite is distributed: one Spark task per bin does the
    * concatenation; the driver only swaps the manifest. Merged entries
    * carry union stats ([[mergeStats]]), so file skipping works on the
    * packed files exactly as before. Single-file bins keep their
    * original file untouched (no write amplification on already-packed
    * data). The PRE-compaction snapshot stays readable via time travel
    * — its files survive GC until [[expireSnapshots]] — so OPTIMIZE is
    * content-invisible AND history-preserving. Returns the new snapshot
    * version, or -1 if nothing needed rewriting. */
  /** Bin-pack small files. `scope` (round 16) restricts the rewrite to
    * files the stats PROVE entirely inside the predicate — the
    * compact-yesterday's-partition maintenance shape: on a 100 TB table
    * nobody compacts the whole thing, they compact the slice the last
    * ingest fragmented. Files the stats can't decide are simply left
    * alone (compaction is an optimization; skipping is semantically
    * free — unlike REPLACE WHERE there is nothing to refuse). */
  private[graft] def compact(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long,
      scope: Option[org.apache.spark.sql.sources.Filter] = None): Long = {
    val snap = latest(path).getOrElse(throw missingSnapshot(path, None))
    val (schema, entries) = (snap.schema, snap.files(path))
    // delete-vectored files never join a bin: a byte concat would revive
    // their deleted frames — purgeDeletes is their compaction path.
    // Files with an APPLICABLE equality delete stay out for the same
    // reason in reverse: the packed entry is stamped addedv = the
    // compaction version, which would EXEMPT it from the very deletes
    // that still hide its rows
    val eqDels0 = snap.eqDels
    val (dvEntries, packable0) = entries.partition(e =>
      e.dv.nonEmpty || eqDels0.exists(e.addedv < _.seq))
    // scoped compaction keeps out-of-scope and stats-undecidable files
    // byte-identical in place
    val (packable, outOfScope) = scope match {
      case None => (packable0, Seq.empty[FileEntry])
      case Some(f) => packable0.partition(e =>
        StatsPruning.evalAll(Seq(f), e, schema) == StatsPruning.AllRows)
    }
    // bins never cross a partition key (Iceberg's rewrite_data_files and
    // Delta's OPTIMIZE bin per partition): a packed file stays
    // single-valued on the identity and bucket terms, so SPJ key
    // grouping and keyed scans survive compaction. Files whose stats pin
    // no single key (pre-spec history) bin only with each other.
    // Temporal and trunc cells may still merge: no key grouping keys on
    // them, and a merged file keeps pruning exactly from its min/max
    // bounds. Within a key, next-fit in manifest order: deterministic,
    // preserves write locality; bins keep the manifest order of their
    // first file
    val keyTerms = readPartitionTerms(path).filter {
      case _: PartIdentity | _: PartBucket => true
      case _ => false
    }
    def keyOf(e: FileEntry): Option[Seq[String]] = {
      val cells = keyTerms.map(derivedCellOf(schema, _, e))
      if (cells.forall(_.isDefined)) Some(cells.flatten) else None
    }
    val manifestPos = packable.map(_.file).zipWithIndex.toMap
    val bins = packable.groupBy(keyOf).values.toSeq.flatMap { cell =>
      val cellBins = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[FileEntry]]
      var binBytes = 0L
      cell.foreach { e =>
        val sz = new File(path, e.file).length()
        // mixed-arity files (pre/post ADD COLUMN) never share a bin: the
        // byte concat would splice frames of different field counts.
        // Mixed NARROW signatures (pre/post int->long widening) split the
        // same way: one packed entry cannot describe two physical lanes
        if (cellBins.isEmpty || binBytes + sz > targetBytes ||
            cellBins.last.head.cols != e.cols ||
            cellBins.last.head.narrow != e.narrow ||
            cellBins.last.head.nested != e.nested) {
          cellBins += scala.collection.mutable.ArrayBuffer(e); binBytes = sz
        } else { cellBins.last += e; binBytes += sz }
      }
      cellBins
    }.sortBy(b => manifestPos(b.head.file))
    val toPack = bins.zipWithIndex.filter(_._1.length >= 2)
    if (toPack.isEmpty) return -1L
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    // key sketches are rebuilt from the packed rows, never OR-folded: a
    // big file's sketch folded to a small one's size saturates. Per bin,
    // the merged stats pick the int/long columns that earn one and its
    // size (KeySketch.bitsFor); a column that earns none drops its sketch
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val merged = toPack.map { case (bin, i) =>
      i -> bin.map(_.stats).reduce(mergeStats(schema, _, _)) }.toMap
    val integralCols = schema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType => f.name
    }.toSet
    // per bin: its files, their row arity, and (ordinal, physical int
    // lane, bits) for each column to sketch
    val tasks = toPack.map { case (bin, i) =>
      val arity = if (bin.head.cols > 0) bin.head.cols else schema.size
      val rows = bin.map(_.rows).sum
      val plan = schema.fields.zipWithIndex.toSeq.flatMap { case (f, ord) =>
        val intLane = f.dataType == IntegerType ||
          bin.head.narrow.contains(packNarrow(ord, NarrowIntToLong))
        val bits = merged(i).get(f.name).filter(_ => integralCols(f.name) && ord < arity)
          .map(KeySketch.bitsFor(_, rows)).getOrElse(0)
        if (bits > 0) Seq((ord, intLane, bits)) else Seq.empty
      }
      (i, bin.map(_.file).toSeq, arity, plan)
    }.toSeq
    // one task per bin: read-concat-write its files (shared-filesystem
    // path locally; GET+multipart-PUT on an object store). A bin with
    // sketched columns walks the frames it copies and hashes their keys
    val packed = spark.sparkContext
      .parallelize(tasks, math.max(1, toPack.size))
      .map { case (i, files, arity, plan) =>
        val rel = s"data/compact-$stamp-$i.bin"
        val out = new DataOutputStream(new BufferedOutputStream(
          new FileOutputStream(new File(path, rel))))
        val sketches = plan.map { case (_, _, bits) => KeySketch.empty(bits) }
        val row = new UnsafeRow(arity)
        files.foreach { f =>
          if (plan.isEmpty) Files.copy(Paths.get(path, f), out) // frame-preserving byte copy
          else {
            val in = new DataInputStream(new BufferedInputStream(
              new FileInputStream(new File(path, f))))
            try {
              var len = readFrameLength(in)
              while (len >= 0) {
                val bytes = new Array[Byte](len)
                in.readFully(bytes)
                out.writeInt(len); out.write(bytes)
                row.pointTo(bytes, len)
                var j = 0
                while (j < plan.length) {
                  val (ord, intLane, _) = plan(j)
                  if (!row.isNullAt(ord)) KeySketch.add(sketches(j),
                    if (intLane) row.getInt(ord).toLong else row.getLong(ord))
                  j += 1
                }
                len = readFrameLength(in)
              }
            } finally in.close()
          }
        }
        out.close()
        (i, (rel, plan.map(_._1).zip(sketches.map(KeySketch.hex)).toMap))
      }.collect().toMap
    val rewritten = bins.zipWithIndex.map { case (bin, i) =>
      packed.get(i) match {
        case Some((rel, sketches)) =>
          // an int/long column carries its rebuilt sketch, or none
          val stats = merged(i).map { case (c, st) =>
            c -> (if (!integralCols(c)) st
              else st.copy(bloom = sketches.getOrElse(schema.fieldIndex(c), "")))
          }
          FileEntry(rel, bin.map(_.rows).sum, stats, bin.head.cols,
            narrow = bin.head.narrow, nested = bin.head.nested)
        case None => bin.head
      }
    }.toSeq ++ outOfScope ++ dvEntries
    val v = commit(path, snap)(_.copy(entries = rewritten, op = "optimize"))
    gcUnreferenced(path, rewritten.flatMap(e =>
      if (e.dv.isEmpty) Seq(e.file) else Seq(e.file, e.dv)).toSet)
    v
  }

  /** Layout OPTIMIZE (the ZORDER BY sibling of [[compact]]): rewrite the
    * whole table range-partitioned + sorted on a caller-built clustering
    * key (typically a Morton interleave of two scaled columns, via
    * graft.functions.MortonInterleave), so every data file gets a TIGHT
    * min/max envelope in EVERY interleaved dimension and manifest-stats
    * skipping prunes scans filtered on ANY of them — a one-dimensional
    * sort only ever prunes its leading column. Unlike [[compact]] this
    * moves rows (a full shuffle+rewrite, the price of multi-dimensional
    * locality); it commits through the ordinary write path with
    * `dataChange=false`, so the commit records `!op=optimize`: change
    * feeds stay silent, history shows maintenance, and the pre-rewrite
    * snapshot stays time-travelable. The key column is computed, sorted
    * on, and DROPPED before the sink — stored bytes carry only table
    * columns. Returns the new snapshot version.
    *
    * The file ranges are equal-sized ranges of the sorted keys (of a
    * fixed-seed sample of them past 100k rows), not `repartitionByRange`'s:
    * Spark seeds its sample with the RDD's id, so the layout (and the
    * files a query prunes) would depend on how many RDDs the JVM made
    * before. Here the same table always lays out the same way. */
  private[graft] def rewriteClustered(spark: org.apache.spark.sql.SparkSession,
      path: String, zkey: org.apache.spark.sql.Column,
      targetFiles: Int): Long = {
    val keyed = spark.read.format("graft.sources.GraftStore").option("path", path)
      .load().withColumn("__zkey", zkey.cast("long"))
    // every key up to 100k rows, so small tables split at exact quantiles
    val rows = readManifest(path).map(_._2.map(_.rows).sum).getOrElse(0L)
    val fraction = math.min(1.0, 1e5 / math.max(rows, 1L))
    val sample = keyed.select("__zkey").where("__zkey IS NOT NULL")
      .sample(withReplacement = false, fraction, seed = 0x5eedL)
      .collect().map(_.getLong(0)).sorted
    // bound i is the last key of range i: equal-sized ranges
    val bounds = (1 until targetFiles)
      .flatMap(i => sample.lift((i.toLong * sample.length / targetFiles).toInt - 1))
      .distinct.toArray
    val ranges = new org.apache.spark.Partitioner {
      override def numPartitions: Int = bounds.length + 1
      // rows equal to a bound go below it, as in Spark's RangePartitioner
      override def getPartition(key: Any): Int = {
        val i = java.util.Arrays.binarySearch(bounds, key.asInstanceOf[Long])
        if (i >= 0) i else -i - 1
      }
    }
    val zi = keyed.schema.fieldIndex("__zkey")
    // null keys sort first, as the ascending sort below puts them
    val byKey = keyed.rdd.keyBy(r => if (r.isNullAt(zi)) Long.MinValue else r.getLong(zi))
    spark.createDataFrame(byKey.partitionBy(ranges).values, keyed.schema)
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.format("graft.sources.GraftStore").option("path", path)
      .option("dataChange", "false").mode("overwrite").save()
    readVersion(path)
  }

  /** Tri-state evaluation of a pushed v1 Filter against one file's stats:
    * does the predicate hold for ALL of the file's rows, for NONE of them,
    * or can the stats not decide (Unknown)? The scan skips NoRows files;
    * DELETE additionally demands every file decide to AllRows or NoRows
    * (a mixed file would need a rewrite — the caller gets a clean
    * "cannot delete" instead of a silent partial delete).
    *
    * SQL three-valued logic: a NULL never satisfies a comparison, so a
    * file whose column is all-null contributes NoRows to any range
    * predicate, and AllRows for a range additionally requires zero nulls.
    * Comparisons are done in the column's own type (longs exact; doubles
    * via the exact Double.toString round-trip), never through a lossy
    * common cast. */
  private[sources] object StatsPruning {
    sealed trait Tri
    case object AllRows extends Tri
    case object NoRows extends Tri
    case object Unknown extends Tri

    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._

    private def statable(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | DoubleType => true
      // temporal stats ride the long/int paths: timestamps are epoch
      // micros internally, dates epoch days — both order-isomorphic to
      // their SQL semantics, so range pruning is the same arithmetic
      case TimestampType | TimestampNTZType | DateType => true
      case _ => false
    }

    /** How a file bound (a manifest min or max) compares with a filter
      * value. All three are false when the two are unordered, as IEEE
      * comparisons with NaN are. */
    private final case class Side(lt: Boolean, eq: Boolean, gt: Boolean)
    private def side(c: Int): Side = Side(c < 0, c == 0, c > 0)

    /** Compares a bound string of a `dt` column with the filter value `v`,
      * in the column's own order: doubles for double columns, exact longs
      * for integral and temporal ones (their stats are longs, epoch micros
      * or epoch days). None when `v` has no place in that order. Long
      * values beyond 2^53 collapse when widened to double, so they are
      * never widened: a decided file drops the residual filter (complete
      * filter acceptance, DELETE, metadata-only aggregates), so a wrong
      * AllRows or NoRows is a wrong answer. */
    private def against(dt: DataType, v: Any): Option[String => Side] = dt match {
      case DoubleType => v match {
        case n: java.lang.Number if !n.doubleValue.isNaN =>
          val x = n.doubleValue
          Some { b => val m = b.toDouble; Side(m < x, m == x, m > x) }
        case _ => None
      }
      case _ => exactLong(v).map(x => b => side(java.lang.Long.compare(b.toLong, x)))
    }

    /** A filter value of an integral or temporal column as the long its
      * stats record. Spark coerces the literal to the column's type before
      * it pushes a filter, so other numbers stay undecided. */
    private def exactLong(v: Any): Option[Long] = {
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      v match {
        case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
            _: java.lang.Byte) => Some(n.asInstanceOf[java.lang.Number].longValue)
        // temporal filter literals arrive as external Java objects (which
        // flavor depends on spark.sql.datetime.java8API.enabled); convert
        // to the same epoch-micros / epoch-days unit the manifest records
        case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
        case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
        case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d).toLong)
        case t: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(t))
        case _ => None
      }
    }

    def eval(f: Filter, e: FileEntry, schema: StructType): Tri =
      eval(f, e, schema, Set.empty)

    /** `tol` = columns whose null rows are covered by an IsNull
      * disjunct of an ENCLOSING Or (e.g. the CHECK composite
      * `pred OR col IS NULL`): inside such a disjunct a range proof may
      * go AllRows from min/max alone — min/max describe exactly the
      * non-null rows, and the rows they don't describe satisfy the
      * sibling IsNull — so a conforming file with SOME nulls still
      * proves, instead of degrading to Unknown (refusal) on nulls>0. */
    private def eval(f: Filter, e: FileEntry, schema: StructType,
        tol: Set[String]): Tri = {
      def col(c: String): Option[(ColStats, DataType)] =
        e.stats.get(c).flatMap(st =>
          schema.fields.find(_.name == c).filter(f => statable(f.dataType))
            .map(f => (st, f.dataType)))
      // range predicate on column c: `all` and `none` test how the file's
      // min and max compare with the value, over non-null values; fold
      // in the null rules
      def range(c: String, v: Any)(all: (Side, Side) => Boolean)
          (none: (Side, Side) => Boolean): Tri =
        col(c) match {
          case Some((st, dt)) =>
            against(dt, v) match {
              case None => Unknown
              case Some(_) if st.min.isEmpty => NoRows // every value null
              case Some(cmp) =>
                val (mn, mx) = (cmp(st.min), cmp(st.max))
                if (none(mn, mx)) NoRows
                else if (all(mn, mx) && (st.nulls == 0 || tol(c))) AllRows
                else Unknown
            }
          case None => Unknown
        }
      f match {
        // string equality probes the per-file Bloom: one-sided — absence
        // proves NoRows (skip), presence is Unknown (false positives just
        // read the file; the residual filter still runs)
        case EqualTo(c, v: String) =>
          e.stats.get(c) match {
            case Some(st) if st.bloom.nonEmpty =>
              if (StringBloom.mightContain(st.bloom, v)) Unknown else NoRows
            case _ => Unknown
          }
        // integral equality: min/max first, then the key sketch, which
        // can only turn an undecided file into a skipped one
        case EqualTo(c, v) =>
          range(c, v)((mn, mx) => mn.eq && mx.eq)((mn, mx) => mn.gt || mx.lt) match {
            case Unknown => col(c) match {
              case Some((st, IntegerType | LongType)) if st.bloom.nonEmpty =>
                exactLong(v) match {
                  case Some(x) if !KeySketch.mightContain(st.bloom, x) => NoRows
                  case _ => Unknown
                }
              case _ => Unknown
            }
            case decided => decided
          }
        // `PARTITION (k = v)` static-overwrite specs arrive as
        // EqualNullSafe. For a non-null literal it is EqualTo with one
        // extra certainty: an ALL-NULL file is provably NoRows (<=> is
        // false for null rows, never null)
        case EqualNullSafe(c, null) => eval(IsNull(c), e, schema, tol)
        case EqualNullSafe(c, v: String) =>
          e.stats.get(c) match {
            case Some(st) if st.bloom.nonEmpty =>
              if (StringBloom.mightContain(st.bloom, v)) Unknown else NoRows
            case Some(st) if e.rows >= 0 && st.nulls == e.rows => NoRows
            case _ => Unknown
          }
        case EqualNullSafe(c, v) =>
          e.stats.get(c) match {
            case Some(st) if e.rows >= 0 && st.nulls == e.rows => NoRows
            case _ => eval(EqualTo(c, v), e, schema, tol)
          }
        case GreaterThan(c, v) =>
          range(c, v)((mn, _) => mn.gt)((_, mx) => mx.lt || mx.eq)
        case GreaterThanOrEqual(c, v) =>
          range(c, v)((mn, _) => mn.gt || mn.eq)((_, mx) => mx.lt)
        case LessThan(c, v) =>
          range(c, v)((_, mx) => mx.lt)((mn, _) => mn.gt || mn.eq)
        case LessThanOrEqual(c, v) =>
          range(c, v)((_, mx) => mx.lt || mx.eq)((mn, _) => mn.gt)
        case In(c, vs) if vs.nonEmpty =>
          val tris = vs.toSeq.map(v => eval(EqualTo(c, v), e, schema, tol))
          if (tris.contains(AllRows)) AllRows // single-valued file, value present
          else if (tris.forall(_ == NoRows)) NoRows
          else Unknown
        // null-count logic needs only the stats entry, not a numeric
        // type — string columns carry null counts alongside their bloom
        case IsNotNull(c) if tol(c) =>
          // sibling IsNull(c) covers the null rows; the non-null rows
          // satisfy IsNotNull trivially (Or(IsNotNull, IsNull) is a
          // tautology — reachable only through a user-written OR, never
          // through notFalse, which keeps null-atoms exact)
          AllRows
        case IsNotNull(c) =>
          e.stats.get(c) match {
            case Some(st) if st.nulls == 0 => AllRows
            case Some(st) if e.rows >= 0 && st.nulls == e.rows => NoRows
            case _ => Unknown
          }
        case IsNull(c) =>
          e.stats.get(c) match {
            case Some(st) if st.nulls == 0 => NoRows
            case Some(st) if e.rows >= 0 && st.nulls == e.rows => AllRows
            case _ => Unknown
          }
        case And(l, r) =>
          (eval(l, e, schema, tol), eval(r, e, schema, tol)) match {
            case (AllRows, AllRows) => AllRows
            case (NoRows, _) | (_, NoRows) => NoRows
            case _ => Unknown
          }
        case o: Or =>
          // flatten the disjunction once: any IsNull(c) disjunct covers
          // c's null rows for every SIBLING disjunct, so those evaluate
          // with c in the tolerance set (see eval's scaladoc) — the
          // shape checkFilterOf's notFalse emits for CHECK proofs
          def disj(x: Filter): Seq[Filter] = x match {
            case Or(l, r) => disj(l) ++ disj(r)
            case other => Seq(other)
          }
          val ds = disj(o)
          val tol2 = tol ++ ds.collect { case IsNull(c) => c }
          val tris = ds.map(d => eval(d, e, schema, tol2))
          if (tris.contains(AllRows)) AllRows
          else if (tris.forall(_ == NoRows)) NoRows
          else Unknown
        case Not(inner) =>
          eval(inner, e, schema, tol) match {
            // only safe to flip when the column is null-free (NOT of an
            // all-null-failing predicate is still non-true for null
            // rows) or the nulls are covered by a tolerated sibling
            // IsNull disjunct
            case AllRows => NoRows
            case NoRows if inner.references.forall(c =>
              tol(c) || e.stats.get(c).exists(_.nulls == 0)) => AllRows
            case _ => Unknown
          }
        case _ => Unknown
      }
    }

    /** Conjunction of a filter set (the DELETE condition / pushed scan
      * filters): AllRows iff every conjunct is AllRows, NoRows iff any
      * is NoRows. Empty = AllRows (unconditional). */
    def evalAll(fs: Seq[Filter], e: FileEntry, schema: StructType): Tri =
      fs.foldLeft(AllRows: Tri) { (acc, f) =>
        (acc, eval(f, e, schema)) match {
          case (NoRows, _) | (_, NoRows) => NoRows
          case (AllRows, AllRows) => AllRows
          case _ => Unknown
        }
      }
  }

  /** Attempts that died before commit/abort (JVM kill) leave orphans;
    * every successful commit sweeps them. */
  /** Delete data files referenced neither by the caller (the manifest
    * just committed) nor by any RETAINED snapshot manifest — a file
    * dropped from the live table survives as long as some time-travel
    * snapshot can still reach it, and dies at [[expireSnapshots]]. */
  /** Unreferenced files younger than this survive the orphan sweep: with
    * optimistic multi-writer commits, a competing job's fully-written but
    * NOT-YET-COMMITTED data files are indistinguishable from crash
    * orphans — age is the only safe discriminator (Delta's vacuum
    * retention argument). Crash orphans die at the first sweep after the
    * grace expires. */
  private[graft] val GcGraceMs = 300000L

  /** Delete data-dir files referenced by NO retained snapshot and not in
    * `referenced`, skipping files younger than `graceMs` (an in-flight
    * writer's uncommitted output must never be swept — the same age
    * guard Iceberg's remove_orphan_files ships with). Returns the
    * number of files removed. Called internally after compaction/expiry
    * with the new file set; exposed to operators as
    * `CALL remove_orphan_files` with an explicit age. */
  private[sources] def gcUnreferenced(path: String, referenced: Set[String],
      graceMs: Long = GcGraceMs): Long = {
    // one walk over the pointer and every retained snapshot: the data
    // files, deletion vectors, equality-delete sidecars and child
    // manifests they name all survive
    val snaps = (snapshotFiles(path) :+ new File(path, ManifestName)).flatMap(snapshot)
    val keep = referenced ++ snaps.flatMap(m =>
      m.files(path).flatMap(e =>
        if (e.dv.isEmpty) Seq(e.file) else Seq(e.file, e.dv)) ++
        m.eqDels.map(_.file))
    val cutoff = System.currentTimeMillis() - graceMs
    val dataDir = new File(path, "data")
    var removed = 0L
    Option(dataDir.listFiles()).getOrElse(Array.empty).foreach { f =>
      if (!keep.contains(s"data/${f.getName}") && f.lastModified() <= cutoff
          && f.delete())
        removed += 1
    }
    // child-manifest sweep: a child referenced by NO retained snapshot
    // (nor the pointer) is expired metadata — same grace as data files
    // (a concurrent commit writes its children before its claim, so a
    // young unreferenced child may be someone's in-flight commit).
    // Swept children don't count toward `removed` (callers report DATA
    // files reclaimed).
    val refChildren = snaps.flatMap(_.children.map(_.file)).toSet
    // crash-residue sweep: every atomic metadata write stages through a
    // dot-tmp name in the table root (.manifest.tmp.*, .mchild.tmp.*,
    // .partition.tmp.*) and a writer SIGKILLed between the stage and the
    // ATOMIC_MOVE leaves that tmp behind forever — readers never look at
    // it (all lookups are exact names), but nothing else reclaims it, so
    // scheduled maintenance must. Same age guard: a young tmp may be an
    // in-flight writer mid-move.
    val tmpPrefixes =
      Seq(ManifestTmpPrefix, ChildTmpPrefix, PartitionTmpPrefix)
    Option(new File(path).listFiles()).getOrElse(Array.empty).foreach { f =>
      val stale = f.lastModified() <= cutoff
      if (stale && f.getName.startsWith(ChildPrefix) &&
          !refChildren.contains(f.getName))
        f.delete()
      else if (stale && tmpPrefixes.exists(f.getName.startsWith))
        f.delete()
    }
    removed
  }
}

class GraftStore extends TableProvider {
  // write path: accept the incoming query's schema instead of demanding
  // a pre-existing table (first write CREATES the table)
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = GraftStore.effectivePath(options.get("path"),
      Option(options.get("branch")))
    require(path != null, "graft store requires a path option")
    // a change-feed read surfaces the schema AT `changesTo` plus the two
    // CDF columns (old files inside the range null-pad as usual)
    Option(options.get("changesFrom")) match {
      case Some(_) =>
        val toV = Option(options.get("changesTo")).map(_.toLong)
          .getOrElse(GraftStore.readVersion(path))
        GraftStore.cdfSchema(
          GraftStore.selectEntries(path, Some(toV), None)._1)
      case None =>
        // a time-traveled read surfaces the schema AS OF that snapshot —
        // what makes rename/widen evolution honest under time travel
        // (the old name, the old type); content-only evolutions (add
        // column) behaved identically either way via null-padding
        Option(options.get("versionAsOf")) match {
          case Some(spec) =>
            val v = GraftStore.resolveVersionSpec(path, spec)
            GraftStore.snapshot(GraftStore.manifestFile(path, Some(v)))
              .getOrElse(throw new IllegalArgumentException(
                s"no snapshot v$v at $path (never committed, or expired)")).schema
          case None =>
            GraftStore.snapshot(GraftStore.manifestFile(path, None))
              .getOrElse(throw new IllegalArgumentException(
                s"no graft-store table at $path (missing ${GraftStore.ManifestName})")).schema
        }
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties may arrive case-preserved or lowercased depending on the
    // caller (CaseInsensitiveStringMap lowercases keys)
    def opt(k: String): Option[String] =
      Option(properties.get(k)).orElse(Option(properties.get(k.toLowerCase)))
    // a `branch` option routes the ENTIRE table surface (reads, writes,
    // time travel, CDF, DML) to the branch sub-table — a branch IS a
    // table; see GraftStore.branchCreate. Every path-derived feature
    // (tag resolution, partition spec) resolves against the branch.
    val path = GraftStore.effectivePath(opt("path").orNull, opt("branch"))
    new GraftStoreTable(path, schema,
      opt("clusterBy"), opt("sortBy"),
      opt("failFirstAttemptOf").map(_.toInt),
      opt("failAllAttemptsOf").map(_.toInt),
      // a non-numeric versionAsOf is a TAG name, resolved against _refs/
      opt("versionAsOf").map(v =>
        GraftStore.resolveVersionSpec(path, v)),
      opt("changesFrom").map(_.toLong),
      opt("changesTo").map(_.toLong),
      dataChange = !opt("dataChange").contains("false"),
      partitionBy = Option(path).flatMap(GraftStore.readPartitionBy))
  }
}

class GraftStoreTable(path: String, tableSchema: StructType,
    clusterBy: Option[String], sortBy: Option[String],
    failFirstAttemptOf: Option[Int], failAllAttemptsOf: Option[Int],
    versionAsOf: Option[Long] = None,
    changesFrom: Option[Long] = None, changesTo: Option[Long] = None,
    dataChange: Boolean = true,
    partitionBy: Option[String] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `SHOW TBLPROPERTIES cat.t` surfaces the persisted `_props` dials
    * (write.mode, check.* constraints) plus the partition spec — the
    * operational introspection every SET TBLPROPERTIES needs a round
    * trip for. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    if (path != null)
      GraftStore.readProps(path).foreach { case (k, v) => m.put(k, v) }
    partitionBy.foreach(p => m.put("partition.spec", p))
    m
  }

  /** `_file` metadata column (Iceberg's provenance column): the manifest-
    * relative data file a row was read from. Costs nothing to produce
    * (the reader already knows its file) and is what makes row-level
    * operations GROUP-aware: the runtime group filter projects `_file`
    * of the matching rows, and the scan drops every file not named —
    * exact file-level pruning, no stats conservatism. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "manifest-relative data file path this row was read from"
    }, new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical (pre-deletion) row ordinal within _file — the " +
          "position a deletion vector addresses; stable across any " +
          "number of later merge-on-read deletes"
    })

  override def name(): String = s"graft_store($path)"
  override def schema(): StructType = tableSchema
  override def partitioning(): Array[Transform] =
    GraftStore.partitionTermsOf(partitionBy).map {
      case GraftStore.PartIdentity(c) => Expressions.identity(c)
      case GraftStore.PartDays(c) => Expressions.days(c)
      case GraftStore.PartHours(c) => Expressions.hours(c)
      case GraftStore.PartMonths(c) => Expressions.months(c)
      case GraftStore.PartYears(c) => Expressions.years(c)
      case GraftStore.PartTrunc(w, c) =>
        Expressions.apply("truncate",
          Expressions.literal(Int.box(w)), Expressions.column(c))
      case GraftStore.PartBucket(n, c) => Expressions.bucket(n, c)
    }.toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.OVERWRITE_BY_FILTER,
      // `MERGE INTO … WITH SCHEMA EVOLUTION` (round 16): Spark's
      // ResolveMergeIntoSchemaEvolution computes the missing source
      // columns and routes them through the catalog's alterTable as
      // ordinary AddColumn changes — which is already the metadata-only
      // schema commit (arity-padded reads, no file rewrite), so the
      // evolved MERGE costs exactly one evolve commit plus the MERGE
      // itself on both the copy-on-write and merge-on-read paths
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    Option(options.get("changesFrom")).map(_.toLong).orElse(changesFrom) match {
      case Some(fromV) =>
        // change-feed read: tableSchema already carries the two CDF
        // columns (inferSchema appended them) — strip to the data schema
        val toV = Option(options.get("changesTo")).map(_.toLong)
          .orElse(changesTo).getOrElse(GraftStore.readVersion(path))
        () => new GraftStoreCdfScan(path, fromV, toV,
          StructType(tableSchema.dropRight(2)))
      case None =>
        // TIMESTAMP AS OF resolves to the latest snapshot committed at or
        // before the instant (Iceberg/Delta rule) and then behaves exactly
        // like a version read; explicit versionAsOf wins when both given
        val byTs = Option(options.get("timestampAsOf")).map { t =>
          GraftStore.versionAsOfTimestamp(path, t.toLong).getOrElse(
            throw new IllegalArgumentException(
              s"no snapshot at or before timestamp $t at $path " +
                "(history starts later, or was expired)"))
        }
        new GraftStoreScanBuilder(path,
          Option(options.get("versionAsOf"))
            .map(GraftStore.resolveVersionSpec(path, _))
            .orElse(versionAsOf).orElse(byTs),
          Option(options.get("fromVersion")).map(_.toLong),
          Option(options.get("files")).map(_.split(',').toSet))
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty && changesFrom.isEmpty,
      "cannot write to a time-travel snapshot or change feed — writes go to the current table")
    // idempotent-write handle: both txn options or neither
    val txn = (Option(info.options.get("txnAppId")),
      Option(info.options.get("txnVersion"))) match {
      case (Some(a), Some(v)) => Some((a, v.toLong))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "txnAppId and txnVersion must be given together")
    }
    new GraftStoreWriteBuilder(path, info.schema(), clusterBy, sortBy,
      failFirstAttemptOf, failAllAttemptsOf, dataChange, partitionBy, txn)
  }

  // ------------------------------------------------- metadata-only DELETE
  // `DELETE FROM graft.t WHERE …` succeeds iff the manifest stats DECIDE
  // the predicate for every data file (entirely-matching files are
  // dropped from the manifest in one atomic swap; entirely-missing files
  // are kept untouched). A predicate that would split a file is refused
  // up front — Spark surfaces "cannot delete", never a partial result.
  // This is the Iceberg partition-grained delete economics: dropping an
  // ingest batch (whose files are single-valued on the batch key) is
  // pure metadata, no data I/O, readers see old-or-new atomically.

  import org.apache.spark.sql.sources.Filter

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftStore.readManifest(path).forall { case (sch, entries) =>
      entries.forall(e =>
        GraftStore.StatsPruning.evalAll(filters.toSeq, e, sch) !=
          GraftStore.StatsPruning.Unknown)
    }

  /** `TRUNCATE TABLE` — explicit, not the inherited default: the default
    * routes through the V2->V1 predicate bridge and RETURNS FALSE
    * silently when the bridge declines, which surfaces as a truncate
    * that "succeeded" while deleting nothing. Truncate is the one
    * delete that is trivially metadata-only: commit an empty entry set
    * (and clear live equality deletes — nothing left for them to
    * address); history stays time-travelable like every delete. */
  override def truncateTable(): Boolean = {
    GraftStore.latest(path).foreach { base =>
      GraftStore.commit(path, base)(_.copy(entries = Seq.empty, op = "delete",
        eqDels = Seq.empty))
      GraftStore.gcUnreferenced(path, Set.empty)
    }
    true
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val base = GraftStore.latest(path).getOrElse(return)
    val (sch, entries) = (base.schema, base.files(path))
    val tri = entries.map(e =>
      e -> GraftStore.StatsPruning.evalAll(filters.toSeq, e, sch))
    // canDeleteWhere gates this, but belt-and-braces: an undecidable file
    // must fail loudly, never be silently dropped or kept
    require(tri.forall(_._2 != GraftStore.StatsPruning.Unknown),
      s"delete predicate undecidable for ${tri.count(_._2 == GraftStore.StatsPruning.Unknown)} file(s)")
    val kept = tri.collect { case (e, GraftStore.StatsPruning.NoRows) => e }
    // the streaming epoch marker survives, as on every other DELETE path
    GraftStore.commit(path, base)(_.copy(entries = kept, op = "delete"))
    GraftStore.gcUnreferenced(path, kept.map(_.file).toSet)
  }

  // -------------------------------------- copy-on-write DELETE/UPDATE/MERGE
  // Group-based row-level operations complete the DML surface: Spark's
  // analyzer rewrites `DELETE`/`UPDATE`/`MERGE INTO` on this table into a
  // ReplaceData plan that (a) scans the AFFECTED data files through the
  // operation's scan builder — Spark pushes the command's CONDITION (not
  // its negation) there, so manifest-stats file skipping prunes every
  // file the predicate provably misses, and pruned = PRESERVED, not
  // rewritten; (b) recomputes those files' full surviving row set
  // row-by-row above the scan; (c) writes the replacement files and
  // commits. The commit swaps exactly the scanned files for the written
  // ones in one atomic manifest move — the Iceberg copy-on-write shape,
  // where write amplification is bounded by the files the predicate
  // actually touches, and history is preserved (the pre-DML snapshot
  // stays time-travelable until expiry). Metadata-decidable DELETEs never
  // reach this path: Spark's OptimizeMetadataOnlyDeleteFromTable rule
  // still routes them to [[deleteWhere]] (zero data I/O).
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(versionAsOf.isEmpty,
      "cannot modify a time-travel snapshot — DML goes to the current table")
    // write.mode=merge-on-read (table property) routes DML through the
    // DELTA operation: deletes become deletion-vector sidecars, updates
    // become delete+insert — write amplification ∝ matched ROWS, the
    // CDC-at-100TB economics. Default stays copy-on-write group rewrite.
    val mor = path != null &&
      GraftStore.readProps(path).get("write.mode").contains("merge-on-read")
    if (mor) () => new GraftStoreDeltaOperation(path, info.command())
    else () => new GraftStoreRowLevelOperation(path, info.command(), partitionBy)
  }
}

/** One DELETE/UPDATE/MERGE execution: the scan it builds records which
  * data files survived pruning (the REPLACED group set), and the write it
  * builds commits `current - replaced + written` atomically. Scan and
  * write coordinate only through this object — the connector-side
  * contract of Spark's group-based row-level operation API. */
class GraftStoreRowLevelOperation(path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    partitionBy: Option[String] = None)
  extends org.apache.spark.sql.connector.write.RowLevelOperation {

  @volatile private var configuredScan: Option[GraftStoreScan] = None

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft_store copy-on-write $cmd"

  // requiring `_file` does two things: (a) Spark's runtime group filter
  // narrows the scan to exactly the files containing matching rows;
  // (b) the replacement rows reach the writer through the data/metadata
  // projections (the write sees ONLY the table columns — without a
  // metadata attribute Spark's group-based write path hands the writer
  // the raw rewrite rows, operation column included)
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftStoreScanBuilder(path, allowCompleteFilters = false) {
      override def build(): Scan = {
        val s = super.build().asInstanceOf[GraftStoreScan]
        configuredScan = Some(s)
        s
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftStoreReplaceDataWrite(path,
        info.schema(), () => configuredScan.getOrElse(throw new IllegalStateException(
          "row-level write built before its scan")).plannedFiles,
        partitionBy)
    }
}

/** A partitioned table's rewrite demands the SAME clustering+ordering
  * its appends do and rolls files per value, so copy-on-write DML
  * preserves the single-valued-entry invariant — a partition DELETE
  * stays metadata-only even after arbitrary UPDATE/MERGE history. */
class GraftStoreReplaceDataWrite(path: String, schema: StructType,
    replacedFiles: () => Seq[String],
    partitionBy: Option[String] = None)
  extends Write with RequiresDistributionAndOrdering {
  private def partitionTerms: Seq[GraftStore.PartTerm] =
    GraftStore.partitionTermsOf(partitionBy)
  // Same layout contract as the append path (see GraftStoreWrite):
  // identity terms and bucket terms cluster (bucket on the DERIVED
  // expression via the catalog's V2 function), monotone transforms
  // leave distribution to the caller; ordering per term in spec order
  // by the key that makes each derived value contiguous.
  override def description(): String = s"graft_store replace-data -> $path"
  override def requiredDistribution(): Distribution = {
    val cluster = GraftStore.clusterExprs(partitionTerms)
    if (cluster.isEmpty) Distributions.unspecified()
    else Distributions.clustered(cluster.toArray)
  }
  override def requiredOrdering(): Array[SortOrder] =
    GraftStore.termOrdering(partitionTerms)
  override def toBatch: BatchWrite =
    new GraftStoreReplaceBatchWrite(path, schema, replacedFiles,
      partitionTerms.map(t => (schema.fieldIndex(t.source), t)))
}

class GraftStoreReplaceBatchWrite(path: String, schema: StructType,
    replacedFiles: () => Seq[String],
    rollOn: Seq[(Int, GraftStore.PartTerm)] = Seq.empty)
  extends BatchWrite {

  // job-unique file prefix: replacement files must NEVER collide with a
  // live committed file's name (task ids restart across JVMs), because
  // until the manifest swap the old bytes ARE the table
  private val stamp = java.util.UUID.randomUUID().toString.take(8)

  // equality deletes visible when this copy-on-write DML planned: the
  // replacement files were computed from an eq-filtered scan, so a
  // CONCURRENT eq-delete commit would leave its deleted rows baked
  // into the rewrites (which the commit stamps exempt) — stale merge,
  // fail loudly like any interleaving commit (same guard as the DV
  // row-level path)
  private val plannedEqDels: Seq[GraftStore.EqDelete] =
    GraftStore.latest(path).fold(Seq.empty[GraftStore.EqDelete])(_.eqDels)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftStoreWriterFactory(path, schema, s"data/rw-$stamp", rollOn)

  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // CHECK constraints guard copy-on-write DML rewrites too: an UPDATE
    // that would write a violating survivor file aborts whole
    val committed = GraftStore.committedEntries(path, schema, messages, "rewritten")
    val base = GraftStore.latest(path).getOrElse(GraftStore.Manifest(schema))
    if (base.eqDels != plannedEqDels)
      throw new GraftStore.ConflictException(
        "copy-on-write DML lost a conflict: equality deletes changed " +
          "under it since planning — re-run the DML against the " +
          "current table")
    val replaced = replacedFiles().toSet
    val files = base.files(path).filterNot(e => replaced(e.file)) ++ committed
    // table schema and streaming-epoch marker survive DML untouched;
    // a commit that interleaved since this row-level operation's base
    // read surfaces as ConflictException (stale copy-on-write merge)
    GraftStore.commit(path, base)(_.copy(entries = files, op = "replace"))
    GraftStore.gcUnreferenced(path, files.map(_.file).toSet)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftStore.flatMessages(messages).foreach(m =>
      new File(path, m.file).delete())
}

// ------------------------------------- merge-on-read (delta) DML
// `write.mode=merge-on-read` routes DELETE/UPDATE/MERGE through Spark's
// DELTA row-level operation API (SupportsDelta): instead of rewriting
// every file containing a match, the write receives per-ROW deltas —
// deletes carry a (_file, _pos) row id and land in deletion-vector
// sidecars, updates are represented as delete+insert, inserts append
// ordinary new files. Write amplification is ∝ matched ROWS, not files:
// at 100 TB, a CDC batch touching 0.1% of rows scattered across every
// file writes a few MB of sidecars + the new rows, where copy-on-write
// would rewrite the table. Readers already compose DVs as a frame-skip
// (zero join); purgeDeletes folds them back into clean files; the change
// feed emits exactly the newly-deleted positions (dvDelta) plus the
// inserted files — every piece of the DV machinery this rides on is the
// q_store_dv path, now driven by the engine's own DML planner.

/** One delta DML execution: rowId = (_file, _pos) — the same physical
  * position a deletion vector addresses — with updates re-expressed as
  * delete+insert (the natural form when deletes are positional: an
  * update's new row generally lands in a different file anyway). The
  * scan is the ordinary batch scan (runtime group filtering on `_file`
  * narrows it to files containing matches); complete-filter acceptance
  * is disabled exactly as on the copy-on-write path. */
class GraftStoreDeltaOperation(path: String,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
  extends org.apache.spark.sql.connector.write.RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {
  import org.apache.spark.sql.connector.expressions.NamedReference

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd
  override def description(): String = s"graft_store merge-on-read $cmd"
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty // the row id already carries the file identity

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftStoreScanBuilder(path, allowCompleteFilters = false)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftStoreDeltaWrite(path, info.schema(), cmd, info.rowIdSchema())
    }
}

/** The delta write demands rows CLUSTERED by `_file` (plus the table's
  * partition cluster terms) and ordered by (`_file`, partition term
  * keys, `_pos`): one task owns all of a file's deletes (a rolled
  * file's partition tuple is constant, so the extra keys never split a
  * file; the DV is written exactly once, positions pre-sorted), while
  * INSERT rows (null row id) cluster and arrive sorted on the table's
  * partition terms — so the insert side of a MOR MERGE on a
  * partitioned table rolls per-value files exactly like an append,
  * preserving the single-valued-entry invariant (partition DELETE
  * stays metadata-only after arbitrary MOR history — the same contract
  * the copy-on-write path keeps). A DELETE writes no rows and clusters
  * and orders on the row id alone. */
class GraftStoreDeltaWrite(path: String, schema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    rowIdSchema: java.util.Optional[StructType])
  extends org.apache.spark.sql.connector.write.DeltaWrite
  with RequiresDistributionAndOrdering {

  // Spark's delta input for a DELETE carries only the row id: no
  // partition column to cluster, order or resolve
  private def partitionTerms: Seq[GraftStore.PartTerm] =
    if (cmd == org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
      Seq.empty
    else GraftStore.readPartitionTerms(path)

  override def description(): String = s"graft_store merge-on-read $cmd -> $path"
  override def requiredDistribution(): Distribution =
    Distributions.clustered((Expressions.column("_file")
      +: GraftStore.clusterExprs(partitionTerms)).toArray)
  override def requiredOrdering(): Array[SortOrder] = {
    val fileKey = Expressions.sort(Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    val posKey = Expressions.sort(Expressions.column("_pos"),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    val termKeys = GraftStore.termOrdering(partitionTerms)
      .filterNot(k => k.toString == fileKey.toString ||
        k.toString == posKey.toString)
    (fileKey +: termKeys :+ posKey).toArray
  }

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = {
    // resolve the row-id projection's field order from the ACTUAL write
    // info rather than trusting the declaration order
    val (fileIdx, posIdx) = if (rowIdSchema.isPresent) {
      val s = rowIdSchema.get()
      (s.fieldIndex("_file"), s.fieldIndex("_pos"))
    } else (0, 1)
    new GraftStoreDeltaBatchWrite(path, schema, cmd, fileIdx, posIdx,
      partitionTerms.map(t => (schema.fieldIndex(t.source), t)))
  }
}

class GraftStoreDeltaBatchWrite(path: String, schema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    fileIdx: Int, posIdx: Int,
    rollOn: Seq[(Int, GraftStore.PartTerm)] = Seq.empty)
  extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val stamp = java.util.UUID.randomUUID().toString.take(8)
  // (file -> existing DV sidecar) captured on the driver at write
  // planning: executors merge new positions with the existing vector
  // (DVs are cumulative — one sidecar per file, ever)
  private val planned = GraftStore.latest(path)
  private val oldDvByFile: Map[String, String] =
    planned.fold(Seq.empty[GraftStore.FileEntry])(_.files(path))
      .collect { case e if e.dv.nonEmpty => e.file -> e.dv }.toMap
  // equality deletes visible when this DML planned: a concurrent
  // eq-delete commit changes which rows EXIST without touching any
  // entry, so the planned row deltas were computed against rows that
  // may no longer be live — stale, fail loudly (checked in commit)
  private val oldEqDels: Seq[GraftStore.EqDelete] =
    planned.fold(Seq.empty[GraftStore.EqDelete])(_.eqDels)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory =
    new GraftStoreDeltaWriterFactory(path, stamp, oldDvByFile, fileIdx, posIdx,
      new GraftStoreWriterFactory(path, schema, s"data/mor-$stamp", rollOn))

  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val msgs = messages.toSeq.collect { case m: GraftStoreDeltaMessage => m }
    // clustering guarantees one task per file, so no two messages carry
    // the same file; belt-and-braces keep the last
    val dvByFile = msgs.flatMap(_.dvs).map(d => d.file -> d).toMap
    // CHECK constraints guard merge-on-read INSERT files (the delete
    // half only hides rows — nothing new to prove)
    val inserts = GraftStore.committedEntries(path, schema, messages, "MOR-inserted")
    if (dvByFile.isEmpty && inserts.isEmpty) return // no-op DML: no commit
    // OPTIMISTIC RETRY with per-file validity (the Delta conflict-
    // resolution shape): our row deltas stay valid as long as every file
    // we delete from is still present with the SAME deletion vector we
    // merged against — a concurrent APPEND (disjoint new files) never
    // invalidates them, so its CAS conflict just re-merges and retries;
    // a concurrent commit that touched one of OUR files (another DML's
    // vector, a rewrite, a removal) makes the positions stale and fails
    // loudly. Same single-logical-writer-per-ROW discipline Delta has,
    // with append-concurrency for free.
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    val committed = GraftStore.retryOnConflict {
      val base = GraftStore.latest(path).getOrElse(GraftStore.Manifest(schema))
      val entries = base.files(path)
      if (base.eqDels != oldEqDels)
        throw new GraftStore.ConflictException(
          "merge-on-read DML lost a conflict: equality deletes changed " +
            "under it since planning — re-run the DML against the " +
            "current table")
      val stale = dvByFile.keys.filter { f =>
        entries.find(_.file == f) match {
          case Some(e) => e.dv != oldDvByFile.getOrElse(f, "")
          case None => true
        }
      }
      if (stale.nonEmpty)
        throw new GraftStore.ConflictException(
          s"merge-on-read DML lost a conflict: ${stale.size} file(s) it " +
            s"deletes from changed under it (${stale.take(3).mkString(", ")}" +
            s"${if (stale.size > 3) ", …" else ""}) — re-run the DML " +
            "against the current table")
      val newEntries = GraftStore.Dv.applyTo(entries, dvByFile) ++ inserts
      (base, newEntries)
    } { case (base, newEntries) =>
      GraftStore.commit(path, base)(_.copy(entries = newEntries,
        op = if (cmd == Command.DELETE) "delete" else "replace"))
      newEntries
    }
    GraftStore.gcUnreferenced(path,
      committed.flatMap(e =>
        if (e.dv.isEmpty) Seq(e.file) else Seq(e.file, e.dv)).toSet)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.collect { case m: GraftStoreDeltaMessage => m }.foreach { m =>
      m.dvs.foreach(d => new File(path, d.dvRel).delete())
      m.inserts.foreach(i => new File(path, i.file).delete())
    }
}

case class GraftStoreDvSummary(file: String, dvRel: String, newlyDeleted: Long)

case class GraftStoreDeltaMessage(dvs: Seq[GraftStoreDvSummary],
    inserts: Seq[GraftStoreCommitMessage]) extends WriterCommitMessage

class GraftStoreDeltaWriterFactory(path: String, stamp: String,
    oldDvByFile: Map[String, String], fileIdx: Int, posIdx: Int,
    inserts: GraftStoreWriterFactory)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftStoreDeltaWriter(path, taskId, stamp, oldDvByFile, fileIdx, posIdx,
      inserts.createWriter(partitionId, taskId))
}

/** Per-task delta writer: delete rows arrive clustered by `_file` and
  * position-sorted (the write demanded it), so each file's vector is
  * written once — union of the existing sidecar's positions and the new
  * ones, atomically (tmp + move), under an attempt-unique name (a retry
  * never clobbers a winner's sidecar; abort deletes only its own).
  * Insert rows go to the store's task writer: on a partitioned table
  * they arrive clustered + sorted on the partition terms (the delta
  * write demanded it), so MOR-inserted files stay single-valued per
  * term; a task with no inserts writes no data file. */
class GraftStoreDeltaWriter(path: String, taskId: Long, stamp: String,
    oldDvByFile: Map[String, String], fileIdx: Int, posIdx: Int,
    inserts: GraftStorePartitionedWriter)
  extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private val dvs = scala.collection.mutable.ArrayBuffer.empty[GraftStoreDvSummary]
  private var curFile: String = null
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Long]

  private def flushDv(): Unit = if (curFile != null && buf.nonEmpty) {
    dvs += GraftStore.Dv.merge(path, curFile, oldDvByFile.getOrElse(curFile, ""),
      buf, s"$curFile.dv.$stamp-$taskId")
    buf.clear()
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val f = id.getUTF8String(fileIdx).toString
    if (f != curFile) { flushDv(); curFile = f }
    buf += id.getLong(posIdx)
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def commit(): WriterCommitMessage = {
    flushDv()
    GraftStoreDeltaMessage(dvs.toSeq, inserts.commit().parts)
  }

  override def abort(): Unit = {
    dvs.foreach(d => new File(path, d.dvRel).delete())
    inserts.abort()
  }

  override def close(): Unit = ()
}

// ----------------------------------------------------------------- write

class GraftStoreWriteBuilder(path: String, schema: StructType,
    clusterBy: Option[String], sortBy: Option[String],
    failFirstAttemptOf: Option[Int], failAllAttemptsOf: Option[Int],
    dataChange: Boolean = true, partitionBy: Option[String] = None,
    txn: Option[(String, Long)] = None)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
  with org.apache.spark.sql.connector.write.SupportsOverwrite {
  private var truncateFirst = false
  private var dynamicOverwrite = false
  private var replaceWhere: Option[Array[org.apache.spark.sql.sources.Filter]] = None

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  // STATIC `INSERT OVERWRITE … PARTITION (k=v)` / `writeTo(t)
  // .overwrite(cond)` — the Delta replaceWhere shape: one atomic commit
  // that drops every file the condition PROVABLY covers (tri-state
  // stats evaluation, the metadata-only DELETE discipline: an
  // undecidable file refuses loudly, never a partial replace) and
  // appends the incoming batch. AlwaysTrue degenerates to truncate.
  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      truncateFirst = true
    else replaceWhere = Some(filters)
    this
  }

  // INSERT OVERWRITE under partitionOverwriteMode=dynamic (and
  // df.writeTo(t).overwritePartitions()): replace ONLY the partitions
  // the incoming batch carries, keep everything else
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true; this
  }

  override def build(): Write =
    new GraftStoreWrite(path, schema, truncateFirst, clusterBy, sortBy,
      failFirstAttemptOf, failAllAttemptsOf, dataChange, partitionBy, txn,
      dynamicOverwrite, replaceWhere)
}

class GraftStoreWrite(path: String, schema: StructType, truncateFirst: Boolean,
    clusterBy: Option[String], sortBy: Option[String],
    failFirstAttemptOf: Option[Int], failAllAttemptsOf: Option[Int],
    dataChange: Boolean = true, partitionBy: Option[String] = None,
    txn: Option[(String, Long)] = None, dynamicOverwrite: Boolean = false,
    replaceWhere: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
  extends Write with RequiresDistributionAndOrdering {

  override def description(): String = s"graft_store write -> $path"

  // the sink REQUESTS its layout; Spark plans the exchange/sort. With no
  // clusterBy the distribution is unspecified (no exchange inserted).
  // A PARTITIONED table demands clustering + ordering on its partition
  // terms' SOURCE columns (transform terms are monotone, so source
  // order makes each derived value contiguous for the rolling writer),
  // with any sortBy as the secondary sort within a value.
  private def partitionTerms: Seq[GraftStore.PartTerm] =
    GraftStore.partitionTermsOf(partitionBy)
  private def sourceCols: Seq[String] = partitionTerms.map(_.source).distinct
  // Distribution: identity terms hash-cluster on their column (same
  // value → same task → one file per value); bucket terms cluster on
  // the DERIVED bucket expression — the catalog's V2 `bucket` function
  // resolves it into an evaluable exchange key (exactly n cells, one
  // task each). A MONOTONE transform term must NOT hash-cluster on its
  // raw source — that scatters one derived cell (e.g. one day of
  // distinct timestamps) across every task and multiplies files by the
  // task count — so its distribution is left to the caller (a
  // range-partitioned/sorted upstream gives day-contiguous tasks and
  // ~1 file per day); only the per-task ORDERING is demanded, which is
  // all the single-valued-file invariant needs — distribution affects
  // file COUNT, never correctness.
  override def requiredDistribution(): Distribution = {
    val cluster = GraftStore.clusterExprs(partitionTerms)
    if (cluster.nonEmpty) Distributions.clustered(cluster.toArray)
    else if (sourceCols.nonEmpty) Distributions.unspecified()
    else clusterBy
      .map(c => Distributions.clustered(Array(Expressions.column(c))))
      .getOrElse(Distributions.unspecified())
  }
  // Ordering: per term IN SPEC ORDER, each by the key that makes its
  // derived value contiguous — the column itself (identity), the source
  // column (monotone transforms in FINAL position: source order makes
  // the derived value contiguous within the preceding cell), the
  // DERIVED expression for a non-final temporal term (ordering a
  // composite (days(ts), lang) by raw ts would alternate lang within a
  // day and roll a file at every flip — the derived day key groups the
  // (day, lang) tuple, resolved via the catalog's V2 temporal
  // functions), the derived bucket expression (bucket) — then any
  // sortBy within the finest cell.
  override def requiredOrdering(): Array[SortOrder] =
    GraftStore.termOrdering(partitionTerms, sortBy.toSeq)

  override def toBatch: BatchWrite =
    new GraftStoreBatchWrite(path, schema, truncateFirst, failFirstAttemptOf,
      failAllAttemptsOf, dataChange,
      rollOn = partitionTerms.map(t => (schema.fieldIndex(t.source), t)),
      txn = txn, dynamicOverwrite = dynamicOverwrite,
      replaceWhere = replaceWhere)

  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    // partitioned tables compose with the epoch protocol (round 13):
    // Spark applies this Write's requiredDistribution/requiredOrdering
    // to micro-batches exactly as to batch plans, so rows reach tasks
    // clustered+sorted on the partition terms and the SAME rolling
    // writer produces per-cell files — epoch-tagged names keep replay
    // cleanup exact, and the per-cell single-valued stats (min == max
    // on partition columns by construction) keep pruning working on
    // the streamed tail
    new GraftStoreStreamingWrite(path, schema, truncateFirst,
      rollOn = partitionTerms.map(t => (schema.fieldIndex(t.source), t)))
}

/** Streaming half of the sink: each micro-batch epoch commits through the
  * SAME manifest-pointer protocol as a batch write — task attempts write
  * epoch-tagged attempt-unique files, the driver's `commit(epoch, msgs)`
  * appends exactly the committed files in one atomic manifest swap, and
  * the manifest records the epoch (`!epoch=<n>`).
  *
  * Exactly-once under recovery: after a driver restart Spark REPLAYS the
  * last unacknowledged epoch from the checkpointed offsets. The replayed
  * commit sees `epoch <= !epoch` in the manifest and becomes a no-op that
  * merely deletes its redundant files — the sink-side half of
  * end-to-end exactly-once (the source half is the checkpointed offset
  * replay being deterministic, which SynthSource's position offsets are).
  * Epoch monotonicity assumes one streaming writer per table — the same
  * single-writer discipline every manifest-pointer lakehouse table
  * requires. Output mode append = manifest grows per epoch; complete
  * (truncate) = each epoch's manifest lists that epoch's files only. */
class GraftStoreStreamingWrite(path: String, schema: StructType,
    truncateEachEpoch: Boolean,
    rollOn: Seq[(Int, GraftStore.PartTerm)] = Seq.empty)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  // per-incarnation file prefix: a query restarted from its checkpoint
  // in a new Spark context replays an epoch with task ids that restart
  // at 0, and must not truncate the files that epoch already committed
  private val stamp = java.util.UUID.randomUUID().toString.take(8)

  // epoch-stamped names (the factory appends `-e<epoch>`): replayed or
  // aborted epochs delete exactly their own files
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStoreWriterFactory(path, schema, s"data/part-$stamp", rollOn)

  override def useCommitCoordinator(): Boolean = true

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // the replay check reads the snapshot the commit would swap against,
    // never the pointer, which can lag it
    val base = GraftStore.latest(path).getOrElse(GraftStore.Manifest(schema))
    if (base.epoch.exists(_ >= epochId)) {
      // replayed epoch after recovery: already committed — drop the
      // redundant files, leave the manifest untouched (idempotence)
      GraftStore.flatMessages(messages).foreach(m => new File(path, m.file).delete())
    } else {
      // CHECK constraints guard streamed epochs exactly like batch
      // commits: a violating micro-batch aborts before any claim (the
      // stream fails loudly; the table never sees the epoch)
      val committed = GraftStore.committedEntries(path, schema, messages, "epoch")
      val files = (if (truncateEachEpoch) Seq.empty else base.files(path)) ++ committed
      // append epochs keep the TABLE's schema (the query's output schema
      // may carry tighter nullability, e.g. literal columns — writing it
      // back would let readers elide null checks on evolved columns)
      GraftStore.commit(path, base)(b =>
        if (truncateEachEpoch)
          b.copy(schema = schema, entries = files, op = "overwrite",
            epoch = Some(epochId), eqDels = Seq.empty)
        else b.copy(entries = files, op = "append", epoch = Some(epochId)))
      GraftStore.gcUnreferenced(path, files.map(_.file).toSet)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftStore.flatMessages(messages).foreach(m => new File(path, m.file).delete())
}

case class GraftStoreCommitMessage(file: String, rows: Long,
    stats: Map[String, GraftStore.ColStats], cols: Int)
  extends WriterCommitMessage

/** A task writer's commit: one entry per file the task wrote (one per
  * partition value on a partitioned table, none for a task that got no
  * rows). */
case class GraftStoreMultiMessage(parts: Seq[GraftStoreCommitMessage])
  extends WriterCommitMessage

/** The store's one task writer: every sink (append, overwrite,
  * copy-on-write rewrite, merge-on-read insert, streaming epoch) gets
  * it from [[GraftStoreWriterFactory]]. It opens its first file at its
  * first row, so a task that gets no rows writes no file and the commit
  * never sees an empty entry.
  *
  * On a PARTITIONED table (`rollOn` nonEmpty) rows arrive clustered AND
  * sorted on the table's partition terms (the sink demands that
  * layout), so a value change means the previous value's rows are
  * COMPLETE for this task — finish that file and roll to the next. One
  * data file per partition value per task, each manifest entry
  * single-valued (min = max) on the partition column BY CONSTRUCTION:
  * partition pruning is ordinary stats skipping, and `DELETE WHERE
  * part = v` is always metadata-only — the Hive/Iceberg partition
  * economics without a separate partition layout, the manifest stays
  * the only metadata. With no terms the task writes one file,
  * `<prefix>.bin`; rolled files are `<prefix>-p<n>.bin`.
  *
  * Delegates each file to the ordinary [[GraftStoreDataWriter]] (same
  * framing, same stats collection, same test hooks); commit carries
  * every finished file's entry, abort deletes them all. */
class GraftStorePartitionedWriter(path: String, schema: StructType,
    partitionId: Int, taskId: Long, rollOn: Seq[(Int, GraftStore.PartTerm)],
    prefix: String, failFirstAttemptOf: Option[Int] = None,
    failAllAttemptsOf: Option[Int] = None)
  extends DataWriter[InternalRow] {
  private val idxArr = rollOn.map(_._1).toArray
  private val terms = rollOn.map(_._2).toArray
  private val dts = idxArr.map(schema.fields(_).dataType)
  private var current: GraftStoreDataWriter = null
  // reused per-row scratch for the derived tuple (hand-rolled compare —
  // a boxed Seq + Seq.equals per row is allocation in the hottest write
  // loop of every partitioned table); `lastVal` is allocated only when
  // the tuple actually changes (≈ once per file)
  private val scratch = new Array[Any](rollOn.length)
  private var lastVal: Array[Any] = null
  private var started = false
  private var seq = 0
  private val done =
    scala.collection.mutable.ArrayBuffer.empty[GraftStoreCommitMessage]

  /** The DERIVED partition value a term assigns this row — what the
    * file roll keys on. Identity is the raw value; days buckets epoch
    * micros (or passes epoch days through); trunc floors ints/longs to
    * width multiples and prefixes strings. All monotone in the source,
    * which is what makes source-ordered input derived-contiguous. */
  private def derived(j: Int, row: InternalRow): Any = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}
    val i = idxArr(j)
    if (row.isNullAt(i)) return null
    terms(j) match {
      // raw value here (UTF8String may view the row's reused buffer —
      // equality compares bytes, so the CHANGE CHECK is safe); the write
      // loop clones string keys only when it actually retains a tuple
      case GraftStore.PartIdentity(_) => row.get(i, dts(j))
      case GraftStore.PartDays(_) => dts(j) match {
        case TimestampType | TimestampNTZType =>
          Math.floorDiv(row.getLong(i), 86400000000L)
        case DateType => row.getInt(i) // already day grain
        case other => throw new IllegalStateException(
          s"days() over unsupported type $other")
      }
      case GraftStore.PartHours(_) => dts(j) match {
        case TimestampType | TimestampNTZType =>
          Math.floorDiv(row.getLong(i), 3600000000L)
        case other => throw new IllegalStateException(
          s"hours() over unsupported type $other")
      }
      case GraftStore.PartMonths(_) => dts(j) match {
        case TimestampType | TimestampNTZType =>
          GraftStore.monthIndexOfDay(Math.floorDiv(row.getLong(i), 86400000000L))
        case DateType =>
          GraftStore.monthIndexOfDay(row.getInt(i).toLong)
        case other => throw new IllegalStateException(
          s"months() over unsupported type $other")
      }
      case GraftStore.PartYears(_) => dts(j) match {
        case TimestampType | TimestampNTZType =>
          GraftStore.yearIndexOfDay(Math.floorDiv(row.getLong(i), 86400000000L))
        case DateType =>
          GraftStore.yearIndexOfDay(row.getInt(i).toLong)
        case other => throw new IllegalStateException(
          s"years() over unsupported type $other")
      }
      case GraftStore.PartTrunc(w, _) => dts(j) match {
        case StringType => row.getUTF8String(i).substring(0, w).toString
        case IntegerType => Math.floorDiv(row.getInt(i), w) * w
        case LongType => Math.floorDiv(row.getLong(i), w.toLong) * w.toLong
        case other => throw new IllegalStateException(
          s"trunc() over unsupported type $other")
      }
      case GraftStore.PartBucket(n, _) => dts(j) match {
        case IntegerType => GraftBucket.bucket(n, row.getInt(i).toLong)
        case LongType => GraftBucket.bucket(n, row.getLong(i))
        case other => throw new IllegalStateException(
          s"bucket() over unsupported type $other")
      }
    }
  }

  /** Close the open file, recording each bucket term's derived value as
    * a pseudo-column stat line — the only way a reader can know a
    * file's bucket (no source min/max range proves hash membership).
    * The whole file shares one derived tuple by construction, so the
    * entry is min == max exact (or all-null for a null-key file). */
  private def closeCurrent(): Unit = {
    val m = current.commit().asInstanceOf[GraftStoreCommitMessage]
    val extra = terms.indices.collect {
      case j if terms(j).isInstanceOf[GraftStore.PartBucket] =>
        val t = terms(j).asInstanceOf[GraftStore.PartBucket]
        t.statName -> (lastVal(j) match {
          case null => GraftStore.ColStats("", "", m.rows)
          case b => GraftStore.ColStats(b.toString, b.toString, 0L, mono = true)
        })
    }
    done += (if (extra.isEmpty) m else m.copy(stats = m.stats ++ extra))
    current = null
  }

  override def write(row: InternalRow): Unit = {
    // a new file whenever the TUPLE of derived partition values changes
    // (the demanded clustering + ordering makes each combination
    // contiguous); element-wise compare against the retained tuple —
    // no per-row boxing beyond what derived() itself returns
    var changed = !started
    var j = 0
    while (j < scratch.length) {
      val d = derived(j, row)
      scratch(j) = d
      if (!changed) {
        val prev = lastVal(j)
        if (if (d == null) prev != null else d != prev) changed = true
      }
      j += 1
    }
    if (changed) {
      if (current != null) closeCurrent() // lastVal still = closing file's tuple
      current = new GraftStoreDataWriter(path, schema, partitionId, taskId,
        failFirstAttemptOf, failAllAttemptsOf,
        if (terms.isEmpty) s"$prefix.bin" else s"$prefix-p$seq.bin")
      seq += 1
      // retain a fresh array; string keys cloned OUT of the row's reused
      // buffer only here (once per file, not once per row)
      lastVal = Array.tabulate(scratch.length)(k => scratch(k) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
        case other => other
      })
      started = true
    }
    current.write(row)
  }

  override def commit(): GraftStoreMultiMessage = {
    if (current != null) closeCurrent()
    GraftStoreMultiMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (current != null) current.abort()
    done.foreach(m => new File(path, m.file).delete())
  }

  override def close(): Unit = ()
}

/** `dataChange = false` (the Delta compaction-write flag): the caller
  * asserts this write REARRANGES existing rows without changing table
  * content — the commit records `!op=optimize`, so change feeds stay
  * silent across it and history shows it as maintenance. The writer
  * cannot verify the assertion (that would cost a full diff); a caller
  * that lies gets a feed that misses its changes — same trust contract
  * as Delta's flag. */
class GraftStoreBatchWrite(path: String, schema: StructType,
    truncateFirst: Boolean, failFirstAttemptOf: Option[Int],
    failAllAttemptsOf: Option[Int], dataChange: Boolean = true,
    rollOn: Seq[(Int, GraftStore.PartTerm)] = Seq.empty,
    txn: Option[(String, Long)] = None, dynamicOverwrite: Boolean = false,
    replaceWhere: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
  extends BatchWrite {

  // write-unique file prefix: task ids restart in every Spark context, so
  // task-derived names alone would let a later session's append truncate
  // a live file an earlier session committed
  private val stamp = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new GraftStoreWriterFactory(path, schema, s"data/part-$stamp", rollOn,
      failFirstAttemptOf, failAllAttemptsOf)

  // at most one attempt per partition may deliver a commit message —
  // the coordinator half of the exactly-once argument
  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    // CHECK constraints: proven from the NEW files' own stats before
    // any manifest claim — a violating (or unprovable) file aborts the
    // whole commit and the table never sees it
    val committed = GraftStore.committedEntries(path, schema, messages, "committed")
    // OPTIMISTIC RETRY: an append's merge is base-independent (its own
    // files + whatever is committed now), so a conflict loser re-reads
    // the LATEST snapshot (never a lagging pointer) and retries — the
    // Delta concurrent-append semantics. Truncate replaces wholesale,
    // so its retry is equally safe (last truncate wins, a real order).
    val files = GraftStore.retryOnConflict {
      val base = GraftStore.latest(path).getOrElse(GraftStore.Manifest(schema))
      val existing = base.files(path)
      // IDEMPOTENT WRITE: a (txnAppId, txnVersion) the table has already
      // recorded is a replay — drop this attempt's files and do nothing
      // (checked against the SAME base the CAS claim pins, so a racing
      // first delivery either lands before this read or conflicts the
      // claim and this check re-runs)
      val replayed = txn.exists { case (app, ver) =>
        base.txns.get(app).exists(_ >= ver)
      }
      if (replayed) (base, existing, None)
      else (base, existing, Some(
        if (truncateFirst) Seq.empty
        else if (dynamicOverwrite) {
          // DYNAMIC PARTITION OVERWRITE: drop exactly the existing files
          // whose PROVEN partition tuple matches one the incoming batch
          // wrote; keep the rest. Proof discipline mirrors $partitions:
          // a file the stats cannot pin to one cell (pre-spec history,
          // compaction-merged cells) makes replace-by-partition
          // undecidable — refuse loudly rather than guess.
          val terms = rollOn.map(_._2)
          require(terms.nonEmpty, "dynamic partition overwrite needs a " +
            s"partitioned table — $path carries no partition spec")
          val tblSchema = base.schema
          def cellOf(e: GraftStore.FileEntry): Option[String] = {
            val parts = terms.map(t =>
              GraftStore.derivedCellOf(tblSchema, t, e))
            if (parts.forall(_.isDefined)) Some(parts.flatten.mkString("/"))
            else None
          }
          val newCells = committed.map(e => cellOf(e).getOrElse(
            throw new IllegalStateException(
              s"dynamic overwrite wrote a file whose partition tuple is " +
                s"unprovable (${e.file}) — null partition values are not " +
                "supported"))).toSet
          existing.filter { e =>
            cellOf(e) match {
              case Some(cell) => !newCells.contains(cell)
              case None => throw new IllegalArgumentException(
                s"dynamic partition overwrite is undecidable: existing " +
                  s"file ${e.file} cannot prove its partition tuple from " +
                  "stats (pre-spec history or a compaction-merged cell) — " +
                  "rewrite it first (compact_sorted / OPTIMIZE)")
            }
          }
        }
        else if (replaceWhere.isDefined) {
          // REPLACE WHERE: drop the files the condition PROVABLY covers
          // entirely, keep the files it provably misses, refuse on any
          // file the stats cannot decide — same tri-state discipline as
          // the metadata-only DELETE, fused with the append in ONE commit
          val fs = replaceWhere.get.toSeq
          val tblSchema = base.schema
          existing.filter { e =>
            GraftStore.StatsPruning.evalAll(fs, e, tblSchema) match {
              case GraftStore.StatsPruning.NoRows => true
              case GraftStore.StatsPruning.AllRows => false
              case GraftStore.StatsPruning.Unknown =>
                throw new IllegalArgumentException(
                  s"INSERT OVERWRITE condition ${fs.mkString(" AND ")} is " +
                    s"undecidable for file ${e.file} — its stats cannot " +
                    "prove all-or-none coverage; align the condition with " +
                    "the partition/file layout or use DELETE + append")
            }
          }
        }
        else existing))
    } {
      case (_, existing, None) =>
        committed.foreach(e => new File(path, e.file).delete())
        existing
      case (base, _, Some(previous)) =>
        val files = previous ++ committed
        // an append keeps the TABLE's schema: the query's output schema may
        // carry tighter nullability (literal columns), and writing it back
        // would let readers elide null checks on evolved columns whose old
        // files null-pad. Truncate replaces the table wholesale — the write
        // schema IS the new contract. The streaming epoch marker, like the
        // txn watermarks, carries forward through both.
        GraftStore.commit(path, base)(b => b.copy(
          schema = if (truncateFirst) schema else b.schema,
          entries = files,
          op = if (!dataChange) "optimize"
               else if (truncateFirst || dynamicOverwrite ||
                 replaceWhere.isDefined) "overwrite"
               else "append",
          // not a replay, so this version is above any recorded for the app
          txns = b.txns ++ txn,
          // truncate replaces the content wholesale: any equality
          // delete's work is done (nothing it applied to survives)
          eqDels = if (truncateFirst) Seq.empty else b.eqDels))
        files
    }
    GraftStore.gcUnreferenced(path, files.map(_.file).toSet)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftStore.flatMessages(messages).foreach(m =>
      new File(path, m.file).delete())
}

/** The one writer factory of every sink, batch and streaming: task
  * files are named `<prefix>-<partition>-<task>` (a streaming epoch
  * appends `-e<epoch>`), where `prefix` carries the sink's kind and
  * per-write stamp (`data/part-`, `data/rw-`, `data/mor-`). The two
  * test hooks reach every file the task writer opens. */
class GraftStoreWriterFactory(path: String, schema: StructType, prefix: String,
    rollOn: Seq[(Int, GraftStore.PartTerm)],
    failFirstAttemptOf: Option[Int] = None, failAllAttemptsOf: Option[Int] = None)
  extends DataWriterFactory
  with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  private def writer(partitionId: Int, taskId: Long, suffix: String) =
    new GraftStorePartitionedWriter(path, schema, partitionId, taskId, rollOn,
      s"$prefix-$partitionId-$taskId$suffix", failFirstAttemptOf, failAllAttemptsOf)
  override def createWriter(partitionId: Int, taskId: Long): GraftStorePartitionedWriter =
    writer(partitionId, taskId, "")
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): GraftStorePartitionedWriter =
    writer(partitionId, taskId, s"-e$epochId")
}

/** Length-framed UnsafeRow stream to `rel` (table-relative). Callers
  * make the name attempt-unique (the task id increments per attempt,
  * so a retry never collides with its dead predecessor's bytes) and
  * write-unique (a per-write stamp, since task ids restart in every
  * Spark context). */
class GraftStoreDataWriter(path: String, schema: StructType, partitionId: Int,
    taskId: Long, failFirstAttemptOf: Option[Int],
    failAllAttemptsOf: Option[Int], rel: String)
  extends DataWriter[InternalRow] {

  private val file = new File(path, rel)
  file.getParentFile.mkdirs()
  private val out = new DataOutputStream(
    new BufferedOutputStream(new FileOutputStream(file)))
  private val toUnsafe = UnsafeProjection.create(schema)
  private var rows = 0L

  // per-column min/max/nulls for the numeric and temporal columns
  // (manifest stats — the file-skipping / metadata-delete substrate).
  // Longs and doubles tracked in their own type; serialization via
  // toString is exact. Timestamps ride the long path verbatim (their
  // internal representation IS epoch micros, whose order is event-time
  // order), dates the int path (epoch days) — so the time-range
  // predicate every 100 TB fact table is scanned with prunes files the
  // same way an id-range one does.
  import org.apache.spark.sql.types.{DateType, DoubleType, IntegerType, LongType, StringType, TimestampNTZType, TimestampType}
  private def safeName(f: org.apache.spark.sql.types.StructField): Boolean =
    !f.name.exists(ch => ch == '=' || ch == ';' || ch == ':' || ch == '\t')
  private val statIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if (f.dataType == IntegerType || f.dataType == LongType ||
      f.dataType == DoubleType || f.dataType == TimestampType ||
      f.dataType == TimestampNTZType || f.dataType == DateType) && safeName(f)
      => i
  }
  // string columns get a per-file Bloom (values can't ride the min/max
  // manifest fields — arbitrary strings collide with the delimiters, a
  // fixed-width hex sketch can't) + the null count
  private val bloomIdx = schema.fields.zipWithIndex.collect {
    case (f, i) if f.dataType == StringType && safeName(f) => i
  }
  private val blooms = bloomIdx.map(_ => GraftStore.StringBloom.empty)
  // per-column HLL NDV sketches (numeric + string stat columns): the
  // write-time pass the manifest needs so table-level distinct-count
  // estimates exist at PLANNING time with zero data I/O (see NdvHll)
  private val ndvIdx = statIdx ++ bloomIdx
  private val ndvs = ndvIdx.map(_ => GraftStore.NdvHll.empty)
  private val ndvPos: Map[Int, Int] = ndvIdx.zipWithIndex.toMap
  // int/long columns build a cap-sized key sketch while rows stream;
  // commit folds it to the size its ndv earns, or drops it (KeySketch)
  private val keyIdx = statIdx.filter(i =>
    schema.fields(i).dataType == IntegerType || schema.fields(i).dataType == LongType)
  private val keyPos: Array[Int] = Array.tabulate(schema.length)(keyIdx.indexOf(_))
  private val keySketches = keyIdx.map(_ => GraftStore.KeySketch.empty())
  private val minL = Array.fill(schema.length)(Long.MaxValue)
  private val maxL = Array.fill(schema.length)(Long.MinValue)
  private val minD = Array.fill(schema.length)(Double.PositiveInfinity)
  private val maxD = Array.fill(schema.length)(Double.NegativeInfinity)
  private val nulls = Array.fill(schema.length)(0L)
  private val nonNull = Array.fill(schema.length)(0L)
  // writer-verified sortedness: stays true while the column arrives
  // nondecreasing and null-free (one compare per row — see ColStats.mono)
  private val mono = Array.fill(schema.length)(true)
  private val prevL = Array.fill(schema.length)(Long.MinValue)
  private val prevD = Array.fill(schema.length)(Double.NegativeInfinity)
  // exact wrap-around sums for int/long columns (see ColStats.sum)
  private val sums = Array.fill(schema.length)(0L)
  // NaN discipline (double columns): IEEE comparisons with NaN are all
  // false, so a plain `v < prev` / min/max update silently SKIPS NaN —
  // the file would advertise an ordering and bounds the data does not
  // satisfy under Spark's NaN-GREATEST total order (SMJ could elide its
  // sort and return wrong rows; `v > x` filters match NaN rows a stale
  // max would prune). Track NaN presence and non-NaN count explicitly:
  // max becomes the literal "NaN" (exactly Spark's max() over such data),
  // min stays the non-NaN minimum ("NaN" only when every value is NaN),
  // and mono survives only while all NaNs sit at the tail — the one
  // arrangement Spark's sort order calls sorted.
  private val nanSeen = Array.fill(schema.length)(false)
  private val nonNaN = Array.fill(schema.length)(0L)

  private def observe(row: InternalRow): Unit = {
    var j = 0
    while (j < statIdx.length) {
      val i = statIdx(j)
      if (row.isNullAt(i)) { nulls(i) += 1; mono(i) = false }
      else {
        nonNull(i) += 1
        schema.fields(i).dataType match {
          case DoubleType =>
            val v = row.getDouble(i)
            if (java.lang.Double.isNaN(v)) nanSeen(i) = true
            else {
              // a non-NaN AFTER a NaN is out of order under NaN-greatest
              if (nanSeen(i)) mono(i) = false
              nonNaN(i) += 1
              if (v < minD(i)) minD(i) = v
              if (v > maxD(i)) maxD(i) = v
              if (v < prevD(i)) mono(i) = false
              prevD(i) = v
            }
            GraftStore.NdvHll.addLong(ndvs(ndvPos(i)),
              java.lang.Double.doubleToLongBits(v))
          case IntegerType | DateType =>
            val v = row.getInt(i).toLong
            if (v < minL(i)) minL(i) = v
            if (v > maxL(i)) maxL(i) = v
            if (v < prevL(i)) mono(i) = false
            prevL(i) = v
            sums(i) += v
            GraftStore.NdvHll.addLong(ndvs(ndvPos(i)), v)
            if (keyPos(i) >= 0) GraftStore.KeySketch.add(keySketches(keyPos(i)), v)
          case _ =>
            val v = row.getLong(i)
            if (v < minL(i)) minL(i) = v
            if (v > maxL(i)) maxL(i) = v
            if (v < prevL(i)) mono(i) = false
            prevL(i) = v
            sums(i) += v
            GraftStore.NdvHll.addLong(ndvs(ndvPos(i)), v)
            if (keyPos(i) >= 0) GraftStore.KeySketch.add(keySketches(keyPos(i)), v)
        }
      }
      j += 1
    }
    var k = 0
    while (k < bloomIdx.length) {
      val i = bloomIdx(k)
      if (row.isNullAt(i)) nulls(i) += 1
      else {
        val bytes = row.getUTF8String(i).getBytes
        GraftStore.StringBloom.add(blooms(k), bytes)
        GraftStore.NdvHll.add(ndvs(ndvPos(i)), bytes)
      }
      k += 1
    }
  }

  private def collectedStats: Map[String, GraftStore.ColStats] =
    statIdx.map { i =>
      val f = schema.fields(i)
      val (mn, mx) =
        if (nonNull(i) == 0) ("", "")
        else if (f.dataType == DoubleType) (
          // "NaN" parses back to Double.NaN, whose IEEE comparisons are
          // all false: every max-based prune/AllRows check conservatively
          // declines, while Scala 2.13's TotalOrdering (metadata-agg
          // min/max fold) treats it greatest — exactly Spark's semantics
          if (nonNaN(i) == 0) "NaN" else minD(i).toString,
          if (nanSeen(i)) "NaN" else maxD(i).toString)
        else (minL(i).toString, maxL(i).toString)
      val st = GraftStore.ColStats(mn, mx, nulls(i),
        ndv = GraftStore.NdvHll.hex(ndvs(ndvPos(i))),
        mono = mono(i) && nonNull(i) > 0,
        // exact wrap-around sums make sense for int/long only: a double
        // sum is FP-order-dependent, a temporal sum is meaningless
        sum = if (nonNull(i) == 0 ||
            (f.dataType != IntegerType && f.dataType != LongType)) ""
          else sums(i).toString)
      val bits =
        if (keyPos(i) < 0) 0 else GraftStore.KeySketch.bitsFor(st, rows)
      f.name -> (if (bits == 0) st else st.copy(bloom = GraftStore.KeySketch.hex(
        GraftStore.KeySketch.fold(keySketches(keyPos(i)), bits))))
    }.toMap ++ bloomIdx.zipWithIndex.map { case (i, k) =>
      schema.fields(i).name -> GraftStore.ColStats("", "", nulls(i),
        GraftStore.KeySketch.hex(blooms(k)),
        GraftStore.NdvHll.hex(ndvs(ndvPos(i))))
    }.toMap
  private val failThis = failAllAttemptsOf.contains(partitionId) ||
    (failFirstAttemptOf.contains(partitionId) &&
      org.apache.spark.TaskContext.get() != null &&
      org.apache.spark.TaskContext.get().attemptNumber() == 0)
  private var written = 0

  override def write(row: InternalRow): Unit = {
    // kill-one-task hook: die mid-file on the first attempt, leaving a
    // half-written orphan the protocol must keep invisible and GC
    if (failThis && written == 2)
      throw new RuntimeException(
        s"injected failure: partition $partitionId attempt 0")
    val unsafe = row match {
      // arity guard: a row whose bytes don't match the write schema
      // (e.g. a rewrite row that still carries plan-internal columns)
      // must go through the projection, never verbatim to disk
      case u: UnsafeRow if u.numFields == schema.size => u
      case other => toUnsafe(other)
    }
    observe(unsafe)
    val bytes = unsafe.getBytes
    out.writeInt(bytes.length)
    out.write(bytes)
    rows += 1
    written += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftStoreCommitMessage(rel, rows, collectedStats, schema.size)
  }

  override def abort(): Unit = {
    out.close()
    file.delete()
  }

  override def close(): Unit = ()
}

// ------------------------------------------------------------------ read

class GraftStoreScanBuilder(path: String, versionAsOf: Option[Long] = None,
    fromVersion: Option[Long] = None,
    onlyFiles: Option[Set[String]] = None,
    allowCompleteFilters: Boolean = true)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources.Filter
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, Count, CountStar, Max, Min, Sum}
  import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
  private var pushed = Array.empty[Filter]
  private var residual = Array.empty[Filter]
  private var pinnedVersion: Option[Long] = None
  private var metaAgg: Option[(StructType, Seq[Array[Any]])] = None
  private var withFileCol = false
  private var withPosCol = false

  /** Rows are parsed whole either way (UnsafeRow bytes carry every
    * field), so data-column pruning buys nothing here — the requests
    * this scan honors are the `_file` / `_pos` METADATA columns,
    * appended to the read schema when the query (or a row-level
    * operation, or a deletion-vector build) asks for them. */
  override def pruneColumns(required: StructType): Unit = {
    withFileCol = required.fieldNames.contains("_file")
    withPosCol = required.fieldNames.contains("_pos")
  }

  /** By default every filter is kept as a RESIDUAL for Spark to evaluate
    * row-by-row — the pushed copy only feeds manifest-stats FILE
    * SKIPPING (exactly parquet's min/max semantics: stats prune
    * containers, they never replace row filtering).
    *
    * COMPLETE acceptance (round 12): a filter that every manifest entry
    * DECIDES under the tri-state evaluator (AllRows or NoRows, never
    * Unknown — the partition-predicate shape: `pri = 2` on a table whose
    * rolling writes single-value `pri` per file) is consumed entirely:
    * NoRows files are skipped at planning, AllRows files pass every live
    * row, so no residual evaluation exists to run. That is what makes a
    * FILTERED metadata-only aggregate reachable — Spark only attempts
    * aggregate pushdown when nothing remains between the aggregate and
    * the scan, so `COUNT(*) WHERE pri = 2` on a partitioned 100 TB table
    * becomes one manifest read instead of a scan of the partition. The
    * acceptance decision and the scan must see the SAME snapshot (a
    * commit racing between them could turn a decided file into a
    * straddling one), so accepting pins the scan to the version the
    * decision read; unversioned (pre-versioning) tables never accept.
    * Row-level operations pass `allowCompleteFilters = false`: their
    * scan feeds a rewrite whose matched-row discovery and survivor
    * recomputation assume residual filters stay in the plan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    residual = filters
    if (!allowCompleteFilters || filters.isEmpty ||
        fromVersion.isDefined || onlyFiles.isDefined) return residual
    val observed: Option[(Long, StructType, Seq[GraftStore.FileEntry])] =
      try versionAsOf match {
        case Some(v) =>
          val (sch, es) = GraftStore.selectEntries(path, Some(v), None)
          Some((v, sch, es))
        case None =>
          GraftStore.latest(path).map(m => (m.version, m.schema, m.files(path)))
      } catch { case _: GraftStore.MissingSnapshotException => None }
    observed match {
      case Some((v, sch, entries)) if v > 0 =>
        def tris(f: Filter) = entries.map(e =>
          GraftStore.StatsPruning.evalAll(Seq(f), e, sch))
        val decided = filters.filter(f =>
          !tris(f).contains(GraftStore.StatsPruning.Unknown))
        // accept only when some decided filter actually PRUNES (has a
        // NoRows file): a trivially-true filter (the inferred IsNotNull
        // under every join) costs nothing as a residual, and consuming
        // it would needlessly pin the scan — disqualifying MV rewrite
        // on every join over this table. Once a pruning filter pins the
        // snapshot, its trivially-true companions ride along (Spark only
        // attempts aggregate pushdown when NOTHING remains between
        // aggregate and scan, and `WHERE pri = 2` always arrives as
        // EqualTo + inferred IsNotNull).
        val worthIt = decided.exists(f =>
          tris(f).contains(GraftStore.StatsPruning.NoRows))
        if (worthIt) {
          residual = filters.filterNot(decided.contains)
          if (versionAsOf.isEmpty) pinnedVersion = Some(v)
        }
      case _ => ()
    }
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  // ----------------------------------------- metadata-only aggregates
  // COUNT(*) / COUNT(col) / MIN(col) / MAX(col) with no grouping and no
  // filters are answered ENTIRELY from manifest lines: rows and null
  // counts sum, per-file mins/maxes fold, and the scan plans ONE
  // synthetic partition carrying the answer — zero data files opened.
  // The Iceberg "SELECT count(*) costs one metadata read" economics; at
  // 100 TB the difference between a second and a cluster-hour. Complete
  // pushdown is claimed because the answer is exact and final (min/max
  // from stats are true extremes over non-null values; files with no
  // non-null values contribute nothing, matching SQL aggregate null
  // semantics). Spark only attempts aggregate pushdown when no residual
  // filter sits below the aggregate, so the no-filter precondition is
  // structural; the `pushed.isEmpty` check is belt-and-braces.

  private def field(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
      case _ => None
    }

  private def tryAnswer(a: Aggregation): Option[(StructType, Seq[Array[Any]])] = {
    // accepted (completely-consumed) filters are compatible with a
    // metadata answer — the answer folds over exactly the AllRows files;
    // any RESIDUAL filter is not (stats describe whole files, residuals
    // filter rows)
    if (residual.nonEmpty || onlyFiles.isDefined) return None
    val (schema, allEntries, eqDels) = try GraftStore.selectWithEq(path,
      versionAsOf.orElse(pinnedVersion), fromVersion)
      catch { case _: GraftStore.MissingSnapshotException => return None }
    // a delete-vectored file's min/max may no longer be attained (the
    // extreme row may be deleted) and its null counts may be unknown (-1):
    // COUNT(*) from live `rows` would still be exact, but refusing the
    // whole pushdown keeps the invariant simple — purgeDeletes restores
    // metadata-only answers. Equality deletes are stricter still: they
    // hide rows the manifest's `rows` field still COUNTS, so any
    // applicable delete makes every metadata answer wrong, not just the
    // extremes.
    if (allEntries.exists(_.dv.nonEmpty)) return None
    if (eqDels.exists(d => allEntries.exists(_.addedv < d.seq))) return None
    // restrict to the files the accepted filters keep (AllRows); every
    // entry must still be DECIDED against this snapshot — an Unknown
    // here means the manifest changed since acceptance, decline
    val tri = allEntries.map(e =>
      GraftStore.StatsPruning.evalAll(pushed.toSeq, e, schema))
    if (tri.contains(GraftStore.StatsPruning.Unknown)) return None
    val entries = allEntries.zip(tri).collect {
      case (e, GraftStore.StatsPruning.AllRows) => e
    }
    def statType(c: String): Option[DataType] =
      schema.fields.find(_.name == c).map(_.dataType).filter(dt =>
        dt == IntegerType || dt == LongType || dt == DoubleType ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType ||
        dt == org.apache.spark.sql.types.DateType)
    // GROUPED metadata aggregates (round 11): GROUP BY one int/long
    // column on which EVERY live file is provably single-valued
    // (min == max, no nulls — the clusterBy/partitionBy write layout) is
    // exactly as answerable as the ungrouped form: each group's rows are
    // a disjoint subset of whole files, so per-group folds over manifest
    // lines are exact. The Iceberg partition-stats economics: per-
    // partition dashboard counts at 100 TB cost one metadata read, not a
    // scan. Doubles are refused as group keys (NaN/-0.0 equality
    // subtleties buy nothing here); any other shape declines and the
    // ordinary scan plans.
    val groupKey: Option[(String, DataType)] = a.groupByExpressions.toSeq match {
      case Seq() => None
      case Seq(e) =>
        val ok = field(e).flatMap(c => statType(c).map(dt => (c, dt)))
          .filter { case (_, dt) => dt == IntegerType || dt == LongType }
          .filter { case (c, _) => entries.forall(e0 =>
            e0.stats.get(c).exists(st =>
              st.nulls == 0 && st.min.nonEmpty && st.min == st.max)) }
        if (ok.isEmpty) return None
        ok
      case _ => return None
    }
    def answerOver(group: Seq[GraftStore.FileEntry]): Option[Seq[(DataType, Any)]] = {
      def extreme(c: String, pickMax: Boolean): Option[(DataType, Any)] =
        statType(c).flatMap { dt =>
          if (!group.forall(e => e.stats.contains(c))) None
          else {
            val vals = group.map(e => if (pickMax) e.stats(c).max else e.stats(c).min)
              .filter(_.nonEmpty)
            val v: Any =
              if (vals.isEmpty) null // every row null (or no rows): SQL min/max = NULL
              else dt match {
                case DoubleType =>
                  val ds = vals.map(_.toDouble); if (pickMax) ds.max else ds.min
                case IntegerType | org.apache.spark.sql.types.DateType =>
                  // DateType's internal value is an epoch-day Int
                  val is = vals.map(_.toInt); if (pickMax) is.max else is.min
                case _ =>
                  // LongType, and timestamps whose internal value is
                  // epoch-micros Long — min/max over micros IS the SQL
                  // min/max ("freshest event" costs one metadata read)
                  val ls = vals.map(_.toLong); if (pickMax) ls.max else ls.min
              }
            Some((dt, v))
          }
        }
      val answered = a.aggregateExpressions.toSeq.map {
        case f: AggregateFunc => f match {
          case _: CountStar =>
            if (group.forall(_.rows >= 0))
              Some((LongType: DataType, group.map(_.rows).sum: Any))
            else None
          case c: Count if !c.isDistinct =>
            field(c.column).flatMap { col =>
              if (group.forall(e => e.rows >= 0 && e.stats.contains(col)))
                Some((LongType: DataType,
                  group.map(e => e.rows - e.stats(col).nulls).sum: Any))
              else None
            }
          case m: Min => field(m.column).flatMap(extreme(_, pickMax = false))
          case m: Max => field(m.column).flatMap(extreme(_, pickMax = true))
          case sm: Sum if !sm.isDistinct =>
            // exact from per-file wrap-around partials (int/long only —
            // a double sum is FP-order-dependent and never recorded).
            // Spark's Sum(int)/Sum(long) result type is LongType, and
            // Java wrap-add reproduces non-ANSI overflow exactly. A file
            // with values but no recorded sum (pre-sum manifest)
            // declines; an all-null file contributes nothing; every file
            // all-null = SQL NULL. ANSI mode (Spark 4's default) is the
            // subtle case: a real scan THROWS on accumulator overflow
            // where the wrap-add fold silently returns the wrapped value
            // — and per-file partials are wrap-recorded, so a mere
            // addExact over them can't reconstruct ANSI behavior (a
            // file-internal wrap is invisible). Sound gate: from stats,
            // bound EVERY possible partial sum by Σ_f nonnull_f ×
            // max(|min_f|, |max_f|); if that fits in int64, no
            // accumulation order (Spark's included) can overflow, the
            // recorded partials never wrapped, and the fold is exactly
            // the value an ANSI scan returns. Otherwise decline under
            // ANSI — conservative, never wrong.
            field(sm.column).flatMap { col =>
              val dtOk = statType(col).exists(dt =>
                dt == IntegerType || dt == LongType)
              def usable(e: GraftStore.FileEntry) = e.stats.get(col).exists(st =>
                st.sum.nonEmpty || (e.rows >= 0 && st.nulls == e.rows))
              // lazy: the bound parses min/max as exact longs, which is
              // only meaningful (and only parseable) when dtOk holds —
              // a double column's "100.0" must never reach toLong
              lazy val ansiOk = !org.apache.spark.sql.internal.SQLConf.get.ansiEnabled || {
                val bound = group.foldLeft(BigInt(0)) { (acc, e) =>
                  e.stats.get(col) match {
                    case Some(st) if st.min.nonEmpty && st.nulls >= 0 =>
                      acc + BigInt(e.rows - st.nulls) *
                        BigInt(st.min.toLong).abs.max(BigInt(st.max.toLong).abs)
                    case _ => acc // all-null or absent: contributes nothing
                  }
                }
                bound <= BigInt(Long.MaxValue)
              }
              if (dtOk && ansiOk && group.forall(usable)) {
                val parts = group.flatMap(e =>
                  e.stats(col).sum match { case "" => None; case s0 => Some(s0.toLong) })
                Some((LongType: DataType,
                  if (parts.isEmpty) null else (parts.foldLeft(0L)(_ + _): Any)))
              } else None
            }
          case _ => None
        }
      }
      if (answered.exists(_.isEmpty)) None else Some(answered.flatten)
    }
    groupKey match {
      case None =>
        answerOver(entries).map { cols =>
          (StructType(cols.zipWithIndex.map { case ((dt, _), i) =>
            org.apache.spark.sql.types.StructField(s"agg_$i", dt) }),
            Seq(cols.map(_._2).toArray))
        }
      case Some((g, gdt)) =>
        // structural probe over zero files fixes the agg column TYPES even
        // for an empty table (the scan schema must carry group + agg
        // columns regardless of row count)
        val probe = answerOver(Seq.empty)
        if (probe.isEmpty) return None
        val aggFields = probe.get.zipWithIndex.map { case ((dt, _), i) =>
          org.apache.spark.sql.types.StructField(s"agg_$i", dt) }
        val groups = entries.groupBy(e =>
          if (gdt == IntegerType) e.stats(g).min.toInt.asInstanceOf[Any]
          else e.stats(g).min.toLong.asInstanceOf[Any])
        val rows = groups.toSeq.map { case (k, ge) =>
          answerOver(ge).map(cols => (k, cols))
        }
        if (rows.exists(_.isEmpty)) None
        else {
          // sorted by key for a deterministic (if unordered-contract) emit
          val sorted = rows.flatten.sortBy { case (k, _) => k match {
            case i: Int => i.toLong
            case l: Long => l
          } }
          Some((StructType(
            org.apache.spark.sql.types.StructField(g, gdt, nullable = false) +: aggFields),
            sorted.map { case (k, cols) => (k +: cols.map(_._2)).toArray }))
        }
    }
  }

  override def supportCompletePushDown(a: Aggregation): Boolean =
    tryAnswer(a).isDefined

  override def pushAggregation(a: Aggregation): Boolean =
    tryAnswer(a) match {
      case some @ Some(_) => metaAgg = some; true
      case None => false
    }

  /** See GraftStoreScan.limitTrim — PARTIAL push (return false): the
    * trim is a planning optimization, Spark keeps its limit operators
    * and the row semantics. Recorded only for the bare preview shape;
    * the scan re-checks every soundness condition at plan time. */
  private var pushedLimit: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    if (limit >= 0 && pushed.isEmpty && fromVersion.isEmpty &&
        onlyFiles.isEmpty)
      pushedLimit = Some(limit)
    false
  }

  override def build(): Scan =
    new GraftStoreScan(path, pushed, versionAsOf.orElse(pinnedVersion),
      fromVersion, metaAgg, withFileCol, withPosCol, onlyFiles, pushedLimit)
}

class GraftStoreScan(path: String,
    pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    versionAsOf: Option[Long] = None,
    fromVersion: Option[Long] = None,
    metaAgg: Option[(StructType, Seq[Array[Any]])] = None,
    withFileCol: Boolean = false,
    withPosCol: Boolean = false,
    onlyFiles: Option[Set[String]] = None,
    pushedLimit: Option[Int] = None)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** MV-rewrite hooks (graft.plans.MaterializedViews): only a plain
    * current-version table scan may be substituted by a rollup — any
    * version/time pin, incremental range, metadata aggregate, provenance
    * column, or file subset disqualifies this scan. Pushed FILTERS do
    * not: this connector keeps every pushed filter as a residual in the
    * plan (the pushed copy only skips files), so the rewrite rule's own
    * plan-level filter gates see and handle them — which is what lets a
    * store-store join (whose join keys get inferred-IsNotNull pushdown)
    * still match its pre-joined rollup. */
  private[graft] def scanPath: String = path
  private[graft] def isMvSubstitutable: Boolean =
    versionAsOf.isEmpty && fromVersion.isEmpty &&
      metaAgg.isEmpty && !withFileCol && !withPosCol && onlyFiles.isEmpty &&
      pushedLimit.isEmpty // a limit-trimmed scan reads a row SUBSET
  // a time-travel read plans against the RETAINED snapshot manifest
  // (same format, stats, skipping — only the pointer differs); an
  // INCREMENTAL read keeps only the files added since `fromVersion` —
  // the file-set diff the Iceberg incremental-scan contract describes,
  // with non-append ranges refused (see GraftStore.selectEntries).
  // A plain scan with pushed filters plans through the SHARD-PRUNED
  // read: on a manifest-list table, children the filters disprove are
  // never opened (metadata I/O ∝ partitions touched); metadata
  // aggregates and incremental reads are defined over the full entry
  // set and keep the flattened read.
  private val (schema, entries, eqDels) =
    if (metaAgg.isEmpty && fromVersion.isEmpty && pushed.nonEmpty)
      GraftStore.selectWithEqPruned(path, versionAsOf, pushed.toSeq)
    else
      GraftStore.selectWithEq(path, versionAsOf, fromVersion)

  /** Equality deletes applicable to `e`, resolved to reader-side refs
    * (sidecar path + key ordinals + type tags) against THIS scan's
    * schema. A delete whose key column the schema no longer carries
    * cannot be applied and must fail loudly — silently skipping it
    * would resurrect deleted rows. */
  private def eqRefsFor(e: GraftStore.FileEntry): Seq[GraftStoreEqDelRef] =
    GraftStore.eqRefs(path, schema, eqDels.filter(e.addedv < _.seq))

  // RUNTIME group filtering on `_file` (the Iceberg design): for a
  // DELETE/UPDATE/MERGE, Spark computes the distinct `_file` values of
  // the rows the condition actually matches (a subquery over this same
  // table) and delivers them here as an IN list before partitions are
  // planned — the scan then reads EXACTLY the files containing matches,
  // no stats conservatism, and everything it skips is preserved
  // verbatim by the copy-on-write commit.
  @volatile private var runtimeFiles: Option[Set[String]] = None
  // ...and runtime DATA filters on cluster-like columns (below): kept as
  // a file-pruning input only, rows are still filtered by the join.
  @volatile private var runtimeDataFilters: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty

  /** Cluster-like columns: numeric columns whose per-file stats show
    * min == max with zero nulls in EVERY entry — each file carries one
    * value, so the column behaves like a partition value even though the
    * table is merely WRITTEN clustered (clusterBy / partitioned write /
    * any layout that single-values files). Advertising them for runtime
    * filtering gives a clustered table the same join-driven dynamic
    * pruning a hive-partitioned one gets: Spark runs the dim side,
    * delivers the join keys as an IN list, and whole files drop at
    * planning time. Derived from stats, not declared — a table whose
    * layout degrades (a file with mixed values) silently loses the
    * advertisement, never correctness (the IN list is evaluated against
    * the same tri-state stats pruning, which degrades to Unknown). */
  private val clusterLike: Seq[String] = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    if (entries.isEmpty) Seq.empty
    else schema.fields.iterator
      .filter(f => f.dataType == IntegerType || f.dataType == LongType ||
        f.dataType == DoubleType)
      .map(_.name)
      .filter(c => entries.forall(e => e.stats.get(c).exists(st =>
        st.nulls == 0 && st.min.nonEmpty && st.min == st.max)))
      .toSeq
  }

  // `_file` is advertised only when the scan actually PROJECTS it
  // (row-level operations do; plain reads don't): Spark's runtime-
  // filtering rule resolves these names against the scan output, so
  // advertising a metadata column a plain scan doesn't carry breaks any
  // equi-join over two store reads at planning time. Cluster-like
  // columns are real schema columns (rows parse whole — no pruning), so
  // they are always resolvable. A metadata-only aggregate scan answers
  // from ALL entries at build time and must not advertise anything.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (metaAgg.isDefined) Array.empty
    else (if (withFileCol) Seq("_file") else Seq.empty) ++ clusterLike match {
      case cols => cols.map(Expressions.column).toArray
    }
  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val keeps = filters.collect {
      case In("_file", vs) => vs.collect { case s: String => s }.toSet
      case EqualTo("_file", v: String) => Set(v)
    }
    if (keeps.nonEmpty) runtimeFiles = Some(keeps.reduce(_ intersect _))
    val dataFs = filters.filter(f => f.references.forall(clusterLike.contains))
    if (dataFs.nonEmpty) runtimeDataFilters = dataFs.toSeq
    selectedMemo = null
  }

  // an explicit `_file` equality/IN predicate in the query itself (not
  // just the runtime group filter) also prunes at planning time — what
  // makes "read only these named files" (purgeDeletes, targeted repair)
  // cost I/O proportional to the named set, not the table
  private val pushedFileSet: Option[Set[String]] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val sets = pushed.collect {
      case In("_file", vs) => vs.collect { case s: String => s }.toSet
      case EqualTo("_file", v: String) => Set(v)
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  // manifest-stats file skipping: a file is read only if no pushed filter
  // disproves it (tri-state NoRows), no runtime group filter excludes
  // it, and no runtime data filter disproves its cluster value. Decided
  // at planning time on the driver from manifest lines alone — no data
  // I/O, the Iceberg scan-planning story in miniature.
  // BUCKET-EQUALITY PRUNING: on a `bucket(n, k)` table, a `k = v` (or
  // `k IN (...)`) conjunct hashes its literals and drops every file
  // whose recorded derived bucket ([[GraftStore.PartBucket.statName]]
  // pseudo-stat, single-valued by the rolling write) is not among the
  // wanted buckets — no source min/max range could prove hash
  // membership. A file without the pseudo-stat (compacted bins that
  // merged buckets, pre-bucket history) is kept: conservative, never
  // wrong. The n-fold I/O cut every point lookup on a 100 TB bucketed
  // table counts on.
  private lazy val bucketTerms: Seq[GraftStore.PartBucket] =
    GraftStore.partitionTermsOf(GraftStore.readPartitionBy(path))
      .collect { case b: GraftStore.PartBucket => b }
  private def bucketKeep(e: GraftStore.FileEntry): Boolean =
    bucketTerms.forall { bt =>
      def longOf(v: Any): Option[Long] = v match {
        case i: java.lang.Integer => Some(i.longValue)
        case l: java.lang.Long => Some(l.longValue)
        case _ => None
      }
      import org.apache.spark.sql.sources.{EqualTo, In}
      val wanted = (pushed.toSeq ++ runtimeDataFilters)
        .foldLeft(Option.empty[Set[Int]]) {
          case (acc, EqualTo(c, v)) if c == bt.source =>
            longOf(v).map(l => Set(GraftBucket.bucket(bt.n, l)))
              .map(s => acc.fold(s)(_ intersect s)).orElse(acc)
          case (acc, In(c, vs)) if c == bt.source && vs.nonEmpty =>
            val ls = vs.toSeq.map(longOf)
            if (ls.forall(_.isDefined)) {
              val s = ls.flatten.map(GraftBucket.bucket(bt.n, _)).toSet
              Some(acc.fold(s)(_ intersect s))
            } else acc
          case (acc, _) => acc
        }
      wanted.forall(ws => e.stats.get(bt.statName) match {
        case Some(st) if st.min.nonEmpty && st.min == st.max && st.nulls == 0 =>
          ws.contains(st.min.toInt)
        case _ => true
      })
    }

  // [[selected]] for the current runtime filters: statistics, the plan
  // description, the reported partitioning and ordering, split planning
  // and the driver-read bound all ask for it; `filter` resets it
  @volatile private var selectedMemo: Seq[GraftStore.FileEntry] = null

  private def selected: Seq[GraftStore.FileEntry] = {
    val memo = selectedMemo
    if (memo != null) memo
    else { val s = select(); selectedMemo = s; s }
  }

  private def select(): Seq[GraftStore.FileEntry] = {
    val kept = entries.filter(e =>
      runtimeFiles.forall(_.contains(e.file)) &&
        pushedFileSet.forall(_.contains(e.file)) &&
        onlyFiles.forall(_.contains(e.file)) &&
        bucketKeep(e) &&
        GraftStore.StatsPruning.evalAll(pushed.toSeq, e, schema) !=
          GraftStore.StatsPruning.NoRows &&
        GraftStore.StatsPruning.evalAll(runtimeDataFilters, e, schema) !=
          GraftStore.StatsPruning.NoRows)
    limitTrim(kept)
  }

  /** LIMIT as a planning-time FILE TRIM (round 18): the bare
    * `SELECT * FROM t LIMIT n` preview — the query every warehouse user
    * runs first against a huge table — plans only a prefix of files
    * whose live-row counts cover `n`, instead of every file the table
    * has. Sound only when manifest row counts are EXACT live counts and
    * nothing filters rows afterwards: no pushed/runtime filters, no
    * file subset, no equality deletes (they hide rows the count can't
    * see), no unknown-rows legacy entries; deletion-vectored files
    * qualify (their `rows` is DV-adjusted and the reader yields exactly
    * that many). The push is PARTIAL — Spark keeps its limit operators;
    * the trim merely guarantees at least min(n, total) rows survive. */
  private def limitTrim(es: Seq[GraftStore.FileEntry]): Seq[GraftStore.FileEntry] =
    pushedLimit match {
      case Some(l) if pushed.isEmpty && runtimeFiles.isEmpty &&
          runtimeDataFilters.isEmpty && onlyFiles.isEmpty &&
          eqDels.isEmpty && es.forall(_.rows >= 0) =>
        var acc = 0L
        val b = Seq.newBuilder[GraftStore.FileEntry]
        val it = es.iterator
        while (it.hasNext && acc < l) { val e = it.next(); b += e; acc += e.rows }
        b.result()
      case _ => es
    }

  /** Estimated bytes per row: the schema's default sizes plus the
    * UnsafeRow null bitset word. */
  private def rowWidth: Long = schema.fields.map(_.dataType.defaultSize).sum + 8L

  /** Estimated bytes of the files this scan reads (live rows ×
    * [[rowWidth]], the weights [[splitsOf]] packs by): one split's when
    * it plans one. Unknown when a legacy entry lacks its row count. */
  private[graft] def estimatedBytes: Long = {
    val sel = selected
    if (sel.exists(_.rows < 0)) Long.MaxValue else sel.map(_.rows).sum * rowWidth
  }

  /** Whether this scan plans at most one split of at most `maxBytes`
    * [[estimatedBytes]]; a metadata-only aggregate's one answer
    * partition always qualifies. */
  private[graft] def singleSplitWithin(maxBytes: Long): Boolean =
    metaAgg.isDefined || (splitsOf(selected).size match {
      case 0 => true
      case 1 => estimatedBytes <= maxBytes
      case _ => false
    })

  /** MANIFEST-DERIVED PLANNING STATISTICS — the ANALYZE-free CBO feed.
    * Called by Spark after pushdown, so row counts and column stats
    * reflect the files that survived manifest skipping. Everything here
    * folds over manifest lines on the driver (no data I/O): exact live
    * row counts, per-column min/max/null BOUNDS (exact on freshly
    * written files; on delete-vectored files the recorded extremes may
    * no longer be attained and NDV over-counts deleted values, so they
    * are upper bounds — sound for estimation, not for answers), and
    * HLL-union distinct estimates ([[GraftStore.NdvHll]]) — precisely the
    * input `spark.sql.cbo.*` join estimation and join reorder need.
    * Where a warehouse schedules a full-scan ANALYZE TABLE to feed its
    * cost model, a table format that keeps per-file sketches answers at
    * planning time, always as fresh as the snapshot being read. Columns
    * missing stats in ANY selected file report nothing (estimates may be
    * loose, never fabricated); tables with pre-stats files report no row
    * count at all and fall back to Spark's defaults. */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    import java.util.{Optional, OptionalLong}
    val files = selected
    val haveRows = files.nonEmpty && files.forall(_.rows >= 0)
    val rowCount = if (haveRows) files.map(_.rows).sum else -1L
    val colMap = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
    if (haveRows) schema.fields.foreach { f =>
      val sts = files.flatMap(e => e.stats.get(f.name))
      if (sts.length == files.length) {
        val nullsKnown = sts.forall(_.nulls >= 0)
        val nullSum = if (nullsKnown) sts.map(_.nulls).sum else -1L
        val ndvEst: Long =
          if (sts.forall(_.ndv.nonEmpty)) {
            val merged = sts.map(_.ndv).reduce(GraftStore.NdvHll.mergeHex)
            math.min(GraftStore.NdvHll.estimate(GraftStore.NdvHll.fromHex(merged)),
              math.max(1L, rowCount))
          } else -1L
        val nonEmpty = sts.filter(_.min.nonEmpty)
        // boxed catalyst-internal values per column type; string columns
        // carry no min/max (their manifest stats are bloom + ndv only)
        val (mnV, mxV): (Option[Any], Option[Any]) =
          if (nonEmpty.isEmpty) (None, None)
          else f.dataType match {
            case DoubleType =>
              // Non-finite bounds stay OUT of the CBO feed: a NaN/Inf in
              // attributeStats poisons range-selectivity arithmetic
              // (comparisons false, subtractions NaN). An all-NaN file's
              // "NaN" min sentinel is exactly droppable (the file has no
              // non-NaN minimum); any other non-finite bound — a NaN max
              // (true max IS NaN under NaN-greatest) or a real ±Inf —
              // means the finite fold would misstate the bound, so the
              // column reports none. Estimate-quality only, never results.
              val minVals = nonEmpty.map(_.min.toDouble)
              val maxVals = nonEmpty.map(_.max.toDouble)
              val finMins = minVals.filter(d => java.lang.Double.isFinite(d))
              val minOk = finMins.nonEmpty &&
                minVals.forall(d => java.lang.Double.isFinite(d) || d.isNaN)
              val maxOk = maxVals.forall(d => java.lang.Double.isFinite(d))
              (if (minOk) Some(Double.box(finMins.min)) else None,
                if (maxOk && maxVals.nonEmpty) Some(Double.box(maxVals.max)) else None)
            case IntegerType =>
              (Some(Int.box(nonEmpty.map(_.min.toLong).min.toInt)),
                Some(Int.box(nonEmpty.map(_.max.toLong).max.toInt)))
            case LongType | org.apache.spark.sql.types.TimestampType |
                org.apache.spark.sql.types.TimestampNTZType =>
              // timestamps: catalyst-internal epoch micros (Long)
              (Some(Long.box(nonEmpty.map(_.min.toLong).min)),
                Some(Long.box(nonEmpty.map(_.max.toLong).max)))
            case org.apache.spark.sql.types.DateType =>
              (Some(Int.box(nonEmpty.map(_.min.toLong).min.toInt)),
                Some(Int.box(nonEmpty.map(_.max.toLong).max.toInt)))
            case _ => (None, None)
          }
        if (ndvEst >= 0 || nullSum >= 0 || mnV.isDefined || mxV.isDefined)
          colMap.put(Expressions.column(f.name), new ColumnStatistics {
            override def distinctCount(): OptionalLong =
              if (ndvEst >= 0) OptionalLong.of(ndvEst) else OptionalLong.empty()
            override def min(): Optional[Object] =
              mnV.map(v => Optional.of(v.asInstanceOf[Object])).getOrElse(Optional.empty())
            override def max(): Optional[Object] =
              mxV.map(v => Optional.of(v.asInstanceOf[Object])).getOrElse(Optional.empty())
            override def nullCount(): OptionalLong =
              if (nullSum >= 0) OptionalLong.of(nullSum) else OptionalLong.empty()
            override def avgLen(): OptionalLong =
              OptionalLong.of(f.dataType.defaultSize.toLong)
            override def maxLen(): OptionalLong =
              OptionalLong.of(f.dataType.defaultSize.toLong)
          })
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): OptionalLong =
        if (haveRows) OptionalLong.of(math.max(1L, rowCount) * rowWidth)
        else OptionalLong.empty()
      override def numRows(): OptionalLong =
        if (haveRows) OptionalLong.of(rowCount) else OptionalLong.empty()
      override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics] = colMap
    }
  }

  /** The files this scan planned partitions for — for a row-level
    * operation this IS the replaced-group set its write commits against
    * (planInputPartitions always runs before the write's commit). */
  @volatile private[sources] var plannedFiles: Seq[String] = Seq.empty

  override def readSchema(): StructType = metaAgg.map(_._1).getOrElse {
    val withF =
      if (withFileCol)
        schema.add("_file", org.apache.spark.sql.types.StringType, nullable = false)
      else schema
    if (withPosCol)
      withF.add("_pos", org.apache.spark.sql.types.LongType, nullable = false)
    else withF
  }
  override def toBatch: Batch = this
  override def description(): String = metaAgg match {
    case Some((s, _)) =>
      s"graft_store($path, metadata-only aggregate [${s.fieldNames.mkString(", ")}], files=0/${entries.size})"
    case None =>
      val sel = selected
      s"graft_store($path, files=${sel.size}/${entries.size}) splits=${splitsOf(sel).size}"
  }

  /** The table is also a STREAM: snapshot versions are the offsets, so
    * each micro-batch is exactly the files some commit range added —
    * the incremental-read diff run continuously (Delta's streaming-
    * source design: the txn log IS the write-ahead log). `fromVersion`
    * doubles as the starting offset (tail only what comes after
    * snapshot N); with no option the stream begins before v1 and the
    * first batch replays the whole table. Restart safety = the
    * checkpointed version offsets plus manifest retention: snapshots a
    * checkpoint may resume from must outlive it (expireSnapshots is the
    * operator's contract there, exactly Delta's vacuum caveat). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftStoreMicroBatchStream(path, schema,
      fromVersion.getOrElse(0L))

  /** STORAGE-PARTITIONED JOIN support: a PARTITIONED table whose every
    * file is provably single-valued on the partition column(s) (per-value
    * rolling writes that; the stats are re-checked rather than trusted)
    * reports KeyGroupedPartitioning over them and tags each file
    * partition with its key tuple — two tables partitioned the same way
    * then join with NO exchange on either side (gated by Spark's
    * `spark.sql.sources.v2.bucketing.enabled`). The v2 successor of the
    * bucketed-parquet join: at 100 TB the join reads co-located cells
    * and the shuffle that dominated the plan disappears.
    *
    * MULTI-COLUMN (round 12): the grouping spans the longest PREFIX of
    * the spec's identity terms whose per-file single-valuedness proves
    * for every selected file — a `(pri, rgn)` layout joins zero-exchange
    * on both keys (Iceberg multi-transform SPJ). Prefix, not arbitrary
    * subset, as policy: any single-valued subset would make a VALID
    * grouping claim, but Spark matches the two sides' partitionings by
    * their expression lists, so reporting a spec-order prefix keeps the
    * advertisement deterministic under partial degradation (pre-spec
    * history that breaks one column degrades every table of the layout
    * the same way). A join keyed on fewer columns than the reported
    * grouping falls back to a shuffled plan (Spark's subset-key SPJ is
    * opt-in), which is a performance degradation, never a wrong one. */
  private lazy val spjKeys: Seq[(String, org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}
    if (metaAgg.isDefined || entries.isEmpty) Seq.empty
    else GraftStore.readPartitionCols(path).iterator
      .map(c => schema.fields.find(_.name == c)
        .filter(f => f.dataType == IntegerType || f.dataType == LongType ||
          f.dataType == DoubleType)
        .filter(f => entries.forall(e =>
          e.stats.get(f.name).exists(st =>
            st.nulls == 0 && st.min.nonEmpty && st.min == st.max))))
      .takeWhile(_.isDefined)
      .map(f => (f.get.name, f.get.dataType))
      .toSeq
  }

  private def keyValueOf(e: GraftStore.FileEntry,
      col: String, dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val s = e.stats(col).min
    dt match {
      case IntegerType => s.toInt
      case DoubleType => s.toDouble
      case _ => s.toLong
    }
  }

  private def keyTupleOf(e: GraftStore.FileEntry,
      keys: Seq[(String, org.apache.spark.sql.types.DataType)]): Seq[Any] =
    keys.map { case (c, dt) => keyValueOf(e, c, dt) }

  /** BUCKET-SPJ: a `bucket(n, k)` table whose every selected file is
    * provably single-bucket (the `__bucket_n_k` pseudo-stat, re-checked
    * rather than trusted) reports KeyGroupedPartitioning over the
    * bucket TRANSFORM. Spark resolves it through the relation's
    * FunctionCatalog (catalog reads only — a path read has none and the
    * advertisement silently drops) and matches the two sides by the
    * bound function's canonicalName — two graft tables bucketed the
    * same way then join with NO exchange on either side: the co-located
    * join on a synthetic key, which is what bucketing 100 TB fact
    * tables is FOR. */
  private lazy val spjBucket: Option[GraftStore.PartBucket] =
    if (metaAgg.isDefined) None
    else GraftStore.partitionTermsOf(GraftStore.readPartitionBy(path))
      .headOption.collect {
        case b: GraftStore.PartBucket
          if entries.nonEmpty && entries.forall(e =>
            e.stats.get(b.statName).exists(st =>
              st.nulls == 0 && st.min.nonEmpty && st.min == st.max)) => b
      }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case keys if keys.nonEmpty =>
        val n = selected.map(keyTupleOf(_, keys)).distinct.size
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          keys.map { case (c, _) =>
            Expressions.identity(c): org.apache.spark.sql.connector.expressions.Expression
          }.toArray, n)
      case _ => spjBucket match {
        case Some(b) =>
          val n = selected.map(_.stats(b.statName).min.toInt).distinct.size
          new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
            Array(Expressions.bucket(b.n, b.source)), n)
        case None =>
          new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
            selected.size)
      }
    }

  /** MANIFEST-PROVEN SORTEDNESS — the ordering leg next to the
    * statistics leg: the writer VERIFIES per-column monotonicity while
    * streaming each file's rows (ColStats.mono), and any set of
    * individually-nondecreasing null-free columns is lexicographically
    * sorted in every order (ties in one column leave the others still
    * globally nondecreasing) — so each input partition (one file) can
    * advertise a reported ordering over exactly the columns proven
    * sorted in EVERY selected file. On a storage-partitioned table the
    * partition key leads (single-valued per file ⇒ trivially sorted)
    * and secondary columns are advertised only when each key owns ONE
    * file (Spark concatenates same-key files inside a grouped
    * partition, which would break a secondary order). Net effect: a
    * co-partitioned SMJ whose tables were WRITTEN sorted drops its
    * SortExec on both sides — the no-exchange join becomes a
    * no-exchange, NO-SORT join (Iceberg's sorted-SPJ read). Proven from
    * manifest lines, never declared: compaction or an unsorted append
    * clears the flags and the advertisement degrades, never
    * correctness. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (metaAgg.isDefined) return Array.empty
    val sel = selected
    if (sel.isEmpty) return Array.empty
    def asc(c: String) = Expressions.sort(Expressions.identity(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    val sortedCols = schema.fields.iterator.map(_.name)
      .filter(c => sel.forall(_.stats.get(c).exists(_.mono)))
      .toSeq
    spjKeys match {
      case keys if keys.nonEmpty =>
        // key columns lead (single-valued per file ⇒ trivially sorted in
        // any order); secondary columns only when each key TUPLE owns one
        // file (Spark concatenates same-tuple files inside a grouped
        // partition, which would break a secondary order)
        val oneFilePerKey =
          sel.groupBy(keyTupleOf(_, keys)).forall(_._2.size == 1)
        val keyCols = keys.map(_._1)
        val secondary =
          if (oneFilePerKey) sortedCols.filterNot(keyCols.contains).sorted
          else Nil
        (keyCols ++ secondary).map(asc).toArray
      case _ => spjBucket match {
        case Some(b) =>
          // key-grouped by bucket: Spark concatenates same-bucket files
          // inside a grouped partition, so a per-file ordering claim
          // survives only when each bucket owns ONE file
          val oneFilePerBucket =
            sel.groupBy(_.stats(b.statName).min).forall(_._2.size == 1)
          if (oneFilePerBucket) sortedCols.sorted.map(asc).toArray
          else Array.empty
        case None =>
          // one partition per file: per-partition ordering always holds
          sortedCols.sorted.map(asc).toArray
      }
    }
  }

  /** The selected files grouped into input splits, in plan order, each
    * with its key tuple when the scan is key-grouped. A key-grouped scan
    * (identity SPJ keys or a single-bucket spec) bin-packs the files
    * that share a key tuple into one split — next-fit in manifest order
    * under Spark's own file-split size
    * (`FilePartition.maxSplitBytes`: `spark.sql.files.maxPartitionBytes`,
    * `openCostInBytes`, `minPartitionNum` or the default parallelism) —
    * so a table that accumulated many small files per partition value
    * launches one task per value, not one per file. Weights come from
    * the manifest (live rows × [[rowWidth]]): planning makes no
    * filesystem call. Files of different keys never share a
    * split, so the grouping report and the ordering claims hold as for
    * one file per split. An unkeyed scan keeps one split per file: the
    * write-side clustering IS the read-side parallelism, and its
    * per-file ordering claim needs it. */
  private def splitsOf(sel: Seq[GraftStore.FileEntry])
      : Seq[(Option[Seq[Any]], Seq[GraftStore.FileEntry])] = {
    val keyOf: Option[GraftStore.FileEntry => Seq[Any]] = spjKeys match {
      case keys if keys.nonEmpty => Some(keyTupleOf(_, keys))
      case _ => spjBucket.map(b => e => Seq(e.stats(b.statName).min.toInt))
    }
    keyOf match {
      case None => sel.map(e => (None, Seq(e)))
      case Some(key) =>
        val spark = org.apache.spark.sql.SparkSession.active
        val openCost = spark.sessionState.conf.filesOpenCostInBytes
        val width = rowWidth
        def bytesOf(e: GraftStore.FileEntry): Long = math.max(e.rows, 0L) * width
        val maxSplit = org.apache.spark.sql.execution.datasources.FilePartition
          .maxSplitBytes(spark, sel.map(bytesOf(_) + openCost).sum)
        val byKey = scala.collection.mutable.LinkedHashMap
          .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[GraftStore.FileEntry]]
        sel.foreach(e => byKey.getOrElseUpdate(key(e),
          scala.collection.mutable.ArrayBuffer.empty) += e)
        byKey.toSeq.flatMap { case (k, files) =>
          val splits = scala.collection.mutable.ArrayBuffer(
            scala.collection.mutable.ArrayBuffer.empty[GraftStore.FileEntry])
          var splitBytes = 0L
          files.foreach { e =>
            // packed by data bytes alone: charging each file the open
            // cost, as getFilePartitions does, would close a split after
            // every small file once maxSplit falls to the open cost —
            // exactly the many-small-files case this packing is for
            if (splits.last.nonEmpty && splitBytes + bytesOf(e) > maxSplit) {
              splits += scala.collection.mutable.ArrayBuffer.empty
              splitBytes = 0L
            }
            splits.last += e
            splitBytes += bytesOf(e)
          }
          splits.map(s => (Some(k), s.toSeq))
        }
    }
  }

  // a pushed metadata aggregate plans ONE synthetic partition carrying
  // the answer row (zero data files opened); otherwise one input
  // partition per split of [[splitsOf]]
  override def planInputPartitions(): Array[InputPartition] =
    metaAgg match {
      case Some((_, rows)) =>
        Array(GraftStoreMetaAggPartition(rows.toArray))
      case None =>
        val sel = selected
        plannedFiles = sel.map(_.file)
        def filePartition(e: GraftStore.FileEntry) =
          GraftStoreFilePartition(new File(path, e.file).getAbsolutePath,
            e.cols, e.file,
            if (e.dv.isEmpty) "" else new File(path, e.dv).getAbsolutePath,
            eqRefsFor(e), e.narrow, e.nested)
        splitsOf(sel).map {
          case (Some(k), files) =>
            GraftStoreKeyedSplit(k, files.map(filePartition)): InputPartition
          case (None, files) => filePartition(files.head): InputPartition
        }.toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStoreReaderFactory(schema.size, withFileCol, withPosCol)
}

case class GraftStoreFilePartition(absolutePath: String, cols: Int = -1,
    relPath: String = "", dvAbs: String = "",
    eq: Seq[GraftStoreEqDelRef] = Seq.empty,
    narrow: Seq[Int] = Seq.empty,
    nested: Seq[Int] = Seq.empty) extends InputPartition

/** One applicable equality delete, reader-ready: the sidecar's absolute
  * path plus the key columns' ordinals and type tags in the scan
  * schema. */
case class GraftStoreEqDelRef(abs: String, ords: Array[Int],
    tags: Array[Byte])

/** A key-grouped split: files that share one partition-key tuple (one
  * value per reported grouping expression), read one after another, so
  * Spark's key-grouped machinery can line splits up across the two sides
  * of a storage-partitioned join (several splits may share a tuple when
  * one value outgrows the split size — Spark groups them). */
case class GraftStoreKeyedSplit(keys: Seq[Any], files: Seq[GraftStoreFilePartition])
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keys.toArray)
}

/** One changed file of one commit: its rows are served with the partition's
  * constant (_change_type, _commit_version) pair appended. `applyDvAbs`
  * masks rows already deleted BEFORE the range (never part of this
  * change); `dvDelta` flips the mask — emit ONLY the positions that
  * `applyDvAbs` has and `baseDvAbs` lacks, i.e. the rows one commit's
  * merge-on-read DELETE removed. */
case class GraftStoreCdfPartition(absolutePath: String, cols: Int,
    changeType: String, version: Long, applyDvAbs: String = "",
    baseDvAbs: String = "", dvDelta: Boolean = false,
    maskEq: Seq[GraftStoreEqDelRef] = Seq.empty,
    onlyEq: Seq[GraftStoreEqDelRef] = Seq.empty,
    narrow: Seq[Int] = Seq.empty,
    nested: Seq[Int] = Seq.empty) extends InputPartition

/** CHANGE DATA FEED scan (`changesFrom` / `changesTo` read options): the
  * row-level delta between two snapshots, emitted as the table's schema
  * plus `_change_type` ('insert' | 'delete') and `_commit_version` — the
  * Delta/Iceberg CDF surface. Planning is [[GraftStore.cdfFileDiffs]]:
  * one partition per CHANGED file per commit, decided on the driver from
  * manifest lines alone, so a feed over a 100 TB table costs I/O
  * proportional to what actually changed. Readers are the ordinary batch
  * file readers with the two CDF constants riding the zero-allocation
  * JoinedRow tail. Filters/aggregates are deliberately not pushed — a
  * change feed is consumed whole by definition; Spark evaluates
  * everything above the scan. */
class GraftStoreCdfScan(path: String, fromV: Long, toV: Long,
    dataSchema: StructType) extends Scan with Batch {
  override def readSchema(): StructType = GraftStore.cdfSchema(dataSchema)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_store_changes($path, v$fromV..v$toV)"
  override def planInputPartitions(): Array[InputPartition] =
    GraftStore.cdfPartitions(path, dataSchema, fromV, toV)
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStoreReaderFactory(dataSchema.size)

  /** The change feed is also a STREAM: version offsets like the plain
    * table tail, but each micro-batch is the CDF diff of its commit
    * range — so the tail survives DELETE/UPDATE/overwrite (emitting
    * their deltas) and OPTIMIZE (emitting nothing) instead of refusing
    * non-append history. The streaming consumer of a MUTATING table:
    * `changesFrom` is the starting offset. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftStoreCdfMicroBatchStream(path, dataSchema, fromV)
}

/** Micro-batch tail of the change feed: `latestOffset` polls the manifest
  * pointer; `planInputPartitions(s, e)` is [[GraftStore.cdfFileDiffs]]
  * over that commit range. The retention contract matches the batch CDF:
  * every snapshot a checkpoint may resume from must outlive it. */
class GraftStoreCdfMicroBatchStream(path: String, dataSchema: StructType,
    startVersion: Long)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftVersionOffset(startVersion)
  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.toLong)
  override def latestOffset(): Offset =
    GraftVersionOffset(GraftStore.readVersion(path))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    val e = end.asInstanceOf[GraftVersionOffset].version
    if (e <= s) return Array.empty
    // the BATCH change feed emits across a widen (old images upgraded to
    // the range-end schema), but this stream's dataSchema is FIXED at
    // stream start — a batch whose end schema no longer matches it could
    // not be represented. A stream started after the widen tails across
    // it fine: cdfFileDiffs upgrades pre-widen units to the range-end
    // schema == dataSchema.
    GraftStore.streamBatchGuard(path, dataSchema, s, e, "change-feed stream")
    GraftStore.cdfPartitions(path, dataSchema, s, e)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStoreReaderFactory(dataSchema.size)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Offset = committed snapshot version (0 = before the first commit). */
case class GraftVersionOffset(version: Long)
  extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

/** Micro-batch tail of a GraftStore table: `latestOffset` polls the
  * manifest pointer's version; `planInputPartitions(s, e)` is the
  * file-set diff between snapshots s and e — one partition per file a
  * commit in that range added, read by the ordinary batch reader. The
  * same non-append guard as the incremental read applies per batch: a
  * truncate/DELETE/OPTIMIZE inside an uncommitted range would make the
  * diff a lie, so it fails loudly instead. */
class GraftStoreMicroBatchStream(path: String, streamSchema: StructType,
    startVersion: Long)
  extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset
  private val numFields = streamSchema.size

  override def initialOffset(): Offset = GraftVersionOffset(startVersion)
  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.toLong)
  override def latestOffset(): Offset =
    GraftVersionOffset(GraftStore.readVersion(path))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].version
    val e = end.asInstanceOf[GraftVersionOffset].version
    if (e <= s) return Array.empty
    GraftStore.streamBatchGuard(path, streamSchema, s, e, "stream")
    // the batch incremental read's diff and its refusal: a base file
    // removed or delete-vectored inside the range, or an equality delete
    // landing in it, makes the append-only file diff a lie. From v0 the
    // base is empty, so any equality delete at `e` is one such change.
    val (_, added, eqDels) =
      GraftStore.selectWithEq(path, Some(e), Some(s).filter(_ > 0))
    require(s > 0 || eqDels.isEmpty,
      s"stream batch v$s..v$e crosses a non-append snapshot (equality " +
        "deletes changed) — tail a change feed (changesFrom/changesTo " +
        "batch reads) across deletes or rewrites")
    added.sortBy(_.file).map { f =>
      GraftStoreFilePartition(new File(path, f.file).getAbsolutePath, f.cols,
        f.file, if (f.dv.isEmpty) "" else new File(path, f.dv).getAbsolutePath,
        narrow = f.narrow, nested = f.nested): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftStoreReaderFactory(numFields)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Partition for a manifest-answered aggregate: the rows (one for the
  * ungrouped form, one per group for GROUP BY a single-valued column)
  * were computed at PLANNING time on the driver; the "read" just emits
  * them. */
case class GraftStoreMetaAggPartition(rows: Array[Array[Any]]) extends InputPartition

class GraftStoreReaderFactory(scanFields: Int, withFileCol: Boolean = false,
    withPosCol: Boolean = false)
  extends PartitionReaderFactory {
  import org.apache.spark.unsafe.types.UTF8String

  private def consts(relPath: String): Array[Any] = {
    val c = (if (withFileCol) Seq[Any](UTF8String.fromString(relPath)) else Seq.empty) ++
      (if (withPosCol) Seq[Any](0L) else Seq.empty)
    if (c.isEmpty) null else c.toArray
  }
  private def posSlot(tail: Array[Any]): Int =
    if (withPosCol && tail != null) tail.length - 1 else -1
  private def skipOf(dvAbs: String): java.util.BitSet =
    if (dvAbs == null || dvAbs.isEmpty) null else GraftStore.Dv.bitset(dvAbs)
  private def narrowOf(n: Seq[Int]): Array[Int] =
    if (n.isEmpty) null else n.toArray

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case GraftStoreMetaAggPartition(rows) =>
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(rows(i))
        override def close(): Unit = ()
      }
    case GraftStoreCdfPartition(abs, cols, changeType, version, applyDv,
        baseDv, dvDelta, maskEq, onlyEq, cdfNarrow, cdfNested) =>
      // change-feed partition: the ordinary file read, with the two CDF
      // columns riding the same constant-tail wrapper as `_file`. A
      // dv-delta partition inverts the mask: serve ONLY the newly
      // deleted positions (applyDv minus baseDv). maskEq hides rows a
      // PRE-range/pre-commit equality delete had already killed; onlyEq
      // SELECTS the old images an eq-delete commit is deleting.
      val fileFields = if (cols > 0) cols else scanFields
      val (skip, only) =
        if (dvDelta) {
          val o = GraftStore.Dv.bitset(applyDv)
          if (baseDv.nonEmpty) o.andNot(GraftStore.Dv.bitset(baseDv))
          (null, o)
        } else if (baseDv.nonEmpty) {
          // non-delta unit with BOTH dvs: skip the UNION — a row dead at
          // either end of the commit must not serve as an eq-delta
          // old/new image (the dv-side transition, if any, is emitted by
          // the dvGrown/dvRevived units, never here)
          val u = GraftStore.Dv.bitset(baseDv)
          if (applyDv.nonEmpty) u.or(GraftStore.Dv.bitset(applyDv))
          (u, null)
        } else (skipOf(applyDv), null)
      new GraftStoreFileReader(abs, fileFields, scanFields,
        Array[Any](UTF8String.fromString(changeType), version),
        skipDv = skip, onlyDv = only,
        eqProbes = probesOf(maskEq), onlyEqProbes = probesOf(onlyEq),
        narrowOrds = narrowOf(cdfNarrow), nestedPads = narrowOf(cdfNested))
    case GraftStoreKeyedSplit(_, files) =>
      // one file after another, each opened only when the previous one
      // is exhausted and closed before the next opens
      new PartitionReader[InternalRow] {
        private val rest = files.iterator
        private var cur: PartitionReader[InternalRow] = null
        override def next(): Boolean = {
          while (cur == null || !cur.next()) {
            if (cur != null) { cur.close(); cur = null }
            if (!rest.hasNext) return false
            cur = createReader(rest.next())
          }
          true
        }
        override def get(): InternalRow = cur.get()
        override def close(): Unit = if (cur != null) { cur.close(); cur = null }
      }
    case fp: GraftStoreFilePartition =>
      // a file written before an ADD COLUMN carries fewer fields than the
      // scan schema: parse at its own arity (UnsafeRow layout bakes the
      // field count into the bytes) and null-pad the tail
      val fileFields = if (fp.cols > 0) fp.cols else scanFields
      val tail = consts(fp.relPath)
      new GraftStoreFileReader(fp.absolutePath, fileFields, scanFields,
        tail, skipDv = skipOf(fp.dvAbs), posSlot = posSlot(tail),
        eqProbes = probesOf(fp.eq), narrowOrds = narrowOf(fp.narrow),
        nestedPads = narrowOf(fp.nested))
  }

  /** Resolve eq-del refs to (parsed set, ordinals, tags) — the sets load
    * through the executor-JVM cache, once per sidecar not per task. */
  private def probesOf(eq: Seq[GraftStoreEqDelRef])
      : Array[(java.util.HashSet[String], Array[Int], Array[Byte])] =
    if (eq.isEmpty) null
    else eq.map(r =>
      (GraftStore.EqSet.cached(r.abs), r.ords, r.tags)).toArray
}

/** Base for the nested-evolution read views: delegate every accessor to
  * `target`. Mutation is refused — these wrap scan output only. */
private[sources] abstract class GraftDelegatingRow extends InternalRow {
  import org.apache.spark.sql.types.{DataType, Decimal}
  import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String, VariantVal}
  protected def target: InternalRow
  override def numFields: Int = target.numFields
  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("read-only row view")
  override def isNullAt(ordinal: Int): Boolean = target.isNullAt(ordinal)
  override def getBoolean(ordinal: Int): Boolean = target.getBoolean(ordinal)
  override def getByte(ordinal: Int): Byte = target.getByte(ordinal)
  override def getShort(ordinal: Int): Short = target.getShort(ordinal)
  override def getInt(ordinal: Int): Int = target.getInt(ordinal)
  override def getLong(ordinal: Int): Long = target.getLong(ordinal)
  override def getFloat(ordinal: Int): Float = target.getFloat(ordinal)
  override def getDouble(ordinal: Int): Double = target.getDouble(ordinal)
  override def getDecimal(ordinal: Int, precision: Int, scale: Int): Decimal =
    target.getDecimal(ordinal, precision, scale)
  override def getUTF8String(ordinal: Int): UTF8String =
    target.getUTF8String(ordinal)
  override def getBinary(ordinal: Int): Array[Byte] = target.getBinary(ordinal)
  override def getInterval(ordinal: Int): CalendarInterval =
    target.getInterval(ordinal)
  override def getVariant(ordinal: Int): VariantVal = target.getVariant(ordinal)
  override def getGeography(ordinal: Int): org.apache.spark.unsafe.types.GeographyVal =
    target.getGeography(ordinal)
  override def getGeometry(ordinal: Int): org.apache.spark.unsafe.types.GeometryVal =
    target.getGeometry(ordinal)
  override def getStruct(ordinal: Int, numFields: Int): InternalRow =
    target.getStruct(ordinal, numFields)
  override def getArray(ordinal: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    target.getArray(ordinal)
  override def getMap(ordinal: Int): org.apache.spark.sql.catalyst.util.MapData =
    target.getMap(ordinal)
  override def get(ordinal: Int, dataType: DataType): AnyRef =
    target.get(ordinal, dataType)
}

/** View of a nested struct whose bytes differ from the scan schema's
  * struct type (the nested analogue of the top-level tail pad — a
  * JoinedRow can't do it: a nested UnsafeRow's field count is baked
  * into its bytes):
  *   - logical positions map PAST skipped physical fields (dropped
  *     subfields whose bytes remain);
  *   - positions mapping at or beyond the bytes' field count
  *     (`physCount`) answer null (nested ADD pad);
  *   - widened physical positions hold longs the schema reads as
  *     doubles — converted on access.
  * `skips` ascending physical positions; `widens` physical positions. */
private[sources] final class GraftStructEvolveView(
    val skips: Array[Int], widens: Array[Int])
  extends GraftDelegatingRow {
  import org.apache.spark.sql.types.{DataType, Decimal, DoubleType, StructType}
  import org.apache.spark.unsafe.types.{CalendarInterval, UTF8String, VariantVal}
  var base: InternalRow = _
  var physCount: Int = 0
  /** Scan-schema struct width — what a generic consumer iterating
    * numFields must see. physCount (the BYTES' field count: logical
    * width + skips, or the pad arity) is an internal bound only; using
    * it as numFields over-reports after a DROP and under-reports after
    * an ADD pad. (r17, advice item) */
  var logicalCount: Int = 0
  override protected def target: InternalRow = base
  /** Logical position i → physical position (insert-offset past skips). */
  private def phys(i: Int): Int = {
    var p = i
    var k = 0
    while (k < skips.length && skips(k) <= p) { p += 1; k += 1 }
    p
  }
  private def widened(p: Int): Boolean = {
    var k = 0
    while (k < widens.length) { if (widens(k) == p) return true; k += 1 }
    false
  }
  override def numFields: Int = logicalCount
  override def isNullAt(i: Int): Boolean = {
    val p = phys(i); p >= physCount || base.isNullAt(p)
  }
  override def getBoolean(i: Int): Boolean = base.getBoolean(phys(i))
  override def getByte(i: Int): Byte = base.getByte(phys(i))
  override def getShort(i: Int): Short = base.getShort(phys(i))
  override def getInt(i: Int): Int = base.getInt(phys(i))
  override def getLong(i: Int): Long = base.getLong(phys(i))
  override def getFloat(i: Int): Float = base.getFloat(phys(i))
  override def getDouble(i: Int): Double = {
    val p = phys(i)
    if (widened(p)) base.getLong(p).toDouble else base.getDouble(p)
  }
  override def getDecimal(i: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(phys(i), precision, scale)
  override def getUTF8String(i: Int): UTF8String = base.getUTF8String(phys(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(phys(i))
  override def getInterval(i: Int): CalendarInterval = base.getInterval(phys(i))
  override def getVariant(i: Int): VariantVal = base.getVariant(phys(i))
  override def getStruct(i: Int, numFields: Int): InternalRow = {
    val p = phys(i)
    if (p >= physCount) null else base.getStruct(p, numFields)
  }
  override def getArray(i: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    base.getArray(phys(i))
  override def getMap(i: Int): org.apache.spark.sql.catalyst.util.MapData =
    base.getMap(phys(i))
  override def get(i: Int, dataType: DataType): AnyRef = {
    val p = phys(i)
    if (p >= physCount) null
    else dataType match {
      case DoubleType if widened(p) =>
        java.lang.Double.valueOf(base.getLong(p).toDouble)
      case s: StructType => base.getStruct(p, s.size)
      case _ => base.get(p, dataType)
    }
  }
  override def copy(): InternalRow = {
    val c = new GraftStructEvolveView(skips, widens)
    c.physCount = physCount
    c.logicalCount = logicalCount
    c.base = base.copy()
    c
  }
}

/** Top row wrapper for files carrying `nested` markers: getStruct on a
  * marked ordinal reads the nested bytes at the FILE's physical arity
  * (the pad marker's recorded count, else the scan width plus the
  * file's skips) and serves the evolved view through
  * [[GraftStructEvolveView]]; every other access delegates. One
  * instance per reader, reused per row (views are reused too —
  * consumers that retain a row call copy(), which deep-copies
  * through). */
private[sources] final class GraftNestedPadRow(markers: Array[Int])
  extends GraftDelegatingRow {
  var target: InternalRow = _
  private val ords: Array[Int] =
    markers.map(GraftStore.nestedOrd).distinct.sorted
  // -1 = no pad marker: the bytes carry every current field plus skips
  private val padArity: Array[Int] = ords.map { o =>
    markers.find(m => GraftStore.nestedIsPad(m) && GraftStore.nestedOrd(m) == o)
      .map(GraftStore.nestedArity).getOrElse(-1)
  }
  private val views: Array[GraftStructEvolveView] = ords.map { o =>
    new GraftStructEvolveView(
      markers.filter(m => GraftStore.nestedIsSkip(m) && GraftStore.nestedOrd(m) == o)
        .map(GraftStore.nestedPhys).sorted,
      markers.filter(m => GraftStore.nestedIsWiden(m) && GraftStore.nestedOrd(m) == o)
        .map(GraftStore.nestedPhys))
  }
  private def idx(ordinal: Int): Int = {
    var i = 0
    while (i < ords.length) {
      if (ords(i) == ordinal) return i
      i += 1
    }
    -1
  }
  override def getStruct(ordinal: Int, numFields: Int): InternalRow = {
    val i = idx(ordinal)
    if (i < 0) target.getStruct(ordinal, numFields)
    else if (target.isNullAt(ordinal)) null
    else {
      val v = views(i)
      v.physCount =
        if (padArity(i) >= 0) padArity(i) else numFields + v.skips.length
      v.logicalCount = numFields
      v.base = target.getStruct(ordinal, v.physCount)
      v
    }
  }
  override def get(ordinal: Int, dataType: org.apache.spark.sql.types.DataType): AnyRef =
    dataType match {
      case s: org.apache.spark.sql.types.StructType if idx(ordinal) >= 0 =>
        getStruct(ordinal, s.size)
      case _ => target.get(ordinal, dataType)
    }
  override def copy(): InternalRow = {
    val c = new GraftNestedPadRow(markers)
    c.target = target.copy()
    c
  }
}

class GraftStoreFileReader(file: String, numFields: Int, scanFields: Int,
    tailVals: Array[Any] = null, skipDv: java.util.BitSet = null,
    onlyDv: java.util.BitSet = null, posSlot: Int = -1,
    eqProbes: Array[(java.util.HashSet[String], Array[Int], Array[Byte])] = null,
    onlyEqProbes: Array[(java.util.HashSet[String], Array[Int], Array[Byte])] = null,
    narrowOrds: Array[Int] = null, nestedPads: Array[Int] = null)
  extends PartitionReader[InternalRow] {
  def this(file: String, numFields: Int) = this(file, numFields, numFields)

  // equality-delete probe: encode this row's key tuple exactly as the
  // sidecar encodes its set members and test membership. A null key or
  // a key column the file predates (ordinal beyond its arity) can never
  // match — deletes target rows that HAD the key. Runs only on files
  // with an applicable delete; clean files skip the branch entirely.
  // `eqProbes` MASKS matching rows out (the scan path); `onlyEqProbes`
  // SELECTS matching rows (the change feed's old-image emission).
  private val anyEq = eqProbes != null || onlyEqProbes != null
  private val probeRow = if (!anyEq) null else new UnsafeRow(numFields)
  private val probeSb = if (!anyEq) null else new java.lang.StringBuilder()
  private def eqMatches(bytes: Array[Byte],
      probes: Array[(java.util.HashSet[String], Array[Int], Array[Byte])])
      : Boolean = {
    probeRow.pointTo(bytes, bytes.length)
    var p = 0
    while (p < probes.length) {
      val (set, ords, tags) = probes(p)
      probeSb.setLength(0)
      var i = 0
      var viable = true
      while (viable && i < ords.length) {
        val o = ords(i)
        if (o >= numFields || probeRow.isNullAt(o)) viable = false
        else {
          if (i > 0) probeSb.append(' ')
          tags(i) match {
            case 'I' => probeSb.append(
              GraftStore.EqSet.encodeLong(probeRow.getInt(o).toLong))
            case GraftStore.EqSet.TagLong => probeSb.append(
              GraftStore.EqSet.encodeLong(probeRow.getLong(o)))
            case _ => probeSb.append(
              GraftStore.EqSet.encodeString(probeRow.getUTF8String(o).toString))
          }
        }
        i += 1
      }
      if (viable && set.contains(probeSb.toString)) return true
      p += 1
    }
    false
  }
  private val in = new DataInputStream(
    new BufferedInputStream(new FileInputStream(file)))
  private val widenRow = if (narrowOrds == null) null else new UnsafeRow(numFields)
  private val row = new UnsafeRow(numFields)
  // appended-column padding and the constant metadata columns (`_file`,
  // or the CDF pair) share one JoinedRow(dataRow, tail) wrapper — zero
  // per-row allocation, and the common case (full-width file, no
  // metadata) returns the UnsafeRow untouched (no wrapper on the hot
  // path). Tail layout: evolution nulls, then the constant values; the
  // `_pos` slot, when present, is the one per-row-mutable tail cell.
  private val tailRow =
    if (tailVals != null || scanFields > numFields) {
      val extra = if (tailVals != null) tailVals.length else 0
      val vals = new Array[Any]((scanFields - numFields) + extra)
      if (extra > 0)
        System.arraycopy(tailVals, 0, vals, vals.length - extra, extra)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    } else null
  private val pad =
    if (tailRow != null)
      new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        .withRight(tailRow)
    else null
  // absolute index of the _pos slot inside the tail row (posSlot indexes
  // tailVals, which sit after the evolution-null padding)
  private val posIdx =
    if (posSlot >= 0 && tailRow != null)
      (scanFields - numFields) + posSlot
    else -1
  private var current: Array[Byte] = _
  private var pos = -1L // physical (pre-deletion) ordinal of `current`

  override def next(): Boolean = {
    // committed files end exactly on a frame boundary, so EOF can only
    // surface here, never inside readFully
    while (true) {
      val len =
        try in.readInt()
        catch { case _: java.io.EOFException => return false }
      current = new Array[Byte](len)
      in.readFully(current)
      // widened-lane fix-up (schema widened after this file was
      // written): every fixed-width UnsafeRow slot is 8 bytes with the
      // narrower value in the low half, so promote IN PLACE — downstream
      // consumers (codegen, eq-delete probes tagged from the widened
      // schema, sorts) then see a true widened lane, no wrapper row.
      // The marker's kind picks the conversion (int→long sign-extend,
      // long→double, float→double, int→double).
      if (narrowOrds != null) {
        widenRow.pointTo(current, current.length)
        var j = 0
        while (j < narrowOrds.length) {
          val m = narrowOrds(j)
          val o = m & 0xffffff
          if (o < numFields && !widenRow.isNullAt(o)) {
            (m >>> 24) match {
              case 0 => widenRow.setLong(o, widenRow.getInt(o).toLong)
              case 1 => widenRow.setDouble(o, widenRow.getLong(o).toDouble)
              case 2 => widenRow.setDouble(o, widenRow.getFloat(o).toDouble)
              case _ => widenRow.setDouble(o, widenRow.getInt(o).toDouble)
            }
          }
          j += 1
        }
      }
      pos += 1
      val p = pos.toInt
      val emit =
        (if (onlyDv != null) onlyDv.get(p)
         else skipDv == null || !skipDv.get(p)) &&
          (eqProbes == null || !eqMatches(current, eqProbes)) &&
          (onlyEqProbes == null || eqMatches(current, onlyEqProbes))
      if (emit) {
        if (posIdx >= 0) tailRow.update(posIdx, pos)
        return true
      }
    }
    false
  }

  // files predating a nested ADD serve their struct columns through a
  // padding wrapper (see GraftNestedPadRow) — only those files pay the
  // generic-access path; full-width files return the raw UnsafeRow
  private val nestedRow =
    if (nestedPads == null) null else new GraftNestedPadRow(nestedPads)

  override def get(): InternalRow = {
    row.pointTo(current, current.length)
    val r0: InternalRow = if (pad != null) pad.withLeft(row) else row
    if (nestedRow == null) r0
    else { nestedRow.target = r0; nestedRow }
  }

  override def close(): Unit = in.close()
}
