package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.GraftStore

/** Manifest METADATA BYTE BUDGET, measured — the scaling dimension of
  * the table format that data-side specs never touch. The cost model
  * under test (SCALE.md "Lakehouse maintenance"):
  *
  *   per-snapshot bytes  =  files × perLine(schema)   (single manifest,
  *                          one line per live data file)
  *   on-disk metadata    =  retained snapshots × per-snapshot bytes
  *                          (every commit RETAINS its full predecessor
  *                          as `_manifest.v<n>` for time travel)
  *
  * and the two dials that bound each axis at 100 TB:
  *   - [[GraftStore.expireSnapshots]] caps the snapshot axis (history
  *     is a policy choice, not an unbounded liability);
  *   - [[GraftStore.compact]] (OPTIMIZE) caps the file axis — fewer,
  *     larger files shrink the NEXT manifest because stats are
  *     per-file, not per-row.
  *
  * These specs pin the CONSTANTS, the LINEARITY, and the dials'
  * effect, so any format change that fattens a manifest line (a new
  * sketch, a wider field) shows up as a failed byte budget instead of
  * a silent 2× on every future commit's metadata write. */
class ManifestBudgetSpec extends SparkSuite {

  private def tempTable(): String =
    graft.ops.Util.managedTempDir("graft_manifest_budget_")

  private def manifestBytes(path: String): Long =
    new File(path, GraftStore.ManifestName).length()

  private def metadataBytes(path: String): Long =
    Option(new File(path).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(GraftStore.ManifestName))
      .map(_.length()).sum

  /** A documents-like schema: one long id, one double score, two string
    * columns — every stats-bearing type the manifest tracks. */
  private def df(rows: Int, parts: Int) = {
    import spark.implicits._
    spark.range(rows).select(
      $"id",
      ($"id" % 97).cast("double").as("score"),
      concat(lit("url-"), $"id").as("url"),
      concat(lit("body text for doc "), $"id").as("body")
    ).repartition(parts)
  }

  private def write(path: String, rows: Int, parts: Int, mode: String = "overwrite"): Unit =
    df(rows, parts).write.format("graft.sources.GraftStore")
      .option("path", path).mode(mode).save()

  test("per-file manifest line cost is bounded and linear in file count") {
    val p16 = tempTable(); write(p16, 4000, 16)
    val p64 = tempTable(); write(p64, 4000, 64)
    val (b16, b64) = (manifestBytes(p16), manifestBytes(p64))
    val n16 = GraftStore.readManifest(p16).get._2.size
    val n64 = GraftStore.readManifest(p64).get._2.size
    assert(n16 == 16 && n64 == 64)
    val perLine16 = (b16 - 200).toDouble / n16 // ~200 B header+schema
    val perLine64 = (b64 - 200).toDouble / n64
    // LINEAR in files: the per-line constant must not grow with file
    // count (no quadratic cross-references, no repeated schema)
    assert(math.abs(perLine16 - perLine64) / perLine16 < 0.10,
      s"per-line cost drifted with file count: $perLine16 vs $perLine64")
    // BUDGET: a stats-bearing line is dominated by the fixed-width
    // sketches (64-hex bloom + 128-hex NDV per column). For this
    // 4-column schema the line must stay under 1.5 KB — which puts a
    // 10^6-file snapshot at ~1.5 GB: real but driver-foldable, and the
    // documented trigger for OPTIMIZE before it is ever reached.
    assert(perLine64 < 1536,
      f"manifest line cost $perLine64%.0f B/file exceeds the 1.5 KB budget")
    // floor check so the budget stays honest if sketches are ever
    // accidentally dropped (an empty line would also "pass" the cap)
    assert(perLine64 > 300,
      f"manifest line suspiciously small ($perLine64%.0f B) — stats missing?")
  }

  test("metadata grows linearly per commit and expireSnapshots bounds it") {
    val path = tempTable()
    write(path, 1000, 8)
    val perSnapshot = manifestBytes(path)
    // 9 more commits, 8 files each: live file count grows to 80, and
    // every commit retains its predecessor in full
    for (_ <- 1 to 9) write(path, 1000, 8, mode = "append")
    val total = metadataBytes(path)
    val live = manifestBytes(path)
    val liveFiles = GraftStore.readManifest(path).get._2.size
    assert(liveFiles == 80)
    // retained history = sum over snapshots of their (growing) sizes:
    // pointer + 10 snapshots of 8..80 files ≈ 2×live + ... — the point
    // is it is MANY multiples of one snapshot, i.e. unbounded in commits
    assert(total > 4 * live,
      s"expected retained history to dominate: total=$total live=$live")
    // the dial: keep the last 2 snapshots → metadata collapses to
    // pointer + 2 snapshots, independent of how many commits ever ran
    GraftStore.expireSnapshots(path, keepLast = 2, graceMs = 0L)
    val bounded = metadataBytes(path)
    assert(bounded <= 3 * live + 512,
      s"expireSnapshots(2) must bound metadata to ~3 manifests, got $bounded vs live=$live")
    // and the table still answers exactly after the roll
    val n = spark.read.format("graft.sources.GraftStore")
      .option("path", path).load().count()
    assert(n == 10000L)
    assert(perSnapshot > 0) // silence unused warning paths
  }

  test("OPTIMIZE shrinks the NEXT manifest: file-axis dial") {
    val path = tempTable()
    write(path, 2000, 32)
    val before = manifestBytes(path)
    assert(GraftStore.compact(spark, path, 1L << 30) > 0)
    val after = manifestBytes(path)
    val filesAfter = GraftStore.readManifest(path).get._2.size
    assert(filesAfter < 32 / 4,
      s"compaction should collapse 32 small files, got $filesAfter")
    assert(after < before / 2,
      s"manifest must shrink with the file count: $before -> $after")
  }

  test("a key sketch grows a 3.4k-row file's line by at most the cap per sketched column") {
    val path = tempTable(); write(path, 3400, 1)
    val entry = GraftStore.readManifest(path).get._2.head
    val line = new String(java.nio.file.Files.readAllBytes(
        new File(path, GraftStore.ManifestName).toPath), "UTF-8")
      .split('\n').find(_.startsWith(entry.file + "\t")).get
    // int/long columns carry min/max; string blooms (fixed 64 hex) do not
    val sketches = entry.stats.values.filter(s => s.min.nonEmpty && s.bloom.nonEmpty)
      .map(_.bloom.length)
    assert(sketches.size == 1, s"expected the id column's sketch alone: $sketches")
    assert(sketches.forall(_ <= GraftStore.KeySketch.MaxBits / 4))
    // the rest of the line stays inside the per-line budget above
    assert(line.length - sketches.sum < 1536,
      s"line without its key sketch is ${line.length - sketches.sum} B")
  }
}
