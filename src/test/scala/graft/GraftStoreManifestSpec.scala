package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftStore
import graft.sources.GraftStore.{ChildRef, ColStats, EqDelete, FileEntry, Manifest}

/** The manifest codec on its own: `Manifest.parse` and `Manifest.fmt`
  * are exact inverses, the header read stops before the file list, and
  * no other code in `src/main` reads or writes a `!` header. */
class GraftStoreManifestSpec extends AnyFunSuite {

  private val schema = StructType.fromDDL("id BIGINT, v DOUBLE, s STRING")
  private val sketch = "0123456789abcdef" * 4

  /** A record that carries every header kind and every entry field. */
  private val full = Manifest(schema, version = 7L,
    uid = "3f2a9c4e-0d1b-4c8e-9a77-5b6e2f1d0c3a", ts = 1760000000123L,
    op = "rename(a->b)", epoch = Some(4L),
    txns = Map("ingest" -> 12L, "backfill:eu" -> 3L, "cdc" -> 1L),
    eqDels = Seq(EqDelete("data/eqdel-ab12-0.bin", 5L, Seq("id")),
      EqDelete("data/eqdel-cd34-1.bin", 6L, Seq("id", "s"))),
    entries = Seq(
      FileEntry("data/part-a-0-1.bin", 100L,
        Map("id" -> ColStats("0", "99", 0L, bloom = sketch, ndv = "",
          mono = true, sum = "4950"),
          "v" -> ColStats("0.5", "NaN", 2L)), cols = 3,
        dv = "data/part-a-0-1.bin.dv.x1", addedv = 5L,
        narrow = Seq(GraftStore.packNarrow(0, GraftStore.NarrowIntToLong),
          GraftStore.packNarrow(1, GraftStore.NarrowLongToDouble)),
        nested = Seq(GraftStore.packNested(2, 3))),
      FileEntry("data/part-a-1-2.bin", -1L, Map.empty)),
    children = Seq(
      ChildRef("_mchild.0a1b", 4096L, 81920L,
        Map("id" -> ColStats("100", "5000", 0L, sum = "12345")), cell = "c:id=1"),
      ChildRef("_mchild.2c3d", 12L, 240L, Map.empty, cell = "u")))

  test("parse(fmt(m)) == m for a record with every header kind, and the bytes round-trip too") {
    val text = Manifest.fmt(full)
    assert(Manifest.parse(text).contains(full))
    assert(Manifest.fmt(Manifest.parse(text).get) == text)
    // the line order the format documents
    val heads = text.split('\n').map(_.takeWhile(_ != '=')).filter(_.startsWith("!"))
    assert(heads.distinct.toSeq == Seq("!version", "!uid", "!ts", "!stats", "!op",
      "!epoch", "!txn", "!eqdel", "!clist"))
    assert(Manifest.parse("").isEmpty)
  }

  test("a pre-!stats=2 manifest round-trips with its double columns demoted") {
    val demoted = full.copy(demoted = Set("v"),
      entries = full.entries.map(e => e.copy(stats = e.stats - "v")))
    val text = Manifest.fmt(demoted)
    assert(!text.contains("!stats="))
    assert(Manifest.parse(text).contains(demoted))
    // the same lines under the current stats version: the double stats
    // come back, and nothing is demoted
    val current = Manifest.parse(Manifest.fmt(full.copy(demoted = Set.empty))).get
    assert(current.demoted.isEmpty && current.entries.head.stats.contains("v"))
    // written without `!stats=`, the same record loses them at parse
    val old = Manifest.parse(Manifest.fmt(full).split('\n')
      .filterNot(_.startsWith("!stats=")).mkString("\n")).get
    assert(old.demoted == Set("v"))
    assert(old.entries.forall(!_.stats.contains("v")))
    assert(old.entries.head.stats.contains("id"))
  }

  test("the header read returns the header fields and stops at the first file line") {
    val f = File.createTempFile("graft_manifest_", ".txt")
    try {
      Files.write(f.toPath, Manifest.fmt(full).getBytes(StandardCharsets.UTF_8))
      val h = Manifest.header(f).get
      assert(h == Manifest(new StructType(), version = full.version, uid = full.uid,
        ts = full.ts, op = full.op, epoch = full.epoch, txns = full.txns))
      assert(Manifest.header(new File(f.getPath + ".missing")).isEmpty)
    } finally f.delete()
  }

  test("no `!` header is read or written in src/main outside the manifest codec") {
    val headers = Seq("!version=", "!uid=", "!ts=", "!op=", "!epoch=", "!txn=",
      "!stats=", "!eqdel=", "!clist=")
    def sources(d: File): Seq[File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.sortBy(_.getName)
        .flatMap(f => if (f.isDirectory) sources(f)
          else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty)
    val all = sources(new File("src/main/scala"))
    assert(all.length > 40, s"main sources not found: ${all.length}")
    var inCodec = Set.empty[String]
    val offending = all.flatMap { f =>
      // comments out, line breaks kept so the line numbers stay true
      val code = "(?s)/\\*.*?\\*/".r.replaceAllIn(
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8),
        m => m.matched.filter(_ == '\n')).replaceAll("//[^\n]*", "")
      // the codec object is the one place the header texts may appear
      val (from, to) =
        if (f.getName != "GraftStore.scala") (-1, -1)
        else {
          val at = code.indexOf("\n  private[graft] object Manifest {")
          (at, code.indexOf("\n  }", at + 1))
        }
      headers.flatMap { h =>
        val at = Iterator.iterate(code.indexOf(h))(i => code.indexOf(h, i + 1))
          .takeWhile(_ >= 0).toSeq
        val (inside, outside) = at.partition(i => i > from && i < to)
        if (inside.nonEmpty) inCodec += h
        outside.map(i => s"$h at ${f.getName}:${code.take(i).count(_ == '\n') + 1}")
      }
    }
    assert(inCodec == headers.toSet, s"codec not found: ${headers.toSet -- inCodec}")
    assert(offending.isEmpty, s"headers outside the codec: ${offending.mkString(", ")}")
  }
}
