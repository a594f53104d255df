package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Measured dispatch for manifest access (round-15 "what's wrong" #1):
  * a driver-sized manifest memoizes as a map; past the threshold the
  * manifest stays a RELATION and candidate selection collects only the
  * selected rows. Both arms must be bitwise-equal on the same layout —
  * the synthetic layout here has 64 files, and dropping the threshold
  * to 10 forces every read and rewrite through the relational arm. */
class ManifestDispatchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("mdisp").toString
    (0 until 400).map(i => (i.toLong, (i % 40).toLong, i * 1.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$d/orders.parquet")
    d
  }

  private def clearManifestMemo(): Unit = {
    Layouts.manifestMemo.clear(); Layouts.manifestCountMemo.clear()
  }

  private def withThreshold[A](t: Long)(body: => A): A = {
    val t0 = Layouts.MaxDriverManifestFiles
    Layouts.MaxDriverManifestFiles = t
    try body finally Layouts.MaxDriverManifestFiles = t0
  }

  test("lookup, empty-candidate lookup, and erasure are bitwise-equal " +
      "across the driver-map and relational arms") {
    val (layout, nFiles) = BloomSkip.layoutCached(spark, dir)
    assert(nFiles > 10, "fixture: enough files to trip the threshold")
    def probe(path: String, keys: Seq[Long]) =
      BloomSkip.lookupIn(spark, path, keys).collect().map(_.toSeq).toSeq
    // map arm (default threshold)
    val mapRows = probe(layout, Seq(3L, 7L))
    val mapEmpty = probe(layout, Seq(999999L))
    val outA = java.nio.file.Files.createTempDirectory("mdA").toString
    val repA = BloomSkip.deleteKeysFrom(spark, layout, s"$outA/v2",
      Seq(7L), keyCol = "o_custkey")
    val mapForget = probe(s"$outA/v2", Seq(3L, 7L))
    // relational arm: same layout, threshold below the file count
    withThreshold(10L) {
      assert(probe(layout, Seq(3L, 7L)) == mapRows && mapRows.nonEmpty)
      assert(probe(layout, Seq(999999L)) == mapEmpty && mapEmpty.isEmpty)
      val outB = java.nio.file.Files.createTempDirectory("mdB").toString
      val repB = BloomSkip.deleteKeysFrom(spark, layout, s"$outB/v2",
        Seq(7L), keyCol = "o_custkey")
      assert(repB == repA, s"reports diverge: $repB vs $repA")
      assert(probe(s"$outB/v2", Seq(3L, 7L)) == mapForget)
      // the relational arm's successor manifest is the same relation
      // the map arm wrote (same entries, same shared parent paths)
      val a = spark.read.parquet(Layouts.manifestPath(s"$outA/v2"))
        .select(col("file_id").cast("long"), col("path"))
        .collect().map(r => (r.getLong(0),
          new java.io.File(r.getString(1)).getName,
          r.getString(1).contains(outA))).toSet
      val b = spark.read.parquet(Layouts.manifestPath(s"$outB/v2"))
        .select(col("file_id").cast("long"), col("path"))
        .collect().map(r => (r.getLong(0),
          new java.io.File(r.getString(1)).getName,
          r.getString(1).contains(outB))).toSet
      assert(a == b, "successor manifests diverge between arms")
    }
  }

  test("z-order stripe candidates are identical across the driver-map " +
      "and relational arms (SQL deinterleave inverse)") {
    val zlayout = Warehouse.zlayoutCached(spark, sf)
    val users = Seq(7L, 13L)
    def erase(tag: String): (Layouts.DeleteReport, Seq[Seq[Any]]) = {
      val out = java.nio.file.Files
        .createTempDirectory(s"zdisp$tag").toString + "/v2"
      val rep = Warehouse.zorderDeleteUsers(spark, zlayout, out, users)
      val rows = Warehouse.zorderScanIn(spark, out, 0L, 40L, 10L, 19L)
        .collect().map(_.toSeq).toSeq
      (rep, rows)
    }
    val (repA, rowsA) = erase("A")
    val (repB, rowsB) = withThreshold(1L) {
      clearManifestMemo()
      erase("B")
    }
    assert(repB == repA, s"reports diverge: $repB vs $repA")
    assert(rowsB == rowsA && rowsA.nonEmpty)
  }

  test("vacuum reference counting is identical across the driver-map " +
      "and relational arms") {
    import graft.operators.Layouts
    // two identical lineages; one vacuums through each arm
    def buildLineage(tag: String): (String, String) = {
      val root = java.nio.file.Files
        .createTempDirectory(s"vdisp$tag").toString
      val v1 = s"$root/v1"
      BloomSkip.bloomWrite(
        (0 until 400).map(i => (i.toLong, (i % 40).toLong, i * 1.0))
          .toDF("o_orderkey", "o_custkey", "o_totalprice"),
        "o_custkey", "o_orderkey", v1)
      val log = s"$root/log"
      Layouts.commitVersion(log, v1)
      BloomSkip.deleteKeysFrom(spark, v1, s"$root/v2", Seq(7L))
      Layouts.commitVersion(log, s"$root/v2")
      (root, log)
    }
    def survivingFiles(root: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk) :+ f
        else Seq(f)
      walk(new java.io.File(root))
        .map(_.getAbsolutePath.stripPrefix(root)).toSet
    }
    val (rootA, logA) = buildLineage("A")
    val repA = Layouts.vacuum(spark, logA, keepLast = 1)
    val (rootB, logB) = buildLineage("B")
    val repB = withThreshold(1L) {
      clearManifestMemo()
      Layouts.vacuum(spark, logB, keepLast = 1)
    }
    assert(repB == repA, s"reports diverge: $repB vs $repA")
    // the same relative file set survives under both roots (crc names
    // can differ; compare directory-level structure + parquet names)
    def shape(s: Set[String]) =
      s.filterNot(_.endsWith(".crc")).map(_.replaceAll("part-[^/]*", "part"))
    assert(shape(survivingFiles(rootB)) == shape(survivingFiles(rootA)))
    // both retained heads still read
    assert(Layouts.readAsOf(spark, logA, 2L).count() ==
      Layouts.readAsOf(spark, logB, 2L).count())
  }

  test("a manifest past the REAL threshold resolves candidates " +
      "relationally: 200k file entries, 3-id probe, no driver map") {
    import graft.operators.Layouts
    // a synthetic 200k-row manifest (2× the production threshold):
    // only three file_ids point at real dirs — entriesFor must return
    // exactly those without ever materializing the 200k-row map
    val root = java.nio.file.Files.createTempDirectory("bigmf").toString
    val vp = s"$root/layout"
    val real = Seq(1L, 77L, 199999L).map { id =>
      val d = new java.io.File(s"$vp/file_id=$id"); d.mkdirs()
      id -> d.getAbsolutePath
    }.toMap
    val entries = (0L until 200000L).map(id =>
      (id, real.getOrElse(id, s"$vp/file_id=$id")))
    entries.toDF("file_id", "path").repartition(1)
      .write.mode("overwrite").parquet(Layouts.manifestPath(vp))
    clearManifestMemo()
    assert(Layouts.manifestFileCount(spark, vp) == 200000L)
    val t0 = System.nanoTime()
    val got = Layouts.manifestEntriesFor(spark, vp,
      Set(1L, 77L, 199999L, 999999999L))
    val ms = (System.nanoTime() - t0) / 1000000L
    assert(got == real, s"wrong entries: $got")
    // the probe is a pushed-filter scan of one small parquet — if this
    // ever regresses to seconds, the driver map came back
    assert(ms < 5000L, s"relational candidate resolution took ${ms}ms")
  }

  test("manifestEntriesFor returns exactly the requested live entries " +
      "in both arms; the relational arm never materializes the map") {
    val (layout, _) = BloomSkip.layoutCached(spark, dir)
    val all = Layouts.manifestOf(spark, layout)
    val want = all.view.filterKeys(Set(1L, 5L, 999L)).toMap
    assert(Layouts.manifestEntriesFor(spark, layout,
      Set(1L, 5L, 999L)) == want)
    withThreshold(1L) {
      // evict the memoized map so the relational arm is genuinely
      // resolving from the manifest parquet
      clearManifestMemo()
      assert(Layouts.manifestEntriesFor(spark, layout,
        Set(1L, 5L, 999L)) == want)
      assert(Layouts.manifestFileCount(spark, layout) == all.size.toLong)
    }
  }
}
