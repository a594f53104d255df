package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.md5LongScala

/** Per-file Bloom data-skipping index — point-lookup pruning on a
  * high-cardinality column whose values scatter across every file of a
  * layout (the case neither z-order nor min/max footer stats can help:
  * a hash-distributed key has every file's [min, max] spanning the
  * whole domain). The Delta/Iceberg answer is a Bloom filter per file
  * (Delta bloom filter indexes, Iceberg puffin blobs); ours keeps the
  * engine's relational discipline: the index IS a relation
  * `(file_id, bitpos)` — the distinct set bits of each file's filter —
  * built map-side in one pass (project → explode g positions →
  * distinct), mergeable by plain union-distinct (append N new files =
  * append their rows), and PROBED with one equi-join: a key's g
  * positions join the index and a file is a candidate iff all g match.
  * False positives cost only extra files scanned (the exact predicate
  * re-applies after the prune — a bug fails loudly against the plain
  * oracle, never silently); false negatives are impossible by
  * construction (every stored key set its bits).
  *
  * Scale story (the reason this exists at 100 TB): a point lookup on
  * `o_custkey` without the index scans EVERY file — the layout is
  * keyed by arrival (`o_orderkey % nFiles`), so no partition predicate
  * applies. With the index, a customer's ~10 orders live in ≤ 10 of
  * the layout's files and the scan touches candidates only: the prune
  * factor GROWS with the corpus (files scale with volume at a fixed
  * target file size; a key's file spread stays its row count). The
  * index itself stays O(bits-per-key · keys) rows, partitionable by
  * file_id, and the probe join touches only the g·|keys| bit positions
  * requested (predicate pushdown on `bitpos`).
  *
  * No reference counterpart (north-star extension): the reference's
  * only point lookup is the ES docvalue fetch (SURVEY §2.7 A4), which
  * delegates skipping to Lucene's terms index. */
object BloomSkip {

  /** Bits per file filter: 2^18 = 32 KiB dense. At the 25k-row target
    * file size that is ≥ 10 bits/key — ~2% false-positive rate at
    * g = 2, CONSTANT across scale factors because files split to hold
    * row count, not the other way around. */
  val BloomBits: Int = 1 << 18

  /** Hash functions per key. */
  val GHashes: Int = 2

  /** Target rows per layout file: files scale with volume, so
    * bits-per-key (hence the fp rate) is scale-invariant. */
  val TargetRowsPerFile: Long = 25000L

  /** Floor on the file count — pruning needs many files relative to a
    * key's spread even at tiny test scale. */
  val MinFiles: Long = 64L

  /** The g bit positions of one key — engine-side column form. Hash
    * h_i = md5-60("bf<i>:" + key) mod bits (the shared md5-60
    * convention; [[probePositions]] is the driver-side twin, so build
    * and probe always agree). */
  private def bitposCols(key: Column, bits: Int): Seq[Column] =
    (0 until GHashes).map(i =>
      conv(substring(md5(concat(lit(s"bf$i:"), key.cast("string"))),
        1, 15), 16, 10).cast("long") % bits)

  /** Driver-side twin of [[bitposCols]] for probe keys. */
  def probePositions(key: Long, bits: Int = BloomBits): Seq[Long] =
    (0 until GHashes).map(i => md5LongScala(s"bf$i:$key") % bits)

  /** Build the index relation over a written layout: one row per
    * (file_id, set bit). ONE pass: distinct keys per file → explode g
    * positions → distinct. Output is ≤ min(bits, g·keys) rows per file
    * and unions across file batches (append-friendly). */
  def bloomIndexOn(layout: DataFrame, keyCol: String,
      bits: Int = BloomBits): DataFrame = {
    val pos = bitposCols(col(keyCol), bits)
    layout.select(col("file_id"), col(keyCol)).distinct()
      .select(col("file_id"), explode(array(pos: _*)).as("bitpos"))
      .distinct()
  }

  /** Write `df` as an arrival-keyed layout (`file_id = fileKey mod
    * nFiles` partitions — deterministic under any partitioning, no
    * sort) plus its Bloom index relation at `<outDir>.bloomidx` and its
    * file MANIFEST at `<outDir>.manifest` (see [[manifestOf]]).
    * nFiles targets [[TargetRowsPerFile]] so the per-file key count —
    * and with it the fp rate — is the same at sf0.001 and sf100. */
  def bloomWrite(df: DataFrame, keyCol: String, fileKeyCol: String,
      outDir: String, bits: Int = BloomBits): Long = {
    val n = df.count()
    val nFiles = math.max(MinFiles, (n + TargetRowsPerFile - 1) /
      TargetRowsPerFile)
    df.withColumn("file_id", col(fileKeyCol) % nFiles)
      .repartition(col("file_id"))
      .write.mode("overwrite").partitionBy("file_id").parquet(outDir)
    val spark = df.sparkSession
    bloomIndexOn(spark.read.parquet(outDir), keyCol, bits)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$outDir.bloomidx")
    // the version's manifest: every physical file dir it owns (a
    // fresh build owns all of them; a post-erasure version shares
    // most of them with its parent — see deleteKeysFrom)
    Layouts.writeOwnManifest(spark, outDir)
    Layouts.writeSchemaSidecar(spark.read.parquet(outDir), outDir)
    nFiles
  }

  // ——— layout versions: the manifest indirection (see [[Layouts]]) —
  // A bloom layout version is a [[Layouts]] manifest plus an index
  // (`<version>.bloomidx`). The forwarders keep the bloom family's
  // public surface in one place.

  def manifestPath(versionPath: String): String =
    Layouts.manifestPath(versionPath)

  def manifestOf(spark: SparkSession, versionPath: String): Map[Long, String] =
    Layouts.manifestOf(spark, versionPath)

  def readFiles(spark: SparkSession, versionPath: String,
      fids: Option[Set[Long]] = None): DataFrame =
    Layouts.readFiles(spark, versionPath, fids)

  /** The served lineage log of a base layout: every version the
    * warehouse served for this layout family — the base build (v1,
    * committed idempotently: a restarted JVM re-running the
    * fingerprint-keyed build must not duplicate it) and each forget
    * version. Retention runs through [[Layouts.vacuumRetain]]'s
    * manifest reference counting instead of hand-maintained stale
    * lists, and [[lookupAsOf]] serves time travel over it. */
  def lineageLogOf(versionPath: String): String = s"$versionPath.lineage"

  /** Every path the served lineage of an evicted BASE still owns: all
    * versions in its log with their sidecars, plus the log itself. A
    * fingerprint refresh retires the old base THROUGH this list —
    * otherwise the old lineage's forget versions (tmpdir siblings
    * named nowhere else) would be orphaned forever once their log was
    * reaped. */
  private[operators] def lineagePathsOf(base: String): Seq[String] =
    Layouts.versions(lineageLogOf(base)).map(_._2).flatMap(p =>
      Seq(p, s"$p.bloomidx", s"$p.minmax", Layouts.manifestPath(p),
        Layouts.schemaPath(p))) :+ lineageLogOf(base)

  /** Base layouts: slot the dir, version the orders fingerprint; a
    * refresh retires the superseded layout trio and its served
    * lineage. */
  private[graft] val layoutMemo = new graft.Memo[String, Long, (String, Long)](
    retire = (dir, stale) => graft.IndexGc.retire(s"bloomlayout:$dir",
      stale.flatMap(x => Seq(x._1, s"${x._1}.bloomidx",
        manifestPath(x._1), Layouts.schemaPath(x._1)) ++
        lineagePathsOf(x._1))))

  /** The materialized bloom-indexed layout of the `orders` table for
    * `dir`: built on first request, fingerprint-keyed for the JVM
    * lifetime (the [[Warehouse.zlayoutCached]] discipline — a refresh
    * writes NEW directories and retires the old trio to the deferred
    * reaper). Returns (layout path, nFiles). */
  def layoutCached(spark: SparkSession, dir: String): (String, Long) = {
    val fp = graft.Tables.fingerprint(dir, "orders")
    layoutMemo.get(dir, fp) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val p = sys.props("java.io.tmpdir") +
        s"/graft-bloomlayout-$tag-f${java.lang.Long.toHexString(fp)}"
      val nFiles = bloomWrite(graft.Tables(spark, dir, "orders"),
        "o_custkey", "o_orderkey", p)
      Layouts.commitVersionIfAbsent(lineageLogOf(p), p)
      (p, nFiles)
    }
  }

  /** Probe cap: a point-lookup API, not a bulk semi-join (that path is
    * a broadcast join against the table itself). */
  val MaxProbeKeys: Int = 1024

  /** The files that may contain any of `keys`, per the index: build
    * the (key, gidx, bitpos) probe relation driver-side (g·|keys|
    * rows), equi-join the index on `bitpos` (pushed to the scan), and
    * keep files matching ALL g positions of at least one key. Result
    * is driver-sized: ≤ |keys| · (spread + fp·nFiles) file ids. */
  def candidateFiles(spark: SparkSession, idxPath: String,
      keys: Seq[Long], bits: Int = BloomBits): Seq[Long] =
    candidateFilesOn(spark.read.parquet(idxPath), keys, bits)

  /** [[candidateFiles]] over an explicit index relation — also the
    * probe stage of the STREAMED index
    * ([[graft.streaming.BloomStream]]), whose index is a union of
    * epoch partials rather than one file. */
  def candidateFilesOn(idx: DataFrame, keys: Seq[Long],
      bits: Int = BloomBits): Seq[Long] = {
    val spark = idx.sparkSession
    import spark.implicits._
    val probeRows = keys.distinct.flatMap(k =>
      probePositions(k, bits).zipWithIndex.map { case (p, i) => (k, i, p) })
    val probe = probeRows.toDF("key", "gidx", "bitpos")
    // the positions are already driver-side — no job to recover them
    val positions = probeRows.map(_._3).distinct
    idx
      .where(col("bitpos").isin(positions: _*))
      .join(broadcast(probe), Seq("bitpos"))
      .groupBy("key", "file_id")
      .agg(countDistinct(col("gidx")).as("g"))
      .where(col("g") === GHashes)
      .select(col("file_id").cast("long"))
      .distinct().as[Long].collect().toSeq.sorted
  }

  /** q148: the SERVED bloom point lookup — all orders of the probe
    * customers, read through `file_id IN (candidates)` partition
    * pruning over the bloom-indexed layout. The exact `o_custkey IN`
    * predicate re-applies after the prune, so the answer is oracle-
    * equal to the plain filter regardless of the fp rate. */
  def pointLookup(spark: SparkSession, dir: String,
      keys: Seq[Long]): DataFrame = {
    // validate BEFORE the memoized layout build — a bad key list must
    // not pay (or cache) a multi-second build job on a cold JVM
    requireProbeKeys(keys)
    val (path, _) = layoutCached(spark, dir)
    lookupIn(spark, path, keys)
  }

  private def requireProbeKeys(keys: Seq[Long]): Unit =
    require(keys.nonEmpty && keys.size <= MaxProbeKeys,
      s"probe keys must be 1..$MaxProbeKeys")

  /** [[pointLookup]] against an explicit layout version (also the
    * probe stage over a post-deletion version — see [[forgetKeys]]).
    * The candidate set prunes at the PATH level: only candidate
    * directories are resolved through the manifest, so a non-candidate
    * file costs neither a listing nor a footer read. */
  def lookupIn(spark: SparkSession, versionPath: String,
      keys: Seq[Long]): DataFrame = {
    requireProbeKeys(keys)
    val cands = candidateFiles(spark, s"$versionPath.bloomidx", keys)
    val pruned =
      if (cands.isEmpty) Layouts.emptyLike(spark, versionPath)
      else readFiles(spark, versionPath, Some(cands.toSet))
    pruned
      .where(col("o_custkey").isin(keys: _*))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  // ——— composed skipping: bloom ∩ date min/max (q157) ——————————————

  /** Days per date-clustered file in the composed layout. */
  val DateGrainDays: Int = 30

  /** Write orders as a DATE-clustered layout (`file_id = days-since-
    * epoch div grain` — the natural ingest layout of a fact table)
    * carrying BOTH per-file indexes: the Bloom index on `o_custkey`
    * and a min/max date stats relation at `<outDir>.minmax` (the
    * parquet-footer-stats analog, kept as a RELATION so pruning is an
    * expression over nFiles rows, not a footer walk over the corpus).
    * This is the multi-index layout a real warehouse runs: time-range
    * predicates prune through the stats, point keys through the
    * bloom, and an AND-ed query through their INTERSECTION. */
  def dateBloomWrite(df: DataFrame, outDir: String,
      bits: Int = BloomBits): Unit = {
    df.withColumn("file_id", expr(
        s"datediff(o_orderdate, DATE'1970-01-01') div $DateGrainDays"))
      .repartition(col("file_id"))
      .write.mode("overwrite").partitionBy("file_id").parquet(outDir)
    val spark = df.sparkSession
    val layout = spark.read.parquet(outDir)
    bloomIndexOn(layout, "o_custkey", bits)
      .repartition(1)
      .write.mode("overwrite").parquet(s"$outDir.bloomidx")
    layout.groupBy("file_id")
      .agg(min(col("o_orderdate")).as("dmin"),
        max(col("o_orderdate")).as("dmax"))
      .repartition(1)
      .write.mode("overwrite").parquet(s"$outDir.minmax")
    Layouts.writeOwnManifest(spark, outDir)
    Layouts.writeSchemaSidecar(layout, outDir)
  }

  /** Date layouts, retired like [[layoutMemo]]'s. */
  private[graft] val dateLayoutMemo = new graft.Memo[String, Long, String](
    retire = (dir, stale) => graft.IndexGc.retire(s"datebloom:$dir",
      stale.flatMap(p => Seq(p, s"$p.bloomidx", s"$p.minmax",
        Layouts.manifestPath(p), Layouts.schemaPath(p)) ++
        lineagePathsOf(p))))

  /** The materialized date-clustered, doubly-indexed orders layout for
    * `dir` — the [[layoutCached]] discipline. */
  def dateLayoutCached(spark: SparkSession, dir: String): String = {
    val fp = graft.Tables.fingerprint(dir, "orders")
    dateLayoutMemo.get(dir, fp) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val p = sys.props("java.io.tmpdir") +
        s"/graft-datebloom-$tag-f${java.lang.Long.toHexString(fp)}"
      dateBloomWrite(graft.Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate")), p)
      Layouts.commitVersionIfAbsent(lineageLogOf(p), p)
      p
    }
  }

  /** The files whose [dmin, dmax] interval overlaps [from, to], per
    * the stats relation — driver-sized like [[candidateFilesOn]]'s
    * output (the stats relation itself is nFiles rows, scanned
    * distributed; only the surviving candidate ids collect). */
  def dateCandidateFiles(spark: SparkSession, statsPath: String,
      from: String, to: String): Seq[Long] = {
    import spark.implicits._
    spark.read.parquet(statsPath)
      .where(col("dmax").cast("date") >= lit(from).cast("date") &&
        col("dmin").cast("date") <= lit(to).cast("date"))
      .select(col("file_id").cast("long"))
      .as[Long].collect().toSeq.sorted
  }

  /** [[lookupKeysInRange]] against an explicit date-layout VERSION —
    * also the probe stage over a post-erasure version
    * ([[forgetKeysInRange]]). */
  def lookupKeysInRangeIn(spark: SparkSession, versionPath: String,
      keys: Seq[Long], from: String, to: String): DataFrame = {
    requireProbeKeys(keys)
    require(from <= to, s"from '$from' must be <= to '$to' (ISO dates)")
    val cands = Layouts.manifestEntriesFor(spark, versionPath,
      candidateFiles(spark, s"$versionPath.bloomidx", keys).toSet
        .intersect(dateCandidateFiles(spark, s"$versionPath.minmax",
          from, to).toSet)).keySet
    val pruned =
      if (cands.isEmpty) Layouts.emptyLike(spark, versionPath)
      else Layouts.readFiles(spark, versionPath, Some(cands))
    pruned
      .where(col("o_custkey").isin(keys: _*) &&
        col("o_orderdate").cast("date").between(
          lit(from).cast("date"), lit(to).cast("date")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
      .orderBy("o_orderkey")
  }

  /** Erasure through the COMPOSED layout (q159): the q153 one-job
    * batched rewrite via the bloom index, plus incremental patches of
    * BOTH per-file indexes — the bloomidx patch comes from
    * [[deleteKeysFrom]]; the min/max date stats recompute for the
    * rewritten files only (a stale wider interval would merely cost
    * false-positive candidates — the safe direction — but the patch
    * keeps the stats exact, and a fully-deleted file's stats row
    * drops with its manifest row). Every layout the warehouse serves
    * now has the same forget contract: arrival-bloom (q151/q153),
    * z-order (q155/q158), date-bloom (q159). */
  def deleteKeysFromDated(spark: SparkSession, versionPath: String,
      outPath: String, keys: Seq[Long],
      bits: Int = BloomBits): DeleteReport = {
    val report = deleteKeysFrom(spark, versionPath, outPath, keys, bits)
    val rewritten = Layouts.listFileDirs(new java.io.File(outPath)).keySet
    // the touched set IS the candidate set (every candidate either
    // rewrote or vanished): re-derive it through the index probe +
    // measured dispatch instead of materializing two full manifest
    // maps (the round-15 #1 discipline — the probe is bounded by the
    // keys' file spread, never the layout's file count)
    val touched = Layouts.manifestEntriesFor(spark, versionPath,
      candidateFiles(spark, s"$versionPath.bloomidx", keys.distinct,
        bits).toSet).keySet.toSeq
    val oldStats = spark.read.parquet(s"$versionPath.minmax")
    val untouched =
      if (touched.isEmpty) oldStats
      else oldStats.where(!col("file_id").cast("long").isin(touched: _*))
    val rebuilt =
      if (rewritten.isEmpty) untouched
      else untouched.unionByName(
        spark.read.parquet(outPath).groupBy("file_id")
          .agg(min(col("o_orderdate")).as("dmin"),
            max(col("o_orderdate")).as("dmax"))
          .select(col("file_id")
            .cast(oldStats.schema("file_id").dataType).as("file_id"),
            col("dmin"), col("dmax")))
    rebuilt.repartition(1).write.mode("overwrite")
      .parquet(s"$outPath.minmax")
    report
  }

  /** Post-erasure date-layout versions, gated like [[forgetMemo]]. */
  private[graft] val datedForgetMemo =
    new graft.Memo[String, (Seq[Long], Long), (String, DeleteReport)](
      gate = Layouts.withBuildGate)

  /** The post-erasure date-layout version for (dir, keys) — the
    * [[forgottenLayoutCached]] discipline (one cached version per dir,
    * fresh generation-suffixed build paths). */
  def forgottenDateLayoutCached(spark: SparkSession, dir: String,
      keys: Seq[Long]): (String, DeleteReport) = {
    val ks = keys.distinct.sorted
    val fp = graft.Tables.fingerprint(dir, "orders")
    datedForgetMemo.get(dir, (ks, fp)) {
      val src = dateLayoutCached(spark, dir)
      val tag =
        if (ks.size == 1) ks.head.toString
        else "b" + java.lang.Long.toHexString(
          graft.functions.TextFunctions.md5LongScala(ks.mkString(",")))
      val p = s"$src.forget$tag-p${ProcessHandle.current().pid()}" +
        s"-g${forgetGen.incrementAndGet()}"
      val report = deleteKeysFromDated(spark, src, p, ks)
      Layouts.commitVersion(lineageLogOf(src), p)
      // retention only under the build gate (see
      // forgottenLayoutCached) — a memo hit never runs retention
      Layouts.vacuumRetain(spark, lineageLogOf(src),
        retainPaths = Set(src, p), inlineDelete = false)
      (p, report)
    }
  }

  /** Whether the post-erasure date-layout version for (dir, keys) is
    * already built — a repeat request answers without the build gate. */
  def isDatedForgetMemoized(spark: SparkSession, dir: String,
      keys: Seq[Long]): Boolean =
    datedForgetMemo.isBuilt(dir, (keys.distinct.sorted,
      graft.Tables.fingerprint(dir, "orders")))

  /** q159: the post-erasure composed lookup — delete the key batch
    * through the bloom candidates (both indexes patched), then probe
    * deleted keys and survivors through the intersected indexes of
    * the patched version. The oracle is the plain conjunctive filter
    * with the batch excluded. */
  def forgetKeysInRange(spark: SparkSession, dir: String,
      delKeys: Seq[Long], probeKeys: Seq[Long], from: String,
      to: String): DataFrame = {
    val probes = (delKeys ++ probeKeys).distinct
    requireProbeKeys(probes)
    require(from <= to, s"from '$from' must be <= to '$to' (ISO dates)")
    val (path, _) = forgottenDateLayoutCached(spark, dir, delKeys)
    lookupKeysInRangeIn(spark, path, probes, from, to)
  }

  /** q157: the COMPOSED point-in-range lookup — `o_custkey ∈ keys AND
    * o_orderdate ∈ [from, to]`, the AND-shaped query a multi-index
    * warehouse answers by INTERSECTING its indexes before the scan:
    * bloom candidates (which files can hold the keys) ∩ min/max
    * candidates (which files overlap the dates). A customer's orders
    * spread over years, so bloom alone scans their whole history; the
    * date range spans many customers, so stats alone scan every file
    * of the window; the intersection touches only the files where
    * both hold (spec-asserted to be exactly the scanned set). The
    * exact predicate re-applies after the prune — fp cost is files,
    * never rows. */
  def lookupKeysInRange(spark: SparkSession, dir: String,
      keys: Seq[Long], from: String, to: String): DataFrame =
    lookupKeysInRangeIn(spark, dateLayoutCached(spark, dir), keys,
      from, to)

  // ——— targeted deletion (right-to-erasure) through the index ———

  /** What a deletion did — shared with the z-order erasure path
    * ([[Warehouse.zorderDeleteUser]]); see [[Layouts.DeleteReport]]. */
  type DeleteReport = Layouts.DeleteReport
  val DeleteReport: Layouts.DeleteReport.type = Layouts.DeleteReport

  /** Erasure batch cap — a compliance window's worth of keys, not a
    * full-corpus rewrite in disguise. */
  val MaxForgetKeys: Int = MaxProbeKeys

  /** Delete every row of `keys` (a GDPR batch) from a bloom-indexed
    * layout version in ONE distributed rewrite job — the
    * right-to-erasure path a 100 TB warehouse needs: a forget request
    * must not rewrite the corpus, and without a skipping index it has
    * no way to know which of the millions of files hold the users.
    *
    * The shape (round-14 verdict #1, replacing the per-candidate-dir
    * driver loop): ONE index probe unions all K keys' candidate files;
    * ONE job reads `file_id ∈ candidates` through the manifest (path-
    * level pruning), filters the keys out NULL-SAFE (a NULL-keyed row
    * must survive an erasure — `isin` would three-value it away), and
    * writes the kept rows partitioned by `file_id` into `outPath`,
    * counting the deleted rows via the job's own `Observation` metrics
    * (no second pass). Non-candidate files are SHARED: the new
    * version's manifest points at the parent's physical directories —
    * a manifest row, not an I/O — so a K-key forget costs O(candidate
    * files), never O(corpus), and K keys cost ONE job, not K.
    *
    * The index is patched INCREMENTALLY (untouched files' rows kept,
    * rewritten files' partials recomputed from `outPath` alone — which
    * physically holds ONLY rewritten files); a candidate file whose
    * every row was deleted vanishes from manifest and index. Bloom
    * correctness is preserved in the safe direction: a rewritten
    * file's filter is rebuilt from its remaining keys, an untouched
    * file's filter was already correct, and a deleted key can at worst
    * linger as a false positive in a file it never inhabited. Writes
    * are copy-on-write into `outPath` (the source version is
    * immutable — a crashed delete leaves no torn state). */
  def deleteKeysFrom(spark: SparkSession, versionPath: String,
      outPath: String, keys: Seq[Long], bits: Int = BloomBits,
      keyCol: String = "o_custkey"): DeleteReport = {
    require(keys.nonEmpty && keys.size <= MaxForgetKeys,
      s"forget keys must be 1..$MaxForgetKeys")
    val ks = keys.distinct
    // measured dispatch: the total is a count, the candidate
    // intersection resolves only the probed ids — the driver never
    // holds the full manifest of a huge layout
    val mfTotal = Layouts.manifestFileCount(spark, versionPath)
    val cands = Layouts.manifestEntriesFor(spark, versionPath,
      candidateFiles(spark, s"$versionPath.bloomidx", ks, bits).toSet)
      .keySet
    // NULL-safe: isin is NULL for NULL keys; coalesce keeps them
    val isDel = coalesce(col(keyCol).isin(ks: _*), lit(false))
    val (rewritten, deleted) =
      Layouts.rewriteWithout(spark, versionPath, outPath, cands, isDel)
    // incremental index patch: keep untouched files' rows, recompute
    // only the rewritten files' partials
    val oldIdx = spark.read.parquet(s"$versionPath.bloomidx")
    val untouched =
      if (cands.isEmpty) oldIdx
      else oldIdx.where(!col("file_id").cast("long").isin(cands.toSeq: _*))
    val rebuilt =
      if (rewritten.isEmpty) untouched
      else untouched.unionByName(
        bloomIndexOn(spark.read.parquet(outPath), keyCol, bits)
          .select(col("file_id").cast(oldIdx.schema("file_id").dataType)
            .as("file_id"), col("bitpos")))
    rebuilt.repartition(1).write.mode("overwrite")
      .parquet(s"$outPath.bloomidx")
    DeleteReport(mfTotal, cands.size.toLong,
      mfTotal - cands.size, deleted)
  }

  /** Single-key erasure — [[deleteKeysFrom]] with a batch of one. */
  def deleteKeyFrom(spark: SparkSession, versionPath: String,
      outPath: String, key: Long, bits: Int = BloomBits): DeleteReport =
    deleteKeysFrom(spark, versionPath, outPath, Seq(key), bits)

  /** Post-deletion versions: slot the dir (one cached version per
    * dir), version (keys, fingerprint); builds and evictions are
    * serialized under the build gate. */
  private[graft] val forgetMemo =
    new graft.Memo[String, (Seq[Long], Long), (String, DeleteReport)](
      gate = Layouts.withBuildGate)

  /** Every forget BUILD lands in a fresh generation-suffixed path —
    * never reuse a path a prior build used: an evicted version's
    * directories live on under the reaper's grace for the readers that
    * still hold them, and a same-keys re-request after an eviction
    * must not clobber those files by rebuilding in place. */
  private val forgetGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The post-deletion layout version for (dir, keys): built
    * copy-on-write from the cached layout on first request,
    * fingerprint-memoized like [[layoutCached]] — but bounded to ONE
    * cached version per dir: a forgotten layout is a TRANSITION
    * artifact (a real deployment promotes it over the source via
    * AtomicSwap), so caching every batch a caller sweeps would pile
    * layout versions into tmpdir for the JVM lifetime. Every build
    * COMMITS its version to the served lineage log, and retention of
    * superseded versions runs through [[Layouts.vacuumRetain]]'s
    * manifest reference counting (retain = base + live head): shared
    * parent files survive because a retained manifest references
    * them, the expired version's own directories go to the deferred
    * reaper's wall-clock grace — and forget versions a DEAD JVM's
    * memos left behind expire on the next pass too, which the old
    * hand-maintained stale lists never could. Build paths carry the
    * pid: the per-JVM generation counter alone collides across
    * processes appending to the same on-disk lineage (the q160
    * lesson). Returns (version path, report). */
  def forgottenLayoutCached(spark: SparkSession, dir: String,
      keys: Seq[Long]): (String, DeleteReport) = {
    val ks = keys.distinct.sorted
    val fp = graft.Tables.fingerprint(dir, "orders")
    forgetMemo.get(dir, (ks, fp)) {
      val (src, _) = layoutCached(spark, dir)
      val tag =
        if (ks.size == 1) ks.head.toString
        else "b" + java.lang.Long.toHexString(
          graft.functions.TextFunctions.md5LongScala(ks.mkString(",")))
      val p = s"$src.forget$tag-p${ProcessHandle.current().pid()}" +
        s"-g${forgetGen.incrementAndGet()}"
      val report = deleteKeysFrom(spark, src, p, ks)
      Layouts.commitVersion(lineageLogOf(src), p)
      // retention (and the memo's eviction after it) run ONLY here,
      // serialized under the build gate with the commit they pair
      // with: a memo HIT must never run retention (it would race a
      // concurrent build and expire the freshly committed head out
      // of the lineage)
      Layouts.vacuumRetain(spark, lineageLogOf(src),
        retainPaths = Set(src, p), inlineDelete = false)
      (p, report)
    }
  }

  /** Time travel over the SERVED lineage: the q148 point lookup as of
    * lineage version `id` — v1 answers with the pre-forget rows, a
    * later version with that forget applied; an expired version fails
    * with [[Layouts.VersionExpired]] (HTTP 410 through the server).
    * This is what the version log buys real clients: an auditor can
    * re-run yesterday's query against yesterday's snapshot while the
    * head keeps moving. */
  def lookupAsOf(spark: SparkSession, dir: String, version: Long,
      keys: Seq[Long]): DataFrame = {
    requireProbeKeys(keys)
    val (base, _) = layoutCached(spark, dir)
    val vs = Layouts.versions(lineageLogOf(base))
    vs.find(_._1 == version) match {
      case Some((_, path)) => lookupIn(spark, path, keys)
      // classify on the SAME listing (re-listing would race a
      // concurrent commit of exactly this id into a dead-end throw):
      // monotone ids ⇒ a missing id below the head was committed once
      // and has been expired by retention
      case None if vs.nonEmpty && version >= 1 && version < vs.last._1 =>
        throw new Layouts.VersionExpired(
          s"version $version expired from the served lineage (live: " +
            s"${vs.map(_._1).mkString(", ")}) — reclaimed by " +
            "retention; raise keepLast if time travel this far back " +
            "is needed")
      case None =>
        throw new IllegalArgumentException(
          s"version $version is not in the served lineage (live: " +
            s"${vs.map(_._1).mkString(", ")}) — never committed")
    }
  }

  /** The served lineage's live versions, oldest first — the audit
    * surface behind /timeTravel (no data read, just the log). */
  def lineageVersions(spark: SparkSession, dir: String): DataFrame = {
    val (base, _) = layoutCached(spark, dir)
    import spark.implicits._
    Layouts.versions(lineageLogOf(base))
      .map { case (id, p) => (id, p, p == base) }
      .toDF("version", "path", "is_base")
      .orderBy("version")
  }

  /** Admin retention pass over the served lineage: keep the newest
    * `keepLast` versions PLUS whatever the live memos serve (the base
    * layout and the current forget head — expiring the serving base
    * out from under q148 would be an outage, not a cleanup). Expired
    * versions' unshared files go to the deferred reaper (never inline
    * — a served lineage always has potential concurrent readers).
    * Returns the one-row report. */
  def vacuumServedLineage(spark: SparkSession, dir: String,
      keepLast: Int = 1): DataFrame = {
    require(keepLast >= 1 && keepLast <= 1024,
      "keepLast must be in 1..1024")
    val (base, _) = layoutCached(spark, dir)
    val vs = Layouts.versions(lineageLogOf(base))
    val pinned = forgetMemo.built(dir).map(_._1).toSet + base
    val retain = vs.takeRight(keepLast).map(_._2).toSet ++ pinned
    val r = Layouts.vacuumRetain(spark, lineageLogOf(base), retain,
      inlineDelete = false)
    import spark.implicits._
    Seq((r.versionsExpired, r.filesDeleted, r.filesShared))
      .toDF("versions_expired", "files_deferred", "files_shared")
  }

  /** Whether the post-deletion version for (dir, keys) is already
    * built and memoized — a repeat request can answer without paying
    * (or gating on) a copy-on-write build. */
  def isForgetMemoized(spark: SparkSession, dir: String,
      keys: Seq[Long]): Boolean =
    forgetMemo.isBuilt(dir, (keys.distinct.sorted,
      graft.Tables.fingerprint(dir, "orders")))

  /** Private vacuumed lineages: slot the dir, version (keys,
    * fingerprint); builds run under the build gate and a superseded
    * lineage's root goes to the reaper. */
  private[graft] val vacuumMemo = new graft.Memo[String, (Seq[Long], Long), String](
    retire = (dir, stale) => graft.IndexGc.retire(s"vaclineage:$dir",
      stale.map(p => new java.io.File(p).getParent)),
    gate = Layouts.withBuildGate)

  /** q160: GDPR-COMPLETE erasure — forget the key batch, PROMOTE the
    * post-erasure version by committing it to the lineage's version
    * log, then VACUUM the lineage so the deleted users' bytes are
    * PHYSICALLY gone: a forget rewrites candidates into a new version,
    * but the old bytes live on in the pre-forget version until its
    * snapshot expires ([[Layouts.vacuum]] — the Iceberg
    * expire-snapshots discipline with the compliance reading). Only
    * files the retained version shares survive; the spec sweeps every
    * parquet file left in the lineage and asserts no deleted key
    * remains anywhere on disk. The lineage is PRIVATE (its own v1
    * build, not the shared q148 serving layout — vacuum deletes files,
    * and the serving layout must never lose one under a concurrent
    * reader); probes answer through the retained version, so the
    * oracle is q153's plain filter with the batch excluded. */
  def vacuumedForget(spark: SparkSession, dir: String,
      delKeys: Seq[Long], probeKeys: Seq[Long]): DataFrame = {
    val probes = (delKeys ++ probeKeys).distinct
    requireProbeKeys(probes)
    val ks = delKeys.distinct.sorted
    val fp = graft.Tables.fingerprint(dir, "orders")
    val v = vacuumMemo.get(dir, (ks, fp)) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      // pid + generation: the per-JVM counter alone COLLIDES across
      // JVMs (a second process rebuilding lineage -g1 appends to the
      // dead JVM's version log, and its vacuum then expires the OLD
      // v2 — whose sidecar path equals the new v2's); the builder also
      // wipes any husk at the path so a recycled pid cannot inherit a
      // stale log
      val base = sys.props("java.io.tmpdir") +
        s"/graft-vaclineage-$tag-f${java.lang.Long.toHexString(fp)}" +
        s"-p${ProcessHandle.current().pid()}" +
        s"-g${forgetGen.incrementAndGet()}"
      if (new java.io.File(base).exists())
        graft.AtomicSwap.deleteRecursively(new java.io.File(base))
      val v1 = s"$base/v1"
      bloomWrite(graft.Tables(spark, dir, "orders"),
        "o_custkey", "o_orderkey", v1)
      Layouts.commitVersion(s"$base/log", v1)
      val v2 = s"$base/v2"
      deleteKeysFrom(spark, v1, v2, ks)
      Layouts.commitVersion(s"$base/log", v2)
      Layouts.vacuum(spark, s"$base/log", keepLast = 1)
      v2
    }
    lookupIn(spark, v, probes)
  }

  /** q151: the post-erasure lookup — delete customer `delKey`'s rows
    * through the index (candidate files only), then probe both the
    * deleted key and a surviving one through the PATCHED index. The
    * oracle is the plain filter with the key excluded: the deleted
    * rows' ABSENCE and the survivors' presence both ride the hash. */
  def forgetKey(spark: SparkSession, dir: String, delKey: Long,
      probeKeys: Seq[Long]): DataFrame =
    forgetKeys(spark, dir, Seq(delKey), probeKeys)

  /** q153: BATCHED right-to-erasure — delete a whole compliance
    * window's keys in ONE copy-on-write rewrite job (see
    * [[deleteKeysFrom]]), then probe the deleted keys and the
    * survivors through the patched version. The oracle is the plain
    * filter with the batch excluded: every deleted key's absence and
    * every survivor's presence ride the hash. */
  def forgetKeys(spark: SparkSession, dir: String, delKeys: Seq[Long],
      probeKeys: Seq[Long]): DataFrame = {
    // validate BEFORE the memoized delete build — a bad probe list
    // must not pay (and cache) the copy-on-write deletion
    val probes = (delKeys ++ probeKeys).distinct
    requireProbeKeys(probes)
    val (path, _) = forgottenLayoutCached(spark, dir, delKeys)
    lookupIn(spark, path, probes)
  }
}
