package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-versioned file layouts — the machinery SHARED by the
  * skipping-index family (the bloom layout of q148/q151/q153 and the
  * z-order layout of q145/q155).
  *
  * A layout VERSION is a manifest (`<version>.manifest`: one row per
  * `(file_id, physical dir)`). Copy-on-write maintenance (erasure,
  * compaction) writes a NEW version whose manifest points at the
  * parent's physical directories for every untouched file — SHARED,
  * not copied — and at its own directory only for the files it
  * rewrote. At 100 TB a maintenance pass therefore costs O(touched
  * files), never O(corpus): the untouched petabytes are a manifest
  * row, not an I/O. (This is the Iceberg/Delta snapshot-manifest
  * discipline re-expressed relationally; on an object store the
  * "shared file" is literally the same immutable object.) */
object Layouts {

  /** What a copy-on-write deletion did: `filesRewritten` is the
    * candidate set the index named (fp-dependent), `filesShared` the
    * untouched files the new manifest points at without copying,
    * `rowsDeleted` exact (from the rewrite job's own metrics). */
  case class DeleteReport(filesTotal: Long, filesRewritten: Long,
      filesShared: Long, rowsDeleted: Long)

  def manifestPath(versionPath: String): String = s"$versionPath.manifest"

  /** Schema sidecar of a layout version: an empty single-file parquet
    * carrying the layout's schema, so an EMPTY version (an erasure that
    * deleted every candidate file's every row) can still answer
    * [[readFiles]]/[[emptyLike]] with an empty relation instead of
    * throwing — there is no data file left to resolve the schema from. */
  def schemaPath(versionPath: String): String = s"$versionPath.schema"

  /** Serializes copy-on-write layout BUILDS (erasure rewrites, takedown
    * patches) across every operator on this JVM: two concurrent
    * rewrites are an I/O storm the serving layer's 503 gate exists to
    * shed, but the HTTP-side memoized-bypass check is inherently
    * check-then-act (round-15 advice: a concurrent eviction between the
    * check and the build re-runs the build OUTSIDE the gate). Owning
    * the mutual exclusion HERE — around the build itself — closes that
    * window for every caller. Reentrant, so a gated builder composing
    * another gated builder on the same thread never self-deadlocks. */
  val withBuildGate: graft.Memo.Gate = new graft.Memo.Gate {
    private val lock = new java.util.concurrent.locks.ReentrantLock()
    def apply[A](body: => A): A = {
      lock.lock()
      try body finally lock.unlock()
    }
  }

  /** Write the version's schema sidecar (see [[schemaPath]]): an empty
    * limit-0 projection of the layout, one tiny footer-only file. */
  private[operators] def writeSchemaSidecar(layout: DataFrame,
      versionPath: String): Unit =
    layout.limit(0).repartition(1).write.mode("overwrite")
      .parquet(schemaPath(versionPath))

  /** Driver-side manifest maps and file counts, per manifest path. */
  private[graft] val manifestMemo = new graft.Memo[String, Unit, Map[Long, String]]
  private[graft] val manifestCountMemo = new graft.Memo[String, Unit, Long]

  /** Measured dispatch for manifest access (round-15 "what's wrong"
    * #1): a manifest of up to this many files memoizes as a driver map
    * (one row per file is honest at ~10⁵); above it — the 10⁶–10⁷
    * files of a 100 TB layout — the driver map would be a multi-GB
    * memo, so candidate selection stays RELATIONAL: the manifest
    * parquet is filtered by the candidate ids (predicate pushdown) and
    * only the selected rows ever reach the driver. The same
    * [[graft.operators.GraphRank]] measured-dispatch discipline,
    * applied to the metadata layer. Test hook: specs lower it to force
    * the relational arm onto small layouts. */
  @volatile var MaxDriverManifestFiles: Long = 100000L

  /** The manifest's file count WITHOUT materializing the map — parquet
    * row-count metadata when the map is not already memoized. */
  def manifestFileCount(spark: SparkSession, versionPath: String): Long =
    manifestMemo.peek(manifestPath(versionPath), ()).map(_.size.toLong)
      .getOrElse(manifestCountMemo.get(manifestPath(versionPath), ()) {
        val mf = new java.io.File(manifestPath(versionPath))
        if (mf.exists()) spark.read.parquet(mf.getAbsolutePath).count()
        else listFileDirs(new java.io.File(versionPath)).size.toLong
      })

  private def isDriverSized(spark: SparkSession, versionPath: String) =
    manifestFileCount(spark, versionPath) <= MaxDriverManifestFiles

  /** The manifest entries for `fids` only — the candidate-resolution
    * read every pruned lookup and erasure runs. Driver-map arm for
    * driver-sized manifests; relational filter-then-collect (bounded
    * by |fids|, never by the file count) above the threshold. */
  def manifestEntriesFor(spark: SparkSession, versionPath: String,
      fids: Set[Long]): Map[Long, String] =
    if (fids.isEmpty) Map.empty
    else if (isDriverSized(spark, versionPath))
      manifestOf(spark, versionPath).view.filterKeys(fids).toMap
    else {
      val mf = new java.io.File(manifestPath(versionPath))
      require(mf.exists(),
        s"$versionPath exceeds the driver-manifest threshold but has " +
          "no manifest relation")
      spark.read.parquet(mf.getAbsolutePath)
        .where(col("file_id").cast("long").isin(fids.toSeq: _*))
        .select(col("file_id").cast("long"), col("path"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }

  /** The (file_id → physical dir) map of a layout version. Manifests
    * are immutable per path (copy-on-write: a refresh lands in a NEW
    * version path), so the driver-side map memoizes for the JVM
    * lifetime. Pre-manifest layouts (hand-built fixtures) fall back to
    * listing their own directory. */
  def manifestOf(spark: SparkSession, versionPath: String): Map[Long, String] =
    manifestMemo.get(manifestPath(versionPath), ()) {
      val mf = new java.io.File(manifestPath(versionPath))
      if (mf.exists())
        spark.read.parquet(mf.getAbsolutePath)
          .select(col("file_id").cast("long"), col("path"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      else listFileDirs(new java.io.File(versionPath))
    }

  private[operators] def writeManifest(spark: SparkSession,
      versionPath: String, entries: Map[Long, String]): Unit = {
    import spark.implicits._
    entries.toSeq.sortBy(_._1).toDF("file_id", "path")
      .repartition(1).write.mode("overwrite")
      .parquet(manifestPath(versionPath))
    forgetManifest(versionPath)
  }

  /** Drop the memoized map and count of a rewritten or expired
    * manifest. */
  private def forgetManifest(versionPath: String): Unit = {
    manifestMemo.invalidate(manifestPath(versionPath))
    manifestCountMemo.invalidate(manifestPath(versionPath))
  }

  /** The `file_id=N` directories physically under `root`. */
  private[operators] def listFileDirs(root: java.io.File): Map[Long, String] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("file_id="))
      .map(d => d.getName.stripPrefix("file_id=").toLong ->
        d.getAbsolutePath).toMap

  /** Write the v1 manifest of a freshly written partitioned layout —
    * every physical file dir it owns. */
  private[operators] def writeOwnManifest(spark: SparkSession,
      dir: String): Unit =
    writeManifest(spark, dir, listFileDirs(new java.io.File(dir)))

  /** Read a layout version THROUGH its manifest, optionally restricted
    * to `fids` — path-level pruning: a file outside the selection is
    * never even LISTED, let alone scanned. Directories group by their
    * physical root (one `basePath` read per root, unioned), so a
    * version reads seamlessly across the parent layouts it shares
    * files with; the number of roots is the number of live versions,
    * not the number of files. */
  def readFiles(spark: SparkSession, versionPath: String,
      fids: Option[Set[Long]] = None): DataFrame = {
    // candidate reads resolve through the measured dispatch (only the
    // picked rows reach the driver on a huge manifest); a FULL read
    // (fids = None) is a maintenance pass and takes the whole map
    val picked = fids match {
      case Some(s) => manifestEntriesFor(spark, versionPath, s)
      case None    => manifestOf(spark, versionPath)
    }
    if (picked.isEmpty) return emptyLike(spark, versionPath)
    picked.values.toSeq.distinct
      .groupBy(p => new java.io.File(p).getParent)
      .toSeq.sortBy(_._1)
      .map { case (root, dirs) =>
        spark.read.option("basePath", root).parquet(dirs.sorted: _*)
      }
      .reduce(_ unionByName _)
  }

  /** An empty relation with the layout's schema (resolve one manifest
    * file, scan nothing) — the no-candidates answer. A version whose
    * manifest is EMPTY (an erasure deleted every file) resolves the
    * schema from its sidecar (round-15 advice: `.keys.min` on an empty
    * manifest threw on every subsequent lookup). */
  private[operators] def emptyLike(spark: SparkSession,
      versionPath: String): DataFrame = {
    // resolve ONE file without materializing a huge manifest map
    val one =
      if (isDriverSized(spark, versionPath))
        manifestOf(spark, versionPath).values.headOption
      else {
        val mf = new java.io.File(manifestPath(versionPath))
        if (!mf.exists()) None
        else spark.read.parquet(mf.getAbsolutePath)
          .select(col("path")).limit(1).collect()
          .headOption.map(_.getString(0))
      }
    one match {
      case Some(p) =>
        spark.read.option("basePath", new java.io.File(p).getParent)
          .parquet(p).where(lit(false))
      case None =>
        emptyFromSidecar(spark, versionPath)
    }
  }

  /** The empty-manifest fallback: schema from the version's sidecar
    * (see [[schemaPath]] — an erasure can delete every file). */
  private def emptyFromSidecar(spark: SparkSession,
      versionPath: String): DataFrame = {
    val sp = new java.io.File(schemaPath(versionPath))
    require(sp.exists(),
      s"empty layout $versionPath has no schema sidecar — cannot " +
        "build an empty relation (pre-sidecar hand-built fixture?)")
    spark.read.parquet(sp.getAbsolutePath).where(lit(false))
  }

  // ——— the version log + erasure-aware vacuum (q160) ————————————————

  /** What a [[vacuum]] pass did. `filesShared` are expired-version
    * files that SURVIVED because a retained manifest still references
    * them. */
  case class VacuumReport(versionsExpired: Long, filesDeleted: Long,
      filesShared: Long)

  /** Append `versionPath` to the lineage log at `logDir` (one small
    * text file per version, atomic CREATE_NEW — the commit either
    * exists whole or not at all). Returns the version id.
    *
    * Cross-process safety (round-16 advice): two JVMs committing to
    * the same on-disk lineage race to `last + 1`; CREATE_NEW makes the
    * collision detectable, so the loser RETRIES with the next id
    * instead of failing the request — optimistic concurrency, the
    * Delta log's commit protocol in miniature. RETENTION still assumes
    * a single serving process per lineage: one live process's
    * `vacuumRetain` cannot know another live process's retain set and
    * could expire its still-served head (documented, not guarded —
    * the deferred-reaper grace is the cross-process safety net). */
  def commitVersion(logDir: String, versionPath: String): Long = {
    val d = new java.io.File(logDir)
    d.mkdirs()
    var id = versions(logDir).lastOption.map(_._1).getOrElse(0L) + 1L
    var committed = false
    while (!committed) {
      try {
        java.nio.file.Files.write(
          new java.io.File(d, f"v$id%06d.txt").toPath,
          versionPath.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        committed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => id += 1L
      }
    }
    id
  }

  /** [[commitVersion]], idempotent on the PATH: a rebuild into the
    * same deterministic path (a restarted JVM re-running a
    * fingerprint-keyed base build) must not append a duplicate
    * version. Returns the existing or new id. */
  def commitVersionIfAbsent(logDir: String, versionPath: String): Long =
    versions(logDir).find(_._2 == versionPath).map(_._1)
      .getOrElse(commitVersion(logDir, versionPath))

  /** A time-travel read of a version the lineage no longer retains —
    * vacuum expired it. Its own exception type so a serving layer can
    * answer HTTP 410 Gone (the snapshot existed and was reclaimed)
    * instead of a generic 400. */
  final class VersionExpired(msg: String)
    extends IllegalArgumentException(msg)

  /** The lineage's committed versions, oldest first. */
  def versions(logDir: String): Seq[(Long, String)] =
    Option(new java.io.File(logDir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.matches("v\\d+\\.txt"))
      .sortBy(_.getName)
      .map(f => (f.getName.stripPrefix("v").stripSuffix(".txt").toLong,
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .trim))

  /** Time travel: read the lineage AS OF version `id` — the version's
    * manifest resolves files shared with any other version identically
    * (they are the same immutable objects). A version vacuum expired
    * fails LOUDLY with the retention explanation: its manifest is
    * gone, and answering from a later version would silently serve the
    * wrong snapshot. */
  def readAsOf(spark: SparkSession, logDir: String, id: Long): DataFrame = {
    val vs = versions(logDir)
    vs.find(_._1 == id) match {
      case Some(v) => readFiles(spark, v._2, None)
      case None if vs.nonEmpty && id >= 1 && id < vs.last._1 =>
        // ids are monotone, so a missing id below the head WAS
        // committed once and has been expired (vacuum / retention)
        throw new VersionExpired(
          s"version $id expired from the lineage (live: " +
            s"${vs.map(_._1).mkString(", ")}) — reclaimed by vacuum; " +
            "raise the retention if time travel this far back is needed")
      case None =>
        throw new IllegalArgumentException(
          s"version $id is not in the lineage (live: " +
            s"${vs.map(_._1).mkString(", ")}) — never committed")
    }
  }

  /** Expire every version of the lineage except the newest `keepLast`:
    * delete the physical file directories ONLY the expired versions
    * reference (a file shared into any RETAINED manifest survives —
    * reference counting by manifest union, the Iceberg
    * expire-snapshots discipline), plus the expired versions'
    * sidecar files and log entries.
    *
    * The GDPR reading (round-15's completion of the erasure family):
    * a forget rewrites candidates into a NEW version, but the deleted
    * user's bytes LIVE ON in the pre-forget versions until they
    * expire — erasure is not complete until vacuum runs. The spec
    * asserts physical completeness: after vacuum, no surviving parquet
    * file anywhere in the lineage holds a deleted key's row. Idempotent
    * (a second pass expires nothing) and crash-safe (file dirs delete
    * before log entries, so a crashed vacuum re-converges — a re-run
    * skips already-deleted dirs). */
  /** See [[vacuum]]. `inlineDelete = true` (the GDPR-complete default)
    * physically deletes expired files IN THIS CALL — the compliance
    * guarantee q160's spec sweeps for — and therefore REQUIRES
    * exclusive access to the lineage: no concurrent [[readAsOf]] of a
    * version being expired (round-15 advice — a reader mid-scan of a
    * just-expired snapshot would lose files under it). The
    * private-per-request lineages the batch queries build satisfy this
    * by construction. `inlineDelete = false` is the SERVING mode:
    * expired directories route through [[graft.IndexGc.retire]]'s
    * wall-clock grace (scoped by `logDir`) so an in-flight reader that
    * resolved its file list before the expiry finishes its scan; the
    * bytes go at the reaper's next pass after the grace — physical
    * erasure is eventual, bounded by `IndexGc.graceMs`. */
  def vacuum(spark: SparkSession, logDir: String,
      keepLast: Int = 1, inlineDelete: Boolean = true): VacuumReport = {
    require(keepLast >= 1, "a lineage must retain at least one version")
    val vs = versions(logDir)
    val (expired, retained) = vs.splitAt(math.max(0, vs.size - keepLast))
    vacuumImpl(spark, logDir, expired, retained, inlineDelete)
  }

  /** Retention by VERSION SET rather than recency — what a SERVED
    * lineage needs: the base layout (the oldest version) stays pinned
    * while superseded forget versions between it and the live head
    * expire. `retainPaths` names the version paths that survive;
    * everything else expires under the same reference-counting rule
    * (a file shared into any retained manifest survives). This
    * replaces the memo-eviction + explicit-stale-list pairs: the
    * version log IS the ownership record, so cleanup is computed from
    * manifests, not hand-maintained path lists — and versions left
    * behind by a dead JVM's memos expire on the next pass too. */
  def vacuumRetain(spark: SparkSession, logDir: String,
      retainPaths: Set[String],
      inlineDelete: Boolean = false): VacuumReport = {
    val vs = versions(logDir)
    val (retained, expired) = vs.partition(v => retainPaths(v._2))
    require(retained.nonEmpty,
      s"retention would empty the lineage at $logDir")
    vacuumImpl(spark, logDir, expired, retained, inlineDelete)
  }

  private def vacuumImpl(spark: SparkSession, logDir: String,
      expired: Seq[(Long, String)], retained: Seq[(Long, String)],
      inlineDelete: Boolean): VacuumReport = {
    // nothing expires → nothing to reference-count: do NOT touch the
    // retained manifests (materializing them here would re-create the
    // driver blow-up the measured dispatch exists to avoid), and the
    // retention a memoized serving path runs per build stays O(1)
    if (expired.isEmpty) return VacuumReport(0L, 0L, 0L)
    var deleted = 0L
    var shared = 0L
    val deferred = scala.collection.mutable.ListBuffer.empty[String]
    def remove(path: String): Unit =
      if (inlineDelete) {
        val f = new java.io.File(path)
        if (f.exists()) graft.AtomicSwap.deleteRecursively(f)
      } else deferred += path
    val small = (expired ++ retained)
      .forall(v => manifestFileCount(spark, v._2) <= MaxDriverManifestFiles)
    if (small) {
      // driver-map arm: per-version dir walk with a set-membership
      // reference count + the husk cleanup
      val keep =
        retained.flatMap(v => manifestOf(spark, v._2).values).toSet
      expired.foreach { case (_, p) =>
        manifestOf(spark, p).values.toSeq.distinct.foreach { dir =>
          if (keep(dir)) shared += 1
          else if (new java.io.File(dir).exists()) {
            remove(dir)
            deleted += 1
          }
        }
        // the version root may be a husk of only-its-own files now —
        // clear it (inline) or hand it WHOLE to the reaper (deferred;
        // covers the contained dirs too), but only if no retained
        // file still lives inside
        val root = new java.io.File(p)
        if (root.exists() &&
          Option(root.listFiles()).toSeq.flatten
            .forall(f => !keep(f.getAbsolutePath))) {
          if (inlineDelete) graft.AtomicSwap.deleteRecursively(root)
          else deferred += p
        }
      }
    } else {
      // RELATIONAL arm (manifests past the driver threshold): the
      // deletable set is `expired paths EXCEPT retained paths` — a
      // distributed anti-join whose collect is bounded by the files
      // UNIQUE to the expired versions (the deletion workload itself,
      // e.g. a forget version's few rewritten dirs), never the corpus
      // file count. Husk roots are left standing (checking them needs
      // the full map); the deferred reaper removes their contents.
      import spark.implicits._
      def pathsOf(vs: Seq[(Long, String)]) = vs.map { v =>
        val mf = new java.io.File(manifestPath(v._2))
        if (mf.exists())
          spark.read.parquet(mf.getAbsolutePath).select(col("path"))
        else listFileDirs(new java.io.File(v._2)).values.toSeq
          .toDF("path")
      }.reduce(_ unionByName _).distinct()
      val expPaths = pathsOf(expired).cache()
      val deletable =
        try expPaths.join(pathsOf(retained), Seq("path"), "left_anti")
          .as[String].collect()
        finally ()
      val expTotal = expPaths.count()
      expPaths.unpersist(blocking = false)
      shared = expTotal - deletable.length
      deletable.foreach { dir =>
        if (new java.io.File(dir).exists()) {
          remove(dir)
          deleted += 1
        }
      }
    }
    expired.foreach { case (id, p) =>
      // .bloom.bf: the doc-takedown corpus versions carry a rebuilt
      // fingerprint sketch as a sibling file — derived data that must
      // expire with its version
      Seq(s"$p.bloomidx", s"$p.minmax", s"$p.bloom.bf", schemaPath(p),
        manifestPath(p))
        .foreach { side =>
          if (new java.io.File(side).exists()) remove(side)
        }
      forgetManifest(p)
      java.nio.file.Files.deleteIfExists(
        new java.io.File(logDir, f"v$id%06d.txt").toPath)
    }
    if (deferred.nonEmpty)
      graft.IndexGc.retire(s"lineage:$logDir", deferred.toSeq)
    VacuumReport(expired.size.toLong, deleted, shared)
  }

  /** The ONE-job batched copy-on-write rewrite at the heart of
    * right-to-erasure (round-14 verdict #1): read the `cands` files of
    * `versionPath` through the manifest (path-level pruning), drop the
    * rows matching `isDel` (the caller supplies a NULL-SAFE predicate
    * — a NULL-keyed row must survive an erasure), write the kept rows
    * partitioned by `file_id` into `outPath`, and count the deleted
    * rows via the job's own `Observation` metrics (no second pass).
    * Writes the new version's manifest: non-candidates SHARED with the
    * parent, candidates re-pointed at `outPath`; a candidate file
    * whose every row was deleted vanishes. Returns (materialized file
    * map, exact deleted count). K keys, N candidate files — still ONE
    * job; the old per-candidate-directory driver loop ran 3 jobs per
    * directory. `transform` post-processes the kept rows INSIDE the
    * same job (the doc-takedown repack recomputes per-block prefix
    * sums there); it must preserve the `file_id` column. */
  private[operators] def rewriteWithout(spark: SparkSession,
      versionPath: String, outPath: String, cands: Set[Long],
      isDel: Column,
      transform: DataFrame => DataFrame = identity): (Map[Long, String], Long) = {
    val out = new java.io.File(outPath)
    if (out.exists()) graft.AtomicSwap.deleteRecursively(out)
    out.mkdirs()
    var deleted = 0L
    if (cands.nonEmpty) {
      val obs = org.apache.spark.sql.Observation()
      transform(readFiles(spark, versionPath, Some(cands))
          .observe(obs, sum(when(isDel, 1L).otherwise(0L)).as("rows_deleted"))
          .where(!isDel))
        .repartition(col("file_id"))
        .write.mode("overwrite").partitionBy("file_id").parquet(outPath)
      deleted = obs.get.get("rows_deleted") match {
        case Some(l: Long) => l
        case _             => 0L
      }
    }
    val rewritten = listFileDirs(out)
    // the successor manifest: measured dispatch again — a driver-sized
    // parent goes through the map; a huge one stays relational (parent
    // manifest relation minus candidates, union the rewritten rows —
    // the driver never holds more than the candidate set)
    if (isDriverSized(spark, versionPath))
      writeManifest(spark, outPath,
        (manifestOf(spark, versionPath) -- cands) ++ rewritten)
    else {
      import spark.implicits._
      val parent = spark.read
        .parquet(manifestPath(versionPath))
        .select(col("file_id").cast("long").as("file_id"), col("path"))
        .where(if (cands.isEmpty) lit(true)
          else !col("file_id").isin(cands.toSeq: _*))
      parent.unionByName(
          rewritten.toSeq.toDF("file_id", "path"))
        .repartition(1).sortWithinPartitions("file_id")
        .write.mode("overwrite").parquet(manifestPath(outPath))
      forgetManifest(outPath)
    }
    // schema sidecar: an erasure can empty the manifest entirely (every
    // candidate file's every row deleted, nothing shared) — the sidecar
    // keeps the empty version readable (see [[emptyLike]]). Derived
    // from the TRANSFORMED plan: the transform hook may reshape columns
    // (the doc-takedown repack does), and a sidecar carrying the
    // parent's schema would misdescribe the version
    writeSchemaSidecar(transform(emptyLike(spark, versionPath)), outPath)
    (rewritten, deleted)
  }
}
