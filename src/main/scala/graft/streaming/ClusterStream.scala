package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextExpressions
import graft.operators.{BloomSkip, Dedup}

/** Stream-maintained NEAR-DUP CLUSTER TABLE — incremental maintenance
  * of q60's MinHash-LSH cluster assignment under continuous ingest
  * (round-16 verdict #4): `/docTakedown?cascade=1` expansion and the
  * q167 cascade audit become a POINT READ of this table instead of a
  * per-call LSH + connected-components recompute over the corpus
  * (21.6 s at sf10 — the q60/q53 corpus-analytic cost class).
  *
  * The design is the classic incremental-clustering fold (the public
  * union-find/LSH composition, e.g. Broder '97 resemblance clustering
  * maintained under inserts), expressed over two APPEND-ONLY
  * accumulated stores:
  *
  *  - `clusters/sigs/epoch=N`  — `(doc_id, sig, base)`: each ingested
  *    doc's MinHash signature plus its BASE LABEL = the min doc_id of
  *    its within-batch LSH component. Written once at ingest, never
  *    rewritten by later inserts.
  *  - `clusters/merges/epoch=N` — `(a, b)`: label pairs recording that
  *    a new batch component touched an existing one (one row per
  *    distinct (new base, stored base) near-dup connection). The pair
  *    relation's connected components ARE the cluster merge history.
  *
  * The served assignment is then a pure fold:
  *    comp(doc) = root(base(doc)) under the merge log's components,
  * and because (a) within-batch pairs and batch-vs-corpus pairs use
  * the IDENTICAL band key + est_sim verification
  * ([[Dedup.withBandKeys]]/[[Dedup.estSimCol]] — single source of
  * truth), and (b) every LSH pair (x, y) is discovered exactly once —
  * in max(epoch(x), epoch(y))'s batch — the fold's fixpoint equals the
  * one-shot batch computation `connectedComponents(minhashLshPairs)`
  * with singletons labeled by their own id (q167's `allc` relation).
  * That equality is the q168 oracle and the twin spec.
  *
  * Scale contract (the reason this is a table and not a memo):
  *  - per batch: signatures are map-only; within-batch pairs collect
  *    bounded by micro-batch size (the fp-collect contract); the
  *    batch-vs-corpus candidate join BROADCASTS the batch's band keys
  *    against the accumulated signature store read map-side — the
  *    corpus side never shuffles, no state store grows with the
  *    corpus.
  *  - serving: the merge log is component-folded by
  *    [[Dedup.connectedComponents]] (measured driver/distributed
  *    dispatch); under the driver budget the fold is a millisecond
  *    union-find whose labels broadcast, so the assignment is ONE scan
  *    of the two-column base relation with a map-side relabel — no
  *    LSH, no iteration. [[compactEvery]] folds the merge log to its
  *    `(label, root)` closure (component-preserving and shrinking), so
  *    the fold input stays bounded by live-label count, not edge
  *    history.
  *
  * Crash/replay: epoch partitions are overwritten wholesale on replay,
  * and both writes are recomputed against the accumulated store
  * EXCLUDING the in-flight epoch, so a replayed batch converges
  * bit-equal. Sigs are written BEFORE merges: a crash between the two
  * leaves the batch's docs temporarily unmerged (healed by replay),
  * never a merge row whose minimum label is a doc the store doesn't
  * hold (which would mislabel existing clusters). Duplicate delivery
  * of a doc under a new epoch id re-matches exactly its original
  * neighbors (signatures are pure functions of text), so its rows fold
  * to the same root and the serving `distinct()` collapses them.
  *
  * Erasure symmetry (the repo's q161–q165 principle — a signature and
  * a cluster label are DERIVED PERSONAL DATA): [[takedownClusters]]
  * removes the ids' rows and re-derives their components' SURVIVORS
  * in-place — near-dup clustering under DELETES, including component
  * SPLITS when the deleted doc was the bridge (an edge log alone
  * cannot split, so survivor components are recomputed cluster-locally
  * from retained signatures — O(affected cluster), never O(corpus)).
  *
  * No reference counterpart (the reference has no dedup at all); the
  * public designs re-expressed are LSH dedup services maintaining
  * cluster membership incrementally (e.g. the Broder-style
  * shingle/minhash pipelines) on Iceberg-style partition rewrites. */
object ClusterStream {

  private val SigsSub = "clusters/sigs"
  private val MergesSub = "clusters/merges"

  /** Frozen LSH parameters — q24/q53/q60's (`Dedup.minhashLshPairs`
    * defaults), so the table's clusters share those queries' oracle
    * arithmetic. */
  val ShingleK = 3
  val NumHashes = 16
  val Bands = 8
  val Threshold = 0.5

  private def sigStore(spark: SparkSession, outDir: String) =
    EpochStore(spark, s"$outDir/$SigsSub", "cluster table")
  private def mergeStore(spark: SparkSession, outDir: String) =
    EpochStore(spark, s"$outDir/$MergesSub", "cluster table")

  /** Both stores, claimed (and healed) before a writer reads either. */
  private def claimTables(spark: SparkSession, outDir: String)
      : (EpochStore, EpochStore) = {
    val tables = (sigStore(spark, outDir), mergeStore(spark, outDir))
    tables._1.claim(); tables._2.claim()
    tables
  }

  // ——— ingest ———————————————————————————————————————————————————————

  /** One micro-batch's fold into the cluster table — the shared core
    * of the streaming sink and the q168 batch-driver build. The batch
    * must carry (doc_id, text). A null-text doc keeps its assignment
    * row (comp = its own id, like the batch chain and the q168 oracle,
    * where it never produces signature rows): its stored `sig` is NULL
    * and the band-key generator drops NULL sigs, so it can never match
    * anything — a permanent singleton, not a dropped row. */
  def ingestBatch(batch: DataFrame, outDir: String, epochId: Long): Unit = {
    val sess = batch.sparkSession
    val (sigTab, mergeTab) = claimTables(sess, outDir)
    // complete any takedown a crash left half-done BEFORE matching
    // against the store (stale merge rows must not relink a dissolved
    // component through this batch's labels)
    healPendingForget(sess, outDir)
    // the SAME signature projection as the batch LSH chain
    // (Dedup.signatureArraysOn — single source of truth, like the band
    // key and est_sim definitions)
    val sigs = Dedup.signatureArraysOn(
        batch.select(col("doc_id"), col("text")), ShingleK, NumHashes)
      .dropDuplicates("doc_id")
      .persist()
    try {
      // 1. within-batch LSH components → base labels. The pair collect
      //    is micro-batch-bounded (same contract as the dedup sinks'
      //    fingerprint collect).
      val localPairs = Dedup.minhashPairsFromSigs(sigs, NumHashes, Bands,
          Threshold, ordered = false)
        .select("id1", "id2").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val roots = Dedup.unionFindRoots(localPairs.toIndexedSeq)
      import sess.implicits._
      val withBase =
        if (roots.isEmpty)
          sigs.select(col("doc_id"), col("sig"), col("doc_id").as("base"))
        else
          sigs.join(broadcast(roots.toSeq.toDF("doc_id", "base")),
              Seq("doc_id"), "left")
            .select(col("doc_id"), col("sig"),
              coalesce(col("base"), col("doc_id")).as("base"))
      // 2. batch-vs-corpus candidates: broadcast the batch's band keys
      //    against the accumulated store (map-side — the corpus side
      //    never shuffles), verify with the SAME est_sim, emit one
      //    (new base, stored base) merge pair per distinct connection.
      val oldEpochs = sigTab.epochs(except = Some(epochId))
      val crossMerges: DataFrame =
        if (oldEpochs.isEmpty) noPairs(sess, "a", "b")
        else {
          val old = sigTab.read(oldEpochs)
            .select(col("doc_id"), col("sig"), col("base"))
          // NULL sigs excluded from banding on both sides — the
          // minhashPairsFromSigs rule (they can never pass est_sim)
          val oldKeys = Dedup.withBandKeys(
            old.where(col("sig").isNotNull), NumHashes, Bands)
          val newKeys = Dedup.withBandKeys(
            withBase.where(col("sig").isNotNull), NumHashes, Bands)
            .select(col("doc_id").as("n_id"), col("sig").as("n_sig"),
              col("base").as("n_base"), col("band"), col("band_key"))
          oldKeys.join(broadcast(newKeys),
              Seq("band", "band_key"))
            .where(col("doc_id") =!= col("n_id"))
            .where(Dedup.estSimCol(col("sig"), col("n_sig"), NumHashes)
              >= Threshold)
            .select(least(col("base"), col("n_base")).as("a"),
              greatest(col("base"), col("n_base")).as("b"))
            .distinct()
        }
      // 3. publish — sigs FIRST (see the crash-ordering argument in
      //    the object doc), each epoch partition overwritten wholesale.
      sigTab.write(epochId, withBase)
      mergeTab.write(epochId, crossMerges)
    } finally sigs.unpersist(blocking = false)
  }

  /** foreachBatch sink. `compactEvery` folds sigs by identity
    * (exactly-once row sets) and the merge log to its component
    * closure `(label, root)` — semantics-preserving (same connected
    * components) and shrinking (bounded by live labels, not edge
    * history). */
  def clusterSinkEachBatch(outDir: String, compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit = {
    val sess = batch.sparkSession
    ingestBatch(batch, outDir, epochId)
    // re-cluster the folded sig base by doc_id (the BloomStream
    // sortWithin rule): the expansion-seed and takedown-member reads
    // are pushed `doc_id isin` scans that skip on row-group stats
    sigStore(sess, outDir).fold(epochId, compactEvery,
      sortWithin = Seq("doc_id"))(identity)
    mergeStore(sess, outDir).fold(epochId, compactEvery)(foldMergeLog)
  }

  /** Fold a merge-pair relation to its `(label, root)` closure — every
    * label chained directly to its component minimum. Identity pairs
    * are dropped (a root needs no row). */
  private def foldMergeLog(pairs: DataFrame): DataFrame =
    Dedup.connectedComponents(
        pairs.select(col("a").as("id1"), col("b").as("id2")))
      .where(col("doc_id") =!= col("comp"))
      .select(col("doc_id").as("a"), col("comp").as("b"))

  // ——— serving reads ————————————————————————————————————————————————

  private def noPairs(spark: SparkSession, a: String, b: String) = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF(a, b)
  }

  private def readMerges(spark: SparkSession, outDir: String): DataFrame =
    mergeStore(spark, outDir).readOr(noPairs(spark, "a", "b"))
      .select(col("a"), col("b"))

  /** The merge log's component labels `(base, comp)` — a small
    * relation (driver-path folds come back as a broadcastable
    * LocalRelation). */
  private def mergeRoots(spark: SparkSession, outDir: String): DataFrame =
    Dedup.connectedComponents(
        readMerges(spark, outDir)
          .select(col("a").as("id1"), col("b").as("id2")))
      .select(col("doc_id").as("base"), col("comp"))

  /** The served cluster assignment `(doc_id, comp)` — one scan of the
    * two-column base relation, relabeled map-side through the folded
    * merge roots. Equals q167's `allc` (docs left-joined to the batch
    * component chain, singletons their own label) — the q168 oracle. */
  def assignmentTable(spark: SparkSession, outDir: String): DataFrame = {
    val sigs = sigStore(spark, outDir)
    if (sigs.epochs().isEmpty) return noPairs(spark, "doc_id", "comp")
    sigs.read().select(col("doc_id"), col("base"))
      .join(mergeRoots(spark, outDir), Seq("base"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("base")).as("comp"))
      .distinct()
  }

  /** Cascade expansion as a POINT READ: seed base labels come from a
    * pushed `doc_id isin` scan of the signature store (row-group
    * prune), roots from the folded merge log, members from ONE
    * map-side-relabeled scan of the base relation — no LSH, no
    * component iteration. Row-equal to
    * [[graft.operators.DocForget.clusterExpansion]]'s recompute over
    * the same ingested docs (spec-pinned). */
  def clusterExpansionFromTable(spark: SparkSession, outDir: String,
      seedIds: Seq[Long]): DataFrame = {
    val seeds = seedIds.distinct.sorted
    require(seeds.nonEmpty && seeds.size <= BloomSkip.MaxForgetKeys,
      s"cascade seeds must be 1..${BloomSkip.MaxForgetKeys}")
    if (sigStore(spark, outDir).epochs().isEmpty)
      return noPairs(spark, "doc_id", "comp")
    expansionWithRoots(spark, outDir, seeds, mergeRoots(spark, outDir))
  }

  /** [[clusterExpansionFromTable]]'s body with the merge-log fold
    * threaded in, so a caller that needs the fold for other steps too
    * (the takedown) pays it ONCE per call. */
  private def expansionWithRoots(spark: SparkSession, outDir: String,
      seeds: Seq[Long], roots: DataFrame): DataFrame = {
    import spark.implicits._
    val sigs = sigStore(spark, outDir).read()
    val seedBases = sigs.where(col("doc_id").isin(seeds: _*))
      .select(col("base")).distinct().as[Long].collect().toIndexedSeq
    if (seedBases.isEmpty) return noPairs(spark, "doc_id", "comp")
    // a seed base that WAS merged is not its own root — membership is
    // by folded root, so resolve every seed base through the log first
    val resolved = roots.where(col("base").isin(seedBases: _*))
      .select(col("base"), col("comp")).as[(Long, Long)].collect().toMap
    val finalRoots = seedBases.map(b => resolved.getOrElse(b, b))
      .distinct.sorted
    sigs.select(col("doc_id"), col("base"))
      .join(roots, Seq("base"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("base")).as("comp"))
      .where(col("comp").isin(finalRoots: _*))
      .distinct()
      .orderBy("doc_id")
  }

  /** [[clusterExpansionFromTable]] flattened to the member id list —
    * what `/docTakedown?cascade=1&source=table` expands with. */
  def expandFromTable(spark: SparkSession, outDir: String,
      seedIds: Seq[Long]): Seq[Long] = {
    val members = clusterExpansionFromTable(spark, outDir, seedIds)
      .select("doc_id").collect().map(_.getLong(0)).toIndexedSeq
    require(members.size <= BloomSkip.MaxForgetKeys,
      s"cluster cascade expanded to ${members.size} docs — beyond the " +
        s"${BloomSkip.MaxForgetKeys} batch cap; split the request")
    (seedIds ++ members).distinct.sorted
  }

  /** The one-shot batch twin of the table fold, for specs/oracles:
    * q167's `allc` — every doc labeled by its LSH component min,
    * singletons by their own id. */
  def batchAssignmentOn(docs: DataFrame): DataFrame = {
    val comps = Dedup.connectedComponents(
      Dedup.minhashLshPairsOn(docs, ShingleK, NumHashes, Bands,
        Threshold, ordered = false))
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
  }

  // ——— erasure (near-dup clustering under DELETES) ——————————————————

  /** What a [[takedownClusters]] pass did. */
  case class TakedownReport(membersExpanded: Long, rowsDeleted: Long,
      survivorsRelabeled: Long, sigEpochsRewritten: Long,
      mergeEpochsRewritten: Long)

  /** Right-to-erasure for the cluster table: delete the ids' signature
    * rows AND re-derive their components' survivors — the bridge-doc
    * case SPLITS a component, which no edge log can express, so
    * survivor components are recomputed CLUSTER-LOCALLY from retained
    * signatures (a pushed `doc_id isin` read — O(affected cluster),
    * never O(corpus)) and written back as fresh base labels with the
    * affected labels' merge rows dropped. Post-state invariant
    * (golden-twin spec): the table ≡ a fresh batch assignment over the
    * retained ingested docs. Idempotent: a second call finds no seed
    * bases and rewrites nothing. Single-writer discipline as the sink.
    *
    * CRASH-SAFE via a pending marker (the `_bloom.pending` discipline):
    * a crash between the signature rewrite and the merge-log hygiene
    * would otherwise strand stale merge rows FOREVER — the re-issued
    * takedown finds the ids gone and no-ops, and a stale row chaining
    * a survivor's kept base to a dissolved component's smaller label
    * mislabels the survivor from then on. `_forget.pending` records
    * (ids, members, labels) before the first mutation; the next
    * takedown or ingest replays the apply step from the recorded sets
    * (every sub-step is idempotent: the survivor relabel recomputes
    * from current signatures, the deletes and drops are filters), then
    * clears the marker. `afterSigRewrite` is the crash-injection test
    * seam. */
  def takedownClusters(spark: SparkSession, outDir: String,
      ids: Seq[Long],
      afterSigRewrite: () => Unit = () => ()): TakedownReport = {
    val del = ids.distinct.sorted
    require(del.nonEmpty && del.size <= BloomSkip.MaxForgetKeys,
      s"takedown ids must be 1..${BloomSkip.MaxForgetKeys}")
    val (sigTab, _) = claimTables(spark, outDir)
    healPendingForget(spark, outDir)
    import spark.implicits._
    if (sigTab.epochs().isEmpty) return TakedownReport(0L, 0L, 0L, 0L, 0L)
    // the merge-log fold, computed ONCE and threaded through the
    // expansion and the label-closure steps below
    val roots = mergeRoots(spark, outDir)
    // 1. expansion (point read): every member of the ids' components.
    val members = expansionWithRoots(spark, outDir, del, roots)
      .select("doc_id").as[Long].collect().toIndexedSeq
    if (members.isEmpty) return TakedownReport(0L, 0L, 0L, 0L, 0L)
    require(members.size <= BloomSkip.MaxForgetKeys,
      s"takedown touches ${members.size} cluster members — beyond the " +
        s"${BloomSkip.MaxForgetKeys} batch cap; split the request")
    val memberRows = sigTab.read().where(col("doc_id").isin(members: _*))
    val affectedBases = memberRows.select(col("base")).distinct()
      .as[Long].collect().toIndexedSeq
    // the affected components' FULL label set: every log label whose
    // root is an affected root (historical labels included)
    val affectedRoots = (affectedBases ++
        roots.where(col("base").isin(affectedBases: _*))
          .select(col("comp")).as[Long].collect())
      .distinct
    val affectedLabels = (affectedBases ++
        roots.where(col("comp").isin(affectedRoots: _*))
          .select(col("base")).as[Long].collect())
      .distinct.sorted
    writePending(outDir, del, members, affectedLabels)
    val report = applyTakedown(spark, outDir, del, members,
      affectedLabels, afterSigRewrite)
    clearPending(outDir)
    report
  }

  private def pendingPath(outDir: String) =
    s"$outDir/clusters/_forget.pending"

  /** Atomic (tmp+rename) marker: three comma-separated long lines —
    * ids, members, affected labels. */
  private def writePending(outDir: String, del: Seq[Long],
      members: Seq[Long], labels: Seq[Long]): Unit = {
    val f = new java.io.File(pendingPath(outDir))
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(f.getParent, "._forget.pending.tmp")
    java.nio.file.Files.write(tmp.toPath,
      (Seq(del, members, labels).map(_.mkString(","))
        .mkString("\n") + "\n").getBytes("UTF-8"))
    if (!tmp.renameTo(f)) {
      f.delete()
      require(tmp.renameTo(f), s"cannot publish $f")
    }
  }

  private def clearPending(outDir: String): Unit = {
    val f = new java.io.File(pendingPath(outDir))
    if (f.exists()) f.delete()
  }

  /** Re-apply a takedown a crash left half-done, from the marker's
    * recorded sets — called on entry by every WRITER (the next
    * takedown or the sink's next batch; reads between the crash and
    * the heal see the documented transient). */
  private def healPendingForget(spark: SparkSession,
      outDir: String): Unit = {
    val f = new java.io.File(pendingPath(outDir))
    if (!f.exists()) return
    val lines = new String(java.nio.file.Files.readAllBytes(f.toPath),
      "UTF-8").split("\n", -1)
    def longs(s: String): Seq[Long] =
      s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
    val (del, members, labels) =
      (longs(lines(0)), longs(lines(1)), longs(lines(2)))
    // replay even when the crashed takedown emptied the whole sig
    // store — the merge-log hygiene is exactly the step a crash at
    // that point still owes (a stale row would relink a re-ingested id
    // to the dissolved component's label)
    if (del.nonEmpty)
      applyTakedown(spark, outDir, del, members, labels, () => ())
    clearPending(outDir)
  }

  /** The mutation half of [[takedownClusters]] — idempotent per
    * sub-step so [[healPendingForget]] can replay it from any crash
    * point, including a crash inside a per-partition swap (the stores
    * heal before every read and rewrite). */
  private def applyTakedown(spark: SparkSession, outDir: String,
      del: Seq[Long], members: Seq[Long], affectedLabels: Seq[Long],
      afterSigRewrite: () => Unit): TakedownReport = {
    import spark.implicits._
    val sigs = sigStore(spark, outDir)
    val haveSigs = sigs.epochs().nonEmpty
    // 2. survivor recompute, cluster-local: retained members' pairs →
    //    fresh base labels (component splits fall out naturally).
    val survivors = members.filterNot(del.contains)
    val newBase: Map[Long, Long] =
      if (survivors.isEmpty || !haveSigs) Map.empty
      else {
        val survSigs = sigs.read()
          .where(col("doc_id").isin(survivors: _*))
          .select(col("doc_id"), col("sig")).distinct()
        val pairs = Dedup.minhashPairsFromSigs(survSigs, NumHashes, Bands,
            Threshold, ordered = false)
          .select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val roots = Dedup.unionFindRoots(pairs.toIndexedSeq)
        survivors.map(d => d -> roots.getOrElse(d, d)).toMap
      }
    // 3. rewrite the member epochs: deleted rows out, survivors
    //    relabeled in place. (During a heal replay, already-rewritten
    //    epochs re-rewrite to the same bytes and already-deleted rows
    //    are simply absent.)
    val nb = newBase.toSeq.toDF("doc_id", "nb")
    val sigRewrite = sigs.rewrite(col("doc_id").isin(members: _*),
      col("doc_id").isin(del: _*),
      _.join(broadcast(nb), Seq("doc_id"), "left")
        .select(col("doc_id"), col("sig"),
          coalesce(col("nb"), col("base")).as("base"), col("epoch")))
    afterSigRewrite()
    // 4. merge-log hygiene: drop every row touching an affected label
    //    (survivor bases are final — recomputed globally within their
    //    clusters — so no replacement rows are needed).
    val mergeEpochs =
      if (affectedLabels.isEmpty) 0L
      else {
        val touchesAffected = col("a").isin(affectedLabels: _*) ||
          col("b").isin(affectedLabels: _*)
        mergeStore(spark, outDir).rewrite(touchesAffected, touchesAffected,
          _.select(col("a"), col("b"), col("epoch"))).touched
      }
    TakedownReport(members.size.toLong, sigRewrite.deleted,
      newBase.size.toLong, sigRewrite.touched, mergeEpochs)
  }

  // ——— q168/q169: batch-driver build over the test corpus ———————————

  /** Deterministic epoch split for the oracle-gated build: three
    * batches by `doc_id % 3`, folded through the SAME [[ingestBatch]]
    * the streaming sink uses. */
  val BuildEpochs = 3

  private val gen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Table stores: slot the dir, version the documents fingerprint; a
    * corpus refresh hands the superseded store to the deferred reaper,
    * so a long-lived server does not keep one store per refresh. */
  private[graft] val tableMemo = new graft.Memo[String, Long, String](
    retire = (dir, stale) => graft.IndexGc.retire(s"clustab:$dir", stale))

  /** Post-takedown stores: slot (dir, ids), version the fingerprint. */
  private[graft] val forgetMemo = new graft.Memo[(String, Seq[Long]), Long, String](
    retire = { case ((dir, ks), stale) =>
      graft.IndexGc.retire(s"clusforget:$dir:${ks.mkString(",")}", stale) })

  private def fingerprintOf(spark: SparkSession, dir: String): Long =
    graft.Tables.fingerprint(dir, "documents")

  private def buildStore(spark: SparkSession, dir: String,
      root: String): String = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    (0 until BuildEpochs).foreach { e =>
      ingestBatch(docs.where(pmod(col("doc_id"), lit(BuildEpochs))
        === e), root, e.toLong)
    }
    root
  }

  /** Whether the corpus's table store is already built — the serving
    * layer's load-shed gate check. */
  def isTableMemoized(spark: SparkSession, dir: String): Boolean =
    tableMemo.isBuilt(dir, fingerprintOf(spark, dir))

  /** The (built-on-first-use, then memoized) table store for a test
    * corpus directory — what the HTTP `source=table` paths read. */
  def tableFor(spark: SparkSession, dir: String): String =
    storeFor(spark, dir)

  private def storeFor(spark: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    tableMemo.get(dir, fingerprintOf(spark, dir)) {
      val root = sys.props("java.io.tmpdir") +
        s"/graft-clustab-$tag-p${ProcessHandle.current().pid()}" +
        s"-g${gen.incrementAndGet()}"
      buildStore(spark, dir, root)
    }
  }

  /** q168: the incrementally maintained assignment over the corpus
    * ingested in [[BuildEpochs]] deterministic batches — oracle-equal
    * to the one-shot recursive-CTE component chain (q167's `allc`). */
  def assignmentFor(spark: SparkSession, dir: String): DataFrame =
    assignmentForUnordered(spark, dir).orderBy("doc_id")

  /** [[assignmentFor]] without the presentation sort — for
    * compositions (q170's canonical selection) that re-partition
    * downstream anyway; the sort would be a pure extra range
    * exchange. */
  def assignmentForUnordered(spark: SparkSession, dir: String): DataFrame =
    assignmentTable(spark, storeFor(spark, dir))

  /** q169: the assignment AFTER an in-place cluster takedown of `ids`
    * — oracle-equal to the batch component chain over the RETAINED
    * documents (near-dup clustering under deletes, value-gated). */
  def forgottenAssignmentFor(spark: SparkSession, dir: String,
      ids: Seq[Long]): DataFrame = {
    val ks = ids.distinct.sorted
    val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
    val root = forgetMemo.get((dir, ks), fingerprintOf(spark, dir)) {
      val r = sys.props("java.io.tmpdir") +
        s"/graft-clusforget-$tag-p${ProcessHandle.current().pid()}" +
        s"-g${gen.incrementAndGet()}"
      buildStore(spark, dir, r)
      takedownClusters(spark, r, ks)
      r
    }
    assignmentTable(spark, root).orderBy("doc_id")
  }
}
