package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Dict
import graft.Tables
import graft.functions.TextFunctions._

/** The composed training-data curation pass — the pipeline the individual
  * operators exist for, as one declarative plan Catalyst optimizes
  * end-to-end:
  *
  *   1. exact dedup: keep the lowest doc_id per canonical fingerprint
  *      (window rank on the fp — one shuffle);
  *   2. quality gate: composite quality score ≥ `minQuality` (map-only,
  *      rides the same stage);
  *   3. per-language quota: deterministic hash-rank ≤ `quotaPerLang`
  *      (data mixing — one shuffle on the stratum key).
  *
  * Each stage's semantics is individually oracle-verified (q16, q20,
  * q48); this composition is itself hash-verified as q50. At 100 TB the
  * same plan holds: two shuffles total, everything else rides the scan.
  */
object Curation {

  /** Per-JVM memo for [[corpusBuild]]'s three gate models: slot the
    * dir, version the documents-file fingerprint. */
  private[graft] val gateModelMemo = new graft.Memo[String, Long,
    (LangModel.BigramModel, Array[Long], LangModel.OddsModel)]

  /** The frozen model-gate thresholds a reference corpus induces —
    * what a STREAM wires into [[graft.streaming.DocStream.curate]]'s
    * absolute `maxPpxMicros` / `minDsirMicros` / `minOddsMicros`
    * parameters. [[corpusBuild]] computes these cutoffs fresh per run
    * (corpus-relative — see its scaladoc); a stream cannot rank
    * against data it has not seen yet, so it gates against the
    * cutoffs its reference corpus froze — train-then-freeze, exactly
    * the model-artifact discipline. `None` = the reference had no
    * scoreable docs for that signal (gate passes everything, like the
    * NULL-score contract). */
  final case class GateCutoffs(maxPpxMicros: Option[Long],
      minDsirMicros: Option[Long], minOddsMicros: Option[Long])

  /** Freeze [[GateCutoffs]] from the corpus at `dir`: the same scrub →
    * train → score → exact-order-statistic computation the batch build
    * performs, returning the thresholds instead of building. The spec
    * pins the freeze faithful: re-gating the reference corpus with
    * these ABSOLUTE cutoffs reproduces the build's percentile-gated
    * doc set exactly. */
  def trainGateCutoffs(spark: SparkSession, dir: String,
      ppxKeepPct: Int = 90, dsirKeepPct: Int = 90,
      oddsKeepPct: Int = 90): GateCutoffs = {
    val flaggedC = gateSignals(spark, dir)
    cutoffsOf(flaggedC, ppxKeepPct, dsirKeepPct, oddsKeepPct)
  }

  /** The trained gate models for `dir` (memoized) — what a stream
    * ships alongside [[trainGateCutoffs]]' thresholds. */
  def trainGateModels(spark: SparkSession, dir: String)
      : (LangModel.BigramModel, Array[Long], LangModel.OddsModel) = {
    val scrubbed = graft.Caches.register(Tables.documents(spark, dir)
      .withColumn("text", Pii.redactText(col("text"))).cache())
    gateModels(dir, scrubbed)
  }

  private def gateModels(dir: String, scrubbed: DataFrame)
      : (LangModel.BigramModel, Array[Long], LangModel.OddsModel) = {
    gateModelMemo.get(dir, Tables.fingerprint(dir, "documents"))(
      (LangModel.trainModelOn(scrubbed),
        Sampling.trainDsirOn(scrubbed, col("lang") === "en"),
        LangModel.trainOddsOn(scrubbed)))
  }

  /** Per-JVM memo for the checkpointed per-doc signal relation, keyed
    * like the models — a deterministic function of the corpus files,
    * computed once per fingerprint (a repeated build, or cutoff
    * training followed by a build, scores the corpus once). An evicted
    * (the corpus was rewritten in place) or cleared relation releases
    * its checkpointed blocks instead of leaving them to RDD GC timing:
    * no caller may hold an evicted frame — the fingerprint it was built
    * from no longer exists on disk. */
  private[graft] val gateSignalMemo = new graft.Memo[String, Long, DataFrame](
    release = graft.Caches.releaseCheckpoint)

  /** Scrub → (memoized) model training → the ONE scan projection that
    * computes every text-derived signal — gate scores, dedup
    * fingerprint, the near-dup minhash SIGNATURE, and the pack length
    * — eagerly materialized with lineage CUT (localCheckpoint): the
    * cutoff jobs and the whole downstream pipeline read checkpointed
    * blocks with tiny closures instead of re-shipping megabyte model
    * literals per action (cache() alone measured 2× slower: six
    * driver actions each reserialized the model-laden plan). After
    * this projection `text` is GONE — no later stage ever shuffles
    * the corpus body, only ~200 B of signals per doc (the q50
    * no-text-shuffle audit, held by the whole composition). The
    * final blocks stay persisted behind the returned lazy frames —
    * LRU-evictable, the connectedComponents convention. */
  private def gateSignals(spark: SparkSession, dir: String): DataFrame = {
    gateSignalMemo.get(dir, Tables.fingerprint(dir, "documents")) {
      val scrubbed = graft.Caches.register(Tables.documents(spark, dir)
        .withColumn("text", Pii.redactText(col("text"))).cache())
      val (ppxM, dsirT, oddsM) = gateModels(dir, scrubbed)
      scrubbed.select(
        col("doc_id"), col("lang"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        qualityScore(col("text")).as("quality"),
        gopherKeep(col("text")).as("g_shape"),
        gopherRepetitionKeep(col("text")).as("g_rep"),
        LangModel.scoreColumn(ppxM, col("text")).as("ppx"),
        org.apache.spark.sql.graft.TextExpressions
          .dsirScoreMicros(col("text"), Dict.longs(dsirT)).as("dsir"),
        LangModel.oddsScoreColumn(oddsM, col("text")).as("odds"),
        fingerprint(col("text")).as("fp"),
        org.apache.spark.sql.graft.TextExpressions
          .minHashSig(col("text"), 3, 16).as("sig"))
        .localCheckpoint()
    }
  }

  /** Exact order-statistic cutoffs over the checkpointed signal
    * relation: keep the best `pct`% of scored docs per signal, ties
    * at the cutoff included (see the corpus-relative note in
    * [[corpusBuild]]'s body). */
  private def cutoffsOf(flaggedC: DataFrame, ppxKeepPct: Int,
      dsirKeepPct: Int, oddsKeepPct: Int): GateCutoffs = {
    def cut(c: String, pct: Int, low: Boolean): Option[Long] = {
      val scored = flaggedC.where(col(c).isNotNull)
      val n = scored.count()
      if (n == 0) None
      else {
        val k = math.max(1L, n * pct / 100).toInt
        val ranked =
          if (low) scored.orderBy(col(c), col("doc_id")).limit(k)
            .agg(max(col(c)))
          else scored.orderBy(col(c).desc, col("doc_id")).limit(k)
            .agg(min(col(c)))
        Some(ranked.first().getLong(0))
      }
    }
    GateCutoffs(cut("ppx", ppxKeepPct, low = true),
      cut("dsir", dsirKeepPct, low = false),
      cut("odds", oddsKeepPct, low = false))
  }

  def curate(spark: SparkSession, dir: String, minQuality: Double = 0.5,
      quotaPerLang: Int = 100, salt: String = "curate"): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // fp AND quality in the scan-side projection, then `text` is DROPPED:
    // the fp-window shuffle carries only (doc_id, lang, fp, quality) —
    // ~50 B/row instead of the document body, which at 100 TB is the
    // difference between shuffling the corpus and shuffling a key table.
    // quality is a single-fold expression (see TextFunctions.qualityScore)
    // evaluated exactly once per doc here; downstream filters reference
    // the materialized column, and the quality predicate cannot be pushed
    // below the window (not a partition key), so it is never re-derived
    // from text. Semantics unchanged: dedup picks keepers by (fp, doc_id)
    // alone, THEN the quality gate applies to keepers.
    // keeper per fp as a min(struct) AGGREGATE, not a row_number window
    // (guide §2.3): partial map-side combine ships one candidate per
    // (fp, partition) instead of every doc row, and no sort runs.
    // Identical selection — doc_id leads the struct and is unique, so
    // the lexicographic min IS the smallest-doc_id row.
    val keepers = docs
      .select(col("doc_id"), col("lang"),
        fingerprint(col("text")).as("fp"),
        qualityScore(col("text")).as("quality"))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("lang"), col("quality"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.lang").as("lang"),
        col("k.quality").as("quality"))
    keepers
      .where(col("quality") >= minQuality)
      .withColumn("rk", Sampling.hashRank("lang", salt))
      .where(col("rk") <= quotaPerLang)
      .select("doc_id", "lang", "quality", "rk")
      .orderBy("doc_id")
  }

  /** THE one-command corpus build (q112) — the full curation family
    * composed into a single gated batch entry, the pipeline a training
    * corpus actually ships through:
    *
    *   scrub → {quality, Gopher shape, Gopher repetition, perplexity,
    *   DSIR, odds-classifier} gates → exact dedup → MinHash-LSH
    *   near dedup → trained-cell semantic dedup → domain cap →
    *   mixture epochs → sequence packing
    *
    * Output: the BUILD MANIFEST — one row per kept (doc, epoch) with
    * its packed shard position `(doc_id, epoch, block, n_tokens,
    * start_tok, bin)`. Every upstream decision is observable through
    * it (a wrongly gated/deduped/capped doc changes the manifest), so
    * one oracle gates the whole composition; each stage's semantics is
    * additionally gated by its standalone query (q77, q20, q96, q101,
    * q87, q97, q103, q16, q24/q53, q82, q85, q89, q59).
    *
    * Composition semantics (all deterministic, all content-addressed):
    *  - every model and signal reads the SCRUBBED text (PII redaction
    *    first, the streaming `DocStream.curate` order);
    *  - the three reference models (bigram perplexity, DSIR buckets,
    *    odds classifier) train on the scrubbed corpus's `en` slice /
    *    labels, then score map-side — the gates share ONE scan with
    *    the quality/Gopher signals, the dedup fingerprint, and the
    *    pack length;
    *  - unscoreable docs PASS the model gates (NULL ppx/dsir/odds —
    *    the streaming contract);
    *  - dedup keeps the LOWEST doc_id (per fingerprint, per near-dup
    *    component, per semantic component); the semantic stage trains
    *    its k-means on the SURVIVORS' embeddings with the measured
    *    corpus-relative cell count, and a doc with no embedding row
    *    does not survive it (no vector → no semantic verdict);
    *  - domain cap, mixture, and packing run on survivors with the
    *    q85/q89/q59 arithmetic (md5-addressed, integer-exact).
    *
    * Scale: one corpus scan computes all eight per-doc signals; the
    * gates drop mass BEFORE any pair machinery runs; every later stage
    * shuffles thin key relations, never text (the near-dup stage
    * carries signature arrays, the semantic stage vectors of the
    * survivor subset). The expensive stages are all the standalone
    * operators unchanged, so their 100 TB postures carry over. */
  def corpusBuild(spark: SparkSession, dir: String,
      minQuality: Double = 0.5,
      ppxKeepPct: Int = 90,
      dsirKeepPct: Int = 90,
      oddsKeepPct: Int = 90,
      nearThreshold: Double = 0.5,
      semThreshold: Double = 0.3,
      domainCap: Int = 100,
      packBudget: Int = 2048,
      packBlocks: Int = 8): DataFrame = {
    // the manifest is a BUILD ARTIFACT — a pure function of the corpus
    // files and the build parameters — so it builds once per
    // (fingerprint, params) and every consumer (the report, a repeated
    // build, a downstream exporter) reads the checkpointed result: the
    // IvfIndex.trainCached / gate-model discipline applied to the
    // build output itself. An in-place corpus rewrite changes the
    // fingerprint and forces a fresh build.
    val version = (Tables.fingerprint(dir, "documents"),
      buildParamKey(minQuality, ppxKeepPct, dsirKeepPct, oddsKeepPct,
        nearThreshold, semThreshold, domainCap, packBudget, packBlocks))
    manifestMemo.get(dir, version) {
      corpusBuildStages(spark, dir, minQuality, ppxKeepPct,
        dsirKeepPct, oddsKeepPct, nearThreshold, semThreshold,
        domainCap, packBudget, packBlocks)("manifest")
        .localCheckpoint()
    }
  }

  /** Per-JVM memo for the finished build manifest (see [[corpusBuild]]):
    * slot the dir, version (fingerprint, build params). Evicted and
    * cleared manifests release their checkpoint blocks eagerly (the
    * gateSignalMemo rule): a long-lived serving JVM that rebuilds after
    * corpus rewrites must reclaim storage deterministically, so a frame
    * obtained before a clear must not be actioned again. */
  private[graft] val manifestMemo = new graft.Memo[String, (Long, String), DataFrame](
    release = graft.Caches.releaseCheckpoint)

  private def buildParamKey(minQuality: Double, ppxKeepPct: Int,
      dsirKeepPct: Int, oddsKeepPct: Int, nearThreshold: Double,
      semThreshold: Double, domainCap: Int, packBudget: Int,
      packBlocks: Int): String =
    s"$minQuality|$ppxKeepPct|$dsirKeepPct|$oddsKeepPct|" +
      s"$nearThreshold|$semThreshold|$domainCap|$packBudget|$packBlocks"

  /** Sidecar name for the published-manifest identity (see
    * [[publishBuild]]). */
  private val BuildSidecar = "_build_manifest.json"

  /** Publish [[corpusBuild]]'s manifest as a real block-partitioned
    * parquet table under `outDir` — the cross-session/cross-host form
    * of the per-JVM memo: a restartable build artifact another JVM can
    * [[loadBuild]] without re-paying the train+score+dedup cost. The
    * manifest is a pure function of (corpus fingerprint, build params),
    * so the published identity is exactly the memo key, recorded in a
    * `_build_manifest.json` sidecar.
    *
    * Publish protocol (the [[graft.streaming.DocStream]] sink
    * discipline): data partitions go through
    * [[graft.streaming.PartitionedUpsert]] (atomic per-partition swap —
    * a committed copy of every partition exists at every instant), and
    * the identity sidecar is written LAST via atomic tmp+rename. A
    * crash anywhere in between leaves either the old sidecar (readers
    * see the previous complete build) or none (readers rebuild) —
    * never a sidecar pointing at half-published data. Blocks partition
    * the table because that is the consumer's access pattern: a
    * training shard reader pulls its own block's slice, prunable by
    * partition. */
  def publishBuild(spark: SparkSession, dir: String, outDir: String,
      minQuality: Double = 0.5,
      ppxKeepPct: Int = 90,
      dsirKeepPct: Int = 90,
      oddsKeepPct: Int = 90,
      nearThreshold: Double = 0.5,
      semThreshold: Double = 0.3,
      domainCap: Int = 100,
      packBudget: Int = 2048,
      packBlocks: Int = 8): Unit = {
    val manifest = corpusBuild(spark, dir, minQuality, ppxKeepPct,
      dsirKeepPct, oddsKeepPct, nearThreshold, semThreshold, domainCap,
      packBudget, packBlocks)
    graft.streaming.PartitionedUpsert.upsert(manifest, outDir, "block",
      Seq.empty)
    // PartitionedUpsert only swaps partitions PRESENT in the new
    // manifest — a republish with fewer populated blocks (packBlocks
    // reduced, a rewrite emptying a block, or a gates-empty corpus)
    // would otherwise leave the previous build's block= directories on
    // disk, and loadBuild (sidecar-validated, reads every block= dir)
    // would silently mix the stale rows in. Remove them BEFORE the
    // sidecar flips to the new identity, so the sidecar never
    // describes a directory set containing another build's blocks.
    val keep = manifest.select(col("block")).distinct().collect()
      .map(r => "block=" + Option(r.get(0)).map(_.toString)
        .getOrElse("__HIVE_DEFAULT_PARTITION__")).toSet
    Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
      if (f.isDirectory && f.getName.startsWith("block=") &&
          !keep.contains(f.getName))
        graft.AtomicSwap.deleteRecursively(f)
    })
    val fp = Tables.fingerprint(dir, "documents")
    val params = buildParamKey(minQuality, ppxKeepPct, dsirKeepPct,
      oddsKeepPct, nearThreshold, semThreshold, domainCap, packBudget,
      packBlocks)
    val json = s"""{"fingerprint":$fp,"params":"$params"}"""
    val tmp = new java.io.File(outDir, s".$BuildSidecar.tmp")
    val dst = new java.io.File(outDir, BuildSidecar)
    java.nio.file.Files.write(tmp.toPath,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (!tmp.renameTo(dst)) {
      dst.delete()
      require(tmp.renameTo(dst), s"cannot publish $dst")
    }
  }

  /** The published identity sidecar, or None if no complete build has
    * been published under `outDir`. */
  private def readSidecar(outDir: String): Option[(Long, String)] = {
    val f = new java.io.File(outDir, BuildSidecar)
    if (!f.exists()) None
    else {
      val s = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val re = """\{"fingerprint":(-?\d+),"params":"([^"]*)"\}""".r
      s match {
        case re(fp, params) => Some((fp.toLong, params))
        case _ => None
      }
    }
  }

  /** Read a published build manifest back, VALIDATED against the
    * corpus it claims to describe: the sidecar's (fingerprint, params)
    * must match the current corpus at `dir` and the requested
    * parameters — a stale manifest (corpus rewritten since the
    * publish, or different build knobs) fails loudly instead of
    * feeding a training run rows that no longer describe the data.
    * Row-identical to the memoized [[corpusBuild]] (spec-pinned). */
  def loadBuild(spark: SparkSession, dir: String, outDir: String,
      minQuality: Double = 0.5,
      ppxKeepPct: Int = 90,
      dsirKeepPct: Int = 90,
      oddsKeepPct: Int = 90,
      nearThreshold: Double = 0.5,
      semThreshold: Double = 0.3,
      domainCap: Int = 100,
      packBudget: Int = 2048,
      packBlocks: Int = 8): DataFrame = {
    val want = (Tables.fingerprint(dir, "documents"),
      buildParamKey(minQuality, ppxKeepPct, dsirKeepPct, oddsKeepPct,
        nearThreshold, semThreshold, domainCap, packBudget, packBlocks))
    val got = readSidecar(outDir)
    require(got.contains(want),
      s"loadBuild: no published manifest under $outDir matching the " +
        s"corpus at $dir with these build parameters (published=" +
        s"$got, wanted=$want) — run publishBuild, or fix the " +
        "corpus/params mismatch")
    // a gates-empty corpus publishes zero partitions (the sidecar alone
    // IS the complete build) — parquet inference has nothing to read
    val hasParts = Option(new java.io.File(outDir).listFiles())
      .exists(_.exists(f => f.isDirectory && f.getName.startsWith("block=")))
    if (!hasParts)
      return spark.range(0).select(
        col("id").as("doc_id"), col("id").as("epoch"),
        col("id").as("block"), col("id").as("n_tokens"),
        col("id").as("start_tok"), col("id").as("bin"))
    // partition discovery restores `block` (inferred as INT — cast
    // back) and appends it last — restore the manifest's column order
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("epoch"),
        col("block").cast("long").as("block"), col("n_tokens"),
        col("start_tok"), col("bin"))
      .orderBy("doc_id", "epoch")
  }

  /** The restartable build: read the published manifest if its
    * identity matches (another session/host already paid the build),
    * otherwise build, publish, and return it. The q112/q113 entries
    * keep using [[corpusBuild]] directly — this is the deployment
    * wrapper for multi-session corpus assembly. */
  def corpusBuildPersistent(spark: SparkSession, dir: String,
      outDir: String,
      minQuality: Double = 0.5,
      ppxKeepPct: Int = 90,
      dsirKeepPct: Int = 90,
      oddsKeepPct: Int = 90,
      nearThreshold: Double = 0.5,
      semThreshold: Double = 0.3,
      domainCap: Int = 100,
      packBudget: Int = 2048,
      packBlocks: Int = 8): DataFrame = {
    val want = (Tables.fingerprint(dir, "documents"),
      buildParamKey(minQuality, ppxKeepPct, dsirKeepPct, oddsKeepPct,
        nearThreshold, semThreshold, domainCap, packBudget, packBlocks))
    if (!readSidecar(outDir).contains(want))
      publishBuild(spark, dir, outDir, minQuality, ppxKeepPct,
        dsirKeepPct, oddsKeepPct, nearThreshold, semThreshold,
        domainCap, packBudget, packBlocks)
    loadBuild(spark, dir, outDir, minQuality, ppxKeepPct, dsirKeepPct,
      oddsKeepPct, nearThreshold, semThreshold, domainCap, packBudget,
      packBlocks)
  }

  /** [[corpusBuild]] with every intermediate stage observable — the
    * spec/debug window into the composition: keys `flagged`, `gated`,
    * `exact`, `near`, `sem`, `capped`, `epochs`, `manifest`. */
  private[graft] def corpusBuildStages(spark: SparkSession, dir: String,
      minQuality: Double = 0.5,
      ppxKeepPct: Int = 90,
      dsirKeepPct: Int = 90,
      oddsKeepPct: Int = 90,
      nearThreshold: Double = 0.5,
      semThreshold: Double = 0.3,
      domainCap: Int = 100,
      packBudget: Int = 2048,
      packBlocks: Int = 8): Map[String, DataFrame] = {
    // The three model gates are CORPUS-RELATIVE, not absolute: ppx
    // scales with the trained vocabulary (v rides every smoothed
    // term), and dsir/odds recentre as the corpus mix shifts — a
    // fixed threshold that reads "drop the worst 10%" at one SF
    // rejects an entire 10× corpus (measured: the sf1 amplification's
    // token salting inflated every ppx past a gate-SF constant). Each
    // cutoff is an EXACT order statistic (the q79 percentile-cutoff
    // pattern): keep the best `pct`% of scored docs, ties at the
    // cutoff included, NULL (unscoreable) passes — deterministic and
    // replayable in SQL at any scale. Streams freeze these cutoffs
    // from a reference corpus instead ([[trainGateCutoffs]]).
    val flaggedC = gateSignals(spark, dir)
    val cuts = cutoffsOf(flaggedC, ppxKeepPct, dsirKeepPct, oddsKeepPct)
    val ppxCut = cuts.maxPpxMicros
    val dsirCut = cuts.minDsirMicros
    val oddsCut = cuts.minOddsMicros
    val gated = flaggedC.where(
      col("quality") >= minQuality && col("g_shape") && col("g_rep") &&
        (col("ppx").isNull ||
          col("ppx") <= lit(ppxCut.getOrElse(Long.MaxValue))) &&
        (col("dsir").isNull ||
          col("dsir") >= lit(dsirCut.getOrElse(Long.MinValue))) &&
        (col("odds").isNull ||
          col("odds") >= lit(oddsCut.getOrElse(Long.MinValue))))
      .select("doc_id", "source", "n_tokens", "fp", "sig")
    // exact-dedup keeper via min(struct) aggregate (see canonicalQuota's
    // keepers): map-side partial combine, no sort; doc_id leads and is
    // unique, so selection is identical to the smallest-doc_id window
    val exact = graft.Caches.register(gated
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"),
        col("sig"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.source").as("source"),
        col("k.n_tokens").as("n_tokens"), col("fp"), col("k.sig").as("sig"))
      .cache())
    val nearPairs = Dedup
      .minhashPairsFromSigs(exact.select("doc_id", "sig"),
        threshold = nearThreshold, ordered = false)
      .select("id1", "id2")
    val nearComps = Dedup.connectedComponents(nearPairs)
    val near = graft.Caches.register(exact
      .join(nearComps, Seq("doc_id"), "left")
      .where(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("comp")
      .cache())
    val semVerdict = Similarity.semanticDedupIvfOn(
      Tables.embeddings(spark, dir)
        .join(near.select(col("doc_id").as("vec_id")), Seq("vec_id")),
      threshold = semThreshold)
    val sem = near.join(
      semVerdict.where(col("keep") === 1)
        .select(col("vec_id").as("doc_id")),
      Seq("doc_id"))
    val capped = graft.Caches.register(sem
      .join(Sampling.domainCapOn(sem, domainCap).select("doc_id"),
        Seq("doc_id"))
      .cache())
    val epochs = Sampling.mixtureEpochsOn(capped)
    val d = epochs
      .join(capped.select("doc_id", "n_tokens"), Seq("doc_id"))
      .select(col("doc_id"), col("epoch"), col("n_tokens"),
        pmod(md5Long(concat(lit("build:"), col("doc_id").cast("string"),
          lit(":"), col("epoch").cast("string"))),
          lit(packBlocks.toLong)).as("block"))
    val w = Window.partitionBy("block").orderBy("doc_id", "epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val manifest = d
      .withColumn("start_tok", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("bin", col("block") * lit(Packing.BinStride)
        + expr(s"start_tok div $packBudget"))
      .select("doc_id", "epoch", "block", "n_tokens", "start_tok", "bin")
      .orderBy("doc_id", "epoch")
    Map("flagged" -> flaggedC, "gated" -> gated, "exact" -> exact,
      "near" -> near, "sem" -> sem, "capped" -> capped,
      "epochs" -> epochs, "manifest" -> manifest)
  }

  /** q113: the build's SHARD REPORT — the audit view a training run
    * reads before consuming the packed corpus: per pack block, the
    * packed (doc, epoch) row count, distinct documents, total tokens,
    * and occupied bins. One aggregation over [[corpusBuild]]'s
    * manifest; block sizing skew (the thing that makes one shard
    * finish late at 100 TB) is read straight off `total_tokens`. */
  def buildReport(spark: SparkSession, dir: String): DataFrame =
    corpusBuild(spark, dir)
      .groupBy("block")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("bin")).as("n_bins"))
      .orderBy("block")

  /** Near-dup canonical selection — the decision a dedup pipeline
    * actually ships: for every near-dup cluster (MinHash-LSH pairs →
    * connected components, the q24/q53 machinery) keep exactly ONE
    * member, the highest-quality document (ties → lowest doc_id);
    * unclustered documents are their own cluster and keep themselves.
    * Output: every doc with (comp, quality, keep ∈ {0,1}).
    *
    * Scale: the component labels are pair-derived (tiny next to the
    * corpus); the corpus side joins and windows on (doc_id, quality) —
    * the text never leaves the scan stage. Cluster groups are near-dup
    * sets, so the keep-window partitions are small by construction. */
  def canonicalDocs(spark: SparkSession, dir: String): DataFrame =
    canonicalWithComps(Tables.documents(spark, dir),
      Dedup.connectedComponents(
        Dedup.minhashLshPairs(spark, dir, ordered = false)))

  /** [[canonicalDocs]]'s keeper-selection tail over an explicit
    * component relation — the q170 composition feeds it the
    * STREAM-MAINTAINED cluster assignment
    * ([[graft.streaming.ClusterStream.assignmentTable]]) instead of
    * re-deriving MinHash-LSH + components per call, so canonical
    * selection inherits the table's point-read economics (the q167→
    * q168 move applied to q60). `comps` may label a subset (missing
    * docs default to their own id) or every doc. */
  def canonicalWithComps(docs: DataFrame, comps: DataFrame): DataFrame = {
    val q = docs
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    q.join(comps, Seq("doc_id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
      .withColumn("keep",
        when(row_number().over(Window.partitionBy("comp")
          .orderBy(desc("quality"), col("doc_id"))) === 1, lit(1))
          .otherwise(lit(0)))
      .select("doc_id", "comp", "quality", "keep")
      .orderBy("doc_id")
  }

  /** Corpus report card — the audit rollup every curation run publishes:
    * per (source, lang) document and token totals, exact-duplicate
    * count, mean quality, and PII incidence. ONE corpus scan computes
    * every per-doc signal (tokens, fixed-point quality, fingerprint,
    * PII flag) in the same projection, then one aggregation rolls them
    * up — at 100 TB the shuffle carries ~60 B/row key signals, never
    * text, and the output is |sources|×|langs| rows.
    *
    * Determinism discipline: every aggregate is an INTEGER sum/count
    * (fixed-point basis-point quality, the q64 trick), so no
    * double-accumulation order can flip the hash gate; the one division
    * (mean quality) happens once per GROUP on exact integer inputs. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        tokenCount(col("text")).cast("long").as("n_toks"),
        floor(qualityScore(col("text")) * 10000 + lit(0.5))
          .cast("long").as("q_bp"),
        md5(col("text")).as("fp"),
        ((regexp_count(col("text"), lit(Pii.EmailRe))
          + regexp_count(col("text"), lit(Pii.Ipv4Re))
          + regexp_count(col("text"), lit(Pii.PhoneRe))) > 0)
          .cast("long").as("pii"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_toks").as("total_tokens"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_exact_dups"),
        floor(sum("q_bp") / count(lit(1)) + lit(0.5)).cast("long")
          .as("mean_quality_bp"),
        sum("pii").as("n_pii_docs"))
      .orderBy("source", "lang")

  /** Stopwords two or more of which a document must contain to clear
    * the Gopher stop-word rule — the published rule's shape with the
    * repo's fixed deterministic list (the paper uses
    * the/be/to/of/and/that/have/with). */
  val GopherStopwords: Seq[String] = enStopwords

  /** q96: the Gopher quality-filter RULESET (Rae et al. 2021,
    * Appendix A1.1 — public recipe) as explicit per-document rule
    * flags, not a blended score: real pipelines report and tune each
    * rule independently (how many docs fail ONLY the word-count rule?)
    * and a training-data audit needs the per-rule breakdown, which the
    * composite q20 score cannot give. Line-shape rules (bullet/ellipsis
    * line ratios) are omitted: this corpus is single-line, and they
    * would be untestable flags — the token-shape subset implemented
    * here is the one every text corpus exercises.
    *
    * Every rule is an INTEGER comparison — no ratio is ever
    * materialized as a float (`3·n ≤ Σlen ≤ 10·n` IS "mean word length
    * in [3,10]"), so the flags are bit-stable across engines by
    * construction, stronger than the roundStable discipline the float
    * queries need. `wlen_micros` is exposed for observability as exact
    * integer micros (floor division).
    *
    * Rules: r_wordcount 50 ≤ n ≤ 100000; r_wordlen mean word length in
    * [3,10]; r_symbol (# + ellipsis occurrences) ≤ 0.1·n; r_alpha ≥80%
    * of words contain a letter; r_stop ≥2 distinct [[GopherStopwords]];
    * keep = all pass. Zero-token docs fail everything (keep 0).
    *
    * Scale shape: map-only — one tokenization in the scan projection
    * feeds every rule; the only exchange is the output sort. At 100 TB
    * this is the gate that runs FIRST (before any dedup shuffle) so
    * downstream stages never pay for documents a scan-side rule
    * already rejected. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesOn(Tables.documents(spark, dir))

  /** The [[gopherRules]] verdict as ONE boolean Column — the composable
    * gate form [[graft.streaming.DocStream.curate]] applies map-side
    * (pinned equal to the batch flags' `keep` by `PackingCurationSpec`
    * and the `PipelineSpec` batch-equivalence case). Conjunction of the
    * five integer rules; zero-token docs fail. */
  def gopherKeep(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("long")
    val sumLen = coalesce(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long")),
      lit(0L))
    val nSym = (regexp_count(text, lit("#"))
      + regexp_count(text, lit("\\.\\.\\."))).cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(array_intersect(array_distinct(toks),
      array(GopherStopwords.map(lit): _*))).cast("long")
    n >= 50 && n <= 100000 &&
      lit(3L) * n <= sumLen && sumLen <= lit(10L) * n &&
      lit(10L) * nSym <= n &&
      lit(5L) * nAlpha >= lit(4L) * n &&
      nStop >= 2
  }

  /** [[gopherRules]] over an explicit (doc_id, text) relation. */
  def gopherRulesOn(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks).cast("long")
    val sumLen = coalesce(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast("long")),
      lit(0L))
    val nSym = (regexp_count(col("text"), lit("#"))
      + regexp_count(col("text"), lit("\\.\\.\\."))).cast("long")
    val nAlpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(array_intersect(array_distinct(toks),
      array(GopherStopwords.map(lit): _*))).cast("long")
    val flag = (c: Column) => when(c, lit(1L)).otherwise(lit(0L))
    docs
      .select(col("doc_id"), n.as("n_tokens"), sumLen.as("sum_len"),
        nSym.as("n_sym"), nAlpha.as("n_alpha"), nStop.as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          expr("(sum_len * 1000000L) div n_tokens")).otherwise(lit(0L))
          .as("wlen_micros"),
        flag(col("n_tokens") >= 50 && col("n_tokens") <= 100000)
          .as("r_wordcount"),
        flag(col("n_tokens") > 0 &&
          lit(3L) * col("n_tokens") <= col("sum_len") &&
          col("sum_len") <= lit(10L) * col("n_tokens")).as("r_wordlen"),
        flag(col("n_tokens") > 0 &&
          lit(10L) * col("n_sym") <= col("n_tokens")).as("r_symbol"),
        flag(col("n_tokens") > 0 &&
          lit(5L) * col("n_alpha") >= lit(4L) * col("n_tokens"))
          .as("r_alpha"),
        flag(col("n_stop") >= 2).as("r_stop"))
      .withColumn("keep",
        flag(col("r_wordcount") === 1L && col("r_wordlen") === 1L &&
          col("r_symbol") === 1L && col("r_alpha") === 1L &&
          col("r_stop") === 1L))
      .orderBy("doc_id")
  }

  /** The Gopher REPETITION ruleset (Rae et al. 2021 Table A1 — the
    * second half of the Gopher filter, complementing [[gopherRules]]'s
    * shape rules): per-document fraction of characters attributed to
    * repeated word n-grams, for all nine signals — most-frequent-gram
    * mass for n = 2..4, duplicated-gram mass for n = 5..10. High values
    * flag within-document boilerplate/spam the corpus-level dedup
    * family cannot see.
    *
    * Scale shape: MAP-ONLY. One native kernel call per document
    * ([[org.apache.spark.sql.graft.GopherRepetitionStats]]) computes
    * all nine statistics in a single tokenize pass; the only shuffle is
    * the output sort. Every emitted number is integer fixed-point
    * (char-mass micros, floor division) so the hash is engine-stable.
    * Thresholds are the paper's: 0.20/0.18/0.16 for top-2/3/4, 0.15
    * down to 0.10 for dup-5..10; `keep` is their conjunction (empty
    * docs fail). */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame =
    gopherRepetitionOn(Tables.documents(spark, dir))

  /** Gopher repetition thresholds in micros, aligned with the kernel's
    * field order top2..top4, dup5..dup10. */
  private[graft] val RepetitionCapsMicros: Seq[(String, Long)] = Seq(
    "top2" -> 200000L, "top3" -> 180000L, "top4" -> 160000L,
    "dup5" -> 150000L, "dup6" -> 140000L, "dup7" -> 130000L,
    "dup8" -> 120000L, "dup9" -> 110000L, "dup10" -> 100000L)

  /** [[gopherRepetition]] over an explicit (doc_id, text) relation. */
  def gopherRepetitionOn(docs: DataFrame): DataFrame = {
    val stats = org.apache.spark.sql.graft.TextExpressions
      .gopherRepetitionStats(col("text"))
    val withStats = docs.select(col("doc_id"), stats.as("s"))
      .select(col("doc_id") +:
        col("s.total_chars").as("total_chars") +:
        RepetitionCapsMicros.map { case (f, _) =>
          when(col("s.total_chars") > 0L,
            expr(s"(s.$f * 1000000L) div s.total_chars"))
            .otherwise(lit(0L)).as(s"${f}_micros")
        }: _*)
    val keep = RepetitionCapsMicros
      .map { case (f, cap) => col(s"${f}_micros") <= cap }
      .reduce(_ && _) && col("total_chars") > 0L
    withStats
      .withColumn("keep", when(keep, lit(1L)).otherwise(lit(0L)))
      .orderBy("doc_id")
  }

  /** The [[gopherRepetition]] verdict as ONE boolean Column — the
    * composable map-side gate form, like [[gopherKeep]]. Division-free
    * but EXACTLY the batch flags' floor-division semantics:
    * floor(m·10⁶ / t) ≤ cap  ⟺  m·10⁶ < (cap+1)·t  for t > 0. */
  def gopherRepetitionKeep(text: Column): Column = {
    val s = org.apache.spark.sql.graft.TextExpressions
      .gopherRepetitionStats(text)
    RepetitionCapsMicros.map { case (f, cap) =>
      s.getField(f) * lit(1000000L) < lit(cap + 1L) * s.getField("total_chars")
    }.reduce(_ && _) && s.getField("total_chars") > 0L
  }

  /** q111: the corpus report's ROLLUP form — per (source, lang) cells
    * PLUS per-source subtotals and the grand total in one pass, the
    * warehouse `GROUP BY ROLLUP` surface (one aggregation, Spark
    * expands the grouping sets map-side; no second scan for the
    * subtotal rows). Rolled-up keys surface as the literal 'ALL'
    * (coalesce over the grouping nulls) so the gate's row sort is
    * engine-independent. Integer-only aggregates, the q78 rule. */
  def rollupReport(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        tokenCount(col("text")).cast("long").as("n_toks"))
      .rollup("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .select(coalesce(col("source"), lit("ALL")).as("source"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        col("n_docs"), col("n_tokens"))
      .orderBy("source", "lang")

  /** Curriculum bucketing: every document stamped with its quality
    * decile (1 = top) so a training loader can schedule easy/clean
    * buckets first. Deliberately NOT `ntile` — a global window without
    * a partition key collapses the corpus into ONE task at scale. Here
    * the decile CUTOFFS are a 9-value exact-percentile aggregate
    * (linear-interpolated rank, = DuckDB quantile_cont, the q49
    * parity), broadcast as one row; assignment is then map-side —
    * the same cutoffs-broadcast shape as the IVF centroid assign.
    * Ties share a decile by construction (strict `>` against each
    * cutoff), so the stamp is deterministic without a doc_id
    * tiebreak. */
  def curriculum(spark: SparkSession, dir: String,
      buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "curriculum needs at least 2 buckets")
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    val cuts = q.agg(
      percentile(col("quality"), lit(1.0 / buckets)).as("c1"),
      (2 until buckets).map(i =>
        percentile(col("quality"), lit(i.toDouble / buckets)).as(s"c$i")): _*)
    val above = (1 until buckets)
      .map(i => when(col("quality") > col(s"c$i"), 1).otherwise(0))
      .reduce(_ + _)
    q.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("quality"),
        (lit(buckets) - above).as("decile"))
      .orderBy("doc_id")
  }
}
