package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Dict, TextExpressions}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.TextFunctions._

/** Streaming ingestion curation — the LLM-pipeline operators applied to
  * a document STREAM, i.e. the shape of continuous pretraining-data
  * ingestion (the batch twin is `operators.Curation`):
  *
  *  1. quality gate FIRST: map-only `qualityScore` filter (identical
  *     expression to the batch q20/q50 path) — junk never reaches the
  *     state store;
  *  2. exact dedup on the canonical fingerprint:
  *     `dropDuplicatesWithinWatermark` keyed on fp — state holds one
  *     compact row per distinct fingerprint inside the watermark horizon
  *     and EVICTS beyond it. Unbounded `dropDuplicates` state on a
  *     100 TB/day ingest is the classic OOM; the watermark bound is the
  *     standard continuous-ingestion contract. A document re-ingested
  *     AFTER the horizon re-emits: a dt-partitioned sink then stores it
  *     under the new day (duplicate across days), so when cross-horizon
  *     exactness matters, sink keyed on `fp` alone (the hash-bucket
  *     layout of [[DauStream.idempotentSinkEachBatch]] — drop `dt`
  *     before the sink) for global last-wins per fingerprint, or run
  *     the batch `operators.Curation` pass as periodic compaction;
  *  3. dt column for the partition-scoped sink
  *     ([[DauStream.idempotentSinkEachBatch]] / [[PartitionedUpsert]]).
  *
  * Input must carry (doc_id, text, ts event-time).
  */
object DocStream {

  /** `scrubPii` runs [[graft.operators.Pii.redactText]] FIRST — before
    * the quality gate and before fingerprinting — so PII never reaches
    * dedup state or the stored corpus, and two documents differing only
    * in their PII (same form letter, different phone number) carry the
    * same fingerprint and dedupe to one. Map-only, rides the same scan
    * stage as the gate.
    *
    * `ppxModel` adds the CCNet-style perplexity gate as a second
    * quality signal: the model is TRAINED ONCE on a trusted reference
    * ([[graft.operators.LangModel.trainModel]] — refresh it per corpus
    * epoch by restarting the query with a new model, like any broadcast
    * dim) and scoring is map-only under the broadcast model, composing
    * exactly like the PII scrub. A doc is dropped when its score
    * EXCEEDS `maxPpxMicros` (too surprising under the reference);
    * unscoreable docs (<2 tokens, NULL score) pass — length is the
    * quality gate's jurisdiction, not the LM's.
    *
    * `blocklist` adds the C4 bad-words gate (the batch twin is
    * [[graft.operators.TextAnalysis.blocklistScan]]'s keep flag, any-hit
    * policy): map-only native counter against the banned identity set
    * shipped inside the expression — runs AFTER the PII scrub (a
    * redacted `|||PHONE|||` placeholder can't be banned content) and
    * before the LM score, cheapest-gate-first.
    *
    * `gopherGate` adds the Gopher token-shape ruleset (the batch twin
    * is [[graft.operators.Curation.gopherRules]]' keep flag): all five
    * integer rules must pass. Map-only, rides the quality gate's scan
    * stage — it judges the (possibly PII-scrubbed) text, same as every
    * other gate downstream of the scrub.
    *
    * `repetitionGate` adds the Gopher REPETITION ruleset (batch twin:
    * [[graft.operators.Curation.gopherRepetition]]'s keep flag, q101):
    * all nine repeated-ngram character-mass caps must pass. One native
    * kernel call per doc, map-only, composing right after the shape
    * rules — the two halves of the Gopher filter.
    *
    * `dsirScores` adds the DSIR target-likeness gate (batch twin:
    * [[graft.operators.Sampling.dsirWeights]], q97): the trained
    * fixed-size bucket table ([[graft.operators.Sampling.trainDsir]])
    * ships inside the scoring expression like the perplexity model,
    * and docs whose weight falls BELOW `minDsirMicros` (not
    * target-like enough) drop. Unscoreable docs (zero features, NULL
    * weight) pass — the ppx gate's contract.
    *
    * `oddsModel` adds the supervised odds-ratio classifier gate (batch
    * twin: [[graft.operators.LangModel.oddsQuality]], q103): the
    * trained per-token weight table
    * ([[graft.operators.LangModel.trainOdds]]) ships inside the scoring
    * expression; docs scoring BELOW `minOddsMicros` drop; empty docs
    * (NULL score) pass. */
  /** [[curate]] with EVERY gate wired from the artifacts a reference
    * corpus froze — the streaming twin of the batch
    * [[graft.operators.Curation.corpusBuild]]'s gate stage: scrub +
    * quality + Gopher shape + repetition + DSIR + odds + perplexity,
    * models from [[graft.operators.Curation.trainGateModels]] and
    * thresholds from [[graft.operators.Curation.trainGateCutoffs]]
    * (a stream cannot rank against data it has not seen, so it gates
    * against the reference corpus's frozen order statistics — the
    * train-then-freeze discipline). A signal the reference could not
    * score (None cutoff) gates nothing, matching the batch NULL-pass
    * contract. PipelineSpec pins the streamed survivor set equal to
    * the batch build's gated+exact stages on the same corpus. */
  def curateFrozen(docs: DataFrame, refDir: String,
      minQuality: Double = 0.5, watermark: String = "24 hours",
      ppxKeepPct: Int = 90, dsirKeepPct: Int = 90,
      oddsKeepPct: Int = 90): DataFrame = {
    val spark = docs.sparkSession
    val (ppxM, dsirT, oddsM) =
      graft.operators.Curation.trainGateModels(spark, refDir)
    val cuts = graft.operators.Curation.trainGateCutoffs(spark, refDir,
      ppxKeepPct, dsirKeepPct, oddsKeepPct)
    curate(docs, minQuality, watermark, scrubPii = true,
      ppxModel = Some(ppxM),
      maxPpxMicros = cuts.maxPpxMicros.getOrElse(Long.MaxValue),
      gopherGate = true, repetitionGate = true,
      dsirScores = Some(dsirT),
      minDsirMicros = cuts.minDsirMicros.getOrElse(Long.MinValue),
      oddsModel = Some(oddsM),
      minOddsMicros = cuts.minOddsMicros.getOrElse(Long.MinValue))
  }

  def curate(docs: DataFrame, minQuality: Double = 0.5,
      watermark: String = "24 hours", scrubPii: Boolean = false,
      ppxModel: Option[graft.operators.LangModel.BigramModel] = None,
      maxPpxMicros: Long = Long.MaxValue,
      blocklist: Option[Seq[String]] = None,
      gopherGate: Boolean = false,
      repetitionGate: Boolean = false,
      dsirScores: Option[Array[Long]] = None,
      minDsirMicros: Long = 0L,
      oddsModel: Option[graft.operators.LangModel.OddsModel] = None,
      minOddsMicros: Long = 0L): DataFrame = {
    val gated00 =
      (if (scrubPii)
         docs.withColumn("text", graft.operators.Pii.redactText(col("text")))
       else docs)
        .withColumn("quality", qualityScore(col("text")))
        .where(col("quality") >= minQuality)
    val gated01 =
      if (gopherGate)
        gated00.where(graft.operators.Curation.gopherKeep(col("text")))
      else gated00
    val gated0 =
      if (repetitionGate)
        gated01.where(
          graft.operators.Curation.gopherRepetitionKeep(col("text")))
      else gated01
    val gated1 = blocklist.fold(gated0) { terms =>
      val set = Dict.sortedLongs(terms.map(md5LongScala).toArray)
      gated0.where(TextExpressions.bannedTokenCount(col("text"), set) === 0L)
    }
    val gated2 = dsirScores.fold(gated1) { scores =>
      val w = TextExpressions.dsirScoreMicros(col("text"), Dict.longs(scores))
      gated1.where(w.isNull || w >= minDsirMicros)
    }
    val gated = oddsModel.fold(gated2) { m =>
      val s = graft.operators.LangModel.oddsScoreColumn(m, col("text"))
      gated2.where(s.isNull || s >= minOddsMicros)
    }
    ppxModel.fold(gated) { m =>
        gated
          .withColumn("ppx_micros",
            graft.operators.LangModel.scoreColumn(m, col("text")))
          .where(col("ppx_micros").isNull ||
            col("ppx_micros") <= maxPpxMicros)
      }
      .withColumn("fp", fingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
  }

  /** The accumulated corpus under `outDir`. Its claim rejects a second
    * live writer loudly: two would interleave the rolling-sketch
    * read-modify-write (lost fingerprints). */
  private def corpus(spark: org.apache.spark.sql.SparkSession,
      outDir: String): EpochStore =
    EpochStore(spark, outDir, "accumulated corpus")

  /** The quality gate's held-back epochs, BESIDE the corpus directory
    * (not inside it) so corpus readers and folds never see them. */
  private def quarantine(spark: org.apache.spark.sql.SparkSession,
      outDir: String): EpochStore =
    EpochStore(spark, s"$outDir.quarantine", "corpus quarantine")

  /** Continuous-ingest incremental dedup sink (foreachBatch): each
    * micro-batch keeps only documents whose canonical fingerprint is
    * absent from the ACCUMULATED corpus under `outDir`, then appends the
    * survivors as `epoch=<id>` partitions. The batch twin of this pass is
    * [[graft.operators.Dedup.newDocsAgainst]] — Bloom prefilter + exact
    * confirm, the corpus side never shuffled.
    *
    * Complements [[curate]]'s `dropDuplicatesWithinWatermark`: the state
    * store there holds fingerprints only inside the watermark horizon
    * (bounded state, horizon-bounded exactness); HERE the corpus itself
    * is the state — exact across any horizon with zero state-store
    * growth. The corpus Bloom is a ROLLING sketch persisted beside the
    * data (`_bloom.bf`) and extended with each epoch's survivors, so a
    * steady-state epoch costs O(batch): sketch probe map-side, the
    * corpus parquet is scanned only by the exact confirm join for the
    * (few) Bloom-positive fingerprints. A lost sketch rebuilds from the
    * corpus; a stale-but-superset sketch only widens the confirm join —
    * the answer never depends on the sketch (no false negatives by
    * update order, see the in-body comment).
    *
    * Idempotent under epoch replay twice over: the epoch directory is
    * overwritten wholesale, and a re-delivered document's fingerprint is
    * already in the corpus, so the content-level anti-join drops it even
    * when it reappears under a NEW epoch id. Within one batch, the lowest
    * doc_id per fingerprint wins (deterministic). The one collect is the
    * batch's surviving fingerprints — bounded by micro-batch size.
    *
    * Input must carry (doc_id, text); extra columns ride along. Rows
    * with null text are DROPPED up front: content dedup is undefined
    * without content, and a null fingerprint reaching the sketch update
    * would NPE mid-epoch (after a possibly partial sketch write).
    *
    * CONTRACT — single writer per `outDir`: the rolling-sketch
    * read-modify-write and the epoch-directory listing assume exactly
    * one concurrent sink per corpus directory. Concurrent writers are
    * NOT superset-preserving (last-writer-wins on `_bloom.bf` can drop
    * the other's fingerprints = duplicates admitted later), so a second
    * ACTIVE streaming query writing the same dir inside this JVM is
    * rejected loudly (see [[corpus]]); restarts and replay
    * calls take ownership over since the prior run is no longer active.
    * Cross-JVM single-ownership is the caller's responsibility, same as
    * for any checkpointed foreachBatch sink. */
  def incrementalDedupSinkEachBatch(outDir: String,
      expectedCorpusDocs: Long = 1000000L, fpp: Double = 0.01,
      compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit = {
    val sess = batch.sparkSession
    val store = corpus(sess, outDir)
    store.claim() // before the sketch, the first thing this sink mutates
    val others = store.epochs(except = Some(epochId))
    val uniq = uniqueByFingerprint(batch)
    val bloom = loadOrBuildBloom(sess, outDir, store, others,
      expectedCorpusDocs, fpp)
    val fresh =
      if (others.isEmpty) uniq
      else graft.operators.Dedup.newDocsWithBloom(
        store.read(others), uniq, bloom)
    // materialize survivors BEFORE the sketch update so the fps fed into
    // the rolling bloom are exactly what lands in the epoch partition
    val rows = fresh.persist()
    try {
      // SKETCH FIRST, data second: a crash between the two leaves fps in
      // the bloom whose rows never published — false POSITIVES, resolved
      // exactly by the confirm join on replay. The opposite order could
      // leave corpus rows missing from the sketch — a false NEGATIVE
      // lets a duplicate straight through. Atomic via tmp + rename.
      rows.select("fp").collect().foreach(r => bloom.putString(r.getString(0)))
      publishBloom(bloom, outDir)
      store.write(epochId, rows)
    } finally rows.unpersist(blocking = false)
    // identity fold: each corpus row is exactly-once; the rolling
    // sketch files ride into the folded layout verbatim
    store.fold(epochId, compactEvery)(identity)
  }

  /** Within-batch dedup, lowest doc_id per fingerprint (batch-vs-corpus
    * is the sink's job); null-text rows dropped. */
  private def uniqueByFingerprint(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    batch
      .where(col("text").isNotNull)
      .withColumn("fp", fingerprint(col("text")))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("fp").orderBy("doc_id")))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Continuous SUBSTRING dedup sink (foreachBatch) — the streaming
    * twin of the q100 batch pass: each micro-batch's documents are
    * rebuilt from only the CDC segments whose first occurrence this is
    * — across the ACCUMULATED corpus under `outDir` and within the
    * batch — then appended as `epoch=<id>` partitions with
    * `(doc_id, text, n_dropped)`; documents whose every segment was
    * already seen vanish. Where [[incrementalDedupSinkEachBatch]]
    * dedups whole documents, this removes REPEATED PASSAGES from
    * otherwise-novel documents — the cross-document repetition a
    * fingerprint can never see.
    *
    * Same state discipline as the doc-level sink, at segment
    * granularity: a rolling segment-hash Bloom (`_segbloom.bf`,
    * putLong/mightContainLong — 8 B identities) persisted beside the
    * data; Bloom-positive candidates are EXACTLY confirmed by
    * re-segmenting the corpus text map-side (the kernel is cheap; a
    * production deployment would maintain an indexed hash store) —
    * the answer never depends on the sketch. Re-segmenting published
    * CLEANED text yields exactly its kept segments (removing whole
    * segments never moves another segment's boundary: every kept
    * segment still ends at its own boundary token or end-of-doc), so
    * corpus-derived hashes stay consistent across epochs by
    * construction.
    *
    * Crash/replay safety, sketch-first (the doc-sink argument): a
    * crash after the sketch publish but before the data write leaves
    * false POSITIVES whose confirm finds nothing in the corpus — the
    * segment is kept when it genuinely re-arrives, so no content is
    * lost; the reverse order could lose the only copy of a passage.
    * Epoch replay overwrites its own partition and excludes it from
    * "the corpus", so re-delivered batches converge to the same
    * output. Driver-side collects (confirmed hashes, intra-batch dup
    * dictionary, published segment hashes) are bounded by micro-batch
    * size — the fp-collect contract. Single writer per dir, enforced
    * like the doc sink. */
  def cdcDedupSinkEachBatch(outDir: String,
      p: Int = graft.operators.Dedup.CdcModulus,
      expectedCorpusSegments: Long = 10000000L, fpp: Double = 0.01,
      compactEvery: Int = 0)
      (batch: DataFrame, epochId: Long): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val sess = batch.sparkSession
    val store = corpus(sess, outDir)
    store.claim()
    val others = store.epochs(except = Some(epochId))
    val docs = batch.where(col("text").isNotNull)
    val segs = graft.operators.Dedup.cdcSegmentRelation(docs, p)

    // rolling segment Bloom (superset of corpus segments; rebuild on loss)
    val bloom: BloomFilter = readBloom(outDir, SegBloom).getOrElse(
      if (others.nonEmpty)
        // distributed rebuild — the corpus segment stream never collects
        graft.operators.Dedup.cdcSegmentRelation(store.read(others), p)
          .stat.bloomFilter("seg_h", expectedCorpusSegments, fpp)
      else BloomFilter.create(expectedCorpusSegments, fpp))

    // corpus-seen segments: Bloom prefilter map-side, exact confirm
    // against the re-segmented corpus (semi-join on 8 B keys)
    val bloomBc = sess.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomBc.value.mightContainLong(h))
    val candidates = segs.select("seg_h").distinct()
      .where(mightContain(col("seg_h")))
    val confirmed: Array[Long] =
      if (others.isEmpty) Array.emptyLongArray
      else graft.operators.Dedup.cdcSegmentRelation(store.read(others), p)
        .select("seg_h")
        .join(broadcast(candidates), Seq("seg_h"), "left_semi")
        .distinct()
        .collect().map(_.getLong(0))
    val confirmedSet = confirmed.toSet

    // intra-batch first occurrence for segments the corpus has NOT
    // seen; corpus-seen hashes drop ALL batch occurrences (canonical
    // already published) via the impossible packed sentinel -1
    val intra = segs.groupBy("seg_h")
      .agg(min(col("doc_id") * lit(1000000L) + col("seg_idx"))
        .as("canon"), count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)
      .select("seg_h", "canon")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dict = Dict.sortedPairs(confirmed.map(h => (h, -1L)) ++
      intra.filterNot { case (h, _) => confirmedSet(h) })

    val res = TextExpressions.cdcFirstOccurrenceText(
      col("text"), col("doc_id"), p, dict)
    val rows = docs
      .select(col("doc_id"), res.as("r"))
      .select(col("doc_id"), col("r.clean_text").as("text"),
        col("r.n_dropped").as("n_dropped"))
      .where(length(col("text")) > 0)
      .persist()
    try {
      // SKETCH FIRST, data second (see scaladoc): published segments =
      // the cleaned rows' own re-segmentation, bounded by batch size
      graft.operators.Dedup.cdcSegmentRelation(rows, p)
        .select("seg_h").distinct()
        .collect().foreach(r => bloom.putLong(r.getLong(0)))
      publishBloom(bloom, outDir, SegBloom)
      store.write(epochId, rows)
    } finally rows.unpersist(blocking = false)
    // same compaction contract as the doc-level sink (identity fold)
    store.fold(epochId, compactEvery)(identity)
  }

  private val DocBloom = "_bloom.bf"
  private val SegBloom = "_segbloom.bf"

  private def readBloom(outDir: String, name: String)
      : Option[org.apache.spark.util.sketch.BloomFilter] = {
    val file = new java.io.File(outDir, name)
    if (!file.exists()) None
    else {
      val in = new java.io.FileInputStream(file)
      try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      finally in.close()
    }
  }

  /** Rolling corpus Bloom, persisted beside the data: each epoch pays
    * O(batch) sketch work instead of the O(corpus) re-aggregation pass
    * (the sketch never shrinks, so it stays a SUPERSET of the corpus —
    * over-approximation only widens the exact confirm join). Missing
    * sketch → rebuild from the `others` epochs of the corpus. */
  private def loadOrBuildBloom(sess: org.apache.spark.sql.SparkSession,
      outDir: String, store: EpochStore, others: Seq[Long],
      expectedCorpusDocs: Long,
      fpp: Double): org.apache.spark.util.sketch.BloomFilter =
    readBloom(outDir, DocBloom).getOrElse(
      if (others.nonEmpty)
        store.read(others)
          .select(fingerprint(col("text")).as("fp"))
          .stat.bloomFilter("fp", expectedCorpusDocs, fpp)
      else org.apache.spark.util.sketch.BloomFilter
        .create(expectedCorpusDocs, fpp))

  /** Atomic tmp+rename publish of a rolling sketch beside the corpus
    * (which may not exist yet: the sketch goes first). */
  private def publishBloom(bloom: org.apache.spark.util.sketch.BloomFilter,
      outDir: String, name: String = DocBloom): Unit = {
    new java.io.File(outDir).mkdirs()
    val bloomFile = new java.io.File(outDir, name)
    val tmp = new java.io.File(outDir, s".$name.tmp")
    val out = new java.io.FileOutputStream(tmp)
    try bloom.writeTo(out) finally out.close()
    if (!tmp.renameTo(bloomFile)) {
      bloomFile.delete()
      require(tmp.renameTo(bloomFile), s"cannot publish $bloomFile")
    }
  }

  /** The COMPOSED continuous-ingestion sink — the product story in one
    * foreachBatch: corpus-level incremental dedup (the
    * [[incrementalDedupSinkEachBatch]] machinery: rolling Bloom →
    * exact confirm → anti-join, corpus never shuffled) THEN sequence
    * packing continued exactly where the stored corpus ends, published
    * as one epoch of the corpus [[EpochStore]] (untouched epochs never
    * rewritten). Upstream of this sink sits [[curate]] (quality gate +
    * watermarked dedup), so one streaming query runs gate → horizon
    * dedup → corpus dedup → pack → shard publish; `PipelineSpec` pins the end-to-end contract:
    * the final shard layout equals the one-shot batch pipeline (gate +
    * global exact dedup + `Packing.pack`) under id-ordered arrival,
    * across a checkpoint restart.
    *
    * Instead of keeping per-block running token offsets in state (the
    * [[packStream]] approach), each epoch derives them from the stored
    * corpus: `sum(n_tokens) per block` over the OTHER epochs' partitions.
    * A replayed epoch is excluded from its own base offsets — replay
    * lands every row at its original start_tok for free. The recompute
    * reads only the (block, n_tokens) columns of the shard metadata,
    * never text; at 100 TB this is a column-pruned scan of two longs
    * per stored doc per epoch — trade it for packStream's keyed state
    * when epochs are frequent.
    *
    * CONTRACT: same single-writer rule as
    * [[incrementalDedupSinkEachBatch]]; `budget`/`blocks`/`salt` must
    * not change across the corpus lifetime (offsets would tear). */
  def curatedPackedSinkEachBatch(outDir: String, budget: Int = 2048,
      blocks: Int = 8, salt: String = "pack",
      expectedCorpusDocs: Long = 1000000L, fpp: Double = 0.01)
      (batch: DataFrame, epochId: Long): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Packing
    require(budget > 0 && blocks > 0, "budget and blocks must be positive")
    val sess = batch.sparkSession
    val store = corpus(sess, outDir)
    // the claim heals first: a half-swapped epoch would otherwise
    // vanish from the dedup corpus and its documents re-admit as new
    store.claim()
    val others = store.epochs(except = Some(epochId))
    val uniq = uniqueByFingerprint(batch)
    val bloom = loadOrBuildBloom(sess, outDir, store, others,
      expectedCorpusDocs, fpp)
    val fresh =
      if (others.isEmpty) uniq
      else graft.operators.Dedup.newDocsWithBloom(
        store.read(others), uniq, bloom)
    // per-block token offsets where the stored corpus ends (column-
    // pruned: two longs per stored doc, text never read)
    val baseOffsets: Map[Long, Long] =
      if (others.isEmpty) Map.empty
      else store.read(others)
        .groupBy("block").agg(sum("n_tokens").as("t"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseCol = baseOffsets.foldLeft(lit(0L)) { case (acc, (b, t)) =>
      when(col("block") === b, lit(t)).otherwise(acc)
    }
    // identical arithmetic to Packing.pack: same tokenizer, same block
    // hash, same bin stride — the equivalence the pipeline spec pins
    val w = Window.partitionBy("block").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = fresh
      .withColumn("n_tokens", tokenCount(col("text")).cast("long"))
      .withColumn("block",
        pmod(md5Long(concat(lit(s"$salt:"), col("doc_id").cast("string"))),
          lit(blocks.toLong)))
      .withColumn("start_tok",
        baseCol + sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("bin",
        col("block") * lit(Packing.BinStride) + expr(s"start_tok div $budget"))
    val rows = packed.persist()
    try {
      // same crash ordering as the plain sink: sketch first (false
      // positives only), then the epoch
      rows.select("fp").collect().foreach(r => bloom.putString(r.getString(0)))
      publishBloom(bloom, outDir)
      store.write(epochId, rows)
    } finally rows.unpersist(blocking = false)
  }

  /** One packed document: its block, token count, and the token-budget
    * bin it starts in (same encoding as the batch
    * [[graft.operators.Packing]]). */
  case class PackedDoc(doc_id: Long, block: Long, n_tokens: Long,
      start_tok: Long, bin: Long)

  /** STREAMING sequence packing — the batch operator's per-block token
    * prefix sum continued across micro-batches: each block keeps its
    * running token offset in keyed state, so a document arriving in
    * batch 50 lands exactly where a one-shot batch pack over the whole
    * history would have put it (given id-ordered arrival). This is the
    * continuous-ingestion shape of training-shard assembly: curate the
    * stream ([[curate]]), pack it, sink bins as shard files.
    *
    * State is ONE Long per block (`blocks`·8 bytes total — bounded by
    * construction, no watermark needed, NoTimeout is safe). Within a
    * batch, a block's rows are packed in doc_id order for determinism;
    * across batches, arrival order is append order — the streaming
    * contract (a late doc packs where it ARRIVES; offset packing never
    * reorders history, exactly like a real shard writer).
    *
    * MEMORY: the per-batch determinism sort buffers ONE BLOCK's slice
    * of the micro-batch on the executor (`rows.toSeq.sortBy`), i.e.
    * ~micro-batch ÷ blocks rows of (id, n_tokens, block) — fine at any
    * sane trigger interval, but do not feed a giant one-shot backfill
    * through this with blocks=1; backfills are what the batch
    * [[graft.operators.Packing.pack]] is for.
    *
    * Input must carry (doc_id, text). */
  def packStream(docs: DataFrame, budget: Int = 2048,
      blocks: Int = 8, salt: String = "pack"): Dataset[PackedDoc] = {
    import graft.operators.Packing.BinStride
    require(budget > 0 && blocks > 0, "budget and blocks must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long").as("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        pmod(md5Long(concat(lit(s"$salt:"), col("doc_id").cast("string"))),
          lit(blocks.toLong)).as("block"))
      .as[(Long, Long, Long)]
      .groupByKey { case (_, _, block) => block }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (block: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[Long]) => {
          var offset = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).map { case (id, n, _) =>
            val start = offset
            offset += n
            PackedDoc(id, block, n, start, block * BinStride + start / budget)
          }
          state.update(offset)
          out.iterator
        })
  }

  /** Quality-gated publish sink (foreachBatch) — the Deequ
    * verification-suite role wired into the ingest: each micro-batch's
    * declarative metric row ([[graft.operators.Checks.docReport]], one
    * aggregation pass, all-integer) is checked against the declared
    * [[graft.operators.Checks.Bound]]s BEFORE the epoch publishes. A
    * clean batch appends `epoch=<id>` like the other accumulated
    * sinks; a violating batch is held back WHOLE under
    * `outDir.quarantine/epoch=<id>` with a loud `.REASON.txt` naming
    * every breached bound — data is never dropped silently and the
    * corpus is never poisoned. The quarantine lives BESIDE the corpus
    * directory (not inside it) so corpus readers and the compaction
    * swap never see it. The q143 batch report stays the oracle
    * surface; this is its circuit-breaker twin.
    *
    * Replay-deterministic: the verdict is a pure integer function of
    * the batch content, so a replayed epoch re-evaluates to the same
    * verdict and overwrites its own partition (corpus or quarantine),
    * converging bit-equal. Publishing also clears any stale quarantine
    * partition for the same epoch (and vice versa) so a bounds change
    * between restarts cannot leave one epoch on both sides. */
  def qualityGateSinkEachBatch(outDir: String,
      bounds: Seq[graft.operators.Checks.Bound],
      compactEvery: Int = 0)(batch: DataFrame, epochId: Long): Unit = {
    import graft.operators.Checks
    val sess = batch.sparkSession
    val (store, held) = (corpus(sess, outDir), quarantine(sess, outDir))
    val rows = batch.persist()
    try {
      if (rows.isEmpty) return // nothing to gate, nothing to publish
      val bad = Checks.violations(Checks.docReport(rows), bounds)
      if (bad.nonEmpty) {
        held.write(epochId, rows)
        held.note(epochId, Reason, (bad :+ "").mkString("\n"))
        store.drop(epochId)
        System.err.println(s"[quality-gate] epoch $epochId HELD BACK " +
          s"(${bad.size} violation(s)): ${bad.mkString("; ")}")
      } else {
        store.write(epochId, rows)
        held.drop(epochId)
        store.fold(epochId, compactEvery)(identity)
      }
    } finally rows.unpersist(blocking = false)
  }

  /** Sidecar naming the bounds a held-back epoch breached. */
  private val Reason = "REASON.txt"

  /** What a [[takedownAccumulated]] pass did. `quarantineRowsDeleted`
    * counts rows swept from the sibling `outDir.quarantine` store —
    * held-back epochs hold the taken-down bytes too, and
    * [[readmitQuarantine]] could otherwise reintroduce erased content
    * into the corpus (round-16 advice). */
  case class TakedownReport(epochsTotal: Long, epochsRewritten: Long,
      rowsDeleted: Long, quarantineRowsDeleted: Long = 0L)

  /** Right-to-erasure for the ACCUMULATED streaming corpus — the one
    * derived store the q161 bundle takedown does not cover: the
    * epoch-partitioned output of [[incrementalDedupSinkEachBatch]] /
    * [[qualityGateSinkEachBatch]]. Deletes every row of `ids` from the
    * corpus under `outDir` by rewriting ONLY the epoch partitions that
    * hold them ([[EpochStore.rewrite]]: one pushed-filter scan names the
    * touched epochs, untouched epochs are never read again), then
    * REBUILDS the rolling corpus Bloom from the survivors — the
    * fingerprints of taken-down documents are derived data too, and
    * with the sketch rebuilt a re-submission of the same content is
    * ADMITTED again (dedup state must not remember what compliance
    * erased; the exact confirm join would admit it anyway — the
    * rebuild also restores fp-rate hygiene). Idempotent: a second pass
    * finds no epochs to touch. Same single-writer contract as the sinks
    * (loud rejection while an ACTIVE streaming query owns the
    * directory).
    *
    * Also sweeps the sibling `outDir.quarantine` store — a held-back
    * epoch holds the taken-down bytes too, and [[readmitQuarantine]]
    * could otherwise reintroduce erased content (round-16 advice).
    * Crash-safe for the sketch: a `_bloom.pending` marker written
    * before the first swap forces the Bloom rebuild on any later pass
    * if this one dies between the rewrites and the publish. */
  def takedownAccumulated(spark: org.apache.spark.sql.SparkSession,
      outDir: String, ids: Seq[Long],
      expectedCorpusDocs: Long = 1000000L,
      fpp: Double = 0.01): TakedownReport = {
    require(ids.nonEmpty, "takedown needs at least one doc id")
    val store = corpus(spark, outDir)
    store.claim()
    // a bare isin, so discovery pushes into the parquet scan (the store
    // counts null as keep itself)
    val isDel = col("doc_id").isin(ids: _*)
    // the quarantine sweeps FIRST (round-16 advice): held-back epochs
    // hold the taken-down bytes too, and readmitQuarantine could later
    // reintroduce them — erasure covers both sides of the gate. Emptied
    // held-back epochs go with their REASON sidecars.
    val held = quarantine(spark, outDir).rewrite(isDel, isDel)
    val r = store.rewrite(isDel, isDel,
      beforeSwap = () => markSketchDirty(outDir, ids))
    rebuildBloomIfDirty(store, outDir, r, expectedCorpusDocs, fpp)(
      _.select(fingerprint(col("text")).as("fp")))
    TakedownReport(r.epochs, r.touched, r.deleted, held.deleted)
  }

  /** Crash-safety marker (round-16 advice): a crash between the epoch
    * rewrites and the sketch publish would leave the erased fingerprints
    * in the sketch PERMANENTLY — a re-run finds no touched epochs. The
    * marker is written before the first swap and cleared only after the
    * publish, so any later pass rebuilds the sketch while it exists. */
  private def markSketchDirty(outDir: String, ids: Seq[Long]): Unit =
    java.nio.file.Files.write(new java.io.File(outDir, Pending).toPath,
      ids.mkString(",").getBytes("UTF-8"))

  private val Pending = "_bloom.pending"

  /** Rebuild the rolling corpus Bloom from what remains (`fps` projects
    * the corpus to its `fp` column) after a takedown touched epochs, or
    * while an earlier pass's dirty marker is still present. */
  private def rebuildBloomIfDirty(store: EpochStore, outDir: String,
      r: EpochStore.Rewrite, expectedCorpusDocs: Long, fpp: Double)
      (fps: DataFrame => DataFrame): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val pending = new java.io.File(outDir, Pending)
    if (r.touched == 0L && !pending.exists()) return
    val rest =
      if (store.epochs().isEmpty) None else Some(fps(store.read()))
    val bloom = rest.filterNot(_.isEmpty)
      .map(_.stat.bloomFilter("fp", expectedCorpusDocs, fpp))
      .getOrElse(BloomFilter.create(expectedCorpusDocs, fpp))
    publishBloom(bloom, outDir)
    pending.delete()
  }

  /** Right-to-erasure for the STREAMING PACKED SHARDS — the accumulated
    * output of [[curatedPackedSinkEachBatch]], the one published store
    * the round-16 erasure family did not cover: a taken-down document's
    * token spans live INSIDE multi-doc training sequences, so deleting
    * its rows is not enough — every later document in its pack blocks
    * must shift down (`start_tok`/`bin` recomputed), exactly the batch
    * q162 repack contract ([[graft.operators.DocForget.takedownPack]]).
    *
    * The prune chain, cheapest first (nothing here is O(corpus) except
    * the survivors-Bloom rebuild, which is O(survivors) by definition):
    *
    *  1. ACTIVE BLOCKS — a pushed `doc_id isin` scan names the pack
    *     blocks that actually hold deleted rows (the pack hash names
    *     candidate blocks for free, but a hash-named block with no
    *     deleted row must not rewrite);
    *  2. TOUCHED EPOCHS — a pushed `block isin` scan names the epoch
    *     partitions holding ANY active-block row (every such row's
    *     offset may shift, so every such epoch rewrites);
    *  3. ONE pre-swap read over only the touched epochs decides deleted
    *     counts, emptied epochs, and feeds the rewrite: survivors of
    *     active blocks REPACK (per-block prefix sums over
    *     (epoch, doc_id) order — the sink's own arrival order, so under
    *     id-ordered arrival the result is bitwise a fresh
    *     `Packing.pack` over the post-takedown corpus, spec-pinned);
    *     rows of other blocks ride through unchanged.
    *
    * Same crash/compliance discipline as [[takedownAccumulated]]: the
    * `_bloom.pending` marker makes the rolling-sketch rebuild survive a
    * crash between the swaps and the publish; the rebuilt sketch
    * forgets the erased fingerprints so re-submission is admitted.
    * `budget`/`blocks`/`salt` must match the sink's (frozen for the
    * corpus lifetime — the sink's own contract). Idempotent; same
    * single-writer rule. */
  def takedownPacked(spark: org.apache.spark.sql.SparkSession,
      outDir: String, ids: Seq[Long], budget: Int = 2048,
      blocks: Int = 8, salt: String = "pack",
      expectedCorpusDocs: Long = 1000000L,
      fpp: Double = 0.01): TakedownReport = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Packing
    require(ids.nonEmpty, "takedown needs at least one doc id")
    require(budget > 0 && blocks > 0, "budget and blocks must be positive")
    val store = corpus(spark, outDir)
    store.claim()
    val isDel = col("doc_id").isin(ids: _*)
    val epochs = store.epochs()
    // 1. active blocks (pushed doc_id filter — row-group prune)
    val activeBlocks =
      if (epochs.isEmpty) Seq.empty[Long]
      else store.read().where(isDel).select(col("block")).distinct()
        .collect().map(_.getLong(0)).toIndexedSeq
    // 2. + 3. touched epochs by a pushed block filter; survivors of the
    // active blocks REPACK across all their epochs in arrival order
    // (epoch, then doc_id — the sink's own order); rows of other blocks
    // inside touched epochs pass unchanged
    val active = col("block").isin(activeBlocks: _*)
    val w = Window.partitionBy("block")
      .orderBy(col("epoch").cast("long"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val repackedStart = sum("n_tokens").over(w) - col("n_tokens")
    val r =
      if (activeBlocks.isEmpty) EpochStore.Rewrite(epochs.size.toLong, 0L, 0L)
      else store.rewrite(active, isDel,
        _.withColumn("start_tok",
            when(active, repackedStart).otherwise(col("start_tok")))
          .withColumn("bin",
            when(active, col("block") * lit(Packing.BinStride) +
              expr(s"start_tok div $budget")).otherwise(col("bin"))),
        beforeSwap = () => markSketchDirty(outDir, ids))
    // the packed store carries the canonical fingerprint column — the
    // rebuild is a column-pruned scan, text never read
    rebuildBloomIfDirty(store, outDir, r, expectedCorpusDocs, fpp)(
      _.select("fp"))
    TakedownReport(r.epochs, r.touched, r.deleted)
  }

  /** What a [[readmitQuarantine]] pass did. */
  case class ReadmitReport(examined: Long, readmitted: Long, kept: Long)

  /** Offline re-admission for COMMITTED quarantined epochs (round-14
    * "what's missing" #6): the live gate re-converges on replay, but
    * an epoch quarantined in a long-dead batch never replays — when
    * the bounds later loosen (or the metric definition was the bug),
    * this pass re-evaluates every `outDir.quarantine/epoch=<id>`
    * against the CURRENT bounds and publishes the now-clean ones into
    * their own corpus partitions. Same verdict function, same
    * overwrite-own-partition contract as the live gate, so the pass is
    * IDEMPOTENT (a second run examines only what the first kept) and
    * crash-safe (publish lands before the quarantine copy clears; a
    * crash between the two leaves the epoch on both sides, which the
    * next run — or the live gate's own publish — reconciles). A
    * still-violating epoch stays put with a refreshed REASON naming
    * the bounds it still breaches. The per-epoch loop is driver-side
    * by design: quarantined epochs are the rare exception path, not
    * the corpus. */
  def readmitQuarantine(spark: org.apache.spark.sql.SparkSession,
      outDir: String,
      bounds: Seq[graft.operators.Checks.Bound]): ReadmitReport = {
    import graft.operators.Checks
    val (store, held) = (corpus(spark, outDir), quarantine(spark, outDir))
    val epochs = held.epochs()
    var readmitted = 0L
    var kept = 0L
    epochs.foreach { e =>
      val rows = held.read(Seq(e)).persist()
      try {
        val bad = Checks.violations(Checks.docReport(rows), bounds)
        if (bad.isEmpty) {
          store.write(e, rows)
          held.drop(e)
          System.err.println(
            s"[quality-gate] epoch $e READMITTED under current bounds")
          readmitted += 1
        } else {
          held.note(e, Reason, (bad :+ "").mkString("\n"))
          kept += 1
        }
      } finally rows.unpersist(blocking = false)
    }
    ReadmitReport(epochs.size.toLong, readmitted, kept)
  }
}
