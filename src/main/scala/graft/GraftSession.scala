package graft

import org.apache.spark.sql.SparkSession

/** Canonical session config for the engine. Kept in one place so Verify,
  * Bench, and tests run identical semantics:
  *  - UTC session timezone (oracle parity),
  *  - AQE on (runtime re-plan, skew-join splitting at scale),
  *  - shuffle partitions sized to local cores (not the 200 default),
  *  - nanosAsLong: an `events` table written as TIMESTAMP(NANOS), which
  *    Spark's vectorized reader refuses, reads as Long and Tables.events
  *    normalizes it (truncate to micros, same as the oracle's cast); the
  *    test corpora's microsecond `ts` reads as TIMESTAMP_NTZ untouched,
  *  - a generated-class cache sized to the streaming working set
  *    ([[CodegenCacheEntries]]).
  */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // partition values stay strings on read-back (dt=2024-01-01 would
      // otherwise type-infer to DATE and diverge from the written column)
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // InferFiltersFromGenerate synthesizes `size(e) > 0 AND
      // isnotnull(e)` from every explode/posexplode and pushes it toward
      // the scan. When `e` is a computed pipeline (tokenize → chunk →
      // array_join — this engine's hottest map shapes), the pushed
      // filter RE-EVALUATES that whole pipeline twice more per row
      // (Catalyst does no CSE across the filter/project boundary), and
      // it lands below any parallelizing exchange — measured 3× the map
      // work on q84's chunk pass. The rule only prunes rows the
      // Generate would drop anyway (empty arrays — rare in a text
      // corpus at any scale), so excluding it trades a no-op prune for
      // whole-stage triplication. Results are bit-identical (it is an
      // optimization rule, not a semantic one).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // AQE coalesces post-shuffle partitions by BYTES
      // (parallelismFirst floors each partition at
      // coalescePartitions.minPartitionSize, default 1 MB). This
      // engine's hot stages are compute-per-row heavy on narrow rows
      // (shingle/bigram/window kernels over 8 B hashes), so byte-based
      // coalescing serializes stages whose shuffle input is small but
      // whose CPU cost is not (measured: q87's model build ran 1.0 s on
      // ONE task after AQE coalesced a 0.3 MB exchange). A 16 KB floor
      // only binds when a shuffle stage carries a few MB total — i.e.
      // it is self-deactivating at scale, where partitions dwarf any
      // floor — and restores the cores the scheduler already has.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "16kb")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")

  /** Size of Spark's JVM-wide cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100; a static conf,
    * read once when the JVM first generates code). The streaming
    * pipeline's working set of generated classes is larger than 100, so
    * at the default the cache thrashes and every micro-batch recompiles
    * classes it compiled before; 256 holds the working set, and the cap
    * still bounds a long-lived server. */
  val CodegenCacheEntries: Int = 256

  /** Session-conf key naming the scale-factor directory the SQL
    * table-valued functions read (see [[sqlSurface]]). */
  val SqlDirKey = "graft.sql.dir"

  /** Register the engine's SQL surface on `spark` for the tables under
    * `dir`: every source table as a temp view (`events` normalized to
    * micros timestamps, like every operator sees it) plus the corpus
    * binding for the table-valued operator functions injected by
    * [[GraftExtensions]] (`phrase_search`, `more_like_this`,
    * `bm25_search`, `basket_lift`, `basket_rules`, `ann_topk`,
    * `fuzzy_link`, `page_rank`, `funnel`, `phrase_search_indexed`).
    * After this one call a user composes the engine from plain SQL —
    *
    *   SELECT d.text, m.score FROM more_like_this(1, 10, 20) m
    *   JOIN documents d USING (doc_id)
    *
    * — the ES-DSL composition surface of the reference
    * (PublisherMapperImpl.java:65-109), re-expressed as Spark SQL.
    * Spec-pinned equal to the Scala registry functions. */
  def sqlSurface(spark: SparkSession, dir: String): Unit = {
    spark.conf.set(SqlDirKey, dir)
    Tables.names.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dir)
               else Tables(spark, dir, t)
      df.createOrReplaceTempView(t)
    }
  }

  /** Fully-qualified class name of Spark's RocksDB state store provider
    * (ships with Spark ≥3.2; rocksdbjni is on the classpath). */
  val RocksDBProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** [[builder]] with streaming state kept in RocksDB instead of the
    * default in-heap HDFSBackedStateStore. The deployment answer once
    * stateful-streaming state (the ±24 h stream-stream join buffer, the
    * per-day dedup set, sessionization timers) outgrows executor heap:
    * RocksDB spills to local SSD and checkpoints changelogs, so state
    * size is bounded by disk, not memory. Changelog checkpointing keeps
    * commits O(delta) rather than O(state). Batch-only hosts (Verify,
    * Bench) stay on [[builder]] — the provider only matters to streaming
    * queries. */
  def builderWithRocksDB(cpus: String): SparkSession.Builder =
    builder(cpus)
      .config("spark.sql.streaming.stateStore.providerClass", RocksDBProvider)
      .config(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
}
