package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Dict, FuzzyExpressions}
import graft.Tables

/** Edit-distance fuzzy self-join — the record-linkage / entity-
  * resolution primitive (ES `fuzziness` parity for match queries, and
  * the dirty-catalog dedup every ingestion pipeline needs): all pairs
  * of rows whose string key is within Levenshtein distance `maxDist`.
  *
  * The join runs QUOTIENT-FIRST: edit distance is a function of the
  * name values alone, so the candidate machinery operates on DISTINCT
  * names and the answer expands back through the clone groups at the
  * end. On catalog-shaped corpora this is the whole ballgame — TPC-H
  * sf0.1 has 64 distinct names across 20,000 parts, so the O(·²)-risk
  * stages see 64 rows while the expansion is a plain equi-join — and on
  * a high-diversity corpus the quotient is the corpus and nothing was
  * lost. The same collapse-compute-expand shape as the chunk-dedup
  * dictionary (q83).
  *
  * On the quotient, candidate generation never goes all-pairs; two
  * published filters split by string length, each producing a strict
  * SUPERSET of the answer:
  *
  *   - LONG path (≥ q·(k+1) codepoints): ED-Join prefix filtering
  *     (Xiao et al., VLDB'08). Each name's tagged q-gram occurrence
  *     keys ([[org.apache.spark.sql.graft.TaggedQGramHashes]]) are
  *     ranked by GLOBAL rarity (corpus df, one agg, joined back under a
  *     measured broadcast guard); one codepoint edit destroys ≤ q
  *     occurrences, so names within distance k share a key among their
  *     k·q+1 rarest — the join is on that prefix only.
  *   - SHORT path (where the overlap bound is vacuous): SymSpell
  *     deletion neighborhoods — names within distance k share a
  *     ≤k-deletion variant; fan-out is Σ C(n,i) ≤ 67 keys for n ≤ 10,
  *     k = 2. Bounded per-row work, no quadratic short-bucket.
  *
  * Verification on the quotient is staged cheapest-first: candidates
  * collapse to bare name pairs; the tagged-gram MULTISET OVERLAP bound
  * (within distance k the sorted tagged sets share ≥ max(|Ga|,|Gb|) −
  * k·q elements) runs as one codegen'd sorted merge per pair; survivors
  * pay Levenshtein in the THRESHOLD form (O(k·n) banded DP) only.
  * Candidate keys are 8-byte longs — a collision only ever ADDS a
  * candidate; the verify keeps the answer exact.
  */
object FuzzyJoin {

  /** q-gram width for the long path. */
  val Q = 3

  /** Distinct-gram count past which the df side of the rarity join
    * stops broadcasting (driver-OOM guard, the decontaminate pattern). */
  val MaxBroadcastGrams = 2000000L

  /** Ceiling on rows the pair AUDIT view may materialize. The pair
    * relation is quadratic in clone-group size (sf1's clone-heavy
    * corpus: 552M rows from 20k keys — BENCH_SF1.md), so on a
    * pathological corpus an unguarded call materializes an answer
    * nobody can review. The mass is PRICED before the expansion runs —
    * clone-group sizes are one aggregate over the already-cached base,
    * name-pair mass one aggregate over the cached quotient pairs — and
    * past the cap the call fails loudly naming [[fuzzyClusters]] (one
    * row per key, whatever the duplication structure) as the scale
    * path; raising `maxPairs` explicitly is the conscious-audit
    * override. A billion rows keeps every measured corpus (552M at
    * sf1) green while stopping the 100 TB quadratic blowup — the
    * cdcDedup over-cap discipline. */
  val MaxAuditPairs = 1000000000L

  /** The ED-Join prefix relation `(keys…, g)`: each name's `prefixLen`
    * rarest grams under the global (df, g) order, from an `info`
    * relation carrying `keys…` plus the sorted gram array `gs`.
    *
    * Common arm (gram dictionary within `maxBroadcastGrams`): the df
    * table driver-collects into a sorted (gram, df) `Dict` — the SAME
    * bound that previously justified `broadcast(df)` — and the prefix
    * is selected MAP-SIDE per row by [[TextExpressions.rarestKGrams]]
    * over the cached info relation: the gram explode→df join→
    * row_number window chain (one exchange + a full per-name SORT of
    * the gram relation) disappears from the plan, and the candidate
    * join's inputs shrink to the selected prefixes at the source.
    * Over-cap arm: the dictionary cannot ship, so the original
    * shuffled-join + window path runs (cached — the window is the
    * expensive stage the cache amortizes across the self-join's two
    * reads). Both arms emit the same multiset: the k smallest (df, g)
    * pairs per name — ties are value-identical, so the window's
    * arbitrary row_number order among them cannot change it
    * (spec-pinned by FuzzyJoinSpec). */
  private def prefixRelation(info: DataFrame, keys: Seq[String],
      prefixLen: Int, maxBroadcastGrams: Long): DataFrame = {
    import org.apache.spark.sql.graft.TextExpressions
    val keyCols = keys.map(col)
    val grams = info.select(keyCols :+ explode(col("gs")).as("g"): _*)
    val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
    val nGrams = df.count()
    if (nGrams <= maxBroadcastGrams) {
      val dfs = Dict.sortedPairs(df) // bounded by the cap just measured
      // exchange-free map work over the cached info relation —
      // recompute per self-join branch beats a cache barrier here
      info.select(keyCols :+ explode(TextExpressions.rarestKGrams(
        col("gs"), prefixLen, dfs)).as("g"): _*)
    } else {
      System.err.println(
        s"[graft] fuzzy prefix: $nGrams distinct grams (> cap " +
          s"$maxBroadcastGrams) — df side falls back to a shuffled " +
          "join + window")
      graft.Caches.register(
        grams.join(df.hint("shuffle_hash"), Seq("g"))
          .withColumn("__rn", row_number().over(
            Window.partitionBy(keyCols: _*).orderBy(col("df"), col("g"))))
          .where(col("__rn") <= prefixLen)
          .select(keyCols :+ col("g"): _*)
          .cache())
    }
  }

  /** q102: part-name fuzzy self-join at distance ≤ 2. */
  def fuzzyPairs(spark: SparkSession, dir: String,
      maxDist: Int = 2): DataFrame =
    fuzzyPairsOn(
      Tables.part(spark, dir)
        .select(col("p_partkey").as("key"), col("p_name").as("name")),
      maxDist)
      .orderBy("a_key", "b_key")

  /** All (a_key < b_key) pairs of `rel(key, name)` with
    * levenshtein(name_a, name_b) ≤ maxDist, plus the exact distance.
    * Output mass is measured BEFORE the expansion materializes and the
    * call fails loudly past `maxPairs` (see [[MaxAuditPairs]]). */
  def fuzzyPairsOn(rel: DataFrame, maxDist: Int = 2,
      maxBroadcastGrams: Long = MaxBroadcastGrams,
      maxPairs: Long = MaxAuditPairs): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    val base = graft.Caches.register(
      rel.select(col("key"), col("name")).cache())
    // TIERED guard: C(N,2) bounds ANY pair view, so one cheap count
    // clears small corpora without touching the quotient machinery
    // (the measured-dispatch discipline — pricing the expansion
    // exactly cost ~2 s at sf0.1 for a guard that can't trip there).
    // Only when the trivial bound can't clear does the exact price
    // run: clone-group sizes × the cached name-pair relation bound
    // the output EXACTLY (groups are disjoint), one driver action.
    val nKeys = base.count()
    val triviallyUnder =
      nKeys.toDouble * (nKeys - 1).toDouble / 2.0 <= maxPairs.toDouble
    val namePairs =
      if (triviallyUnder)
        quotientPairs(base.select(col("name")).distinct(), maxDist,
          maxBroadcastGrams)
      else {
        val np = graft.Caches.register(quotientPairs(
          base.select(col("name")).distinct(), maxDist,
          maxBroadcastGrams).cache())
        val sizes = base.groupBy("name").agg(count(lit(1)).as("n"))
        val predicted = np
          .join(sizes.select(col("name").as("a_name"), col("n").as("na")),
            Seq("a_name"))
          .join(sizes.select(col("name").as("b_name"), col("n").as("nb")),
            Seq("b_name"))
          .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("cm"))
          .crossJoin(sizes
            .agg(coalesce(sum((col("n") * (col("n") - 1) / 2)
              .cast("long")), lit(0L)).as("em")))
          .select(col("cm") + col("em"))
          .first().getLong(0)
        require(predicted <= maxPairs,
          s"fuzzyPairs would materialize $predicted rows (cap " +
            s"$maxPairs): the pair view is quadratic in clone-group " +
            "size — use fuzzyClusters (linear output, one row per key) " +
            "at scale, or raise maxPairs explicitly to audit consciously")
        np
      }
    // expand: every (a_name, b_name) name pair × its two clone groups;
    // groups are disjoint (distinct names), so least/greatest emits
    // each unordered key pair exactly once
    val cross = namePairs
      .join(base.select(col("key").as("ka"), col("name").as("a_name")),
        Seq("a_name"))
      .join(base.select(col("key").as("kb"), col("name").as("b_name")),
        Seq("b_name"))
      .select(least(col("ka"), col("kb")).as("a_key"),
        greatest(col("ka"), col("kb")).as("b_key"), col("dist"))
    // clone-group internal pairs: distance 0 by construction
    val eq = base.as("a")
      .join(base.as("b"),
        col("a.name") === col("b.name") && col("a.key") < col("b.key"))
      .select(col("a.key").as("a_key"), col("b.key").as("b_key"),
        lit(0L).as("dist"))
    cross.union(eq)
  }

  /** Serving form — the ES `match` + `fuzziness` query: items whose
    * name is within `maxDist` edits of one query term. A single-term
    * probe needs none of the join machinery: the plan is one scan with
    * a cheap length band, the threshold (banded-DP) levenshtein, and a
    * k-bounded TakeOrdered — map-only, pushed column pruning, no
    * exchange. Served by `/fuzzySearch`. */
  def fuzzyTermSearch(spark: SparkSession, dir: String, term: String,
      maxDist: Int = 2, topN: Int = 20): DataFrame = {
    require(maxDist >= 0 && maxDist <= 4, "maxDist must be in 0..4")
    require(topN > 0, "topN must be positive")
    // codepoint count, NOT term.length: length(col) counts codepoints,
    // and a query term with supplementary-plane characters would
    // otherwise shift the band and silently miss true matches
    val termLen = term.codePointCount(0, term.length)
    Tables.part(spark, dir)
      .select(col("p_partkey").as("key"), col("p_name").as("name"))
      .where(abs(length(col("name")) - lit(termLen)) <= maxDist)
      .withColumn("dist",
        levenshtein(col("name"), lit(term), maxDist).cast("long"))
      .where(col("dist") >= 0L)
      .orderBy(col("dist"), col("key"))
      .limit(topN)
  }

  /** q107: the LINEAR-OUTPUT production form of the fuzzy join — every
    * key stamped with its fuzzy-cluster id (the smallest key whose name
    * is reachable through distance-≤k links). Entity resolution at
    * scale emits CLUSTERS, not pairs: q102's pair relation is quadratic
    * in clone-group size (552M rows at sf1 — the audit view), while
    * this is one row per input key, whatever the duplication structure.
    *
    * Shape: the quotient pair machinery runs unchanged; name pairs map
    * to surrogate ids (each name's minimum key) and feed the q53
    * connected-components machinery (measured driver dispatch and all);
    * the final stamp is one join back through the name→surrogate
    * relation. Because components label by minimum id and surrogates
    * are minimum keys, `cluster` is the smallest key in the whole
    * fuzzy cluster — a deterministic, meaningful canonical. */
  def fuzzyClusters(spark: SparkSession, dir: String,
      maxDist: Int = 2,
      edgeBudget: Long = Dedup.DriverCcEdgeBudget): DataFrame =
    fuzzyClustersOn(
      Tables.part(spark, dir)
        .select(col("p_partkey").as("key"), col("p_name").as("name")),
      maxDist, edgeBudget = edgeBudget)
      .orderBy("key")

  /** [[fuzzyClusters]] over an explicit (key, name) relation. */
  def fuzzyClustersOn(rel: DataFrame, maxDist: Int = 2,
      maxBroadcastGrams: Long = MaxBroadcastGrams,
      edgeBudget: Long = Dedup.DriverCcEdgeBudget): DataFrame = {
    val base = rel.select(col("key"), col("name"))
    val groups = graft.Caches.register(
      base.groupBy("name").agg(min(col("key")).as("nid")).cache())
    val namePairs = quotientPairs(
      groups.select(col("name")), maxDist, maxBroadcastGrams)
    val edges = namePairs
      .join(groups.select(col("name").as("a_name"), col("nid").as("id1")),
        Seq("a_name"))
      .join(groups.select(col("name").as("b_name"), col("nid").as("id2")),
        Seq("b_name"))
      .select(col("id1"), col("id2"))
    val comps = Dedup.connectedComponents(edges, edgeBudget = edgeBudget)
      .select(col("doc_id").as("nid"), col("comp"))
    base.join(groups, Seq("name"))
      .join(comps, Seq("nid"), "left")
      .select(col("key"),
        coalesce(col("comp"), col("nid")).as("cluster"))
  }

  /** q128: fuzzy entity LINKING — the cross-relation form of the fuzzy
    * join (the dirty-dimension lookup every record-linkage pipeline
    * needs): free-text catalog-product mentions (consecutive token
    * bigrams over `documents`) resolved against the canonical `part`
    * name catalog at distance ≤ `maxDist`, best match per mention.
    *
    * Unlike q102/q107 this never pays a probe-side self-join: candidate
    * machinery indexes BOTH relations with the same keys (common-order
    * q-gram prefixes / deletion neighborhoods) but every join is
    * side-crossing only, so candidate volume is probe×dim-bounded —
    * mention↔mention proximity, however dense, costs nothing. The dim
    * side of each key join is catalog-sized (its prefix/variant index
    * broadcasts under AQE when small), so at 100 TB the probe side
    * streams map-only into broadcast joins: the J1 dim-lookup shape with
    * fuzzy keys. */
  def fuzzyLink(spark: SparkSession, dir: String,
      maxDist: Int = 2): DataFrame = {
    import graft.functions.TextFunctions.tokens
    // spread the RAW scan: the tokenize+bigram mention derivation is
    // the probe side's heavy map pass (no-op on a multi-split scan)
    val toks = ScanPar.spread(Tables.documents(spark, dir))
      .select(tokens(col("text")).as("l"))
    // consecutive-token bigram mentions, counted on the quotient —
    // the SAME bigram derivation as q127 (shared with its streaming
    // twin, so the accumulated-counts snapshot is structurally pinned)
    val mentions = TextAnalysis.bigrams(toks)
      .select(concat(col("a"), lit(" "), col("b")).as("mention"))
      .groupBy("mention").agg(count(lit(1)).as("n_occ"))
    fuzzyLinkOn(mentions,
      Tables.part(spark, dir).select(col("p_name").as("name")),
      maxDist)
  }

  /** [[fuzzyLink]] over explicit relations: each distinct
    * `probe(mention, n_occ)` resolved to its closest `dim(name)` within
    * `maxDist` (ties → lexicographically smallest name); unresolvable
    * mentions are absent. Output: (mention, name, dist, n_occ). */
  def fuzzyLinkOn(probe: DataFrame, dim: DataFrame,
      maxDist: Int = 2,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame = {
    require(maxDist >= 1, "maxDist must be >= 1")
    // the best-match aggregate packs dist into a 2-char prefix
    require(maxDist <= 99, "maxDist must be <= 99")
    val m = graft.Caches.register(
      probe.select(col("mention"), col("n_occ")).cache())
    val dn = graft.Caches.register(
      dim.select(col("name")).distinct().cache())
    // exact hits are the equality join the quotient machinery excludes
    val exact = m.select(col("mention"))
      .join(dn, col("mention") === col("name"))
      .select(col("mention"), col("name"), lit(0L).as("dist"))
    val fuzzy = crossQuotientPairs(
      m.select(col("mention").as("name")), dn, maxDist, maxBroadcastGrams)
      .select(col("p_name").as("mention"), col("d_name").as("name"),
        col("dist"))
    // best match per mention: min distance, then smallest name — an
    // AGGREGATE, not a row_number window (guide §2.3): the hash
    // aggregate partial-combines candidates map-side to one row per
    // (mention, partition) before the exchange, and no sort runs. The
    // (dist, name) order is packed into ONE string key (fixed-width
    // zero-padded dist, then the name — lexicographically identical to
    // the window's orderBy since both compare bytewise) because a
    // struct-valued min falls back to SortAggregate while an atomic
    // min stays hash-based.
    val best = exact.union(fuzzy)
      .groupBy("mention")
      .agg(min(concat(lpad(col("dist").cast("string"), 2, "0"),
        col("name"))).as("b"))
      .select(col("mention"), expr("substring(b, 3)").as("name"),
        expr("CAST(substring(b, 1, 2) AS BIGINT)").as("dist"))
    best.join(m, Seq("mention"))
      .select(col("mention"), col("name"), col("dist"), col("n_occ"))
      .orderBy("mention")
  }

  /** The cross-relation candidate machinery: all (probe name, dim name)
    * pairs within `maxDist` with the exact distance (≥ 1; equality is
    * the caller's equi-join). Same two published filters as
    * [[quotientPairs]] — ED-Join common-order prefix sharing for long
    * strings, SymSpell deletion neighborhoods for short — but every
    * key join crosses sides only, so probe-side mutual proximity never
    * generates a candidate. The gram order is global (df over BOTH
    * relations' occurrences): the prefix bound needs one total order
    * shared by every string it prunes. */
  private[graft] def crossQuotientPairs(probe: DataFrame, dim: DataFrame,
      maxDist: Int, maxBroadcastGrams: Long): DataFrame = {
    val prefixLen = maxDist * Q + 1
    val longMin = Q * (maxDist + 1)
    val shortMax = longMin - 1 + maxDist

    // side-tagged union: every expensive carrier (gram info, rarity
    // df, prefix, deletion variants) is computed and cached ONCE over
    // both relations — the [[quotientPairs]] single-pass shape — and
    // the cross-side joins filter the cached relation by tag. The same
    // string may appear on both sides (an exact catalog mention); the
    // (side, name) key keeps its two rows apart everywhere.
    val sided = probe.select(col("name")).withColumn("side", lit("p"))
      .union(dim.select(col("name")).withColumn("side", lit("d")))

    // ---- LONG path ------------------------------------------------
    val info = graft.Caches.register(
      sided.where(length(col("name")) >= longMin)
        .select(col("side"), col("name"),
          array_sort(FuzzyExpressions.taggedQGramHashes(col("name"), Q))
            .as("gs"))
        .withColumn("glen", size(col("gs")).cast("long"))
        .cache())
    // gram rarity over BOTH relations' occurrences: the prefix bound
    // needs one total order shared by every string it prunes
    val prefix = prefixRelation(info, Seq("side", "name"), prefixLen,
      maxBroadcastGrams)
    val candLong = prefix.where(col("side") === "p").as("a")
      .join(prefix.where(col("side") === "d").as("b"),
        col("a.g") === col("b.g") && col("a.name") =!= col("b.name"))
      .select(col("a.name").as("p_name"), col("b.name").as("d_name"))
      .distinct()
    val longPairs = candLong
      .join(info.where(col("side") === "p")
        .select(col("name").as("p_name"), col("gs").as("a_gs"),
          col("glen").as("a_glen")), Seq("p_name"))
      .join(info.where(col("side") === "d")
        .select(col("name").as("d_name"), col("gs").as("b_gs"),
          col("glen").as("b_glen")), Seq("d_name"))
      .where(org.apache.spark.sql.graft.TextExpressions
        .sortedIntersectCount(col("a_gs"), col("b_gs"))
        >= greatest(col("a_glen"), col("b_glen")) - lit(maxDist * Q))
      .select(col("p_name"), col("d_name"))

    // ---- SHORT path ----------------------------------------------
    val variants = graft.Caches.register(
      sided.where(length(col("name")) <= shortMax)
        .select(col("side"), col("name"),
          explode(FuzzyExpressions.deletionNeighborhood(col("name"), maxDist))
            .as("v"))
        .cache())
    val shortPairs = variants.where(col("side") === "p").as("a")
      .join(variants.where(col("side") === "d").as("b"),
        col("a.v") === col("b.v") && col("a.name") =!= col("b.name"))
      .select(col("a.name").as("p_name"), col("b.name").as("d_name"))
      .distinct()
      // disjointness: pairs with BOTH members ≥ longMin are the long
      // path's; this path owns the rest
      .where(least(length(col("p_name")), length(col("d_name")))
        < longMin)

    // ---- verify ---------------------------------------------------
    longPairs.union(shortPairs)
      .where(abs(length(col("p_name")) - length(col("d_name"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("p_name"), col("d_name"), maxDist).cast("long"))
      .where(col("dist") >= 0L)
  }

  /** The fuzzy join on the name QUOTIENT: all (a_name < b_name) pairs
    * of the single-column `names` relation within `maxDist`, with the
    * exact distance (≥ 1 — self pairs are the expansion's job). */
  private[graft] def quotientPairs(names: DataFrame, maxDist: Int,
      maxBroadcastGrams: Long): DataFrame = {
    val prefixLen = maxDist * Q + 1
    // |grams| > k·q ⟺ len ≥ q·(k+1): below that the overlap bound is
    // vacuous and the prefix filter could miss pairs
    val longMin = Q * (maxDist + 1)
    // a pair with a member below longMin has BOTH members ≤ this
    val shortMax = longMin - 1 + maxDist

    // ---- LONG path: ED-Join prefix filter --------------------------
    val info = graft.Caches.register(
      names.where(length(col("name")) >= longMin)
        .select(col("name"),
          array_sort(FuzzyExpressions.taggedQGramHashes(col("name"), Q))
            .as("gs"))
        .withColumn("glen", size(col("gs")).cast("long"))
        .cache())
    val prefix = prefixRelation(info, Seq("name"), prefixLen,
      maxBroadcastGrams)
    val candLong = prefix.as("a")
      .join(prefix.as("b"),
        col("a.g") === col("b.g") && col("a.name") < col("b.name"))
      .select(col("a.name").as("a_name"), col("b.name").as("b_name"))
      .distinct()
    val longPairs = candLong
      .join(info.select(col("name").as("a_name"), col("gs").as("a_gs"),
        col("glen").as("a_glen")), Seq("a_name"))
      .join(info.select(col("name").as("b_name"), col("gs").as("b_gs"),
        col("glen").as("b_glen")), Seq("b_name"))
      .where(org.apache.spark.sql.graft.TextExpressions
        .sortedIntersectCount(col("a_gs"), col("b_gs"))
        >= greatest(col("a_glen"), col("b_glen")) - lit(maxDist * Q))
      .select(col("a_name"), col("b_name"))

    // ---- SHORT path: deletion neighborhoods ------------------------
    val variants = graft.Caches.register(
      names.where(length(col("name")) <= shortMax)
        .select(col("name"),
          explode(FuzzyExpressions.deletionNeighborhood(col("name"), maxDist))
            .as("v"))
        .cache())
    val shortPairs = variants.as("a")
      .join(variants.as("b"),
        col("a.v") === col("b.v") && col("a.name") < col("b.name"))
      .select(col("a.name").as("a_name"), col("b.name").as("b_name"))
      .distinct()
      // disjointness with the long path: pairs with BOTH members ≥
      // longMin are the long path's; this path owns the rest
      .where(least(length(col("a_name")), length(col("b_name")))
        < longMin)

    // ---- verify ----------------------------------------------------
    longPairs.union(shortPairs)
      .where(abs(length(col("a_name")) - length(col("b_name"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("a_name"), col("b_name"), maxDist).cast("long"))
      .where(col("dist") >= 0L)
  }
}
