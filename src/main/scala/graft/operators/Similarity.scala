package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.roundStable
import graft.functions.VectorFunctions._
import org.apache.spark.sql.graft.Dict
import org.apache.spark.sql.graft.VectorExpressions.cosineNative

/** Similarity search over the `embeddings` table (north-star extension):
  * brute-force cosine top-k as the correctness baseline, and a blocked /
  * LSH-bucketed variant as the scale path.
  *
  * Scale design:
  *  - topK: the query vector is a 1-row broadcast; scoring is a map-only
  *    pass over the embeddings scan followed by TakeOrderedAndProject —
  *    no shuffle of the vectors themselves. At 100 TB this is the exact
  *    shape of a scatter-gather ANN "flat" search.
  *  - blocked near-dup: candidate pairs come from an equi-join on a
  *    coarse block key (here the `label` cluster id; in an IVF layout the
  *    centroid id), so the cross-product never materializes globally —
  *    each block is a local O(b²) handled inside one shuffle partition.
  *  - hyperplane LSH: sign-bit bucketing on deterministic hyperplanes
  *    with md5-derived integer components — signatures are map-only,
  *    candidates come from a bucket equi-join.
  */
object Similarity {

  /** Default hyperplane count — shared with the oracle SQL builder
    * (SparkEntry.lshBucketSql) so both sides always agree. */
  val LshPlanes = 8

  /** Brute-force cosine top-k against the embedding of `queryId`. */
  def topK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        roundStable(cosineNative(col("embedding"), col("q_embedding")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Two-stage retrieval: coarse cosine over the FIRST `coarseDims`
    * components shortlists `shortlist` candidates; only those are
    * re-ranked with the full vector (the truncated-dimension /
    * Matryoshka-retrieval pattern — score cheap on a prefix, pay full
    * dimensionality for a bounded candidate set).
    *
    * Scale: both stages are map-only over the scan plus k-bounded
    * TakeOrdered heaps — zero shuffles, like [[topK]], but the full-dim
    * arithmetic runs on `shortlist` rows instead of the corpus. At
    * 100 TB the coarse stage composes with the IVF partition-pruned
    * scan (probe cells, coarse-score members, re-rank survivors); the
    * prefix slice keeps one storage column (no separate head table) —
    * the shortlist heap carries the full vector so stage 2 needs no
    * second lookup. Ties at the shortlist boundary break on vec_id, so
    * the cut is deterministic and oracle-reproducible. */
  def rerankTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      coarseDims: Int = 16, shortlist: Int = 50, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    emb.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"), col("q_embedding"),
        cosineNative(slice(col("embedding"), 1, coarseDims),
          slice(col("q_embedding"), 1, coarseDims)).as("coarse_score"))
      .orderBy(desc("coarse_score"), col("vec_id"))
      .limit(shortlist)
      .select(col("vec_id"),
        roundStable(cosineNative(col("embedding"), col("q_embedding")), 6)
          .as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Brute-force top-k over INT8-QUANTIZED vectors — the 4×-storage-
    * compression retrieval path (store `floor(v·127/max|v|)` bytes, keep
    * float32 only for re-ranking if at all). Both sides quantize with
    * the native [[org.apache.spark.sql.graft.Int8Quantize]] kernel
    * (one pass per vector; the composed `transform` form would re-fold
    * the per-vector scale per element), and scoring reuses the cosine
    * kernel on the integer carriers — products ≤ 127²·dim are exactly
    * representable in the double accumulator, so the whole pipeline
    * stays bitwise oracle-reproducible. Map-only + TakeOrdered like
    * [[topK]]; at 100 TB the quantized column is what you materialize
    * and scan, cutting the ANN scan's bytes 4×. */
  def quantizedTopK(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 10): DataFrame = {
    import org.apache.spark.sql.graft.VectorExpressions.int8QuantizeNative
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), int8QuantizeNative(col("embedding")).as("qv"))
    val q = emb.where(col("vec_id") === queryId)
      .select(col("qv").as("q_qv"))
    emb.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        roundStable(cosineNative(col("qv"), col("q_qv")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Near-duplicate pairs by cosine ≥ threshold, blocked by `label`
    * (IVF-style coarse quantization: only intra-block pairs are scored).
    *
    * QUADRATIC BY DESIGN: with a FIXED block vocabulary, intra-block
    * population grows with the corpus and pair count grows with its
    * square — the sf1 scale run measured exactly that (10× vectors →
    * ×100 pairs, ×34 time; BENCH_SF1.md). This operator is the
    * exact-within-block baseline; at corpus scale use the siblings
    * whose block counts grow with the data: hyperplane LSH buckets
    * ([[lshNearDup]]), MinHash-LSH ([[graft.operators.Dedup
    * .minhashLshPairs]]), or the IVF kNN join
    * ([[graft.operators.IvfIndex.ivfKnnJoin]]). */
  def blockedNearDup(spark: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame =
    blockedPairs(spark, dir, threshold).orderBy("id1", "id2")

  /** [[blockedNearDup]] without the presentation sort — the edge feed
    * for consumers that aggregate the pairs (components, dedup). */
  private def blockedPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("embedding"))
    val a = emb.as("a"); val b = emb.as("b")
    a.join(b, col("a.label") === col("b.label") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        roundStable(cosineNative(col("a.embedding"), col("b.embedding")), 6).as("score"))
      .where(col("score") >= threshold)
  }

  /** Semantic dedup (the SemDeDup pass, Abbas et al. 2023,
    * arXiv:2303.09540): embedding-cosine near-duplicate EDGES →
    * connected COMPONENTS → one canonical survivor per component.
    * Output is the full per-vector verdict: (vec_id, comp, keep) for
    * EVERY vector — comp is the component representative (min vec_id
    * reachable; singletons are their own comp) and keep marks the
    * canonical (vec_id == comp, deterministic min-id selection, the
    * paper's "keep one per cluster" with an id tiebreak instead of its
    * centroid-distance rank — both are valid canonical policies; min-id
    * is the oracle-reproducible one).
    *
    * Scale: pairs come from the label-blocked cosine join (quadratic
    * within a block — see [[blockedNearDup]]'s scaladoc for why, and
    * for the siblings whose block counts grow with the data; at corpus
    * scale feed edges from [[graft.operators.IvfIndex.ivfKnnJoin]]
    * cells instead). Components are pointer-jumping
    * ([[graft.operators.Dedup.connectedComponents]], O(log diameter)
    * rounds), and the final verdict is one broadcast-or-SMJ left join
    * of the component labels back onto the vector ids — the embedding
    * column itself never shuffles past the pair join. */
  def semanticDedup(spark: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame =
    componentVerdict(spark, dir,
      blockedPairs(spark, dir, threshold).select("id1", "id2"))

  /** [[semanticDedup]] on TRAINED clusters — the paper's actual
    * algorithm (SemDeDup §2: k-means the embeddings, compare pairs
    * within each cluster): edges are intra-CELL cosine pairs under the
    * k-means assignment [[graft.operators.IvfIndex.trainCached]]
    * produces, instead of the fixed label blocking. Approximate by
    * design — a near-dup pair split across cells is not scored (the
    * paper accepts exactly this miss); cell COUNT grows with the
    * corpus, so intra-cell population — and the quadratic term — stays
    * bounded, which is what makes this the 100 TB path. Assignment is
    * the map-only literal-centroid expression (zero shuffles before the
    * pair join), and the verdict machinery is shared with
    * [[semanticDedup]].
    *
    * `cells = 0` (the default) MEASURES the corpus and picks
    * `max(16, ceil(n / 128))` — the scaladoc's "cell count grows with
    * the corpus" claim as code, not prose. A fixed 16 at sf1 (20k
    * vectors) left ~1.2k vectors per cell: the same quadratic pair mass
    * as the label-blocked brute path it exists to beat, AND join
    * parallelism capped at 16 partitions (measured: 27.8 s vs brute's
    * 28.3 s — BENCH_SF1.md). The DuckDB oracle derives its cell count
    * from the corpus with this same rule (LIMIT-subquery seed in the
    * unrolled Lloyd CTE), so the gate tracks the operator at every SF
    * — 16 at the gate corpus, 157 at sf1 — rather than freezing the
    * gate-SF parameter. The count is parquet-metadata-only;
    * capped at 4096 so the literal-centroid expression stays
    * compilable (past that, a deployment shards training anyway). */
  def semanticDedupIvf(spark: SparkSession, dir: String,
      threshold: Double = 0.3, cells: Int = 0, iters: Int = 3)
      : DataFrame = {
    val nCells =
      if (cells > 0) cells
      else measuredCells(Tables.embeddings(spark, dir).count())
    val cents = IvfIndex.trainCached(spark, dir, nCells, iters)
    semanticDedupWithCentroids(Tables.embeddings(spark, dir), cents,
      threshold)
  }

  /** The operator's corpus-relative cell-count rule (shared with the
    * q82 oracle, which derives the same value in SQL). */
  private[operators] def measuredCells(n: Long): Int = {
    val c = math.min(4096L, math.max(16L, (n + 127L) / 128L)).toInt
    System.err.println(
      s"[graft] semanticDedupIvf: measured $n vectors -> $c cells")
    c
  }

  /** [[semanticDedupIvf]] over an explicit (vec_id, embedding)
    * relation — trains on THAT relation (no memo: the survivor subset
    * changes with upstream gates). The corpus-build composition's
    * semantic stage. */
  def semanticDedupIvfOn(emb: DataFrame, threshold: Double = 0.3,
      cells: Int = 0, iters: Int = 3): DataFrame = {
    val n = if (cells > 0) -1L else emb.count()
    if (n == 0)
      // nothing to dedup (an upstream gate emptied the corpus): the
      // empty verdict, not a zero-cell training crash
      return emb.select(col("vec_id"), col("vec_id").as("comp"),
        lit(1).as("keep"))
    val nCells = if (cells > 0) cells else measuredCells(n)
    val cents = IvfIndex.trainOn(emb, nCells, iters)
    semanticDedupWithCentroids(emb, cents, threshold)
  }

  private def semanticDedupWithCentroids(embeddings: DataFrame,
      cents: IvfIndex.Centroids, threshold: Double): DataFrame = {
    // cell computed IN the scan projection (literal centroids, map-only)
    // — joining a separate assign() relation back on vec_id would spend
    // a corpus shuffle to rediscover a value the scan can compute
    val emb = embeddings
      .select(col("vec_id"), col("embedding"),
        IvfIndex.cellExpr(cents, col("embedding")))
    val a = emb.as("a"); val b = emb.as("b")
    val edges = a.join(b, col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        roundStable(cosineNative(col("a.embedding"), col("b.embedding")), 6)
          .as("score"))
      .where(col("score") >= threshold)
      .select("id1", "id2")
    componentVerdictOn(embeddings.select("vec_id"), edges)
  }

  /** Shared SemDeDup decision tail: edges → components → the full
    * per-vector verdict (see [[semanticDedup]]'s scaladoc). */
  private def componentVerdict(spark: SparkSession, dir: String,
      edges: DataFrame): DataFrame =
    componentVerdictOn(Tables.embeddings(spark, dir).select("vec_id"),
      edges)

  private def componentVerdictOn(universe: DataFrame,
      edges: DataFrame): DataFrame = {
    val comps = Dedup.connectedComponents(edges)
      .select(col("doc_id").as("vec_id"), col("comp"))
    universe.select(col("vec_id"))
      .join(comps, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("comp"))
      .withColumn("keep",
        when(col("vec_id") === col("comp"), 1).otherwise(0))
      .orderBy("vec_id")
  }

  /** Per-label nearest neighbors of a query vector via the typed TopK
    * Aggregator: the buffer carries at most k pairs per group through
    * the shuffle (map-side partial agg), vs a whole-group sort under the
    * window-function formulation. Output: (label, rank, vec_id, score). */
  def topKPerLabel(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 3): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    val scored = emb.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("label").cast("long"),
        roundStable(cosineNative(col("embedding"), col("q_embedding")), 6).as("score"),
        col("vec_id"))
      .as[(Long, Double, Long)]
    topKExplode(scored, k, "label")
      .select(col("label").cast("int").as("label"), col("rank"),
        col("vec_id"), col("score"))
      .orderBy("label", "rank")
  }

  /** Shared top-k-per-group shape: group the (key, score, id) relation,
    * fold through the k-bounded [[graft.functions.TopKAggregator]]
    * (ties: score desc, id asc — matching the oracles' ORDER BY), then
    * explode the per-group buffer to (key, rank, vec_id, score) rows. */
  private[operators] def topKExplode(
      scored: org.apache.spark.sql.Dataset[(Long, Double, Long)], k: Int,
      keyName: String): DataFrame = {
    import scored.sparkSession.implicits._
    val agg = new graft.functions.TopKAggregator(k)
    scored.groupByKey(_._1)
      .mapValues { case (_, score, id) => (score, id) }
      .agg(agg.toColumn.name("top"))
      .toDF(keyName, "top")
      .select(col(keyName), posexplode(col("top")).as(Seq("pos", "pair")))
      .select(col(keyName), (col("pos") + 1).cast("long").as("rank"),
        col("pair._2").as("vec_id"), col("pair._1").as("score"))
  }

  /** Batch k-NN join: top-k neighbors for EVERY query vector in a set
    * (the batch ANN-serving shape — embed a query batch, join against
    * the corpus). The query side is broadcast (Q rows), scoring is
    * map-only over the corpus scan, and the typed TopK aggregator keeps
    * at most k (score, id) pairs per query through the one shuffle —
    * never the full Q×N score matrix. Output:
    * (query_id, rank, vec_id, score). */
  def knnJoin(spark: SparkSession, dir: String, queryIds: Seq[Long],
      k: Int = 5): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_embedding"))
    val scored = emb.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        roundStable(cosineNative(col("embedding"), col("q_embedding")), 6)
          .as("score"),
        col("vec_id"))
      .as[(Long, Double, Long)]
    topKExplode(scored, k, "query_id")
      .orderBy("query_id", "rank")
  }

  /** Per-label mean embedding ("label centroids") with the same
    * integer-exact aggregation as IVF training: component sums over
    * floor(v·1e6) longs are aggregation-order-independent, so the means
    * are bit-for-bit reproducible cross-engine. One shuffle keyed
    * (label, pos); output (label, pos, n_vectors, mean) rows — the
    * cluster-feature table a training pipeline joins back onto docs. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum(floor(col("v").cast("double") * 1e6)).as("sv"),
        count(lit(1)).as("n_vectors"))
      .select(col("label"), col("pos").cast("long").as("pos"),
        col("n_vectors"),
        (col("sv").cast("double") /
          (col("n_vectors").cast("double") * 1e6)).as("mean"))
      .orderBy("label", "pos")

  /** Hyperplane components for plane `j`: md5-derived small integers in
    * [-8, 8]. Integers (not libm cos/sin pseudo-randoms) because the
    * oracle must reproduce the SIGN of the dot product bit-for-bit:
    * float→double widening is exact, double×small-int products round
    * identically under IEEE 754 in any engine, and the ascending-index
    * fold order below matches DuckDB's `list_reduce` — so the signature
    * is engine-independent. Random-hyperplane LSH only needs the
    * components i.i.d.-ish and sign-balanced; a 17-way md5 residue is as
    * good a source as a float gaussian for bucketing purposes. */
  private[graft] def planeWeights(planes: Int, dim: Int = 64): IndexedSeq[IndexedSeq[Long]] =
    (0 until planes).map(j => (0 until dim).map(i =>
      graft.functions.TextFunctions.md5LongScala(s"lsh-plane:$j:$i") % 17 - 8))

  /** The bucket column expression over an `embedding` column: bit j =
    * sign of the dot product with plane j's weight vector — ONE native
    * codegen'd node carrying the flattened plane matrix
    * ([[org.apache.spark.sql.graft.HyperplaneSig]]). Guarded: an
    * embedding whose width differs from `dim` raises instead of
    * silently zeroing bucket bits; a NULL embedding yields a NULL
    * bucket (drops out of joins) rather than crashing the job for one
    * bad row. Bitwise-equal to [[bucketSignatureComposed]]
    * (HyperplaneSigSpec pins it on the real corpus). */
  private[operators] def bucketSignature(planes: Int, dim: Int = 64) = {
    val flat = Dict.doubles(
      planeWeights(planes, dim).flatten.map(_.toDouble).toArray)
    org.apache.spark.sql.graft.VectorExpressions.hyperplaneSigNative(
      col("embedding"), flat, planes)
  }

  /** The pre-kernel formulation — `planes` inlined `zip_with`/
    * `aggregate` folds — kept as the spec's independent arithmetic
    * witness (the CellArgmax round's pattern): HyperplaneSigSpec
    * asserts the native node reproduces this bit-for-bit. Not used in
    * any query plan. */
  private[operators] def bucketSignatureComposed(planes: Int,
      dim: Int = 64) = {
    val sig = planeWeights(planes, dim).zipWithIndex.map { case (w, j) =>
      val warr = array(w.map(v => lit(v.toDouble)): _*)
      val d = aggregate(
        zip_with(col("embedding"), warr, (x, wi) => x.cast("double") * wi),
        lit(0.0), (acc, x) => acc + x)
      when(d >= 0, lit(1L << j)).otherwise(0L)
    }.reduce((a, b) => a + b)
    when(col("embedding").isNull, lit(null).cast("long"))
      .when(size(col("embedding")) === dim, sig)
      .otherwise(raise_error(concat(
        lit(s"bucketSignature: embedding dim != $dim, got "),
        size(col("embedding")).cast("string"))))
  }

  def lshBuckets(spark: SparkSession, dir: String,
      planes: Int = LshPlanes): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), bucketSignature(planes).as("bucket"))
      .orderBy("vec_id")

  /** ANN via LSH buckets: score only same-bucket pairs (the scale path —
    * candidate generation is an equi-join on bucket). */
  def lshNearDup(spark: SparkSession, dir: String, planes: Int = LshPlanes,
      threshold: Double = 0.3): DataFrame = {
    // bucket computed inline (it derives from the same row) — joining
    // back to lshBuckets would shuffle the whole table twice for nothing
    val withB = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        bucketSignature(planes).as("bucket"))
    val a = withB.as("a"); val b = withB.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        roundStable(cosineNative(col("a.embedding"), col("b.embedding")), 6).as("score"))
      .where(col("score") >= threshold)
      .orderBy("id1", "id2")
  }
}
