package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Dict, VectorExpressions}
import graft.Tables

/** Product quantization (Jégou et al., PAMI 2011) — the memory side of
  * the 100 TB ANN architecture IVF (q38/q56) provides the compute side
  * of: embeddings compress to `m` small codes (one byte each at
  * k ≤ 256), 64× smaller than float32 for the default geometry here,
  * and queries score against codes with one table lookup per subspace
  * (ADC) instead of a d-dimensional loop. IVF+PQ is the canonical
  * billion-vector layout.
  *
  * Determinism discipline (the q38 contract): sub-centroid training is
  * Lloyd with INTEGER-EXACT averages (per-component sums of
  * `floor(v·10⁶)` longs — partial-aggregation order cannot change
  * them), L2 assignment compares doubles built from identical operands
  * in identical fold order on both engines, ties take the lowest cell,
  * and EMPTY cells keep their previous centroid (both sides replay
  * that rule). The DuckDB oracle unrolls the per-subspace Lloyd chain
  * exactly (the q82 pattern).
  *
  * Scale shape: training collects only (m·k·subDim) fixed-point sums
  * per iteration; encoding is MAP-ONLY (the codebook ships inside the
  * [[org.apache.spark.sql.graft.PqAssign]] expression); ADC search is
  * map-only scoring against an in-expression distance table plus a
  * k-bounded TakeOrdered — zero shuffles end to end. */
object PqIndex {

  /** (subspace, cell) → exact-double sub-centroid. */
  type SubCentroids = IndexedSeq[((Int, Int), IndexedSeq[Double])]

  /** Default geometry for the gated queries: 4 subspaces × 8 cells
    * over the 64-dim test embeddings, 2 Lloyd iterations. */
  val M = 4
  val K = 8
  val Iters = 2

  /** Train per-subspace centroids: seed = the k lowest vec_ids'
    * subvectors, then `iters` Lloyd rounds with integer-exact averages;
    * empty cells keep their previous centroid. */
  def train(spark: SparkSession, dir: String, m: Int = M, k: Int = K,
      iters: Int = Iters): SubCentroids = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    var cents: SubCentroids = emb.orderBy("vec_id").limit(k).collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .flatMap { case (r, c) =>
        val v = r.getSeq[Float](1).map(_.toDouble)
        (0 until m).map(s => ((s, c), v.slice(s * d, (s + 1) * d).toIndexedSeq))
      }.toIndexedSeq
    for (_ <- 1 to iters) {
      val codes = VectorExpressions
        .pqAssignNative(col("embedding"), flatten(cents, m, k), m, k)
      // codes projects BELOW the explode (own select): as a sibling of
      // the generator it would land in the Project above Generate and
      // re-run the m·k·d assignment per exploded row — the IvfIndex
      // trainOn trap, ×dim work
      val sums = emb
        .select(codes.as("codes"), col("embedding"))
        .select(col("codes"),
          posexplode(col("embedding")).as(Seq("gpos", "v")))
        .select((col("gpos") / d).cast("int").as("s"),
          pmod(col("gpos"), lit(d)).as("pos"),
          expr("codes[cast(gpos / " + d + " as int)]").as("cell"),
          col("v"))
        .groupBy("s", "cell", "pos")
        .agg(sum(floor(col("v").cast("double") * IvfIndex.Scale)).as("sv"),
          count(lit(1)).as("n"))
        .collect()
      val means = sums.groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (key, rows) =>
          key -> rows.sortBy(_.getInt(2)).toIndexedSeq
            .map(r => r.getLong(3).toDouble /
              (r.getLong(4).toDouble * IvfIndex.Scale))
        }
      cents = cents.map { case (key, old) => (key, means.getOrElse(key, old)) }
    }
    cents
  }

  /** Flatten to the (subspace, cell)-major layout [[PqAssign]] wants. */
  private def flatten(cents: SubCentroids, m: Int, k: Int): Dict = {
    val byKey = cents.toMap
    Dict.doubles((0 until m).flatMap(s =>
      (0 until k).flatMap(c => byKey((s, c)))).toArray)
  }

  /** ADC top-`topK` of the `cands` embeddings for query `q`: its
    * squared-L2 table to every sub-centroid, (subspace, cell)-major, each
    * distance folded in ascending position (the engine-parity order),
    * ships inside the scoring expression; candidates score with `m`
    * lookups each, smaller = closer. Output (vec_id, adist) — the
    * approximate distance, rounded AFTER the raw-double ordering picks
    * the top k. */
  private def adcTopK(cands: DataFrame, cents: SubCentroids, q: Seq[Double],
      topK: Int, m: Int, k: Int): DataFrame = {
    val byKey = cents.toMap
    val d = cents.head._2.length
    val table = Dict.doubles((0 until m).flatMap { s =>
      (0 until k).map { c =>
        val cent = byKey((s, c))
        var dist = 0.0
        var i = 0
        while (i < d) {
          val diff = q(s * d + i) - cent(i); dist += diff * diff; i += 1
        }
        dist
      }
    }.toArray)
    val codes = VectorExpressions.pqAssignNative(col("embedding"),
      flatten(cents, m, k), m, k)
    cands.select(col("vec_id"),
        VectorExpressions.pqAdcScoreNative(codes, table, k).as("raw"))
      .orderBy(col("raw"), col("vec_id"))
      .limit(topK)
      .select(col("vec_id"),
        (floor(col("raw") * 1e6 + lit(0.5)) / 1e6).as("adist"))
  }

  // train-once memo, the IvfIndex deployment contract (versioned by the
  // data fingerprint so an in-place refresh retrains and evicts)
  private[graft] val memo = new graft.Memo[(String, Int, Int, Int), Long, SubCentroids]
  def trainCached(spark: SparkSession, dir: String, m: Int = M,
      k: Int = K, iters: Int = Iters): SubCentroids =
    memo.get((dir, m, k, iters), Tables.fingerprint(dir, "embeddings"))(
      train(spark, dir, m, k, iters))

  /** q108: every vector's PQ codes — map-only encode under the trained
    * codebook, one row per (vector, subspace) (the q23 exploded-array
    * convention the hash gate wants). */
  def pqCodes(spark: SparkSession, dir: String, m: Int = M, k: Int = K,
      iters: Int = Iters): DataFrame = {
    val cents = trainCached(spark, dir, m, k, iters)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(VectorExpressions.pqAssignNative(col("embedding"),
          flatten(cents, m, k), m, k)))
      .select(col("vec_id"), col("pos").cast("long").as("s"),
        col("col").cast("long").as("code"))
      .orderBy("vec_id", "s")
  }

  /** q110: IVF+PQ — the composed billion-vector serving path: the
    * coarse IVF cells PRUNE (only the `nprobe` cells nearest the query
    * are scanned) and the PQ codes SCORE (ADC within the survivors).
    * The whole plan is map-only: one in-expression coarse assignment
    * (`CellArgmax`) feeding an `IN` filter, one in-expression encode +
    * table lookup, a k-bounded TakeOrdered — zero exchanges, and at
    * 100 TB the same shape runs against the cell-partitioned inverted
    * file (q56) with 64×-compressed codes instead of raw floats.
    * Probe selection replays q38's rule (cosine to the coarse
    * centroid, ties to the lowest cell) on the driver — ascending-
    * index folds, so the doubles match the oracle's bit-for-bit. */
  def ivfPqSearch(spark: SparkSession, dir: String, queryId: Long = 0L,
      topK: Int = 10, nprobe: Int = 3, cells: Int = 8, ivfIters: Int = 2,
      m: Int = M, k: Int = K, iters: Int = Iters): DataFrame = {
    val coarse = IvfIndex.trainCached(spark, dir, cells, ivfIters)
    val cents = trainCached(spark, dir, m, k, iters)
    val q = Tables.embeddings(spark, dir)
      .where(col("vec_id") === queryId)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    def cos(a: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nq = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * q(i); na += a(i) * a(i); nq += q(i) * q(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nq))
    }
    val probes = coarse.map { case (cell, c) => (cell, cos(c)) }
      .sortBy { case (cell, sim) => (-sim, cell) }
      .take(nprobe).map(_._1)
    adcTopK(Tables.embeddings(spark, dir)
      .where(col("vec_id") =!= queryId)
      .where(IvfIndex.cellExpr(coarse, col("embedding"))
        .isin(probes: _*)), cents, q, topK, m, k)
  }

  /** q109: ADC top-`topK` ([[adcTopK]]) for the query vector `queryId`
    * over every other vector. */
  def pqSearch(spark: SparkSession, dir: String, queryId: Long = 0L,
      topK: Int = 10, m: Int = M, k: Int = K,
      iters: Int = Iters): DataFrame = {
    val cents = trainCached(spark, dir, m, k, iters)
    val q = Tables.embeddings(spark, dir)
      .where(col("vec_id") === queryId)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    adcTopK(Tables.embeddings(spark, dir).where(col("vec_id") =!= queryId),
      cents, q, topK, m, k)
  }
}
