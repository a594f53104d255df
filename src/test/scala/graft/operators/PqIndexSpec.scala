package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization (q108/q109): assignment optimality, training
  * determinism, and ADC arithmetic pinned against driver recomputes. */
class PqIndexSpec extends SparkSpec {

  test("every code is the L2-nearest sub-centroid (driver recompute)") {
    val cents = PqIndex.train(spark, sf)
    val byKey = cents.toMap
    val d = cents.head._2.length
    val m = cents.map(_._1._1).max + 1
    val k = cents.map(_._1._2).max + 1
    val codes = PqIndex.pqCodes(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    val embs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    assert(embs.nonEmpty)
    embs.foreach { case (vid, v) =>
      (0 until m).foreach { s =>
        def dist(c: Int): Double = {
          val cent = byKey((s, c))
          (0 until d).map(i => {
            val diff = v(s * d + i) - cent(i); diff * diff
          }).sum
        }
        val got = codes((vid, s)).toInt
        val best = (0 until k).minBy(c => (dist(c), c))
        assert(got == best,
          s"vec $vid sub $s: code $got but nearest is $best")
      }
    }
  }

  test("a short embedding fails the encode loudly instead of " +
    "zero-padding to a plausible code") {
    import spark.implicits._
    val cents = PqIndex.train(spark, sf)
    val m = cents.map(_._1._1).max + 1
    val k = cents.map(_._1._2).max + 1
    val flat = org.apache.spark.sql.graft.Dict.doubles(
      cents.sortBy(_._1).flatMap(_._2).toArray)
    val bad = Seq((1L, Array(0.5f, -1.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      bad.select(org.apache.spark.sql.graft.VectorExpressions
        .pqAssignNative(col("embedding"), flat, m, k)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("dim")), s"unexpected: $e")
  }

  test("training is deterministic (train twice, identical codebooks)") {
    assert(PqIndex.train(spark, sf) == PqIndex.train(spark, sf))
  }

  test("ADC scores equal the driver-side table sum on the served top-k") {
    val cents = PqIndex.train(spark, sf)
    val byKey = cents.toMap
    val d = cents.head._2.length
    val q = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    val codes = PqIndex.pqCodes(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    val m = cents.map(_._1._1).max + 1
    val got = PqIndex.pqSearch(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(got.length == 10)
    got.foreach { case (vid, adist) =>
      val raw = (0 until m).map { s =>
        val cent = byKey((s, codes((vid, s)).toInt))
        (0 until d).map(i => {
          val diff = q(s * d + i) - cent(i); diff * diff
        }).sum
      }.sum
      assert(adist == math.floor(raw * 1e6 + 0.5) / 1e6,
        s"vec $vid: adist $adist vs recomputed $raw")
    }
    // served ascending, ties by vec_id
    assert(got.map(_._2).toSeq.sliding(2).forall(w =>
      w.length < 2 || w(0) <= w(1)))
  }

  test("IVF+PQ equals full ADC restricted to the probed cells") {
    val coarse = IvfIndex.trainCached(spark, sf, cells = 8, iters = 2)
    // replicate the probe rule: top-3 cells by cosine to the query
    val q = graft.Tables.embeddings(spark, sf)
      .where(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble)
    def cos(a: Seq[Double]): Double = {
      val dot = a.indices.map(i => a(i) * q(i)).sum
      val na = math.sqrt(a.map(v => v * v).sum)
      val nq = math.sqrt(q.map(v => v * v).sum)
      dot / (na * nq)
    }
    val probes = coarse.map { case (c, cent) => (c, cos(cent)) }
      .sortBy { case (c, s) => (-s, c) }.take(3).map(_._1).toSet
    val cellOf = IvfIndex
      .assign(graft.Tables.embeddings(spark, sf)
        .select("vec_id", "embedding"), coarse)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // full-ADC ranking (large k), filtered to probed cells, top 10
    val fullAdc = PqIndex.pqSearch(spark, sf, topK = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = fullAdc
      .filter { case (vid, _) => probes.contains(cellOf(vid)) }
      .take(10).toSeq
    val got = PqIndex.ivfPqSearch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expected,
      s"composed ${got.take(3)}... != pruned-full ${expected.take(3)}...")
    assert(got.forall { case (vid, _) => probes.contains(cellOf(vid)) })
  }

  test("ADC error is bounded by the quantization error (triangle " +
      "inequality, every vector)") {
    // adist(q, v) is the EXACT distance from q to v's reconstruction
    // (concatenated sub-centroids), so for every vector
    //   |√exact − √adc| ≤ ‖v − recon(v)‖
    // holds as a theorem — a data-independent correctness bound (the
    // corpus here is i.i.d. noise, so a recall bar would measure the
    // data, not the operator).
    val cents = PqIndex.train(spark, sf)
    val byKey = cents.toMap
    val d = cents.head._2.length
    val m = cents.map(_._1._1).max + 1
    val codes = PqIndex.pqCodes(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2))
      .toMap
    val rows = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val q = rows.find(_._1 == 0L).get._2
    def recon(vid: Long): IndexedSeq[Double] =
      (0 until m).flatMap(s => byKey((s, codes((vid, s)).toInt)))
    rows.filter(_._1 != 0L).foreach { case (vid, v) =>
      def l2(a: Seq[Double], b: Seq[Double]): Double =
        math.sqrt(a.indices.map(i => {
          val diff = a(i) - b(i); diff * diff
        }).sum)
      val exact = l2(q, v)
      val adc = l2(q, recon(vid))
      val qerr = l2(v, recon(vid))
      assert(math.abs(exact - adc) <= qerr + 1e-9,
        s"vec $vid: |${exact} - ${adc}| > $qerr")
    }
  }
}
