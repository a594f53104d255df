package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** As-of join semantics + deterministic-sampling contracts. */
class AsofSamplingSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof join picks the latest right row at-or-before, null if none") {
    val left = Seq(
      (1L, 10L, t("2024-01-05 00:00:00")), // after two right rows → latest
      (1L, 11L, t("2024-01-02 00:00:00")), // exactly AT a right ts → inclusive
      (1L, 12L, t("2024-01-01 00:00:00")), // before all right rows → null
      (2L, 20L, t("2024-01-05 00:00:00"))) // key with no right rows → null
      .toDF("k", "ev", "ts")
    val right = Seq(
      (1L, t("2024-01-02 00:00:00"), "A"),
      (1L, t("2024-01-04 00:00:00"), "B"))
      .toDF("k", "ts", "v")
    val got = AsofJoin.asof(left, right, "k", "ts", Seq("v"))
      .select("ev", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(10L -> Some("B"), 11L -> Some("A"),
      12L -> None, 20L -> None))
  }

  test("asof join: null keys never match (SQL join semantics)") {
    // the window partitions null keys together, but a null key matches
    // nothing in SQL (and in the DuckDB ASOF oracle) — a null-key left
    // row must come back unfilled even when a null-key right row exists
    val left = Seq(
      (Option(1L), 10L, t("2024-01-05 00:00:00")),
      (Option.empty[Long], 11L, t("2024-01-05 00:00:00")))
      .toDF("k", "ev", "ts")
    val right = Seq(
      (Option(1L), t("2024-01-02 00:00:00"), "A"),
      (Option.empty[Long], t("2024-01-02 00:00:00"), "X"))
      .toDF("k", "ts", "v")
    val got = AsofJoin.asof(left, right, "k", "ts", Seq("v"))
      .select("ev", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(10L -> Some("A"), 11L -> None), s"got $got")
  }

  test("asof join: a null right timestamp matches nothing") {
    // null ts sorts first under asc ordering (nulls first) and would
    // otherwise fill every later left row; ASOF semantics (and the
    // DuckDB oracle) never match on a null timestamp
    val left = Seq((1L, 10L, t("2024-01-05 00:00:00"))).toDF("k", "ev", "ts")
    val right = Seq((1L, Option.empty[java.sql.Timestamp], "X"))
      .toDF("k", "ts", "v")
    val got = AsofJoin.asof(left, right, "k", "ts", Seq("v")).select("v").collect()
    assert(got.length == 1 && got(0).isNullAt(0),
      "null-timestamp right row filled a left row")
  }

  test("asof join: a null value in the latest right row stays null") {
    // the latest right row wins as a ROW — its null value must not be
    // back-filled from an older right row
    val left = Seq((1L, 10L, t("2024-01-05 00:00:00"))).toDF("k", "ev", "ts")
    val right = Seq(
      (1L, t("2024-01-02 00:00:00"), Some("A")),
      (1L, t("2024-01-04 00:00:00"), None: Option[String]))
      .toDF("k", "ts", "v")
    val got = AsofJoin.asof(left, right, "k", "ts", Seq("v"))
      .select("v").collect()
    assert(got.length == 1 && got(0).isNullAt(0))
  }

  test("asof tolerance nulls matches staler than the bound") {
    val left = Seq(
      (1L, 10L, t("2024-01-05 00:00:00")),  // 1 day after B → within 2d
      (1L, 11L, t("2024-01-09 00:00:00")))  // 5 days after B → staled
      .toDF("k", "ev", "ts")
    val right = Seq((1L, t("2024-01-04 00:00:00"), "B")).toDF("k", "ts", "v")
    val got = AsofJoin.asofTolerance(left, right, "k", "ts", Seq("v"),
        toleranceSeconds = 2L * 86400)
      .select("ev", "v").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(10L -> Some("B"), 11L -> None))
  }

  test("asof join rejects colliding value columns") {
    val df = Seq((1L, t("2024-01-01 00:00:00"), "x")).toDF("k", "ts", "v")
    intercept[IllegalArgumentException] {
      AsofJoin.asof(df, df, "k", "ts", Seq("v"))
    }
  }

  test("banded simhash near-dup equals brute force within the bound") {
    val clusters = Dedup.simhashClusters(spark, sf)
    val brute = clusters.as("a").join(clusters.as("b"),
        col("a.keep_id") < col("b.keep_id"))
      .select(col("a.keep_id").as("id1"), col("b.keep_id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = Dedup.simhashNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
    assert(brute.nonEmpty)
  }

  test("simhash clusters partition all docs; near-dup edges are h>=1") {
    val total = Dedup.simhashClusters(spark, sf)
      .agg(sum("n_members")).collect()(0).getLong(0)
    assert(total == graft.Tables.documents(spark, sf).count())
    val hs = Dedup.simhashNearDup(spark, sf)
      .select("hamming").collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 1 && h <= 3))
  }

  test("simhashNearDup rejects a bound the banding cannot guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(spark, sf, maxHamming = 4, bands = 4)
    }
  }

  test("hash sample is deterministic and rate-plausible") {
    val s1 = Sampling.hashSample(spark, sf).collect().map(_.getLong(0)).toSeq
    val s2 = Sampling.hashSample(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(s1 == s2)
    val total = graft.Tables.documents(spark, sf).count()
    assert(s1.nonEmpty && s1.length < total / 2)
    // a different salt draws a different (deterministic) sample
    val other = Sampling.hashSample(spark, sf, salt = "other")
      .collect().map(_.getLong(0)).toSeq
    assert(other != s1)
  }

  test("weighted sample respects per-stratum rates; absent strata drop") {
    val got = Sampling.sampleByWeights(spark, sf,
        Seq("en" -> 100, "de" -> 0, "fr" -> 30))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("en") == full("en"))            // 100% keeps everything
    assert(!got.contains("de"))                // 0% keeps nothing
    assert(!got.contains("zh") && !got.contains("es")) // absent strata drop
    val frRate = got.getOrElse("fr", 0L).toDouble / full("fr")
    assert(frRate > 0.1 && frRate < 0.6, s"fr rate $frRate far from 30%")
  }

  test("stratified sample returns min(k, stratum size) rows per stratum") {
    val k = 20
    val got = Sampling.stratifiedSample(spark, sf, k = k)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.Tables.documents(spark, sf)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == full.keySet)
    got.foreach { case (lang, n) =>
      assert(n == math.min(k.toLong, full(lang)), s"$lang: $n")
    }
  }

  test("domain cap keeps min(cap, |source|) docs, the window-rank set") {
    val cap = 10
    val got = Sampling.domainCap(spark, sf, cap = cap)
    val perSource = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = graft.Tables.documents(spark, sf)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.keySet == full.keySet)
    perSource.foreach { case (src, n) =>
      assert(n == math.min(cap.toLong, full(src)), s"$src: $n")
    }
    // the k-bounded aggregator must pick EXACTLY the docs the window
    // formulation ranks <= cap (same hash, same tiebreak)
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.md5Long
    val windowed = graft.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"),
        row_number().over(Window.partitionBy("source").orderBy(
          md5Long(concat(lit("dcap:"), col("doc_id").cast("string"))),
          col("doc_id"))).as("rk"))
      .where(col("rk") <= cap)
      .select("source", "doc_id")
    val a = got.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = windowed.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("leakage-safe split: one split per source, covers all docs") {
    val got = Sampling.leakageSafeSplit(spark, sf)
    assert(got.count() == graft.Tables.documents(spark, sf).count())
    // the hygiene invariant: a source never straddles splits
    val straddlers = got.groupBy("source")
      .agg(countDistinct("split").as("k")).where(col("k") > 1)
    assert(straddlers.count() == 0)
    // all three labels are drawn from the fixed vocabulary
    val labels = got.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("train", "val", "test")))
    // deterministic: same salt, same assignment
    val again = Sampling.leakageSafeSplit(spark, sf)
    assert(got.collect().toSeq == again.collect().toSeq)
    // degenerate bounds hold: 0/0 puts everything in train
    val all = Sampling.leakageSafeSplit(spark, sf, valPct = 0, testPct = 0)
    assert(all.select("split").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("train"))
  }

  test("dsir weights: exact integer trace on a collision-free corpus") {
    import spark.implicits._
    import graft.functions.TextFunctions.md5LongScala
    // two docs, features = unigrams + adjacent bigrams:
    //   target (en): {aa, bb, "aa bb"}; raw-only (de): {cc, dd, "cc dd"}
    // precondition (checked): the six features land in six DISTINCT
    // buckets, so every bucket has cr=1 and ct = 1/0 by slice:
    //   en features: score6 = ((1+1)·1e6)//(1+1) = 1_000_000
    //   de features: score6 = ((0+1)·1e6)//(1+1) =   500_000
    // doc weights are the exact means of three equal values.
    val feats = Seq("aa", "bb", "aa bb", "cc", "dd", "cc dd")
    val buckets = feats.map(f =>
      math.floorMod(md5LongScala(f), Sampling.DsirBuckets))
    assert(buckets.distinct.length == feats.length,
      s"hand-trace needs collision-free buckets, got $buckets")
    val docs = Seq((1L, "aa bb", "en"), (2L, "cc dd", "de"))
      .toDF("doc_id", "text", "lang")
    val got = Sampling.dsirWeightsAgainst(docs, col("lang") === "en")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 3L, 1000000L), (2L, 3L, 500000L)),
      s"dsir trace diverged: ${got.toSeq}")
    // ranking sanity at corpus scale: among well-populated docs, the
    // max-weight doc of the target slice outranks the min-weight doc
    // outside it (target-like features score strictly higher)
    val w = Sampling.dsirWeights(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val docsSf = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val en = docsSf.collect { case (id, "en") => w(id) }
    val other = docsSf.collect { case (id, l) if l != "en" => w(id) }
    assert(en.sum / en.length > other.sum / other.length,
      "the target slice must out-weigh the rest on average " +
        s"(en mean ${en.sum / en.length} vs ${other.sum / other.length})")
    // zero-token docs are absent (nothing to score)
    val none = Sampling.dsirWeightsAgainst(
      Seq((1L, "", "en")).toDF("doc_id", "text", "lang"),
      col("lang") === "en")
    assert(none.count() == 0)
  }

  test("dsir map-side scorer (frozen table) ≡ the batch join, corpus-wide") {
    // the serving/streaming twin: trainDsir freezes the bucket table,
    // dsirScoreMicros replays the scoring map-side — on the training
    // corpus itself both paths must agree bit-for-bit
    val table =
      org.apache.spark.sql.graft.Dict.longs(Sampling.trainDsir(spark, sf))
    val mapSide = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpressions
          .dsirScoreMicros(col("text"), table).as("w"))
      .where(col("w").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val joined = Sampling.dsirWeights(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(mapSide == joined,
      s"paths diverge on ${(mapSide.toSet -- joined.toSet).take(3)} / " +
        s"${(joined.toSet -- mapSide.toSet).take(3)}")
  }
}
