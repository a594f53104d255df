package graft.serving

import graft.SparkSpec
import java.net.{HttpURLConnection, URL}
import scala.io.Source
import scala.jdk.CollectionConverters._

/** Drive the REST surface over a real socket — the reference's three
  * endpoints answered by the engine. */
class HttpServerSpec extends SparkSpec {

  private def get(url: String): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val stream = if (code < 400) conn.getInputStream else conn.getErrorStream
    val body = Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (code, body)
  }

  test("the three endpoints answer over HTTP with engine results") {
    val srv = new HttpServer(spark, sf).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val (c1, dau) = get(s"$base/dauRealtime?td=2024-01-15")
      assert(c1 == 200 && dau.startsWith("[") && dau.contains("\"dau_td\""))

      val (c2, stats) = get(s"$base/statsByItem?itemName=small+ring&t=segment")
      assert(c2 == 200 && stats.contains("\"name\"") && stats.contains("\"value\""))

      val (c3, detail) =
        get(s"$base/detailByItem?itemName=small+ring&pageNo=1&pageSize=3")
      assert(c3 == 200 && detail.contains("<em>") && detail.contains("\"total\""))
      assert(detail.split("\\},\\{").length <= 3)

      // rank=bm25: relevance-ordered detail page — scores present and
      // non-increasing down the page; unknown rank mode → 400
      val (cr, rankedPage) =
        get(s"$base/detailByItem?itemName=small+ring&rank=bm25&pageSize=5")
      assert(cr == 200 && rankedPage.contains("\"score\""),
        rankedPage.take(200))
      val pageScores = "\"score\":([0-9.]+)".r
        .findAllMatchIn(rankedPage).map(_.group(1).toDouble).toSeq
      assert(pageScores.nonEmpty &&
        pageScores.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)),
        s"scores not ranked: $pageScores")
      val (crBad, _) = get(s"$base/detailByItem?itemName=x&rank=pagerank")
      assert(crBad == 400)

      // F10 semantics: unknown t → 400, not a stack trace
      val (c4, err) = get(s"$base/statsByItem?itemName=x&t=age-ish")
      assert(c4 == 400 && err.contains("unknown stats type"))

      // missing required param → 400
      val (c5, _) = get(s"$base/dauRealtime")
      assert(c5 == 400)

      // ANN service endpoint: IVF-probed top-k for a corpus vector
      val (c6, ann) = get(s"$base/annSearch?vecId=0&k=5&nprobe=3")
      assert(c6 == 200 && ann.contains("\"score\""), ann.take(200))
      assert(ann.split("\\},\\{").length == 5)
      val (c7, _) = get(s"$base/annSearch") // missing vecId → 400
      assert(c7 == 400)
      val (c8, _) = get(s"$base/annSearch?vecId=0&k=-1") // bad k → 400
      assert(c8 == 400)
      val (c9, _) = get(s"$base/annSearch?vecId=999999999") // unknown → 400
      assert(c9 == 400)

      // mode=ivfpq: compressed serving path — ADC distances ascending
      val (c9b, pq) = get(s"$base/annSearch?vecId=0&k=5&mode=ivfpq")
      assert(c9b == 200 && pq.contains("\"adist\""), pq.take(200))
      assert(pq.split("\\},\\{").length == 5)
      val pqDists = "\"adist\":([0-9.]+)".r
        .findAllMatchIn(pq).map(_.group(1).toDouble).toSeq
      assert(pqDists.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)),
        s"adist not ascending: $pqDists")
      val (c9c, _) = get(s"$base/annSearch?vecId=0&mode=cosine-ish")
      assert(c9c == 400) // unknown mode → 400

      // two-stage rerank endpoint: exact full-dim scores on survivors
      val (c10, rr) = get(s"$base/rerankSearch?vecId=0&k=5")
      assert(c10 == 200 && rr.contains("\"score\""), rr.take(200))
      assert(rr.split("\\},\\{").length == 5)
      val (c11, _) = get(s"$base/rerankSearch?vecId=0&k=10&shortlist=5")
      assert(c11 == 400) // shortlist < k → 400

      // BM25-ranked document search: score-ordered hits, bounded by topN
      val (c12, ranked) = get(s"$base/searchRanked?q=spark+vector&topN=5")
      assert(c12 == 200 && ranked.contains("\"score\""), ranked.take(200))
      assert(ranked.split("\\},\\{").length == 5)
      val (c13, _) = get(s"$base/searchRanked?topN=5") // missing q → 400
      assert(c13 == 400)
      val (c14, _) = get(s"$base/searchRanked?q=spark&topN=0") // bad topN
      assert(c14 == 400)

      // fuzzy item lookup: a one-edit typo still finds the exact name,
      // served in (dist, key) order
      val exactName = graft.Tables.part(spark, sf)
        .select("p_name").head().getString(0)
      val typo = java.net.URLEncoder.encode(
        "x" + exactName.drop(1), "UTF-8")
      val (c15, fz) = get(s"$base/fuzzySearch?q=$typo&dist=2&topN=5")
      assert(c15 == 200 && fz.contains("\"dist\""), fz.take(200))
      assert(fz.contains("\"dist\":1"), fz.take(300))
      val (c16, _) = get(s"$base/fuzzySearch?topN=5") // missing q → 400
      assert(c16 == 400)
      val (c17, _) = get(s"$base/fuzzySearch?q=abc&dist=9") // bad dist
      assert(c17 == 400)

      // hybrid RRF search: fused list carries both rank columns
      val (c18, hy) = get(s"$base/hybridSearch?q=spark+vector&vecId=0&topN=5")
      assert(c18 == 200 && hy.contains("\"rrf\""), hy.take(200))
      assert(hy.contains("\"lex_rank\"") && hy.contains("\"vec_rank\""),
        hy.take(300))
      val (c19, _) = get(s"$base/hybridSearch?q=spark") // missing vecId
      assert(c19 == 400)
      val (c20, _) = get(s"$base/hybridSearch?q=spark&vecId=0&kEach=0")
      assert(c20 == 400) // bad kEach

      // behavioral analytics family (round-10 verdict #5): funnel,
      // anomalies (observed + dense), paths, communities, convergence
      val (c21, fn) = get(s"$base/funnel")
      assert(c21 == 200 && fn.contains("\"step\"") &&
        fn.contains("\"n_users\""), fn.take(200))
      assert(fn.split("\\},\\{").length == 3) // one row per default step
      val (c22, fn2) = get(s"$base/funnel?steps=view,purchase")
      assert(c22 == 200 && fn2.split("\\},\\{").length == 2)
      val (c23, _) = get(s"$base/funnel?steps=" + ("x," * 9)) // > 8 steps
      assert(c23 == 400)

      val (c24, an) = get(s"$base/anomalies?windowHours=6&minWindow=3")
      assert(c24 == 200 && an.contains("\"n_window\""), an.take(200))
      val (c25, and2) = get(
        s"$base/anomalies?windowHours=6&minWindow=3&dense=1")
      assert(c25 == 200 && and2.contains("\"n_window\""), and2.take(200))
      // the dense grid never has FEWER rows than the observed buckets
      assert(and2.split("\\},\\{").length >= an.split("\\},\\{").length)
      val (c26, _) = get(s"$base/anomalies?windowHours=2&minWindow=12")
      assert(c26 == 400) // operator require → 400 (wh < mw)
      val (c27, _) = get(s"$base/anomalies?dense=2")
      assert(c27 == 400)

      val (c28, pa) = get(s"$base/paths?len=2&topN=5")
      assert(c28 == 200 && pa.contains("\"p1\"") && pa.contains("\"cnt\""),
        pa.take(200))
      assert(pa.split("\\},\\{").length == 5)
      val (c29, _) = get(s"$base/paths?len=1")
      assert(c29 == 400)

      val (c30, cm) = get(s"$base/communities?iters=2")
      assert(c30 == 200 && cm.contains("\"label\""), cm.take(200))
      val (c31, _) = get(s"$base/communities?iters=0")
      assert(c31 == 400)

      val (c32, cv) = get(s"$base/convergence?algo=pagerank&iters=3")
      assert(c32 == 200 && cv.contains("\"l1_delta_micros\""), cv.take(200))
      assert(cv.split("\\},\\{").length == 3) // one row per round
      val (c33, cl) = get(s"$base/convergence?algo=lpa&iters=2")
      assert(c33 == 200 && cl.contains("\"flips\""), cl.take(200))
      val (c34, _) = get(s"$base/convergence?algo=bfs")
      assert(c34 == 400)

      // corpus text analytics (round 12): collocations + entity linking
      val (c35, co) = get(s"$base/collocations?minCount=1&topK=5")
      assert(c35 == 200 && co.contains("\"lift_micros\""), co.take(200))
      assert(co.split("\\},\\{").length == 5)
      val (c36, _) = get(s"$base/collocations?topK=0") // operator require
      assert(c36 == 400)
      val (c37, _) = get(s"$base/collocations?topK=5000") // route cap
      assert(c37 == 400)

      val (c38, el) = get(s"$base/entityLink")
      assert(c38 == 200 && el.contains("\"mention\"") &&
        el.contains("\"dist\""), el.take(200))
      val (c39, _) = get(s"$base/entityLink?maxDist=0")
      assert(c39 == 400)
      val (c40, _) = get(s"$base/entityLink?maxDist=9")
      assert(c40 == 400)

      // retrieval (round 12): phrase search + more-like-this
      val (c41, ph) = get(s"$base/phraseSearch?q=slow+hash")
      assert(c41 == 200 && ph.contains("\"n_matches\"") &&
        ph.contains("\"first_pos\""), ph.take(200))
      val (c42, _) = get(s"$base/phraseSearch?q=" + ("a+" * 9).dropRight(1))
      assert(c42 == 400) // route cap: > 8 terms
      val (c42b, phi) = get(s"$base/phraseSearch?q=slow+hash&mode=indexed")
      assert(c42b == 200 && phi == ph, phi.take(200)) // index ≡ scan
      val (c42c, _) = get(s"$base/phraseSearch?mode=btree")
      assert(c42c == 400)
      val (c43, ml) = get(s"$base/moreLikeThis?docId=1&m=5&topN=3")
      assert(c43 == 200 && ml.contains("\"score_micros\""), ml.take(200))
      assert(ml.split("\\},\\{").length == 3)
      val (c44, _) = get(s"$base/moreLikeThis?m=0") // operator require
      assert(c44 == 400)
      val (c45, _) = get(s"$base/moreLikeThis?topN=5000") // route cap
      assert(c45 == 400)

      val (c46, bl) = get(s"$base/basketLift?minCount=1&topK=5")
      assert(c46 == 200 && bl.contains("\"lift_ppm\""), bl.take(200))
      val (c47, _) = get(s"$base/basketLift?maxBasket=1") // operator require
      assert(c47 == 400)
      val (c48, _) = get(s"$base/basketLift?topK=5000") // route cap
      assert(c48 == 400)
      val (c49, br) = get(s"$base/basketLift?minCount=1&topK=5&mode=rules")
      assert(c49 == 200 && br.contains("\"conf_ppm\""), br.take(200))
      val (c50, _) = get(s"$base/basketLift?mode=apriori")
      assert(c50 == 400)

      // graph navigation (round 13): BFS hops + next-item table
      val (c51, bh) = get(s"$base/bfsHops?seed=0&depth=6")
      assert(c51 == 200 && bh.contains("\"node\"") &&
        bh.contains("\"dist\""), bh.take(200))
      val (c52, _) = get(s"$base/bfsHops?depth=0") // route cap
      assert(c52 == 400)
      val (c53, ni) = get(s"$base/nextItems?topK=2")
      assert(c53 == 200 && ni.contains("\"prob_ppm\""), ni.take(200))
      val (c54, _) = get(s"$base/nextItems?topK=0") // route cap
      assert(c54 == 400)
      val (c55, pr) = get(s"$base/personalizedRank?seed=0&iters=5")
      assert(c55 == 200 && pr.contains("\"rank_micros\""), pr.take(200))
      val (c56, _) = get(s"$base/personalizedRank?iters=0") // route cap
      assert(c56 == 400)
      val (c57, du) = get(s"$base/distinctUsers")
      assert(c57 == 200 && du.contains("\"est_distinct\"")
        && du.contains("\"ALL\""), du.take(200))
      val (c58, hh) = get(s"$base/heavyHitters?phiPpm=10500&k=128")
      assert(c58 == 200 && hh.contains("\"cnt\""), hh.take(200))
      val (c59, _) = get(s"$base/heavyHitters?phiPpm=1000&k=64") // MG guard
      assert(c59 == 400)
      val (c60, _) = get(s"$base/heavyHitters?k=99999") // route cap
      assert(c60 == 400)
      val (c61, hq) = get(s"$base/quantiles?q=50,99")
      assert(c61 == 200 && hq.contains("\"p99_est_micros\""), hq.take(200))
      val (c62, _) = get(s"$base/quantiles?q=0") // operator range guard
      assert(c62 == 400)
      // percentile-list normalization: duplicates and empty segments
      // must answer like the clean list, not 500 on a duplicate alias
      val (c63, hqDup) = get(s"$base/quantiles?q=50,50,,99")
      assert(c63 == 200 && hqDup == hq, hqDup.take(200))
      val (c64, _) = get(s"$base/quantiles?q=50,abc") // bad int → 400
      assert(c64 == 400)
      // source=sketch without a configured sketch dir → 400, not 500
      val (c65, _) = get(s"$base/distinctUsers?source=sketch")
      assert(c65 == 400)
      // z-order served range scan: rows come back through the pruned
      // layout read; bad bounds → 400
      val (c67, zs) = get(s"$base/zorderScan?uLo=0&uHi=40&iLo=10&iHi=19")
      assert(c67 == 200 && zs.contains("\"event_id\"") &&
        zs.contains("\"item\""), zs.take(200))
      val (c68, _) = get(s"$base/zorderScan?uLo=9&uHi=1&iLo=0&iHi=5")
      assert(c68 == 400)
      val (c66, _) = get(s"$base/distinctUsers?source=redis-ish")
      assert(c66 == 400)
      // range form on the events source (q152); half-ranges → 400
      val (c83, duR) = get(
        s"$base/distinctUsers?from=2024-01-08&to=2024-01-21")
      assert(c83 == 200 && duR.contains("\"err_ppm\""), duR.take(200))
      val (c84, _) = get(s"$base/distinctUsers?from=2024-01-08")
      assert(c84 == 400)
      // the KMV estimator answers the same surface (q146)
      val (c69, duK) = get(s"$base/distinctUsers?source=kmv")
      assert(c69 == 200 && duK.contains("\"est_distinct\"")
        && duK.contains("\"ALL\""), duK.take(200))
      // pairwise audience overlap: theta membership (q147) vs HLL
      // inclusion-exclusion (q144); bad method → 400
      val (c70, aoK) = get(s"$base/audienceOverlap?method=kmv")
      assert(c70 == 200 && aoK.contains("\"jaccard_ppm\""), aoK.take(200))
      val (c71, aoH) = get(s"$base/audienceOverlap?method=hll")
      assert(c71 == 200 && aoH.contains("\"union_est\""), aoH.take(200))
      val (c72, _) = get(s"$base/audienceOverlap?method=guess")
      assert(c72 == 400)
      // right-to-erasure lookup (q151): deleted key absent, probe
      // present; missing params → 400
      val (c80, fg) = get(s"$base/forget?key=7&probe=42")
      assert(c80 == 200 && fg.contains("\"o_custkey\":42") &&
        !fg.contains("\"o_custkey\":7"), fg.take(200))
      val (c81, _) = get(s"$base/forget?key=7")
      assert(c81 == 400)
      val (c82, _) = get(s"$base/forget?probe=42")
      assert(c82 == 400)
      // batched erasure (q153): all keys of the batch absent, probes
      // present, in ONE rewrite
      // the trailing comma disambiguates key 13 from key 133 in the
      // serialized rows ({"o_orderkey":N,"o_custkey":K,"o_totalprice":…)
      val (c86, fgb) = get(s"$base/forget?keys=7,13,29&probe=42,133")
      assert(c86 == 200 && fgb.contains("\"o_custkey\":42,") &&
        fgb.contains("\"o_custkey\":133,") &&
        !fgb.contains("\"o_custkey\":7,") &&
        !fgb.contains("\"o_custkey\":13,") &&
        !fgb.contains("\"o_custkey\":29,"), fgb.take(200))
      // a memoized repeat answers without the build gate
      val (c87, fgb2) = get(s"$base/forget?keys=7,13,29&probe=42,133")
      assert(c87 == 200 && fgb2 == fgb)
      // erasure through the z-order layout (q155): the q145 rectangle
      // with the forgotten user absent
      val (c88, zf) = get(
        s"$base/zorderScan?uLo=0&uHi=40&iLo=10&iHi=19&forgetUser=7")
      assert(c88 == 200 && zf.contains("\"event_id\"") &&
        !zf.contains("\"user_id\":7,"), zf.take(200))
      // batched (q158): both users absent in one rewrite
      val (c89, zfb) = get(
        s"$base/zorderScan?uLo=0&uHi=40&iLo=10&iHi=19&forgetUsers=7,13")
      assert(c89 == 200 && !zfb.contains("\"user_id\":7,") &&
        !zfb.contains("\"user_id\":13,"), zfb.take(200))
      // erasure through the composed layout (q159): deleted keys
      // absent, survivors present, through the intersected indexes
      val (c90, cfg) = get(s"$base/pointLookup?keys=13,133" +
        "&from=1995-01-01&to=1996-06-30&forget=7,42")
      assert(c90 == 200 && !cfg.contains("\"o_custkey\":7,") &&
        !cfg.contains("\"o_custkey\":42,") &&
        cfg.contains("\"o_custkey\":13,"), cfg.take(200))
      // document-corpus takedown (q161/q165): deleted ids absent from
      // the corpus probe, survivors present; the accounting view
      // reports per-artifact deletions; missing params → 400
      val (c91, dts) = get(s"$base/docTakedown?ids=45,48&probe=7,45")
      assert(c91 == 200 && dts.contains("\"doc_id\":7,") &&
        !dts.contains("\"doc_id\":45,"), dts.take(200))
      val (c92, dtr) = get(s"$base/docTakedown?ids=45,48&view=report")
      assert(c92 == 200 && dtr.contains("\"artifact\":\"corpus\"") &&
        dtr.contains("\"rows_deleted\""), dtr.take(200))
      val (c93, _) = get(s"$base/docTakedown?probe=7")
      assert(c93 == 400)
      val (c94, _) = get(s"$base/docTakedown?ids=45&view=scan")
      assert(c94 == 400) // probe required for view=scan
      // cluster cascade (q166/q167): doc 45's near-dup mate at
      // sf0.001 is 487 — the cascade takes BOTH down, and the
      // expansion view reports the cluster without deleting
      val (c94a, exp) = get(s"$base/docTakedown?ids=45&view=expansion")
      assert(c94a == 200 && exp.contains("\"doc_id\":487,"), exp.take(200))
      val (c94b, casc) =
        get(s"$base/docTakedown?ids=45&cascade=1&probe=7,487")
      assert(c94b == 200 && casc.contains("\"doc_id\":7,") &&
        !casc.contains("\"doc_id\":487,") &&
        !casc.contains("\"doc_id\":45,"), casc.take(200))
      // source=table (q168): the expansion answered from the stream-
      // maintained cluster table is row-equal to the recompute; a
      // bogus source is a 400, never a silently different path
      val (c94c, expT) =
        get(s"$base/docTakedown?ids=45&view=expansion&source=table")
      assert(c94c == 200 && expT.contains("\"doc_id\":487,") &&
        expT.contains("\"doc_id\":45,"), expT.take(200))
      val (c94d, _) =
        get(s"$base/docTakedown?ids=45&view=expansion&source=nope")
      assert(c94d == 400)
      // ANN through the patched inverted file (q164): the deleted
      // vectors never come back (memo hit — same batch as above)
      val (c95, annTd) = get(s"$base/annSearch?vecId=0&k=10&takedown=45,48")
      assert(c95 == 200 && !annTd.contains("\"vec_id\":45,") &&
        !annTd.contains("\"vec_id\":48,") && annTd.contains("\"score\""),
        annTd.take(200))
      val (c96, _) = get(s"$base/annSearch?vecId=0&mode=ivfpq&takedown=45")
      assert(c96 == 400) // takedown is exact-mode only
      // phrase search through the patched postings (q163): a doc that
      // matched the phrase stops matching after its takedown (doc 10
      // matches "query big part" at sf0.001) — LAST takedown call
      // here: a new batch evicts the memoized one
      val (c97, ph0) = get(s"$base/phraseSearch")
      assert(c97 == 200 && ph0.contains("\"doc_id\":10,"), ph0.take(200))
      val (c98, ph1) = get(s"$base/phraseSearch?takedown=10")
      assert(c98 == 200 && !ph1.contains("\"doc_id\":10,"), ph1.take(200))
      // perceptual media near-dup (q154): parameterized banding; the
      // lossless-band guard (maxHamming < bands) answers 400, never a
      // silently lossy join
      val (c99, mnd) = get(s"$base/mediaNearDup?maxHamming=1&bands=8")
      assert(c99 == 200 && mnd.contains("\"media_type\""), mnd.take(200))
      val (c100, mndBad) = get(s"$base/mediaNearDup?maxHamming=4&bands=4")
      assert(c100 == 400 && mndBad.contains("lossless"), mndBad.take(200))
      val (c101, _) = get(s"$base/mediaNearDup?source=sketch")
      assert(c101 == 400) // no sketch dir configured on this server
      // auto-ranged money quantiles (q150)
      val (c79, pqm) = get(s"$base/priceQuantiles")
      assert(c79 == 200 && pqm.contains("\"p99_est_cents\"") &&
        pqm.contains("\"grid_width_cents\""), pqm.take(200))
      // CMS item frequencies (q149): the audited catalog scan; bad
      // item lists → 400
      val (c76, cf) = get(s"$base/itemFrequency")
      assert(c76 == 200 && cf.contains("\"est_cnt\""), cf.take(200))
      val (c77, _) = get(s"$base/itemFrequency?items=1,x")
      assert(c77 == 400)
      // an explicit item list restricts the events-source answer to
      // exactly those rows, PROJECTED to the sketch contract
      // (item, est_cnt) — clients may switch sources without a schema
      // change; the audit columns answer under source=audit
      val (c78, cf1) = get(s"$base/itemFrequency?items=3,5")
      val wantF = {
        import org.apache.spark.sql.functions.col
        graft.operators.Sketches.cmsCounts(spark, sf)
          .where(col("item").isin(3L, 5L)).select("item", "est_cnt")
          .toJSON.collect().mkString("[", ",", "]")
      }
      assert(c78 == 200 && cf1 == wantF, cf1.take(200))
      assert(!cf1.contains("\"exact_cnt\""), cf1.take(200))
      val (c85, cfa) = get(s"$base/itemFrequency?items=3,5&source=audit")
      assert(c85 == 200 && cfa.contains("\"exact_cnt\"") &&
        cfa.contains("\"err\""), cfa.take(200))
      // bloom point lookup (q148): rows come back through the pruned
      // layout read; bad/empty key lists → 400
      val (c73, pl) = get(s"$base/pointLookup?keys=7,42")
      assert(c73 == 200 && pl.contains("\"o_orderkey\""), pl.take(200))
      val (c74, _) = get(s"$base/pointLookup?keys=7,abc")
      assert(c74 == 400)
      val (c75, _) = get(s"$base/pointLookup")
      assert(c75 == 400)
    } finally srv.stop()
  }

  test("erasure-completion routes: /mediaTakedown deletes signature " +
      "rows, /rebuildBasket and /rebuildGraph rebuild the behavioral " +
      "stores from the retained events") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srv_erase").toString
    // seed the three accumulated stores through their real sinks —
    // plus one poisoned row each, standing in for an erased user's data
    val media = graft.operators.Multimodal.mediaTable(spark, sf)
      .select("doc_id", "media_type", "content")
    graft.streaming.MediaStream.dhashSinkEachBatch(dir)(media, 0L)
    val delMedia = media.select("doc_id").as[Long].head()
    graft.streaming.BasketStream.basketSinkEachBatch(dir)(
      Seq(graft.streaming.BasketEvent(999999L, 1L)).toDS(), 0L)
    graft.streaming.GraphStream.edgeSinkEachBatch(dir)(
      Seq(graft.streaming.GraphDelta(999999L, Some(888888L), 888889L))
        .toDS(), 0L)
    // a near-dup pair + a singleton through the cluster-table sink
    graft.streaming.ClusterStream.ingestBatch(
      Seq((5001L, "shared near duplicate cluster text body"),
        (5003L, "a very different singleton document"))
        .toDF("doc_id", "text"), dir, 0L)
    graft.streaming.ClusterStream.ingestBatch(
      Seq((5002L, "shared near duplicate cluster text body"))
        .toDF("doc_id", "text"), dir, 1L)
    val srv = new HttpServer(spark, sf, sketchDir = Some(dir)).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      // media: the id's signature row leaves the table
      val (c1, td) = get(s"$base/mediaTakedown?ids=$delMedia")
      assert(c1 == 200 && td.contains("\"rows_deleted\":1"), td.take(200))
      assert(graft.streaming.MediaStream.signatureTable(spark, dir)
        .where(col("doc_id") === delMedia).count() == 0L)
      assert(get(s"$base/mediaTakedown?")._1 == 400) // ids required
      // basket: rebuilt from the (retained) events — the seeded
      // stand-in user vanishes, real pairs appear
      val (c2, rb) = get(s"$base/rebuildBasket")
      assert(c2 == 200 && rb.contains("\"rebuilt_table\":\"pairs\""),
        rb.take(200))
      val pairs = spark.read.parquet(s"$dir/pairs")
      assert(pairs.where(col("user_id") === 999999L).count() == 0L)
      assert(pairs.count() > 0L)
      // graph: rebuilt edges + nodes — the seeded edge vanishes
      val (c3, rg) = get(s"$base/rebuildGraph")
      assert(c3 == 200 && rg.contains("\"rebuilt_table\":\"edges\""),
        rg.take(200))
      val (edges, nodes) =
        graft.streaming.GraphStream.accumulatedGraph(spark, dir)
      assert(edges.where(col("src") === 888888L).count() == 0L)
      assert(nodes.where(col("node") === 888889L).count() == 0L)
      assert(edges.count() > 0L && nodes.count() > 0L)
      // cluster table: assignment + expansion point read + takedown
      val (c4, asg) = get(s"$base/clusterAssignment")
      assert(c4 == 200 && asg.contains("\"doc_id\":5002,\"comp\":5001") &&
        asg.contains("\"doc_id\":5003,\"comp\":5003"), asg.take(300))
      val (c5, exp) = get(s"$base/clusterAssignment?ids=5001")
      assert(c5 == 200 && exp.contains("\"doc_id\":5002,") &&
        !exp.contains("\"doc_id\":5003,"), exp.take(300))
      val (c6, ctd) = get(s"$base/clusterTakedown?ids=5001")
      assert(c6 == 200 && ctd.contains("\"rows_deleted\":1") &&
        ctd.contains("\"members_expanded\":2"), ctd.take(300))
      val (c7, asg2) = get(s"$base/clusterAssignment")
      assert(c7 == 200 && asg2.contains("\"doc_id\":5002,\"comp\":5002") &&
        !asg2.contains("\"doc_id\":5001,"), asg2.take(300))
      assert(get(s"$base/clusterTakedown?")._1 == 400) // ids required
    } finally srv.stop()
  }

  test("sketch-table serving: /distinctUsers and /quantiles answer from " +
    "the persisted register sinks, bit-equal to the batch estimates") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("srv_sketch").toString
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("user_id"), col("value"))
    // two "epochs" through the real sink entry points
    val Array(a, b) = ev.randomSplit(Array(0.5, 0.5), seed = 7)
    val items = graft.Tables.events(spark, sf)
      .select(org.apache.spark.sql.functions
        .get_json_object(col("props"), "$.k").cast("long").as("item"))
      .where(col("item").isNotNull)
    val Array(ia, ib) = items.randomSplit(Array(0.5, 0.5), seed = 7)
    for ((part, ipart, id) <- Seq((a, ia, 0L), (b, ib, 1L))) {
      graft.streaming.SketchStream.hllSinkEachBatch(dir)(part, id)
      graft.streaming.SketchStream.histSinkEachBatch(dir)(part, id)
      graft.streaming.SketchStream.heavyHitterSinkEachBatch(dir)(ipart, id)
      graft.streaming.SketchStream.kmvSinkEachBatch(dir)(part, id)
      graft.streaming.SketchStream.cmsSinkEachBatch(dir)(ipart, id)
      graft.streaming.SketchStream.hllDailySinkEachBatch(dir)(part, id)
    }
    val srv = new HttpServer(spark, sf, sketchDir = Some(dir)).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val (c1, du) = get(s"$base/distinctUsers?source=sketch")
      assert(c1 == 200, du.take(200))
      val want = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllRegisters(
          ev.select(col("event_type"),
            col("user_id").cast("string").as("uid")),
          Seq("event_type"), col("uid")), Seq("event_type"))
        .orderBy("event_type").toJSON.collect().mkString("[", ",", "]")
      assert(du == want, s"sketch-served estimates diverged: ${du.take(200)}")
      val (c2, hq) = get(s"$base/quantiles?q=50,99&source=sketch")
      assert(c2 == 200 && hq.contains("\"p99_est_micros\""), hq.take(200))
      val wantQ = graft.streaming.SketchStream
        .quantileSnapshot(spark, dir, Seq(50, 99))
        .toJSON.collect().mkString("[", ",", "]")
      assert(hq == wantQ)
      // heavy hitters from the persisted exact-count table: row-equal
      // to the batch q139 operator over the same events
      val (c3, hh) = get(s"$base/heavyHitters?source=sketch&phiPpm=10500")
      assert(c3 == 200, hh.take(200))
      val wantH = graft.operators.Sketches
        .heavyHittersOn(items, "item", 10500L, 128)
        .toJSON.collect().mkString("[", ",", "]")
      assert(hh == wantH, s"sketch-served heavy hitters diverged")
      // KMV sketch warehouse: served estimates bit-equal to the batch
      // KMV over the same events
      val (c4, duK) = get(s"$base/distinctUsers?source=kmv-sketch")
      assert(c4 == 200, duK.take(200))
      val wantK = graft.operators.Sketches.kmvEstimate(
        graft.operators.Sketches.kmvRegisters(
          ev.select(col("event_type"),
            col("user_id").cast("string").as("uid")),
          "event_type", col("uid")), Seq("event_type"))
        .orderBy("event_type").toJSON.collect().mkString("[", ",", "]")
      assert(duK == wantK, s"kmv-served estimates diverged: ${duK.take(200)}")
      // overlap set algebra over the persisted KMV table
      val (c5, aoK) = get(s"$base/audienceOverlap?source=sketch")
      assert(c5 == 200, aoK.take(200))
      val wantO = graft.streaming.SketchStream.kmvTableOverlap(spark, dir)
        .toJSON.collect().mkString("[", ",", "]")
      assert(aoK == wantO, "sketch-served overlap diverged")
      // range distinct from the persisted day-grain register table
      val (c7, rg) = get(
        s"$base/distinctUsers?source=sketch&from=2024-01-05&to=2024-01-20")
      assert(c7 == 200, rg.take(200))
      val wantR = graft.streaming.SketchStream
        .hllRangeEstimates(spark, dir, "2024-01-05", "2024-01-20")
        .toJSON.collect().mkString("[", ",", "]")
      assert(rg == wantR, "range-served estimates diverged")
      // CMS frequencies from the persisted counter table
      val (c6, cfK) = get(s"$base/itemFrequency?items=3,5,99&source=sketch")
      assert(c6 == 200, cfK.take(200))
      val wantC = graft.streaming.SketchStream
        .cmsTableEstimates(spark, dir, Seq(3L, 5L, 99L))
        .toJSON.collect().mkString("[", ",", "]")
      assert(cfK == wantC, "sketch-served frequencies diverged")
      // erasure completion for the sketch warehouse: the admin rebuild
      // recomputes every user-keyed register table from the (here:
      // unchanged) events upstream — served estimates stay bit-equal,
      // and the route reports exactly the user-keyed tables
      val (c8, rb) = get(s"$base/rebuildUserSketches")
      assert(c8 == 200 && rb.contains("\"rebuilt_table\":\"hllregs\"") &&
        rb.contains("kmvregs") && !rb.contains("cmsregs"), rb.take(300))
      val (c9, du2) = get(s"$base/distinctUsers?source=sketch")
      assert(c9 == 200 && du2 == du,
        "rebuild from the same upstream moved the served estimates")
    } finally { srv.stop(); graft.Caches.releaseAll() }
  }

  test("/rerankSearch bounds shortlist: an oversized one is a 400 and the " +
      "server keeps serving") {
    val srv = new HttpServer(spark, sf).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val (c1, err) = get(s"$base/rerankSearch?vecId=0&shortlist=500000000")
      assert(c1 == 400 && err.contains("shortlist"), err)
      val (c2, dau) = get(s"$base/dauRealtime?td=2024-01-15")
      assert(c2 == 200 && dau.contains("\"dau_td\""), dau.take(200))
    } finally srv.stop()
  }

  test("an operator on both surfaces answers a parameterless GET exactly " +
      "like its zero-argument SQL call") {
    graft.GraftSession.sqlSurface(spark, sf)
    val srv = new HttpServer(spark, sf).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val both = for (op <- Ops.table; path <- op.path; name <- op.sql)
        yield (path, name)
      val answered = both.count { case (path, name) =>
        val (code, body) = get(s"$base$path")
        val viaSql = scala.util.Try(
          try HttpServer.asJson(spark.sql(s"SELECT * FROM $name()"))
          finally graft.Caches.releaseAll())
        viaSql match {
          case scala.util.Success(rows) =>
            assert(code == 200 && body == rows,
              s"$path vs $name(): ${body.take(200)} / ${rows.take(200)}")
            true
          case scala.util.Failure(e) =>
            // only a required parameter may fail the zero-argument call,
            // and the route must fail alike
            val msg = Iterator.iterate[Throwable](e)(_.getCause)
              .takeWhile(_ != null).collectFirst {
                case iae: IllegalArgumentException => iae.getMessage
              }.getOrElse(throw e)
            assert(msg.endsWith(" required") && code == 400 &&
              body == s"""{"error":"$msg"}""", s"$path vs $name(): $body / $msg")
            false
        }
      }
      assert(answered >= 7, s"only $answered of ${both.size} answered")
    } finally srv.stop()
  }

  private val referenceUrls = Seq("/dauRealtime?td=2024-01-15",
    "/statsByItem?itemName=small+ring&t=segment",
    "/detailByItem?itemName=small+ring&pageNo=1&pageSize=3")

  private def handlerThreads(port: Int): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(s"graft-http-$port-"))

  test("concurrent requests each answer their URL's serial body, and stop " +
      "ends every handler thread") {
    // /searchRanked caches a carrier (Caches.register) per request: equal
    // requests in flight together share one CacheManager entry
    val urls = referenceUrls :+ "/searchRanked?q=spark+vector&topN=5"
    val srv = new HttpServer(spark, sf).start()
    val port = srv.boundPort
    val base = s"http://127.0.0.1:$port"
    val clients = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val serial = urls.map { u =>
        val (code, body) = get(s"$base$u")
        assert(code == 200, s"$u: $body")
        u -> body
      }.toMap
      val calls = (0 until 4).flatMap(_ => urls).map { u =>
        u -> clients.submit(new java.util.concurrent.Callable[(Int, String)] {
          def call(): (Int, String) = get(s"$base$u")
        })
      }
      calls.foreach { case (u, f) =>
        val (code, body) = f.get()
        assert(code == 200 && body == serial(u),
          s"$u answered ${body.take(200)} concurrently, ${serial(u).take(200)} serially")
      }
      assert(handlerThreads(port).size > 1, "requests were not spread over a pool")
    } finally { clients.shutdown(); srv.stop() }
    val left = handlerThreads(port)
    left.foreach(_.join(10000))
    assert(left.forall(!_.isAlive), s"alive after stop: ${left.map(_.getName)}")
  }

  test("every job of a request carries that request's job group, named " +
      "after its path and described by its URI") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).orNull
        jobs.add((js.time, prop("spark.jobGroup.id"), prop("spark.job.description")))
      }
    }
    val srv = new HttpServer(spark, sf).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    spark.sparkContext.addSparkListener(l)
    // twice the pool size in sequence, so handler threads are reused
    val n = 2 * spark.sparkContext.defaultParallelism
    val windows = try (0 until n).map { i =>
      val u = referenceUrls(i % referenceUrls.size)
      val t0 = System.currentTimeMillis()
      val (code, body) = get(s"$base$u")
      assert(code == 200, s"$u: $body")
      (u, t0, System.currentTimeMillis())
    } finally srv.stop()
    var last = -1
    while (jobs.size != last) { last = jobs.size; Thread.sleep(500) }
    spark.sparkContext.removeSparkListener(l)
    val all = jobs.asScala.toSeq
    val groups = windows.map { case (u, t0, t1) =>
      val mine = all.filter { case (t, _, _) => t >= t0 && t <= t1 }
      assert(mine.nonEmpty, s"$u started no job")
      val gs = mine.map(_._2).distinct
      assert(gs.size == 1 && gs.head != null &&
        gs.head.startsWith(u.takeWhile(_ != '?') + "#"),
        s"$u ran jobs in groups $gs")
      assert(mine.forall(_._3 == u), s"$u jobs described as ${mine.map(_._3).distinct}")
      gs.head
    }
    assert(groups.distinct.size == n, s"a group spans two requests: $groups")
  }
}
