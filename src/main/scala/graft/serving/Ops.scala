package graft.serving

import scala.collection.mutable.ListBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables
import graft.operators.{Api, BloomSkip, Checks, DocForget, EventRates,
  FuzzyJoin, GraphRank, IntervalJoin, IvfIndex, Multimodal, PqIndex, Ranking,
  Sessionize, Similarity, Sketches, TextAnalysis, Warehouse}
import graft.streaming.{BasketStream, ClusterStream, GraphStream,
  MediaStream, SketchStream}

/** The served operators, each declared once: its HTTP path
  * ([[HttpServer]]), its SQL table-function name ([[graft.GraftExtensions]],
  * bound by `GraftSession.sqlSurface`), or both, and one builder that reads
  * its parameters through a [[Params]] reader and returns the DataFrame.
  * This table is the list of routes and table functions.
  *
  * Over HTTP a parameter is read by name from the query string; over SQL
  * the n-th read takes the n-th literal argument, so a builder's read
  * order is its table function's argument order. Each parameter's default
  * and bound are therefore the same on both surfaces, and a bound breach
  * is the same `IllegalArgumentException` (HTTP 400) on both.
  *
  * A route that picks among operators by `mode`, `source`, `view` or
  * `method` is an HTTP-only entry that hands its reader to the chosen
  * entry's builder. Erasure and takedown builds run inside
  * [[Ctx.gated]]: the HTTP surface load-sheds them, SQL runs them. */
object Ops {

  /** What a builder runs against. */
  class Ctx(val spark: SparkSession, val dir: String,
      sketch: Option[String] = None) {

    /** Runs an expensive build. [[HttpServer]] overrides this to load-shed
      * the build unless `memoized`; the SQL surface just runs it. */
    def gated(memoized: => Boolean)(run: => DataFrame): DataFrame = run

    /** The accumulated sketch-sink directory (`SketchStream.hllSinkEachBatch`
      * / `histSinkEachBatch` output) the server may serve estimates from —
      * server-configured, never caller-supplied (an HTTP param naming an
      * arbitrary filesystem path would be a read gadget). */
    def sketchDir: String = sketch.getOrElse(throw bad(
      "source=sketch needs a sketch directory configured on this server"))

    /** The ANN routes' index, built once on first use (the index-build
      * step of an ANN service): trained centroids + the cell-partitioned
      * inverted file, so each request reads only the probed cells'
      * partitions instead of scanning and re-assigning the corpus. Shares
      * the per-JVM memo with q38/q56 — a Bench/Verify host that already
      * built this dir's index serves requests with zero build cost. */
    lazy val annIndex: (String, IvfIndex.Centroids) =
      IvfIndex.invertedFileCached(spark, dir, cells = 8, iters = 2)
  }

  /** One served operator. */
  final class Op(val path: Option[String], val sql: Option[String],
      val build: (Ctx, Params) => DataFrame)

  /** A served operator's parameters. Every read has a default, a bound
    * and a required flag; a missing required parameter, a malformed value
    * and a bound breach are `IllegalArgumentException`s. */
  abstract class Params {
    protected def text(name: String): Option[String]
    protected def integer(name: String): Option[Long]
    /** A list of integers; SQL reads up to the `sep` literal. */
    protected def integers(name: String, sep: Option[Long]): Option[Seq[Long]]
    /** A list of terms, each supplied value split on `split`. */
    protected def strings(name: String, split: String): Option[Seq[String]]
    /** Whether the caller supplied `name` (routes that dispatch only). */
    def has(name: String): Boolean

    def str(name: String, dflt: String = "", max: Int = Int.MaxValue,
        required: Boolean = false): String = {
      val v = text(name).getOrElse(orDefault(name, dflt, required))
      if (v.length > max) throw bad(s"$name is limited to $max chars")
      v
    }

    def long(name: String, dflt: Long = 0L, lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue, required: Boolean = false): Long =
      inBounds(name, integer(name).getOrElse(orDefault(name, dflt, required)),
        lo, hi)

    def int(name: String, dflt: Int = 0, lo: Int = Int.MinValue,
        hi: Int = Int.MaxValue, required: Boolean = false): Int =
      long(name, dflt.toLong, lo.toLong, hi.toLong, required).toInt

    /** Distinct integers: a comma list over HTTP, the arguments up to
      * `sep` (or the last one) over SQL. */
    def longs(name: String, dflt: Seq[Long] = Nil, lo: Long = Long.MinValue,
        hi: Long = Long.MaxValue, sep: Option[Long] = None,
        required: Boolean = false): Seq[Long] = {
      val v = integers(name, sep).map(_.distinct).getOrElse(dflt)
      if (required && v.isEmpty) throw bad(s"$name required")
      v.foreach(inBounds(name, _, lo, hi))
      v
    }

    /** Non-empty terms: the value split on `split` over HTTP, the string
      * arguments that follow, each split the same way, over SQL. */
    def terms(name: String, dflt: Seq[String] = Nil, max: Int = Int.MaxValue,
        split: String = "\\s+", required: Boolean = false): Seq[String] = {
      val v = strings(name, split).getOrElse(orDefault(name, dflt, required))
      if (v.isEmpty) throw bad(s"$name must contain a term")
      if (v.size > max) throw bad(s"$name is limited to $max terms")
      v
    }

    private def orDefault[A](name: String, dflt: A, required: Boolean): A =
      if (required) throw bad(s"$name required") else dflt

    private def inBounds(name: String, v: Long, lo: Long, hi: Long): Long =
      if (v >= lo && v <= hi) v
      else throw bad(
        if (lo <= Int.MinValue) s"$name is limited to $hi"
        else if (hi >= Int.MaxValue) s"$name must be at least $lo"
        else s"$name must be in $lo..$hi")
  }

  /** Reads a request's query-string parameters by name. */
  final class HttpParams(query: Map[String, String]) extends Params {
    protected def text(name: String): Option[String] = query.get(name)
    protected def integer(name: String): Option[Long] =
      query.get(name).map(parse(name, _))
    protected def integers(name: String, sep: Option[Long]): Option[Seq[Long]] =
      strings(name, ",").map(_.map(parse(name, _)))
    protected def strings(name: String, split: String): Option[Seq[String]] =
      query.get(name).map(_.split(split).toSeq.map(_.trim).filter(_.nonEmpty))
    def has(name: String): Boolean = query.contains(name)

    private def parse(name: String, s: String): Long =
      try s.toLong catch {
        case _: NumberFormatException => throw bad(s"bad $name '$s'")
      }
  }

  /** Reads a table function's literal arguments by position; omitted
    * trailing arguments take the defaults. */
  final class SqlParams(fn: String, args: Seq[Expression]) extends Params {
    private var at = 0

    private def next(): Option[Expression] =
      args.lift(at).map { e => at += 1; e }

    private def asLong(e: Expression): Long = e match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw bad(
        s"$fn expects a literal integer argument, got $other")
    }

    protected def text(name: String): Option[String] = next().map {
      case Literal(v: UTF8String, _) => v.toString
      case other => throw bad(
        s"$fn expects a literal string argument, got $other")
    }
    protected def integer(name: String): Option[Long] = next().map(asLong)
    protected def integers(name: String, sep: Option[Long]): Option[Seq[Long]] =
      if (at >= args.length) None
      else Some(Iterator.continually(next()).takeWhile(_.nonEmpty)
        .map(e => asLong(e.get)).takeWhile(v => !sep.contains(v)).toSeq)
    protected def strings(name: String, split: String): Option[Seq[String]] = {
      val given = args.drop(at).takeWhile {
        case Literal(_: UTF8String, _) => true
        case _ => false
      }
      at += given.length
      if (given.isEmpty) None
      else Some(given.flatMap(e => e.eval().toString.split(split).toSeq
        .map(_.trim).filter(_.nonEmpty)))
    }
    def has(name: String): Boolean = at < args.length

    /** Fails on an argument no read took. */
    def finish(): Unit = args.lift(at).foreach(e => throw bad(
      s"$fn takes literal arguments in its parameter order; argument " +
        s"${at + 1} ($e) is one too many"))
  }

  private def bad(msg: String) = new IllegalArgumentException(msg)

  private val entries = ListBuffer.empty[Op]

  /** Every served operator, in declaration order. */
  def table: Seq[Op] = entries.toList

  private def op(path: String = "", sql: String = "")(
      build: (Ctx, Params) => DataFrame): Op = {
    val o = new Op(Option(path).filter(_.nonEmpty),
      Option(sql).filter(_.nonEmpty), build)
    entries += o
    o
  }

  /** The top-N cap every ranked route shares. */
  private val TopNCap = 1000

  private def topN(p: Params, dflt: Int): Int = p.int("topN", dflt, 1, TopNCap)

  private def phrase(p: Params): Seq[String] =
    p.terms("q", Seq("query", "big", "part"), max = 8)

  /** `from` and `to` given together (true), or neither (false). */
  private def dateRange(p: Params): Boolean = (p.has("from"), p.has("to")) match {
    case (f, t) if f == t => f
    case _ => throw bad("from and to must be given together")
  }

  private def zRect(p: Params): (Long, Long, Long, Long) =
    (p.long("uLo"), p.long("uHi"), p.long("iLo"), p.long("iHi"))

  private def basket(p: Params): (Long, Int, Int) =
    (p.long("minCount", 5L), p.int("topK", 100, hi = TopNCap),
      p.int("maxBasket", Sessionize.MaxBasket, hi = 4096))

  private def percentiles(p: Params): Seq[Int] =
    p.longs("q", Seq(50L, 95L, 99L), 1L, 100L).map(_.toInt)

  private def phiPpm(p: Params): Long = p.long("phiPpm", Sketches.DefaultPhiPpm)

  private def banding(p: Params): (Int, Int) =
    (p.int("maxHamming", 3), p.int("bands", 4))

  private def annK(p: Params): Int = p.int("k", 10, lo = 1)
  private def annProbe(p: Params): Int = p.int("nprobe", 3, lo = 1)

  // ---- the reference's InsightAnalytics routes (PublisherController) ----

  op("/dauRealtime") { (c, p) =>
    Api.dauRealtime(c.spark, c.dir, p.str("td", required = true))
  }
  op("/statsByItem") { (c, p) =>
    Api.statsByItem(c.spark, c.dir, p.str("itemName", required = true),
      p.str("t", "segment"))
  }
  op("/detailByItem") { (c, p) =>
    val item = p.str("itemName", required = true)
    val (pageNo, pageSize) = (p.int("pageNo", 1), p.int("pageSize", 20))
    // rank=bm25: hits in relevance order, the reference's actual ES
    // serving behavior; default stays the pinned deterministic sort
    p.str("rank", "key") match {
      case "bm25" =>
        Ranking.detailByItemRanked(c.spark, c.dir, item, pageNo, pageSize)
      case "key" => Api.detailByItem(c.spark, c.dir, item, pageNo, pageSize)
      case other => throw bad(s"unknown rank mode '$other'")
    }
  }

  // ---- retrieval ----

  op("/annSearch") { (c, p) =>
    val vecId = p.long("vecId", required = true)
    val (k, nprobe) = (annK(p), annProbe(p))
    // the query embedding comes from the SOURCE table, not the inverted
    // file: vec_id is not the index's partition key, so a lookup there
    // would scan every cell partition before the pruned search even
    // starts — against the source parquet the pushed vec_id filter
    // row-group-skips and reads two columns. The lookup doubles as the
    // unknown-vecId 400 for both modes.
    val q = Tables.embeddings(c.spark, c.dir)
      .where(col("vec_id") === vecId).select("embedding").collect()
    if (q.isEmpty) throw bad(s"unknown vecId $vecId")
    // mode=ivfpq: IVF-pruned, PQ-ADC-scored (the compressed serving path,
    // q110); takedown=a,b (q164) serves through the post-takedown
    // inverted file, exact mode only
    (p.str("mode", "exact"), p.longs("takedown").nonEmpty) match {
      case ("ivfpq", false) => PqIndex.ivfPqSearch(c.spark, c.dir,
        queryId = vecId, topK = k, nprobe = nprobe)
      case ("exact", false) => IvfIndex.searchInvertedFile(c.spark,
        c.annIndex._1, c.annIndex._2, q(0).getSeq[Float](0).toArray,
        excludeId = Some(vecId), k = k, nprobe = nprobe)
      case ("exact", true) => takedownAnn.build(c, p)
      case ("ivfpq", true) =>
        throw bad("takedown is served by the exact inverted file (drop mode)")
      case (other, _) => throw bad(s"unknown mode '$other'")
    }
  }
  op(sql = "ann_topk") { (c, p) =>
    Similarity.topK(c.spark, c.dir, p.long("queryId"), p.int("k", 10))
  }
  op("/rerankSearch") { (c, p) =>
    val vecId = p.long("vecId", required = true)
    val k = p.int("k", 10, 1, TopNCap)
    val coarseDims = p.int("coarseDims", 16, lo = 1)
    // the re-rank orders above the shortlist's own TakeOrdered, so the
    // response limit never caps it: the bound keeps one request from
    // sizing a driver-heap top-N
    val shortlist = p.int("shortlist", 50, k, TopNCap)
    Similarity.rerankTopK(c.spark, c.dir, vecId, coarseDims, shortlist, k)
  }
  op("/searchRanked", "bm25_search") { (c, p) =>
    // BM25 relevance order (the reference's ES hit order). One fold
    // accumulator field is compiled per term: the term cap keeps a
    // hostile query from compiling an arbitrarily large expression tree
    Ranking.bm25Rank(c.spark, c.dir, p.terms("q", max = 16, required = true),
      topN = topN(p, 50))
  }
  op("/fuzzySearch") { (c, p) =>
    // ES match + fuzziness parity: typo-tolerant item lookup
    FuzzyJoin.fuzzyTermSearch(c.spark, c.dir,
      p.str("q", max = 200, required = true),
      maxDist = p.int("dist", 2, 0, 4), topN = topN(p, 20))
  }
  op("/hybridSearch") { (c, p) =>
    // hybrid lexical+vector search fused by Reciprocal Rank Fusion
    // (q114): BM25 over `q` terms merges with cosine-ANN around `vecId`
    // on rank positions only
    Ranking.hybridRrf(c.spark, c.dir, p.terms("q", max = 16, required = true),
      p.long("vecId", required = true), kEach = p.int("kEach", 50, 1, TopNCap),
      topN = topN(p, 20))
  }
  op("/phraseSearch") { (c, p) =>
    // positional phrase search (q129); mode=indexed serves from the
    // persisted postings index; takedown=a,b (q163) serves through the
    // post-takedown postings layout. A bad mode is a 400 even with a
    // takedown — never a silently different serving path for a typo
    val byMode = p.str("mode", "scan") match {
      case "scan" => phraseSearch
      case "indexed" => phraseSearchIndexed
      case m => throw bad(s"unknown mode '$m'")
    }
    (if (p.longs("takedown").nonEmpty) takedownPhrase else byMode).build(c, p)
  }
  private val phraseSearch = op(sql = "phrase_search") { (c, p) =>
    Ranking.phraseSearch(c.spark, c.dir, phrase(p))
  }
  private val phraseSearchIndexed = op(sql = "phrase_search_indexed") {
    (c, p) => Ranking.phraseSearchIndexed(c.spark, c.dir, phrase(p))
  }
  op("/moreLikeThis", "more_like_this") { (c, p) =>
    // doc-to-doc retrieval by characteristic terms (q130)
    Ranking.moreLikeThis(c.spark, c.dir, p.long("docId", 1L),
      p.int("m", 10, hi = 100), topN(p, 20))
  }
  op("/entityLink", "fuzzy_link") { (c, p) =>
    // fuzzy entity linking (q128): bigram mentions resolved against the
    // part-name catalog at distance ≤ maxDist
    FuzzyJoin.fuzzyLink(c.spark, c.dir, p.int("maxDist", 2, 1, 4))
  }
  op("/collocations") { (c, p) =>
    // PMI collocation mining (q127); positivity checks live in the
    // operator
    TextAnalysis.pmiCollocations(c.spark, c.dir, p.long("minCount", 5L),
      p.int("topK", 100, hi = TopNCap))
  }

  // ---- behavioral analytics ----

  op("/funnel", "funnel") { (c, p) =>
    // strict-order funnel counts (q105); each step compiles a window
    // column
    Sessionize.funnel(c.spark, c.dir,
      p.terms("steps", Seq("view", "click", "purchase"), max = 8, split = ","))
  }
  op("/anomalies") { (c, p) =>
    // trailing-window rate anomalies (q120); dense=1 switches to the
    // calendar-hour grid (q123). wh/mw/k coherence lives in the operator
    val wh = p.int("windowHours", 24, hi = 8760)
    val (mw, k) = (p.int("minWindow", 12), p.int("k", 3))
    p.str("dense", "0") match {
      case "1" => EventRates.rateAnomaliesDense(c.spark, c.dir, wh, mw, k)
      case "0" => EventRates.rateAnomalies(c.spark, c.dir, wh, mw, k)
      case other => throw bad(s"dense must be 0|1, got '$other'")
    }
  }
  op("/paths") { (c, p) =>
    // top item journeys (q122): k-bounded TakeOrdered
    Sessionize.topPaths(c.spark, c.dir, p.int("len", 3, 2, 8), topN(p, 50))
  }
  op("/basketLift") { (c, p) =>
    // market-basket lift (q132); mode=rules serves the directional
    // support/confidence/lift triple (q133)
    (p.str("mode", "lift") match {
      case "rules" => basketRules
      case "lift" => basketLift
      case other => throw bad(s"unknown mode '$other'")
    }).build(c, p)
  }
  private val basketLift = op(sql = "basket_lift") { (c, p) =>
    val (minCount, topK, maxBasket) = basket(p)
    Sessionize.basketLift(c.spark, c.dir, minCount, topK, maxBasket)
  }
  private val basketRules = op(sql = "basket_rules") { (c, p) =>
    val (minCount, topK, maxBasket) = basket(p)
    Sessionize.basketRules(c.spark, c.dir, minCount, topK, maxBasket)
  }

  // ---- graph ----

  op("/communities") { (c, p) =>
    // label-propagation communities (q121)
    GraphRank.labelPropagation(c.spark, c.dir, p.int("iters", 5, 1, 50))
  }
  op("/convergence") { (c, p) =>
    // per-round convergence diagnostics (q124/q125)
    val iters = p.int("iters", 10, 1, 50)
    p.str("algo", "pagerank") match {
      case "pagerank" => GraphRank.pageRankConvergence(c.spark, c.dir, iters)
      case "lpa" =>
        GraphRank.labelPropagationConvergence(c.spark, c.dir, iters)
      case other => throw bad(s"algo must be pagerank|lpa, got '$other'")
    }
  }
  op(sql = "page_rank") { (c, p) =>
    GraphRank.pageRank(c.spark, c.dir, p.int("iters", 10))
  }
  op("/personalizedRank", "personalized_rank") { (c, p) =>
    // q136: seeded random-walk relevance
    GraphRank.personalizedRank(c.spark, c.dir, p.long("seed"),
      p.int("iters", 10, 1, 50))
  }
  op("/bfsHops", "bfs_hops") { (c, p) =>
    // q134: BFS hop distances from a seed item
    GraphRank.bfsHops(c.spark, c.dir, p.long("seed"), p.int("depth", 6, 1, 32))
  }
  op("/nextItems", "next_items") { (c, p) =>
    // q135: top-K successors per item
    GraphRank.nextItems(c.spark, c.dir, p.int("topK", 3, 1, 100))
  }

  // ---- sketches ----

  op("/distinctUsers") { (c, p) =>
    // q137 HLL distinct users; source=kmv the KMV family (q146);
    // from/to the day-grain range read (q152). source=sketch and
    // kmv-sketch answer from the persisted register tables, never the
    // events
    (p.str("source", "events"), dateRange(p)) match {
      case ("sketch", true) => SketchStream.hllRangeEstimates(c.spark,
        c.sketchDir, p.str("from"), p.str("to"))
      case ("events", true) => hllRange.build(c, p)
      case ("sketch", false) => SketchStream.hllTableEstimates(c.spark,
        c.sketchDir)
      case ("kmv-sketch", false) => SketchStream.kmvTableEstimates(c.spark,
        c.sketchDir)
      case ("kmv", false) => kmvUsers.build(c, p)
      case ("events", false) => hllUsers.build(c, p)
      case ("kmv" | "kmv-sketch", true) => throw bad(
        "source 'kmv'/'kmv-sketch' does not support from/to — range reads " +
          "merge day-grain HLL registers (drop the range params or use " +
          "source=events|sketch)")
      case (other, _) => throw bad(s"unknown source '$other'")
    }
  }
  private val hllUsers = op(sql = "hll_users") { (c, _) =>
    Sketches.hllUsers(c.spark, c.dir)
  }
  op(sql = "hll_daily") { (c, _) => Sketches.hllUsersDaily(c.spark, c.dir) }
  private val hllRange = op(sql = "hll_range") { (c, p) =>
    Sketches.hllUsersRange(c.spark, c.dir,
      p.str("from", Sketches.DefaultRangeFrom),
      p.str("to", Sketches.DefaultRangeTo))
  }
  private val kmvUsers = op(sql = "kmv_users") { (c, _) =>
    Sketches.kmvUsers(c.spark, c.dir)
  }
  op("/audienceOverlap") { (c, p) =>
    // pairwise audience overlap: method=hll (q144) or method=kmv (q147);
    // source=sketch from the persisted KMV table; from/to (q156) re-top-k
    // over the day-grain rows, kmv only
    (p.str("method", "kmv"), p.str("source", "events"), dateRange(p)) match {
      case ("kmv", "sketch", false) =>
        SketchStream.kmvTableOverlap(c.spark, c.sketchDir)
      case ("kmv", "sketch", true) => SketchStream.kmvTableRangeOverlap(
        c.spark, c.sketchDir, p.str("from"), p.str("to"))
      case ("kmv", "events", false) => kmvOverlap.build(c, p)
      case ("kmv", "events", true) => kmvRangeOverlap.build(c, p)
      case ("hll", "events", false) => hllOverlap.build(c, p)
      case (m, s, r) =>
        throw bad(s"unsupported method/source/range '$m'/'$s'/$r")
    }
  }
  private val hllOverlap = op(sql = "hll_overlap") { (c, _) =>
    Sketches.hllOverlap(c.spark, c.dir)
  }
  private val kmvOverlap = op(sql = "kmv_overlap") { (c, _) =>
    Sketches.kmvOverlap(c.spark, c.dir)
  }
  private val kmvRangeOverlap = op(sql = "kmv_range_overlap") { (c, p) =>
    Sketches.kmvOverlapRange(c.spark, c.dir,
      p.str("from", Sketches.DefaultRangeFrom),
      p.str("to", Sketches.DefaultRangeTo))
  }
  op("/heavyHitters") { (c, p) =>
    // q139: exact frequent items via the Misra-Gries candidate pass;
    // source=sketch re-ranks the persisted exact-count table through the
    // same threshold rule
    p.str("source", "events") match {
      case "sketch" =>
        SketchStream.heavyHitterSnapshot(c.spark, c.sketchDir, phiPpm(p))
      case "events" => heavyHitters.build(c, p)
      case other => throw bad(s"unknown source '$other'")
    }
  }
  private val heavyHitters = op(sql = "heavy_hitters") { (c, p) =>
    // phi range + the k >= 1/phi guarantee guard live in the operator
    Sketches.heavyHitters(c.spark, c.dir, phiPpm(p),
      p.int("k", Sketches.DefaultMgK, hi = 4096))
  }
  op("/quantiles") { (c, p) =>
    // q142 histogram-sketch percentiles; source=sketch walks the persisted
    // histogram register table instead of scanning events
    p.str("source", "events") match {
      case "sketch" =>
        SketchStream.quantileSnapshot(c.spark, c.sketchDir, percentiles(p))
      case "events" => histQuantiles.build(c, p)
      case other => throw bad(s"unknown source '$other'")
    }
  }
  private val histQuantiles = op(sql = "hist_quantiles") { (c, p) =>
    Sketches.histQuantilesOn(Tables.events(c.spark, c.dir), percentiles(p))
  }
  op("/priceQuantiles", "price_quantiles") { (c, _) =>
    // q150: auto-ranged histogram quantiles of o_totalprice per priority
    Sketches.priceQuantiles(c.spark, c.dir)
  }
  op("/itemFrequency") { (c, p) =>
    // q149 Count-Min point frequencies: source=sketch from the persisted
    // counter table; source=events the catalog scan PROJECTED to the
    // sketch contract (item, est_cnt), so clients may switch sources
    // without a schema change; source=audit the full audited scan
    p.str("source", "events") match {
      case "sketch" => SketchStream.cmsTableEstimates(c.spark, c.sketchDir,
        p.longs("items"))
      case "events" => cmsCounts.build(c, p).select("item", "est_cnt")
      case "audit" => cmsCounts.build(c, p)
      case other => throw bad(s"unknown source '$other'")
    }
  }
  private val cmsCounts = op(sql = "cms_counts") { (c, p) =>
    val items = p.longs("items")
    val all = Sketches.cmsCounts(c.spark, c.dir)
    if (items.isEmpty) all else all.where(col("item").isin(items: _*))
  }
  op(sql = "quality_report") { (c, _) => Checks.qualityReport(c.spark, c.dir) }
  op(sql = "concurrent_orders") { (c, p) =>
    IntervalJoin.concurrentOrders(c.spark, c.dir,
      p.long("cellDays", IntervalJoin.OrderCellDays))
  }

  // ---- layouts, point lookups and erasure ----

  op(sql = "zorder_layout") { (c, p) =>
    Warehouse.zorderLayout(c.spark, c.dir, p.int("shift", Warehouse.ZShift))
  }
  op("/zorderScan") { (c, p) =>
    // q145 range scan through the z-order layout; forgetUser / forgetUsers
    // (q155/q158) serve it through the post-erasure version
    (if (p.has("forgetUser")) zorderForget
    else if (p.has("forgetUsers")) zorderForgetBatch
    else zorderScan).build(c, p)
  }
  private val zorderScan = op(sql = "zorder_scan") { (c, p) =>
    val (uLo, uHi, iLo, iHi) = zRect(p)
    Warehouse.zorderScan(c.spark, c.dir, uLo, uHi, iLo, iHi)
  }
  private val zorderForget = op(sql = "zorder_forget") { (c, p) =>
    val user = p.long("forgetUser", required = true)
    val (uLo, uHi, iLo, iHi) = zRect(p)
    c.gated(Warehouse.isZforgetMemoized(c.spark, c.dir, Seq(user))) {
      Warehouse.zorderForgetScan(c.spark, c.dir, user, uLo, uHi, iLo, iHi)
    }
  }
  // -1 separates: user ids are non-negative, and user 0 exists
  private val zorderForgetBatch = op(sql = "zorder_forget_batch") { (c, p) =>
    val users = p.longs("forgetUsers", sep = Some(-1L), required = true)
    val (uLo, uHi, iLo, iHi) = zRect(p)
    c.gated(Warehouse.isZforgetMemoized(c.spark, c.dir, users)) {
      Warehouse.zorderForgetScanBatch(c.spark, c.dir, users,
        uLo, uHi, iLo, iHi)
    }
  }
  op("/forget") { (c, p) =>
    // q151/q153 right-to-erasure through the skipping index: the deletion
    // is copy-on-write into a memoized layout version; `key=` deletes one
    // customer, `keys=a,b,c` a compliance batch in ONE rewrite job
    (if (p.has("key")) forgetKey else forgetBatch).build(c, p)
  }
  private val forgetKey = op(sql = "forget_key") { (c, p) =>
    val key = p.long("key", required = true)
    val probes = p.longs("probe", required = true)
    c.gated(BloomSkip.isForgetMemoized(c.spark, c.dir, Seq(key))) {
      BloomSkip.forgetKey(c.spark, c.dir, key, probes)
    }
  }
  // 0 separates: custkeys are 1-based
  private val forgetBatch = op(sql = "forget_batch") { (c, p) =>
    val keys = p.longs("keys", sep = Some(0L), required = true)
    val probes = p.longs("probe", required = true)
    c.gated(BloomSkip.isForgetMemoized(c.spark, c.dir, keys)) {
      BloomSkip.forgetKeys(c.spark, c.dir, keys, probes)
    }
  }
  op(sql = "vacuumed_forget") { (c, p) =>
    val keys = p.longs("keys", sep = Some(0L), required = true)
    BloomSkip.vacuumedForget(c.spark, c.dir, keys,
      p.longs("probe", required = true))
  }
  op("/pointLookup") { (c, p) =>
    // q148 point lookup through the per-file bloom index; from/to (q157)
    // intersect it with the date-clustered layout's min/max index;
    // forget=a,b (q159) first deletes those customers from that layout
    (dateRange(p), p.longs("forget").nonEmpty) match {
      case (false, false) => bloomLookup.build(c, p)
      case (false, true) =>
        throw bad("forget needs from and to (the composed layout)")
      case (true, false) => composedLookup.build(c, p)
      case (true, true) => composedForget.build(c, p)
    }
  }
  private val bloomLookup = op(sql = "bloom_lookup") { (c, p) =>
    BloomSkip.pointLookup(c.spark, c.dir, p.longs("keys"))
  }
  private val composedLookup = op(sql = "composed_lookup") { (c, p) =>
    val (from, to) = (p.str("from", required = true),
      p.str("to", required = true))
    BloomSkip.lookupKeysInRange(c.spark, c.dir, p.longs("keys"), from, to)
  }
  private val composedForget = op(sql = "composed_forget") { (c, p) =>
    val (from, to) = (p.str("from", required = true),
      p.str("to", required = true))
    val del = p.longs("forget", sep = Some(0L), required = true)
    val probes = p.longs("keys")
    c.gated(BloomSkip.isDatedForgetMemoized(c.spark, c.dir, del)) {
      BloomSkip.forgetKeysInRange(c.spark, c.dir, del, probes, from, to)
    }
  }
  op("/timeTravel") { (c, p) =>
    // the q148 point lookup as of a served-lineage version; an expired
    // version is Layouts.VersionExpired (HTTP 410)
    val version = p.long("version", required = true)
    BloomSkip.lookupAsOf(c.spark, c.dir, version,
      p.longs("keys", required = true))
  }
  op("/lineage") { (c, _) =>
    // the served lineage's live versions (log only, no data read)
    BloomSkip.lineageVersions(c.spark, c.dir)
  }
  op("/vacuumLayouts") { (c, p) =>
    // admin retention: expire all but the newest keepLast versions; live
    // heads stay pinned and unshared files go to the deferred reaper
    BloomSkip.vacuumServedLineage(c.spark, c.dir, p.int("keepLast", 1))
  }

  // ---- document-corpus takedown (q161–q169); doc ids start at 0, so a
  // batched list ends at -1 ----

  op("/docTakedown") { (c, p) =>
    // the batch deleted from the corpus layout, packed shards, corpus
    // Bloom, postings and IVF in four one-job rewrites; view=scan probes
    // through the patched corpus index, view=pack the repacked shard
    // manifest, view=report the per-artifact deletion accounting
    val seeds = p.longs("ids", required = true)
    // cascade=1 (q166): expand the seeds through their q60 near-dup
    // clusters first; view=expansion (q167) reports the cascade without
    // deleting
    val cascade = p.str("cascade", "0") match {
      case "1" => true
      case "0" => false
      case other => throw bad(s"cascade must be 0|1, got '$other'")
    }
    // source=table: the expansion reads the stream-maintained cluster
    // table (a point read once its store is built) instead of re-deriving
    // MinHash-LSH + components per corpus fingerprint
    val fromTable = p.str("source", "recompute") match {
      case "table" => true
      case "recompute" => false
      case other => throw bad(s"source must be recompute|table, got '$other'")
    }
    val view = p.str("view", "scan")
    // the expansion is itself a corpus-scale build: it runs INSIDE the
    // load-shed gate, and repeats serve from its memo / the built table
    if (view == "expansion") {
      if (fromTable)
        c.gated(ClusterStream.isTableMemoized(c.spark, c.dir)) {
          ClusterStream.clusterExpansionFromTable(c.spark,
            ClusterStream.tableFor(c.spark, c.dir), seeds)
        }
      else
        c.gated(DocForget.isExpansionMemoized(c.spark, c.dir, seeds)) {
          DocForget.clusterExpansionCached(c.spark, c.dir, seeds)
        }
    } else {
      def expandSeeds(): Seq[Long] =
        if (!cascade) seeds
        else if (fromTable) ClusterStream.expandFromTable(c.spark,
          ClusterStream.tableFor(c.spark, c.dir), seeds)
        else DocForget.expandCluster(c.spark, c.dir, seeds)
      val expansionReady = !cascade ||
        (if (fromTable) ClusterStream.isTableMemoized(c.spark, c.dir)
        else DocForget.isExpansionMemoized(c.spark, c.dir, seeds))
      // expand ONCE when the expansion source is ready (the recompute
      // path would memo-hit, but the table path re-reads per call) and
      // reuse the ids inside the gate
      val preIds = if (expansionReady) Some(expandSeeds()) else None
      val memoized = preIds.exists(ids =>
        DocForget.isTakedownMemoized(c.spark, c.dir, ids))
      c.gated(memoized) {
        val ids = preIds.getOrElse(expandSeeds())
        view match {
          case "scan" => DocForget.takedownScan(c.spark, c.dir, ids,
            p.longs("probe", required = true).filterNot(ids.contains))
          case "pack" => DocForget.takedownPack(c.spark, c.dir, ids)
          case "report" => DocForget.takedownReport(c.spark, c.dir, ids)
          case other => throw bad(s"unknown view '$other'")
        }
      }
    }
  }
  op(sql = "doc_takedown") { (c, p) =>
    val ids = p.longs("ids", sep = Some(-1L), required = true)
    DocForget.takedownScan(c.spark, c.dir, ids,
      p.longs("probe", required = true))
  }
  op(sql = "takedown_pack") { (c, p) =>
    DocForget.takedownPack(c.spark, c.dir, p.longs("ids"))
  }
  private val takedownPhrase = op(sql = "takedown_phrase") { (c, p) =>
    val terms = phrase(p)
    val ids = p.longs("takedown", required = true)
    c.gated(DocForget.isTakedownMemoized(c.spark, c.dir, ids)) {
      DocForget.takedownPhrase(c.spark, c.dir, ids, terms)
    }
  }
  private val takedownAnn = op(sql = "takedown_ann") { (c, p) =>
    val vecId = p.long("vecId", required = true)
    val ids = p.longs("takedown", required = true)
    val (k, nprobe) = (annK(p), annProbe(p))
    c.gated(DocForget.isTakedownMemoized(c.spark, c.dir, ids)) {
      DocForget.takedownAnn(c.spark, c.dir, ids, queryId = vecId, k = k,
        nprobe = nprobe)
    }
  }
  op(sql = "takedown_report") { (c, p) =>
    DocForget.takedownReport(c.spark, c.dir, p.longs("ids"))
  }
  op(sql = "cluster_takedown") { (c, p) =>
    val seeds = p.longs("ids", sep = Some(-1L), required = true)
    DocForget.clusterTakedownScan(c.spark, c.dir, seeds,
      p.longs("probe", required = true))
  }
  op(sql = "cluster_expansion") { (c, p) =>
    DocForget.clusterExpansion(c.spark, c.dir, p.longs("ids"))
  }
  // the incremental near-dup cluster table (q168/q169) over the corpus:
  // the assignment the streaming fold maintains, and the same table after
  // an in-place cluster takedown of the given ids
  op(sql = "cluster_assign") { (c, _) =>
    ClusterStream.assignmentFor(c.spark, c.dir)
  }
  op(sql = "cluster_forget") { (c, p) =>
    ClusterStream.forgottenAssignmentFor(c.spark, c.dir,
      p.longs("ids", required = true))
  }

  // ---- the server's accumulated stream stores (sketch directory) ----

  op("/clusterAssignment") { (c, p) =>
    // the stream-maintained q168 assignment; ids= narrows to the ids'
    // components (the cascade-expansion point read)
    val ids = p.longs("ids")
    if (ids.isEmpty)
      ClusterStream.assignmentTable(c.spark, c.sketchDir).orderBy("doc_id")
    else ClusterStream.clusterExpansionFromTable(c.spark, c.sketchDir, ids)
  }
  op("/clusterTakedown") { (c, p) =>
    // delete the ids' signature rows and re-derive their components'
    // survivors in place (q169) — bridge-doc splits included
    val ids = p.longs("ids", required = true)
    c.gated(memoized = false) {
      val r = ClusterStream.takedownClusters(c.spark, c.sketchDir, ids)
      import c.spark.implicits._
      Seq((r.membersExpanded, r.rowsDeleted, r.survivorsRelabeled,
        r.sigEpochsRewritten, r.mergeEpochsRewritten))
        .toDF("members_expanded", "rows_deleted", "survivors_relabeled",
          "sig_epochs_rewritten", "merge_epochs_rewritten")
    }
  }
  op("/mediaNearDup") { (c, p) =>
    // q154 perceptual-hash duplicate report; the lossless-band guard
    // (maxHamming < bands) lives in the operator. source=sketch answers
    // from the stream-maintained signature table
    p.str("source", "scan") match {
      case "sketch" =>
        val (maxHamming, bands) = banding(p)
        MediaStream.mediaNearDupFromTable(c.spark, c.sketchDir, maxHamming,
          bands)
      case "scan" => mediaNearDup.build(c, p)
      case other => throw bad(s"unknown source '$other'")
    }
  }
  private val mediaNearDup = op(sql = "media_neardup") { (c, p) =>
    val (maxHamming, bands) = banding(p)
    Multimodal.mediaNearDup(c.spark, c.dir, maxHamming, bands)
  }
  op("/mediaTakedown") { (c, p) =>
    // the dHash signatures are derived personal data (the q161
    // principle): delete the ids' rows from the stream-maintained table
    val ids = p.longs("ids", required = true)
    c.gated(memoized = false) {
      val r = MediaStream.takedownSignatures(c.spark, c.sketchDir, ids)
      import c.spark.implicits._
      Seq((r.epochsTotal, r.epochsRewritten, r.rowsDeleted))
        .toDF("epochs_total", "epochs_rewritten", "rows_deleted")
    }
  }
  // erasure completion: registers, basket pairs and graph edge weights
  // cannot be un-merged per user, so each store REBUILDS from the
  // retained events (always a build → gated)
  op("/rebuildUserSketches") { (c, _) =>
    c.gated(memoized = false) {
      val rebuilt = SketchStream.rebuildUserSketches(c.spark, c.sketchDir,
        Tables.events(c.spark, c.dir)
          .select(col("event_type"), col("ts"), col("user_id")))
      import c.spark.implicits._
      rebuilt.toDF("rebuilt_table")
    }
  }
  op("/rebuildBasket") { (c, _) =>
    c.gated(memoized = false) {
      BasketStream.rebuildRetained(c.spark, c.sketchDir,
        Tables.events(c.spark, c.dir))
      import c.spark.implicits._
      Seq(("pairs", c.spark.read.parquet(s"${c.sketchDir}/pairs").count()))
        .toDF("rebuilt_table", "rows")
    }
  }
  op("/rebuildGraph") { (c, _) =>
    c.gated(memoized = false) {
      GraphStream.rebuildRetained(c.spark, c.sketchDir,
        Tables.events(c.spark, c.dir))
      import c.spark.implicits._
      Seq(("edges", c.spark.read.parquet(s"${c.sketchDir}/edges").count()),
        ("nodes", c.spark.read.parquet(s"${c.sketchDir}/nodes").count()))
        .toDF("rebuilt_table", "rows")
    }
  }

  private val names = table.flatMap(o => o.path ++ o.sql)
  require(names.distinct == names,
    s"operators declared twice: ${names.diff(names.distinct).mkString(", ")}")
}
