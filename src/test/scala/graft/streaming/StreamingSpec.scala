package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end micro-batch tests for the streaming module, driven by
  * MemoryStream so cross-batch semantics (dedup state, join completion)
  * are observable batch by batch — the behaviors the reference kept in
  * Redis (SURVEY §2.5 J4/J5).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  // —— raw log fixtures (gmall log shape, ods_BaseLogApp.scala:86-175) ——
  private def pageLog(mid: String, pageId: String, last: String,
      nDisplays: Int, nActions: Int, ts: Long): String = {
    val displays =
      if (nDisplays == 0) "null"
      else (0 until nDisplays).map(i =>
        s"""{"display_type":"promo","item":"sku$i","item_type":"sku_id","order":"$i","pos_id":"p$i"}""")
        .mkString("[", ",", "]")
    val actions =
      if (nActions == 0) "null"
      else (0 until nActions).map(i =>
        s"""{"action_id":"cart_add","item":"sku$i","item_type":"sku_id","ts":${ts + i}}""")
        .mkString("[", ",", "]")
    val lastJson = if (last == null) "null" else s""""$last""""
    s"""{"common":{"mid":"$mid","uid":"u_$mid","ar":"110000","ch":"web","is_new":"1","md":"mi","os":"android","vc":"v1","ba":"xiaomi"},
        "page":{"page_id":"$pageId","last_page_id":$lastJson,"item":"it","item_type":"sku_id","source_type":"query","during_time":1000},
        "displays":$displays,"actions":$actions,"ts":$ts}""".replaceAll("\n\\s*", "")
  }

  private def startLog(mid: String, ts: Long): String =
    s"""{"common":{"mid":"$mid","uid":"u_$mid","ar":"110000","ch":"web","is_new":"0","md":"mi","os":"ios","vc":"v1","ba":"apple"},
        "start":{"entry":"icon","open_ad_id":"ad1","loading_time":300,"open_ad_ms":100,"open_ad_skip_ms":0},"ts":$ts}"""
      .replaceAll("\n\\s*", "")

  private def errLog(mid: String, ts: Long): String =
    s"""{"common":{"mid":"$mid","uid":"u_$mid","ar":"110000","ch":"web","is_new":"0","md":"mi","os":"ios","vc":"v1","ba":"apple"},
        "page":{"page_id":"home","last_page_id":null,"item":null,"item_type":null,"source_type":null,"during_time":5},
        "err":{"error_code":"2633","msg":"boom"},"ts":$ts}""".replaceAll("\n\\s*", "")

  test("LogDemux routes one stream into five sinks with explode fan-out") {
    val out = tmpDir("demux")
    val mem = MemoryStream[String]
    mem.addData(
      pageLog("m1", "good_detail", "home", nDisplays = 3, nActions = 2, ts = 1000L),
      pageLog("m2", "home", null, nDisplays = 0, nActions = 0, ts = 2000L),
      startLog("m3", 3000L),
      errLog("m4", 4000L))
    val q = mem.toDF().toDF("value").writeStream
      .foreachBatch(LogDemux.demuxEachBatch(out) _)
      .option("checkpointLocation", s"$out/_cp")
      .start()
    q.processAllAvailable(); q.stop()

    def cnt(t: String): Long =
      try spark.read.parquet(s"$out/$t").count() catch { case _: Throwable => 0L }
    assert(cnt("DWD_PAGE_LOG") == 2)           // m1, m2 (err rows excluded)
    assert(cnt("DWD_PAGE_DISPLAY_LOG") == 3)   // m1's displays exploded
    assert(cnt("DWD_PAGE_ACTION_LOG") == 2)    // m1's actions exploded
    assert(cnt("DWD_START_LOG") == 1)          // m3
    assert(cnt("DWD_ERROR_LOG") == 1)          // m4 routed to error only
    // display rows inherit parent page fields (T4 semantics)
    val d = spark.read.parquet(s"$out/DWD_PAGE_DISPLAY_LOG")
      .select("mid", "page_id", "display_item").collect()
    assert(d.forall(r => r.getString(0) == "m1" && r.getString(1) == "good_detail"))

    // epoch REPLAY: re-running the same epoch must overwrite, not append
    val replayBatch = Seq(pageLog("m2", "home", null, 0, 0, 2000L)).toDF("value")
    LogDemux.demuxEachBatch(out)(replayBatch, 0L)
    LogDemux.demuxEachBatch(out)(replayBatch, 0L)
    assert(cnt("DWD_PAGE_LOG") == 1, "replayed epoch must not duplicate")

    // second epoch, then compaction: same rows, epoch dirs collapsed
    LogDemux.demuxEachBatch(out)(replayBatch, 1L)
    assert(cnt("DWD_PAGE_LOG") == 2)
    graft.operators.Compact.compactEpochs(spark, s"$out/DWD_PAGE_LOG")
    val compacted = spark.read.parquet(s"$out/DWD_PAGE_LOG")
    assert(compacted.count() == 2)
    assert(!compacted.columns.contains("epoch"))
    assert(!new java.io.File(s"$out/DWD_PAGE_LOG").listFiles()
      .exists(_.getName.startsWith("epoch=")))
  }

  test("compactEpochs aborts LOUDLY when a writer races the " +
    "compaction — no epoch is silently dropped") {
    import spark.implicits._
    val dir = tmpDir("cmpe_race") + "/topic"
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/epoch=0")
    Seq((2L, "b")).toDF("k", "v").write.parquet(s"$dir/epoch=1")
    val e = intercept[IllegalStateException] {
      graft.operators.Compact.compactEpochs(spark, dir,
        beforeSwap = () =>
          Seq((3L, "c")).toDF("k", "v").write.parquet(s"$dir/epoch=2"))
    }
    assert(e.getMessage.contains("raced"), e.getMessage)
    // the directory is untouched: all three epochs — the racer's
    // included — still answer, and the tmp staging dir is gone
    assert(spark.read.parquet(dir).count() == 3)
    assert(!new java.io.File(s"$dir.compact.tmp").exists())
    // with the writer stopped, the same compaction succeeds
    graft.operators.Compact.compactEpochs(spark, dir)
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("demux in-band compaction: coordinated fold from the sink keeps " +
    "rows exact, bounds epoch dirs, and survives a replayed epoch") {
    val out = tmpDir("demux_cmp")
    def epochDirs(t: String): Int =
      Option(new java.io.File(s"$out/$t").listFiles()).toSeq.flatten
        .count(_.getName.startsWith("epoch="))
    // six epochs through the live sink with compactEvery=2 — the
    // COORDINATED variant (no stop-the-world compactEpochs needed)
    for (e <- 0L to 5L) {
      val b = Seq(pageLog(s"m$e", "home", null, 0, 0, 1000L + e))
        .toDF("value")
      LogDemux.demuxEachBatch(out, compactEvery = 2)(b, e)
    }
    val pages = spark.read.parquet(s"$out/DWD_PAGE_LOG")
    assert(pages.count() == 6, "compaction lost or duplicated rows")
    assert(epochDirs("DWD_PAGE_LOG") <= 3,
      s"${epochDirs("DWD_PAGE_LOG")} epoch dirs survived compactEvery=2")
    // replay the in-flight epoch (the only replayable one): overwrite-
    // own-partition converges even against the compacted layout
    LogDemux.demuxEachBatch(out, compactEvery = 2)(
      Seq(pageLog("m5", "home", null, 0, 0, 1005L)).toDF("value"), 5L)
    assert(spark.read.parquet(s"$out/DWD_PAGE_LOG").count() == 6,
      "replayed epoch duplicated rows in the compacted layout")
  }

  test("typed demux branches bind the bean case classes") {
    val raw = Seq(
      pageLog("m1", "good_detail", "home", nDisplays = 2, nActions = 1, ts = 1000L),
      startLog("m2", 2000L)).toDF("value")
    val parsed = LogDemux.parse(raw)
    val p = LogDemux.pagesTyped(parsed).collect()
    assert(p.length == 1 && p(0).mid == "m1" && p(0).page_id == "good_detail"
      && p(0).last_page_id == "home" && p(0).ts == 1000L)
    val st = LogDemux.startsTyped(parsed).collect()
    assert(st.length == 1 && st(0).mid == "m2" && st(0).entry == "icon")
    val d = LogDemux.displaysTyped(parsed).collect()
    assert(d.length == 2 && d.forall(_.page_id == "good_detail"))
    val a = LogDemux.actionsTyped(parsed).collect()
    assert(a.length == 1 && a(0).action_id == "cart_add")
  }

  test("DauStream dedups per (user, day) across micro-batches") {
    val out = tmpDir("dau")
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    val q = DauStream.firstVisitsEvicting(df).writeStream
      .foreachBatch(DauStream.idempotentSinkEachBatch(out,
        Seq("user_id", "dt")) _)
      .option("checkpointLocation", s"$out/_cp")
      .outputMode("update")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, t("2024-01-01 08:00:00")), (2L, t("2024-01-01 09:00:00")))
    q.processAllAvailable()
    // batch 2: user 1 again same day (dup → dropped), user 1 next day (kept)
    mem.addData((1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-02 07:00:00")))
    q.processAllAvailable(); q.stop()

    // dt comes back as a partition column (type-inferred to Date) → cast
    val rows = spark.read.parquet(out)
      .select(col("user_id"), col("dt").cast("string"), col("hr")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      (1L, "2024-01-01", "08"), (2L, "2024-01-01", "09"),
      (1L, "2024-01-02", "07")))
  }

  test("DauStream: entry filter, broadcast dim enrichment, idempotent sink") {
    val out = tmpDir("dau_enr") + "/table"
    val dims = Seq((1L, "CN", "north"), (2L, "US", "west"))
      .toDF("user_id", "country", "zone")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("user_id", "page", "ts")
    val pipeline = DauStream.enrich(
      DauStream.firstVisitsEvicting(df,
        entryFilter = Some(col("page") === "home")),
      dims, "user_id")
    val q = pipeline.writeStream
      .foreachBatch(DauStream.idempotentSinkEachBatch(out,
        Seq("user_id", "dt")) _)
      .option("checkpointLocation", s"$out/../_cp")
      .outputMode("update").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (1L, "home", t("2024-01-01 08:00:00")),
      (1L, "detail", t("2024-01-01 08:30:00")), // not an entry page → dropped
      (3L, "home", t("2024-01-01 09:00:00")))   // no dim row → left join null
    q.processAllAvailable()
    q.processAllAvailable(); q.stop()

    val rows = spark.read.parquet(out)
      .select("user_id", "country").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(rows == Set((1L, Some("CN")), (3L, None)),
      s"got $rows") // u1 entry only, u3 null-enriched

    // simulate an epoch REPLAY: the same keyed row hits the sink again
    // (fresh values) — idempotent upsert must replace, not duplicate
    val replay = Seq((1L, "home", t("2024-01-01 08:00:00"), "2024-01-01",
        "08", "CN2", "north2"))
      .toDF("user_id", "page", "ts", "dt", "hr", "country", "zone")
    DauStream.idempotentSinkEachBatch(out, Seq("user_id", "dt"))(replay, 99L)
    val after = spark.read.parquet(out)
      .select("user_id", "country").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSet
    assert(after == Set((1L, Some("CN2")), (3L, None)), s"got $after")
  }

  test("partition-scoped upsert leaves untouched dt partitions byte-identical") {
    val out = tmpDir("scoped") + "/t"
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val epoch1 = Seq(
      (1L, t("2024-01-01 08:00:00"), "2024-01-01", "08"),
      (2L, t("2024-01-01 09:00:00"), "2024-01-01", "09"),
      (3L, t("2024-01-02 07:00:00"), "2024-01-02", "07"))
      .toDF("user_id", "ts", "dt", "hr")
    DauStream.idempotentSinkEachBatch(out, Seq("user_id", "dt"))(epoch1, 0L)

    def snapshot(dir: String): Map[String, Long] = {
      val d = new java.io.File(dir)
      d.listFiles().map(f => f.getName -> (f.lastModified() ^ f.length())).toMap
    }
    val day1Before = snapshot(s"$out/dt=2024-01-01")

    // epoch 2 touches ONLY 2024-01-02 → day-1 files must not be rewritten
    val epoch2 = Seq((4L, t("2024-01-02 08:00:00"), "2024-01-02", "08"))
      .toDF("user_id", "ts", "dt", "hr")
    DauStream.idempotentSinkEachBatch(out, Seq("user_id", "dt"))(epoch2, 1L)

    assert(snapshot(s"$out/dt=2024-01-01") == day1Before,
      "untouched partition was rewritten")
    val all = spark.read.parquet(out)
      .select(col("user_id"), col("dt")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(all == Set((1L, "2024-01-01"), (2L, "2024-01-01"),
      (3L, "2024-01-02"), (4L, "2024-01-02")))

    // upsert within the touched partition still replaces by key
    val epoch3 = Seq((3L, t("2024-01-02 07:30:00"), "2024-01-02", "99"))
      .toDF("user_id", "ts", "dt", "hr")
    DauStream.idempotentSinkEachBatch(out, Seq("user_id", "dt"))(epoch3, 2L)
    val hr3 = spark.read.parquet(out)
      .where(col("user_id") === 3L).select("hr").collect()
    assert(hr3.length == 1 && hr3(0).getString(0) == "99")
    assert(snapshot(s"$out/dt=2024-01-01") == day1Before)
  }

  test("PartitionedUpsert replay does not duplicate null-merge-key rows") {
    // a row whose merge-key value is null (e.g. a CDC payload missing the
    // id field) must still be shadowed by a replayed epoch: the anti-join
    // is null-safe per key, so last-wins idempotence holds for malformed
    // rows too
    val out = tmpDir("nullkey") + "/t"
    val batch = Seq((Option(1L), "2024-01-01", "a"),
        (Option.empty[Long], "2024-01-01", "b"))
      .toDF("k", "dt", "v")
    PartitionedUpsert.upsert(batch, out, "dt", Seq("k"))
    PartitionedUpsert.upsert(batch, out, "dt", Seq("k")) // replayed epoch
    val rows = spark.read.parquet(out)
      .select("k", "v").collect()
      .map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(rows == Set((Some(1L), "a"), (None, "b")),
      s"replay duplicated or dropped rows: $rows")
  }

  test("idempotentSinkEachBatch keys the branch on `keys`, not batch columns") {
    // batch carries a dt column but dt is NOT a merge key: the same key
    // under two dates must collapse to ONE row (global last-wins via the
    // bucket branch), not two dt-scoped rows
    val out = tmpDir("dtnotkey") + "/t"
    DauStream.idempotentSinkEachBatch(out, Seq("user_id"))(
      Seq((1L, "2024-01-01", "a")).toDF("user_id", "dt", "v"), 0L)
    DauStream.idempotentSinkEachBatch(out, Seq("user_id"))(
      Seq((1L, "2024-01-02", "b")).toDF("user_id", "dt", "v"), 1L)
    val rows = spark.read.parquet(out)
      .select("user_id", "dt", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "2024-01-02", "b")),
      s"dt-scoped merge leaked through for a non-dt key: $rows")
  }

  test("idempotentSinkEachBatch with dt as the ONLY key replaces the day slice") {
    // partition-key-only upsert: mergeKeys is empty after dt is peeled
    // off — the incoming slice must replace the stored partition (and
    // must not die on an empty-condition reduce)
    val out = tmpDir("dtonly") + "/t"
    DauStream.idempotentSinkEachBatch(out, Seq("dt"))(
      Seq(("2024-01-01", 5L), ("2024-01-02", 3L)).toDF("dt", "dau"), 0L)
    // refreshed aggregate for day 1 only → replaced, day 2 untouched
    DauStream.idempotentSinkEachBatch(out, Seq("dt"))(
      Seq(("2024-01-01", 7L)).toDF("dt", "dau"), 1L)
    val rows = spark.read.parquet(out).select("dt", "dau").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows == Set(("2024-01-01", 7L), ("2024-01-02", 3L)), s"got $rows")
  }

  test("PartitionedUpsert heals crashed per-partition swaps before writing") {
    val out = tmpDir("crash") + "/t"
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val epoch1 = Seq(
      (1L, t("2024-01-01 08:00:00"), "2024-01-01", "08"),
      (3L, t("2024-01-02 07:00:00"), "2024-01-02", "07"))
      .toDF("user_id", "ts", "dt", "hr")
    DauStream.idempotentSinkEachBatch(out, Seq("user_id", "dt"))(epoch1, 0L)

    // simulate the two crash states mid-loop (artifacts are dot-prefixed
    // siblings, so even BEFORE healing a reader never sees them):
    // (a) an unpublished hidden tmp left behind for day 1 — must be
    //     discarded
    val orphanTmp = new java.io.File(s"$out/.dt=2024-01-01.tmp")
    orphanTmp.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/.dt=2024-01-01.tmp/junk.txt"), "junk")
    // (b) day 2 moved aside but never re-published — must be restored
    assert(new java.io.File(s"$out/dt=2024-01-02")
      .renameTo(new java.io.File(s"$out/.dt=2024-01-02.old")))

    // crash residue is invisible to partition discovery even pre-heal
    val visible = spark.read.parquet(out)
      .select(col("dt")).distinct().collect().map(_.getString(0)).toSet
    assert(visible == Set("2024-01-01"), s"reader saw crash residue: $visible")

    // the next epoch (touching a third day) must first heal both states
    val epoch2 = Seq((4L, t("2024-01-03 09:00:00"), "2024-01-03", "09"))
      .toDF("user_id", "ts", "dt", "hr")
    DauStream.idempotentSinkEachBatch(out, Seq("user_id", "dt"))(epoch2, 1L)

    val names = new java.io.File(out).list().toSet
    assert(!names.exists(n => n.endsWith(".tmp") || n.endsWith(".old")),
      s"crash residue not healed: $names")
    val rows = spark.read.parquet(out)
      .select(col("user_id"), col("dt")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "2024-01-01"), (3L, "2024-01-02"),
      (4L, "2024-01-03")), s"got $rows")
  }

  test("incremental dedup sink: corpus-exact across batches, replay-safe") {
    val out = tmpDir("increm")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(DocStream.incrementalDedupSinkEachBatch(out) _)
      .option("checkpointLocation", tmpDir("increm-ck")).start()
    mem.addData((1L, "alpha beta"), (2L, "gamma delta"))
    q.processAllAvailable()
    // batch 2: a content dup of doc 1 (new id), a within-batch dup pair
    // (4/5), and one genuinely new doc
    mem.addData((3L, "  ALPHA   beta "), (4L, "epsilon zeta"),
      (5L, "epsilon zeta"), (6L, "brand new"))
    q.processAllAvailable(); q.stop()
    val stored = spark.read.parquet(out)
    val ids = stored.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 4L, 6L),
      s"expected content-unique survivors, got $ids")
    // replay batch 2 under a NEW epoch id (re-delivery after checkpoint
    // loss — the content-level anti-join must drop every row: 4's fp is
    // now corpus, 3/5 are dups as before)
    val replay = Seq((3L, "  ALPHA   beta "), (4L, "epsilon zeta"),
      (5L, "epsilon zeta"), (6L, "brand new")).toDF("doc_id", "text")
    DocStream.incrementalDedupSinkEachBatch(out)(replay, 99L)
    val after = spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSeq
    assert(after.sorted == Seq(1L, 2L, 4L, 6L),
      s"replay duplicated rows: $after")
    // the rolling corpus sketch persists beside the data; losing it must
    // not change answers — the sink rebuilds from the corpus parquet
    val bloomFile = new java.io.File(out, "_bloom.bf")
    assert(bloomFile.exists(), "rolling bloom sketch not persisted")
    assert(bloomFile.delete())
    val batch3 = Seq((7L, "alpha beta"), (8L, "never seen before"))
      .toDF("doc_id", "text")
    DocStream.incrementalDedupSinkEachBatch(out)(batch3, 100L)
    val fin = spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSeq
    assert(fin.sorted == Seq(1L, 2L, 4L, 6L, 8L),
      s"post-rebuild answers changed: $fin")
    assert(bloomFile.exists(), "sketch not re-published after rebuild")
  }

  test("incremental dedup sink compaction: epoch dirs fold into the " +
      "base, dedup answers and crash-replay unchanged") {
    val out = tmpDir("increm-compact")
    def sink(rows: Seq[(Long, String)], epoch: Long): Unit =
      DocStream.incrementalDedupSinkEachBatch(out, compactEvery = 2)(
        rows.toDF("doc_id", "text"), epoch)
    sink(Seq((1L, "alpha beta"), (2L, "gamma delta")), 0L)
    sink(Seq((3L, "alpha beta"), (4L, "epsilon zeta")), 1L)
    sink(Seq((5L, "brand new")), 2L) // folds epochs 0,1 → epoch=-1
    def dirs = new java.io.File(out).list()
      .filter(_.startsWith("epoch=")).toSeq.sorted
    assert(dirs == Seq("epoch=-1", "epoch=2"), s"got $dirs")
    assert(new java.io.File(out, "_bloom.bf").exists(),
      "rolling sketch lost in the rebuilt layout")
    def ids = spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSet
    assert(ids == Set(1L, 2L, 4L, 5L), s"got $ids")
    // the folded base still dedups: a content dup of a FOLDED doc and
    // one of the fresh epoch both drop under a new epoch id
    sink(Seq((6L, "alpha beta"), (7L, "brand new")), 3L)
    assert(ids == Set(1L, 2L, 4L, 5L), s"folded corpus missed a dup")
    // crash-replay straddling the compaction: epoch 2 re-delivered
    // overwrites its own (never-folded) partition, then re-runs the
    // fold — same answers
    sink(Seq((5L, "brand new")), 2L)
    assert(ids == Set(1L, 2L, 4L, 5L), s"replay changed the corpus")
  }

  test("incremental dedup sink: an epoch a crashed per-epoch swap left " +
      "aside still dedups later arrivals and survives the fold") {
    val out = tmpDir("increm-crash")
    def sink(rows: Seq[(Long, String)], epoch: Long): Unit =
      DocStream.incrementalDedupSinkEachBatch(out, compactEvery = 3)(
        rows.toDF("doc_id", "text"), epoch)
    sink(Seq((1L, "alpha beta"), (2L, "gamma delta")), 0L)
    sink(Seq((3L, "epsilon zeta"), (4L, "eta theta")), 1L)
    sink(Seq((5L, "iota kappa")), 2L)
    // a takedown's per-epoch swap moved epoch 1 aside, then died
    // before publishing its replacement
    assert(new java.io.File(s"$out/epoch=1")
      .renameTo(new java.io.File(s"$out/.epoch=1.old")))
    // epoch 3 folds: a content dup of a crashed-epoch doc must drop,
    // and the fold must not publish over the aside copy
    sink(Seq((6L, "epsilon zeta"), (7L, "lambda mu")), 3L)
    val ids = spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 5L, 7L), s"got $ids")
  }

  test("incremental dedup sink: second concurrent writer rejected, " +
      "null text dropped") {
    val out = tmpDir("increm-own")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(DocStream.incrementalDedupSinkEachBatch(out) _)
      .option("checkpointLocation", tmpDir("increm-own-ck")).start()
    mem.addData((1L, "alpha beta"))
    q.processAllAvailable()
    // the query is still ACTIVE: a second writer on the same corpus dir
    // would interleave the rolling-Bloom read-modify-write, so the sink
    // must refuse loudly rather than corrupt the sketch
    val rogue = Seq((2L, "gamma delta")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      DocStream.incrementalDedupSinkEachBatch(out)(rogue, 50L)
    }
    assert(ex.getMessage.contains("owned by active streaming query"),
      s"wrong rejection message: ${ex.getMessage}")
    q.stop()
    // prior owner no longer active → ownership transfers (restart/replay
    // path); and a null-text row is dropped up front instead of NPE-ing
    // the sketch update mid-epoch
    val batch = Seq((3L, "gamma delta"), (4L, null))
      .toDF("doc_id", "text")
    DocStream.incrementalDedupSinkEachBatch(out)(batch, 51L)
    val ids = spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSet
    assert(ids == Set(1L, 3L), s"got $ids")
  }

  test("end-to-end chain: raw logs → demux → DAU table (full dwd path)") {
    // the reference's full pipeline: ods_BaseLogApp demux feeding
    // dwd_DauApp — here one streaming demux whose page branch feeds the
    // first-visit dedup, landing in a keyed DAU table
    val base = tmpDir("e2e")
    val mem = MemoryStream[String]
    val parsed = LogDemux.parse(mem.toDF().toDF("value"))
    val pages = LogDemux.pages(parsed)
      .withColumn("ts_t", timestamp_millis(col("ts")))
      .drop("ts").withColumnRenamed("ts_t", "ts")
    val dau = DauStream.firstVisitsEvicting(pages, key = "mid",
      entryFilter = Some(col("last_page_id").isNull))
    val q = dau.writeStream
      .foreachBatch(DauStream.idempotentSinkEachBatch(s"$base/dau",
        Seq("mid", "dt")) _)
      .option("checkpointLocation", s"$base/_cp")
      .outputMode("update").start()
    val day1 = 1704100000000L // 2024-01-01 (UTC)
    mem.addData(
      pageLog("m1", "home", null, 0, 0, day1),          // entry → kept
      pageLog("m1", "detail", "home", 0, 0, day1 + 1000), // not entry
      pageLog("m2", "home", null, 2, 1, day1 + 2000),   // entry → kept
      startLog("m9", day1 + 3000),                      // not a page row
      errLog("m8", day1 + 4000))                        // error branch
    q.processAllAvailable()
    mem.addData(pageLog("m1", "home", null, 0, 0, day1 + 60000)) // same-day dup
    q.processAllAvailable(); q.stop()

    val rows = spark.read.parquet(s"$base/dau")
      .select("mid", "dt").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows == Set(("m1", "2024-01-01"), ("m2", "2024-01-01")), s"got $rows")
  }

  test("dedup state is EVICTED once the watermark passes the day (25h)") {
    // the scale claim behind J5: state is one row per (user, day) and a
    // finished day's rows leave the store — without eviction a 100 TB
    // stream accretes state forever
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("user_id", "ts")
    val q = DauStream.firstVisitsEvicting(df).writeStream
      .format("memory").queryName("evict_sink")
      .outputMode("update").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, t("2024-01-01 08:00:00")), (2L, t("2024-01-01 09:00:00")))
    q.processAllAvailable()
    val before = q.lastProgress.stateOperators(0).numRowsTotal
    // jump event time 3 days ahead → watermark (25h delay) passes day 1
    mem.addData((3L, t("2024-01-04 08:00:00")))
    q.processAllAvailable()
    mem.addData((4L, t("2024-01-04 09:00:00"))) // one more batch to purge
    q.processAllAvailable()
    val after = q.lastProgress.stateOperators(0).numRowsTotal
    q.stop()
    assert(before == 2L, s"expected 2 state rows for day 1, got $before")
    assert(after < before + 2,
      s"day-1 state not evicted: before=$before after=$after")
  }

  test("observed metrics surface per-batch row counts (K4 parity)") {
    val mem = MemoryStream[Long]
    val q = mem.toDF().toDF("v")
      .observe("counter", count(lit(1)).as("rows"))
      .writeStream.format("memory").queryName("obs_sink").start()
    mem.addData(1L, 2L, 3L)
    q.processAllAvailable()
    val observed = q.lastProgress.observedMetrics.get("counter")
    q.stop()
    assert(observed != null && observed.getAs[Long]("rows") == 3L)
  }

  test("OrderJoinStream completes joins across batches with 1:N fan-out") {
    val info = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp)]
    val detail = MemoryStream[(Long, Long, Long, Double, Long, java.sql.Timestamp)]
    val infoDf = info.toDF()
      .toDF("order_id", "user_id", "order_status", "total_amount", "ts")
    val detailDf = detail.toDF()
      .toDF("detail_id", "detail_order_id", "sku_id", "order_price", "sku_num", "ts")
    val joined = OrderJoinStream.toWide(OrderJoinStream.join(infoDf, detailDf))
    val q = joined.writeStream.format("memory").queryName("orderwide")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: header arrives first, one detail for another order
    info.addData((100L, 7L, "OK", 50.0, t("2024-01-01 10:00:00")))
    detail.addData((1L, 999L, 5L, 9.99, 1L, t("2024-01-01 10:00:01")))
    q.processAllAvailable()
    val afterB1 = spark.table("orderwide").count()
    // batch 2: two late details for order 100 → both match the cached header
    detail.addData(
      (2L, 100L, 6L, 5.0, 2L, t("2024-01-01 10:05:00")),
      (3L, 100L, 8L, 2.5, 4L, t("2024-01-01 10:06:00")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("orderwide").collect()
    assert(afterB1 == 0, "no match may be emitted before the second side arrives")
    assert(rows.length == 2, "1 header : 2 details fan-out")
    assert(rows.map(_.getLong(1)).toSet == Set(2L, 3L))
    assert(rows.forall(_.getDouble(8) > 0)) // split_total_amount
    assert(rows.forall(_.getString(9) == "2024-01-01"))
  }

  test("streaming sessionization closes sessions across batches on gap") {
    import graft.operators.{SessEvent, Sessionize}
    val mem = MemoryStream[SessEvent]
    val q = Sessionize.sessionsStream(
        Sessionize.withSessionWatermark(mem.toDS()), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      SessEvent(1L, t("2024-01-01 10:00:00")),
      SessEvent(1L, t("2024-01-01 10:10:00")),
      SessEvent(2L, t("2024-01-01 10:05:00")))
    q.processAllAvailable()
    assert(spark.table("sessions").count() == 0) // all sessions still open
    // u1 returns after a >30min gap → gap-closes u1's first session; the
    // advancing watermark (12:00 − 10min) passes u2's timer (10:35) → u2's
    // session closes by EVENT-TIME timeout
    mem.addData(SessEvent(1L, t("2024-01-01 12:00:00")))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sessions").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSet
    assert(rows == Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L),
      (2L, "2024-01-01 10:05:00.0", "2024-01-01 10:05:00.0", 1L)))
  }

  test("DocStream curates a document stream: quality gate + cross-batch dedup") {
    val out = tmpDir("docstream") + "/t"
    val good = "the quick brown fox jumps over the lazy dog again and again"
    val alsoGood = "a completely different story about the sea and the wind"
    val junk = "xyzzy" // 1 token, no stopwords → quality 0.2 < 0.5
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = DocStream.curate(mem.toDF().toDF("doc_id", "text", "ts"))
      .writeStream
      .foreachBatch(DauStream.idempotentSinkEachBatch(out, Seq("fp", "dt")) _)
      .option("checkpointLocation", s"$out/../_cp")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (1L, good, t("2024-01-01 08:00:00")),
      (2L, good + " ", t("2024-01-01 09:00:00")),  // same fp (ws noise) → dup
      (3L, junk, t("2024-01-01 10:00:00")))        // quality-gated
    q.processAllAvailable()
    mem.addData(
      (4L, good, t("2024-01-01 11:00:00")),        // cross-batch dup → dropped
      (5L, alsoGood, t("2024-01-01 12:00:00")))    // new → kept
    q.processAllAvailable(); q.stop()

    val rows = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 5L), s"got $rows")
  }

  test("packStream continues block offsets across batches (= one-shot batch)") {
    // id-ordered arrival over two batches must produce EXACTLY what the
    // batch operator computes over the full corpus in one shot — the
    // per-block running offset lives in keyed state between batches
    val dir = tmpDir("packstream")
    val texts = (0L until 20L).map(i =>
      (i, ("tok " * (5 + (i % 7).toInt)).trim))
    import spark.implicits._
    texts.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val expected = graft.operators.Packing
      .pack(spark, dir, budget = 16, blocks = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

    val mem = MemoryStream[(Long, String)]
    val q = DocStream.packStream(
        mem.toDF().toDF("doc_id", "text"), budget = 16, blocks = 2)
      .writeStream.format("memory").queryName("packstream")
      .outputMode("append")
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    mem.addData(texts.take(10): _*)
    q.processAllAvailable()
    mem.addData(texts.drop(10): _*)
    q.processAllAvailable(); q.stop()

    val got = spark.table("packstream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected,
      s"streaming pack diverged from batch:\n missing=${expected -- got}\n extra=${got -- expected}")
  }

  test("scd2Stream: one version per transition across batches == batch twin") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[Scd2Change]
    val q = CdcRouter.scd2Stream(mem.toDS()).writeStream
      .format("memory").queryName("scd2s").outputMode("append").start()
    val b1 = Seq(
      Scd2Change(1L, t("2024-01-01 00:00:00"), 1L, Some(5L)),
      Scd2Change(1L, t("2024-01-02 00:00:00"), 2L, Some(5L)), // repeat
      Scd2Change(2L, t("2024-01-01 00:00:00"), 3L, None))     // null opens v1
    val b2 = Seq(
      Scd2Change(1L, t("2024-01-03 00:00:00"), 4L, Some(5L)), // repeat ACROSS batch
      Scd2Change(1L, t("2024-01-04 00:00:00"), 5L, Some(7L)), // transition
      Scd2Change(2L, t("2024-01-02 00:00:00"), 6L, Some(3L)), // null → 3
      Scd2Change(2L, t("2024-01-03 00:00:00"), 7L, None))     // 3 → null
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val got = spark.table("scd2s").as[Scd2Version].collect()
      .sortBy(v => (v.key, v.version)).toSeq
    val want = graft.operators.Warehouse.scd2HistoryOn(
        (b1 ++ b2).map(c => (c.key, c.ts, c.seq, c.attr))
          .toDF("key", "ts", "seq", "attr"))
      .select("key", "version", "attr", "valid_from_us")
      .as[Scd2Version].collect().toSeq
    assert(got == want, s"stream $got != batch $want")
    assert(got.map(v => (v.key, v.version)).toSet.size == got.size)
  }

  test("scd2Stream == batch twin on random logs under random batch splits") {
    val rnd = new scala.util.Random(11)
    // global (ts, seq) order, then consecutive batch slices: per-key
    // cross-batch order holds — the CDC delivery contract
    val changes = (0 until 120).map { i =>
      Scd2Change(rnd.nextInt(5).toLong,
        new java.sql.Timestamp(1704067200000L + i * 1000L), i.toLong,
        if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(3).toLong))
    }
    val cuts = (Seq(0, changes.length) ++
      Seq.fill(3)(rnd.nextInt(changes.length))).distinct.sorted
    val mem = MemoryStream[Scd2Change]
    val q = CdcRouter.scd2Stream(mem.toDS()).writeStream
      .format("memory").queryName("scd2r").outputMode("append").start()
    cuts.sliding(2).foreach { case Seq(a, b) =>
      if (b > a) { mem.addData(changes.slice(a, b): _*); q.processAllAvailable() }
    }
    q.stop()
    val got = spark.table("scd2r").as[Scd2Version].collect()
      .sortBy(v => (v.key, v.version)).toSeq
    val want = graft.operators.Warehouse.scd2HistoryOn(
        changes.map(c => (c.key, c.ts, c.seq, c.attr))
          .toDF("key", "ts", "seq", "attr"))
      .select("key", "version", "attr", "valid_from_us")
      .as[Scd2Version].collect().toSeq
    assert(got == want,
      s"stream ${got.length} rows != batch ${want.length} rows")
  }

  test("rateAnomalyStream == the batch verdict formula under random splits") {
    import graft.operators.{EventRates, RateBucket, RateVerdict}
    val rnd = new scala.util.Random(3)
    val hours = (0 until 40).map { i =>
      ("click", new java.sql.Timestamp(1704067200000L + i * 3600000L),
        (8 + rnd.nextInt(5) + (if (i % 13 == 0) 60 else 0)).toLong)
    }
    val (wh, mw, k) = (6, 3, 3)
    val mem = MemoryStream[RateBucket]
    val q = EventRates.rateAnomalyStream(mem.toDS(), wh, mw, k)
      .writeStream.format("memory").queryName("ranom")
      .outputMode("append").start()
    val cuts = (Seq(0, hours.length) ++ Seq.fill(4)(rnd.nextInt(hours.length)))
      .distinct.sorted
    cuts.sliding(2).foreach { case Seq(a, b) =>
      if (b > a) {
        mem.addData(hours.slice(a, b).map(h => RateBucket(h._1, h._2, h._3)): _*)
        q.processAllAvailable()
      }
    }
    q.stop()
    val got = spark.table("ranom").as[RateVerdict].collect()
      .sortBy(_.hour_us).toSeq
    // independent reference: the batch formula over the trailing buckets
    val want = hours.zipWithIndex.map { case ((t, hr, cnt), i) =>
      val hist = hours.slice(math.max(0, i - wh), i).map(_._3)
      val n = hist.size.toLong
      val verdict = if (n < mw) None else {
        val s = hist.sum; val qq = hist.map(c => c * c).sum
        Some(if ((n * cnt - s) * (n * cnt - s) > k.toLong * k * (n * qq - s * s)) 1 else 0)
      }
      RateVerdict(t, hr.getTime * 1000L, cnt, n, verdict)
    }
    assert(got == want)
    assert(got.count(_.is_anomaly.contains(1)) >= 2, "expected spikes flagged")
  }

  test("scd2Stream: cross-batch late changes drop with metric, history intact") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val drops = spark.sparkContext.longAccumulator("scd2_late_drops")
    val mem = MemoryStream[Scd2Change]
    val q = CdcRouter.scd2Stream(mem.toDS(), Some(drops)).writeStream
      .format("memory").queryName("scd2late").outputMode("append").start()
    val b1 = Seq( // within-batch disorder is fine: the fold sorts
      Scd2Change(1L, t("2024-01-03 00:00:00"), 5L, Some(7L)),
      Scd2Change(1L, t("2024-01-01 00:00:00"), 1L, Some(5L)))
    val b2 = Seq(
      Scd2Change(1L, t("2024-01-02 00:00:00"), 3L, Some(9L)), // LATE: below (01-03, 5)
      Scd2Change(1L, t("2024-01-03 00:00:00"), 5L, Some(7L)), // duplicate replay of newest
      Scd2Change(1L, t("2024-01-04 00:00:00"), 6L, Some(8L))) // in-order transition
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val got = spark.table("scd2late").as[Scd2Version].collect()
      .sortBy(_.version).toSeq
    // the late Some(9) must NOT appear anywhere; versions stay dense
    assert(got.map(v => (v.version, v.attr)) ==
      Seq((1L, Some(5L)), (2L, Some(7L)), (3L, Some(8L))), got.toString)
    assert(drops.value == 2L, s"expected 2 late drops, got ${drops.value}")
  }

  test("scd2Stream: a repeat advances the watermark (older change after it is late)") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val drops = spark.sparkContext.longAccumulator("scd2_late_drops2")
    val mem = MemoryStream[Scd2Change]
    val q = CdcRouter.scd2Stream(mem.toDS(), Some(drops)).writeStream
      .format("memory").queryName("scd2late2").outputMode("append").start()
    mem.addData(
      Scd2Change(9L, t("2024-01-01 00:00:00"), 1L, Some(5L)),
      Scd2Change(9L, t("2024-01-05 00:00:00"), 2L, Some(5L))) // repeat, no emission
    q.processAllAvailable()
    mem.addData( // older than the REPEAT (not than the emitted version):
      Scd2Change(9L, t("2024-01-03 00:00:00"), 3L, Some(6L))) // still late
    q.processAllAvailable(); q.stop()
    val got = spark.table("scd2late2").as[Scd2Version].collect().toSeq
    assert(got.map(v => (v.version, v.attr)) == Seq((1L, Some(5L))))
    assert(drops.value == 1L)
  }

  test("rateAnomalyStream: stale and duplicate-hour buckets drop with metric") {
    import graft.operators.{EventRates, RateBucket, RateVerdict}
    val drops = spark.sparkContext.longAccumulator("rate_late_drops")
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 3600000L)
    val mem = MemoryStream[RateBucket]
    val q = EventRates.rateAnomalyStream(mem.toDS(), 6, 3, 3, Some(drops))
      .writeStream.format("memory").queryName("ranomlate")
      .outputMode("append").start()
    mem.addData(RateBucket("c", ts(0), 5L), RateBucket("c", ts(1), 6L))
    q.processAllAvailable()
    mem.addData(
      RateBucket("c", ts(1), 9L), // duplicate hour across batches → drop
      RateBucket("c", ts(0), 9L), // stale hour → drop
      RateBucket("c", ts(2), 7L)) // in-order → folds
    q.processAllAvailable(); q.stop()
    val got = spark.table("ranomlate").as[RateVerdict].collect()
      .sortBy(_.hour_us).toSeq
    assert(got.map(_.cnt) == Seq(5L, 6L, 7L), got.toString)
    assert(drops.value == 2L, s"expected 2 late drops, got ${drops.value}")
  }

  test("rateAnomalyStreamDense == batch dense grid on the arrived domain") {
    import graft.operators.{EventRates, RateBucket, RateVerdict}
    val rnd = new scala.util.Random(7)
    val base = 1704067200000L
    // two types with random silent hours (the gaps are the point)
    val buckets =
      (0 until 40).filter(_ => rnd.nextInt(3) > 0)
        .map(i => ("a", i, (5 + rnd.nextInt(4)).toLong)) ++
      (0 until 40).filter(_ => rnd.nextInt(4) > 0)
        .map(i => ("b", i, (50 + rnd.nextInt(10)).toLong))
    val all = buckets.sortBy(b => (b._2, b._1))
    val (wh, mw, k) = (6, 3, 3)
    val mem = MemoryStream[RateBucket]
    val q = EventRates.rateAnomalyStreamDense(mem.toDS(), wh, mw, k)
      .writeStream.format("memory").queryName("rdense")
      .outputMode("append").start()
    val cuts = (Seq(0, all.length) ++ Seq.fill(4)(rnd.nextInt(all.length)))
      .distinct.sorted
    cuts.sliding(2).foreach { case Seq(a, b) =>
      if (b > a) {
        mem.addData(all.slice(a, b).map { case (t, i, c) =>
          RateBucket(t, new java.sql.Timestamp(base + i * 3600000L), c) }: _*)
        q.processAllAvailable()
      }
    }
    q.stop()
    val got = spark.table("rdense").as[RateVerdict].collect()
      .map(v => (v.event_type, v.hour_us, v.cnt, v.n_window, v.is_anomaly))
      .toSet
    // batch dense twin over the same mass, expanded back to raw events
    val events = all.flatMap { case (t, i, c) =>
      (0 until c.toInt).map(j =>
        (new java.sql.Timestamp(base + i * 3600000L + j * 1000L), t))
    }.toDF("ts", "event_type")
    val maxArrived = all.groupBy(_._1).view
      .mapValues(bs => (base + bs.map(_._2).max * 3600000L) * 1000L).toMap
    val batch = EventRates.rateAnomaliesDenseOn(events, wh, mw, k)
      .collect().map { r =>
        val hourUs = java.sql.Timestamp.valueOf(r.getString(1))
          .getTime * 1000L
        (r.getString(0), hourUs, r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Int]))
      }
      // the stream cannot emit a type's TRAILING silence (needs timers);
      // everything up to each type's newest arrived bucket must match
      .filter { case (t, h, _, _, _) => h <= maxArrived(t) }.toSet
    assert(got == batch,
      s"stream-only=${got -- batch}\nbatch-only=${batch -- got}")
    assert(got.exists(v => v._3 == 0L && v._5.contains(1)),
      "expected at least one zero-hour collapse flag in the domain")
  }

  test("rate streams: a far-future corrupt bucket drops on gapDrops, stream continues") {
    import graft.operators.{EventRates, RateBucket, RateVerdict}
    def ts(i: Int) = new java.sql.Timestamp(1704067200000L + i * 3600000L)
    val gaps = spark.sparkContext.longAccumulator("rate_gap_drops")
    val mem = MemoryStream[RateBucket]
    // maxGapHours=100: hour 5000 jumps 4998 past hour 2 → corrupt
    val q = EventRates.rateAnomalyStreamDense(mem.toDS(), 6, 3, 3,
        None, maxGapHours = 100, gapDrops = Some(gaps))
      .writeStream.format("memory").queryName("rgap")
      .outputMode("append").start()
    mem.addData(RateBucket("c", ts(0), 5L), RateBucket("c", ts(1), 6L),
      RateBucket("c", ts(2), 5L))
    q.processAllAvailable()
    mem.addData(RateBucket("c", ts(5000), 9L)) // corrupt far-future
    q.processAllAvailable()
    mem.addData(RateBucket("c", ts(3), 7L)) // genuine — must still fold
    q.processAllAvailable(); q.stop()
    val got = spark.table("rgap").as[RateVerdict].collect()
      .sortBy(_.hour_us).toSeq
    // no zero-fill blowup, no poisoned high-watermark: 4 genuine rows
    assert(got.map(_.cnt) == Seq(5L, 6L, 5L, 7L), got.toString)
    assert(gaps.value == 1L, s"expected 1 gap drop, got ${gaps.value}")
  }

  test("rateAnomalyStreamDense trailingSilence: a dark type matches the batch grid via timers") {
    import graft.operators.{EventRates, RateBucket, RateVerdict}
    val base = 1704067200000L
    def ts(i: Int) = new java.sql.Timestamp(base + i * 3600000L)
    // type b sends hours 0..9 then goes DARK; type a continues to 30.
    // With trailingSilence the global watermark (driven by a) fires
    // b's event-time timer and folds its silent hours as zeros — the
    // batch grid's trailing-zero collapse rows, live.
    val aCnt = (0 to 30).map(i => (i, (5 + i % 4).toLong))
    val bCnt = (0 to 9).map(i => (i, (50 + i % 7).toLong))
    val (wh, mw, k) = (6, 3, 3)
    val mem = MemoryStream[RateBucket]
    val q = EventRates.rateAnomalyStreamDense(mem.toDS(), wh, mw, k,
        trailingSilence = true)
      .writeStream.format("memory").queryName("rdark")
      .outputMode("append").start()
    // feed in hour order (watermark lateness-filters regressions)
    val feed = (aCnt.map { case (i, c) => ("a", i, c) } ++
      bCnt.map { case (i, c) => ("b", i, c) }).sortBy(_._2)
    feed.grouped(8).foreach { chunk =>
      mem.addData(chunk.map { case (t, i, c) => RateBucket(t, ts(i), c) }: _*)
      q.processAllAvailable()
    }
    // timers fire strictly BELOW the watermark, so the grid's last hour
    // needs the watermark pushed past it: one real bucket at hour 32
    // advances the watermark, and a duplicate of it (dropped by the
    // fold, no emission) runs one more batch AT that watermark — which
    // deterministically fires the dark type's timer through hour 32.
    val nudge = RateBucket("a", ts(32), 9L)
    mem.addData(nudge); q.processAllAvailable()
    mem.addData(nudge); q.processAllAvailable()
    q.stop()
    val got = spark.table("rdark").as[RateVerdict].collect()
      .map(v => (v.event_type, v.hour_us, v.cnt, v.n_window, v.is_anomaly))
      .toSet
    // full batch dense grid over the same mass — including b's
    // trailing zeros through the global max hour 30
    // (a, 31) is absent on both sides: the nudge skipped it, so the
    // stream densifies it as a zero and the grid generates it as one
    val events = (aCnt.map { case (i, c) => ("a", i, c) } ++
      Seq(("a", 32, 9L)) ++
      bCnt.map { case (i, c) => ("b", i, c) }).flatMap { case (t, i, c) =>
      (0 until c.toInt).map(j =>
        (new java.sql.Timestamp(base + i * 3600000L + j * 1000L), t))
    }.toDF("ts", "event_type")
    val batch = EventRates.rateAnomaliesDenseOn(events, wh, mw, k)
      .collect().map { r =>
        val hourUs = java.sql.Timestamp.valueOf(r.getString(1))
          .getTime * 1000L
        (r.getString(0), hourUs, r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Int]))
      }.toSet
    assert(got == batch,
      s"stream-only=${got -- batch}\nbatch-only=${batch -- got}")
    // the point of the feature: b's collapse (cnt=0 anomaly) is LIVE
    assert(got.exists(v => v._1 == "b" && v._3 == 0L && v._5.contains(1)),
      "expected the dark type's zero hours flagged")
  }

  test("rateAnomalyStreamDense trailingSilence: the watermark-boundary " +
      "hour folds as zero because Spark drops a bucket exactly AT the " +
      "watermark as late (the documented parity contract)") {
    import graft.operators.{EventRates, RateBucket, RateVerdict}
    val base = 1704067200000L
    def ts(i: Int) = new java.sql.Timestamp(base + i * 3600000L)
    val mem = MemoryStream[RateBucket]
    val q = EventRates.rateAnomalyStreamDense(mem.toDS(), 6, 3, 3,
        trailingSilence = true)
      .writeStream.format("memory").queryName("rboundary")
      .outputMode("append").start()
    // batch 1: b alive through hour 2, a through hour 5 → the
    // watermark lands EXACTLY on the hour-5 boundary (0s delay,
    // hour-aligned buckets)
    mem.addData((0 to 5).map(i => RateBucket("a", ts(i), 5L)) ++
      (0 to 2).map(i => RateBucket("b", ts(i), 40L)): _*)
    q.processAllAvailable()
    // batch 2: a duplicate 'a' bucket (dropped by the fold, emits
    // nothing, leaves the watermark at hour 5) runs the batch that
    // fires b's timer with wm == hour 5 → zeros fold through hour 5
    // INCLUSIVE, because Spark's stateful late filter is
    // `eventTime <= watermark`: an hour-5 bucket can never arrive
    mem.addData(RateBucket("a", ts(5), 5L)); q.processAllAvailable()
    // batch 3: b resumes with a bucket exactly at the watermark —
    // Spark (not the fold) drops it as late; the zero row stands and
    // no duplicate hour-5 row appears. A bucket strictly above the
    // watermark in the same batch folds with its real count.
    mem.addData(RateBucket("b", ts(5), 999L), RateBucket("b", ts(6), 41L))
    q.processAllAvailable()
    q.stop()
    def h(i: Int) = (base + i * 3600000L) * 1000L
    val b = spark.table("rboundary").as[RateVerdict].collect()
      .filter(_.event_type == "b").map(v => (v.hour_us, v.cnt)).sorted
    assert(b.toSeq == Seq(h(0) -> 40L, h(1) -> 40L, h(2) -> 40L,
      h(3) -> 0L, h(4) -> 0L, h(5) -> 0L, h(6) -> 41L),
      s"boundary contract broken: ${b.toSeq}")
  }

  test("CdcRouter typed payload parse binds a fact table's bean") {
    import org.apache.spark.sql.types._
    implicit val enc: org.apache.spark.sql.Encoder[OrderInfoCdc] =
      org.apache.spark.sql.Encoders.product[OrderInfoCdc]
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("order_status", StringType),
      StructField("total_amount", DoubleType)))
    val raw = Seq(
      """{"database":"gmall","table":"order_info","type":"insert","ts":1,"data":"{\"id\": 7, \"order_status\": \"1001\", \"total_amount\": 99.5}"}""",
      """{"database":"gmall","table":"other","type":"insert","ts":2,"data":"{\"id\": 8}"}""")
      .toDF("value")
    val typed = CdcRouter.parseTable[OrderInfoCdc](
      CdcRouter.normalizeOps(CdcRouter.parse(raw)), "order_info", schema)
      .collect()
    assert(typed.toSeq == Seq(OrderInfoCdc(7L, "1001", 99.5)))
  }

  test("full dwd_OrderApp composition: stream join + dim enrichment + sink") {
    val out = tmpDir("orderwide_e2e")
    val dims = Seq((7L, "east")).toDF("user_id", "zone")
    val info = MemoryStream[(Long, Long, String, Double, java.sql.Timestamp)]
    val detail = MemoryStream[(Long, Long, Long, Double, Long, java.sql.Timestamp)]
    val wide = OrderJoinStream.toWide(OrderJoinStream.join(
      info.toDF().toDF("order_id", "user_id", "order_status", "total_amount", "ts"),
      detail.toDF().toDF("detail_id", "detail_order_id", "sku_id",
        "order_price", "sku_num", "ts")))
    val enriched = wide.join(broadcast(dims), Seq("user_id"), "left")
    val q = enriched.writeStream
      .foreachBatch(DauStream.idempotentSinkEachBatch(s"$out/t",
        Seq("order_id", "detail_id")) _)
      .option("checkpointLocation", s"$out/_cp")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    info.addData((100L, 7L, "OK", 50.0, t("2024-01-01 10:00:00")))
    q.processAllAvailable()
    detail.addData((2L, 100L, 6L, 5.0, 2L, t("2024-01-01 10:05:00")))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(s"$out/t")
      .select("order_id", "detail_id", "zone", "split_total_amount").collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 100L && rows(0).getLong(1) == 2L)
    assert(rows(0).getString(2) == "east" && rows(0).getDouble(3) == 10.0)
  }

  test("facts enriched per-epoch see CDC dim updates applied between epochs") {
    // the reference's Redis-GET dim lookup always read CURRENT dim state;
    // the parquet equivalent is a fresh readDim inside foreachBatch
    val dim = tmpDir("dimfresh"); val outDir = tmpDir("dimfresh_out") + "/t"
    val config = Seq(("user_info", "DIM")).toDF("table_name", "route")
    def env(tpe: String, id: Long, name: String, ts: Long) =
      s"""{"database":"g","table":"user_info","type":"$tpe","ts":$ts,"data":"{\\"id\\": $id, \\"name\\": \\"$name\\"}"}"""
    def applyCdc(rows: String*): Unit =
      CdcRouter.routeEachBatch(tmpDir("dimfresh_f"), dim, config)(
        rows.toDF("value"), 0L)

    applyCdc(env("insert", 10, "alice", 1))
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("event_id", "user_id", "ts").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epoch: Long) =>
        val d = CdcRouter.readDim(spark, dim, "user_info")
          .select(get_json_object(col("data"), "$.id").cast("long").as("user_id"),
            get_json_object(col("data"), "$.name").as("name"))
        batch.join(broadcast(d), Seq("user_id"), "left")
          .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
          .write.mode("append").partitionBy("dt").parquet(outDir): Unit
      }
      .option("checkpointLocation", s"$outDir/../_cp")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, 10L, t("2024-01-01 08:00:00")))
    q.processAllAvailable()
    // dim updated BETWEEN epochs — the swap replaces the partition files
    applyCdc(env("update", 10, "alice2", 2))
    mem.addData((2L, 10L, t("2024-01-01 09:00:00")))
    q.processAllAvailable(); q.stop()

    val byEvent = spark.read.parquet(outDir)
      .select("event_id", "name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byEvent == Map(1L -> "alice", 2L -> "alice2"), s"got $byEvent")
  }

  test("CdcRouter normalizes ops, routes facts per-topic, upserts dims last-wins") {
    val fact = tmpDir("cdc_fact"); val dim = tmpDir("cdc_dim")
    val config = Seq(("order_info", "FACT"), ("user_info", "DIM"))
      .toDF("table_name", "route")
    def env(table: String, tpe: String, id: Long, payload: String, ts: Long) =
      s"""{"database":"gmall","table":"$table","type":"$tpe","ts":$ts,"data":"{\\"id\\": $id, \\"v\\": \\"$payload\\"}"}"""
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("value").writeStream
      .foreachBatch(CdcRouter.routeEachBatch(fact, dim, config) _)
      .option("checkpointLocation", s"$fact/_cp")
      .start()
    mem.addData(
      env("order_info", "insert", 1, "a", 1000),
      env("order_info", "bootstrap-insert", 2, "b", 1001),
      env("order_info", "update", 1, "c", 1002),
      env("order_info", "maxwell-weirdness", 3, "x", 1003), // dropped (T6)
      env("user_info", "insert", 10, "alice", 1004),
      env("unknown_table", "insert", 9, "z", 1005))         // dropped (T7)
    q.processAllAvailable()
    // second batch: dim update for the same id → last-wins upsert
    mem.addData(env("user_info", "update", 10, "alice2", 2000))
    q.processAllAvailable(); q.stop()

    assert(spark.read.parquet(s"$fact/DWD_ORDER_INFO_INSERT").count() == 2)
    assert(spark.read.parquet(s"$fact/DWD_ORDER_INFO_UPDATE").count() == 1)
    assert(!new java.io.File(s"$fact/DWD_UNKNOWN_TABLE_INSERT").exists())
    val dimRows = spark.read.parquet(s"$dim/user_info").collect()
    assert(dimRows.length == 1)
    assert(dimRows(0).getAs[String]("data").contains("alice2"))
  }

  test("CdcRouter collapses insert+update for one id WITHIN a batch") {
    // one epoch carrying the full lifecycle of a dim row must land as
    // ONE row holding the op with the highest CDC ts — like consecutive
    // Redis SETs, not two parquet rows fanning out every enrichment join
    val fact = tmpDir("cdc_wb_fact"); val dim = tmpDir("cdc_wb_dim")
    val config = Seq(("user_info", "DIM")).toDF("table_name", "route")
    def env(tpe: String, id: Long, payload: String, ts: Long) =
      s"""{"database":"gmall","table":"user_info","type":"$tpe","ts":$ts,"data":"{\\"id\\": $id, \\"v\\": \\"$payload\\"}"}"""
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("value").writeStream
      .foreachBatch(CdcRouter.routeEachBatch(fact, dim, config) _)
      .option("checkpointLocation", s"$fact/_cp")
      .start()
    mem.addData(
      env("insert", 7, "v1", 1000),
      env("update", 7, "v2", 1001),
      env("insert", 8, "w1", 1000))
    q.processAllAvailable(); q.stop()
    val rows = spark.read.parquet(s"$dim/user_info").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("data")).toMap
    assert(rows.size == 2, s"within-batch duplicate survived: $rows")
    assert(rows("7").contains("v2") && rows("8").contains("w1"))
  }

  test("PartitionedUpsert round-trips a NULL partition value as SQL null") {
    val out = tmpDir("nullpart") + "/t"
    val batch = Seq((Option("2024-01-01"), 1L, "a"), (None, 2L, "b"))
      .toDF("dt", "k", "v")
    PartitionedUpsert.upsert(batch, out, "dt", Seq("k"))
    val back = spark.read.parquet(out)
    // the null-dt row must come back with dt IS NULL, not dt = 'null'
    assert(back.where(col("dt").isNull).count() == 1)
    assert(back.where(col("dt") === "null").count() == 0)
    // and a replay still merges it (null-safe keys + stable dir name)
    PartitionedUpsert.upsert(batch, out, "dt", Seq("k"))
    assert(spark.read.parquet(out).count() == 2)
  }

  test("cdc dedup sink: repeated passages drop across batches, " +
      "replay-safe, sketch-loss-safe") {
    import graft.functions.TextFunctions.md5LongScala
    val P = graft.operators.Dedup.CdcModulus
    val bt = (0 to 2000).map(i => s"t$i")
      .find(t => md5LongScala(t) % P == 0).get
    val Seq(a, b, c, d, x, y, q1, r1) = (0 to 4000).map(i => s"p$i")
      .filter(t => md5LongScala(t) % P != 0).take(8)
    val out = tmpDir("cdcsink")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(DocStream.cdcDedupSinkEachBatch(out) _)
      .option("checkpointLocation", tmpDir("cdcsink-ck")).start()
    // batch 1: doc2's trailing [c d] segment repeats doc1's — the
    // PASSAGE drops while the novel head of doc2 publishes
    mem.addData(
      (1L, s"$a $b $bt $c $d"),  // [a b bt], [c d] — all fresh
      (2L, s"$x $y $bt $c $d"))  // [x y bt] fresh, [c d] intra-dup
    q.processAllAvailable()
    // batch 2: corpus-seen head segment, a DIFFERENT segmentation of
    // seen tokens (one fresh segment), and an all-seen doc that vanishes
    mem.addData(
      (3L, s"$a $b $bt"),         // [a b bt] corpus-seen → empty → gone
      (4L, s"$c $d $x $y"),       // ONE segment [c d x y] — fresh, kept
      (5L, s"$q1 $r1 $bt $c $d")) // [q1 r1 bt] fresh, [c d] corpus-seen
    q.processAllAvailable(); q.stop()
    def corpus() = spark.read.parquet(out)
      .select("doc_id", "text", "n_dropped").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = Set(
      (1L, s"$a $b $bt $c $d", 0L),
      (2L, s"$x $y $bt", 1L),
      (4L, s"$c $d $x $y", 0L),
      (5L, s"$q1 $r1 $bt", 1L))
    assert(corpus() == want, s"got ${corpus()}")
    // replay batch 2 under a new epoch id: every surviving passage is
    // already corpus, so nothing duplicates
    val replay = Seq((3L, s"$a $b $bt"), (4L, s"$c $d $x $y"),
      (5L, s"$q1 $r1 $bt $c $d")).toDF("doc_id", "text")
    DocStream.cdcDedupSinkEachBatch(out)(replay, 99L)
    assert(corpus() == want, s"replay duplicated passages: ${corpus()}")
    // sketch loss: rebuild from the corpus text, answers unchanged
    val bloomFile = new java.io.File(out, "_segbloom.bf")
    assert(bloomFile.exists(), "rolling segment sketch not persisted")
    assert(bloomFile.delete())
    DocStream.cdcDedupSinkEachBatch(out)(
      Seq((6L, s"$c $d"), (7L, "fresh words entirely"))
        .toDF("doc_id", "text"), 100L)
    assert(corpus() == want + ((7L, "fresh words entirely", 0L)),
      s"post-rebuild answers changed: ${corpus()}")
    assert(bloomFile.exists(), "sketch not re-published after rebuild")
  }
}

/** Top-level so Encoders.product can derive a TypeTag. */
case class OrderInfoCdc(id: Long, order_status: String, total_amount: Double)
