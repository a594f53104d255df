package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{BasketEvent, BasketStream, GraphEvent, GraphStream}

/** The streaming twins' own scale gate (run once per round at sf1):
  * drive GraphStream and BasketStream over the FULL sf-scale event
  * stream chunked into ~20 micro-batch epochs with compaction enabled,
  * then pin each snapshot row-equal to its batch operator (q104
  * PageRank / q132 basket lift) over the same events — the fixture
  * specs' parity contract exercised at 10⁶ events instead of 10².
  *
  *   sbt "runMain graft.TwinScaleGate /tmp/sf1 20 5"
  *
  * Prints one summary line per twin: epochs processed, epoch-partition
  * directory counts with compaction (vs. the one-dir-per-epoch growth
  * without), and MATCH/MISMATCH against the batch operator. Results
  * are recorded in SCALING.md. */
object TwinScaleGate {

  private val AllSections =
    Set("graph", "basket", "sketch", "interval", "bloom", "cluster")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val nChunks = if (args.length > 1) args(1).toInt else 20
    val compactEvery = if (args.length > 2) args(2).toInt else 5
    // optional 4th arg: run only these sections (e.g. "cluster" for the
    // sf10 spot gate, where the full multi-twin sweep is priced out)
    val sections =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet
      else AllSections
    val unknown = sections -- AllSections
    require(unknown.isEmpty, s"unknown twin sections: $unknown")
    val spark = GraftSession
      .builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")).getOrCreate()
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, get_json_object}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def partDirs(dir: String): Int =
      graft.streaming.EpochStore(spark, dir).epochs().size

    // ---- GraphStream vs batch q104 --------------------------------
    // per-user event-time-monotone arrival across batches is the
    // twin's parity contract: chunk the stream in global (ts,
    // event_id) order
    if (sections("graph")) {
    val graphEvents = GraphStream
      .projectEvents(Tables.events(spark, sfDir))
      .orderBy("ts", "event_id").collect().toSeq
    val chunk = math.max(1, (graphEvents.size + nChunks - 1) / nChunks)
    val gOut = java.nio.file.Files
      .createTempDirectory("twin_scale_graph").toString
    val gMem = MemoryStream[GraphEvent]
    val gq = GraphStream.transitionStream(gMem.toDS())
      .writeStream
      .foreachBatch(GraphStream.edgeSinkEachBatch(gOut, compactEvery) _)
      .outputMode("append").start()
    var gEpochs = 0
    val t0 = System.nanoTime()
    graphEvents.grouped(chunk).foreach { c =>
      gMem.addData(c: _*); gq.processAllAvailable(); gEpochs += 1
    }
    gq.stop()
    val gStreamSecs = (System.nanoTime() - t0) / 1e9
    val gotRank = GraphStream.rankSnapshot(spark, gOut)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val wantRank = operators.GraphRank.pageRank(spark, sfDir)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    println(s"[twin-scale] graph: events=${graphEvents.size} " +
      s"epochs=$gEpochs streamSecs=${f"$gStreamSecs%.1f"} " +
      s"edgeDirs=${partDirs(s"$gOut/edges")} " +
      s"nodeDirs=${partDirs(s"$gOut/nodes")} (uncompacted would be " +
      s"$gEpochs each) rank=${if (gotRank == wantRank) "MATCH"
        else "MISMATCH"} nodes=${wantRank.size}")
    require(gotRank == wantRank, "graph twin diverged from batch q104")
    }

    // ---- BasketStream vs batch q132 -------------------------------
    if (sections("basket")) {
    val basketEvents = Tables.events(spark, sfDir)
      .select(org.apache.spark.sql.functions.col("user_id"),
        org.apache.spark.sql.functions
          .get_json_object(org.apache.spark.sql.functions.col("props"),
            "$.k").cast("long").as("k"))
      .where("k is not null")
      .as[BasketEvent].collect().toSeq
    val bChunk = math.max(1, (basketEvents.size + nChunks - 1) / nChunks)
    val bOut = java.nio.file.Files
      .createTempDirectory("twin_scale_basket").toString
    val bMem = MemoryStream[BasketEvent]
    val bq = bMem.toDS()
      .transform(BasketStream.basketDeltaStream(_))
      .writeStream
      .foreachBatch(BasketStream.basketSinkEachBatch(bOut, compactEvery) _)
      .outputMode("append").start()
    var bEpochs = 0
    val t1 = System.nanoTime()
    basketEvents.grouped(bChunk).foreach { c =>
      bMem.addData(c: _*); bq.processAllAvailable(); bEpochs += 1
    }
    bq.stop()
    val bStreamSecs = (System.nanoTime() - t1) / 1e9
    val gotLift = BasketStream.liftSnapshot(spark, bOut)
      .collect().map(_.toSeq).toSeq
    val wantLift = operators.Sessionize.basketLift(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    println(s"[twin-scale] basket: events=${basketEvents.size} " +
      s"epochs=$bEpochs streamSecs=${f"$bStreamSecs%.1f"} " +
      s"pairDirs=${partDirs(s"$bOut/pairs")} (uncompacted would be " +
      s"$bEpochs) lift=${if (gotLift == wantLift) "MATCH"
        else "MISMATCH"} rows=${wantLift.size}")
    require(gotLift == wantLift, "basket twin diverged from batch q132")
    }

    // ---- sketch sinks vs batch q137 / q142 / q139 -------------------
    // (round-14 twins: persisted register/count tables, compacted,
    // served without rescanning events)
    if (sections("sketch")) {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("user_id"), col("value"),
        get_json_object(col("props"), "$.k").cast("long").as("item"),
        org.apache.spark.sql.functions
          .unix_micros(col("ts").cast("timestamp")).as("tsu"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    val sChunk = math.max(1, (ev.size + nChunks - 1) / nChunks)
    val sOut = java.nio.file.Files
      .createTempDirectory("twin_scale_sketch").toString
    val sMem = MemoryStream[(String, Long, Double, Long, Long)]
    val sq = sMem.toDF()
      .toDF("event_type", "user_id", "value", "item", "tsu")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(col("tsu")))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        streaming.SketchStream.hllSinkEachBatch(sOut, compactEvery)(b, id)
        streaming.SketchStream.histSinkEachBatch(sOut, compactEvery)(b, id)
        streaming.SketchStream.heavyHitterSinkEachBatch(sOut,
          compactEvery = compactEvery)(b.where("item >= 0"), id)
        streaming.SketchStream.kmvSinkEachBatch(sOut,
          compactEvery = compactEvery)(b, id)
        streaming.SketchStream.hllDailySinkEachBatch(sOut,
          compactEvery)(b, id)
        streaming.SketchStream.kmvDailySinkEachBatch(sOut,
          compactEvery = compactEvery)(b, id)
      }
      .outputMode("append").start()
    var sEpochs = 0
    val t2 = System.nanoTime()
    ev.grouped(sChunk).foreach { c =>
      sMem.addData(c: _*); sq.processAllAvailable(); sEpochs += 1
    }
    sq.stop()
    val sStreamSecs = (System.nanoTime() - t2) / 1e9
    def pin(tag: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): String = {
      require(got == want && got.nonEmpty, s"$tag twin diverged from batch")
      "MATCH"
    }
    val evDf = Tables.events(spark, sfDir)
    val hllGot = streaming.SketchStream.hllTableEstimates(spark, sOut)
      .collect().map(_.toSeq).toSeq
    val hllWant = operators.Sketches.hllEstimate(
      operators.Sketches.hllRegisters(
        evDf.select(col("event_type"),
          col("user_id").cast("string").as("uid")),
        Seq("event_type"), col("uid")), Seq("event_type"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    val histGot = streaming.SketchStream.quantileSnapshot(spark, sOut)
      .collect().map(_.toSeq).toSeq
    val histWant = operators.Sketches.histQuantilesOn(
        evDf.select(col("event_type"), col("value")))
      .select(col("event_type"), col("p50_est_micros"),
        col("p95_est_micros"), col("p99_est_micros"))
      .collect().map(_.toSeq).toSeq
    Caches.releaseAll()
    val hhGot = streaming.SketchStream.heavyHitterSnapshot(spark, sOut)
      .collect().map(_.toSeq).toSeq
    val hhWant = operators.Sketches.heavyHitters(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    Caches.releaseAll()
    val kmvGot = streaming.SketchStream.kmvTableEstimates(spark, sOut)
      .collect().map(_.toSeq).toSeq
    val kmvWant = operators.Sketches.kmvEstimate(
      operators.Sketches.kmvRegisters(
        evDf.select(col("event_type"),
          col("user_id").cast("string").as("uid")),
        "event_type", col("uid")), Seq("event_type"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    Caches.releaseAll()
    // the day-grain warehouse: an arbitrary range served from stored
    // registers, pinned to the batch range query (q152)
    val (rFrom, rTo) = (operators.Sketches.DefaultRangeFrom,
      operators.Sketches.DefaultRangeTo)
    val rangeGot = streaming.SketchStream
      .hllRangeEstimates(spark, sOut, rFrom, rTo)
      .collect().map(_.toSeq).toSeq
    val rangeWant = operators.Sketches
      .hllUsersRangeOn(evDf, rFrom, rTo)
      .select(col("event_type"), col("est_distinct"))
      .orderBy("event_type").collect().map(_.toSeq).toSeq
    Caches.releaseAll()
    // the day-grain KMV warehouse: range INTERSECTION served from
    // stored minima, pinned to the batch range query (q156)
    val kRangeGot = streaming.SketchStream
      .kmvTableRangeOverlap(spark, sOut, rFrom, rTo)
      .collect().map(_.toSeq).toSeq
    val kRangeWant = operators.Sketches
      .kmvOverlapRangeOn(evDf, rFrom, rTo)
      .select(col("type_a"), col("type_b"), col("union_est"),
        col("overlap_est"), col("jaccard_ppm"))
      .orderBy("type_a", "type_b").collect().map(_.toSeq).toSeq
    Caches.releaseAll()
    println(s"[twin-scale] sketch: events=${ev.size} epochs=$sEpochs " +
      s"streamSecs=${f"$sStreamSecs%.1f"} " +
      s"hllDirs=${partDirs(s"$sOut/hllregs")} " +
      s"histDirs=${partDirs(s"$sOut/hist")} " +
      s"hhDirs=${partDirs(s"$sOut/hhcounts")} " +
      s"kmvDirs=${partDirs(s"$sOut/kmvregs")} " +
      s"dailyDirs=${partDirs(s"$sOut/hllregsdaily")} (uncompacted " +
      s"would be $sEpochs each) hll=${pin("hll", hllGot, hllWant)} " +
      s"hist=${pin("hist", histGot, histWant)} " +
      s"heavyHitters=${pin("hh", hhGot, hhWant)} " +
      s"kmv=${pin("kmv", kmvGot, kmvWant)} " +
      s"hllRange=${pin("hllRange", rangeGot, rangeWant)} " +
      s"kmvRangeOverlap=${pin("kmvRangeOverlap", kRangeGot, kRangeWant)} " +
      s"(${hllWant.size}/${histWant.size}/${hhWant.size}/" +
      s"${kmvWant.size}/${rangeWant.size}/${kRangeWant.size} rows)")
    }

    // ---- interval-join stream vs batch q141 -------------------------
    if (sections("interval")) {
    val ow = operators.IntervalJoin.orderWindows(spark, sfDir)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    Caches.releaseAll()
    // the declared length bound: derive from the data and print it —
    // the twin's horizon contract made explicit
    val maxLen = ow.map(w => w._4 - w._3).max
    val iMem = MemoryStream[(Long, Long, Long, Long)]
    val iq = streaming.IntervalJoinStream.concurrentOrdersStream(
      iMem.toDF().toDF("o_orderkey", "o_custkey", "lo", "hi")
        .select(col("o_custkey"), col("o_orderkey").as("orderkey"),
          col("lo"), col("hi")),
      maxLenDays = maxLen, latenessDays = 100000L)
      .writeStream.format("memory").queryName("twin_ivjoin")
      .outputMode("append").start()
    val iChunk = math.max(1, (ow.size + nChunks - 1) / nChunks)
    var iEpochs = 0
    val t3 = System.nanoTime()
    ow.grouped(iChunk).foreach { c =>
      iMem.addData(c: _*); iq.processAllAvailable(); iEpochs += 1
    }
    iq.stop()
    val iStreamSecs = (System.nanoTime() - t3) / 1e9
    // distributed multiset compare (sf1 is millions of pairs — no
    // driver-side sort): equal counts + empty symmetric exceptAll
    val ivGot = spark.table("twin_ivjoin")
    val ivWant = operators.IntervalJoin.concurrentOrders(spark, sfDir)
    val (nGot, nWant) = (ivGot.count(), ivWant.count())
    val diff = ivGot.exceptAll(ivWant).count() +
      ivWant.exceptAll(ivGot).count()
    Caches.releaseAll()
    require(nGot == nWant && diff == 0 && nWant > 0,
      s"interval twin diverged from batch q141: " +
        s"got=$nGot want=$nWant symmetricDiff=$diff")
    println(s"[twin-scale] interval: windows=${ow.size} " +
      s"epochs=$iEpochs streamSecs=${f"$iStreamSecs%.1f"} " +
      s"maxLenDays=$maxLen pairs=$nWant join=MATCH")
    }

    // ---- stream-maintained bloom index vs the plain filter ----------
    // (round-14 twin: epoch-scoped files + union-folded index; the
    // lookup contract is the q148 oracle — the plain o_custkey filter)
    if (sections("bloom")) {
    val ords = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bmOut = java.nio.file.Files
      .createTempDirectory("twin_scale_bloom").toString
    val bmMem = MemoryStream[(Long, Long, Double)]
    val bmq = bmMem.toDF().toDF("o_orderkey", "o_custkey", "o_totalprice")
      .writeStream
      .foreachBatch(streaming.BloomStream.sinkEachBatch(bmOut,
        compactEvery = compactEvery) _)
      .outputMode("append").start()
    val bmChunk = math.max(1, (ords.size + nChunks - 1) / nChunks)
    var bmEpochs = 0
    val t4 = System.nanoTime()
    ords.grouped(bmChunk).foreach { c =>
      bmMem.addData(c: _*); bmq.processAllAvailable(); bmEpochs += 1
    }
    bmq.stop()
    val bmStreamSecs = (System.nanoTime() - t4) / 1e9
    val probeKeys = Seq(7L, 42L, 133L)
    val bmGot = streaming.BloomStream.snapshotLookup(spark, bmOut, probeKeys)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    val bmWant = ords.filter(r => probeKeys.contains(r._2)).sortBy(_._1)
    val bmCands = streaming.BloomStream
      .snapshotCandidates(spark, bmOut, probeKeys)
    val bmFiles = bmEpochs.toLong * streaming.BloomStream.FilesPerEpoch
    require(bmGot == bmWant && bmWant.nonEmpty,
      s"bloom twin diverged: got=${bmGot.size} want=${bmWant.size}")
    require(bmCands.size < bmFiles,
      s"bloom twin did not prune: ${bmCands.size} of $bmFiles files")
    println(s"[twin-scale] bloom: orders=${ords.size} epochs=$bmEpochs " +
      s"streamSecs=${f"$bmStreamSecs%.1f"} " +
      s"layoutDirs=${partDirs(s"$bmOut/bloomlayout")} " +
      s"idxDirs=${partDirs(s"$bmOut/bloomidx")} " +
      s"candidates=${bmCands.size}/$bmFiles rows=${bmWant.size} " +
      s"lookup=MATCH")
    }

    // ---- incremental cluster table vs batch q168 --------------------
    // (round-17 twin: the streaming fold with compaction at corpus
    // scale; the serving read is the q167-killer point-read path, so
    // its seconds are the headline next to the batch recompute's)
    if (sections("cluster")) {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val docRows = docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val cOut = java.nio.file.Files
      .createTempDirectory("twin_scale_cluster").toString
    val cMem = MemoryStream[(Long, String)]
    val cq = cMem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(streaming.ClusterStream.clusterSinkEachBatch(cOut,
        compactEvery) _)
      .outputMode("append").start()
    val cChunk = math.max(1, (docRows.size + nChunks - 1) / nChunks)
    var cEpochs = 0
    val t5 = System.nanoTime()
    docRows.grouped(cChunk).foreach { c =>
      cMem.addData(c: _*); cq.processAllAvailable(); cEpochs += 1
    }
    cq.stop()
    val cStreamSecs = (System.nanoTime() - t5) / 1e9
    val t6 = System.nanoTime()
    val gotAsg = streaming.ClusterStream.assignmentTable(spark, cOut)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val cReadSecs = (System.nanoTime() - t6) / 1e9
    val t7 = System.nanoTime()
    val wantAsg = streaming.ClusterStream.batchAssignmentOn(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val cBatchSecs = (System.nanoTime() - t7) / 1e9
    Caches.releaseAll()
    require(gotAsg == wantAsg && wantAsg.nonEmpty,
      "cluster twin diverged from the batch assignment")
    println(s"[twin-scale] cluster: docs=${docRows.size} " +
      s"epochs=$cEpochs streamSecs=${f"$cStreamSecs%.1f"} " +
      s"sigDirs=${partDirs(s"$cOut/clusters/sigs")} " +
      s"mergeDirs=${partDirs(s"$cOut/clusters/merges")} (uncompacted " +
      s"would be $cEpochs each) " +
      s"tableReadSecs=${f"$cReadSecs%.2f"} vs " +
      s"batchRecomputeSecs=${f"$cBatchSecs%.1f"} " +
      s"assignment=MATCH rows=${wantAsg.size}")
    }
    spark.stop()
  }
}
