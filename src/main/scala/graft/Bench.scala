package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // pay one-time session/codegen/scan warmup outside the timers so the
    // first measured query isn't charged for it
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.names.foreach(n => Tables(spark, sfDir, n).limit(1).count())
    // each query runs `runs` times, keep the MIN: the gate should measure
    // the plan, not JIT/first-scan noise (round-4 shared-query drift was
    // mostly this). Caches are released between runs so every timing is a
    // cold-data / warm-JVM measurement, not a warm-cache one.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // SUB-2s queries wobble up to ~2× from session-environmental noise
    // (GC pressure accumulated by earlier queries, scheduling) that
    // min-of-2 back-to-back samples share — the round-5 q41/q42/q43
    // "drift". Two dampers: a full GC before each query's timing loop so
    // every query starts from the same heap state, and extra samples
    // (min-of-`fastRuns`) for queries whose best time is under the
    // cutoff — cheap exactly because those queries are fast.
    val fastRuns =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FAST_RUNS", "5").toInt.max(runs)
    // 3.0, not 2.0: a query whose steady state sits ON the cutoff is
    // bistable — if an early sample dips under, it earns fastRuns
    // samples and reports its true min; if not, sampling stops at
    // `runs` and reports a still-JITting number 1.5-2× higher. That
    // discontinuity was the whole q102 round-over-round "drift"
    // (r12 1.34 s with 5 samples vs r13 2.98 s with 2 — identical
    // code; see BENCH_TARGETED.md). The cutoff must clear the noisiest
    // query's warm-up band, not its steady state.
    val fastCutoff = 3.0
    // a failed query must read as a FAILURE (-1), not as its
    // time-to-exception — a regression that throws would otherwise
    // masquerade as a performance win in the gate
    // local-iteration filter: comma-separated query names; absent = all.
    // Loud on stderr — a filtered "total" must never read as the suite's.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] WARNING: unmatched names in " +
          s"SPARK_GRAFT_BENCH_ONLY: ${unknown.mkString(", ")}")
      System.err.println(s"[bench] WARNING: filtered run (${names.size} " +
        "queries) — the reported total is NOT the full-suite total")
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      System.gc()
      var times = List.empty[Double]
      var failed = false
      def wantMore: Boolean = !failed && (times.size < runs ||
        (times.min < fastCutoff && times.size < fastRuns))
      while (wantMore) {
        val t0 = System.nanoTime()
        // NonFatal only: after an OOM/fatal JVM error the remaining
        // samples would run in a corrupted JVM and report garbage
        try { fn(spark, sfDir).count() }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed = true
        }
        val dt = (System.nanoTime() - t0) / 1e9
        Caches.releaseAll()
        if (!failed) times ::= dt
      }
      name -> (if (failed || times.isEmpty) -1.0 else times.min)
    }
    // —— variant passes (round-10 verdict #2) ——
    // cold: memoized build/train queries with every per-JVM memo
    // cleared before the sample, so the TRUE construction cost is
    // tracked (the headline keeps measuring the serving path).
    // distributed: driver-dispatch queries with the budget zeroed, so
    // the plan that executes at scale gets a number instead of a
    // driver-JIT lottery. One sample each: these measure builds and
    // scheduled loops (seconds), not sub-second plans, so min-of-N
    // buys little against its cost.
    def timeOne(fn: (SparkSession, String) =>
        org.apache.spark.sql.DataFrame, pre: () => Unit): Double = {
      System.gc()
      pre()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] variant failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      Caches.releaseAll()
      if (ok) dt else -1.0
    }
    val cold = SparkEntry.coldQueries.sorted
      .filter(n => only.forall(_.contains(n)))
      .map(n => n -> timeOne(SparkEntry.queries(n),
        () => Memo.clearAll()))
    val dist = SparkEntry.distributedVariants.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (n, fn) => n -> timeOne(fn, () => ()) }
    def section(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    // fixed order (sorted query names) and total-first: the driver
    // captures only a log tail, so if the line is ever truncated the
    // total and the earliest keys survive — and the SAME json goes
    // whole to a committed file so no reader ever depends on the log
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // the -1 failure sentinels stay visible per-query but must not
    // pollute the headline: value/nQueries cover COMPLETED queries only,
    // and failures are listed by name so an automation reading just the
    // summary fields can't mistake a broken query for a fast one
    val (ok, bad) = results.partition(_._2 >= 0.0)
    val total = if (ok.nonEmpty) ok.map(_._2).sum else 0.0
    val failedList = bad.map(n => s"\"${n._1}\"").mkString("[", ",", "]")
    val heapGb = Runtime.getRuntime.maxMemory() / (1 << 30)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir",""" +
        s""""runs":$runs,"fastRuns":$fastRuns,"cpus":$cpus,""" +
        s""""heapGb":$heapGb,"nQueries":${ok.size},""" +
        s""""failed":$failedList,""" +
        s""""cold":${section(cold)},""" +
        s""""distributed":${section(dist)},""" +
        s""""filtered":${only.isDefined},"queries":$qs}"""
    println(json)
    // full-suite runs only: a filtered local iteration must never
    // overwrite the committed artifact with a partial total
    if (only.isEmpty) {
      val f = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
        "/root/repo/BENCH_SELF.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        (json + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] wrote $f")
    }
    spark.stop()
  }
}
