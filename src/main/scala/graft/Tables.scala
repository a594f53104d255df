package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All graft operators take a `dir` (scale-factor directory) and read
  * parquet lazily — filters/projections compose into the scan so Catalyst
  * pushes them down (check `PushedFilters`/`ReadSchema` in explain).
  *
  * At cluster scale these would be catalog tables partitioned by date;
  * the loader is the single seam to swap in `spark.table(...)`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings that change the schema parquet inference yields. */
  private val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Inferred schema per table path, versioned by the table's
    * [[fingerprint]] and the [[schemaConfs]] values it was inferred
    * under. Inference is a Spark job per `spark.read.parquet`. */
  private val schemaMemo =
    new Memo[String, (Long, Seq[Option[String]]), StructType]

  /** A fresh relation over `dir/name.parquet` — new attribute ids on
    * every call, so two reads of one table self-join. The schema is
    * inferred once per file listing and session settings; a rewritten
    * table is re-inferred on its next read. A path whose listing finds
    * no data file (missing, or not on the local file system) is read
    * unmemoized, so it fails exactly as a plain read does. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val files = listing(dir, name)
    if (!files.exists(f => f.isFile && !f.getName.startsWith("_")))
      spark.read.parquet(path)
    else {
      val version = (fold(files), schemaConfs.map(spark.conf.getOption))
      val schema = schemaMemo.get(path, version)(spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Cheap change detector for one source table under `dir`: a hash
    * over each data file's (name, mtime, size) — one driver-side
    * directory listing, no data read. The same signal object stores and
    * streaming file sources key on; content hashing would cost a scan.
    * Keys every memo built from a source table, and the schema memo. */
  def fingerprint(dir: String, table: String): Long = fold(listing(dir, table))

  private def listing(dir: String, table: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(s"$dir/$table.parquet"))
      .filterNot(_.getName.startsWith("."))
  }

  private def fold(files: Seq[java.io.File]): Long =
    files.foldLeft(17L) { (h, f) =>
      var x = h
      for (v <- Seq(f.getName.hashCode.toLong, f.lastModified, f.length))
        x = x * 1000003L + v
      x
    }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.ts` as written: the sf0.001–sf0.1 corpora store it as
    * microsecond timestamps not adjusted to UTC, which Spark reads as
    * TIMESTAMP_NTZ and which pass through unchanged. A TIMESTAMP(NANOS)
    * file reads as Long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true`; only that branch
    * converts, to a micros TimestampType (floor division — identical to
    * the oracle's TIMESTAMP_NS → TIMESTAMP cast). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      // integer `div`, not `/`: ns epochs (~1.7e18) overflow double's 2^53
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
