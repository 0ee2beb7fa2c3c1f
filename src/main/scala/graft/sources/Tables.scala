package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Named accessors for the benchmark star schema (TESTDATA.md).
  *
  * One parquet file per table under `dir`. All reads are plain
  * `spark.read.parquet`, so Catalyst's parquet source handles column
  * pruning and predicate pushdown; callers should filter/select on the
  * returned DataFrame directly (never `.cache()` here — at 100 TB the
  * scan must stream).
  *
  * `events.ts` has been written by the generator both as parquet
  * TIMESTAMP(NANOS) (surfaced as a nanosecond `long` under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, set in
  * [[graft.GraftSession]]) and as TIMESTAMP(MICROS) (surfaced as
  * TIMESTAMP_NTZ). [[Tables.normalizeEventTs]] adapts to whichever is on
  * disk so every downstream operator sees the same shape: `ts` as a real
  * (UTC) timestamp plus the raw nanosecond value as `ts_ns`.
  */
final class Tables(val spark: SparkSession, val dir: String) {
  /** Read with a session-lifetime PINNED schema (see
    * [[Tables.pinnedSchema]]): parquet schema inference costs ~50 ms of
    * driver time per `spark.read.parquet` call (measured at sf0.1 —
    * 50-72 ms inferred vs 5-8 ms with an explicit schema), paid on
    * EVERY table reference of every query.
    * The benchmark tables are immutable inputs, so the first inference
    * per path is authoritative for the process lifetime — exactly the
    * schema pinning a catalog (metastore / table format) gives a
    * production engine. The DATA is still scanned per query; only the
    * footer-derived StructType is reused.
    */
  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.pinnedSchema(spark, path)).parquet(path)
  }

  def region: DataFrame   = table("region")
  def nation: DataFrame   = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame     = table("part")
  def orders: DataFrame   = table("orders")
  def lineitem: DataFrame = table("lineitem")
  def documents: DataFrame  = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Events with `ts` as a usable microsecond timestamp (UTC session)
    * and the raw nanosecond epoch as `ts_ns` — see
    * [[Tables.normalizeEventTs]].
    */
  def events: DataFrame = Tables.normalizeEventTs(table("events"))
}

object Tables {
  def apply(spark: SparkSession, dir: String): Tables = new Tables(spark, dir)

  // Schema cache for the immutable source tables, keyed by file path (a
  // parquet schema is a property of the files, not the session). NOT
  // result caching: every query still reads the parquet bytes; this
  // only skips re-deriving the StructType from the footer on each
  // DataFrame creation. Concurrent first readers may both infer — the
  // result is identical, last write wins harmlessly.
  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.types.StructType]

  private def pinnedSchema(spark: SparkSession,
      path: String): org.apache.spark.sql.types.StructType =
    schemaCache.getOrElseUpdate(path, spark.read.parquet(path).schema)

  /** Normalize the generator's `ts` column to (`ts`: TIMESTAMP,
    * `ts_ns`: BIGINT nanoseconds) regardless of the on-disk flavor:
    *
    *  - nanosecond BIGINT (TIMESTAMP(NANOS) under nanosAsLong): integer
    *    division keeps full precision — nanos exceed 2^53, so a
    *    double-typed division would corrupt timestamps;
    *  - TIMESTAMP / TIMESTAMP_NTZ (micros): the NTZ→TZ cast is an
    *    identity on the underlying micros because the session timezone
    *    is pinned to UTC in [[graft.GraftSession]].
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts_ns", col("ts"))
        .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case _ =>
      df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
  }
}
