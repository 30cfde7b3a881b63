package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loader for the driver-generated parquet star schema (TESTDATA.md).
 *
 * Schemas are INFERRED ONCE per (session, path) and cached: a bare
 * `spark.read.parquet` runs a footer-reading Spark job on every call, so a
 * round of plan constructions (Bench passes, Verify, plan-shape specs) was
 * paying one job per table PER QUERY just to rediscover a schema that never
 * changes — and plan construction must run zero jobs (ConstructionJobsSpec,
 * VERDICT r12 #4). At production scale the same cache is what keeps a
 * 100k-file table from re-listing footers for each of hundreds of daily
 * queries. The cache is per SparkSession (keyed on the session too, so a
 * restarted session re-infers) and parquet is self-describing — a REWRITTEN
 * table with a new schema needs a new session. */
object Tables {
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.computeIfAbsent((spark, path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = {
    // Two testdata vintages exist for events.ts; branch on the type the reader
    // actually produced so either works:
    //  - TIMESTAMP(NANOS): Spark has no nanos type; with nanosAsLong the column
    //    arrives as LongType and we rebuild the µs timestamp (data is µs-aligned,
    //    nanos % 1000 == 0; `div` keeps it exact integer math).
    //  - timestamp[us] isAdjustedToUTC=false: arrives as TIMESTAMP_NTZ; cast to
    //    TIMESTAMP (session tz is pinned UTC, so the cast is micros-preserving)
    //    to match the DuckDB oracle's naive-timestamp schema hash.
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // the NTZ→TIMESTAMP cast reinterprets the naive micros IN THE SESSION
        // TIMEZONE — only UTC preserves them; every graft entry point pins
        // UTC, and this guard keeps a future entry point from silently
        // shifting all event timestamps on a non-UTC host
        val tz = s.conf.get("spark.sql.session.timeZone")
        // normalize before comparing: 'Etc/UTC', 'GMT', '+00:00', 'Z' are all
        // fixed-offset-zero zones and equally micros-preserving — only a zone
        // that can shift the wall clock is unsafe
        val isUtc =
          try java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC
          catch { case _: java.time.DateTimeException => false }
        require(isUtc,
          "Tables.events: TIMESTAMP_NTZ -> TIMESTAMP is micros-preserving only " +
            "under a UTC session timezone; set spark.sql.session.timeZone=UTC " +
            s"in the SparkSession builder (got '$tz')")
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
