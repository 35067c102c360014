package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  *
  * Every query in [[SparkEntry.queries]] receives a scale-factor directory
  * (e.g. `/root/testdata/sf0.01`) and reads the tables it needs through
  * these helpers, so the parquet scan (with Catalyst column pruning +
  * predicate pushdown) is the single entry point for all data access.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  /** Normalize an events `ts` column to a microsecond TimestampType
    * regardless of which physical encoding the driver generated:
    *  - parquet TIMESTAMP(NANOS) reads as a raw long under
    *    spark.sql.legacy.parquet.nanosAsLong → integer-divide to micros
    *    (ns epoch values overflow double precision, so no float math);
    *  - parquet timestamp[us] with no zone reads as TIMESTAMP_NTZ →
    *    reinterpret in the session zone (UTC everywhere in this engine,
    *    so the cast is value-preserving and matches DuckDB's naive
    *    TIMESTAMP reading of the same file);
    *  - TIMESTAMP is already canonical.
    * The DuckDB oracle applies the same normalization via
    * CAST(ts AS TIMESTAMP).
    */
  def normalizedTs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    dt match {
      case LongType         => expr("timestamp_micros(ts DIV 1000)")
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalArgumentException(
        s"unexpected events.ts type $other")
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizedEvents(spark, sfDir)(identity)

  /** The events table as a file stream (the BitcoinETL drop-directory
    * shape): `events.parquet` under `sfDir`, with the batch table's
    * schema and the same `ts` normalization as [[events]]. An
    * AvailableNow run reads the whole file in one micro-batch.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    normalizedEvents(spark, sfDir)(raw =>
      graft.streaming.StreamingFlows.source(spark, sfDir, raw.schema,
        globFilter = Some("events.parquet")))

  /** `from(raw events)` with `ts` normalized; `from` keeps the schema. */
  private def normalizedEvents(spark: SparkSession, sfDir: String)(
      from: DataFrame => DataFrame): DataFrame = {
    // defensive: the flag is a runtime SQL conf and the caller's session
    // (e.g. the driver's own smoke harness) may not have set it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    from(raw).withColumn("ts", normalizedTs(raw.schema("ts").dataType))
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
