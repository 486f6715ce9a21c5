package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated star schema + extension tables
  * (see TESTDATA.md / FIXTURES.md). One parquet file per table.
  *
  * All reads go through `spark.read.parquet` (DataSource V2, vectorized
  * reader) so Catalyst predicate pushdown / column pruning / partition
  * pruning apply to every downstream query. Never cache here — at 100 TB
  * the scan must stream; callers decide what (if anything) to persist.
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses to
    * map to TimestampType. Read nanos as long (legacy conf) and truncate
    * to microseconds — exactly what DuckDB's ns→µs cast does, so the
    * oracle sees identical instants. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts DIV 1000")))
    else raw
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Widen an UNDER-PARALLELIZED relation (guide §2.5 "input skew: one
    * huge unsplittable file … otherwise repartition immediately after
    * the read"): the gate corpora are single-row-group parquet, and a
    * parquet row group is one scan task no matter the split math — so a
    * map-heavy pass over them (a pre-window-group-limit sort, say) runs
    * single-threaded however many cores the session has. Round-robin
    * repartition to the session parallelism ONLY when the plan's
    * partition count is below half of it: a source with real
    * parallelism (ScaleGen part-file dirs, any production table) passes
    * through untouched, so this is a parallelism floor, never an added
    * shuffle at scale. Use on NARROW projections only — an r14
    * experiment that widened text-payload tokenization this way LOST
    * (shuffling document bodies cost more than the serial tokenize;
    * guide §8's rule that heavy payloads must not ride extra
    * exchanges). Safe only on EXCHANGE-FREE scan projections: `df.rdd`
    * finalizes the physical plan, and under AQE an input that holds an
    * exchange would run its stages eagerly here. The guard counts
    * byte-range splits, not populated partitions, so a single row
    * group larger than maxPartitionBytes passes through unwidened. */
  def widened(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }
}
