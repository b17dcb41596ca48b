package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver-generated testdata tables (TESTDATA.md).
  *
  * Reference mapping (SURVEY.md §1.4, §2.1): the reference's only durable
  * object is an SDFS file of text lines replicated to 4 nodes
  * (sdfs/src/leader.rs:781-786); a "dataset" is a filename prefix
  * (sdfs/src/leader.rs:236-239). In Spark-land a dataset is a
  * directory/glob of files and replication is the storage layer's job, so
  * `put/get/ls/store` (sdfs/src/main.rs:237-251) collapse into
  * `spark.read` / `df.write` / catalog listings, which this object fronts.
  */
final case class Tables(spark: SparkSession, dir: String) {
  // Idempotent: every batch operator reaches its session through a
  // Tables, so registering here is what lets Column helpers like
  // Dedup.h32 resolve graft's native functions without threading the
  // session through every call site.
  graft.functions.GraftFunctions.register(spark)

  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Every file under `dir` as sorted (path, length, modificationTime):
    * the input half of a [[Memo]] key. A dir whose files were rewritten
    * lists differently, so its memos rebuild. Listed once per Tables
    * through Hadoop's FileSystem, so any filesystem URI works.
    *
    * Walks with `listStatus`, not `listFiles`: `listFiles` wraps each
    * status in a `LocatedFileStatus`, which copies the permissions, and
    * the local filesystem without native Hadoop loads those by forking
    * a `stat` process per file — ~100 ms per listing of the ten
    * testdata tables on 4 cores, and slower the busier the host. */
  lazy val fingerprint: Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    walk(root).sorted
  }

  /** Widen a narrow scan to the session's parallelism ONLY when the
    * source yielded fewer splits. The testdata tables are single small
    * parquet files = one input split, which would serialize every
    * downstream per-row map on one core; at real scale
    * `files.maxPartitionBytes` already yields thousands of splits and
    * this is the identity — never an unconditional full-corpus
    * shuffle. Partition count comes from the planned scan (no job
    * runs).
    */
  def widen(df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Normalize events.ts to a session-TZ TIMESTAMP regardless of how
    * the driver encoded it. Two encodings have been observed across
    * testdata generations:
    *
    *  - TIMESTAMP(NANOS): Spark reads it only as a raw long
    *    (spark.sql.legacy.parquet.nanosAsLong=true — set in
    *    Verify/Bench/test sessions). Spark timestamps are microsecond
    *    precision, so truncate ns→µs; DuckDB truncates identically at
    *    sub-second group granularity.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
    *    TIMESTAMP_NTZ. Every graft session pins
    *    spark.sql.session.timeZone=UTC, so the NTZ→TIMESTAMP cast
    *    relabels the same microsecond value (unix_micros(ts) ==
    *    DuckDB epoch_us(ts), invariant 11) — and time functions like
    *    unix_micros/window() require plain TIMESTAMP.
    */
  private def withNanosTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  lazy val region: DataFrame = t("region")
  lazy val nation: DataFrame = t("nation")
  lazy val customer: DataFrame = t("customer")
  lazy val supplier: DataFrame = t("supplier")
  lazy val part: DataFrame = t("part")
  lazy val orders: DataFrame = t("orders")
  lazy val lineitem: DataFrame = t("lineitem")
  lazy val events: DataFrame = withNanosTs(t("events"))
  lazy val documents: DataFrame = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")
}

/** Line/CSV ingestion with the reference's quirks (FIXTURES.md):
  * UTF-8 BOM before the header, header row whose first cell is literally
  * `X`, empty-string-as-null convention. Mirrors `put`/`get`
  * (sdfs/src/client.rs:29-233) as plain reads/writes — replication and
  * replica failover are delegated to the filesystem.
  */
object GraftIO {
  /** Reference record = one text line (sdfs/src/helpers.rs:36-75). */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** CSV with header; BOM is handled by Spark's UnivocityParser. The
    * reference never parses records (SURVEY.md §1.3) — columns stay
    * strings unless inferSchema is requested.
    */
  def readCsv(spark: SparkSession, path: String,
              inferSchema: Boolean = false): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", inferSchema.toString)
      .csv(path)

  /** Explicit line-range scan (S3, sdfs/src/helpers.rs:44-62: a GET
    * that keeps only lines [start, end], how the reference feeds map
    * tasks their split). Spark's FileSourceScanExec does split
    * assignment natively; this explicit form exists for parity and for
    * deliberate sub-file sampling. 0-based, end exclusive.
    */
  def readLineRange(spark: SparkSession, path: String,
                    start: Long, end: Long): DataFrame = {
    import spark.implicits._
    spark.read.textFile(path).rdd.zipWithIndex()
      .filter { case (_, i) => i >= start && i < end }
      .map(_._1).toDF("value")
  }

  /** JSON-lines read (one JSON object per text line — the common
    * training-data interchange format). Schema inference samples the
    * data unless a schema is supplied; compressed inputs (.gz etc.)
    * decode transparently via the text source's codec handling. The
    * reference's record model is one text line (SURVEY.md §1.1), so
    * JSONL is its structured sibling: line = record, fields typed.
    */
  def readJsonl(spark: SparkSession, path: String,
                schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read
    schema.fold(r)(s => r.schema(s)).json(path)
  }

  /** `put` analog: durable write, parquet (engine default). */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC read/write — the second Spark-native columnar format, for
    * interchange with ORC-standardized warehouses. Same pushdown
    * properties as parquet (column pruning + predicate pushdown reach
    * the stripe level), so every operator here runs unchanged on ORC
    * inputs.
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Durable shuffle-output analog of the reference's `{prefix}_{key}`
    * intermediate files (sdfs/src/helpers.rs:14-20): one directory per
    * key value via partitioned write.
    */
  def writeByKey(df: DataFrame, keyCol: String, path: String): Unit =
    df.write.mode("overwrite").partitionBy(keyCol).parquet(path)
}
