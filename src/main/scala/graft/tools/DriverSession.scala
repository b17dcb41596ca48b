package graft.tools

import org.apache.spark.sql.SparkSession

/** The session recipe every main builds through, and the oracle-JSON
  * escaper shared by Verify and QueryRun — one definition, so a config
  * or escaping fix cannot apply to one surface and silently skip
  * another (a missed control char in oracle_sql.json fails every
  * oracle compare). Only ExtDemo and Repl build their own
  * session: `spark.sql.extensions` is a static conf that must be set at
  * build time. A tool that wants a wider shuffle sets
  * `spark.sql.shuffle.partitions` on the built session (a runtime conf).
  */
object DriverSession {

  /** Whole-stage-codegen class-cache size for the full-suite mains.
    * The Spark default (100 entries) cannot hold a 156-query suite's
    * generated classes: the r21 codegen audit measured 2,164 janino
    * recompilations PER SWEEP — ~16-19 s of single-threaded compile
    * time, much of it on stage-materialization critical paths — and even the warmup sweep's classes were evicted
    * before the timed runs (defeating Bench's documented
    * warm-the-codegen design). At 10,000 entries the timed sweeps
    * compile ~20 units (residual AQE shape variance) and the sweep
    * wall fell ~100-110 s → ~71 s. This caches COMPILED CLASSES keyed
    * on generated source — never data or results — and a long-lived
    * production driver wants the same setting for the same reason. */
  val CodegenCacheEntries = "10000"

  /** Core count of a main's session: the SPARK_GRAFT_CPUS deployment
    * setting, 4 when unset. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** local[cpus] session with the oracle-critical settings: UTC zone
    * (NTZ casts), nanosAsLong (legacy events encoding), shuffle
    * partitions = cpus. */
  def build(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.tools.Quiet.windowWarn()
    spark
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail. */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Serialize an oracle map in the driver's expected layout. */
  def writeOracleJson(path: String, oracle: Map[String, String]): Unit = {
    val json = oracle
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}
