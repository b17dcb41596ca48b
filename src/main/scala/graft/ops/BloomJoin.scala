package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.GraftFunctions
import graft.io.Tables

/** Bloom-filter join pruning: the canonical 100 TB shuffle-volume
  * reducer. A selective dimension's key set is folded into an m-bit
  * Bloom filter; the fact side is filtered through it BEFORE the
  * shuffle, so rows that cannot possibly join never leave the scan
  * stage. The final semi-join is exact, so Bloom false positives only
  * cost a little extra shuffle — never a wrong row — and the operator
  * stays hash-checkable against a plain `IN (subquery)` oracle.
  *
  * Shape at scale:
  *  - **Build** is a map-side-combinable aggregation: each dim key
  *    explodes to K bit positions, positions collapse to ≤ m/64
  *    (word → OR-of-masks) rows via `bit_or` partials. The driver
  *    collects only the finished bitmap — `m/8` bytes, fixed by the
  *    chosen m, independent of fact cardinality (the same bounded
  *    driver-side step as the IVF centroid fetch). 10 bits/key keeps
  *    FPP ≈ 1%: 1M dim keys → 1.25 MB.
  *  - **Probe** is a pure column predicate, fully inside whole-stage
  *    codegen, evaluated between the parquet scan and the fact-side
  *    Exchange — the filter cannot reach parquet (hash of a column
  *    isn't a pushable predicate) but it runs before any shuffle
  *    bytes are written. Below [[BroadcastThresholdBytes]] the bitmap
  *    rides the plan as an array literal (xxhash64 + element_at);
  *    at/above it the words ship once per executor as a broadcast
  *    variable probed by the codegen'd `BloomWordTest` expression, so
  *    MB-scale bitmaps never bloat task serialization or explain
  *    output.
  *  - Spark's own runtime bloom injection
  *    (`spark.sql.optimizer.runtime.bloomFilter.enabled`) does this
  *    adaptively but only past multi-GB creation-side thresholds;
  *    this is the explicit form for bounded dims, with the bitmap
  *    size under the caller's control.
  *
  * Reference mapping (SURVEY.md §2.3 Q2): the reference's join client
  * (sdfs/src/client.rs:523-541) maps BOTH datasets in full through
  * `executors/joinmap.py` + `joinreduce.py` — scripts that are absent
  * from the repo's executors/ directory (SURVEY §2.3 Q2 documents the
  * join executors as missing; semantics reconstructed from the CLI
  * contract) — so every row of both sides crosses the shuffle. Pruning
  * the probe side before the shuffle is the Spark-native upgrade of
  * that same equi-join.
  */
object BloomJoin {

  /** 2^16 bits = 8 KiB: ~1% FPP up to ~6k dim keys (10 bits/key). */
  val DefaultBits: Int = 1 << 16

  /** K=3 independent hash functions via seeded xxhash64. */
  private val Seeds: Seq[Int] = Seq(0x9E3779B9, 0x85EBCA6B, 0xC2B2AE35)

  private def bitPos(key: Column, seed: Int, mBits: Int): Column =
    pmod(xxhash64(lit(seed), key), lit(mBits.toLong))

  /** Distributed Bloom build: dim keys → finished m-bit bitmap as
    * `m/64` longs. One narrow aggregation (bit_or has map-side
    * partials); the collect is of the fixed-size result, never of
    * keys.
    */
  def build(dimKeys: DataFrame, keyCol: String,
            mBits: Int = DefaultBits): Array[Long] = {
    require(mBits % 64 == 0 && mBits > 0, s"mBits must be a positive multiple of 64, got $mBits")
    val key = col(keyCol)
    val words = dimKeys
      .select(explode(array(Seeds.map(s => bitPos(key, s, mBits)): _*)).as("bit"))
      .select((col("bit") / 64).cast(IntegerType).as("w"),
        call_function("shiftleft", lit(1L), pmod(col("bit"), lit(64L)).cast(IntegerType)).as("mask"))
      .groupBy(col("w")).agg(bit_or(col("mask")).as("bits"))
      .collect()
    val out = new Array[Long](mBits / 64)
    words.foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  /** Bitmaps at/above this size probe through a broadcast variable
    * ([[mightContainBroadcast]]) instead of an array literal. 64 KiB:
    * well under task-serialization pain, well over the 8 KiB default —
    * the literal stays the simpler, registry-free path for small
    * bitmaps, and MB-scale bitmaps (1M keys ≈ 1.25 MB at 10 bits/key)
    * never ride the plan.
    */
  val BroadcastThresholdBytes: Int = 64 * 1024

  /** Codegen'd membership test: AND over the K seeded bit probes. The
    * bitmap rides along as an array literal — fine below
    * [[BroadcastThresholdBytes]]; above it [[semiJoin]] switches to
    * [[mightContainBroadcast]], identical semantics and plan position.
    */
  def mightContain(key: Column, words: Array[Long], mBits: Int = DefaultBits): Column = {
    val wlit = typedLit(words.toSeq)
    Seeds.map { s =>
      val bit = bitPos(key, s, mBits)
      val word = element_at(wlit, (bit / 64).cast(IntegerType) + 1)
      val mask = call_function("shiftleft", lit(1L),
        pmod(bit, lit(64L)).cast(IntegerType))
      word.bitwiseAND(mask) =!= 0L
    }.reduce(_ && _)
  }

  /** Registry name for a bitmap's probe function: keyed by broadcast
    * id, so re-probing the same bitmap reuses one entry instead of
    * minting a new one per call.
    */
  private def bloomFnName(bc: org.apache.spark.broadcast.Broadcast[_]): String =
    s"graft_bloom_${bc.id}"

  /** Broadcast-variable twin of [[mightContain]] for large bitmaps:
    * the bit positions stay codegen'd columns; the word test is the
    * custom `BloomWordTest` expression holding only the broadcast
    * HANDLE. Spark 4 Columns don't wrap catalyst Expressions, so the
    * expression enters the plan through a temp-function registration
    * whose builder closure captures the broadcast (the same registry
    * route as GraftFunctions.graftDot), invoked via `call_function` —
    * the key Column is passed as an expression, never rendered to SQL
    * text, so backticked/qualified key names work unchanged. The name
    * is keyed by broadcast id ([[bloomFnName]]): probing the same
    * bitmap N times holds exactly one registry entry, and [[semiJoin]]
    * drops even that once its plan is analyzed. Direct callers who
    * want the registry clean afterwards can do the same
    * (`functionRegistry.dropFunction`) once their DataFrame is built —
    * analysis is eager at Dataset construction, so the resolved
    * `BloomWordTest` no longer needs the registry.
    */
  def mightContainBroadcast(key: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
      mBits: Int, spark: org.apache.spark.sql.SparkSession): Column = {
    val fn = bloomFnName(bc)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fn, exprs => graft.functions.BloomWordTest(exprs(0), bc), "scala_udf")
    Seeds.map { s =>
      call_function(fn, bitPos(key, s, mBits))
    }.reduce(_ && _)
  }

  /** Exact fact-SEMI-dim join with the fact side Bloom-pruned before
    * its shuffle. Output is identical to the unpruned semi-join (no
    * false negatives by construction; false positives die in the
    * exact join). Small bitmaps ride the plan as a literal; at/above
    * [[BroadcastThresholdBytes]] the probe switches to a broadcast
    * variable automatically; its temp-function registration is dropped
    * as soon as the returned plan is analyzed (Dataset construction is
    * eager), so N semiJoin calls leave zero registry residue. The
    * broadcast itself is owned by the returned plan — Spark's
    * ContextCleaner reclaims it once the plan is unreachable; callers
    * must not `destroy()` it while the DataFrame may still execute.
    */
  def semiJoin(fact: DataFrame, factKey: String,
               dim: DataFrame, dimKey: String,
               mBits: Int = DefaultBits): DataFrame = {
    val dimK = dim.select(col(dimKey))
    val words = build(dimK, dimKey, mBits)
    val spark = fact.sparkSession
    val bcOpt =
      if (words.length * 8 >= BroadcastThresholdBytes)
        Some(spark.sparkContext.broadcast(words))
      else None
    val probe = bcOpt match {
      case Some(bc) => mightContainBroadcast(col(factKey), bc, mBits, spark)
      case None     => mightContain(col(factKey), words, mBits)
    }
    val out = fact
      .filter(probe)
      .join(dimK.withColumnRenamed(dimKey, factKey),
        Seq(factKey), "left_semi")
    // `out` is analyzed: BloomWordTest is bound into its plan and the
    // registry entry has done its job — drop it so long-lived sessions
    // issuing many Bloom joins don't accumulate dead functions.
    bcOpt.foreach { bc =>
      spark.sessionState.functionRegistry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(bloomFnName(bc)))
    }
    out
  }

  /** Driver-gated entry: revenue of lineitems belonging to urgent
    * high-value orders — a selective dim (≈2% of orders) pruning a
    * fact 4× its size before the shuffle. Exact decimal accumulation
    * per CLAUDE.md invariant 2.
    */
  def q47BloomSemi(t: Tables): DataFrame = {
    val dim = t.orders
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") >= 150000.0)
    BloomJoin.semiJoin(t.lineitem, "l_orderkey", dim, "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        GraftFunctions.dsum(col("l_extendedprice")).as("revenue"))
  }

  val q47Sql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem WHERE l_orderkey IN (
      | SELECT o_orderkey FROM orders
      | WHERE o_orderpriority = '1-URGENT' AND o_totalprice >= 150000.0)
      |GROUP BY 1""".stripMargin.replace("\n", " ")
}
