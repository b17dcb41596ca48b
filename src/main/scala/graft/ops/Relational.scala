package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions.{dsum, dsumDisc}
import graft.io.Tables

/** Relational operator surface.
  *
  * Covers the reference's entire SQL layer (SURVEY.md §2.3): the regex
  * filter (`SELECT ALL FROM ds WHERE regex`, sdfs/src/client.rs:505-521),
  * the equi-join (sdfs/src/client.rs:523-541), and the demo aggregation
  * queries encoded in the Python executors (Sdemo1/Hdemo1/wordcount
  * scripts under sdfs/executors) — plus the standard relational operators the
  * reference lacks (SURVEY.md §2.5) that Spark gives us natively: sorts,
  * top-k, set ops, windows, rollup, semi/anti joins.
  *
  * Determinism-for-oracle notes (these queries are hash-compared against
  * DuckDB by the driver):
  *  - double SUMs are order-dependent, so monetary/quantity sums are
  *    exact: the DuckDB side runs
  *    `CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`, and this side runs
  *    `dsum`/`dsumDisc` (`graft_dsum`, functions/DecimalSum.scala),
  *    which returns that double bit for bit: every row becomes the
  *    cast's own unscaled scale-4 long (a proven fast path, Spark's cast
  *    for the rest) and the longs are added exactly with a carry, so the
  *    sum is order-independent and the one rounding is the final
  *    decimal→double cast;
  *  - ratios are single IEEE divisions of exactly-representable values
  *    (deterministic in any engine);
  *  - top-k / rank queries carry a total tiebreak order.
  */
object Relational {

  // dsum(c) and dsumDisc(price, discount) are graft_dsum (see above).
  // dsumDisc's price and (1-discount) each carry 2 decimals, so their
  // product has exactly 4: the scale-4 recast is lossless and the
  // unscaled sum stays under 2^53, where decimal→double conversion is
  // exact in every engine (DuckDB's is 1-ulp-off above that). The
  // window sums cast through `dec`.
  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))

  private val dsumDiscSql =
    "CAST(SUM(CAST(CAST(%s AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(%s AS DECIMAL(18,4))) AS DECIMAL(18,4))) AS DOUBLE)"

  /** TPC-H Q1-style pricing summary: filter → hash aggregate with
    * map-side partials (the reference's Sdemo1map pre-aggregation
    * pattern, sdfs/executors/Sdemo1map.py:22-25, done natively by
    * HashAggregateExec partial/final).
    */
  def q1Agg(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      // to_timestamp resolves in the session timezone (UTC), unlike
      // java.sql.Timestamp.valueOf which bakes in the JVM default TZ
      .filter($"l_shipdate" <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("count_order"),
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsumDisc($"l_extendedprice", $"l_discount").as("sum_disc_price")
      )
  }

  val q1Sql: String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS count_order,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
      | ${dsumDiscSql.format("l_extendedprice", "l_discount")} AS sum_disc_price
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")

  /** The reference's `SELECT ALL FROM ds WHERE <regex>`: line-level
    * `re.search` semantics (sdfs/executors/selectmap.py:4-19). Here the
    * "line" is the documents.text column; `rlike` is an unanchored
    * search in both Spark and DuckDB.
    */
  def q2RegexFilter(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .filter($"text".rlike("(spark|hash) join"))
      .select($"doc_id", $"lang", $"n_chars")
  }

  val q2Sql: String =
    "SELECT doc_id, lang, n_chars FROM documents WHERE regexp_matches(text, '(spark|hash) join')"

  /** The reference's equi-join (`SELECT ALL FROM d1 d2 WHERE d1.f = d2.f`,
    * sdfs/src/client.rs:523-541; executors missing from the repo, so the
    * documented assumption is inner join on string/key equality with
    * both rows' columns in the output — SURVEY.md §2.3 Q2). The
    * reference runs 3 MapReduce jobs for this; Catalyst plans a single
    * shuffled or broadcast hash join.
    */
  def q3EquiJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"o_totalprice", $"c_name", $"c_mktsegment")
  }

  val q3Sql: String =
    "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey"

  /** Flagship: the reference's demo query Sdemo1/Hdemo1 (SURVEY.md §2.3
    * Q3) — filter → group count → per-group percent of the filtered
    * total (sdfs/executors/Sdemo1reduce.py:20-31). The `%.2f%%`
    * formatting stays at the presentation edge (see
    * `TextFormat.percent`); the operator yields the raw ratio. The
    * grand total is a window over an empty partition spec — one extra
    * lightweight exchange, no driver-side collect.
    */
  def q4GroupPct(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .filter($"l_returnflag" === "R")
      .groupBy($"l_linestatus")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pct",
        $"cnt" * lit(100.0) / sum($"cnt").over(Window.partitionBy()))
  }

  val q4Sql: String =
    """SELECT l_linestatus, count(*) AS cnt,
      | count(*) * CAST(100 AS DOUBLE) / sum(count(*)) OVER () AS pct
      |FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_linestatus""".stripMargin.replace("\n", " ")

  /** Word count (sdfs/executors/wordcountmap.py:13-27): per-word counts.
    * documents.text is space-delimited; split+explode+hash-agg replaces
    * the reference's one-intermediate-file-per-word shuffle
    * (sdfs/src/helpers.rs:14-20).
    */
  def q5WordCount(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word")
      .agg(count(lit(1)).as("cnt"))
  }

  val q5Sql: String =
    """SELECT word, count(*) AS cnt FROM
      | (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> '' GROUP BY word""".stripMargin.replace("\n", " ")

  /** Grand-total word count — the reference's wordcountreduce emits only
    * the total of all per-word counts (sdfs/executors/wordcountreduce.py:15-19).
    */
  def q6WordTotal(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .select(explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .agg(count(lit(1)).as("total_words"))
  }

  val q6Sql: String =
    """SELECT count(*) AS total_words FROM
      | (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''""".stripMargin.replace("\n", " ")

  /** Distinct — implicit in the reference as executor dict keys
    * (SURVEY.md §2.4).
    */
  def q7Distinct(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem.select($"l_returnflag", $"l_linestatus").distinct()
  }

  val q7Sql: String =
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"

  /** Top-k with a total order (absent from the reference, SURVEY.md
    * §2.5). TakeOrderedAndProject — no global sort of the full table.
    */
  def q8TopK(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .limit(10)
      .select($"o_orderkey", $"o_totalprice")
  }

  val q8Sql: String =
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"

  /** Star join: revenue per region/nation. nation/region are broadcast
    * by hint (fixed 25/5 rows at every scale factor). customer is NOT
    * hinted: it grows linearly with SF, and a forced hint would pin a
    * broadcast that AQE cannot demote at 100 TB. AQE still picks a
    * broadcast hash join for customer at small SF on its own; at scale
    * it falls back to a shuffled join on o_custkey.
    */
  def q9StarJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .join(t.orders, $"l_orderkey" === $"o_orderkey")
      .join(t.customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(t.nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t.region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        dsumDisc($"l_extendedprice", $"l_discount").as("revenue"),
        count(lit(1)).as("n_items")
      )
  }

  val q9Sql: String =
    s"""SELECT r_name, n_name,
      | ${dsumDiscSql.format("l_extendedprice", "l_discount")} AS revenue,
      | count(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin.replace("\n", " ")

  /** Window function: top-3 orders per customer by price, totally
    * ordered tiebreak.
    */
  def q10Window(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    t.orders
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rnk")
  }

  val q10Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM
      | (SELECT o_custkey, o_orderkey, o_totalprice,
      |   row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      |  FROM orders)
      |WHERE rnk <= 3""".stripMargin.replace("\n", " ")

  /** Set op: customers with both open and finished orders. */
  def q11Intersect(t: Tables): DataFrame = {
    import t.spark.implicits._
    val o = t.orders
    o.filter($"o_orderstatus" === "O").select($"o_custkey")
      .intersect(o.filter($"o_orderstatus" === "F").select($"o_custkey"))
  }

  val q11Sql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin.replace("\n", " ")

  /** Set op: customers with open orders but no finished ones. */
  def q12Except(t: Tables): DataFrame = {
    import t.spark.implicits._
    val o = t.orders
    o.filter($"o_orderstatus" === "O").select($"o_custkey")
      .except(o.filter($"o_orderstatus" === "F").select($"o_custkey"))
  }

  val q12Sql: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'""".stripMargin.replace("\n", " ")

  /** Semi join (EXISTS): customers that have at least one order. */
  def q13SemiJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.customer
      .join(t.orders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
  }

  val q13Sql: String =
    "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"

  /** Anti join (NOT EXISTS): customers with no orders. */
  def q14AntiJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.customer
      .join(t.orders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
  }

  val q14Sql: String =
    "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"

  /** Rollup aggregation (grouping sets). */
  def q15Rollup(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum($"l_quantity").as("sum_qty"))
  }

  val q15Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin.replace("\n", " ")

  /** Tumbling-window aggregation over the event stream, batch form (the
    * streaming form with watermarks lives in graft.streaming.Streams).
    */
  def q16EventsHourly(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.events
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(
        count(lit(1)).as("cnt"),
        dsum($"value").as("sum_value")
      )
  }

  val q16Sql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin.replace("\n", " ")

  /** Sessionization, batch form: a session break is a >30min gap per
    * user (lag window); counts sessions and events per user.
    */
  def q17Sessionize(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts")
    t.events
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
          $"ts" > $"prev_ts" + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .groupBy($"user_id")
      .agg(sum($"new_session").as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val q17Sql: String =
    """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM
      | (SELECT user_id, ts,
      |   CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |     OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts) + INTERVAL 30 MINUTE
      |   THEN 1 ELSE 0 END AS new_session
      |  FROM events)
      |GROUP BY user_id""".stripMargin.replace("\n", " ")

  /** Per-column regex variant of the reference's line-regex filter
    * (SURVEY.md §7 item 3): the pattern applies to one column, not the
    * whole serialized row.
    */
  def q23RegexCol(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.part
      .filter($"p_type".rlike("^(STANDARD|SMALL)") && $"p_brand".rlike("#1[0-9]$"))
      .select($"p_partkey", $"p_name", $"p_type")
  }

  val q23Sql: String =
    """SELECT p_partkey, p_name, p_type FROM part
      |WHERE regexp_matches(p_type, '^(STANDARD|SMALL)') AND regexp_matches(p_brand, '#1[0-9]$')""".stripMargin.replace("\n", " ")

  /** UNION ALL with provenance tags — the bag-semantics set op. */
  def q24UnionAll(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hi = t.orders.filter($"o_totalprice" > 400000.0)
      .select($"o_orderkey", lit("hi").as("bucket"))
    val urgent = t.orders.filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", lit("urgent").as("bucket"))
    hi.unionAll(urgent) // an order can appear in both buckets
  }

  val q24Sql: String =
    """SELECT o_orderkey, 'hi' AS bucket FROM orders WHERE o_totalprice > CAST(400000 AS DOUBLE)
      |UNION ALL
      |SELECT o_orderkey, 'urgent' AS bucket FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin.replace("\n", " ")

  /** Pivot: status counts as columns per priority. Spark's .pivot();
    * the oracle states the same thing as conditional aggregation, which
    * is what both planners execute underneath.
    */
  def q26Pivot(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L) // absent combinations: 0, matching COUNT FILTER
  }

  val q26Sql: String =
    """SELECT o_orderpriority,
      | count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
      | count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
      | count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      |FROM orders GROUP BY o_orderpriority""".stripMargin.replace("\n", " ")

  /** HLL approximate distinct — the constant-memory cardinality sketch
    * any 100 TB pipeline uses for profiling. Sketch internals are
    * engine-specific, so there is no DuckDB oracle (rows-only check);
    * RelationalSpec asserts the estimate lands within rsd bounds of the
    * exact count.
    */
  def q27ApproxDistinct(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem.agg(
      approx_count_distinct($"l_partkey", rsd = 0.02).as("approx_parts"),
      approx_count_distinct($"l_orderkey", rsd = 0.02).as("approx_orders"))
  }

  /** Theta (non-equi) join: price-band self-join on part, executed as a
    * banded equi-join. |price_a - price_b| < w implies the rows'
    * floor(price/w) bands differ by at most 1, so one side emits its
    * band plus both neighbors (explode ×3) and the join becomes a
    * hash-partitionable equi-join on the band; the exact theta
    * predicate is re-applied as a post-filter. Each qualifying pair
    * joins exactly once (the three exploded bands are distinct and the
    * build side carries a single band). This keeps the plan a
    * hash/sort-merge join — shuffle on the band key — instead of the
    * O(N²/cores) BroadcastNestedLoopJoin a raw theta join plans, so it
    * survives a fact-scale self-join.
    */
  def q28ThetaJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    val width = 0.5
    // widen: part is a single-file (one-split) table locally
    val bandA = floor($"price_a" / width)
    val a = t.widen(t.part)
      .select($"p_partkey".as("key_a"), $"p_retailprice".as("price_a"))
      .withColumn("band", explode(array(bandA - 1, bandA, bandA + 1)))
    val b = t.part
      .select($"p_partkey".as("key_b"), $"p_retailprice".as("price_b"))
      .withColumn("band", floor($"price_b" / width))
    a.join(b, "band")
      .filter($"key_a" < $"key_b" && abs($"price_a" - $"price_b") < lit(width))
      .select($"key_a", $"key_b", $"price_a", $"price_b")
  }

  val q28Sql: String =
    """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
      | a.p_retailprice AS price_a, b.p_retailprice AS price_b
      |FROM part a JOIN part b
      | ON a.p_partkey < b.p_partkey
      | AND abs(a.p_retailprice - b.p_retailprice) < CAST(0.5 AS DOUBLE)""".stripMargin.replace("\n", " ")

  /** Running (cumulative) revenue per customer in order-date order —
    * the rows-between window frame. Every prefix sum is an exact
    * decimal converted once to double (well under 2^53).
    */
  def q29RunningSum(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders.select(
      $"o_custkey", $"o_orderkey",
      sum(dec($"o_totalprice")).over(w).cast(DoubleType).as("running_spend"))
  }

  val q29Sql: String =
    """SELECT o_custkey, o_orderkey,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders""".stripMargin.replace("\n", " ")

  /** Grouped list aggregation. collect_list order is nondeterministic,
    * so the output is the sorted, comma-joined string form — stable in
    * both engines and comparator-proof (no array-typed cells).
    */
  def q30GroupedList(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .filter($"o_custkey" <= 20)
      .groupBy($"o_custkey")
      .agg(array_join(array_sort(collect_list($"o_orderkey".cast("string"))), ",")
        .as("order_keys"))
  }

  val q30Sql: String =
    """SELECT o_custkey,
      | array_to_string(list_sort(list(CAST(o_orderkey AS VARCHAR))), ',') AS order_keys
      |FROM orders WHERE o_custkey <= 20 GROUP BY o_custkey""".stripMargin.replace("\n", " ")

  /** Date-part extraction: quarter, ISO weekday, month truncation, and
    * whole-day differences — all integer/timestamp outputs. (Spark's
    * dayofweek is 1=Sunday while DuckDB's is 0=Sunday; weekday()+1 ==
    * isodow is the portable pair.)
    */
  def q31DateParts(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .filter($"o_orderkey" < 200)
      .select(
        $"o_orderkey",
        quarter($"o_orderdate").as("q"),
        (weekday($"o_orderdate") + 1).as("isodow"),
        date_trunc("month", $"o_orderdate").as("order_month"),
        datediff(lit("2002-01-01").cast("date"), $"o_orderdate".cast("date"))
          .as("days_to_2002"))
  }

  val q31Sql: String =
    """SELECT o_orderkey, CAST(quarter(o_orderdate) AS INT) AS q,
      | CAST(isodow(o_orderdate) AS INT) AS isodow,
      | date_trunc('month', o_orderdate) AS order_month,
      | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to_2002
      |FROM orders WHERE o_orderkey < 200""".stripMargin.replace("\n", " ")

  /** Fuzzy string matching by edit distance — the string-side
    * near-duplicate primitive (complements Dedup's token/shingle
    * families). Levenshtein is integer DP: engine-identical.
    *
    * Candidate generation is length-bucket blocking, not a cross
    * product: dist ≤ 4 implies |len(a)-len(b)| ≤ 4, and with bucket
    * width 5 (> threshold) the two rows' floor(len/5) buckets differ by
    * at most 1 — so probes explode into {b-1, b, b+1} and equi-join the
    * corpus on the bucket. Each pair joins at most once (corpus rows
    * carry one bucket; the three exploded buckets are distinct). The
    * plan is a hash join keyed on the bucket, O(pairs-per-bucket)
    * instead of O(|probes|·N) nested-loop enumeration.
    */
  /** Candidate stream of [[q32FuzzyName]] BEFORE the NibbleL1 gate:
    * the salted length-bucket join plus the length-difference prune.
    * Exposed so RelationalSpec (and the 10x rehearsal) can COUNT the
    * gate's rejection fraction — rows here vs rows out of
    * [[q32DpSurvivors]] — instead of tracking a wall-time ratio that
    * moves with the floor.
    */
  private[graft] def q32RawCandidates(t: Tables): DataFrame = {
    import t.spark.implicits._
    val bkt = floor(length($"probe_name") / lit(5))
    // The length-bucket key `blk` has only a handful of distinct
    // values (name lengths 7-12 → blk ∈ {1,2}) — catastrophically
    // skewed as a shuffle key at ANY scale — and the per-pair DP
    // amplifies compute ~50000x over the input bytes, so AQE's
    // byte-based partition sizing is blind to the real cost (at the
    // r16 10x rehearsal it coalesced the post-shuffle join read to ONE
    // task grinding 1.2B banded levenshteins — SCALING.md). The
    // scale-correct shape is a SALTED co-partitioned join: candidates
    // take a deterministic 16-way salt, probes replicate across all
    // salts, and both sides repartition by (blk, salt) with an
    // EXPLICIT width — REPARTITION_BY_NUM, which AQE never coalesces —
    // so the DP spreads over the full executor set no matter how small
    // the input bytes look. Same (q48) salt discipline as ops/Skew.
    // 64 salts × ~2 effective blk values = ~128 combos over the
    // partition width — balls-into-bins balance within ~1.3x of even
    // (16 salts measured 5/16 core efficiency at the 10x rehearsal:
    // 32 combos collide badly into 32 partitions). Replication cost is
    // on the SMALL side only (probes ×64, ~30 MB shuffled at 10x).
    val salts = 64
    // Content prefilter (r18, the edit-dedup family's mechanism applied
    // verbatim to name pairs): a 32-bucket saturating char histogram
    // packed into two longs PER ROW (codegen'd CharHistWord, computed
    // once before the exchange — 16 extra bytes of shuffle width), and
    // an L1 lower bound INSIDE the join stage. One levenshtein edit
    // moves at most one code point between buckets, so L1/2 ≤ dist and
    // `L1 > 2·4` rejects a candidate WITHOUT the O(len²) DP — lossless
    // (merging buckets / saturating counters only shrink L1; see
    // Dedup.edKeys). At the 10x rehearsal the DP was ~100x the 1x pair
    // volume; this bounds the DP calls by the surviving candidates.
    graft.functions.GraftFunctions.register(t.spark)
    def hist(c: Column, w: Int) = graft.functions.GraftFunctions.charHist(c, w)
    val probes = t.widen(t.part).filter($"p_partkey" % 50 === 0)
      .select($"p_partkey".as("probe_key"), $"p_name".as("probe_name"),
        hist($"p_name", 0).as("ph1"), hist($"p_name", 1).as("ph2"))
      .withColumn("blk", explode(array(bkt - 1, bkt, bkt + 1)))
      .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    val cands = t.widen(t.part)
      .select($"p_partkey".as("cand_key"), $"p_name".as("cand_name"),
        hist($"p_name", 0).as("ch1"), hist($"p_name", 1).as("ch2"))
      .withColumn("blk", floor(length($"cand_name") / lit(5)))
      .withColumn("salt", pmod(hash($"cand_key"), lit(salts)))
    // length-difference lower bound: |len(a)-len(b)| > k ⇒ dist > k.
    // The residual prune skips the O(len²) DP for cross-bucket pairs
    // whose lengths still differ by >4.
    val width = t.spark.sparkContext.defaultParallelism
    val raw = probes.repartition(width, $"blk", $"salt")
      .join(cands.repartition(width, $"blk", $"salt"), Seq("blk", "salt"))
      .filter($"probe_key" =!= $"cand_key" &&
        abs(length($"probe_name") - length($"cand_name")) <= 4)
    raw
  }

  def q32FuzzyName(t: Tables): DataFrame = {
    import t.spark.implicits._
    q32DpSurvivors(q32RawCandidates(t))
      // thresholded variant early-exits the DP (returns -1 above 4);
      // kept rows carry the exact distance, same values as the oracle
      .withColumn("dist", levenshtein($"probe_name", $"cand_name", 4))
      .filter($"dist" =!= -1)
      .select($"probe_key", $"cand_key", $"dist")
  }

  /** The NibbleL1 gate of [[q32FuzzyName]], factored out so its
    * effectiveness is MEASURABLE as a count, not a wall ratio: rows out
    * of this filter are exactly the O(len²) DP evaluations the join
    * stage performs. The r17 "wall ratio ≤ X" criterion was the wrong
    * metric (candidate volume is data-quadratic, so the ratio moves
    * with the floor, not the filter) — RelationalSpec pins the
    * surviving FRACTION instead, and the 10x rehearsal records it in
    * SCALING.md. Lossless: one edit moves ≤ 1 code point between
    * histogram buckets, so (L1(h1)+L1(h2))/2 ≤ dist and rejecting
    * above 2·4 can never drop a true ≤ 4 pair (Dedup.edKeys proof).
    */
  private[graft] def q32DpSurvivors(rawCandidates: DataFrame): DataFrame = {
    import rawCandidates.sparkSession.implicits._
    rawCandidates.filter(
      graft.functions.GraftFunctions.nibbleL1($"ph1", $"ch1") +
        graft.functions.GraftFunctions.nibbleL1($"ph2", $"ch2") <= lit(8))
  }

  val q32Sql: String =
    """SELECT p.p_partkey AS probe_key, c.p_partkey AS cand_key,
      | CAST(levenshtein(p.p_name, c.p_name) AS INT) AS dist
      |FROM part p JOIN part c ON p.p_partkey <> c.p_partkey
      |WHERE p.p_partkey % 50 = 0 AND levenshtein(p.p_name, c.p_name) <= 4""".stripMargin.replace("\n", " ")

  /** Quantile bucketing and relative rank: ntile is integer;
    * percent_rank is (rank-1)/(n-1), a single division of ints.
    */
  def q33Ntile(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
    t.orders.select(
      $"o_orderkey", $"o_orderpriority",
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("pct_rank"))
  }

  val q33Sql: String =
    """SELECT o_orderkey, o_orderpriority,
      | CAST(ntile(4) OVER w AS INT) AS quartile,
      | percent_rank() OVER w AS pct_rank
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin.replace("\n", " ")

  /** Funnel analysis: users whose first purchase follows their first
    * signup within 7 days. min() over timestamps is deterministic; the
    * window comparison is interval arithmetic.
    */
  def q34Funnel(t: Tables): DataFrame = {
    import t.spark.implicits._
    val signups = t.events.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts").as("first_signup"))
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"))
    signups.join(purchases, Seq("user_id"), "left")
      .filter($"p_ts".isNull || $"p_ts" >= $"first_signup")
      .groupBy($"user_id", $"first_signup")
      .agg(min($"p_ts").as("first_purchase_after"))
      .select(
        $"user_id", $"first_signup", $"first_purchase_after",
        ($"first_purchase_after".isNotNull &&
          $"first_purchase_after" <= $"first_signup" + expr("INTERVAL 7 DAYS"))
          .as("converted_7d"))
  }

  val q34Sql: String =
    """SELECT user_id, first_signup, first_purchase_after,
      | (first_purchase_after IS NOT NULL AND
      |  first_purchase_after <= first_signup + INTERVAL 7 DAY) AS converted_7d
      |FROM (
      | SELECT s.user_id, s.first_signup, min(p.p_ts) AS first_purchase_after
      | FROM (SELECT user_id, min(ts) AS first_signup FROM events
      |       WHERE event_type = 'signup' GROUP BY user_id) s
      | LEFT JOIN (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase') p
      |  ON s.user_id = p.user_id
      | WHERE p.p_ts IS NULL OR p.p_ts >= s.first_signup
      | GROUP BY s.user_id, s.first_signup)""".stripMargin.replace("\n", " ")

  /** HAVING — filter on aggregated values. */
  def q35Having(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("qty"))
      .filter($"n_lines" >= 40)
  }

  val q35Sql: String =
    """SELECT l_partkey, count(*) AS n_lines,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY l_partkey HAVING count(*) >= 40""".stripMargin.replace("\n", " ")

  /** The SQL-string interface (the reference's user surface is typed SQL
    * text, sdfs/src/main.rs:294-299): register the table as a view and
    * run the statement through spark.sql — same planner, same result.
    */
  def q25SqlInterface(t: Tables): DataFrame = {
    t.orders.createOrReplaceTempView("orders_v")
    t.spark.sql(
      "SELECT o_orderstatus, count(*) AS cnt FROM orders_v GROUP BY o_orderstatus")
  }

  val q25Sql: String =
    "SELECT o_orderstatus, count(*) AS cnt FROM orders GROUP BY o_orderstatus"

  /** Exact lower-median per group via rank selection — no interpolation,
    * so the value is an actual data point and engines can't disagree on
    * float arithmetic.
    */
  def q20Median(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
    t.orders
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
      .filter($"rn" === expr("(n + 1) div 2")) // integer floor-div (Column./ is double)
      .select($"o_orderpriority", $"o_totalprice".as("median_lo"))
  }

  val q20Sql: String =
    """SELECT o_orderpriority, o_totalprice AS median_lo FROM (
      | SELECT o_orderpriority, o_totalprice,
      |  row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
      |  count(*) OVER (PARTITION BY o_orderpriority) AS n
      | FROM orders)
      |WHERE rn = (n + 1) // 2""".stripMargin.replace("\n", " ")

  /** Exact grouped five-number summary (min/q1/median/q3/max) by
    * rank-index selection — q20's discrete-median generalized: quantile
    * q picks the element at rank 1 + (n-1)·q (integer arithmetic, no
    * interpolation, so the value always exists in the data and both
    * engines select the identical row via the total tiebreak order).
    * One shuffle on the group key; per-group sort streams within the
    * partition, never a global sort.
    */
  def q39FiveNumber(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
    t.orders
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"o_orderpriority")))
      .withColumn("stat", expr(
        """CASE rn WHEN 1 THEN 'min'
          | WHEN 1 + (n - 1) div 4 THEN 'q1'
          | WHEN 1 + (n - 1) div 2 THEN 'median'
          | WHEN 1 + ((n - 1) * 3) div 4 THEN 'q3'
          | WHEN n THEN 'max' END""".stripMargin))
      .filter($"stat".isNotNull)
      // tiny groups collapse labels onto one rank; CASE keeps the first
      // match only — identical first-match semantics in both engines
      .select($"o_orderpriority", $"stat", $"o_totalprice".as("value"))
  }

  val q39Sql: String =
    """SELECT o_orderpriority, stat, o_totalprice AS value FROM (
      | SELECT o_orderpriority, o_totalprice, rn, n,
      |  CASE rn WHEN 1 THEN 'min'
      |   WHEN 1 + (n - 1) // 4 THEN 'q1'
      |   WHEN 1 + (n - 1) // 2 THEN 'median'
      |   WHEN 1 + ((n - 1) * 3) // 4 THEN 'q3'
      |   WHEN n THEN 'max' END AS stat
      | FROM (
      |  SELECT o_orderpriority, o_totalprice,
      |   row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
      |   count(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders))
      |WHERE stat IS NOT NULL""".stripMargin.replace("\n", " ")

  /** Time-series resample + forward fill: each user's events collapse
    * to exact hourly totals, the hours between the user's first and
    * last activity become a dense grid (sequence + explode — rows
    * bounded by span, not corpus), and empty hours carry the last
    * observed total forward via last(ignoreNulls) over an ordered
    * per-user window. One groupBy + one per-user window shuffle; the
    * gap-filling pattern every downstream time-series consumer needs.
    */
  def q41GapFill(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hourly = t.events
      .groupBy($"user_id", date_trunc("hour", $"ts").as("hour"))
      .agg(dsum($"value").as("obs"))
    val grid = hourly.groupBy($"user_id")
      .agg(min($"hour").as("h0"), max($"hour").as("h1"))
      .select($"user_id",
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    val w = Window.partitionBy($"user_id").orderBy($"hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select($"user_id", $"hour",
        last($"obs", ignoreNulls = true).over(w).as("filled_value"),
        $"obs".isNotNull.as("is_observed"))
  }

  val q41Sql: String =
    """WITH hourly AS (
      | SELECT user_id, date_trunc('hour', ts) AS hour,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS obs
      | FROM events GROUP BY 1, 2),
      |bounds AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1),
      |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM bounds)
      |SELECT g.user_id AS user_id, g.hour AS hour,
      | last_value(h.obs IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.hour
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
      | h.obs IS NOT NULL AS is_observed
      |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour""".stripMargin.replace("\n", " ")

  /** Approximate grouped quantiles via the percentile_approx sketch —
    * the mergeable-sketch family member alongside q27's HLL. Sketch
    * internals are engine-specific, so this entry is rows-only checked
    * (no SQL oracle); RelationalSpec pins the rank error against the
    * exact q39 selection instead. One map-side-combinable sketch
    * aggregation: at 100 TB partial sketches merge, nothing sorts, and
    * the answer costs one pass where q39's exact form pays a per-group
    * sort — the classic exactness/cost dial.
    */
  def q40ApproxQuantile(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders.groupBy($"o_orderpriority")
      .agg(
        percentile_approx($"o_totalprice", lit(0.25), lit(10000)).as("p25"),
        percentile_approx($"o_totalprice", lit(0.5), lit(10000)).as("p50"),
        percentile_approx($"o_totalprice", lit(0.75), lit(10000)).as("p75"))
  }

  /** Orders above their customer's average price (correlated-aggregate
    * pattern via window, not a subquery re-scan). The average is an
    * exact decimal sum divided once in double.
    */
  def q21AboveAvg(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
    t.orders
      .withColumn("avg_price",
        sum(dec($"o_totalprice")).over(w).cast(DoubleType) / count(lit(1)).over(w))
      .filter($"o_totalprice" > $"avg_price")
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"avg_price")
  }

  val q21Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, avg_price FROM (
      | SELECT o_orderkey, o_custkey, o_totalprice,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey) AS DOUBLE)
      |   / count(*) OVER (PARTITION BY o_custkey) AS avg_price
      | FROM orders)
      |WHERE o_totalprice > avg_price""".stripMargin.replace("\n", " ")

  /** Cube aggregation (all grouping-set combinations). */
  def q22Cube(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.lineitem
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum($"l_quantity").as("sum_qty"))
  }

  val q22Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin.replace("\n", " ")

  /** Scalar-function surface (absent from the reference beyond regex,
    * SURVEY.md §2.5): string/date/math functions on a deterministic
    * slice.
    */
  def q18Scalar(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .filter($"o_orderkey" < 100)
      .select(
        $"o_orderkey",
        upper($"o_orderstatus").as("status_u"),
        substring($"o_orderpriority", 1, 1).as("prio_code"),
        concat_ws("-", $"o_orderstatus", $"o_orderpriority").as("status_prio"),
        year($"o_orderdate").as("order_year"),
        month($"o_orderdate").as("order_month"),
        abs($"o_totalprice" - lit(1000.0)).as("price_delta"),
        length($"o_orderpriority").as("prio_len")
      )
  }

  /** Semi-structured extraction: JSON property access on the events
    * props column (nested data — absent from the reference, SURVEY.md
    * §1.1 "no nested structure").
    */
  def q19Json(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.events
      .filter($"event_type" === "purchase")
      .select(
        $"event_id", $"user_id",
        get_json_object($"props", "$.k").cast(IntegerType).as("k_val"))
  }

  val q19Sql: String =
    """SELECT event_id, user_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
      |FROM events WHERE event_type = 'purchase'""".stripMargin.replace("\n", " ")

  val q18Sql: String =
    """SELECT o_orderkey, upper(o_orderstatus) AS status_u,
      | substring(o_orderpriority, 1, 1) AS prio_code,
      | concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
      | CAST(year(o_orderdate) AS INT) AS order_year,
      | CAST(month(o_orderdate) AS INT) AS order_month,
      | abs(o_totalprice - CAST(1000 AS DOUBLE)) AS price_delta,
      | CAST(length(o_orderpriority) AS INT) AS prio_len
      |FROM orders WHERE o_orderkey < 100""".stripMargin.replace("\n", " ")

  /** Interval (time-range) join: click→purchase attribution — every
    * purchase within 10 minutes after a click by the same user. Same
    * banding technique as the theta join generalized to time: both
    * sides key on (user_id, 10-minute epoch band), clicks explode to
    * their own and the next band (a qualifying purchase is at most one
    * band ahead), so the product is an equi-join AQE can skew-split —
    * never a per-user cross product, never a nested loop. Gap computed
    * in exact integer microseconds.
    */
  def q36IntervalJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    val width = 600L * 1000000L // 10 min in µs
    val clicks = t.events
      .filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id",
        unix_micros($"ts").as("c_us"))
      .withColumn("band", explode(array(
        expr(s"c_us div ${width}L"), expr(s"c_us div ${width}L") + 1)))
    val purchases = t.events
      .filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id",
        unix_micros($"ts").as("p_us"))
      .withColumn("band", expr(s"p_us div ${width}L"))
    clicks.join(purchases, Seq("user_id", "band"))
      .filter($"p_us" >= $"c_us" && $"p_us" - $"c_us" < width)
      .select($"user_id", $"click_id", $"purchase_id",
        ($"p_us" - $"c_us").as("gap_us"))
      .distinct() // a pair in both bands would otherwise double-count
  }

  val q36Sql: String =
    """SELECT c.user_id AS user_id, c.event_id AS click_id,
      | p.event_id AS purchase_id,
      | epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM events c JOIN events p ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) - epoch_us(c.ts) >= 0
      | AND epoch_us(p.ts) - epoch_us(c.ts) < 600000000""".stripMargin.replace("\n", " ")

  /** Unpivot (melt): wide numeric columns to (metric, val) rows — the
    * inverse of q26's pivot. Narrow map, no shuffle.
    */
  def q37Unpivot(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.part
      .select($"p_partkey", $"p_retailprice",
        $"p_size".cast(DoubleType).as("p_size"))
      .unpivot(Array($"p_partkey"), "metric", "val")
  }

  val q37Sql: String =
    """SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
      |UNION ALL
      |SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part""".stripMargin.replace("\n", " ")

  /** Explicit GROUPING SETS with grouping() indicator columns — the
    * general form of q15's rollup / q22's cube, through
    * `Dataset.groupingSets` (a Catalyst Expand, one shuffle on the
    * expanded keys).
    */
  def q38GroupingSets(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .groupingSets(Seq(Seq($"o_orderstatus"), Seq($"o_orderpriority"), Seq()),
        $"o_orderstatus", $"o_orderpriority")
      .agg(grouping($"o_orderstatus").cast(IntegerType).as("g_status"),
        grouping($"o_orderpriority").cast(IntegerType).as("g_prio"),
        count(lit(1)).as("cnt"))
  }

  val q38Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      | CAST(grouping(o_orderstatus) AS INT) AS g_status,
      | CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      | count(*) AS cnt
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin.replace("\n", " ")

  /** Sliding (hopping) time windows — the overlapping-window variant
    * q16's tumbling hour lacks: 30-minute windows every 10 minutes, so
    * each event lands in exactly 3 windows. Spark's `window(ts, len,
    * slide)` replicates the row per overlapping window BEFORE the
    * aggregation, so the shuffle still carries map-side-combined
    * partials (3× the tumbling row count, window-cardinality output) —
    * the same shape Structured Streaming uses for hopping windows.
    * Window starts are epoch-aligned in both engines (the 10-min grid).
    */
  def q42SlidingWindow(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.events
      .groupBy(window($"ts", "30 minutes", "10 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("cnt"), dsum($"value").as("sum_value"))
      .select($"w.start".as("win_start"), $"event_type", $"cnt", $"sum_value")
  }

  // every event is in windows starting at bucket(ts) - k·10min, k=0..2
  val q42Sql: String =
    """SELECT make_timestamp((epoch_us(ts) // 600000000 - r.range) * 600000000) AS win_start,
      | event_type, count(*) AS cnt,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN range(0, 3) r ON true
      |GROUP BY 1, 2""".stripMargin.replace("\n", " ")

  /** Full outer join — the join-matrix entry the suite lacked (inner
    * q3, semi q13, anti q14, theta q28, interval q36, as-of). Both
    * sides are filtered aggregates so each genuinely has keys the
    * other misses; the unmatched sides' NULL counts are coalesced to
    * -1 because the oracle compare materializes nullable int columns
    * as float64 (NaN) — the engine semantics under test are the
    * outer-join ones, not NULL transport. One shuffle per side on the
    * (tiny) nation key; at scale a full outer join is the same
    * sort-merge/hash machinery as inner with both-side retention.
    */
  def q43FullOuter(t: Tables): DataFrame = {
    import t.spark.implicits._
    val s = t.supplier.filter($"s_acctbal" > 9000)
      .groupBy($"s_nationkey".as("nk")).agg(count(lit(1)).as("s_cnt"))
    val c = t.customer.filter($"c_acctbal" > 9900)
      .groupBy($"c_nationkey".as("nk")).agg(count(lit(1)).as("c_cnt"))
    s.join(c, Seq("nk"), "full_outer")
      .select($"nk", coalesce($"s_cnt", lit(-1L)).as("s_cnt"),
        coalesce($"c_cnt", lit(-1L)).as("c_cnt"))
  }

  val q43Sql: String =
    """SELECT coalesce(s.nk, c.nk) AS nk,
      | coalesce(s_cnt, -1) AS s_cnt, coalesce(c_cnt, -1) AS c_cnt
      |FROM (SELECT s_nationkey AS nk, count(*) AS s_cnt FROM supplier
      |      WHERE s_acctbal > 9000 GROUP BY 1) s
      |FULL OUTER JOIN
      |     (SELECT c_nationkey AS nk, count(*) AS c_cnt FROM customer
      |      WHERE c_acctbal > 9900 GROUP BY 1) c
      |ON s.nk = c.nk""".stripMargin.replace("\n", " ")

  /** Fixed-width histogram — the distribution-profiling primitive
    * (skew diagnosis, partition sizing, band-width selection for the
    * q28 theta join all start from one of these). Bucket id is
    * trunc(price / width) capped at the last bucket: pure integer/IEEE
    * arithmetic, so the histogram is one map-side-combinable groupBy
    * with bucket-cardinality output — the cheapest possible wide op at
    * any corpus size. Spark's int cast truncates; DuckDB's CAST
    * rounds, so the oracle spells trunc() explicitly.
    */
  def q44Histogram(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.orders
      .select(least(($"o_totalprice" / lit(30000.0)).cast(IntegerType), lit(19))
        .as("bucket"), $"o_totalprice")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("cnt"), dsum($"o_totalprice").as("sum_price"))
  }

  val q44Sql: String =
    """SELECT least(CAST(trunc(o_totalprice / 30000.0) AS INT), 19) AS bucket,
      | count(*) AS cnt,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1""".stripMargin.replace("\n", " ")

  /** Multiset (ALL) set operations — the bag-semantics counterparts of
    * q11/q12's distinct INTERSECT/EXCEPT. `exceptAll` keeps
    * max(m−n, 0) copies per row, `intersectAll` min(m, n): both plan
    * as one shuffle on the full row with counted buckets — same
    * exchange as the distinct forms, no extra pass for the
    * multiplicity arithmetic. Post-aggregated per key so the output is
    * group-cardinality, with the multiset cardinality preserved in
    * `cnt`.
    */
  def q45ExceptAll(t: Tables): DataFrame = {
    import t.spark.implicits._
    val all = t.lineitem.select($"l_suppkey")
    val heavy = t.lineitem.filter($"l_quantity" > 25).select($"l_suppkey")
    all.exceptAll(heavy)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("cnt"))
  }

  val q45Sql: String =
    """SELECT l_suppkey, count(*) AS cnt FROM (
      | SELECT l_suppkey FROM lineitem
      | EXCEPT ALL
      | SELECT l_suppkey FROM lineitem WHERE l_quantity > 25)
      |GROUP BY 1""".stripMargin.replace("\n", " ")

  def q46IntersectAll(t: Tables): DataFrame = {
    import t.spark.implicits._
    val cheap = t.lineitem.filter($"l_discount" < 0.05).select($"l_suppkey")
    val returned = t.lineitem.filter($"l_returnflag" === "R").select($"l_suppkey")
    cheap.intersectAll(returned)
      .groupBy($"l_suppkey").agg(count(lit(1)).as("cnt"))
  }

  val q46Sql: String =
    """SELECT l_suppkey, count(*) AS cnt FROM (
      | SELECT l_suppkey FROM lineitem WHERE l_discount < 0.05
      | INTERSECT ALL
      | SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
      |GROUP BY 1""".stripMargin.replace("\n", " ")

  /** Skew-salted dimension join, driver-gated form of `Skew.saltedJoin`
    * (ScaleSpec already pins output-equivalence to the plain join).
    * events.event_type is the canonical hot key: a handful of values
    * over the whole fact table, so an unsalted sort-merge join pins
    * each type's full volume on one reducer at 100 TB. The salt spreads
    * every type across `buckets` sub-keys while the dim is replicated
    * `buckets`× — output is identical to the unsalted join, which is
    * exactly what the DuckDB oracle runs. (AQE's skew split only
    * rescues sort-merge joins after the fact; explicit salting is the
    * planner-independent form and the one that also extends to skewed
    * aggregations.) The post-join per-type aggregate is map-side
    * combinable, so the second shuffle carries type cardinality only.
    */
  def q48SaltedJoin(t: Tables): DataFrame = {
    import t.spark.implicits._
    val fact = t.events.select($"event_type".as("etype"), $"value")
    // the dim a real pipeline would read from a catalog; derived here so
    // the query is self-contained. distinct() is map-side combinable.
    val dim = t.events.select($"event_type".as("etype")).distinct()
      .withColumn("w", length($"etype").cast("long"))
    Skew.saltedJoin(fact, dim, "etype", buckets = 8)
      .groupBy($"etype")
      .agg(
        max($"w").as("type_len"),
        count(lit(1)).as("cnt"),
        dsum($"value").as("sum_value"))
  }

  val q48Sql: String =
    """WITH dim AS (
      | SELECT DISTINCT event_type AS etype,
      |  CAST(length(event_type) AS BIGINT) AS w FROM events)
      |SELECT e.event_type AS etype, max(d.w) AS type_len, count(*) AS cnt,
      | CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim d ON e.event_type = d.etype
      |GROUP BY 1""".stripMargin.replace("\n", " ")

  /** Skew-salted two-stage aggregation, driver-gated form of
    * `Skew.saltedAgg`. The demo aggregate is the one where salting
    * actually earns its keep: exact count(DISTINCT user_id) per
    * event_type. Plain hash aggregation can't shrink distinct STATE
    * map-side — a hot event_type ships its full user set to one
    * reducer. Salting by hash(user_id) partitions that state exactly
    * (each user's rows land in one (type, salt) bucket), so partial
    * distinct counts sum to the true distinct count and no reducer
    * sees more than ~1/buckets of the hot type's users. The algebraic
    * companions (count, decimal sum) re-combine as sums of partials —
    * exact per invariant 2 (decimal accumulation, one double cast at
    * the end). Output is identical to the unsalted aggregate, which is
    * what the DuckDB oracle runs.
    */
  def q49SaltedAgg(t: Tables): DataFrame = {
    import t.spark.implicits._
    val fact = t.events.select($"event_type".as("etype"), $"user_id", $"value")
    Skew.saltedAgg(fact, "etype", buckets = 8, saltBy = Some($"user_id"))(
      Seq(count_distinct($"user_id").as("pu"),
        count(lit(1)).as("pc"),
        sum(dec($"value")).as("ps")),
      Seq(sum($"pu").as("users"),
        sum($"pc").as("cnt"),
        sum($"ps").cast(DoubleType).as("sum_value")))
  }

  val q49Sql: String =
    """SELECT event_type AS etype, count(DISTINCT user_id) AS users,
      | count(*) AS cnt,
      | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin.replace("\n", " ")

  /** Exact heavy hitters (frequent items): event types whose count
    * exceeds n/k of the whole stream. The profiling step a real
    * pipeline runs BEFORE choosing salting buckets for q48/q49 — the
    * hot keys this surfaces are the ones salting then spreads. Shape:
    * one map-side-combinable groupBy (type cardinality out), then a
    * grand-total window over the ALREADY-AGGREGATED rows (input is
    * group-cardinality, so the single-partition window is fine — see
    * CLAUDE.md) and an integer-arithmetic threshold, `cnt * k > total`
    * (invariant 3: no division in the predicate). The share column is
    * a single IEEE division of two exact int64s. At 100 TB the only
    * full-data pass is the combinable count.
    */
  def q50HeavyHitters(t: Tables, k: Int = 10): DataFrame = {
    import t.spark.implicits._
    val counts = t.events.groupBy($"event_type".as("etype"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("total", sum($"cnt").over(Window.partitionBy()))
      .filter($"cnt" * lit(k.toLong) > $"total")
      .select($"etype", $"cnt", $"total",
        ($"cnt".cast(DoubleType) / $"total".cast(DoubleType)).as("share"))
  }

  val q50Sql: String =
    """SELECT event_type AS etype, cnt, total,
      | CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share
      |FROM (
      | SELECT event_type, count(*) AS cnt,
      |  CAST(sum(count(*)) OVER () AS BIGINT) AS total
      | FROM events GROUP BY 1)
      |WHERE cnt * 10 > total""".stripMargin.replace("\n", " ")

  /** Sketch-path heavy hitters — the shape for UNBOUNDED key
    * cardinality, where q50's exact groupBy would shuffle billions of
    * group rows. Two passes:
    *
    *  1. Candidate generation: the mergeable Misra-Gries Aggregator
    *     shared with [[graft.functions.Aggs.mgCandidatesOf]] (one MG
    *     implementation in the repo), run as a single GLOBAL
    *     aggregation: partial buffers of ≤`counters` entries combine
    *     map-side (ObjectHashAggregate), merge into one final sketch,
    *     and the driver fetches ONE row of at most `counters`
    *     candidates — bounded by the sketch size itself, tighter than
    *     a per-partition P·counters union (same topology-bound-collect
    *     argument as the Bloom bitmap / IVF centroid fetch). The
    *     mergeable-MG bound (Agarwal et al., PODS'12) caps total
    *     undercount at n/(counters+1), so any value with count >
    *     n/k survives when counters+1 ≥ k: the candidate set is a
    *     SUPERSET of the answer regardless of partitioning or merge
    *     order (property-tested in FunctionsSpec over random
    *     chunkings and merge shapes — exactly this path).
    *  2. Exact confirmation: one map-side-combinable groupBy where
    *     non-candidates collapse into a single null bucket (so the
    *     grand total still covers every row), then the q50 integer
    *     threshold. Sketch internals never reach the output — the
    *     result is exactly q50's, so it carries q50's full hash
    *     oracle (the same prune-don't-decide trick as the Bloom
    *     semi-join).
    */
  def q51HeavyHittersSketch(t: Tables, k: Int = 10, counters: Int = 64): DataFrame = {
    import t.spark.implicits._
    require(counters + 1 > k, "MG superset guarantee needs counters+1 > k")
    val types = t.widen(t.events.select($"event_type")).as[String]
    val cands = types
      .select(graft.functions.Aggs.mgCandidatesOf[String](counters)(identity).toColumn)
      .head().toSet
    val counts = t.events
      .groupBy(when($"event_type".isin(cands.toSeq: _*), $"event_type")
        .as("etype"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("total", sum($"cnt").over(Window.partitionBy()))
      .filter($"etype".isNotNull && $"cnt" * lit(k.toLong) > $"total")
      .select($"etype", $"cnt", $"total",
        ($"cnt".cast(DoubleType) / $"total".cast(DoubleType)).as("share"))
  }

  /** Retention cohort matrix — the product-analytics staple absent
    * from both the reference and the q-suite so far: users cohort by
    * their FIRST active day; each (cohort_day, day_offset) cell counts
    * how many of that cohort were active offset days later. All exact
    * integer arithmetic (day truncation + day diff + count).
    *
    * Scale shape: ONE user-keyed aggregation collects each user's
    * distinct active-day set (map-side partials combine; buffer
    * bounded by CALENDAR days — ≤ ~3.7k entries even for a 10-year
    * daily-active user, never by event volume), then cohort day
    * (= set min) and every offset derive ROW-LOCALLY with
    * higher-order functions, so there is no cohort join, and the
    * final cell count needs no distinct Expand — set membership
    * already guarantees one row per (user, offset). Total: two
    * exchanges (user-keyed set agg, matrix-keyed cell count) — vs the
    * textbook distinct + min-agg + join form's three full-activity
    * exchanges and a per-cell count(DISTINCT).
    */
  def q52RetentionCohorts(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.events
      .select($"user_id", date_trunc("day", $"ts").as("day"))
      .groupBy($"user_id").agg(collect_set($"day").as("days"))
      .select(expr("array_min(days)").as("cohort_day"),
        explode(expr("transform(days, d -> CAST(datediff(d, array_min(days)) AS BIGINT))"))
          .as("day_offset"))
      .groupBy($"cohort_day", $"day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  /** RANGE-frame window — the value-based frame the rest of the window
    * suite (ROWS frames, unbounded grand totals) doesn't exercise: per
    * customer, each order's trailing-30-day spend and order count.
    * The frame is defined on integer MICROSECONDS (unix_micros /
    * epoch_us — invariant 11's exact timestamp currency) rather than
    * an INTERVAL bound, so both engines resolve identical peer sets;
    * the spend accumulates in DECIMAL(18,4) and casts to double once
    * (invariant 2). RANGE frames include all peers of the current
    * order key, so ties agree by construction.
    *
    * Scale shape: one shuffle on o_custkey, then a per-partition
    * ordered scan with a sliding two-pointer frame — state is the
    * in-frame aggregate, never the partition. Same mega-customer
    * caveat as every per-entity ordered window (q17/q29): partition
    * width is one entity's history.
    */
  def q54RangeFrame(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy(unix_micros($"o_orderdate".cast("timestamp"))) // NTZ→TZ: exact under the pinned UTC session zone
      .rangeBetween(-30L * 86400L * 1000000L, 0L)
    t.orders.select($"o_orderkey", $"o_custkey",
      sum(dec($"o_totalprice")).over(w).cast(DoubleType).as("trail_spend"),
      count(lit(1)).over(w).as("trail_cnt"))
  }

  val q54Sql: String =
    """SELECT o_orderkey, o_custkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS trail_spend,
      | CAST(COUNT(*) OVER w AS BIGINT) AS trail_cnt
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
      | RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)""".stripMargin.replace("\n", " ")

  /** Rank-normalizing window functions — percent_rank and cume_dist,
    * the two members of the rank family (q10 rank, q33 ntile) not yet
    * covered. Both are exact single divisions of rank integers
    * ((rank−1)/(n−1) and |rows ≤ current|/n — invariant 3's
    * exactly-representable-operands rule), and tie handling is defined
    * identically by the SQL standard in both engines, so the result
    * hash-matches without a tiebreak column. Scale: one shuffle on the
    * 5-value priority key — the same bounded-partition caveat as every
    * exact rank query (q20/q33).
    */
  def q55PercentRank(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")
    t.orders.select($"o_orderkey", $"o_orderpriority",
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"))
  }

  val q55Sql: String =
    """SELECT o_orderkey, o_orderpriority,
      | percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)""".stripMargin
      .replace("\n", " ")

  val q52Sql: String =
    """WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id)
      |SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
      | count(DISTINCT user_id) AS n_users
      |FROM a JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin.replace("\n", " ")
}
