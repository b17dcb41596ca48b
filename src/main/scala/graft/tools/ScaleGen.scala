package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-rehearsal data generator (r16, verdict item 2):
  * synthesizes the TESTDATA.md table shapes at a multiple of the sf0.1
  * row counts into a caller-chosen directory (NEVER /root/testdata),
  * so the derived-knob ANN/dedup paths and the bench can be observed
  * above the shipped sf0.1 ceiling.
  *
  *   sbt -batch "runMain graft.tools.ScaleGen /tmp/sf1 10"
  *
  * Every value derives from xxhash64(id, tag) — no rand(), no
  * Date.now — so the output is bit-identical across runs, sessions,
  * and partitionings (the same discipline as the quantizer fit set).
  * Distributions mirror the driver's testdata, measured at sf0.1:
  *   documents  31-word vocabulary soup, 10–100 words/doc, weighted
  *              langs (en 41%, zh/es/fr 15%, de 14%), 20 uniform
  *              sources, ~1/625 adjacent exact-dup pairs
  *   embeddings 64-dim unit-norm gaussians (per-dim std 1/8 after
  *              normalization), labels 0–9
  *   TPC-H-ish  orders 1995–2001, 1–7 lineitems per order, the same
  *              flag/status/priority/segment/brand/type categories
  *   events     30 days of 2024-01 at µs resolution, 5 event types,
  *              user_id range scaled with the corpus
  * region/nation are fixed dims copied through from the reference dir.
  */
object ScaleGen {

  /** uniform in [0, 1) from (id, tag) — bit-stable across runs. */
  private def u(tag: String) =
    (abs(xxhash64(col("id"), lit(tag))) % 1000000007L).cast("double") / 1000000007.0

  /** integer in [0, n) from (id, tag). */
  private def h(tag: String, n: Long) = abs(xxhash64(col("id"), lit(tag))) % n

  /** standard gaussian via Box–Muller over two tagged uniforms. */
  private def gauss(tag: String) =
    sqrt(lit(-2.0) * log(greatest(u(tag + ":u1"), lit(1e-12)))) *
      cos(lit(2.0 * math.Pi) * u(tag + ":u2"))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: ScaleGen <outDir> [mult] [neardup] [clustered] [table ...]")
    val out = args(0)
    require(!out.startsWith("/root/testdata"), "refusing to write into /root/testdata")
    val mult = if (args.length > 1) args(1).toInt else 10
    val rest = args.drop(2)
    val nearDup = rest.contains("neardup")
    val clustered = rest.contains("clustered")
    val only = rest.filterNot(f => f == "neardup" || f == "clustered").toSet
    val spark = DriverSession.build(DriverSession.cpus)
    generate(spark, out, mult, only = only, nearDup = nearDup,
      clustered = clustered)
    spark.stop()
  }

  def generate(spark: SparkSession, out: String, mult: Int,
               refDims: String = "/root/testdata/sf0.1",
               only: Set[String] = Set.empty,
               nearDup: Boolean = false,
               clustered: Boolean = false): Unit = {
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nPart = 20000L * mult
    val nOrd = 150000L * mult
    val nDoc = 5000L * mult
    val nEmb = 2000L * mult
    val nEvt = 100000L * mult
    val nUser = 1500L * mult

    def rng(n: Long): DataFrame =
      spark.range(0, n, 1, 32).toDF("id")
    def save(df: => DataFrame, name: String): Unit =
      if (only.isEmpty || only(name)) {
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
        println(s"[scalegen] wrote $name")
      } else println(s"[scalegen] skipped $name (subset)")

    // fixed dims: identical to the reference testdata
    save(spark.read.parquet(s"$refDims/region.parquet"), "region")
    save(spark.read.parquet(s"$refDims/nation.parquet"), "nation")

    save(rng(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h("cnat", 25).cast("int").as("c_nationkey"),
      round(u("cbal") * 10999.65 - 999.85, 2).as("c_acctbal"),
      element_at(typedLit(Seq("MACHINERY", "BUILDING", "FURNITURE",
        "AUTOMOBILE", "HOUSEHOLD")), (h("cseg", 5) + 1).cast("int"))
        .as("c_mktsegment")), "customer")

    save(rng(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h("snat", 25).cast("int").as("s_nationkey"),
      round(u("sbal") * 10999.65 - 999.85, 2).as("s_acctbal")), "supplier")

    save(rng(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        element_at(typedLit(Seq("large", "hot", "blue", "green", "small",
          "shiny", "red", "dark", "light", "old")), (h("pn1", 10) + 1).cast("int")),
        element_at(typedLit(Seq("ring", "bolt", "screw", "wheel", "plate",
          "rod", "case", "box", "cap", "pin")), (h("pn2", 10) + 1).cast("int")))
        .as("p_name"),
      format_string("Brand#%d", h("pbr", 25) + 1).as("p_brand"),
      element_at(typedLit(Seq("PROMO", "ECONOMY", "LARGE", "STANDARD",
        "MEDIUM", "SMALL")), (h("pty", 6) + 1).cast("int")).as("p_type"),
      (h("psz", 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + h("prp", 1000).cast("double") / 10.0, 2)
        .as("p_retailprice")), "part")

    val orders = rng(nOrd).select(
      col("id").as("o_orderkey"),
      h("ocust", nCust).as("o_custkey"),
      element_at(typedLit(Seq("O", "P", "F")), (h("ost", 3) + 1).cast("int"))
        .as("o_orderstatus"),
      round(u("otp") * 498991.27 + 1001.91, 2).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), h("odt", 2405).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")), (h("opr", 5) + 1).cast("int"))
        .as("o_orderpriority"))
    save(orders, "orders")

    // 1–7 lineitems per order (avg 4 — the sf0.1 ratio)
    save(orders.select(col("o_orderkey").as("id"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), (h("onl", 7) + 1).cast("int"))))
      .select(
        col("id").as("l_orderkey"),
        abs(xxhash64(col("id"), col("l_linenumber"), lit("lpart"))).mod(nPart)
          .as("l_partkey"),
        abs(xxhash64(col("id"), col("l_linenumber"), lit("lsupp"))).mod(nSupp)
          .as("l_suppkey"),
        col("l_linenumber"),
        (abs(xxhash64(col("id"), col("l_linenumber"), lit("lqty"))).mod(50L) + 1)
          .cast("double").as("l_quantity"),
        round((abs(xxhash64(col("id"), col("l_linenumber"), lit("lep")))
          .mod(1000000007L).cast("double") / 1000000007.0) * 104099.23 + 900.68, 2)
          .as("l_extendedprice"),
        (abs(xxhash64(col("id"), col("l_linenumber"), lit("ldis"))).mod(11L)
          .cast("double") / 100.0).as("l_discount"),
        (abs(xxhash64(col("id"), col("l_linenumber"), lit("ltax"))).mod(9L)
          .cast("double") / 100.0).as("l_tax"),
        element_at(typedLit(Seq("A", "N", "R")),
          (abs(xxhash64(col("id"), col("l_linenumber"), lit("lrf"))).mod(3L) + 1)
            .cast("int")).as("l_returnflag"),
        element_at(typedLit(Seq("O", "F")),
          (abs(xxhash64(col("id"), col("l_linenumber"), lit("lls"))).mod(2L) + 1)
            .cast("int")).as("l_linestatus"),
        date_add(col("o_orderdate").cast("date"),
          (abs(xxhash64(col("id"), col("l_linenumber"), lit("lsd"))).mod(95L) + 1)
            .cast("int")).cast("timestamp").as("l_shipdate")), "lineitem")

    // documents: the measured 31-word soup; ~1/625 adjacent dup pairs
    // (sid = text seed; id % 625 == 1 reuses the previous id's text).
    // nearDup additionally plants MUTATED copies at id % 125 == 2
    // (disjoint from the exact-dup ids): the doc reuses the previous
    // id's text but ~1/17 of word positions are hash-substituted, so
    // planted pairs span a similarity SPECTRUM around each dedup
    // family's threshold (levenshtein 0-12 on the 64-char key, word-
    // 5-gram Jaccard/containment straddling 0.1/0.5) instead of the
    // degenerate jaccard=1/dist=0 of exact copies. A recall check
    // against exact pair truth needs such boundary pairs: on the
    // default corpus a probe sample would catch only a handful of
    // exact-copy truth pairs, which every family finds trivially. Off
    // by default so default output stays byte-identical across rounds.
    // Mutation seeds from the partner's EFFECTIVE sid (r18): a doc at
    // id = 2 (mod 625) mutates doc id-1, but id-1 = 1 (mod 625) was
    // itself rewritten to reuse id-2's text — seeding that case from
    // id-2 makes every planted pair a REAL near-dup (the old id-1
    // seed produced an unrelated text ~1 in 5 plants, diluting the
    // probe set; truth is exact either way, so no recorded number was
    // wrong — just noisier).
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val mutated = col("id") % 125 === 2 && lit(nearDup)
    save(rng(nDoc)
      .withColumn("sid",
        when(col("id") % 625 === 1 || mutated,
          when((col("id") - 1) % 625 === 1, col("id") - 2)
            .otherwise(col("id") - 1))
          .otherwise(col("id")))
      .withColumn("nw", (abs(xxhash64(col("sid"), lit("dnw"))) % 91 + 10).cast("int"))
      .withColumn("text", concat_ws(" ", transform(
        sequence(lit(1), col("nw")),
        i => when(mutated && abs(xxhash64(col("id"), i, lit("mut"))) % 17 === 0,
          element_at(typedLit(vocab),
            (abs(xxhash64(col("id"), i, lit("mw"))) % vocab.size + 1).cast("int")))
          .otherwise(element_at(typedLit(vocab),
            (abs(xxhash64(col("sid"), i, lit("dw"))) % vocab.size + 1).cast("int"))))))
      .select(
        col("id").as("doc_id"),
        col("text"),
        // weighted langs: en 41%, zh/es/fr 15%, de 14% (measured)
        when(h("dlang", 100) < 41, "en").when(h("dlang", 100) < 56, "zh")
          .when(h("dlang", 100) < 71, "es").when(h("dlang", 100) < 86, "fr")
          .otherwise("de").as("lang"),
        format_string("src%d", h("dsrc", 20)).as("source"),
        length(col("text")).cast("long").as("n_chars")), "documents")

    // embeddings: 64-dim unit-norm gaussians, labels 0-9. In neardup
    // mode the doc planting is mirrored in embedding space: exact
    // copies at id % 625 == 1 (cos 1.0 with id-1) and MUTATED copies
    // at id % 125 == 2 — the source gaussian plus 0.15-relative noise,
    // cos ≈ 1/√(1+0.15²) ≈ 0.989 — i.e. the tight re-encode/paraphrase
    // clusters real SemDeDup corpora dedup (τ ≈ 0.9). Without them the
    // embedding truth at ANY threshold is pure random extremes (the
    // uniform corpus's pairwise cosines are ~N(0, 1/8)), which is the
    // worst case for a geometric blocker and the only regime the r17
    // decade scan could observe before this change.
    val mutatedE = col("id") % 125 === 2 && lit(nearDup)
    def gauss(idCol: Column) = transform(sequence(lit(0), lit(63)),
      i => sqrt(lit(-2.0) * log(greatest(
        (abs(xxhash64(idCol, i, lit("eu1"))) % 1000000007L).cast("double")
          / 1000000007.0, lit(1e-12)))) *
        cos(lit(2.0 * math.Pi) *
          (abs(xxhash64(idCol, i, lit("eu2"))) % 1000000007L).cast("double")
            / 1000000007.0))
    // clustered mode (r19): a 64-component mixture of gaussians —
    // vector = center(cid) + 0.35·noise before normalization, cid
    // hash-assigned. Within-cluster cosines concentrate ~0.89, cross-
    // cluster ~N(0, 1/64): the geometry real sentence-embedding
    // corpora have (topical clusters), vs the default near-uniform
    // sphere where a probe's true neighbors spread over most IVF
    // cells. Built for the nprobeFor ladder study (SCALING.md): on
    // clustered data nprobe << nlist holds recall, on uniform data
    // the 5/8·nlist fraction is genuinely needed.
    def cgauss(idCol: Column) = transform(sequence(lit(0), lit(63)),
      i => sqrt(lit(-2.0) * log(greatest(
        (abs(xxhash64(idCol, i, lit("ec1"))) % 1000000007L).cast("double")
          / 1000000007.0, lit(1e-12)))) *
        cos(lit(2.0 * math.Pi) *
          (abs(xxhash64(idCol, i, lit("ec2"))) % 1000000007L).cast("double")
            / 1000000007.0))
    save(rng(nEmb)
      .withColumn("esid",
        when((col("id") % 625 === 1 && lit(nearDup)) || mutatedE,
          when((col("id") - 1) % 625 === 1, col("id") - 2)
            .otherwise(col("id") - 1))
          .otherwise(col("id")))
      .withColumn("cid", abs(xxhash64(col("esid"), lit("ecl"))) % 64)
      .withColumn("g0",
        if (clustered)
          zip_with(cgauss(col("cid")), gauss(col("esid")),
            (c, n) => c + lit(0.35) * n)
        else gauss(col("esid")))
      .withColumn("g",
        when(mutatedE, zip_with(col("g0"), gauss(col("id")),
          (s, n) => s + lit(0.15) * n)).otherwise(col("g0")))
      .withColumn("nrm", sqrt(aggregate(col("g"), lit(0.0), (a, x) => a + x * x)))
      .select(
        col("id").as("vec_id"),
        transform(col("g"), x => (x / col("nrm")).cast("float")).as("embedding"),
        h("elab", 10).cast("int").as("label")), "embeddings")

    // events: 30 days of 2024-01 at µs resolution
    save(rng(nEvt).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + h("ets", 30L * 86400000000L))
        .as("ts"),
      h("euid", nUser).as("user_id"),
      element_at(typedLit(Seq("signup", "purchase", "view", "click", "error")),
        (h("eet", 5) + 1).cast("int")).as("event_type"),
      round(u("eval") * 560.21, 2).as("value"),
      format_string("{\"k\": %d}", h("ek", 100)).as("props")), "events")
  }
}
