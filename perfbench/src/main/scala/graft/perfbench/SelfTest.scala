package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The benchmark's own checks, run with `python3 perfbench/run.py
  * --selftest`:
  *
  *  1. failure accounting: an op that throws and an op whose output does
  *     not match are both failed records, neither adds to any latency,
  *     and neither is dropped;
  *  2. the generator: the same seed gives identical bytes and expected
  *     outputs, another seed gives different inputs;
  *  3. a small `maplejuice_gen` pass whose every op matches the
  *     plain-Scala expectation, and a sweep query whose digest does not
  *     depend on the partitioning. */
object SelfTest {

  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(spark: SparkSession, bench: Path, work: Path): Int = {
    failureAccounting()
    generator(work)
    endToEnd(spark, bench, work)
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }

  private def failureAccounting(): Unit = {
    val hooks = new Hooks
    def slow(s: Double)(f: => Outcome): Hooks => Outcome = _ => { Thread.sleep((s * 1000).toLong); f }
    val good = Outcome(3, 7, "")
    val ops = Seq(
      Op("passes", slow(0.01)(good), o => if (o == good) None else Some("mismatch")),
      Op("throws", slow(0.3)(throw new IllegalStateException("boom")), _ => None),
      Op("mismatches", slow(0.3)(good.copy(digest = 8)), o => if (o == good) None else Some("digest")))
    val passes = Seq.fill(2)(ops.map(Ops.runOne(_, hooks)))
    val runs = passes.flatten
    expect("both bad ops are failed records", runs.count(!_.ok) == 4 && runs.size == 6)
    expect("the thrown error is reported",
      runs.exists(r => r.name == "throws" && r.error.exists(_.contains("boom"))))
    expect("the mismatch is reported",
      runs.exists(r => r.name == "mismatches" && r.error.contains("digest")))
    val e = Report.endToEnd(passes, 1.0, 1.0, 1L << 20)
    expect("failed ops add to no latency", e.totalS < 0.1 && e.p50S < 0.1)
    expect("failed_frac counts every attempt", e.attempted == 6 && e.failed == 4 &&
      math.abs(e.failedFrac - 4.0 / 6) < 1e-12)
    val line = Report.resultLine(e.failed == 0, e.attempted, e.failed, Report.e2eMetrics(e))
    expect("the result line says incorrect", line.startsWith("""{"correct": false, "attempted": 6, "failed": 4"""))
    expect("tail percentiles: p83 of 62, p89 of 94",
      Ops.tailPercent(62) == 83 && Ops.tailPercent(94) == 89)
  }

  private def generator(work: Path): Unit = {
    val a = Gen(7, 3000, 2000)
    val b = Gen(7, 3000, 2000)
    val c = Gen(8, 3000, 2000)
    val (pa, pb, pc) = (a.write(work.resolve("st/a")), b.write(work.resolve("st/b")),
      c.write(work.resolve("st/c")))
    def bytes(i: Inputs) = Seq(i.csv, i.csv2, i.text).map(p => Files.readAllBytes(p).toSeq)
    expect("same seed, identical input bytes", bytes(pa) == bytes(pb))
    expect("same seed, identical expected outputs",
      a.wordCounts == b.wordCounts && a.interconnects == b.interconnects &&
        a.interconnects.map(a.sdemo1) == b.interconnects.map(b.sdemo1) &&
        a.joinPairs == b.joinPairs && a.filterIds("Radio") == b.filterIds("Radio"))
    expect("another seed, different inputs",
      bytes(pa).zip(bytes(pc)).forall { case (x, y) => x != y })
    expect("inputs keep the fixture quirks: BOM, X header, ragged and empty cells",
      a.csv.head.startsWith("﻿X,Y,OBJECTID") &&
        a.csv.tail.exists(_.split(",", -1).length < 11) &&
        a.csv.tail.exists(_.contains(",,")))
    expect("Interconne keys are skewed",
      a.csv.tail.map(_.split(",", -1)).filter(_.length > 10).groupBy(_(10))
        .values.map(_.size).toSeq.sorted.reverse match {
          case top +: rest => top > 3 * rest.last
          case _ => false
        })
  }

  private def endToEnd(spark: SparkSession, bench: Path, work: Path): Unit = {
    val hooks = new Hooks
    val g = Gen(11, 2000, 2000)
    val in = g.write(work.resolve("st/e2e/input"))
    val ops = MapleJuiceGen.ops(spark, g, in, work.resolve("st/e2e/output"),
      bench.resolve("pipe_wordcount.py").toString)
    val runs = MapleJuiceGen.pass(spark, ops, hooks)
    runs.filterNot(_.ok).foreach(r => println(s"     ${r.name}: ${r.error.get}"))
    expect(s"maplejuice_gen pass: ${runs.size} ops match their expected outputs",
      runs.forall(_.ok))

    // a wrong expectation must fail the op
    val wrong = Gen(12, 2000, 2000)
    val bad = MapleJuiceGen.ops(spark, wrong, in, work.resolve("st/e2e/output"),
      bench.resolve("pipe_wordcount.py").toString).filter(_.name == "pipe_wordcount")
    expect("a maplejuice_gen op checked against another seed fails",
      MapleJuiceGen.pass(spark, bad, hooks).forall(!_.ok))

    val dir = Main.sweepDir(bench, "sf0.001")
    val df = graft.SparkEntry.queries("q1_agg")(spark, dir)
    val one = Ops.materialize(df.coalesce(1), hooks)
    val many = Ops.materialize(df.repartition(7), hooks)
    expect("the result digest does not depend on the partitioning",
      one.rows == many.rows && one.digest == many.digest && one.rows > 0)
  }
}
