package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark driver. One JVM, one `local[cores]` session built by
  * `tools.DriverSession.build`, one client running one op at a time in
  * a closed loop.
  *
  *   Main --workload <relational|curation|maplejuice_gen> --seed <n>
  *        --seconds <s> --trace <0|1> --bench <benchmark dir>
  *        --work <scratch dir> [--traces <dir>] [--cores <n>]
  *   Main --record-goldens <file> --bench <dir> --work <dir>
  *   Main --selftest 1 --bench <dir> --work <dir>
  *   Main --crosscheck <Verify output dir> --bench <dir> --work <dir>
  *
  * A run sets up (session, inputs, one warm-up pass on small inputs),
  * then runs whole passes over the workload's ops until `seconds` have
  * passed (at least one). The last line of stdout is the result JSON. */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def parse(args: Array[String]): Args = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      "arguments come as --key value pairs")
    Args(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val bench = Paths.get(args("bench"))
    val work = Paths.get(args("work"))
    val cores = args.get("cores").getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.tools.DriverSession.build(cores)
    val code =
      try {

        if (args.get("selftest").isDefined) SelfTest.run(spark, bench, work)
        else if (args.get("crosscheck").isDefined)
          crosscheck(spark, bench, Paths.get(args("crosscheck")))
        else if (args.get("record-goldens").isDefined)
          recordGoldens(spark, bench, Paths.get(args("record-goldens")))
        else run(spark, args, bench, work, cores.toInt)
      } finally spark.stop()
    // The session is stopped and every result is printed; halting skips
    // the JVM shutdown hooks, which spend 10 s or more here on nothing
    // the benchmark needs (run.py removes the scratch files itself).
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  def sweepDir(bench: Path, sf: String): String = bench.resolve(s"data/$sf").toString
  def goldensPath(bench: Path): Path = bench.resolve("goldens.tsv")

  /** Materialize all 156 sweep queries once at sf0.1, not only the
    * timed subsets, and write each one's golden line: rows and digest
    * (rows and schema for rows-only queries). */
  def recordGoldens(spark: SparkSession, bench: Path, out: Path): Int = {
    val hooks = new Hooks
    val lines = Seq("relational", "curation").flatMap { wl =>
      val runs = Sweeps.pass(Sweeps.ops(spark, wl, sweepDir(bench, "sf0.1"), None, full = true),
        hooks)
      runs.filterNot(_.ok).foreach(r => System.err.println(s"${r.name}: ${r.error.get}"))
      require(runs.forall(_.ok), "a sweep query failed; no goldens written")
      runs.map(r => Sweeps.goldenLine(r.name, r.outcome.get))
    }
    Files.write(out, (("# name\trows\tdigest\tschema" +: lines).mkString("", "\n", "\n")).getBytes(UTF_8))
    println(s"wrote ${lines.size} goldens to $out")
    0
  }

  /** Digest each query's parquet in a `graft.Verify` output directory
    * and compare it with the goldens. Verify writes the same rows the
    * benchmark hashes, so a query whose Verify output passes
    * tools/check.py and matches here has an oracle-checked golden. */
  def crosscheck(spark: SparkSession, bench: Path, dir: Path): Int = {
    val goldens = Sweeps.readGoldens(goldensPath(bench))
    val hooks = new Hooks
    val results = goldens.keys.toSeq.sorted.map { name =>
      val p = dir.resolve(name)
      if (!Files.isDirectory(p)) name -> Some("no Verify output")
      else name -> Sweeps.check(name, goldens.get(name))(
        Ops.materialize(spark.read.parquet(p.toString), hooks))
    }
    results.foreach { case (n, e) => println(s"${if (e.isEmpty) "match" else "MISMATCH"} $n${e.fold("")(": " + _)}") }
    val bad = results.count(_._2.isDefined)
    println(s"${results.size - bad} of ${results.size} goldens match the Verify output")
    if (bad == 0) 0 else 1
  }

  /** A workload's ops at full size and on warm-up inputs, plus the bytes
    * its inputs take (the base of input_mb_per_s). */
  final case class Setup(ops: Seq[Op], warm: Seq[Op], inputBytes: Long,
      pass: (Seq[Op], Hooks) => Seq[OpRun])

  def setup(spark: SparkSession, workload: String, seed: Long, bench: Path,
      work: Path): Setup = workload match {
    case "relational" | "curation" =>
      val goldens = Sweeps.readGoldens(goldensPath(bench))
      val full = sweepDir(bench, "sf0.1")
      val bytes = Files.list(Paths.get(full)).toArray.map(p => Files.size(p.asInstanceOf[Path])).sum
      Setup(Sweeps.ops(spark, workload, full, Some(goldens)),
        Sweeps.ops(spark, workload, sweepDir(bench, "sf0.001"), None),
        bytes, Sweeps.pass)
    case "maplejuice_gen" =>
      val script = bench.resolve("pipe_wordcount.py").toString
      def at(g: Gen, name: String) = {
        val in = g.write(work.resolve(s"$name/input"))
        (MapleJuiceGen.ops(spark, g, in, work.resolve(s"$name/output"), script), in)
      }
      val (ops, in) = at(Gen(seed, MapleJuiceGen.CsvRows, MapleJuiceGen.TextLines), "full")
      // one unchecked op of each shape warms up; the Sdemo1 jobs differ
      // only in their argument
      val (small, _) = at(Gen(seed, MapleJuiceGen.CsvRows / 50, MapleJuiceGen.TextLines / 50), "warm")
      val warm = small.filterNot(_.name.matches("sdemo1_[1-9].*")).map(_.copy(check = _ => None))
      Setup(ops, warm, in.bytes, (o, h) => MapleJuiceGen.pass(spark, o, h))
    case other => sys.error(s"unknown workload: $other")
  }

  def run(spark: SparkSession, args: Args, bench: Path, work: Path, cores: Int): Int = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val s = setup(spark, workload, seed, bench, work)
    val warm = s.pass(s.warm, new Hooks)
    warm.filterNot(_.ok).foreach(r => println(s"warm-up ${r.name} failed: ${r.error.get}"))
    // Start every run's timed passes from the same heap: a collection
    // lets Spark's ContextCleaner drop the warm-up's unreferenced
    // blocks, shuffles and broadcasts now instead of mid-pass.
    System.gc()
    // set-up runs from JVM start: class loading, session, inputs, warm-up
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    def timed(hooks: Hooks, budget: Double): Seq[Seq[OpRun]] = {
      val t0 = System.nanoTime()
      val passes = collection.mutable.ArrayBuffer.empty[Seq[OpRun]]
      while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < budget)
        passes += s.pass(s.ops, hooks)
      passes.toSeq
    }

    val plain = new PeakHooks(spark)
    val passes = timed(plain, seconds)
    val e2e = Report.endToEnd(passes, setupS, plain.peakMb, s.inputBytes)
    Report.printHuman(workload, seed, passes, e2e)
    // A traced run then times traced passes and untraced ones again, so
    // the overhead compares passes that are equally warm.
    val tracedPasses = collection.mutable.ArrayBuffer.empty[Seq[OpRun]]
    val metrics =
      if (!traced) Report.e2eMetrics(e2e)
      else {
        val tracer = new Tracer(spark)
        val tpasses = try timed(tracer, seconds) finally tracer.drain()
        tracer.close()
        val again = timed(plain, seconds)
        tracedPasses ++= tpasses ++ again
        val untracedS = Report.endToEnd(again, setupS, 0, s.inputBytes).totalS
        val overhead = Report.endToEnd(tpasses, setupS, 0, s.inputBytes).totalS - untracedS
        val layers = Report.perLayer(tracer, tpasses.size, cores, overhead)
        val traces = Paths.get(args.get("traces").getOrElse(work.resolve("traces").toString))
        val out = traces.resolve(s"$workload-seed$seed.json")
        Files.createDirectories(traces)
        Files.write(out, Report.traceJson(workload, seed, tracer, layers, untracedS, overhead)
          .getBytes(UTF_8))
        println(s"trace written to $out")
        Report.layerMetrics(layers)
      }
    val all = (passes ++ tracedPasses).flatten
    val failed = all.count(!_.ok)
    println(Report.resultLine(failed == 0, all.size, failed, metrics))
    0
  }
}
