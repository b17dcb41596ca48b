package graft.tools

import graft.io.Tables
import graft.sim.Similarity

/** Adjudication tool: recall of the pruned ANN/dedup variants vs their
  * exact baselines across (nlist, nprobe, assign) — the measurement
  * behind the nprobe/nlist defaults (see Similarity.annIvf /
  * annIvfInt8 / nlistFor scaladoc) and the check.py recall bands.
  * Covers the float IVF path, the int8 ADC path (whose batch output
  * the cell-keyed streaming probe reproduces bit for bit, so its
  * curve is ALSO the streaming probe's curve), and the IVF-blocked
  * embedding dedup's pair recall. Run:
  *   sbt -batch "runMain graft.tools.AnnProbeScan /root/testdata/sf0.1 [nlists] [nprobes] [assigns]"
  * with csv knob lists, e.g. "16,32" "10,16,20" "4,6" (defaults below).
  */
object AnnProbeScan {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("stale")) { staleDemo(args.drop(1)); return }
    if (args.headOption.contains("decade")) { decade(args.drop(1)); return }
    if (args.headOption.contains("planscan")) { planScan(args.drop(1)); return }
    if (args.headOption.contains("fitted")) { fittedDemo(args.drop(1)); return }
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val nlists = (if (args.length > 1) args(1) else "16").split(",").map(_.trim.toInt)
    val nprobes = (if (args.length > 2) args(2) else "8,10,12").split(",").map(_.trim.toInt)
    val assigns = (if (args.length > 3) args(3) else "").split(",").filter(_.nonEmpty).map(_.trim.toInt)
    val spark = DriverSession.build(DriverSession.cpus)
    val t = Tables(spark, dir)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.annBruteForce(t))
    for (nl <- nlists; np <- nprobes if np <= nl) {
      val found = pairs(Similarity.annIvf(t, nlist = nl, nprobe = np))
      val r = (truth & found).size.toDouble / truth.size
      println(f"ANNPROBE ivf nlist=$nl nprobe=$np recall@5=$r%.3f (${(truth & found).size}/${truth.size})")
    }
    for (nl <- nlists; np <- nprobes if np <= nl) {
      val found = pairs(Similarity.annIvfInt8(t, nlist = nl, nprobe = np))
      val r = (truth & found).size.toDouble / truth.size
      println(f"ANNPROBE ivf_int8 nlist=$nl nprobe=$np recall@5=$r%.3f (${(truth & found).size}/${truth.size})")
    }
    if (assigns.nonEmpty) {
      val exact = pairs(Similarity.embeddingNearDup(t).select("id_a", "id_b"))
      for (nl <- nlists; a <- assigns) {
        val found = pairs(Similarity.embeddingNearDupIvf(t, nlist = nl, assign = a)
          .select("id_a", "id_b"))
        val r = (exact & found).size.toDouble / exact.size
        println(f"ANNPROBE dedup_ivf nlist=$nl assign=$a pair_recall=$r%.3f (${(exact & found).size}/${exact.size})")
      }
    }
    println(s"ANNPROBE nlistFor: n=${Similarity.corpusSize(t)} -> " +
      s"nlist=${Similarity.nlistFor(Similarity.corpusSize(t))}")
    spark.stop()
  }

  /** Derived-knob recall at a NEW corpus decade on a probe subsample:
    *   sbt -batch "runMain graft.tools.AnnProbeScan decade <dir> [probeMod]"
    * The per-probe search cost of the IVF/PQ family is O(N·nprobe/
    * nlist) regardless of how many probes run, so a subsampled probe
    * set (probeMod >> 13) makes a decade above the full-rehearsal
    * ceiling tractable: recall estimated on the subsample is an
    * unbiased estimate of the %13 workload's recall (probe ids are
    * hash-spread by construction). Every knob is DERIVED from corpus
    * size — the point is to observe the nlistFor/nprobeFor/rerankFor
    * ladders at a decade nobody calibrated against (SCALING.md §10x).
    */
  /** Optional third arg: a csv nprobe list — sweeps the float-IVF
    * recall curve over it (the nprobeFor ladder study on clustered vs
    * uniform geometry, SCALING.md r19). */
  private def decade(rest: Array[String]): Unit = {
    val dir = rest.headOption.getOrElse("/tmp/gen_sf10emb")
    val pm = if (rest.length > 1) rest(1).toInt else 1300
    val npSweep = if (rest.length > 2)
      rest(2).split(",").map(_.trim.toInt).toSeq else Seq.empty[Int]
    val spark = DriverSession.build(DriverSession.cpus)
    val t = Tables(spark, dir)
    val n = Similarity.corpusSize(t)
    val nl = Similarity.nlistFor(n)
    println(s"ANNPROBE decade n=$n probeMod=$pm -> nlist=$nl " +
      s"nprobe=${Similarity.nprobeFor(nl)} assign=${Similarity.assignFor(nl)} " +
      s"rerank=${Similarity.rerankFor(n)} tau=${Similarity.semanticTauCalibrated(t)} " +
      s"(ladder ${Similarity.semanticTauFor(n)})")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("probe_id", "cand_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    var tm = System.nanoTime()
    val truth = pairs(Similarity.annBruteForce(t, probeMod = pm))
    println(f"ANNPROBE decade brute      pairs=${truth.size} ${(System.nanoTime() - tm) / 1e9}%.1f s")
    def report(tag: String, df: => org.apache.spark.sql.DataFrame): Unit = {
      tm = System.nanoTime()
      val found = pairs(df)
      val r = (truth & found).size.toDouble / math.max(truth.size, 1)
      println(f"ANNPROBE decade $tag%-10s recall@5=$r%.3f " +
        f"(${(truth & found).size}/${truth.size}) ${(System.nanoTime() - tm) / 1e9}%.1f s")
    }
    if (npSweep.nonEmpty) {
      // nprobe ladder study: float-IVF recall per nprobe at this
      // corpus's derived nlist — cheap per point (cell pruning means
      // cost ∝ nprobe), so the curve shape is the whole output
      npSweep.filter(_ <= nl).foreach { np =>
        report(f"ivf np=$np%-4d", Similarity.annIvf(t, nprobe = np, probeMod = pm))
      }
    } else {
      report("ivf", Similarity.annIvf(t, probeMod = pm))
      report("ivf_int8", Similarity.annIvfInt8(t, probeMod = pm))
      report("pq", Similarity.annPq(t, probeMod = pm))
      report("ivf_pq", Similarity.annIvfPq(t, probeMod = pm))
    }
    spark.stop()
  }

  /** Probe-ASSIGNMENT stage audit at a corpus decade (r19, the
    * TopCells-swap done-criterion):
    *   sbt -batch "runMain graft.tools.AnnProbeScan planscan <dir> [probeMod] [nprobe]"
    * Runs annIvf with a CORPUS-FRACTION probe set (the regime where
    * the old crossJoin+window form sorted (N/probeMod)·nlist
    * vector-wide rows — the measured defect-4 disk-filler shape) and
    * prints the EXECUTED plan's operator list: the assignment must
    * appear as Generate(explode(graft_top_cells)) with no Window/Sort
    * between the probe scan and the cell join (the only legitimate
    * Sort/Window is the final top-5 rank behind its pinned exchange).
    */
  private def planScan(rest: Array[String]): Unit = {
    val dir = rest.headOption.getOrElse("/tmp/gen_nd1000c")
    val pm = if (rest.length > 1) rest(1).toInt else 130
    val np = if (rest.length > 2) rest(2).toInt else 8
    val spark = DriverSession.build(DriverSession.cpus)
    val t = Tables(spark, dir)
    val n = Similarity.corpusSize(t)
    val tm = System.nanoTime()
    val df = Similarity.annIvf(t, nprobe = np, probeMod = pm)
    val rows = df.count()
    println(f"ANNPROBE planscan n=$n probeMod=$pm nprobe=$np rows=$rows " +
      f"${(System.nanoTime() - tm) / 1e9}%.1f s")
    // annIvf localCheckpoints its output; the pre-checkpoint plan is
    // what carries the assignment stage — rebuild it unexecuted
    val plan = Similarity.annIvf(t, nprobe = np, probeMod = pm,
      checkpoint = false).queryExecution.executedPlan.toString
    val ops = plan.linesIterator
      .map(_.replaceAll("^[-+*: ()\\d\\[\\]]+", "").takeWhile(_ != ' '))
      .filter(op => op.nonEmpty && op.head.isUpper).toSeq
    println("ANNPROBE planscan operators: " + ops.distinct.mkString(", "))
    val hasTopCells = plan.contains("graft_top_cells")
    // exact node name: WindowGroupLimit is the rank-limit pushdown
    // companion of the SAME top-5 window, not a second sort
    val windows = ops.count(_ == "Window")
    println(s"ANNPROBE planscan graft_top_cells=$hasTopCells " +
      s"windowOps=$windows (1 = the final top-5 rank only)")
    spark.stop()
  }

  /** Data-aware nprobe calibration (r20, Similarity.nprobeFitted —
    * the r19 ladder study as a library path):
    *   sbt -batch "runMain graft.tools.AnnProbeScan fitted <dir> [target] [probeMod]"
    * Fits the smallest ladder nprobe whose subsampled recall@5 clears
    * `target` on THIS corpus and prints it next to the
    * uniform-calibrated default — the per-corpus artifact a real index
    * build would record instead of assuming the 5/8 cell fraction.
    */
  private def fittedDemo(rest: Array[String]): Unit = {
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.1")
    val target = if (rest.length > 1) rest(1).toDouble else 0.97
    val pm = if (rest.length > 2) rest(2).toInt else 0
    val spark = DriverSession.build(DriverSession.cpus)
    val t = Tables(spark, dir)
    val n = Similarity.corpusSize(t)
    val nl = Similarity.nlistFor(n)
    val tm = System.nanoTime()
    val fitted = Similarity.nprobeFitted(t, target = target, probeMod = pm)
    println(f"ANNPROBE fitted n=$n nlist=$nl target=$target%.2f -> " +
      f"nprobe=$fitted (uniform default ${Similarity.nprobeFor(nl)}) " +
      f"${(System.nanoTime() - tm) / 1e9}%.1f s")
    spark.stop()
  }

  /** Drift-flag demonstration for the ann_recall_probe monitor:
    *   sbt -batch "runMain graft.tools.AnnProbeScan stale [sfDir]"
    * Runs the probe twice — against the fresh index (flag must be
    * clear) and against a deliberately STALE one whose centroid table
    * is rotated one cell (the geometry a drifted corpus produces: the
    * resident assignments no longer match the centroids the probe
    * ranks against), where the flag must fire.
    */
  private def staleDemo(rest: Array[String]): Unit = {
    val dir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = DriverSession.build(DriverSession.cpus)
    val t = Tables(spark, dir)
    def report(tag: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val r = df.select("recall", "refit").head()
      println(f"ANNPROBE $tag recall=${r.getDouble(0)}%.3f refit=${r.getInt(1)}")
    }
    report("fresh", Similarity.annRecallProbe(t))
    val (idx, cents) = Similarity.quantizedCellIndex(t)
    val nl = cents.size
    val rotated = cents.map { case (cell, c) => ((cell + 1) % nl, c) }
      .sortBy(_._1)
    report("stale", Similarity.annRecallProbe(t, index = Some((idx, rotated))))
    spark.stop()
  }
}
