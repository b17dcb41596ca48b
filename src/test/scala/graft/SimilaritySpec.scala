package graft

import graft.sim.Similarity

class SimilaritySpec extends SparkSuite {

  /** Constructed embeddings: id 0 is a probe (0 % 13 == 0); id 1 is an
    * exact duplicate of 0; id 2 is close; id 3 orthogonal; id 4
    * opposite. Vectors are 64-dim.
    */
  private lazy val t = {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    def vec(f: Int => Float): Array[Float] = Array.tabulate(64)(f)
    val base = vec(i => if (i == 0) 1f else 0.01f * i)
    val close = vec(i => if (i == 0) 0.9f else 0.011f * i)
    val ortho = vec(i => if (i == 1) 1f else 0f)
    val anti = base.map(-_)
    tempTables { dir =>
      Seq(
        (0L, base, 0), (1L, base, 0), (2L, close, 0), (3L, ortho, 1), (4L, anti, 1)
      ).toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
    }
  }

  test("brute-force top-k ranks exact dup first, close second, anti last") {
    val rows = Similarity.annBruteForce(t).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(2))
    assert(rows.map(_.getLong(1)).take(2).toSeq == Seq(1L, 2L))
    assert(rows.head.getDouble(3) > 0.9999999)     // cos(dup) == 1
    assert(rows.last.getLong(1) == 4L)             // anti-parallel ranked last
    assert(rows.last.getDouble(3) < -0.9999999)
  }

  test("near-dup pairs: dup + close found within label block, ortho not") {
    val pairs = Similarity.embeddingNearDup(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("IVF-blocked near-dup pairs: dup + close found, ortho/anti not, cosines genuine") {
    // nlist=2, assign=2 → every vector lands in both cells: the pair
    // space is complete, so the check is purely about scoring. Unlike
    // the label-blocked baseline, blocking is geometric — no label in
    // the output.
    val pairs = Similarity.embeddingNearDupIvf(t, nlist = 2, assign = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(pairs((0L, 1L)) > 0.9999999) // exact dup
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L }) // ortho
    assert(!pairs.keys.exists { case (a, b) => a == 4L || b == 4L }) // anti
    // ordering invariant: canonical id_a < id_b
    assert(pairs.keys.forall { case (a, b) => a < b })
  }

  test("banded IVF pairs: SRP band keys only prune — subset of unbanded, dups survive") {
    // the r18 banded regime's join geometry, forced on at gate scale
    // via the bandKnobs override (the derived switch stays above the
    // 10x rehearsal): a pair must share a cell AND one 8-bit SRP band
    val unbanded = Similarity.embeddingNearDupIvf(t, nlist = 2, assign = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val banded = Similarity.embeddingNearDupIvf(t, nlist = 2, assign = 2,
      bandKnobs = Some((8, 40)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // band keys can only PRUNE candidates; verified cosines are identical
    assert(banded.keySet.subsetOf(unbanded.keySet))
    banded.foreach { case (k, c) => assert(c == unbanded(k)) }
    // identical vectors share every sign word → exact dup always survives
    assert(banded.contains((0L, 1L)) && banded((0L, 1L)) > 0.9999999)
    // cos≈0.99 pair: per-band hit p₁⁸ ≈ 0.69, 40 OR bands → miss < 1e-20
    // (deterministic under the frozen hyperplanes)
    assert(banded.contains((0L, 2L)))
    assert(banded.keys.forall { case (a, b) => a < b })
  }

  test("coarse quantizer fits ONCE per (session, dir, nlist) across ann_ivf + embedding dedup") {
    // the r8 verdict's one perf-weak item: both IVF operators fitting
    // identical quantizers. Pin the shared fit so it can't regress.
    graft.io.Memo.release("sim")
    val before = Similarity.quantMemo.builds
    Similarity.annIvf(t, nlist = 2, nprobe = 2).count()
    Similarity.embeddingNearDupIvf(t, nlist = 2, assign = 2).count()
    assert(Similarity.quantMemo.builds - before == 1,
      "ann_ivf and embedding_near_dup_ivf must share one quantizer fit")
    // search-time knobs (nprobe/assign) are NOT index knobs → no refit
    Similarity.annIvf(t, nlist = 2, nprobe = 1).count()
    Similarity.embeddingNearDupIvf(t, nlist = 2, assign = 1).count()
    assert(Similarity.quantMemo.builds - before == 1)
  }

  test("filtered ANN searches only the probe's label partition") {
    // fixture labels: {0,1,2} label 0, {3,4} label 1 — probe 0 must see
    // only label-0 candidates, even though the GLOBAL top-k would
    // include ortho/anti before an empty slot
    val rows = Similarity.annLabelFiltered(t).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getInt(3))
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L)) // label-0 only
    assert(rows.forall(_.getInt(2) == 0))
    // pre-filter semantics: post-filtering the global top-2 would have
    // returned only {1,2} by luck here, but the label column proves the
    // candidate set was restricted, not the result
    val global = Similarity.annBruteForce(t).collect()
      .filter(_.getLong(0) == 0L).map(_.getLong(1)).toSet
    assert(global.contains(3L) || global.contains(4L)) // global sees label 1
  }

  test("LSH ANN reports only genuine cosines (subset check vs brute force)") {
    val bf = Similarity.annBruteForce(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val lsh = Similarity.annLsh(t).collect()
    // every LSH-reported (probe, cand) cosine must equal the true cosine
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      bf.get(key).foreach(c => assert(c == r.getDouble(3)))
    }
    // the exact duplicate collides in every table → must be found
    assert(lsh.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L))
  }

  test("calibrated tau: shifted cosine distribution derives a shifted threshold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic avalanche-mixed noise (splitmix64 finalizer —
    // plain test scaffolding, no RNG object), ~uniform in [-1, 1]
    def noise(id: Int, dim: Int): Double = {
      var z = id.toLong * 0x9E3779B97F4A7C15L + dim.toLong * 0xBF58476D1CE4E5B9L
      z ^= (z >>> 30); z *= 0xBF58476D1CE4E5B9L
      z ^= (z >>> 27); z *= 0x94D049BB133111EBL
      z ^= (z >>> 31)
      z.toDouble / Long.MaxValue
    }
    def mk(shift: Double): org.apache.spark.sql.DataFrame =
      (0 until 200).map { i =>
        val v = Array.tabulate(64)(d => noise(i, d) + (if (d == 0) shift else 0.0))
        (i.toLong, v.toSeq)
      }.toDF("vec_id", "v")
        .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    // no common component: pairwise cosines center near 0 → tau small
    val tauPlain = Similarity.semanticTauFromVectors(mk(0.0), 200)
    // strong shared dim-0 component: mean cosine ~ s^2/(s^2 + 21)
    // (noise power ~ 64 * 1/3) — tau must follow the distribution up
    val tauShifted = Similarity.semanticTauFromVectors(mk(16.0), 200)
    assert(tauPlain < 0.5, s"plain corpus tau=$tauPlain")
    assert(tauShifted > tauPlain + 0.3,
      s"shifted corpus tau=$tauShifted vs plain $tauPlain")
    // degenerate spread falls back to the ladder
    val constDf = (0 until 10).map(i => (i.toLong, Seq.fill(64)(1.0)))
      .toDF("vec_id", "v")
      .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
    assert(Similarity.semanticTauFromVectors(constDf, 10) ==
      Similarity.semanticTauFor(10))
  }

  test("calibrated tau reproduces the gate anchor and is deterministic across calls") {
    import org.apache.spark.sql.functions._
    // the value every band was calibrated against: n=500 gate corpus
    // derives the ladder's 0.35 (TauTargetDegree is tuned to make this
    // exact; a formula change that shifts it re-runs the calibration
    // knowingly)
    val sf001 = graft.io.Tables(spark, "/root/testdata/sf0.001")
    val tau1 = Similarity.semanticTauCalibrated(sf001)
    val tau2 = Similarity.semanticTauFromVectors(
      // recompute from scratch (cache bypass): bit-equal
      {
        import spark.implicits._
        val e = sf001.widen(sf001.embeddings)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
        e
      }, Similarity.corpusSize(sf001))
    assert(tau1 == tau2)
    assert(tau1 > 0.2 && tau1 < 0.7, s"sf0.001 tau=$tau1 out of sane range")
  }

  test("nprobeFitted: ladder-valued, monotone in target, uniform fallback, deterministic") {
    val sf001 = graft.io.Tables(spark, "/root/testdata/sf0.001")
    val nl = Similarity.nlistFor(Similarity.corpusSize(sf001))
    // any recall clears target 0 → the smallest ladder point wins
    val loose = Similarity.nprobeFitted(sf001, target = 0.0)
    assert(loose == 4, s"target=0 must pick the ladder's first point, got $loose")
    // the default target lands on a ladder point ≤ nlist or the
    // uniform-calibrated fallback — never an arbitrary value
    val strict = Similarity.nprobeFitted(sf001)
    val valid = Seq(4, 8, 16, 32, 64, 128).filter(_ <= nl).toSet + Similarity.nprobeFor(nl)
    assert(valid.contains(strict), s"fitted $strict not in $valid")
    assert(strict >= loose, "fitted nprobe must not shrink as target rises")
    // recall ≤ 1 makes target 1.1 unreachable → exactly the uniform default
    assert(Similarity.nprobeFitted(sf001, target = 1.1) == Similarity.nprobeFor(nl))
    // hash-drawn probes + frozen seeds: the calibration artifact is stable
    assert(strict == Similarity.nprobeFitted(sf001))
  }
}
