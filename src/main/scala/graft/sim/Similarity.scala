package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Memo, Tables}

/** Similarity search over the embeddings table (`Array[Float]`, 64-dim).
  *
  * Dot products are computed as a sequential left fold in double
  * precision (zip_with + aggregate); DuckDB's list_dot_product over
  * DOUBLE[] accumulates identically, so cosine values are bitwise equal
  * across engines and can be hash-compared raw.
  *
  * Scale path: brute force is the correctness baseline (O(Q·N·d),
  * shuffle-free after the broadcast); the LSH-bucketed variant
  * (random-hyperplane signatures → bucket join) bounds the candidate
  * set per probe and is the 100 TB design — see `annLsh`.
  */
object Similarity {

  /** Sequential double-precision dot product of two array<double> cols:
    * the native codegen'd graft_dot expression (bitwise-equal to the
    * aggregate(zip_with(...)) fold it replaces — see
    * graft.functions.DotProduct).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graftDot(a, b)

  // One persisted normalized projection per input: four operators
  // read it, and re-persisting per call would stack duplicate cache
  // entries across a full Verify/Bench sweep.
  private val normMemo = Memo[DataFrame]("sim")

  /** Builds of every sim-family memo (perfbench's `memo.builds`). */
  private[graft] object cacheBuilds { def get: Int = Memo.builds("sim") }

  // Corpus row count per input: one count() on the persisted
  // normalized projection, memoized — the IVF family derives its
  // default nlist from it (a 100 TB store knows its cardinality from
  // table metadata; this is the local stand-in).
  private[graft] val sizeMemo = Memo[Long]("sim")

  def corpusSize(t: Tables): Long = sizeMemo(t)(withNorm(t).count())

  // Distinct label count per input: one pass over the persisted
  // normalized projection, memoized like sizeMemo — the
  // filtered-search salt derivation reads it (a 100 TB store knows its
  // partition-key cardinality from table metadata).
  private val labelMemo = Memo[Long]("sim")

  def labelCount(t: Tables): Long =
    labelMemo(t)(withNorm(t).select("label").distinct().count())

  /** Default candidate-side salt count for [[annLabelFiltered]]'s
    * salted co-partitioned scoring join — the last scale knob to move
    * from hand-pinned to derived (r17; was a fixed 64). Three forces:
    *
    *   - FILL: the join's parallelism is capped at nLabels·salts
    *     combos, so salts ≥ 4·cores/nLabels keeps the compute-
    *     amplified scoring stage over-subscribed (~4 waves) on any
    *     cluster width — few labels (the r16 audit's 4-task stage) get
    *     many salts, a 1000-label corpus needs almost none.
    *   - SHARD FLOOR: salting below ~1 candidate per (label, salt)
    *     combo buys nothing and pays replication, so salts ≤ the mean
    *     label population nCands/nLabels.
    *   - BOUNDS: floor 4 (headroom for intra-label skew even when
    *     labels alone could fill the cluster) and cap 256 (probe
    *     replication is probes·salts rows — with probes = N/13 the cap
    *     bounds it at ~20·N, and the measured fixed cost of 64 salts
    *     at sf0.1 was already only ~0.7 s).
    *
    * Gate anchor: nCands=2000, nLabels=10, cores=32 → 13 (vs the old
    * 64: same hash-green output — every same-label pair still meets
    * exactly once under the candidate's salt — at a fifth of the
    * replication). A 2-label corpus on 32 cores derives 64; ScaleSpec
    * pins the ladder and the monotonicity in both directions.
    */
  def saltsFor(nCands: Long, nLabels: Long, cores: Int): Int = {
    val labels = math.max(1L, nLabels)
    val fill = (4L * math.max(1, cores) + labels - 1) / labels
    val shardFloor = math.max(4L, math.min(256L, nCands / labels))
    math.max(4L, math.min(fill, shardFloor)).toInt
  }

  /** Default nlist for the IVF family: √N scaling (SCALING.md's
    * prescription — cell population ∝ √N keeps both the per-cell join
    * and the centroid table growing as √N rather than one of them
    * linearly), anchored so the 500-row gate corpus keeps the
    * measured nlist=16 operating point: nlist = 16·√(n/500), floored
    * at 16. sf0.1 (n=2000) derives 32; n=10¹⁰ derives ~71k cells —
    * the usual IVF range for a 10B-vector store.
    */
  def nlistFor(n: Long): Int =
    math.max(16, math.round(16.0 * math.sqrt(n / 500.0)).toInt)

  /** Candidate-row budget for the IVF PAIR-GENERATION users
    * ([[embeddingNearDupIvf]], [[semanticDedup]]): 1e9 rows ≈ 16 GB of
    * pre-distinct shuffle — safely inside one beefy node, proportional
    * work on a cluster. */
  val IvfPairBudget: Double = 1e9

  /** Derived (nlist, assign) for IVF pair generation — the r17 100×
    * dedup decade scan's catch: the retrieval ladder
    * (nlist = [[nlistFor]] ∝ √N, assign = [[assignFor]] = √nlist) has
    * per-vector candidate work assign²·N/nlist = N, i.e. the pair join
    * is ALL-PAIRS at every scale by construction. Invisible at the
    * gate (N=500: 2.5e5 candidates) and the 10× rehearsal (4.8e8),
    * it filled the local disk at N=200k (4.05e10 rows ≈ 650 GB of
    * shuffle). Above [[IvfPairBudget]] expected ladder candidates
    * ([[ivfPairBanded]]) the derivation switches to the BANDED regime
    * (r18, replacing r17's nlist ∝ N² candidate-budget regime whose
    * KMeans fit — K = nlist, 256·nlist fit rows — was itself
    * infeasible past N ≈ 10⁷): nlist STAYS the retrieval ladder's √N
    * (the coarse fit is feasible at every corpus size; ~71k centroids
    * at N = 10¹⁰, the usual IVF range), assign pins at 8, and the
    * in-cell join is additionally keyed on [[pairBandKnobsFor]]'s SRP
    * sign-word bands, which is what bounds the per-cell pair work.
    * Every operating point at or below the 10× rehearsal derives
    * EXACTLY the retrieval ladder's values, so gate outputs, bands,
    * and the 10× numbers are unchanged; the regime switch lands
    * between N=20 000 and N=200 000 where only the decade instrument
    * observes (SCALING.md §"Dedup decade scan"). ScaleSpec pins both
    * regimes, the crossover, and that nlist never exceeds N/assign.
    */
  def ivfPairKnobsFor(n: Long): (Int, Int) = {
    val nl0 = nlistFor(n)
    if (!ivfPairBanded(n)) (nl0, assignFor(nl0))
    else {
      val a = 8
      // clamp for degenerate tiny-n calls: never more cells than
      // vectors-per-assignment (K ≤ fit rows for the KMeans)
      (math.min(nl0.toLong, math.max(1L, n / a)).toInt, a)
    }
  }

  /** True where IVF pair generation runs the banded regime: the
    * retrieval ladder's expected Σ|cell|² exceeds [[IvfPairBudget]].
    * The boundary is IDENTICAL to r17's bounded-regime switch, so
    * every recorded operating point through the 10× rehearsal is
    * bit-unchanged. */
  def ivfPairBanded(n: Long): Boolean = {
    val nl0 = nlistFor(n)
    val a0 = assignFor(nl0)
    a0.toDouble * a0 * n / nl0 * n > IvfPairBudget
  }

  /** Per-band expected in-cell collision budget per vector for the
    * banded regime's bit-width derivation: bandBits is the smallest b
    * with assign²·(N/nlist)/2^b at or under this. 256 ≈ the r17
    * bounded regime's proven cell population at its measured
    * operating points. */
  private[graft] val BandTargetPerBand: Double = 256.0

  /** Per-band OR-composition recall target at the operating τ for the
    * banded regime's band-count derivation (the standard LSH
    * amplification identity: nBands = ln(1−r)/ln(1−p₁^b)). */
  private[graft] val BandRecallTarget: Double = 0.8

  /** Hard cap on derived band count (keys per vector = assign·nBands;
    * the cap bounds the explode at 256·assign rows/vector). */
  private[graft] val MaxBands: Int = 256

  /** Derived (bandBits, nBands) for the banded regime's in-cell SRP
    * sign-word pruning ([[embeddingNearDupIvf]]): candidate pairs must
    * share an IVF cell AND one b-bit band of the hash-derived
    * Rademacher sign words (graft.functions.SrpWords) — hyperplane
    * LSH (Charikar'02) composed INSIDE the coarse cells.
    *
    * Derivation, both knobs from first principles at the operating
    * threshold τ = minCos:
    *   - b = ⌈log₂(assign²·(N/nlist) / [[BandTargetPerBand]])⌉,
    *     clamped to [4, 16]: smallest width that holds the expected
    *     per-band in-cell collisions per vector at the constant the
    *     r17 bounded regime proved workable — so per-vector work per
    *     band is scale-invariant and total candidates grow ∝ N·nBands.
    *   - per-bit collision probability p₁ = 1 − arccos(τ)/π (the
    *     hyperplane-LSH identity), so a band survives with p₁^b and
    *     nBands = ⌈ln(1−[[BandRecallTarget]])/ln(1−p₁^b)⌉ OR-composed
    *     bands hold the band-stage recall at the target, capped at
    *     [[MaxBands]].
    *
    * The τ-dependence makes the cost model honest and explicit: at
    * real SemDeDup thresholds (τ ≈ 0.9, p₁ ≈ 0.856) a handful of
    * bands suffice and candidates stay ∝ N — effectively proportional
    * to output; at this synthetic corpus's calibrated τ (~0.55, 57°,
    * p₁ ≈ 0.685) nBands grows into the tens and total work follows
    * the provable hyperplane-LSH exponent (per-probe work ∝
    * N^ρ, ρ = ln(1/p₁)/ln 2 ≈ 0.54 at 57°) — SCALING.md's "the wall
    * is geometry" analysis, now carried by the derivation instead of
    * a flat refusal. Tight-stratum pairs (cos ≥ 0.9) survive the
    * bands with probability ≈ 1 at every derived operating point.
    */
  def pairBandKnobsFor(n: Long, nlist: Int, assign: Int,
      minCos: Double): (Int, Int) = {
    val perCell = assign.toDouble * assign * n / nlist
    val b = math.min(16, math.max(4,
      math.ceil(math.log(perCell / BandTargetPerBand) / math.log(2.0)).toInt))
    val p1 = 1.0 - math.acos(math.min(1.0, math.max(-1.0, minCos))) / math.Pi
    val hit = math.pow(p1, b)
    val k =
      if (hit >= 1.0) 1
      else math.ceil(math.log(1.0 - BandRecallTarget) / math.log1p(-hit)).toInt
    (b, math.min(MaxBands, math.max(1, k)))
  }

  /** Default nprobe for a derived nlist: holds the measured 5/8 cell
    * fraction of the nlist=16/nprobe=10 operating point (recall@5
    * ~0.89 on this corpus). The fraction is a property of the DATA'S
    * clusteredness: these synthetic embeddings are near-uniform — the
    * adversarial case, where recall needs a constant cell fraction.
    * Clustered real corpora hold recall with nprobe ~constant as
    * nlist grows √N (the actual 100 TB win); the recall sweeps in
    * SCALING.md record both curves' local anchor.
    */
  def nprobeFor(nlist: Int): Int = math.max(10, nlist * 5 / 8)

  /** Data-AWARE nprobe (r20, the r19 ladder study as a library path):
    * measure recall@5 vs the flat scan on a hash-subsampled probe set
    * at each ladder point and return the smallest nprobe clearing
    * `target`, falling back to the uniform-calibrated [[nprobeFor]]
    * when no point does. The r19 study (SCALING.md §"nprobe ladder")
    * showed the 5/8·nlist default is a property of the synthetic
    * NEAR-UNIFORM corpus — the adversarial worst case, where recall
    * climbs linearly in probed fraction — while clustered corpora
    * (every real embedding corpus) hold recall ≥ 0.97 at nprobe
    * 8–32 ≈ nlist/40, sub-linear in nlist across the observed decade.
    * This is the fit the study itself ran, priced for production: the
    * subsample's flat truth scan is Θ(P·N) with P ≈ [[FitProbeCount]]
    * (the probe modulus derives from N), each ladder point costs
    * one cell-pruned search ∝ nprobe, and the result is a per-corpus
    * calibration artifact — run it once per index build/refresh, not
    * per query. Shipped queries keep the uniform-calibrated default
    * (their recall bands are calibrated against it); this is the
    * opt-in knob for corpora whose geometry the default over-serves.
    * Driver state is the subsampled pair sets (P·k ids — bounded by
    * the probe-modulus derivation, never corpus-sized).
    */
  def nprobeFitted(t: Tables, target: Double = 0.97,
      ladder: Seq[Int] = Seq(4, 8, 16, 32, 64, 128)): Int = {
    val n = corpusSize(t)
    val nl = nlistFor(n)
    val pm = math.max(13L, n / FitProbeCount).toInt
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("probe_id"), col("cand_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(annBruteForce(t, probeMod = pm))
    if (truth.isEmpty) return nprobeFor(nl)
    ladder.filter(_ <= nl).sorted.find { np =>
      val found = pairs(annIvf(t, nprobe = np, probeMod = pm))
      (truth & found).size.toDouble / truth.size >= target
    }.getOrElse(nprobeFor(nl))
  }

  /** Probe-subsample size [[nprobeFitted]] aims for: ~154 probes
    * reproduces the r19 ladder study's measurement noise (±0.01 on
    * recall at 770 truth pairs) while keeping the flat truth scan at
    * P·N ≈ 154·N — about 77 full searches' worth, amortized over an
    * index lifetime. */
  private[graft] val FitProbeCount: Long = 154L

  /** Default multi-assignment for a derived nlist in the IVF-blocked
    * dedup: assign = ⌈√nlist⌉ (4 at nlist=16, 6 at nlist=32). Smaller
    * cells lose boundary-straddling pairs, so assign must grow as
    * cells shrink; √nlist keeps per-pair work assign²/nlist — hence
    * total pair work at fixed nlist — constant across the derivation.
    * Measured at sf0.1/nlist=32: assign 4/5/6 → pair recall
    * 0.790/0.899/0.961 vs the 0.9 band — ⌈√nlist⌉ is the smallest
    * integer rule that clears it with margin (recall sweep recorded
    * in SCALING.md).
    */
  def assignFor(nlist: Int): Int = math.ceil(math.sqrt(nlist)).toInt

  /** Default exact-re-rank shortlist for the PQ family: √N scaling,
    * anchored so the 500-row gate corpus keeps the measured rerank=64
    * operating point (recall@5 0.995). ADC score noise is fixed by the
    * codebook (m, ks), so on an UNCLUSTERED corpus the number of
    * competitors within noise of the true top-5 boundary grows with N
    * and a FIXED shortlist decays: measured at the 10x rehearsal
    * (N=20000, SCALING.md), rerank 64/128/256/512 → recall@5
    * 0.690/0.823/0.920/0.975, while rerankFor(20000) = 405 lands
    * ~0.95+. These near-uniform synthetic embeddings are the
    * adversarial case — a clustered real corpus holds recall with
    * rerank = O(k) constants, so √N is the conservative ceiling, not
    * the expected production cost. */
  def rerankFor(n: Long): Int =
    math.max(64, math.round(64.0 * math.sqrt(n / 500.0)).toInt)

  /** SemDeDup threshold ladder over corpus size — since r17 the
    * FALLBACK and shape reference behind [[semanticTauCalibrated]]
    * (which derives the same quantile from the corpus's measured
    * cosine distribution and is what the operators default to); the
    * ladder remains the documented percolation analysis and the
    * degenerate-input fallback. On these near-uniform synthetic
    * embeddings pair cosine is
    * ~N(0, 1/64), so the expected near-dup DEGREE at a fixed τ grows
    * linearly with N — past degree ≈ 1 the transitive closure
    * percolates and the whole corpus collapses into one cluster
    * (measured: τ=0.35 keeps healthy structure at the 500-row gate but
    * yields a 1964/2000 giant component at sf0.1 and 19998/20000 at
    * the 10x rehearsal; τ=0.42 at n=2000 → largest 13, τ=0.48 at
    * n=20000 → largest 19). The ladder steps ~z(1−1/n)/√d per decade,
    * anchored at the gate's calibrated 0.35; tools/check.py mirrors it
    * for the co-clustering bands. Real sentence embeddings gate at a
    * QUALITY threshold (~0.9) far above any percolation point — this
    * derivation is the guard the adversarial random corpus needs. */
  def semanticTauFor(n: Long): Double =
    if (n <= 1000) 0.35
    else if (n <= 8000) 0.42
    else if (n <= 80000) 0.48
    else if (n <= 800000) 0.54
    else 0.60

  /** Target expected near-dup degree for the data-derived τ
    * ([[semanticTauCalibrated]]): τ sits at the pairwise-cosine
    * quantile where N·Pr[cos ≥ τ] ≈ this constant, i.e. each vector
    * expects ~1.3 above-threshold neighbors regardless of corpus
    * size. Calibrated so the GATE corpus (n=500, the value every band
    * was tuned against) derives exactly the ladder's 0.35; the same
    * constant lands the 10x anchor (0.48 at n=20000) bitwise and is
    * within one 0.01 grid step of the remaining ladder anchors
    * (0.40 vs 0.42 at n=2000 — measured largest component 74/2000,
    * healthy; percolation starts at 0.38 — and 0.55 vs 0.54 at
    * n=200000, the safe side).
    */
  private[graft] val TauTargetDegree: Double = 1.28

  /** Hash-draw sample budget for the τ calibration (vectors, not
    * pairs — the driver computes all ~S²/2 pairwise cosines in fixed
    * order, ~130k dots: trivial and bit-deterministic). */
  private[graft] val TauSampleSize: Long = 512

  // Calibrated τ per input — one bounded collect each.
  private val tauMemo = Memo[Double]("sim")

  /** Data-derived SemDeDup threshold (r17, replacing the N-indexed
    * ladder as the operators' default): estimate the corpus's OWN
    * pairwise-cosine distribution from a deterministic hash-drawn
    * sample and place τ at the Gaussian-tail quantile that keeps the
    * expected near-dup degree at [[TauTargetDegree]] — the property
    * the ladder hand-encoded for THIS synthetic corpus (σ ≈ 1/8,
    * μ ≈ 0), now measured instead of assumed. On real sentence
    * embeddings (μ, σ both much larger; τ ≈ 0.9 territory) the same
    * rule transfers where the ladder's absolute anchors would need
    * re-calibration by hand; SimilaritySpec shows a mean-shifted
    * fixture deriving a correspondingly shifted τ.
    *
    * Determinism: the sample is a pure hash draw (xxhash64 of vec_id,
    * no RNG), the μ̂/σ̂ pass runs driver-side in sorted-id order (no
    * float reassociation across partitionings), the normal quantile
    * is a fixed rational approximation ([[invNormCdf]]), and the
    * result snaps to a 0.01 grid — so the derived τ, and every
    * output that embeds it, is bit-stable across runs (the
    * double-Verify determinism gate covers dedup_semantic).
    * Degenerate inputs (< 2 sampled vectors, zero spread) fall back
    * to the ladder, which stays as the documented shape reference
    * and the ScaleSpec anchor.
    */
  def semanticTauCalibrated(t: Tables): Double =
    tauMemo(t)(semanticTauFromVectors(withNorm(t), corpusSize(t)))

  /** The calibration itself, corpus-agnostic: `e` needs (vec_id, v,
    * nrm). Sample ~[[TauSampleSize]] vectors by hash, μ̂/σ̂ over all
    * sample pairs, τ = μ̂ + σ̂·z(1 − degree/n) snapped to the 0.01
    * grid. Exposed package-private for the shifted-fixture spec. */
  private[graft] def semanticTauFromVectors(e: DataFrame, n: Long): Double = {
    val k = math.max(1L, (n + TauSampleSize - 1) / TauSampleSize)
    val sample = e
      .filter(pmod(xxhash64(col("vec_id"), lit("tauSample")), lit(k)) === 0 &&
        col("nrm") > 0)
      .select(col("vec_id"),
        graft.functions.GraftFunctions.vdiv(col("v"), col("nrm")).as("u"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val m = sample.length
    var cnt = 0L
    var sum = 0.0
    var sumSq = 0.0
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        val ua = sample(i)._2; val ub = sample(j)._2
        var d = 0.0; var x = 0
        while (x < ua.length) { d += ua(x) * ub(x); x += 1 }
        cnt += 1; sum += d; sumSq += d * d
        j += 1
      }
      i += 1
    }
    if (m < 2 || cnt < 2) semanticTauFor(n)
    else {
      val mu = sum / cnt
      val variance = (sumSq - sum * sum / cnt) / (cnt - 1)
      if (variance <= 0) semanticTauFor(n)
      else {
        val p = math.min(1 - 1e-12, math.max(0.5, 1.0 - TauTargetDegree / n))
        val raw = mu + math.sqrt(variance) * invNormCdf(p)
        math.min(0.99, math.round(raw * 100.0) / 100.0)
      }
    }
  }

  /** Inverse standard-normal CDF — Acklam's rational approximation
    * (~1.15e-9 max abs error), pure fixed double arithmetic so the τ
    * quantile is bit-stable everywhere the JVM is. */
  private[graft] def invNormCdf(p: Double): Double = {
    require(p > 0 && p < 1, s"quantile arg out of (0,1): $p")
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01,
      -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val plow = 0.02425
    if (p < plow) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p <= 1 - plow) {
      val q = p - 0.5; val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    } else {
      val q = math.sqrt(-2 * math.log(1 - p))
      -(((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    }
  }

  /** Ceiling on probes×candidates for the flat Θ(Q·N) scans
    * ([[annBruteForce]], [[annRange]], [[annPq]] without IVF). The
    * r16 100× decade run demonstrated the failure mode past it: flat
    * ann_pq at Q·N = 3.1e9 legitimately exceeds one node's disk
    * through the shortlist exchange — a slow shuffle-spill death, not
    * an error. Below 2e9 a 32-core node grinds through in minutes;
    * above it the IVF twin is the only sane plan, so the flat call
    * fails FAST with a pointer instead. Every gate/rehearsal workload
    * is orders of magnitude under it (sf0.1: 3.1e5; 10× full sweep:
    * 3.1e7; 100× subsampled decade probes: 3.1e7).
    */
  private[graft] val FlatScanMaxPairs: Double = 2e9

  /** Fail-fast guard the flat scans call before building their plan;
    * `allowFullScan = true` is the explicit operator override for a
    * deliberate exact sweep on provisioned hardware. */
  private[graft] def flatScanGuard(op: String, nProbes: Long, nCands: Long,
      allowFullScan: Boolean, ivfTwin: String): Unit = {
    val pairs = nProbes.toDouble * nCands.toDouble
    require(allowFullScan || pairs <= FlatScanMaxPairs,
      f"$op is a flat Theta(Q*N) scan and this call is $nProbes probes x " +
        f"$nCands candidates = $pairs%.2g pairs (> ${FlatScanMaxPairs}%.2g): " +
        f"it would die slowly in shuffle spill, not run. Use $ivfTwin (the " +
        f"cell-pruned scale path) or pass allowFullScan = true deliberately.")
  }

  private def withNorm(t: Tables): DataFrame =
    normMemo(t) {
      graft.functions.GraftFunctions.register(t.spark)
      import t.spark.implicits._
      // widen: the testdata table is one parquet file = one input
      // split; pair-join work must spread across cores.
      val e = t.widen(t.embeddings)
        .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
      // vectors+norm are 65 doubles/row: the normalized projection any
      // 100 TB similarity pipeline materializes once
      e.withColumn("nrm", sqrt(dot($"v", $"v"))).persist()
    }

  private val dotSql =
    "list_dot_product(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[]))"

  /** Embedding-cosine near-duplicate pairs, label-blocked (the blocking
    * key stands in for the coarse quantizer an IVF index would use at
    * scale: candidate pairs only form within a block, never across the
    * full corpus).
    */
  def embeddingNearDup(t: Tables): DataFrame = {
    val e = withNorm(t)
    val a = e.select(col("vec_id").as("id_a"), col("label"),
      col("v").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("label").as("label_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, a("label") === b("label_b") && a("id_a") < b("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.3)
      .select(col("id_a"), col("id_b"), col("label"), col("cos"))
  }

  val embeddingNearDupSql: String = {
    val d = dotSql.format("a.embedding", "b.embedding")
    val na = "sqrt(" + dotSql.format("a.embedding", "a.embedding") + ")"
    val nb = "sqrt(" + dotSql.format("b.embedding", "b.embedding") + ")"
    s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       | $d / ($na * $nb) AS cos
       |FROM embeddings a JOIN embeddings b
       | ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE $d / ($na * $nb) >= 0.3""".stripMargin.replace("\n", " ")
  }

  // One fitted coarse quantizer per (input, nlist): annIvf and
  // embeddingNearDupIvf index the SAME corpus, so at 100 TB they would
  // share one coarse index — memoizing the fit is the scale-true
  // design, not just a local dedup of the sample count + 5 Lloyd
  // passes. The model is centroids-only (nlist × 64 doubles): no
  // persisted blocks to release. SimilaritySpec pins one fit per
  // (session, input, nlist) through its build count.
  private[graft] val quantMemo =
    Memo[org.apache.spark.ml.clustering.KMeansModel]("sim")

  /** Rows per centroid in the quantizer's fit budget: the fit set is
    * capped at FitRowsPerCentroid·nlist rows, so fit cost is O(nlist)
    * at ANY corpus size (~256 points per centroid is plenty for a
    * 5-iteration coarse fit). */
  private[graft] val FitRowsPerCentroid = 256

  /** Coarse quantizer (KMeans, fixed seeds) fit on a bounded,
    * partitioning-independent subset — shared by [[annIvf]] and
    * [[embeddingNearDupIvf]] via [[quantMemo]]. Centroid quality
    * needs a representative subset, not the corpus: at 100 TB fitting
    * on the full data would be the pipeline's bottleneck. Random init
    * (not k-means||) drops the multi-pass init jobs; 5 Lloyd
    * iterations over the fit set converge plenty for a coarse
    * quantizer.
    *
    * Fit-set selection (round 15 — replaces the fixed 25% sample
    * fraction, whose `sample.count()` guard was itself a full-scan
    * action and whose per-partition draws made the fit depend on the
    * input split layout): take the [[FitRowsPerCentroid]]·nlist rows
    * with the smallest md5-derived hash of vec_id. `orderBy(h).limit`
    * plans as a distributed top-k (TakeOrderedAndProject): one O(N)
    * scan with O(budget) state per partition, no count() action, and
    * the total (hash, vec_id) order is derived from DATA only — the
    * fit set, hence the centroids and every downstream candidate set,
    * is identical under any partitioning or session core count
    * (QuantizeSpec pins this across repartitionings). A corpus smaller
    * than the budget fits on everything, subsuming the old
    * too-small-sample fallback. The hash-order subset is an unbiased
    * draw (the hash is independent of the embedding values), same as
    * the uniform sample it replaces.
    */
  private def coarseQuantizer(t: Tables, nlist: Int) =
    quantMemo(t, nlist) {
      import org.apache.spark.ml.functions.array_to_vector
      val withVec = withNorm(t).withColumn("features", array_to_vector(col("v")))
      fitQuantizer(withVec, nlist)
    }

  /** The cache-free fit (exposed for QuantizeSpec's partitioning-
    * independence pin): expects a frame carrying (vec_id, features). */
  private[graft] def fitQuantizer(withVec: DataFrame, nlist: Int) = {
    import org.apache.spark.ml.clustering.KMeans
    val budget = FitRowsPerCentroid * nlist
    val fitOn = withVec
      .withColumn("fh", graft.dedup.Dedup.h32(
        concat(col("vec_id").cast("string"), lit(":qfit"))))
      .orderBy(col("fh").asc, col("vec_id").asc)
      .limit(budget)
      .drop("fh")
    new KMeans().setK(nlist).setSeed(42L).setMaxIter(5)
      .setInitMode("random")
      .fit(fitOn)
  }

  /** Embedding near-dup pairs blocked on the IVF coarse-quantizer cell
    * — the scale-true form of [[embeddingNearDup]]: where label
    * blocking goes quadratic when label cardinality is small (each
    * block a constant fraction of the corpus → O(N²) at 100×), the
    * quantizer's nlist grows with the corpus, so cell population — and
    * the Σ|cell|² pair work — stays bounded by a knob, not by the
    * data's label skew.
    *
    * Each vector is assigned to its `assign` nearest cells (multi-
    * assignment, the standard IVF trick for candidates that straddle a
    * cell boundary); a pair forms iff the two vectors share at least
    * one assigned cell. Expected cell population is assign·N/nlist, so
    * pair work is Σ|cell|² ≈ assign²·N²/nlist — size nlist ∝ N (e.g.
    * √N cells) and the per-cell join stays task-sized while total work
    * grows linearly. The nlist centroids are a fixed-size broadcast
    * (the same legitimate hint annIvf uses). KMeans isn't
    * SQL-derivable → rows-only entry; AnnRecallSpec pins pair recall
    * against the label-blocked oracle-green baseline (measured knob
    * sweep at sf0.01: assign 2/3/4 at nlist=16 → recall
    * 0.53/0.80/0.96 — recall is bought with assignments the way
    * annLsh buys it with tables; floor pinned at 0.9).
    * Defaults derive from corpus size (r15): (nlist, assign) =
    * [[ivfPairKnobsFor]](N) — the retrieval ladder's (nlistFor,
    * assignFor) values at every observed point up to the 10×
    * rehearsal (at sf0.1 that is (32, 6), measured pair recall 0.961
    * vs 0.790 had assign stayed 4; see assignFor's sweep), switching
    * to the BANDED regime above it (r18): ladder nlist + assign=8 +
    * in-cell SRP sign-word band keys with [[pairBandKnobsFor]]'s
    * derived (bandBits, nBands) at the operating minCos — see
    * ivfPairKnobsFor for the regime history (the r17 decade catch and
    * why its nlist ∝ N² successor had to go). Explicit (> 0) args
    * override knobs; `bandKnobs` overrides the banding (Some((0,0))
    * forces it off).
    */
  def embeddingNearDupIvf(t: Tables, nlist: Int = 0, assign: Int = 0,
      minCos: Double = 0.3,
      bandKnobs: Option[(Int, Int)] = None): DataFrame = {
    val n = corpusSize(t)
    val derived = ivfPairKnobsFor(n)
    val nl = if (nlist > 0) nlist else derived._1
    val a = if (assign > 0) assign else if (nlist > 0) assignFor(nlist) else derived._2
    // (bandBits, nBands) for the in-cell SRP band keys: derived with
    // the regime (r18 — bands replace r17's nlist ∝ N² cell shrink;
    // see ivfPairKnobsFor/pairBandKnobsFor), overridable for
    // specs; (0, _) or (_, 0) forces bands off.
    val (bb, nBands0) = bandKnobs.getOrElse(
      if (ivfPairBanded(n)) pairBandKnobsFor(n, nl, a, minCos) else (0, 0))
    val nBands = if (bb <= 0) 0 else nBands0
    // Fail fast where the banded regime measurably cannot deliver:
    // below the corpus's calibrated near-dup quantile the true pair
    // set is a dense fraction of all pairs (cos 0.3 ≈ 72° on this
    // corpus — the r17 nd100 scan measured recall collapsing to 0.22
    // there, and the hyperplane-LSH exponent says any sign-hash
    // blocker needs near-linear per-probe work at such angles). At or
    // above the calibrated τ the derived bands hold the recall band
    // (that is the SemDeDup regime semanticDedup runs in). Explicit
    // knob args are the sanctioned override — same contract as
    // flatScanGuard.
    if (nlist <= 0 && assign <= 0 && bandKnobs.isEmpty && ivfPairBanded(n)) {
      val tauCal = semanticTauCalibrated(t)
      require(minCos >= tauCal,
        s"embeddingNearDupIvf at N=$n: the banded IVF blocking " +
          s"(nlist=$nl, assign=$a, bands=$nBands x ${bb}b) cannot hold " +
          f"recall at minCos=$minCos%.2f below the corpus's calibrated " +
          f"near-dup threshold $tauCal%.2f (measured 0.22 recall at the " +
          "100x decade); the true pair output at this threshold is a " +
          "dense fraction of all pairs. Raise minCos, pass explicit " +
          "(nlist, assign)/bandKnobs to accept reduced recall, or run " +
          "the exact range scan (annRange with allowFullScan).")
    }
    val e = withNorm(t)
    val keys = pairJoinKeys(t, nl, a, bb, nBands)
      .persist() // read twice (both sides of the pair join)
    val joinCols = if (nBands > 0) Seq("cell", "band", "bv") else Seq("cell")

    // materialize the (small) verified pair list, then drop the key cache
    val out = (if (nBands > 0) {
      // Banded regime: each vector rides ON ITS OWN KEY ROWS and the
      // cosine is verified INSIDE the band-join stage. The old shape
      // joined the candidate list back to the vector table — an
      // exchange of |collisions| rows each carrying a 64-double
      // vector (~250 GB at the nd1000 instrument point: 5.1e8
      // collisions measured at that point — the second disk wall
      // the decade instrument exposed, after the assignment window).
      // Here vector bytes scale with the KEY table
      // (N·assign·nBands rows — derivation-bounded, data-independent,
      // ~16× less than the collision stream at the derived knobs),
      // and collisions stream through the cos filter inside
      // whole-stage codegen, so only the τ-verified pairs land.
      val keysV = keys.join(e.select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      // symmetric self-join: id_a < id_b is already canonical
      keysV.toDF("id_a", "cell", "band", "bv", "va", "na")
        .join(keysV.toDF("id_b", "cell", "band", "bv", "vb", "nb"), joinCols)
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= minCos)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("cos"))
        .distinct() // a pair may collide in several cells/bands; cos identical
    } else {
      // Unbanded (small-N) regime: the recorded shape — narrow
      // candidate distinct, then the two vector joins (|pairs| is
      // Σ|cell|²-bounded by the knob derivation at these sizes).
      val cand = keys.withColumnRenamed("vec_id", "id_a")
        .join(keys.withColumnRenamed("vec_id", "id_b"), joinCols)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct() // a pair may share several assigned cells
      val va = e.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      val vb = e.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cos") >= minCos)
        .select(col("id_a"), col("id_b"), col("cos"))
    }).localCheckpoint()
    keys.unpersist()
    out
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): group
    * embedding-space near-identical items into clusters and keep ONE
    * representative per cluster — the embedding-driven counterpart of
    * the text-level dedup family, catching paraphrases and re-encodes
    * that share no n-grams. Composition of two proven components:
    * candidate pairs from [[embeddingNearDupIvf]] (IVF-cell blocked —
    * the Σ|cell|² knob analysis applies unchanged, no all-pairs path)
    * and transitive closure via Dedup's alternating large/small-star
    * connected components (O(log n) rounds, localCheckpoint per
    * round). Representative = component-min vec_id, the same
    * deterministic canonical-keeper rule as dedup_exact; singletons
    * keep themselves. Output covers EVERY vector: (vec_id, rep_id,
    * kept) — `kept=1` rows are the deduplicated corpus, the rest map
    * to their replacement.
    *
    * minCos defaults to [[semanticTauCalibrated]](t) — the
    * data-derived constant-expected-degree quantile (r17; measured
    * from the corpus's own pairwise-cosine distribution, so it
    * transfers to real sentence embeddings where the old N-indexed
    * ladder's absolute anchors would not). It yields a real cluster
    * structure to verify at EVERY scale rather than all-singletons at
    * one end or a single giant component at the other (the r16 10x
    * rehearsal caught a fixed 0.35 collapsing 20000 vectors into one
    * cluster). Rows-only (the
    * KMeans fit); the output embeds the operating τ in a `tau` column
    * so check.py bands read it FROM the output (no mirrored ladder to
    * drift) when checking co-clustering recall ≥ 0.9 against
    * the hash-checked dedup_embedding baseline's ≥ tau pairs —
    * every baseline near-dup pair should land in one cluster (the
    * closure can only merge MORE than the direct pair list).
    */
  /** The banded pair join's key table: (vec_id, cell[, band, bv]) —
    * one row per assigned cell × SRP band (Σ|bucket|² over it is the
    * pair-join output).
    *
    * Cell assignment is row-local (graft.functions.TopCells): the old
    * crossJoin(broadcast(centroids)) + row_number window materialized
    * N·nlist rows EACH CARRYING THE VECTOR through a sort — ~1 TB of
    * sort input at the nd1000 instrument point (N=2M, nlist=1012),
    * measured as that node's disk wall. Same ranking rule
    * (cdist asc, cell asc), same left-fold dot arithmetic —
    * TopCellsSpec pins bit-identical assignment, ties included.
    */
  private[graft] def pairJoinKeys(t: Tables, nl: Int, a: Int,
      bb: Int, nBands: Int): DataFrame = {
    val e = withNorm(t)
    val model = coarseQuantizer(t, nl)
    val centroids = model.clusterCenters.map(_.toArray.toSeq).toSeq
    graft.functions.GraftFunctions.register(t.spark)
    // Hash-partition the NARROW key rows by vec_id (explicit width —
    // the stage after this exchange is compute-amplified, so AQE's
    // byte-based coalescing must not shrink it; the q32 lesson). The
    // window form this replaced left the cached keys partitioned by
    // vec_id as a side effect of its sort exchange, and the unbanded
    // candidate join leans on that: with all of a vector's key rows
    // co-located, every (id_a, ·) candidate is produced in id_a's
    // partition, so the pair distinct's PARTIAL aggregate dedups
    // fully and hashpartitioning(id_a) already satisfies the final
    // distinct's distribution — no exchange of the Σ|cell|²-sized
    // candidate stream. Losing that (round-robin keys from the scan)
    // measured +25% on the 10x embedding-dedup family; this exchange
    // is N·assign rows of (long, int) — nothing next to the
    // vector-wide window sort the TopCells swap removed.
    val cells = e.select(col("vec_id"),
      explode(graft.functions.GraftFunctions.topCells(
        col("v"), centroids, a)).as("cell"))
      .repartition(t.spark.sparkContext.defaultParallelism, col("vec_id"))
    // Banded regime: candidate keys are (cell, band, band value) —
    // a pair must share a coarse cell AND one SRP sign-word band.
    // The explode is assign·nBands rows/vector of 4 ints; the key
    // table (not the raw cells) is what both join sides read.
    if (nBands > 0) {
      val slots = 64 / bb
      val nWords = (nBands + slots - 1) / slots
      val words = e.select(col("vec_id"),
        graft.functions.GraftFunctions.srpWords(col("v"), nWords).as("ws"))
      val bandsExpr = (0 until nBands).map { j =>
        val w = j / slots
        val s = j % slots
        s"named_struct('band', $j, 'bv', " +
          s"shiftrightunsigned(ws[$w], ${s * bb}) & ${(1L << bb) - 1}L)"
      }.mkString("array(", ", ", ")")
      cells.join(words, "vec_id")
        .select(col("vec_id"), col("cell"), explode(expr(bandsExpr)).as("b"))
        .select(col("vec_id"), col("cell"),
          col("b.band").as("band"), col("b.bv").as("bv"))
    } else cells
  }

  // One materialized semantic cluster map per (input, τ) at the
  // DERIVED blocking knobs: dedup_semantic reads it directly and the
  // stream_semantic static index joins against it, and the IVF pair
  // generation + connected components behind it are the suite's two
  // largest walls (r19 judge: 4.25 s + 4.05 s — the second of which
  // was this exact re-fit; r20 stage audit in SCALING.md). The map is
  // one narrow row per vector (vec_id, rep_id, kept, tau) —
  // localCheckpoint-sized at any corpus the pair family itself can
  // run on. SweepCachesSpec pins one build per full sweep (a second
  // one = the stream twin re-fitting the pair join + CC instead of
  // reusing the batch cluster map).
  private[graft] val semanticMemo = Memo[DataFrame]("sim")

  def semanticDedup(t: Tables, minCos: Double = 0.0): DataFrame = {
    val tau = if (minCos > 0) minCos else semanticTauCalibrated(t)
    semanticMemo(t, tau)(semanticDedupUncached(t, tau).localCheckpoint())
  }

  private def semanticDedupUncached(t: Tables, tau: Double): DataFrame = {
    val pairs = embeddingNearDupIvf(t, minCos = tau)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val cc = graft.dedup.Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster_id").as("rep_id"))
    withNorm(t).select(col("vec_id"))
      .join(cc, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("rep_id"), col("vec_id")).as("rep_id"))
      .withColumn("kept",
        when(col("vec_id") === col("rep_id"), 1).otherwise(0).cast(IntegerType))
      .withColumn("tau", lit(tau))
  }

  /** Static side of the streaming semantic-dedup twin
    * ([[graft.streaming.Streams.semanticDedupStream]]): the corpus's
    * cell-assigned vectors joined with their [[semanticDedup]] cluster
    * representative — (cell, cand_id, rep_id, vc, nc) — plus the
    * centroid constants the stream ranks row-locally. Cell assignment
    * is the SAME multi-assign (cdist asc, cell asc) rule as
    * [[embeddingNearDupIvf]] with the same derived knobs, so an
    * arriving vector probes exactly the cells the batch blocking would
    * have placed it in. The index is corpus-sized but cell-keyed — the
    * stream-static join ships a probe to its `assign` cells only,
    * never the corpus (the ANN cell-index asymmetry; a nightly batch
    * job owns the rebuild).
    */
  def semanticIndex(t: Tables,
      minCos: Double = 0.0): (DataFrame, Seq[(Int, Seq[Double])]) = {
    val tau = if (minCos > 0) minCos else semanticTauCalibrated(t)
    val nl = nlistFor(corpusSize(t))
    val a = assignFor(nl)
    val e = withNorm(t)
    val model = coarseQuantizer(t, nl)
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    val reps = semanticDedup(t, tau)
      .select(col("vec_id").as("cand_id"), col("rep_id"))
    // row-local multi-assign (same TopCells swap as embeddingNearDupIvf:
    // the crossJoin+window form carried N·nlist vector-wide rows
    // through a sort — the nd1000 instrument's measured disk wall)
    graft.functions.GraftFunctions.register(t.spark)
    val idx = e.select(col("vec_id"), col("v"), col("nrm"))
      .select(col("vec_id"),
        explode(graft.functions.GraftFunctions.topCells(
          col("v"), centroids.map(_._2), a)).as("cell"),
        col("v"), col("nrm"))
      .select(col("vec_id").as("cand_id"), col("cell"),
        col("v").as("vc"), col("nrm").as("nc"))
      .join(reps, "cand_id")
    (idx, centroids)
  }

  /** All (probe, cand) pairs with probe_id ≠ cand_id — the execution
    * form of the library's flat Θ(Q·N) scans, as a block-salted EQUI
    * join. Candidates hash into `8·defaultParallelism` disjoint blocks
    * (pmod of cand_id); every probe replicates to every block, so each
    * pair forms exactly once inside a codegen'd sort-merge join.
    *
    * Why not `join(cands, probe_id =!= cand_id)`: with no equi key the
    * planner's only operators are BroadcastNestedLoopJoin — which
    * builds (broadcasts) the join's RIGHT input, i.e. the CORPUS side
    * here, an OOM at scale — or, past the broadcast threshold, an
    * interpreted CartesianProduct whose tasks recompute each stream
    * partition once per opposite partition. Neither supports
    * whole-stage codegen; the r18 10x rehearsal measured the cartesian
    * at ~4 µs/pair (ann_brute_force join stage 125 s CPU for 3.1e7
    * pairs) vs this form's codegen'd merge loop. Both
    * REPARTITION_BY_NUM exchanges pin the compute-amplified pair
    * stage's width (narrow rows — the signWords lesson) and double as
    * a materialization barrier for HOF-derived inputs (int8 codes, PQ
    * decodes, MRL prefixes): each side is computed once per ROW behind
    * its exchange, never per pair. Probe replication costs Q·blocks
    * rows, bounded by [[flatScanGuard]] on every caller; these flat
    * scans are the guarded truth baselines — the IVF twins are the
    * 100 TB path.
    *
    * `nCands` derives the block count: ~64 candidates per block,
    * clamped to [par, 8·par] (enough keys per partition for balance,
    * never more replication than the corpus warrants — at the 1x
    * rehearsal the flat 8·par blocks cost the tiny-N queries ~0.5 s of
    * pure probe-replication overhead). Callers that cannot count the
    * candidate side without an action (the streaming probe) pass -1 →
    * the 8·par ceiling.
    */
  private[graft] def blockedPairs(probes: DataFrame, cands: DataFrame,
      nCands: Long = -1L): DataFrame = {
    val par = probes.sparkSession.sparkContext.defaultParallelism
    // clamp in Long BEFORE narrowing: ((nCands+63)/64).toInt wraps
    // negative past ~1.4e11 candidates and would silently degrade the
    // block count to `par` (minimum replication — the wrong direction
    // for exactly the corpora that hit it)
    val blocks = if (nCands < 0) 8 * par
      else math.max(par.toLong, math.min(8L * par, (nCands + 63) / 64)).toInt
    val p = probes
      .withColumn("blk", explode(sequence(lit(0), lit(blocks - 1))))
      .repartition(par, col("blk"))
    val c = cands
      .withColumn("blk", pmod(col("cand_id"), lit(blocks)).cast("int"))
      .repartition(par, col("blk"))
    p.join(c, "blk").drop("blk")
      .filter(col("probe_id") =!= col("cand_id"))
  }

  /** Cell-keyed candidate join with PINNED width: both inputs are
    * byte-small tables (probe cells ~50 MB, resident codes ~10 MB at
    * the 10x rehearsal), so AQE's byte-based sizing coalesced the
    * compute-amplified pair-production stage — Q·nprobe·|cell| scored
    * pairs — to 3 tasks (measured 20 s CPU on ann_ivf_pq; the q32/
    * signWords lesson again). REPARTITION_BY_NUM on both sides keeps
    * the stage at full width; the join itself stays an equi join on
    * the cell id.
    */
  private[graft] def cellJoin(probeCells: DataFrame, cands: DataFrame): DataFrame = {
    val par = probeCells.sparkSession.sparkContext.defaultParallelism
    probeCells.repartition(par, col("cell"))
      .join(cands.repartition(par, col("cell")), Seq("cell"))
  }

  /** Brute-force cosine top-k: the correctness baseline for ANN. Probe
    * set = vec_id % 13 == 0; k = 5; total-order tiebreak on cand_id.
    */
  def annBruteForce(t: Tables, probeMod: Int = 13,
      allowFullScan: Boolean = false): DataFrame = {
    val n = corpusSize(t)
    flatScanGuard("annBruteForce", n / math.max(1, probeMod), n,
      allowFullScan, "annIvf")
    val e = withNorm(t)
    val probes = e.filter(col("vec_id") % probeMod === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"))
    val cands = e.select(col("vec_id").as("cand_id"), col("v").as("vc"), col("nrm").as("nc"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    // No broadcast hint: probes = N/13 of the corpus, a growing input —
    // an un-demotable hint would OOM at scale (brute force is the
    // documented small-Q baseline; IVF/LSH are the scale paths).
    blockedPairs(probes, cands, n)
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("cos"))
  }

  val annBruteForceSql: String = {
    val d = dotSql.format("p.embedding", "c.embedding")
    val np = "sqrt(" + dotSql.format("p.embedding", "p.embedding") + ")"
    val nc = "sqrt(" + dotSql.format("c.embedding", "c.embedding") + ")"
    s"""SELECT probe_id, cand_id, rnk, cos FROM (
       | SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |  $d / ($np * $nc) AS cos,
       |  row_number() OVER (PARTITION BY p.vec_id
       |   ORDER BY $d / ($np * $nc) DESC, c.vec_id ASC) AS rnk
       | FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
       | WHERE p.vec_id % 13 = 0)
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  /** FILTERED vector search — top-k under a metadata predicate (here:
    * candidate.label = probe.label), the query shape production vector
    * stores serve constantly ("nearest docs in MY tenant / language /
    * license class"). The predicate is pushed INTO candidate
    * generation — the join key IS the filter — not applied to an
    * unfiltered top-k afterwards: post-filtering an ANN result
    * under-delivers k whenever the match rate is low (filter
    * selectivity s leaves s·k survivors), which is why engines like
    * FAISS/Milvus treat filtered search as its own operator. Exact
    * within the partition, so it carries a full hash oracle.
    *
    * Scale shape (100 TB): the label equi-join partitions candidate
    * work by label — the same blocking [[embeddingNearDup]] uses — so
    * a probe scans its label's partition, never the corpus. A bare
    * label equi-join, though, caps join parallelism at |labels| (10
    * here; a "language" label is ~30 at 100 TB) and AQE coalesces it
    * further because the shuffled bytes are small while the per-pair
    * dot amplifies compute — the r16 10x stage audit measured the
    * whole scoring stage in 4 tasks. So the join is SALTED on the
    * candidate side with probes replicated across salts, both sides
    * repartitioned by (label, salt) at an explicit width
    * (REPARTITION_BY_NUM — the q32_fuzzy_name discipline): each
    * same-label pair still meets exactly once (under the candidate's
    * salt), so the result — and the hash oracle — is unchanged, but
    * scoring spreads over |labels|·salts combos. The salt count is
    * DERIVED ([[saltsFor]] — fill the cluster, don't shard below one
    * candidate per combo; 13 at the gate corpora) and replication cost
    * is probe-side only (×salts on the N/13 small side). A skewed
    * mega-label
    * stays the documented hand-off point to the IVF-within-partition
    * composition (cell-block inside the label partition,
    * [[embeddingNearDupIvf]]'s Σ|cell|² knob applying per-label). No
    * broadcast hint: probes grow with the corpus.
    */
  def annLabelFiltered(t: Tables, salts: Int = 0): DataFrame = {
    val e = withNorm(t)
    val width = t.spark.sparkContext.defaultParallelism
    val s = if (salts > 0) salts
      else saltsFor(corpusSize(t), labelCount(t), width)
    val probes = e.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("probe_id"), col("label"),
        col("v").as("vp"), col("nrm").as("np"))
      .withColumn("salt", explode(sequence(lit(0), lit(s - 1))))
    val cands = e.select(col("vec_id").as("cand_id"), col("label"),
      col("v").as("vc"), col("nrm").as("nc"))
      .withColumn("salt", pmod(hash(col("cand_id")), lit(s)))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    probes.repartition(width, col("label"), col("salt"))
      .join(cands.repartition(width, col("label"), col("salt")), Seq("label", "salt"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("label"), col("rnk"), col("cos"))
  }

  val annLabelFilteredSql: String = {
    val d = dotSql.format("p.embedding", "c.embedding")
    val np = "sqrt(" + dotSql.format("p.embedding", "p.embedding") + ")"
    val nc = "sqrt(" + dotSql.format("c.embedding", "c.embedding") + ")"
    s"""SELECT probe_id, cand_id, label, rnk, cos FROM (
       | SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.label AS label,
       |  $d / ($np * $nc) AS cos,
       |  row_number() OVER (PARTITION BY p.vec_id
       |   ORDER BY $d / ($np * $nc) DESC, c.vec_id ASC) AS rnk
       | FROM embeddings p JOIN embeddings c
       |  ON p.label = c.label AND p.vec_id <> c.vec_id
       | WHERE p.vec_id % 13 = 0)
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  /** RANGE search — retrieval's other API (FAISS `range_search`): all
    * corpus vectors with cos ≥ τ of each probe, instead of a fixed
    * top-k. The shape a dedup-by-query or recall-oriented retrieval
    * pass wants: result size tracks true neighborhood density, so
    * sparse probes return nothing and dense ones return everything
    * above the bar — no arbitrary k truncation, no rank column at all
    * (and therefore no window; the threshold filter is embarrassingly
    * parallel after the join). Exact probes×corpus form = the
    * documented small-Q baseline (same no-hint AQE reasoning as
    * [[annBruteForce]]); [[annRangeIvf]] is the scale path. τ = 0.3
    * matches [[embeddingNearDup]]'s hash-green literal-threshold
    * pattern (the cosine is bitwise-identical in both engines, so the
    * compare is deterministic).
    */
  def annRange(t: Tables, minCos: Double = 0.3,
      allowFullScan: Boolean = false): DataFrame = {
    val n = corpusSize(t)
    flatScanGuard("annRange", n / 13, n, allowFullScan, "annRangeIvf")
    val e = withNorm(t)
    val probes = e.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"))
    val cands = e.select(col("vec_id").as("cand_id"), col("v").as("vc"), col("nrm").as("nc"))
    blockedPairs(probes, cands, n)
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .filter(col("cos") >= minCos)
      .select(col("probe_id"), col("cand_id"), col("cos"))
  }

  val annRangeSql: String = {
    val d = dotSql.format("p.embedding", "c.embedding")
    val np = "sqrt(" + dotSql.format("p.embedding", "p.embedding") + ")"
    val nc = "sqrt(" + dotSql.format("c.embedding", "c.embedding") + ")"
    s"""SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       | $d / ($np * $nc) AS cos
       |FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
       |WHERE p.vec_id % 13 = 0 AND $d / ($np * $nc) >= 0.3""".stripMargin.replace("\n", " ")
  }

  /** [[annRange]]'s scale path: each probe thresholds only its nprobe
    * nearest IVF cells — the same cell pruning as [[annIvf]], with the
    * top-k window replaced by the stateless τ filter (range search
    * needs no rank, so the per-probe window sort disappears entirely;
    * the only wide ops left are the cell join and the quantizer
    * assignment). Recall < 1 by construction (a qualifying neighbor
    * can live outside the probed cells) → rows-only; check.py bands
    * pair recall vs the exact [[annRange]] and reported cosines are
    * genuine by the same arithmetic as the hash-green exact form.
    * Knobs derive from corpus size exactly like [[annIvf]].
    */
  def annRangeIvf(t: Tables, nlist: Int = 0, nprobe: Int = 0,
      minCos: Double = 0.3): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val nl = if (nlist > 0) nlist else nlistFor(corpusSize(t))
    val np0 = if (nprobe > 0) nprobe else nprobeFor(nl)
    val e = withNorm(t)
    val withVec = e.withColumn("features", array_to_vector(col("v")))
    val model = coarseQuantizer(t, nl)
    val assigned = model.transform(withVec)
      .select(col("vec_id"), col("v"), col("nrm"), col("prediction").as("cell"))
      .persist()
    val centroids = model.clusterCenters.map(_.toArray.toSeq).toSeq
    val probes = assigned.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"))
    // row-local multi-assign (graft.functions.TopCells) — the old
    // crossJoin(broadcast(centroids)) + row_number window sorted
    // (N/13)·nlist VECTOR-WIDE rows (~86 GB at nd1000), the measured
    // defect-4 disk-filler shape. Same (cdist asc, cell asc) rule and
    // left-fold dot arithmetic (TopCellsSpec pins bit-identical
    // assignment); downstream partitioning is unaffected — cellJoin
    // pins its own width on the cell key.
    graft.functions.GraftFunctions.register(t.spark)
    val probeCells = probes.select(col("probe_id"), col("vp"), col("np"),
      explode(graft.functions.GraftFunctions.topCells(
        col("vp"), centroids, np0)).as("cell"))
    val cands = assigned.select(col("vec_id").as("cand_id"),
      col("v").as("vc"), col("nrm").as("nc"), col("cell"))
    val thresholded = cellJoin(probeCells, cands)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .filter(col("cos") >= minCos)
      .select(col("probe_id"), col("cand_id"), col("cos"))
    val out = thresholded.localCheckpoint()
    assigned.unpersist()
    out
  }

  /** IVF-style ANN — the other scale path (the one real vector stores
    * use): a coarse quantizer (KMeans, fixed seed) partitions the
    * corpus into nlist cells; each probe searches only its nprobe
    * nearest cells. At 100 TB the cell id becomes the partition key, so
    * a probe touches nprobe partitions instead of the corpus. Recall <
    * 1 by construction → rows-only check (no SQL oracle); the
    * guarantee is that reported cosines are genuine.
    *
    * Knobs derive from corpus size by default (r15): nlist =
    * [[nlistFor]](N) (√N cells), nprobe = [[nprobeFor]](nlist) (the
    * measured 5/8 cell fraction). Measured recall@5 vs brute force at
    * the derived points: 0.883 at sf0.01 (16/10) and 0.930 at sf0.1
    * (32/20) — solid margin over the 0.8 recall band (AnnRecallSpec +
    * check.py BAND_CHECKS; recall sweep in SCALING.md). Passing
    * explicit nlist/nprobe (> 0) overrides the derivation.
    */
  def annIvf(t: Tables, nlist: Int = 0, nprobe: Int = 0,
      probeMod: Int = 13): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val nl = if (nlist > 0) nlist else nlistFor(corpusSize(t))
    val np = if (nprobe > 0) nprobe else nprobeFor(nl)
    val e = withNorm(t)
    val withVec = e.withColumn("features", array_to_vector(col("v")))
    val model = coarseQuantizer(t, nl)
    val assigned = model.transform(withVec)
      .select(col("vec_id"), col("v"), col("nrm"), col("prediction").as("cell"))
      .persist()

    // probe cells: nprobe nearest centroids per probe vector, ranked by
    // the SAME metric the quantizer assigns with (Euclidean):
    // ||p-c||² = ||p||² - 2p·c + ||c||²; ||p||² is constant per probe,
    // so ||c||² - 2p·c preserves the ranking. Row-local multi-assign
    // (graft.functions.TopCells): the old crossJoin(broadcast) +
    // row_number window sorted (N/probeMod)·nlist VECTOR-WIDE rows —
    // the measured defect-4 disk-filler shape one decade out. Same
    // (cdist asc, cell asc) rule, same left-fold dot arithmetic
    // (TopCellsSpec pins bit-identical assignment); cellJoin pins its
    // own width on the cell key, so no partitioning is lost.
    val centroids = model.clusterCenters.map(_.toArray.toSeq).toSeq
    val probes = assigned.filter(col("vec_id") % probeMod === 0)
      .select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"))
    graft.functions.GraftFunctions.register(t.spark)
    val probeCells = probes.select(col("probe_id"), col("vp"), col("np"),
      explode(graft.functions.GraftFunctions.topCells(
        col("vp"), centroids, np)).as("cell"))

    val cands = assigned.select(col("vec_id").as("cand_id"),
      col("v").as("vc"), col("nrm").as("nc"), col("cell"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    // top-5 per probe is tiny: materialize it so the cell-assignment
    // cache can be released instead of accumulating across a sweep
    val ranked = cellJoin(probeCells, cands)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .select(col("probe_id"), col("cand_id"), col("cos"))
      // pinned width: the pruned (ids, cos) stream is narrow, so the
      // by-col rank exchange AQE-coalesces (annIvfPq's measured 3-task
      // pathology, the q32/signWords lesson)
      .repartition(t.spark.sparkContext.defaultParallelism, col("probe_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("cos"))
    val out = ranked.localCheckpoint()
    assigned.unpersist()
    out
  }

  /** LSH-bucketed ANN — the scale path. Multi-table random-hyperplane
    * LSH: TABLES independent hash tables of PLANES sign-bits each
    * (hyperplane components derived deterministically from md5, zero
    * data-dependent state); a candidate is any vector sharing a bucket
    * with the probe in at least one table. Recall < 1 by construction,
    * so this entry is rows-only checked (no SQL oracle): the semantics
    * guarantee is "every reported neighbor's cosine is genuine", not
    * "all top-k found". At 100 TB the bucket joins replace the
    * quadratic probe×corpus product with |bucket|-bounded work per
    * table.
    *
    * Tuning the knobs: recall ≈ 1 - (1 - (1-θ/π)^planes)^tables for
    * angular distance θ, so `planes` sets bucket selectivity
    * (expected bucket fraction 2^-planes of the corpus per table) and
    * `tables` buys back recall linearly in cost. Size planes so the
    * expected bucket (N / 2^planes) fits a join task — at N = 10^10
    * vectors, planes = 16–20 — then raise tables until the measured
    * recall floor holds (AnnRecallSpec pins recall@5 ≥ 0.8 at the
    * defaults 12×4 on the test corpus; re-measure after any knob
    * change, the floor is the contract). Cost scales as
    * tables × (N + probe·bucket) — recall is bought with table count,
    * never with an unbounded candidate set.
    */
  /** Full value-level DuckDB oracle for [[annLsh]] at the default
    * knobs. Possible because the pipeline has zero data-dependent
    * state: hyperplanes re-derive in SQL from the same md5 recipe
    * (`('0x'||substr(md5(seed||':'||i),1,8))::BIGINT / 2^32 - 0.5` is
    * bitwise the Scala derivation — h32/2^32 is a dyadic exact double),
    * bucket bits are sign tests on `list_dot_product` (sequential fold,
    * accumulation-order-identical to Spark's `aggregate(zip_with(..))`),
    * and the top-5 carries a total tiebreak. Recall < 1 doesn't matter:
    * the oracle runs the SAME bucketing, so both engines report the
    * same neighbor set — this checks every reported cosine and rank,
    * not recall.
    *
    * PINNED ASSUMPTION (validated against DuckDB 1.0.0, the driver's
    * oracle engine): `list_dot_product`'s sequential left-fold
    * accumulation order is UNDOCUMENTED DuckDB behavior. A DuckDB
    * upgrade that reorders (e.g. pairwise/SIMD) could flip a
    * near-zero projection's sign and surface as a confusing ann_lsh
    * hash mismatch. If that happens it is accumulation-order drift,
    * not an engine bug — demote ann_lsh to rows-only (drop its
    * oracleSql entry like ann_ivf; AnnRecallSpec still re-verifies
    * every cosine independently).
    */
  val annLshSql: String = {
    val T = 12; val P = 4
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |hp AS (
       | SELECT CAST(s.range AS INT) AS seed,
       |  list(('0x'||substr(md5(s.range||':'||i.range),1,8))::BIGINT / 4294967296.0 - 0.5
       |       ORDER BY i.range) AS w
       | FROM range(0,${T * P}) s, range(0,64) i GROUP BY s.range),
       |proj AS (
       | SELECT e.vec_id, hp.seed // $P AS tb, hp.seed % $P AS j,
       |  list_dot_product(e.v, hp.w) AS p
       | FROM e CROSS JOIN hp),
       |b AS (
       | SELECT vec_id, tb,
       |  CAST(sum(CASE WHEN p >= 0 THEN 1 << j ELSE 0 END) AS INT) AS bk
       | FROM proj GROUP BY vec_id, tb),
       |cand AS (
       | SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       | FROM b p JOIN b c ON p.tb = c.tb AND p.bk = c.bk
       | WHERE p.vec_id % 13 = 0 AND p.vec_id <> c.vec_id),
       |scored AS (
       | SELECT cand.probe_id, cand.cand_id,
       |  list_dot_product(pe.v, ce.v) /
       |   (sqrt(list_dot_product(pe.v, pe.v)) * sqrt(list_dot_product(ce.v, ce.v))) AS cos
       | FROM cand JOIN e pe ON cand.probe_id = pe.vec_id
       |           JOIN e ce ON cand.cand_id = ce.vec_id)
       |SELECT probe_id, cand_id, rnk, cos FROM (
       | SELECT probe_id, cand_id, cos,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id ASC) AS rnk
       | FROM scored)
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  def annLsh(t: Tables, tables: Int = 12, planes: Int = 4): DataFrame = {
    val TABLES = tables
    val PLANES = planes
    val e = withNorm(t)
    // Hyperplane weights are data-independent: derive them from md5 ONCE
    // on the driver and embed as array literals — never per row.
    def hyperplane(seed: Int): Seq[Double] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      (0 until 64).map { i =>
        val d = md.digest(s"$seed:$i".getBytes("UTF-8"))
        val h32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        h32 / 4294967296.0 - 0.5
      }
    }
    // bucket id for table tb: 6 sign bits of hyperplane projections.
    // graft_dot, not aggregate(zip_with(...)): the HOF pair is
    // CodegenFallback and this expression runs TABLES×PLANES times per
    // row inside the bucket explode — the r21 stage audit put ~16 s
    // CPU on that one narrow map. DotProduct's fold is the same
    // left-to-right double accumulation, so the projections (and the
    // hash oracle that leans on DuckDB's list_dot_product order) are
    // bitwise unchanged.
    def bucket(tb: Int): Column = (0 until PLANES).map { j =>
      val w = typedLit(hyperplane(tb * PLANES + j))
      val proj = dot(col("v"), w)
      when(proj >= 0, lit(1 << j)).otherwise(0)
    }.reduce(_ + _)

    // One bucket table keyed by (table, bucket) → a single self-join
    // covers all tables (vs one join per table).
    val bucketStructs = (0 until TABLES).map(tb =>
      struct(lit(tb).as("tb"), bucket(tb).as("bk")))
    val buckets = e.select(col("vec_id"),
        explode(array(bucketStructs: _*)).as("b"))
      .select(col("vec_id"), col("b.tb").as("tb"), col("b.bk").as("bk"))
      .persist()

    val p = buckets.filter(col("vec_id") % 13 === 0).toDF("probe_id", "tb", "bk")
    val c = buckets.toDF("cand_id", "tb", "bk")
    val cand = p.join(c, Seq("tb", "bk"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(col("probe_id"), col("cand_id"))
      .distinct()

    val probes = e.select(col("vec_id").as("probe_id"),
      col("v").as("vp"), col("nrm").as("np"))
    val cands = e.select(col("vec_id").as("cand_id"),
      col("v").as("vc"), col("nrm").as("nc"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    // materialize the small top-5 result, then drop the bucket cache
    val out = cand.join(probes, "probe_id").join(cands, "cand_id")
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("cos"))
    val cp = out.localCheckpoint()
    buckets.unpersist()
    cp
  }

  /** Per-vector symmetric int8 scalar quantization of the NORMALIZED
    * embeddings: `codes_i = floor(u_i * (127/qmax) + 0.5)` with
    * `u = v/nrm`, `qmax = max|u_i|`. The element attaining qmax maps to
    * ±127, everything else scales linearly — the standard first
    * compression step of a 100 TB vector store (4x less storage and
    * memory bandwidth than float32, 8x less than the double pipeline).
    *
    * Every arithmetic step is a SINGLE IEEE double op (one divide for
    * u_i, one divide for the scale, one multiply, one add, floor), so
    * DuckDB evaluating the same expression tree reproduces the codes
    * bit for bit — the codes carry a full hash oracle. nrm reuses the
    * left-fold dot accumulation the cosine oracles already
    * hash-validate (file header); max is order-insensitive. Same
    * contingency class as annLsh / corpus_weighted_sample (CLAUDE.md):
    * if a DuckDB upgrade ever changes list_dot_product's accumulation
    * order, demote emb_quantize_int8/ann_int8 to rows-only (the codes
    * themselves stay bit-deterministic on the Spark side) rather than
    * chasing ulps.
    *
    * Derived lazily from the persisted [[withNorm]] projection — a
    * pure per-row map (zero shuffle, plan-pinned in QuantizeSpec), so
    * no extra cache entry: recomputing the map is cheaper than holding
    * a second 64-long column copy resident for the sweep.
    */
  /** Adds qmax + codes columns to any frame carrying (v, nrm) — a pure
    * column-level map, so [[annIvfInt8]] can quantize its cell-assigned
    * table inline instead of joining two corpus-sized projections.
    */
  private[graft] def withQuantCols(df: DataFrame): DataFrame =
    df.filter(col("nrm") > 0)
      .withColumn("q", call_function("graft_quant", col("v"), col("nrm")))
      .withColumn("qmax", col("q.qmax"))
      .withColumn("codes", col("q.codes"))
      .drop("q")

  private def quantizedCodes(t: Tables): DataFrame =
    withQuantCols(withNorm(t))
      .select(col("vec_id"), col("label"), col("qmax"), col("codes"))

  /** The static int8 resident index (vec_id, qmax, codes) — what an
    * ingest-time retrieval stream probes (Streams.annStream): the
    * nightly batch job maintains this table; the stream never rebuilds
    * it.
    */
  def quantizedIndex(t: Tables): DataFrame =
    quantizedCodes(t).select(col("vec_id"), col("qmax"), col("codes"))

  /** Shared oracle CTE: normalized vectors and their int8 codes.
    * Expression trees mirror [[quantizedCodes]] op for op.
    */
  private val quantSqlCte: String = {
    val d = dotSql.format("embedding", "embedding")
    s"""WITH n AS (
       | SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |  sqrt($d) AS nrm
       | FROM embeddings),
       |un AS (
       | SELECT vec_id, label, list_transform(v, x -> x / nrm) AS u
       | FROM n WHERE nrm > 0),
       |m AS (
       | SELECT vec_id, label, u,
       |  list_max(list_transform(u, y -> abs(y))) AS qmax
       | FROM un),
       |q AS (
       | SELECT vec_id, label, qmax,
       |  list_transform(u, x -> CAST(floor(x * (127.0 / qmax) + 0.5) AS BIGINT)) AS codes
       | FROM m)""".stripMargin
  }

  /** Quantization table: vec_id, label, qmax, the codes stringified
    * (no array-typed output cells), and an exact integer checksum.
    */
  def embQuantizeInt8(t: Tables): DataFrame =
    quantizedCodes(t).select(
      col("vec_id"), col("label"), col("qmax"),
      concat_ws(":", transform(col("codes"), x => x.cast(StringType))).as("codes"),
      aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"))

  val embQuantizeInt8Sql: String =
    s"""$quantSqlCte
       |SELECT vec_id, label, qmax,
       | array_to_string(list_transform(codes, x -> CAST(x AS VARCHAR)), ':') AS codes,
       | CAST(list_sum(codes) AS BIGINT) AS code_sum
       |FROM q""".stripMargin.replace("\n", " ")

  /** Brute-force top-5 by scale-corrected int8 dot product — the
    * quantized search baseline. The integer score `qdot` is a sum of
    * 64 products each ≤ 127², so the double-typed graft_dot
    * accumulates it EXACTLY (every intermediate < 2^53). Raw qdot is
    * NOT rank-preserving across candidates (each candidate's own
    * per-vector scale qmax_c distorts it — measured recall@5 0.68), so
    * ranking uses the asymmetric dequantized estimate
    * `score = qdot·qmax_p·qmax_c/127²` ≈ cos(p,c) — the scale
    * correction every scalar-quantized ADC scorer applies (measured
    * recall@5 0.990 at sf0.01, QuantizeSpec floor 0.9). score is a
    * three-multiply/one-divide IEEE chain over exact inputs, mirrored
    * op for op in SQL, so the full output hash-compares. Same probe
    * set and total tiebreak as [[annBruteForce]]; QuantizeSpec pins
    * recall@5 vs the float baseline. At 100 TB the int8 corpus is the
    * resident set (4x smaller scans than float32); the integer dot is
    * the SIMD-friendly hot loop and the scale correction is two
    * scalars per pair.
    */
  def annInt8(t: Tables): DataFrame = {
    val qc = quantizedCodes(t)
    val probes = qc.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("probe_id"), col("qmax").as("qp"),
        col("codes").cast("array<double>").as("cp"))
    val cands = qc.select(col("vec_id").as("cand_id"), col("qmax").as("qc"),
      col("codes").cast("array<double>").as("cc"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    // No broadcast hint, same reasoning as annBruteForce: probes grow
    // with the corpus. The blk exchanges inside blockedPairs double as
    // the materialization barrier for the HOF quantize chain — codes
    // are computed once per row, and the Q·N scoring loop below runs
    // whole-stage codegen'd over stored arrays.
    blockedPairs(probes, cands, corpusSize(t))
      .withColumn("qdot", dot(col("cp"), col("cc")).cast(LongType))
      .withColumn("score",
        col("qdot") * col("qp") * col("qc") / lit(16129.0))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("qdot"), col("score"))
  }

  val annInt8Sql: String = {
    val qd = "CAST(list_dot_product(CAST(p.codes AS DOUBLE[]), CAST(c.codes AS DOUBLE[])) AS BIGINT)"
    s"""$quantSqlCte
       |SELECT probe_id, cand_id, rnk, qdot, score FROM (
       | SELECT probe_id, cand_id, qdot, score,
       |  row_number() OVER (PARTITION BY probe_id
       |   ORDER BY score DESC, cand_id ASC) AS rnk
       | FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, $qd AS qdot,
       |   $qd * p.qmax * c.qmax / 16129.0 AS score
       |  FROM q p JOIN q c ON p.vec_id <> c.vec_id
       |  WHERE p.vec_id % 13 = 0))
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  /** Oracle for the streaming retrieval path (Streams.annStream driven
    * in batch mode): ann_int8's plan minus the qdot column — the
    * stream's bounded top-k aggregator ranks by the identical
    * (score DESC, cand_id ASC) total order, so the batch-mode output
    * hash-matches this SQL bit for bit.
    */
  val annStreamSql: String = {
    val qd = "CAST(list_dot_product(CAST(p.codes AS DOUBLE[]), CAST(c.codes AS DOUBLE[])) AS BIGINT)"
    s"""$quantSqlCte
       |SELECT probe_id, cand_id, rnk, score FROM (
       | SELECT probe_id, cand_id, score,
       |  row_number() OVER (PARTITION BY probe_id
       |   ORDER BY score DESC, cand_id ASC) AS rnk
       | FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |   $qd * p.qmax * c.qmax / 16129.0 AS score
       |  FROM q p JOIN q c ON p.vec_id <> c.vec_id
       |  WHERE p.vec_id % 13 = 0))
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  // ---- 1-bit binary quantization (emb_binarize / ann_hamming) ----

  /** Sign-bit word: bit i set iff embedding[i] > 0, packed into ONE
    * BIGINT for the 64-dim contract — the most compressed resident
    * form in the family (8 bytes vs 256 float32 = 32x, like PQ8, but
    * with a 1-instruction distance kernel and NO fitted model at
    * all). Sign is normalization-invariant, so this reads the raw
    * embedding: no norm pass, no quantizer, no codebook — the index
    * is a pure column map, rebuildable at ingest cost zero. Bit 63's
    * weight is Long.MinValue; the fold is bitwise-OR of disjoint
    * single-bit terms, so no ANSI overflow path exists.
    */
  private def signWord(vCol: Column): Column =
    (0 until 64).map(i =>
      when(vCol(i) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))

  /** The same 64 disjoint single-bit terms for the DuckDB oracle —
    * bit 63's weight prints as -9223372036854775808, which DuckDB
    * parses as HUGEINT and CASTs back losslessly (validated against
    * DuckDB 1.0.0).
    */
  private val signWordSql: String =
    (0 until 64).map(i =>
      s"(CASE WHEN %s[${i + 1}] > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
      .mkString(" | ")

  /** Binary quantization table: vec_id, label, the packed sign word,
    * and its popcount. Full hash oracle — every step is exact integer
    * arithmetic mirrored op for op in SQL.
    */
  def embBinarize(t: Tables): DataFrame =
    t.widen(t.embeddings)
      .select(col("vec_id"), col("label"),
        signWord(col("embedding")).as("sign_word"),
        bit_count(signWord(col("embedding"))).cast(LongType).as("nbits"))

  val embBinarizeSql: String = {
    val w = signWordSql.format(Seq.fill(64)("embedding"): _*)
    s"""SELECT vec_id, label, $w AS sign_word,
       | CAST(bit_count($w) AS BIGINT) AS nbits
       |FROM embeddings""".stripMargin.replace("\n", " ")
  }

  /** Hamming-shortlist ANN over the 1-bit sign words + exact cosine
    * re-rank — the cheapest index in the family and the only
    * sub-float one with a FULL hash oracle (no fitted model: sign
    * packing, xor, popcount and the re-rank cosine are all exactly
    * SQL-expressible). Stage 1 scans 8-byte words with a
    * bit_count(xor) kernel — at 100 TB that is the same 32x-smaller
    * resident set as PQ8 but with a 1-cycle distance op, and the
    * pigeonhole block-bucketing that [[graft.dedup.Dedup]] applies to
    * SimHash words composes unchanged if the probe×corpus product
    * ever needs pruning (any pair within Hamming r shares an exact
    * 8-bit block among r+1 blocks). Stage 2 re-ranks the `rerank`
    * shortlist with true cosines, so reported scores are genuine —
    * only the shortlist is approximate, yet the rows still
    * hash-compare because the shortlist rule itself (ham asc,
    * cand_id asc — a total integer order, no float ties) is the same
    * in both engines. Same probe set and output contract as the rest
    * of the ANN family; AnnRecallSpec pins recall@5 vs brute force.
    */
  /** The packed sign-word table (vec_id, w) behind a narrow exchange.
    * The exchange is load-bearing, not a repartition for width: the
    * 64-term signWord CASE-chain is too large for whole-stage codegen,
    * and when it is planned INSIDE the probe×cand join stage the
    * fallback turns the whole stage interpreted — every one of the
    * Q·N pair rows then pays the interpreted JoinedRow/copy path
    * (measured at the 10x rehearsal: 67 s for 30.8M pairs vs 2.5 s
    * with the boundary; SCALING.md §10x). The shuffle this buys is
    * O(N) rows of 16 bytes — at 100 TB this materialized word table
    * IS the resident 1-bit index the scaladoc below describes.
    *
    * Explicit-width repartition (REPARTITION_BY_NUM), NOT by-col: the
    * word table is tiny in BYTES (16 B/row), so AQE's byte-based
    * coalescing shrinks a by-col exchange to ONE partition — and the
    * probe-side exchange's partitioning already satisfies the
    * shortlist window's distribution, so the Q·N pair production,
    * sort, and window all inherit that single task (measured: 20.4 s
    * in 1 task vs ~2 s across 32). Same lesson as q32_fuzzy_name:
    * compute-amplified stages must pin their width.
    */
  private def signWords(t: Tables): DataFrame =
    t.widen(t.embeddings)
      .select(col("vec_id"), signWord(col("embedding")).as("w"))
      .repartition(t.spark.sparkContext.defaultParallelism, col("vec_id"))

  def annHamming(t: Tables, rerank: Int = 128): DataFrame = {
    val e = withNorm(t)
    val words = signWords(t)
    val probes = words.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("probe_id"), col("w").as("wp"))
    val cands = words.select(col("vec_id").as("cand_id"), col("w").as("wc"))
    val wHam = Window.partitionBy(col("probe_id"))
      .orderBy(col("ham").asc, col("cand_id").asc)
    // no broadcast hint: probes grow with the corpus (annBruteForce's
    // reasoning); the scan payload is 8 bytes per side
    val shortlist = blockedPairs(probes, cands, corpusSize(t))
      .withColumn("ham", bit_count(col("wp").bitwiseXOR(col("wc"))).cast(LongType))
      .withColumn("hr", row_number().over(wHam))
      .filter(col("hr") <= rerank)
      .select(col("probe_id"), col("cand_id"), col("ham"))
    val vp = e.select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"))
    val vc = e.select(col("vec_id").as("cand_id"), col("v").as("vc"), col("nrm").as("nc"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    shortlist.join(vp, "probe_id").join(vc, "cand_id")
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("ham"), col("cos"))
  }

  val annHammingSql: String = {
    val wp = signWordSql.format(Seq.fill(64)("p.embedding"): _*)
    val wc = signWordSql.format(Seq.fill(64)("c.embedding"): _*)
    val d = dotSql.format("s.pe", "s.ce")
    val np = "sqrt(" + dotSql.format("s.pe", "s.pe") + ")"
    val nc = "sqrt(" + dotSql.format("s.ce", "s.ce") + ")"
    s"""WITH short AS (
       | SELECT probe_id, cand_id, ham, pe, ce FROM (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
       |   CAST(bit_count(xor($wp, $wc)) AS BIGINT) AS ham,
       |   p.embedding AS pe, c.embedding AS ce,
       |   row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY CAST(bit_count(xor($wp, $wc)) AS BIGINT) ASC,
       |     c.vec_id ASC) AS hr
       |  FROM embeddings p JOIN embeddings c ON p.vec_id <> c.vec_id
       |  WHERE p.vec_id % 13 = 0)
       | WHERE hr <= 128)
       |SELECT probe_id, cand_id, rnk, ham, cos FROM (
       | SELECT s.probe_id, s.cand_id, s.ham,
       |  $d / ($np * $nc) AS cos,
       |  row_number() OVER (PARTITION BY s.probe_id
       |   ORDER BY $d / ($np * $nc) DESC, s.cand_id ASC) AS rnk
       | FROM short s)
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  /** Three-stage cascade retrieval — the progressive-refinement funnel
    * a 100 TB store actually serves from, composed entirely of this
    * family's exact-arithmetic stages so the WHOLE cascade carries a
    * FULL hash oracle (the only approximation is WHICH candidates
    * survive each stage, and every stage's survivor rule is a total
    * order both engines share):
    *
    *   1. 1-bit sign words ([[embBinarize]]'s 8-byte residents, 32x
    *      compression): Hamming-shortlist the corpus to `shortlist`
    *      (256) candidates per probe — the only corpus-wide scan, over
    *      the smallest possible resident set with a 1-instruction
    *      distance kernel.
    *   2. int8 ADC ([[annInt8]]'s scale-corrected integer dot, 4x
    *      compression): re-rank the 256 down to `rerank` (32) — per
    *      probe this touches 256 rows of the codes table, never the
    *      corpus.
    *   3. exact float cosine: score the 32 survivors and report the
    *      top 5 with TRUE cosines — per probe, 32 rows of the float
    *      table.
    *
    * At 100 TB the float vectors are cold storage (read 32 rows/probe),
    * the int8 codes are warm (256 rows/probe), and only the 1-bit words
    * are hot — the standard memory hierarchy of production vector
    * search (binary-quantization prefilter + rescoring). Stage-1's
    * probe×corpus window composes with the pigeonhole block-bucketing
    * exactly as [[annHamming]]'s scaladoc lays out. Recall@5 vs
    * [[annBruteForce]] is pinned in AnnRecallSpec — the 256→32 funnel
    * measures the same as ann_hamming's single-stage 128 shortlist
    * (the int8 middle stage loses ~nothing, QuantizeSpec's 0.99
    * recall), while reading 4x fewer float rows.
    */
  /** Matryoshka (MRL) truncated-dimension funnel — the OTHER way to
    * make the first retrieval stage cheap (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS'22): score the
    * shortlist on the first [[MrlDims]] = 16 of 64 dimensions (4x
    * fewer multiply-adds and 4x smaller resident vectors — MRL-trained
    * embeddings front-load information so prefix cosine preserves
    * neighborhood order), then re-rank the survivors with the full
    * vectors. Complements the quantization family: int8/PQ/1-bit
    * shrink the VALUE axis, MRL shrinks the DIMENSION axis; at 100 TB
    * the 16-dim prefixes are the hot resident table (16 doubles/row)
    * and full vectors page in only for shortlist·|probes| rows.
    *
    * Both stages are exact arithmetic on deterministic slices, so
    * unlike the KMeans-backed funnels this one carries a FULL hash
    * oracle (the slice preserves element order, so the left-fold dot
    * matches list_dot_product bitwise — the validated annLsh class).
    *
    * Recall is a property of the EMBEDDINGS, not the operator: the
    * synthetic corpus is i.i.d. random, the worst case for truncation
    * (each dim carries 1/64 of the variance, so the 16-dim prefix
    * holds 25%), and the measured shortlist sweep quantifies exactly
    * that — recall@5 vs brute force 0.45/0.58/0.67/0.73/0.84 at
    * shortlist 32/64/96/128/192 (sf0.01). MRL-trained embeddings
    * front-load ~90% of variance into the prefix (the paper's
    * premise), where shortlists of 2-3x k suffice. Default 128 is the
    * honest worst-case setting; the hash oracle pins correctness at
    * any knob value.
    */
  def annMrl(t: Tables, shortlist: Int = 128): DataFrame = {
    val e = withNorm(t)
    val pref = e.select(col("vec_id"),
      expr(s"slice(v, 1, $MrlDims)").as("p"))
      .withColumn("pn", sqrt(dot(col("p"), col("p"))))
    val probes = pref.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("probe_id"), col("p").as("pp"), col("pn").as("ppn"))
    val cands = pref.select(col("vec_id").as("cand_id"), col("p").as("pc"),
      col("pn").as("pcn"))
    val wPre = Window.partitionBy(col("probe_id"))
      .orderBy(col("pcos").desc, col("cand_id").asc)
    val short = blockedPairs(probes, cands, corpusSize(t))
      .withColumn("pcos", dot(col("pp"), col("pc")) / (col("ppn") * col("pcn")))
      .withColumn("pr", row_number().over(wPre))
      .filter(col("pr") <= shortlist)
      .select(col("probe_id"), col("cand_id"), col("pcos"))
    val vp = e.select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"))
    val vc = e.select(col("vec_id").as("cand_id"), col("v").as("vc"), col("nrm").as("nc"))
    val wCos = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    short.join(vp, "probe_id").join(vc, "cand_id")
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .withColumn("rnk", row_number().over(wCos))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("pcos"), col("cos"))
  }

  private val MrlDims = 16

  val annMrlSql: String = {
    val pd = "list_dot_product(pr.p, c.p)"
    val pn = "sqrt(list_dot_product(pr.p, pr.p))"
    val pcn = "sqrt(list_dot_product(c.p, c.p))"
    val d = dotSql.format("p.embedding", "c.embedding")
    val np = "sqrt(" + dotSql.format("p.embedding", "p.embedding") + ")"
    val nc = "sqrt(" + dotSql.format("c.embedding", "c.embedding") + ")"
    s"""WITH pe AS (SELECT vec_id, CAST(embedding AS DOUBLE[])[1:16] AS p FROM embeddings),
       |s1 AS (SELECT probe_id, cand_id, pcos FROM (
       | SELECT pr.vec_id AS probe_id, c.vec_id AS cand_id,
       |  $pd / ($pn * $pcn) AS pcos,
       |  row_number() OVER (PARTITION BY pr.vec_id
       |   ORDER BY $pd / ($pn * $pcn) DESC, c.vec_id ASC) AS prr
       | FROM pe pr JOIN pe c ON pr.vec_id <> c.vec_id
       | WHERE pr.vec_id % 13 = 0) WHERE prr <= 128)
       |SELECT probe_id, cand_id, rnk, pcos, cos FROM (
       | SELECT s1.probe_id, s1.cand_id, s1.pcos,
       |  $d / ($np * $nc) AS cos,
       |  row_number() OVER (PARTITION BY s1.probe_id
       |   ORDER BY $d / ($np * $nc) DESC, s1.cand_id ASC) AS rnk
       | FROM s1 JOIN embeddings p ON s1.probe_id = p.vec_id
       | JOIN embeddings c ON s1.cand_id = c.vec_id)
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  def annCascade(t: Tables, shortlist: Int = 256, rerank: Int = 32): DataFrame = {
    val e = withNorm(t)
    val words = signWords(t) // the codegen-fallback containment boundary (see signWords)
    val probes = words.filter(col("vec_id") % 13 === 0)
      .select(col("vec_id").as("probe_id"), col("w").as("wp"))
    val cands = words.select(col("vec_id").as("cand_id"), col("w").as("wc"))
    val wHam = Window.partitionBy(col("probe_id"))
      .orderBy(col("ham").asc, col("cand_id").asc)
    val short = blockedPairs(probes, cands, corpusSize(t))
      .withColumn("ham", bit_count(col("wp").bitwiseXOR(col("wc"))).cast(LongType))
      .withColumn("hr", row_number().over(wHam))
      .filter(col("hr") <= shortlist)
      .select(col("probe_id"), col("cand_id"), col("ham"))
    val qc = quantizedCodes(t)
    val qp = qc.select(col("vec_id").as("probe_id"), col("qmax").as("qp"),
      col("codes").cast("array<double>").as("cp"))
    val qcands = qc.select(col("vec_id").as("cand_id"), col("qmax").as("qcx"),
      col("codes").cast("array<double>").as("cc"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    val mid = short.join(qp, "probe_id").join(qcands, "cand_id")
      .withColumn("qdot", dot(col("cp"), col("cc")).cast(LongType))
      .withColumn("score", col("qdot") * col("qp") * col("qcx") / lit(16129.0))
      .withColumn("qr", row_number().over(wAdc))
      .filter(col("qr") <= rerank)
      .select(col("probe_id"), col("cand_id"), col("ham"))
    val vp = e.select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"))
    val vc = e.select(col("vec_id").as("cand_id"), col("v").as("vc"), col("nrm").as("nc"))
    val wCos = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    mid.join(vp, "probe_id").join(vc, "cand_id")
      .withColumn("cos", dot(col("vp"), col("vc")) / (col("np") * col("nc")))
      .withColumn("rnk", row_number().over(wCos))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("ham"), col("cos"))
  }

  /** The cascade's oracle: quantSqlCte supplies both the int8 codes (q)
    * and the normalized floats (n); sign words are the same 64
    * disjoint-bit terms as [[embBinarizeSql]]. Every stage's survivor
    * rule is a total order (ham asc / score desc / cos desc, cand_id
    * tiebreak), so the funnel — not just the final rows — is identical
    * in both engines.
    */
  val annCascadeSql: String = {
    val w = signWordSql.format(Seq.fill(64)("embedding"): _*)
    val qd = "CAST(list_dot_product(CAST(p.codes AS DOUBLE[]), CAST(c.codes AS DOUBLE[])) AS BIGINT)"
    val d = dotSql.format("pn.v", "cn.v")
    s"""$quantSqlCte,
       |sw AS (SELECT vec_id, $w AS w FROM embeddings),
       |short AS (
       | SELECT probe_id, cand_id, ham FROM (
       |  SELECT pw.vec_id AS probe_id, cw.vec_id AS cand_id,
       |   CAST(bit_count(xor(pw.w, cw.w)) AS BIGINT) AS ham,
       |   row_number() OVER (PARTITION BY pw.vec_id
       |    ORDER BY CAST(bit_count(xor(pw.w, cw.w)) AS BIGINT) ASC,
       |     cw.vec_id ASC) AS hr
       |  FROM sw pw JOIN sw cw ON pw.vec_id <> cw.vec_id
       |  WHERE pw.vec_id % 13 = 0)
       | WHERE hr <= 256),
       |mid AS (
       | SELECT probe_id, cand_id, ham FROM (
       |  SELECT s.probe_id, s.cand_id, s.ham,
       |   row_number() OVER (PARTITION BY s.probe_id
       |    ORDER BY $qd * p.qmax * c.qmax / 16129.0 DESC, s.cand_id ASC) AS qr
       |  FROM short s JOIN q p ON s.probe_id = p.vec_id
       |   JOIN q c ON s.cand_id = c.vec_id)
       | WHERE qr <= 32)
       |SELECT probe_id, cand_id, rnk, ham, cos FROM (
       | SELECT m.probe_id, m.cand_id, m.ham,
       |  $d / (pn.nrm * cn.nrm) AS cos,
       |  row_number() OVER (PARTITION BY m.probe_id
       |   ORDER BY $d / (pn.nrm * cn.nrm) DESC, m.cand_id ASC) AS rnk
       | FROM mid m JOIN n pn ON m.probe_id = pn.vec_id
       |  JOIN n cn ON m.cand_id = cn.vec_id)
       |WHERE rnk <= 5""".stripMargin.replace("\n", " ")
  }

  /** IVF cell pruning composed with int8 ADC scoring — the production
    * shape of vector search at 100 TB: the RESIDENT set is the int8
    * codes + one scale per vector (4x smaller than float32, partitioned
    * by cell id), candidate generation touches only the probe's nprobe
    * cells, and scoring is the scale-corrected integer dot of
    * [[annInt8]]. Probes keep full precision (they are queries, not
    * residents) for the centroid ranking; everything per-candidate is
    * int8. The two stages compose without changing either operator —
    * cell assignment from [[coarseQuantizer]], quantization via
    * [[withQuantCols]] applied inline to the assigned table (a map, no
    * second corpus-sized join).
    *
    * Rows-only like [[annIvf]] (the KMeans fit isn't SQL-derivable) and
    * the same partitioning-determinism scope; check.py bands recall@5
    * vs the hash-checked ann_brute_force anchor, and QuantizeSpec
    * re-verifies every reported qdot against an independent
    * plain-Scala recompute — the reported integer scores are genuine
    * even though the candidate set is approximate. Measured recall@5
    * at sf0.01: 0.913 — identical to the float [[annIvf]] (cell
    * pruning dominates the error; int8 ADC costs nothing here).
    */
  /** Cell-assigned int8 codes (vec_id, cell, qmax, codes) — the
    * resident table of the IVF+int8 search path, shared by the batch
    * [[annIvfInt8]] and the streaming probe's static index
    * ([[quantizedCellIndex]]). Unpersisted: callers decide residency.
    */
  private def cellAssignedCodes(t: Tables, nlist: Int): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val model = coarseQuantizer(t, nlist)
    withQuantCols(
      model.transform(withNorm(t).withColumn("features", array_to_vector(col("v"))))
        .select(col("vec_id"), col("v"), col("nrm"), col("prediction").as("cell")))
      .select(col("vec_id"), col("cell"),
        col("qmax"), col("codes").cast("array<double>").as("codes"))
  }

  /** The static cell-keyed int8 index plus the driver-side centroid
    * list — what the cell-keyed ingest-time retrieval stream probes
    * (Streams.annStreamIvf): the nightly batch job maintains the
    * cell-partitioned codes table, the centroids are a tiny model
    * artifact (nlist × 64 doubles) every probe task holds, and the
    * stream never touches the float vectors at all. Same fit cache as
    * [[annIvfInt8]], so batch search and streaming ingest share one
    * coarse index per (session, dir, nlist).
    *
    * RESIDENCY IS THE CALLER'S (r15 advisor item): the returned frame
    * is unpersisted, so a continuous streaming run would recompute the
    * KMeans transform + quantization over the full corpus EVERY
    * micro-batch on the static side — persist()/localCheckpoint() it
    * before handing it to Streams.annStreamIvf for a real
    * StreamingQuery (StreamingSpec does; the batch-driven Verify path
    * is a single job, where an eager persist would only add a stacked
    * cache entry per sweep).
    */
  def quantizedCellIndex(t: Tables, nlist: Int = 0): (DataFrame, Seq[(Int, Seq[Double])]) = {
    val nl = if (nlist > 0) nlist else nlistFor(corpusSize(t))
    val model = coarseQuantizer(t, nl)
    val cents = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      (i, c.toArray.toSeq)
    }.toSeq
    (cellAssignedCodes(t, nl), cents)
  }

  // ---- Product quantization (ann_pq) ----

  // One codebook per (input, m, ks): m subspace codebooks of
  // ks centroids each — a tiny driver-side model artifact
  // (m·ks·(d/m) doubles = d·ks = 8 KB at the defaults).
  private val pqMemo = Memo[Array[Array[Array[Double]]]]("sim")

  /** Deterministic driver-side Lloyd iterations: init = first ks
    * distinct points in fit-set (hash) order, assignment ties break to
    * the lowest centroid id, empty clusters keep their centroid, all
    * accumulation left-to-right over the deterministic point order —
    * the fit is a pure function of the fit set, independent of Spark
    * partitioning by construction. Runs on ≤ FitRowsPerCentroid·ks
    * points of d/m doubles: trivially driver-sized (the same
    * bounded-by-construction class as BloomJoin's bitmap collect).
    */
  private def lloyd(points: Array[Array[Double]], ks: Int, iters: Int = 10): Array[Array[Double]] = {
    val ds = points.head.length
    def nearest(cents: Array[Array[Double]], p: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var j = 0
      while (j < cents.length) {
        var d2 = 0.0; var k = 0
        while (k < ds) { val dx = p(k) - cents(j)(k); d2 += dx * dx; k += 1 }
        if (d2 < bestD) { bestD = d2; best = j } // strict: ties keep lowest j
        j += 1
      }
      best
    }
    val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val seen = scala.collection.mutable.Set.empty[Seq[Double]]
    var i = 0
    while (init.size < ks && i < points.length) {
      if (seen.add(points(i).toSeq)) init += points(i).clone()
      i += 1
    }
    // degenerate tiny/duplicate-heavy fit sets: cycle what we have
    while (init.size < ks)
      init += (if (init.isEmpty) new Array[Double](ds)
               else init(init.size % init.size.max(1)).clone())
    var cents = init.toArray
    var it = 0
    while (it < iters) {
      val sums = Array.fill(ks)(new Array[Double](ds))
      val cnt = new Array[Long](ks)
      points.foreach { p =>
        val j = nearest(cents, p)
        cnt(j) += 1
        var k = 0; while (k < ds) { sums(j)(k) += p(k); k += 1 }
      }
      cents = Array.tabulate(ks) { j =>
        if (cnt(j) == 0) cents(j)
        else { val c = new Array[Double](ds); var k = 0
          while (k < ds) { c(k) = sums(j)(k) / cnt(j); k += 1 }; c }
      }
      it += 1
    }
    cents
  }

  /** Runs the m independent per-subspace [[lloyd]] fits on m driver
    * threads instead of serially — each fit is a pure function of its
    * own subvector slice, so the result array is bit-identical to the
    * sequential form regardless of scheduling (guide §2.6: overlap
    * independent work; the m=8 fits are ~2.7 GFLOPs total and the
    * driver is otherwise idle while executors wait). */
  private def fitSubspaces(rows: Array[Array[Double]], m: Int,
      ks: Int): Array[Array[Array[Double]]] = {
    val ds = rows.head.length / m
    val out = new Array[Array[Array[Double]]](m)
    val threads = (0 until m).map { s =>
      val th = new Thread(() => {
        out(s) = lloyd(rows.map(r =>
          java.util.Arrays.copyOfRange(r, s * ds, (s + 1) * ds)), ks)
      })
      th.setDaemon(true); th.start(); th
    }
    threads.foreach(_.join())
    out
  }

  /** Rows per centroid in the PQ fit budget: smaller than the coarse
    * quantizer's 256 — PQ trains m codebooks on d/m-dim points, where
    * ~64 points per centroid is ample (FAISS's floor is 39). At
    * ks=256 the budget is 16384 rows — still O(ks), never O(N). */
  private[graft] val PqFitRowsPerCentroid = 64

  /** PQ codebook fit: the same hash-ordered row-budget selection as
    * [[fitQuantizer]] (O(ks) cost at any corpus size,
    * partitioning-independent), collected once, then m independent
    * [[lloyd]] fits — one per d/m-dim subspace of the NORMALIZED
    * vectors. */
  private[graft] def fitPqCodebook(t: Tables, m: Int, ks: Int): Array[Array[Array[Double]]] =
    pqMemo(t, m, ks) {
      val budget = PqFitRowsPerCentroid * ks
      val rows = withNorm(t)
        .filter(col("nrm") > 0)
        .withColumn("fh", graft.dedup.Dedup.h32(
          concat(col("vec_id").cast("string"), lit(":qfit"))))
        .orderBy(col("fh").asc, col("vec_id").asc)
        .limit(budget)
        .select(graft.functions.GraftFunctions.vdiv(col("v"), col("nrm")).as("u"))
        .collect().map(_.getAs[scala.collection.Seq[Double]]("u").toArray)
      fitSubspaces(rows, m, ks)
    }

  /** Product-quantization ADC search (PQ8: m=8 subspaces × 8-bit
    * codes) — the compression successor to scalar int8 for 100 TB
    * retrieval: the normalized vector is split into m subvectors,
    * each encoded as the id of its nearest centroid in a per-subspace
    * codebook (ks=256 centroids), so a resident is m bytes —
    * 8 BYTES at the defaults vs 256 bytes float32: a 32x resident-set
    * compression (vs int8's 4x), with the codebook itself a
    * broadcast-scale 128 KB artifact. (The 4-bit ks=16 "fast-scan"
    * variant measured recall@5 0.785 on these near-uniform synthetic
    * embeddings — the adversarial case — so the defaults are the
    * classic 8-bit PQ, which holds ~0.99 here.)
    *
    * Search is the classic two-stage ADC pipeline:
    *   1. shortlist by ADC: a candidate's approximate score is the
    *      probe's normalized vector dotted with the candidate's
    *      DECODED centroid concatenation — algebraically identical to
    *      the textbook m-LUT-lookups sum (ADC = Σ_s u_p[s]·c[s][code_s]
    *      either way), realized as decode-on-the-fly inside the scan:
    *      the RESIDENT table and any shuffle payload stay codes-only
    *      (8 bytes), the decode is a per-partition map with the 128 KB
    *      codebook in the task closure, and the join carries 64
    *      doubles per candidate — the LUT-table form is a SIMD-kernel
    *      detail a row engine can't exploit, and materializing the
    *      m×ks LUT as a per-probe COLUMN copied 16 KB into every
    *      joined row measured 16.5 s at sf0.1 vs ~1 s for this shape
    *      (ann_brute_force's profile). Top `rerank` by
    *      (adc desc, cand_id asc);
    *   2. exact re-rank: the shortlist (rerank rows per probe, not
    *      the corpus) joins back to the float vectors for true
    *      cosines, top-5 by (cos desc, cand_id asc).
    * Reported cosines are therefore GENUINE (PqSpec re-verifies them
    * against an independent plain-Scala fold) — only the candidate
    * shortlist is approximate, exactly like the IVF family. At 100 TB
    * stage 1 composes with IVF cell pruning (key the codes table by
    * cell id as annIvfInt8 does) without changing either stage.
    *
    * Encode (argmin per subspace) and decode are pure per-row maps in
    * mapPartitions with the codebook in the task closure (at ks=256
    * the expression form would carry thousands of tiny expressions —
    * the ks=16 expression tree already produced 1.2 MB task binaries).
    * Assignment ties break to the lowest code id and the fit is
    * deterministic driver-side Lloyd on the hash-budgeted fit set
    * ([[lloyd]]), so the whole pipeline is bit-deterministic and
    * partitioning-independent. Lloyd isn't SQL-derivable → rows-only
    * entry; check.py bands recall@5 vs ann_brute_force (the exact
    * re-rank recovers nearly everything the 8-byte codes blur).
    */
  def annPq(t: Tables, m: Int = 8, ks: Int = 256, rerank: Int = 0,
      allowFullScan: Boolean = false): DataFrame = {
    val nGuard = corpusSize(t)
    flatScanGuard("annPq", nGuard / 13, nGuard,
      allowFullScan, "annIvfPq")
    val rr = if (rerank > 0) rerank else rerankFor(corpusSize(t))
    val e = withNorm(t)
    val cb = fitPqCodebook(t, m, ks)
    val ds = cb(0)(0).length
    val spark = t.spark
    import spark.implicits._
    // residents → m codes (the persisted form), decoded on the fly to
    // the centroid concatenation the ADC dot reads — one mapPartitions
    // does encode + decode; only (cand_id, uhat) flows into the scan
    val codes = e.filter(col("nrm") > 0)
      .select(col("vec_id"), graft.functions.GraftFunctions.vdiv(col("v"), col("nrm")).as("u"))
      .as[(Long, Seq[Double])]
      .mapPartitions { rows =>
        rows.map { case (id, u) =>
          val uhat = new Array[Double](m * ds)
          var s = 0
          while (s < m) {
            var best = 0; var bd = Double.MaxValue; var j = 0
            while (j < ks) {
              var d2 = 0.0; var k = 0
              while (k < ds) { val dx = u(s * ds + k) - cb(s)(j)(k); d2 += dx * dx; k += 1 }
              if (d2 < bd) { bd = d2; best = j } // strict <: ties keep lowest j
              j += 1
            }
            System.arraycopy(cb(s)(best), 0, uhat, s * ds, ds)
            s += 1
          }
          (id, uhat.toSeq)
        }
      }.toDF("cand_id", "uhat")
    val probes = e.filter(col("vec_id") % 13 === 0 && col("nrm") > 0)
      .select(col("vec_id").as("probe_id"), col("v").as("vp"), col("nrm").as("np"),
        graft.functions.GraftFunctions.vdiv(col("v"), col("nrm")).as("up"))
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("cand_id").asc)
    // stage 1: ADC = up · uhat (decoded-dot form; same no-broadcast-
    // hint reasoning as annBruteForce — probes grow with the corpus).
    // The rank window's input is projected to (ids, adc) BEFORE the
    // window: the probe's float vector re-joins only after the rr
    // filter. Catalyst prunes below-window columns automatically ONLY
    // when nothing above references them — carrying vp/np through for
    // stage 2 made the Q·N ADC sort spill ~60x its necessary width
    // (the r16 100x run filled the local disk through exactly this).
    val shortlist = blockedPairs(probes.select(col("probe_id"), col("up")), codes, nGuard)
      .withColumn("adc", dot(col("up"), col("uhat")))
      .select(col("probe_id"), col("cand_id"), col("adc"))
      .withColumn("ar", row_number().over(wAdc))
      .filter(col("ar") <= rr)
      .select(col("probe_id"), col("cand_id"))
      .join(probes.select(col("probe_id"), col("vp"), col("np")), "probe_id")
    // stage 2: exact re-rank of the small shortlist only
    val cands = e.select(col("vec_id").as("cand_id"), col("v").as("vc"), col("nrm").as("nc"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    shortlist.join(cands, "cand_id")
      .withColumn("cos", dot(col("vp"), col("vc").cast("array<double>")) / (col("np") * col("nc")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("cos"))
  }

  // Residual PQ codebooks per (input, m, ks, nlist): the IVFPQ fit
  // depends on the coarse quantizer (codebooks are trained on cell
  // RESIDUALS), so nlist joins the key. Same driver-sized artifact
  // (d·ks doubles) as pqMemo.
  private val ivfPqMemo = Memo[Array[Array[Array[Double]]]]("sim")

  /** Residual PQ codebook fit for [[annIvfPq]]: the same hash-ordered
    * row-budget selection as [[fitPqCodebook]] (O(ks) cost at any
    * corpus size, partitioning-independent), but each fit vector is
    * first reduced to its RESIDUAL against its nearest coarse
    * centroid (driver-side Euclidean argmin, ties to the lowest cell
    * id — the same deterministic rule as [[lloyd]]'s `nearest`).
    * Training on residuals instead of raw vectors is what makes IVFPQ
    * beat flat PQ at equal code size: within a cell the residual
    * distribution is tighter than the global one, so ks centroids
    * cover it with far less quantization error.
    */
  private[graft] def fitIvfPqCodebook(t: Tables, m: Int, ks: Int,
      nlist: Int): Array[Array[Array[Double]]] =
    ivfPqMemo(t, m, ks, nlist) {
      val cents = coarseQuantizer(t, nlist).clusterCenters.map(_.toArray)
      val budget = PqFitRowsPerCentroid * ks
      val rows = withNorm(t)
        .filter(col("nrm") > 0)
        .withColumn("fh", graft.dedup.Dedup.h32(
          concat(col("vec_id").cast("string"), lit(":qfit"))))
        .orderBy(col("fh").asc, col("vec_id").asc)
        .limit(budget)
        .select(graft.functions.GraftFunctions.vdiv(col("v"), col("nrm")).as("u"))
        .collect().map(_.getAs[scala.collection.Seq[Double]]("u").toArray)
      val d = rows.head.length
      val ds = d / m
      val residuals = rows.map { u =>
        var best = 0; var bd = Double.MaxValue; var j = 0
        while (j < cents.length) {
          var d2 = 0.0; var k = 0
          while (k < d) { val dx = u(k) - cents(j)(k); d2 += dx * dx; k += 1 }
          if (d2 < bd) { bd = d2; best = j } // strict <: ties keep lowest j
          j += 1
        }
        val r = new Array[Double](d)
        var k = 0; while (k < d) { r(k) = u(k) - cents(best)(k); k += 1 }
        r
      }
      fitSubspaces(residuals, m, ks)
    }

  /** IVF cell pruning composed with residual product quantization —
    * the full FAISS-style IVFPQ index, the canonical 100 TB retrieval
    * shape: candidate generation touches only the probe's nprobe
    * cells (IVF), and each resident inside a cell is m=8 BYTES of PQ
    * codes over its CELL RESIDUAL (u − centroid[cell]) plus a small
    * cell id — the resident set is 32x smaller than float32 AND
    * cell-partitioned, so a probe's scan cost is
    * (nprobe/nlist)·N·(d/32) bytes instead of N·4d. Encoding
    * residuals (not raw vectors, as [[annPq]] does) is the defining
    * IVFPQ trick: the per-cell residual distribution is tighter than
    * the global vector distribution, so the same ks=256 codebook
    * entries land much closer — measured recall@5 at sf0.01 holds
    * ~0.93 even though candidate generation prunes to nprobe cells.
    *
    * Stages, each reusing an already-proven component:
    *   1. cell ranking: probes keep full precision and rank the
    *      broadcast nlist×64 centroid table by ‖c‖² − 2p·c exactly as
    *      [[annIvfInt8]] — top nprobe cells;
    *   2. ADC shortlist inside the probed cells only: approximate
    *      score = up · (centroid[cell] + decode(codes)), realized
    *      decode-on-the-fly in the same mapPartitions shape (and for
    *      the same measured reason) as [[annPq]] — the resident table
    *      and shuffle payload stay codes-only; top `rerank` per probe
    *      by (adc desc, cand_id asc);
    *   3. exact re-rank: the shortlist joins back to the float
    *      vectors for TRUE cosines, top-5 by (cos desc, cand_id asc)
    *      — reported scores are genuine (PqSpec re-verifies), only
    *      the candidate set is approximate.
    *
    * Rows-only like the rest of the IVF family (KMeans + Lloyd fits
    * aren't SQL-derivable); check.py bands recall@5 vs the
    * hash-checked ann_brute_force anchor and tools/determinism.py
    * pins bit-identical output across runs (deterministic fits, total
    * tiebreak orders at every ranking stage).
    */
  /** The IVFPQ RESIDENT table: (cand_id, cell, uhat) — each corpus
    * vector's cell assignment plus its decode-on-the-fly ADC operand
    * uhat = centroid[cell] + codebook-decode(residual codes), exactly
    * [[annIvfPq]]'s stage-2 input, factored out so the streaming twin
    * ([[graft.streaming.Streams.annStreamIvfPq]]) probes the SAME
    * index definition the batch query scans (bit-identical uhat →
    * bit-identical ADC scores → the StreamingSpec equality pin). Cell
    * assignment comes from the SAME model.transform as
    * cellAssignedCodes, so batch int8 and PQ variants share one
    * partitioning of the corpus. The persisted artifact at scale is
    * codes-only (m bytes/resident — the 32x win); uhat exists only in
    * flight, rebuilt per scan by this mapPartitions decode.
    */
  private[graft] def ivfPqDecodedCodes(t: Tables, m: Int, ks: Int,
      nl: Int): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val e = withNorm(t)
    val model = coarseQuantizer(t, nl)
    val cents = model.clusterCenters.map(_.toArray)
    val cb = fitIvfPqCodebook(t, m, ks, nl)
    val ds = cb(0)(0).length
    val d = m * ds
    val spark = t.spark
    import spark.implicits._
    model.transform(
        e.filter(col("nrm") > 0).withColumn("features", array_to_vector(col("v"))))
      .select(col("vec_id"),
        graft.functions.GraftFunctions.vdiv(col("v"), col("nrm")).as("u"),
        col("prediction").as("cell"))
      .as[(Long, Seq[Double], Int)]
      .mapPartitions { rows =>
        rows.map { case (id, u, cell) =>
          val c = cents(cell)
          val uhat = new Array[Double](d)
          var s = 0
          while (s < m) {
            var best = 0; var bd = Double.MaxValue; var j = 0
            while (j < ks) {
              var d2 = 0.0; var k = 0
              while (k < ds) {
                val dx = (u(s * ds + k) - c(s * ds + k)) - cb(s)(j)(k)
                d2 += dx * dx; k += 1
              }
              if (d2 < bd) { bd = d2; best = j } // strict <: ties keep lowest j
              j += 1
            }
            var k = 0
            while (k < ds) {
              uhat(s * ds + k) = c(s * ds + k) + cb(s)(best)(k); k += 1
            }
            s += 1
          }
          (id, cell, uhat.toSeq)
        }
      }.toDF("cand_id", "cell", "uhat")
  }

  /** Resident float vectors (cand_id, vc, nc) — the exact-re-rank side
    * shared by [[annIvfPq]] and its streaming twin. */
  private[graft] def residentFloats(t: Tables): DataFrame =
    withNorm(t).select(col("vec_id").as("cand_id"), col("v").as("vc"),
      col("nrm").as("nc"))

  /** Static-side bundle for the streaming IVFPQ twin: (decoded resident
    * index, centroid constants, resident floats, derived rerank depth).
    * All four derive from the same fits as [[annIvfPq]] at the default
    * knobs, so the stream and the batch query search the same index.
    */
  def ivfPqStreamIndex(t: Tables, m: Int = 8, ks: Int = 256):
      (DataFrame, Seq[(Int, Seq[Double])], DataFrame, Int) = {
    val nl = nlistFor(corpusSize(t))
    val cents = coarseQuantizer(t, nl).clusterCenters.zipWithIndex.map {
      case (c, i) => (i, c.toArray.toSeq)
    }.toSeq
    (ivfPqDecodedCodes(t, m, ks, nl), cents, residentFloats(t),
      rerankFor(corpusSize(t)))
  }

  def annIvfPq(t: Tables, m: Int = 8, ks: Int = 256, nlist: Int = 0,
      nprobe: Int = 0, rerank: Int = 0): DataFrame = {
    val rr = if (rerank > 0) rerank else rerankFor(corpusSize(t))
    val nl = if (nlist > 0) nlist else nlistFor(corpusSize(t))
    val np = if (nprobe > 0) nprobe else nprobeFor(nl)
    val e = withNorm(t)
    val model = coarseQuantizer(t, nl)
    val cents = model.clusterCenters.map(_.toArray)
    val codes = ivfPqDecodedCodes(t, m, ks, nl)
    val probes = e.filter(col("vec_id") % 13 === 0 && col("nrm") > 0)
      .select(col("vec_id").as("probe_id"), col("v").as("vp"),
        col("nrm").as("pnrm"),
        graft.functions.GraftFunctions.vdiv(col("v"), col("nrm")).as("up"))
    // stage 1 — same centroid metric as the whole IVF family, as the
    // row-local TopCells multi-assign (the crossJoin+window form sorted
    // (N/13)·nlist vector-wide rows; TopCellsSpec pins the same
    // (cdist asc, cell asc) assignment; cellJoin re-pins width on cell)
    graft.functions.GraftFunctions.register(t.spark)
    val probeCells = probes.select(col("probe_id"), col("up"),
      explode(graft.functions.GraftFunctions.topCells(
        col("vp"), cents.map(_.toSeq).toSeq, np)).as("cell"))
    // stage 2 — ADC over the probed cells only (cell-keyed join).
    // Same narrow-window discipline as annPq: only (ids, adc) enter
    // the rank sort; the probe floats re-join after the rr filter.
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("cand_id").asc)
    val shortlist = cellJoin(probeCells, codes)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("adc", dot(col("up"), col("uhat")))
      .select(col("probe_id"), col("cand_id"), col("adc"))
      // pin the rank exchange's width: the ADC stream is 24 B rows, so
      // AQE's byte-based coalescing shrank the by-col exchange to 3
      // tasks at the 10x rehearsal (19.8 s CPU in 3 tasks) — the q32/
      // signWords compute-amplified-stage lesson
      .repartition(t.spark.sparkContext.defaultParallelism, col("probe_id"))
      .withColumn("ar", row_number().over(wAdc))
      .filter(col("ar") <= rr)
      .select(col("probe_id"), col("cand_id"))
      .join(probes.select(col("probe_id"), col("vp"), col("pnrm")), "probe_id")
    // stage 3 — exact re-rank of the small shortlist. Width pinned on
    // both exchanges: the Q·rr shortlist carries the probe vector
    // (~550 B rows, ~340 MB at the 10x rehearsal), and AQE's byte
    // sizing coalesced the join+rank stage to 3 tasks (20 s CPU) —
    // the q32/signWords compute-amplified-stage lesson.
    val par = t.spark.sparkContext.defaultParallelism
    val cands = residentFloats(t)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    shortlist.repartition(par, col("cand_id"))
      .join(cands.repartition(par, col("cand_id")), "cand_id")
      .withColumn("cos", dot(col("vp"), col("vc").cast("array<double>")) / (col("pnrm") * col("nc")))
      .select(col("probe_id"), col("cand_id"), col("cos"))
      .repartition(par, col("probe_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("cos"))
  }

  def annIvfInt8(t: Tables): DataFrame = {
    val nl = nlistFor(corpusSize(t))
    val np = nprobeFor(nl)
    val e = withNorm(t)
    val model = coarseQuantizer(t, nl)
    // The RESIDENT table is codes-only (vec_id, cell, scale, 64 int8
    // codes) — the float vectors are NOT persisted alongside; that
    // asymmetry IS the 4x memory win. Probes re-derive their own
    // quantization below (a map over N/13 rows), the production shape
    // where queries arrive full-precision and residents are compressed.
    val assigned = cellAssignedCodes(t, nl)
      .withColumnRenamed("codes", "cd")
      .persist()

    val centroids = model.clusterCenters.map(_.toArray.toSeq).toSeq
    val probes = withQuantCols(e.filter(col("vec_id") % 13 === 0))
      .select(col("vec_id").as("probe_id"), col("v").as("vp"),
        col("qmax").as("qp"), col("codes").cast("array<double>").as("cp"))
    // same centroid metric as annIvf (rank by ||c||² - 2p·c), as the
    // row-local TopCells multi-assign (the crossJoin+window form sorted
    // (N/13)·nlist vector-wide rows; TopCellsSpec pins the same
    // (cdist asc, cell asc) assignment; cellJoin re-pins width on cell)
    graft.functions.GraftFunctions.register(t.spark)
    val probeCells = probes.select(col("probe_id"), col("qp"), col("cp"),
      explode(graft.functions.GraftFunctions.topCells(
        col("vp"), centroids, np)).as("cell"))

    val cands = assigned.select(col("vec_id").as("cand_id"),
      col("qmax").as("qc"), col("cd").as("cc"), col("cell"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    val out = cellJoin(probeCells, cands)
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("qdot", dot(col("cp"), col("cc")).cast(LongType))
      .withColumn("score",
        col("qdot") * col("qp") * col("qc") / lit(16129.0))
      .select(col("probe_id"), col("cand_id"), col("qdot"), col("score"))
      // pinned width (annIvfPq's measured 3-task pathology)
      .repartition(t.spark.sparkContext.defaultParallelism, col("probe_id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("probe_id"), col("cand_id"), col("rnk"), col("qdot"), col("score"))
      .localCheckpoint()
    assigned.unpersist()
    out
  }

  /** Index-health maintenance query (`ann_recall_probe`): measured
    * recall of the IVF cell-pruned search against the flat quantized
    * index, plus a REFIT flag when it breaches `floor`. This is the
    * drift monitor the streaming scaladocs defer to ("a periodic batch
    * job re-fits the coarse quantizer on drift"): [[graft.streaming
    * .Streams.indexAppend]] ingests without re-fitting, so as the
    * ingested distribution drifts away from the fitted centroids, cell
    * assignment degrades and IVF recall decays — THIS query is what
    * notices, cheaply, without ground-truth labels: the flat int8 scan
    * over a BOUNDED probe sample is the reference, so the measurement
    * isolates exactly the coarse-quantizer/cell-pruning stage (the
    * compression error is common to both sides and cancels).
    *
    * Probe sample: the `nProbes` vectors with the smallest md5-derived
    * hash — deterministic, partitioning-independent, and O(nProbes)
    * state per partition (the same TakeOrderedAndProject shape as the
    * quantizer fit set). Cost is O(nProbes·N) for the flat side — a
    * metrics job over a tiny fixed probe set, NOT a per-query path;
    * the IVF side touches nprobe cells per probe as usual. Output is
    * one row per probe (probe_id, hits, k) with the micro-averaged
    * recall and the flag repeated (grand-total window over nProbes
    * already-aggregated rows — the accepted Quiet.windowWarn class).
    * recall = Σhits / Σk is one IEEE division of exact ints; rows-only
    * at the driver (KMeans centroids), check.py bands the no-drift
    * case at recall >= floor and flag agreement; AnnRecallSpec's
    * stale-index case shows the flag firing against a deliberately
    * mis-mapped index.
    *
    * `index` overrides the (cell table, centroids) pair to measure a
    * POSSIBLY STALE resident index instead of the freshly derived one
    * — the production call probes the index actually serving traffic.
    */
  def annRecallProbe(t: Tables, k: Int = 5, nProbes: Int = 64,
      floor: Double = 0.8,
      index: Option[(DataFrame, Seq[(Int, Seq[Double])])] = None): DataFrame = {
    val (cellIdx, cents) = index.getOrElse(quantizedCellIndex(t))
    val e = withQuantCols(withNorm(t))
    // bounded-by-construction probe set: broadcast is legitimate here
    // (nProbes rows by the limit, never corpus-scaled)
    val probes = broadcast(e
      .withColumn("ph", graft.dedup.Dedup.h32(
        concat(col("vec_id").cast("string"), lit(":recallprobe"))))
      .orderBy(col("ph").asc, col("vec_id").asc)
      .limit(nProbes)
      .select(col("vec_id").as("probe_id"), col("v").as("vp"),
        col("qmax").as("qp"), col("codes").cast("array<double>").as("cp")))
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("cand_id").asc)
    // reference: flat ADC over the WHOLE quantized corpus (the same
    // scoring the IVF side uses, so only cell pruning differs)
    val cands = quantizedCodes(t).select(col("vec_id").as("cand_id"),
      col("qmax").as("qc"), col("codes").cast("array<double>").as("cc"))
    val truth = probes.join(cands, col("probe_id") =!= col("cand_id"))
      .withColumn("qdot", dot(col("cp"), col("cc")).cast(LongType))
      .withColumn("score", col("qdot") * col("qp") * col("qc") / lit(16129.0))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("cand_id"))
    // measured: the same probes through the cell-pruned path against
    // the (possibly stale) resident index. Row-local multi-assign
    // (graft.functions.TopCells) — r20 retired the last surviving
    // crossJoin+window probe-assignment instance here; this one was
    // bounded (nProbes × nlist), so hygiene, not a scale fix. The
    // centroid matrix is ordered by cell id, making TopCells'
    // position-ascending tiebreak exactly the window form's
    // (cdist asc, cell asc); the position maps back through the
    // cell-id literal so an override `index` with remapped cells
    // (AnnRecallSpec's stale index) still ranks against the table it
    // declares.
    val ordered = cents.sortBy(_._1)
    val np = nprobeFor(cents.size)
    graft.functions.GraftFunctions.register(t.spark)
    val probeCells = probes
      .withColumn("pos", explode(graft.functions.GraftFunctions.topCells(
        col("vp"), ordered.map(_._2), np)))
      .withColumn("cell", element_at(
        lit(ordered.map(_._1).toArray), col("pos") + 1))
      .select(col("probe_id"), col("qp"), col("cp"), col("cell"))
    val ivfCands = cellIdx.select(col("vec_id").as("cand_id"),
      col("qmax").as("qc"), col("codes").cast("array<double>").as("cc"),
      col("cell"))
    val found = probeCells.join(ivfCands, Seq("cell"))
      .filter(col("probe_id") =!= col("cand_id"))
      .withColumn("qdot", dot(col("cp"), col("cc")).cast(LongType))
      .withColumn("score", col("qdot") * col("qp") * col("qc") / lit(16129.0))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("cand_id"), lit(1).as("f"))
    val perProbe = truth.join(found, Seq("probe_id", "cand_id"), "left_outer")
      .groupBy(col("probe_id"))
      .agg(sum(coalesce(col("f"), lit(0))).cast(IntegerType).as("hits"),
        count(lit(1)).cast(IntegerType).as("k"))
    val wAll = Window.partitionBy()
    perProbe
      .withColumn("recall",
        sum(col("hits")).over(wAll).cast("double") / sum(col("k")).over(wAll))
      .withColumn("refit", when(col("recall") < floor, 1).otherwise(0)
        .cast(IntegerType))
      .select(col("probe_id"), col("hits"), col("k"), col("recall"), col("refit"))
  }
}
