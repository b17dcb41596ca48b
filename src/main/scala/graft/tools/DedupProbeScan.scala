package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.dedup.Dedup
import graft.sim.Similarity

/** Decade-scale pair-recall instrument for the DEDUP families — the
  * dedup analogue of AnnProbeScan's `decade` mode (r17, verdict item 1).
  *
  * The dedup families' exact baselines are Θ(N²), so the 10× full-sweep
  * rehearsal was their observation ceiling. This tool opens the next
  * decade the same way the ANN instrument did: hash-subsample a probe
  * DOC set, compute the exact truth only for probes×corpus (Θ(P·N),
  * tractable at any N), run each FAMILY at full corpus scale with its
  * derived knobs, and band the family's probe-restricted pair recall
  * AND precision against the exact truth. For the provably-lossless
  * families (edit distance, n-gram Jaccard, containment, simhash) both
  * numbers must be exactly 1.0 — an empirical check of the written
  * losslessness proofs at a corpus size nobody hand-verified. For the
  * probabilistic families (minhash-vs-signature-agreement, embedding
  * IVF, semantic co-clustering) the recall is the measured band.
  *
  * Run against a ScaleGen `neardup` corpus (planted MUTATED copies at
  * id % 125 == 2 give a similarity spectrum straddling each family's
  * threshold — without them the probe-restricted truth is a handful of
  * exact copies that every family finds trivially):
  *
  *   sbt -batch "runMain graft.tools.ScaleGen /tmp/gen_sf10nd 100 neardup"
  *   sbt -batch "runMain graft.tools.DedupProbeScan /tmp/gen_sf10nd [plantedMod] [randomMod] [embMod] [families]"
  *
  * Probe selection: a hash-sample of planted-pair MEMBERS (variance
  * reduction — the families cannot see what is planted, so conditioning
  * the probe set on planting does not bias P(found | true pair)) plus a
  * hash-sample of the whole corpus (null behavior: random docs should
  * contribute ~zero truth pairs). Every knob inside the families is
  * DERIVED from corpus size (nlistFor/assignFor/semanticTauCalibrated);
  * the point is to observe those ladders at an uncalibrated decade.
  */
object DedupProbeScan {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/gen_sf10nd")
    val plantedMod = if (args.length > 1) args(1).toInt else 50
    val randomMod = if (args.length > 2) args(2).toInt else 8192
    val embMod = if (args.length > 3) args(3).toInt else 1536
    // "restricted" in the families list switches the DOC families to
    // their probeOnly Θ(P·N) forms (same shipped index + verify, only
    // the candidate join's probe side filtered — the simhash family's
    // standing mode) for decades where the FULL families' bucket
    // quadratics exceed one node (nd1000, N=5M on the saturating soup)
    val fams0: Set[String] =
      if (args.length > 4) args(4).split(",").map(_.trim).toSet
      else Set("edit", "minhash", "jaccard", "containment", "simhash",
        "image", "audio", "embedding", "semantic")
    val restricted = fams0.contains("restricted")
    val fams = fams0 - "restricted"
    val spark = DriverSession.build(DriverSession.cpus)
    // 256, not the session's cpus: decade corpora push ~5e8-row candidate
    // distincts through single stages; 32 fat partitions at ~1 GB
    // execution memory each is exactly the UNABLE_TO_ACQUIRE_MEMORY
    // shape (observed at the nd100 banded semantic run, r18) — the
    // instrument wants many small tasks, AQE coalesces the tiny ones
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    val t = Tables(spark, dir)
    run(t, plantedMod, randomMod, embMod, fams, restricted)
    spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Canonicalized (lo, hi) pair set from two id columns. */
  private def pairSet(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
    df.select(least(col(a), col(b)).as("x"), greatest(col(a), col(b)).as("y"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def report(tag: String, truth: Set[(Long, Long)],
      found: Set[(Long, Long)], tTruth: Double, tFam: Double): Unit = {
    val inter = truth & found
    val recall = inter.size.toDouble / math.max(truth.size, 1)
    val precision = inter.size.toDouble / math.max(found.size, 1)
    println(f"DEDUPPROBE $tag%-12s recall=$recall%.4f precision=$precision%.4f " +
      f"truth=${truth.size} found=${found.size} inter=${inter.size} " +
      f"truth_scan=$tTruth%.1fs family=$tFam%.1fs")
  }

  /** Distributed twin of [[pairSet]]+[[report]] for the Hamming
    * families, whose probe-restricted pair sets are CORPUS-DENSITY
    * sized, not probe-count sized: ~6% of ALL pairs on the word-soup
    * corpus sit within the simhash threshold, so 1 817 probes at
    * N=500k already yield 50.8M truth pairs — a driver-side Set of
    * boxed tuples at that size IS the instrument's own scale wall
    * (observed: Java-heap OOM at the default 8g, r20). Recall and
    * precision need only three counts, so the canonicalized pair
    * tables stay executor-side (persisted, counted, inner-joined) and
    * driver state is three longs at any decade. */
  private def reportDistributed(tag: String, truthRaw: => DataFrame,
      foundRaw: => DataFrame, a: String, b: String): Unit = {
    def pairDf(df: DataFrame): DataFrame =
      df.select(least(col(a), col(b)).as("x"), greatest(col(a), col(b)).as("y"))
        .distinct()
    val (truth, tT) = timed { val d = pairDf(truthRaw).persist(); d.count(); d }
    val (found, tF) = timed { val d = pairDf(foundRaw).persist(); d.count(); d }
    val nT = truth.count(); val nF = found.count()
    val nI = truth.join(found, Seq("x", "y")).count()
    val recall = nI.toDouble / math.max(nT, 1L)
    val precision = nI.toDouble / math.max(nF, 1L)
    println(f"DEDUPPROBE $tag%-12s recall=$recall%.4f precision=$precision%.4f " +
      f"truth=$nT found=$nF inter=$nI " +
      f"truth_scan=$tT%.1fs family=$tF%.1fs")
    truth.unpersist(); found.unpersist()
  }

  def run(t: Tables, plantedMod: Int, randomMod: Int, embMod: Int,
      fams: Set[String], restricted: Boolean = false): Unit = {
    import t.spark.implicits._

    val docs = t.widen(t.documents)
    // Planted-pair members under the ScaleGen neardup layout: exact
    // copies at id % 625 == 1 (members ≡ 0,1 mod 625), mutated copies
    // at id % 125 == 2 (members ≡ 1,2 mod 125).
    val planted = pmod($"doc_id", lit(625)).isin(0, 1) ||
      pmod($"doc_id", lit(125)).isin(1, 2)
    val probeIds: Array[Long] = docs
      .filter((planted && pmod(xxhash64($"doc_id", lit("dpp")), lit(plantedMod)) === 0) ||
        pmod(xxhash64($"doc_id", lit("dpr")), lit(randomMod)) === 0)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    val nDocs = docs.count()
    println(s"DEDUPPROBE corpus n=$nDocs probes=${probeIds.length} " +
      s"(plantedMod=$plantedMod randomMod=$randomMod)")
    require(probeIds.nonEmpty, "empty probe set — wrong corpus layout?")
    val isProbeA = col("doc_a").isin(probeIds.map(Long.box): _*)
    val isProbeB = col("doc_b").isin(probeIds.map(Long.box): _*)

    // ------------------------------------------------- edit distance
    if (fams("edit")) {
      // Exact truth: probes × corpus banded levenshtein on the 64-char
      // key. The |len diff| <= 6 prune is exact (ed >= |len diff|); the
      // probe side is bounded by construction, so the broadcast is the
      // sanctioned kind. The corpus side is explicitly widened: the
      // per-row cost is amplified ~|probes|×, the compute-amplified
      // regime where byte-based sizing under-provisions (CLAUDE.md).
      val keys = docs.select($"doc_id", substring($"text", 1, 64).as("k"))
        .withColumn("l", length($"k"))
      val probeKeys = keys.filter($"doc_id".isin(probeIds.map(Long.box): _*))
        .select($"doc_id".as("doc_a"), $"k".as("ka"), $"l".as("la"))
      val (truth, tT) = timed(pairSet(
        keys.repartition(256).select($"doc_id".as("doc_b"), $"k".as("kb"), $"l".as("lb"))
          .join(broadcast(probeKeys),
            col("doc_a") =!= col("doc_b") &&
              abs(col("la") - col("lb")) <= 6 &&
              levenshtein(col("ka"), col("kb"), 6).between(0, 6)),
        "doc_a", "doc_b"))
      // Bucket-volume audit: Σ|bucket|² over the PassJoin index-side
      // (len, block, content) buckets — the number the histogram-L1
      // candidate filter (Dedup.edKeys) has to tame. 8.0e8 at nd100
      // pre-filter is what made this family the decade's grind.
      val edVol = Dedup.edBlocks(
        Dedup.edKeys(docs).filter($"l" >= Dedup.EdBlockMinLen))
        .groupBy($"bl", $"bj", $"bc").agg(count(lit(1)).as("c"))
        .agg(sum($"c" * $"c")).head().getLong(0)
      println(s"DEDUPPROBE edit index-side block bucket volume ~ $edVol")
      val (found, tF) = timed(pairSet(
        Dedup.editDistance(t, probeOnly =
          if (restricted) Some(col("doc_id").isin(probeIds.map(Long.box): _*)) else None)
          .filter(isProbeA || isProbeB), "doc_a", "doc_b"))
      report("edit", truth, found, tT, tF)
    }

    // ------------------------------------------------------- minhash
    if (fams("minhash")) {
      // Truth = the family's own CONTRACT: signature agreement >= 8 of
      // 16 minhashes, computed brute-force probes × corpus. The band-
      // bucket join is NOT lossless against this (a pair can agree on
      // 8 signatures spread 2-per-band with no complete band match) —
      // the gate oracle mirrors the banded form in SQL, so this recall
      // is a genuinely unobserved quantity before this instrument.
      val sig = Dedup.signatureTable(t)
      val k = Dedup.kPerms
      val pSig = sig.filter($"doc_id".isin(probeIds.map(Long.box): _*))
        .toDF("doc_a" +: (0 until k).map(i => s"pa$i"): _*)
      val cSig = sig.toDF("doc_b" +: (0 until k).map(i => s"pb$i"): _*)
      val agree = (0 until k)
        .map(i => when(col(s"pa$i") === col(s"pb$i"), 1).otherwise(0))
        .reduce(_ + _)
      // Truth carries the agreement count: the band join is pigeonhole-
      // LOSSLESS for agreement >= K - ROWS + 1 = 13 (<= 3 mismatches
      // cannot break all 4 bands), so recall there must be exactly 1.0;
      // below 13 the S-curve applies (at agreement exactly 8 the
      // analytic band-hit probability is ~0.144) and the measured
      // number is the band.
      val ((truthAll, truthHi), tT) = timed {
        val rows = cSig.repartition(64).join(broadcast(pSig),
          col("doc_a") =!= col("doc_b"))
          .withColumn("agree", agree)
          .filter(col("agree") >= Dedup.minMatches)
          .select(least(col("doc_a"), col("doc_b")).as("x"),
            greatest(col("doc_a"), col("doc_b")).as("y"), col("agree"))
          .groupBy($"x", $"y").agg(max($"agree").as("agree"))
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
        (rows.map(_._1).toSet,
          rows.filter(_._2 >= k - k / 4 + 1).map(_._1).toSet)
      }
      val (found, tF) = timed(pairSet(
        Dedup.minhashLsh(t,
          if (restricted) Some(col("doc_id").isin(probeIds.map(Long.box): _*)) else None)
          .filter(isProbeA || isProbeB), "doc_a", "doc_b"))
      report("minhash", truthAll, found, tT, tF)
      val hiRecall = (truthHi & found).size.toDouble / math.max(truthHi.size, 1)
      println(f"DEDUPPROBE minhash>=13  recall=$hiRecall%.4f " +
        f"truth=${truthHi.size} (pigeonhole-lossless stratum: must be 1.0)")
    }

    // ------------------------- word-5-gram Jaccard + containment truth
    if (fams("jaccard") || fams("containment")) {
      // Shared probe-restricted gram-join truth: distinct word-5-grams
      // (the families' own gram expression), probe grams equi-joined to
      // the corpus gram table. Word grams have long-tail df on this
      // corpus (31^5 space), so the posting lists stay short.
      val grams = docs.select($"doc_id",
        explode(expr(graft.dedup.Dedup.gramExpr(5))).as("gram"))
        .distinct().persist()
      val sz = grams.groupBy($"doc_id").agg(count(lit(1)).as("n")).persist()
      val pG = grams.filter($"doc_id".isin(probeIds.map(Long.box): _*))
        .toDF("doc_a", "gram")
      val common = pG.join(grams.toDF("doc_b", "gram"), "gram")
        .filter($"doc_a" =!= $"doc_b")
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("common"))
        .join(sz.toDF("doc_a", "na"), "doc_a")
        .join(sz.toDF("doc_b", "nb"), "doc_b")
        .persist()

      if (fams("jaccard")) {
        val (truth, tT) = timed(pairSet(
          common.filter($"common" * 10 >= $"na" + $"nb" - $"common"),
          "doc_a", "doc_b"))
        val (found, tF) = timed(pairSet(
          Dedup.ngramJaccard(t, probeOnly =
            if (restricted) Some(col("doc_id").isin(probeIds.map(Long.box): _*)) else None)
            .filter(isProbeA || isProbeB), "doc_a", "doc_b"))
        report("jaccard", truth, found, tT, tF)
      }
      if (fams("containment")) {
        // C = common / min(na, nb) >= 1/2, integer arithmetic like the
        // family; orientation is irrelevant to the canonicalized pair set.
        val (truth, tT) = timed(pairSet(
          common.filter($"common" * 2 >= least($"na", $"nb")), "doc_a", "doc_b"))
        val (found, tF) = timed(pairSet(
          Dedup.containment(t, probeOnly =
            if (restricted) Some(col("doc_id").isin(probeIds.map(Long.box): _*)) else None)
            .filter(isProbeA || isProbeB), "doc_a", "doc_b"))
        report("containment", truth, found, tT, tF)
      }
      common.unpersist(); sz.unpersist(); grams.unpersist()
    }

    // ------------------------------------------------------- simhash
    if (fams("simhash")) {
      val fp = Dedup.simhash(t).persist()
      // Candidate-volume audit BEFORE running the family: the blocked
      // join's cost is exactly Σ|bucket|² over (combo, key) buckets,
      // computable from bucket counts alone. This is the number that
      // decides whether the block scheme survives the decade — the
      // single-8-bit-block form it replaced measured 1.6e7 / 1.6e9 /
      // 1.6e11 across the three decades (N²·4/1024, saturated), which
      // is what forced blockedHammingPairs' pair-of-intact-blocks keys.
      val comboKeys = (for { i <- 0 until 4; j <- i + 1 until 4 }
        yield s"shiftleft(shiftright(simhash, ${i * 8}) & 255, 8) | " +
          s"(shiftright(simhash, ${j * 8}) & 255)").mkString(", ")
      val candVol = fp.select(posexplode(expr(s"array($comboKeys)"))
        .as(Seq("blk", "key")))
        .groupBy($"blk", $"key").agg(count(lit(1)).as("c"))
        .agg(sum($"c" * $"c")).head().getLong(0)
      println(s"DEDUPPROBE simhash 6x16-bit-combo candidate volume ~ $candVol")
      val pFp = fp.filter($"doc_id".isin(probeIds.map(Long.box): _*))
        .toDF("doc_a", "fa")
      // the SHIPPED generator in its probe-restricted Θ(P·N) form: on
      // this corpus ~6% of ALL pairs are within the threshold, so the
      // full family's output is itself near-quadratic at the decade —
      // the mechanism under test (combo buckets at full corpus size +
      // verify) is unchanged, only the left side is probe-filtered
      reportDistributed("simhash",
        fp.toDF("doc_b", "fb").repartition(64).join(broadcast(pFp),
          col("doc_a") =!= col("doc_b"))
          .filter(expr("bit_count(fa ^ fb)") <= 2),
        Dedup.blockedHammingPairs(fp, "doc_id", "simhash", nBlocks = 4,
          maxHam = 2,
          leftOnly = Some(col("doc_id").isin(probeIds.map(Long.box): _*))),
        "doc_a", "doc_b")
      fp.unpersist()
    }

    // ------------------------------- 64-bit slack-1 fingerprints (r18)
    // The image aHash and audio contour families share the simhash
    // engine but sit at pigeonhole slack 1, where the key geometry is
    // a MEASURED choice (Dedup.slack1KeyExpr): print both Σ|bucket|²
    // sums (the HamAudit numbers) so each decade records which side
    // won and by how much, then verify the probe-restricted pair set
    // against exact Θ(P·N) truth — recall and precision must be
    // exactly 1.0 whichever geometry the chooser ran.
    def slack1Family(tag: String, fp0: DataFrame, idCol: String,
        wCol: String): Unit = {
      val fp = fp0.select(col(idCol).as("doc_id"), col(wCol).as("w")).persist()
      val (vSingle, vCombo) = Dedup.slack1Volumes(fp, nBlocks = 8, maxHam = 7)
      val choice = if (vSingle <= vCombo) "single" else "combo"
      println(s"DEDUPPROBE $tag slack-1 volumes single=$vSingle combo=$vCombo -> $choice")
      val pFp = fp.filter($"doc_id".isin(probeIds.map(Long.box): _*))
        .toDF("doc_a", "fa")
      reportDistributed(tag,
        fp.toDF("doc_b", "fb").repartition(64).join(broadcast(pFp),
          col("doc_a") =!= col("doc_b"))
          .filter(expr("bit_count(fa ^ fb)") <= 7),
        Dedup.blockedHammingPairs(fp, "doc_id", "w", nBlocks = 8,
          maxHam = 7,
          leftOnly = Some(col("doc_id").isin(probeIds.map(Long.box): _*))),
        "doc_a", "doc_b")
      fp.unpersist()
    }
    if (fams("image"))
      slack1Family("image", graft.mm.Multimodal.imageAHash(t), "media_id", "ahash")
    if (fams("audio"))
      slack1Family("audio",
        graft.mm.Multimodal.audioFingerprint(t).filter($"n_frames" >= 17),
        "media_id", "fp")

    // ----------------------------------------- embedding IVF + semantic
    if (fams("embedding") || fams("semantic") || fams("semantic_tight")) {
      val e = t.widen(t.embeddings)
        .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(aggregate($"v", lit(0.0), (a, x) => a + x * x)))
        .persist()
      // planted-member probes (same variance-reduction as the doc
      // probes: the families cannot see planting) + a corpus-wide
      // hash sample for null behavior
      val plantedE = pmod($"vec_id", lit(625)).isin(0, 1) ||
        pmod($"vec_id", lit(125)).isin(1, 2)
      val probeVecs = e.filter(
        (plantedE && pmod(xxhash64($"vec_id", lit("dpp")), lit(plantedMod)) === 0) ||
          pmod(xxhash64($"vec_id", lit("dpe")), lit(embMod)) === 0)
        .toDF("id_a", "label", "va", "na").persist()
      val nProbeVecs = probeVecs.count()
      println(s"DEDUPPROBE embeddings n=${e.count()} probes=$nProbeVecs (embMod=$embMod)")
      val cosCol = aggregate(zip_with($"va", $"vb", _ * _), lit(0.0), _ + _) /
        ($"na" * $"nb")
      // Exact UNRESTRICTED truth — the IVF family is cell-blocked over
      // the full corpus (not label-blocked like dedup_embedding), so
      // its honest baseline is every probe×corpus pair above the
      // threshold; the gate band's label-blocked comparison is a
      // subset of this. One Θ(P·N) pass serves both thresholds.
      // Project to (id_a, id_b, cos) BEFORE the persist: the join output
      // carries both 64-dim vectors per row, and at the 500k decade the
      // probe×corpus product is ~10^8 rows — persisting the vectors
      // would be ~100 GB where the projected triple is ~3 GB (same
      // narrow-exchange lesson as the PQ shortlist projection, r16).
      val exact = e.toDF("id_b", "label_b", "vb", "nb")
        .repartition(64)
        .crossJoin(broadcast(probeVecs.drop("label")))
        .filter($"id_a" =!= $"id_b")
        .withColumn("cos", cosCol)
        .select($"id_a", $"id_b", $"cos")
        .persist()

      val probeVecIds = probeVecs.select($"id_a").collect().map(_.getLong(0))
      if (fams("embedding")) {
        val nEmb = e.count()
        val (nlK, aK) = Similarity.ivfPairKnobsFor(nEmb)
        val bandedK = Similarity.ivfPairBanded(nEmb)
        println(s"DEDUPPROBE embedding_ivf knobs nlist=$nlK assign=$aK " +
          s"(banded=$bandedK" +
          (if (bandedK) {
            val (bb, nb) = Similarity.pairBandKnobsFor(nEmb, nlK, aK, 0.3)
            s", bands=$nb x ${bb}b at minCos=0.3"
          } else "") + ")")
        val (truth, tT) = timed(pairSet(exact.filter($"cos" >= 0.3), "id_a", "id_b"))
        // probe-restricted Θ(P·N) form of the SHIPPED family: at this
        // corpus's ~0.8%-of-all-pairs density above cos 0.3, even the
        // budget-bounded full output is ~N²/125 rows — the mechanism
        // (derived knobs, full-corpus cell structure, verify) is
        // unchanged, only the candidate join's left side is filtered.
        // Knobs passed EXPLICITLY (= the derived values) because in the
        // banded regime the default rightly refuses minCos=0.3 below
        // the calibrated τ — the scan is here to measure exactly that
        // refused operating point (the SRP band keys still derive, at
        // minCos=0.3, from inside embeddingNearDupIvf: the shipped
        // geometry, only the fail-fast is bypassed).
        val (found, tF) = timed(pairSet(
          Similarity.embeddingNearDupIvf(t, nlist = nlK, assign = aK,
            leftOnly = Some(col("id_a").isin(probeVecIds.map(Long.box): _*))),
          "id_a", "id_b"))
        report("embedding_ivf", truth, found, tT, tF)
        // stratified recall: (a) the TIGHT stratum (cos ≥ 0.9 — the
        // planted mutated/exact copies, i.e. the re-encode/paraphrase
        // clusters real SemDeDup corpora dedup) must hold ≥ 0.9 at
        // every decade; (b) the ≥ calibrated-τ stratum additionally
        // counts this corpus's random extremes (~57° apart at nd100's
        // τ), the worst case for any geometric blocker — reported for
        // honesty, banded only at tight
        val tauCal = Similarity.semanticTauCalibrated(t)
        for ((lo, tag) <- Seq((0.9, "tight>=0.9"), (tauCal, ">=tau   "))) {
          val truthHi = pairSet(exact.filter($"cos" >= lo), "id_a", "id_b")
          val hiRec = (truthHi & found).size.toDouble / math.max(truthHi.size, 1)
          println(f"DEDUPPROBE embedding_ivf $tag recall=$hiRec%.4f " +
            f"thresh=$lo%.4f truth=${truthHi.size}" +
            (if (lo == 0.9) " (SemDeDup regime: must hold >= 0.9)" else
              " (random-extreme stratum, worst case; reported, not banded)"))
        }
      }
      if (fams("semantic")) {
        // Co-clustering agreement at the CALIBRATED τ: every exact
        // ≥ τ probe pair should land in one semantic cluster (directly
        // or through a chain). Precision is not meaningful here — the
        // clustering legitimately co-clusters below-τ pairs via chains
        // — so only the agreement fraction is banded.
        val tau = Similarity.semanticTauCalibrated(t)
        val (truthAllP, tT) = timed(
          exact.filter($"cos" >= tau).select($"id_a", $"id_b", $"cos").collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
        val truthPairs = truthAllP.map(p => (p._1, p._2))
        val tightPairs = truthAllP.filter(_._3 >= 0.9).map(p => (p._1, p._2))
        // Volume-gated knob choice (r18): with the fused banded verify
        // the clustering's disk footprint is the KEY table
        // (n·assign·nBands vector-wide rows), predictable up front —
        // run the SHIPPED defaults whenever that fits this node's
        // scratch, and only fall back to the documented reduced point
        // (assign=4; fewer assigned cells can only LOWER co-clustering)
        // when it does not. The r17-era hardcoded assign=4 note
        // ("assign=8 exceeds spill scratch") described the OLD
        // collision-wide shape — at nd100 the shipped default's key
        // table is ~4 GB now.
        val nEmbS = e.count()
        val (nlS, aShipS) = Similarity.ivfPairKnobsFor(nEmbS)
        val aRun = if (!Similarity.ivfPairBanded(nEmbS)) 0 else {
          val (_, nbS) = Similarity.pairBandKnobsFor(nEmbS, nlS, aShipS, tau)
          val keyGb = nEmbS.toDouble * aShipS * nbS * 550 / 1e9
          if (keyGb <= 30.0) {
            println(f"DEDUPPROBE semantic instrument at SHIPPED knobs " +
              f"(key table ~$keyGb%.1f GB fits scratch)")
            0
          } else {
            println(s"DEDUPPROBE semantic instrument knobs nlist=$nlS assign=4 " +
              f"(shipped key table ~$keyGb%.1f GB exceeds single-node scratch)")
            4
          }
        }
        val (reps, tF) = timed(
          Similarity.semanticDedup(t, nlist = if (aRun > 0) nlS else 0,
            assign = aRun)
            .select($"vec_id", $"rep_id").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        def coclust(ps: Array[(Long, Long)]) = {
          val a = ps.count { case (x, y) =>
            reps.get(x).exists(rx => reps.get(y).contains(rx)) }
          (a, a.toDouble / math.max(ps.length, 1))
        }
        val (agree, frac) = coclust(truthPairs)
        val (agreeT, fracT) = coclust(tightPairs)
        println(f"DEDUPPROBE semantic     coclust=$frac%.4f tau=$tau%.4f " +
          f"truth=${truthPairs.length} agree=$agree truth_scan=$tT%.1fs family=$tF%.1fs")
        println(f"DEDUPPROBE semantic tight>=0.9 coclust=$fracT%.4f " +
          f"truth=${tightPairs.length} agree=$agreeT " +
          "(SemDeDup regime: must hold >= 0.9)")
      }
      if (fams("semantic_tight")) {
        // Decade point for when the CALIBRATED-tau clustering's banded
        // candidate volume exceeds one node's spill scratch (measured
        // at nd1000: ~1e10 pre-distinct rows > 71 GB): the same
        // full-corpus clustering restricted to a STRICT SUBSTRUCTURE
        // of the shipped run, so its tight co-clustering LOWER-BOUNDS
        // the shipped number by edge-set inclusion, not heuristics:
        //  - cells: assign=2 — the multi-assign is a rank prefix
        //    (cr <= a), so every instrument (vec, cell) is a shipped
        //    (vec, cell);
        //  - bands: knobs from pairBandKnobsFor(n, nl, SHIPPED assign,
        //    minCos=0.9) — bandBits depends on assign only, so the bit
        //    windows are IDENTICAL to the shipped calibrated-tau run's,
        //    and the higher p1(0.9) only lowers nBands: the instrument
        //    bands are a prefix of the shipped band sequence;
        //  - pairs: cos >= 0.9 is a subset of >= tau_cal.
        // Edges(instrument) therefore being a subset of Edges(shipped),
        // CC merges fewer, and measured co-clustering of the tight
        // stratum can only understate the shipped run's. This IS the
        // SemDeDup operating regime (cluster the re-encode/paraphrase
        // stratum), not a synthetic weakening.
        val (truthTP, tT) = timed(pairSet(
          exact.filter($"cos" >= 0.9), "id_a", "id_b"))
        val nEmb = e.count()
        val (nlS, aShip) = Similarity.ivfPairKnobsFor(nEmb)
        val banded = Similarity.ivfPairBanded(nEmb)
        val bk = if (banded)
          Some(Similarity.pairBandKnobsFor(nEmb, nlS, aShip, 0.9)) else None
        bk.foreach { case (bb, nb) => println(
          s"DEDUPPROBE semantic_tight knobs nlist=$nlS assign=2 " +
            s"bands=$nb x ${bb}b (shipped-geometry prefix at minCos=0.9)") }
        val (reps, tF) = timed(
          Similarity.semanticDedup(t, minCos = 0.9,
            nlist = if (banded) nlS else 0, assign = if (banded) 2 else 0,
            bandKnobs = bk)
            .select($"vec_id", $"rep_id").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
        val agree = truthTP.count { case (x, y) =>
          reps.get(x).exists(rx => reps.get(y).contains(rx)) }
        val frac = agree.toDouble / math.max(truthTP.size, 1)
        println(f"DEDUPPROBE semantic_tight@0.9 coclust=$frac%.4f " +
          f"truth=${truthTP.size} agree=$agree " +
          f"truth_scan=$tT%.1fs family=$tF%.1fs " +
          "(edge-subset lower bound on the shipped clustering; must hold >= 0.9)")
      }
      exact.unpersist(); probeVecs.unpersist(); e.unpersist()
    }
  }
}
