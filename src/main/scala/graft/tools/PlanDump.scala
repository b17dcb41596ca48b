package graft.tools

import org.apache.spark.sql.SparkSession

/** Writes `explain("formatted")` output for named SparkEntry queries
  * to `<outDir>/<query><suffix>.txt` — the r21 optimization-round
  * evidence format (plans/r21/<query>_before.txt / _after.txt).
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> <query...>
  *
  * Plans are captured from the DataFrame the query function returns
  * (pre-execution, AdaptiveSparkPlan isFinalPlan=false — the same
  * artifact `.explain("formatted")` prints). Memoized families hand
  * back a localCheckpoint'd LogicalRDD for their SECOND consumer, so
  * the dump is still the first-build plan: each named query runs in
  * the order given against fresh caches only when it is the family's
  * first consumer in the list — order the CLI args like the sweep if
  * that matters for the query being documented.
  *
  * Queries whose RESULT is localCheckpoint'd (the pair families)
  * analyze to a bare LogicalRDD scan — zero evidence value — so
  * [[inner]] maps them to their checkpoint=false forms (the
  * editDistance plan-inspection precedent) and the dump shows the
  * real candidate-join plan.
  */
object PlanDump {
  private val inner: Map[String, graft.io.Tables => org.apache.spark.sql.DataFrame] =
    Map(
      "dedup_simhash_hamming" -> (t => graft.dedup.Dedup.simhashHamming(t, checkpoint = false)),
      "dedup_image_ahash" -> (t => graft.mm.Multimodal.imageNearDup(t, checkpoint = false)),
      "dedup_audio_fp" -> (t => graft.mm.Multimodal.audioNearDup(t, checkpoint = false)),
      "dedup_edit_distance" -> (t => graft.dedup.Dedup.editDistance(t, checkpoint = false)),
      "dedup_containment" -> (t => graft.dedup.Dedup.containment(t, checkpoint = false)),
      "dedup_ngram_jaccard" -> (t => graft.dedup.Dedup.ngramJaccard(t, checkpoint = false)),
      "corpus_scrub_spans" -> (t => graft.pipeline.CorpusOps.scrubSpans(t, checkpoint = false)),
      "ann_lsh" -> (t => graft.sim.Similarity.annLsh(t, checkpoint = false)),
      // IVF retrieval family: the probe-cell assignment must read as a
      // Generate(explode(graft_top_cells)) narrow map — a Window/Sort
      // here is the defect-4 (N/13)·nlist vector-wide regression
      "ann_ivf" -> (t => graft.sim.Similarity.annIvf(t, checkpoint = false)),
      "ann_range_ivf" -> (t => graft.sim.Similarity.annRangeIvf(t, checkpoint = false)),
      "contamination" -> (t => graft.pipeline.CorpusOps.contaminationUncached(t)))

  /** Query `name` for plan inspection: its [[inner]] form when it has
    * one, else the SparkEntry query itself. Shared with FinalPlan. */
  def query(spark: SparkSession, dir: String, name: String): org.apache.spark.sql.DataFrame =
    inner.get(name) match {
      case Some(fn) => fn(graft.io.Tables(spark, dir))
      case None => graft.SparkEntry.queries(name)(spark, dir)
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <suffix> <query...>")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names = args.drop(3).toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = DriverSession.build(DriverSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val txt = query(spark, sfDir, name).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"PLANDUMP wrote $outDir/$name$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
