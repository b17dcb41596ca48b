package graft

import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.functions.GraftFunctions

/** Pins graft_top_cells to the crossJoin(broadcast)+row_number window
  * form it replaced: same (cdist asc, cell asc) rule, same left-fold
  * dot arithmetic, so the assigned cell SETS must be identical —
  * including on exact distance ties (duplicated centroids). Also pins
  * that the IVF retrieval builders assign probe cells with it.
  */
class TopCellsSpec extends SparkSuite {

  /** Walks AQE plans into their query stages. */
  private object PlanNodes extends AdaptiveSparkPlanHelper

  private def windowAssign(vecs: Seq[(Long, Seq[Double])],
      cents: Seq[Seq[Double]], a: Int): Map[Long, Set[Int]] = {
    import spark.implicits._
    GraftFunctions.register(spark)
    val e = vecs.toDF("vec_id", "v")
    val cdf = cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
    val dot = (x: String, y: String) => expr(s"graft_dot($x, $y)")
    val w = Window.partitionBy($"vec_id").orderBy($"cdist".asc, $"cell".asc)
    e.crossJoin(broadcast(cdf))
      .withColumn("cdist", dot("centroid", "centroid") - lit(2.0) * dot("v", "centroid"))
      .withColumn("cr", row_number().over(w))
      .filter($"cr" <= a)
      .select($"vec_id", $"cell")
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getInt(1)).toSet }
  }

  private def exprAssign(vecs: Seq[(Long, Seq[Double])],
      cents: Seq[Seq[Double]], a: Int): Map[Long, Set[Int]] = {
    import spark.implicits._
    GraftFunctions.register(spark)
    vecs.toDF("vec_id", "v")
      .select($"vec_id", explode(GraftFunctions.topCells($"v", cents, a)).as("cell"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getInt(1)).toSet }
  }

  test("random vectors: expression set-equals the window form at a=1,3,8") {
    withLogLevel {
      val rng = new scala.util.Random(23)
      val cents = Seq.fill(37)(Seq.fill(16)(rng.nextDouble() * 2 - 1))
      val vecs = (0L until 200L).map(i => (i, Seq.fill(16)(rng.nextDouble() * 2 - 1)))
      for (a <- Seq(1, 3, 8))
        assert(exprAssign(vecs, cents, a) == windowAssign(vecs, cents, a), s"a=$a")
    }
  }

  test("exact ties (duplicated centroids) break cell-ascending like the window") {
    withLogLevel {
      val rng = new scala.util.Random(29)
      val base = Seq.fill(6)(Seq.fill(8)(rng.nextDouble()))
      // every centroid duplicated: each distance appears exactly twice,
      // so a=3 always cuts through a tie boundary somewhere
      val cents = base ++ base
      val vecs = (0L until 50L).map(i => (i, Seq.fill(8)(rng.nextDouble())))
      for (a <- Seq(1, 2, 3, 5))
        assert(exprAssign(vecs, cents, a) == windowAssign(vecs, cents, a), s"a=$a")
    }
  }

  test("banded fused verify equals the narrow-candidate shape it replaced") {
    withLogLevel {
      import spark.implicits._
      import graft.io.Tables
      import graft.sim.Similarity
      val t = Tables(spark, "/root/testdata/sf0.01")
      // force the banded path at gate scale with explicit small knobs
      val (nl, a, bb, nb) = (16, 4, 4, 3)
      val fused = Similarity.embeddingNearDupIvf(t, nlist = nl, assign = a,
        minCos = 0.2, bandKnobs = Some((bb, nb)))
        .select($"id_a", $"id_b", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // the pre-r18 narrow shape, reimplemented independently:
      // distinct candidates from the same key table, then vector joins
      val keys = Similarity.pairJoinKeys(t, nl, a, bb, nb)
      val cand = keys.toDF("id_a", "cell", "band", "bv")
        .join(keys.toDF("id_b", "cell", "band", "bv"), Seq("cell", "band", "bv"))
        .filter($"id_a" < $"id_b").select($"id_a", $"id_b").distinct()
      val e = t.widen(t.embeddings)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
      val ref = cand
        .join(e.select($"vec_id".as("id_a"), $"v".as("va"), $"nrm".as("na")), "id_a")
        .join(e.select($"vec_id".as("id_b"), $"v".as("vb"), $"nrm".as("nb")), "id_b")
        .withColumn("cos", expr("graft_dot(va, vb)") / ($"na" * $"nb"))
        .filter($"cos" >= 0.2)
        .select($"id_a", $"id_b", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fused.nonEmpty && fused == ref)
    }
  }

  test("key table is vec_id-partitioned so the pair distinct needs no candidate exchange") {
    withLogLevel {
      import spark.implicits._
      import graft.io.Tables
      import graft.sim.Similarity
      val t = Tables(spark, "/root/testdata/sf0.01")
      // the unbanded candidate pipeline (what embeddingNearDupIvf runs
      // below the banded crossover): with keys hash-partitioned by
      // vec_id, every (id_a, ·) candidate is produced in id_a's
      // partition, so the distinct's partial aggregate dedups fully
      // and no exchange of the Σ|cell|²-sized candidate stream exists
      // in the plan. Losing this (round-robin keys straight off the
      // scan) measured +25% on the 10x embedding-dedup family.
      val keys = Similarity.pairJoinKeys(t, 16, 4, 0, 0).persist()
      val cand = keys.toDF("id_a", "cell")
        .join(keys.toDF("id_b", "cell"), Seq("cell"))
        .filter($"id_a" < $"id_b").select($"id_a", $"id_b").distinct()
      cand.count() // finalize AQE
      val plan = cand.queryExecution.executedPlan.toString
      keys.unpersist()
      assert(plan.contains("hashpartitioning(vec_id"),
        s"keys lost their vec_id partitioning:\n$plan")
      assert(!plan.contains("hashpartitioning(id_a"),
        s"pair distinct re-exchanges the candidate stream:\n$plan")
    }
  }

  /** Executed plan of the localCheckpoint that materializes a builder's
    * (probe_id, ...) result, captured by a QueryExecutionListener
    * (Dataset.localCheckpoint runs as a named action). */
  private def checkpointedPlan(build: => Unit): SparkPlan = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint" &&
            qe.analyzed.output.exists(_.name == "probe_id")) seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      build
      // listener events arrive on the listener bus, after the action
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(!seen.isEmpty, "no localCheckpoint of a probe_id result was observed")
    seen.peek().executedPlan
  }

  for ((name, build) <- Seq[(String, graft.io.Tables => Any)](
      "annIvf" -> (t => graft.sim.Similarity.annIvf(t)),
      "annRangeIvf" -> (t => graft.sim.Similarity.annRangeIvf(t))))
    test(s"$name assigns probe cells by a Generate(graft_top_cells) narrow map, no join") {
      withLogLevel {
        val t = graft.io.Tables(spark, "/root/testdata/sf0.001")
        val plan = checkpointedPlan(build(t))
        val nodes = PlanNodes.collect(plan) { case p => p }
        assert(nodes.exists {
          case g: GenerateExec => g.generator.exists(_.isInstanceOf[graft.functions.TopCells])
          case _ => false
        }, s"no Generate over graft_top_cells:\n$plan")
        assert(!nodes.exists(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
          p.isInstanceOf[CartesianProductExec]),
          s"probe-cell assignment went back to a crossJoin form:\n$plan")
      }
    }

  test("a >= nlist returns all cells; rank order is (cdist asc, cell asc)") {
    withLogLevel {
      import spark.implicits._
      GraftFunctions.register(spark)
      val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0))
      val got = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "v")
        .select(GraftFunctions.topCells($"v", cents, 10).as("cs"))
        .head.getSeq[Int](0)
      // cells 0 and 2 tie at the minimum distance: 0 before 2, then 1
      assert(got == Seq(0, 2, 1))
    }
  }
}
