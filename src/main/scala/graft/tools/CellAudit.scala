package graft.tools

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.sim.Similarity

/** Pre-flight audit of the banded IVF pair join's candidate volume:
  * fits the coarse quantizer with the derived knobs, assigns residents
  * row-locally (graft_top_cells), and prints the EXACT per-(cell) and
  * per-(cell, band, bv) second moments — Σ|bucket|² IS the pair-join
  * output row count, so this is the number that decides whether a
  * single-node instrument run fits in scratch (and on a cluster, what
  * the candidate exchange will weigh). Usage:
  *   CellAudit <dir> [assign] [minCos]
  */
object CellAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val aOver = if (args.length > 1) args(1).toInt else 0
    val minCos = if (args.length > 2) args(2).toDouble else 0.9
    val spark = DriverSession.build(DriverSession.cpus)
    spark.conf.set("spark.sql.shuffle.partitions", "256")
    import spark.implicits._
    val t = Tables(spark, dir)
    val n = Similarity.corpusSize(t)
    val (nl, aShip) = Similarity.ivfPairKnobsFor(n)
    val a = if (aOver > 0) aOver else aShip
    val (bb, nb) =
      if (Similarity.ivfPairBanded(n)) Similarity.pairBandKnobsFor(n, nl, aShip, minCos)
      else (0, 0)
    println(s"CELLAUDIT n=$n nlist=$nl assign=$a (shipped $aShip) " +
      s"bands=$nb x ${bb}b at minCos=$minCos")
    val keys = Similarity.pairJoinKeys(t, nl, a, bb, nb).persist()
    val cells = (if (nb > 0) keys.filter($"band" === 0) else keys)
      .groupBy($"cell").agg(count(lit(1)).as("c"))
    val cellStats = cells.agg(
      sum($"c").as("n_assign"),
      sum($"c" * $"c").as("sum_sq"),
      max($"c").as("max_c")).head
    println(s"CELLAUDIT cells: assigns=${cellStats.getLong(0)} " +
      s"sum|cell|^2=${cellStats.getLong(1)} max|cell|=${cellStats.getLong(2)}")
    println("CELLAUDIT top cells: " + cells.orderBy($"c".desc).limit(10)
      .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(" "))
    if (nb > 0) {
      val bk = keys.groupBy($"cell", $"band", $"bv").agg(count(lit(1)).as("c"))
      val s = bk.agg(sum($"c" * $"c").as("sum_sq"), max($"c").as("max_c")).head
      println(s"CELLAUDIT band buckets: sum|bucket|^2=${s.getLong(0)} " +
        s"(= pair-join output rows) max|bucket|=${s.getLong(1)}")
    }
    spark.stop()
  }
}
