package graft

import graft.io.Tables
import graft.sim.Similarity

/** Pins for the int8 quantization pair (emb_quantize_int8 / ann_int8)
  * on real sf0.01 data:
  *
  *  - the codes are EXACTLY reproducible by an independent plain-Scala
  *    computation (same sequential-fold norm, same single-op IEEE
  *    expression tree) — the in-JVM mirror of the DuckDB hash oracle;
  *  - codes stay in int8 range and the max-|u| element saturates ±127;
  *  - dequantization error obeys the half-step bound qmax/127/2;
  *  - quantization is a pure per-row map: zero exchanges in the
  *    executed plan (the 100 TB claim — compressing the corpus never
  *    shuffles it);
  *  - ann_int8 keeps recall@5 >= 0.9 vs the exact float baseline
  *    (int8 on 64-dim normalized vectors loses almost nothing — the
  *    quantized corpus can serve as the resident search set).
  */
class QuantizeSpec extends SparkSuite {

  private lazy val t = {
    spark.sparkContext.setLogLevel("WARN")
    Tables(spark, "/root/testdata/sf0.01")
  }

  /** vec_id -> (qmax, codes) from the production query's stringified
    * output — parsing what ships, not a private intermediate.
    */
  private lazy val quantized: Map[Long, (Double, Array[Long])] =
    Similarity.embQuantizeInt8(t).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("qmax"),
          r.getAs[String]("codes").split(':').map(_.toLong))
    }.toMap

  /** Independent recompute: float→double cast, sequential-fold norm
    * (the same left-to-right accumulation graft_dot codegens), one
    * divide per element, floor(x*(127/qmax)+0.5).
    */
  private lazy val recomputed: Map[Long, (Double, Array[Long])] =
    t.embeddings.select("vec_id", "embedding").collect().map { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble).toArray
      val nrm = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
      val u = v.map(_ / nrm)
      val qmax = u.map(math.abs).max
      val s = 127.0 / qmax
      r.getAs[Long]("vec_id") ->
        (qmax, u.map(x => math.floor(x * s + 0.5).toLong))
    }.toMap

  test("codes and qmax match an independent plain-Scala recompute exactly") {
    assert(quantized.nonEmpty)
    assert(quantized.keySet == recomputed.keySet)
    quantized.foreach { case (id, (qmax, codes)) =>
      val (rq, rc) = recomputed(id)
      assert(qmax == rq, s"vec $id qmax $qmax != recomputed $rq")
      assert(codes.sameElements(rc),
        s"vec $id codes ${codes.mkString(",")} != recomputed ${rc.mkString(",")}")
    }
  }

  test("codes stay in int8 range and the extreme element saturates to ±127") {
    quantized.foreach { case (id, (_, codes)) =>
      assert(codes.forall(c => c >= -127 && c <= 127),
        s"vec $id has a code outside [-127,127]")
      assert(codes.exists(c => math.abs(c) == 127),
        s"vec $id: no element saturates — qmax scaling is off")
    }
  }

  test("dequantization error obeys the half-step bound") {
    t.embeddings.select("vec_id", "embedding").collect().foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val v = r.getAs[scala.collection.Seq[Float]]("embedding")
        .map(_.toDouble).toArray
      val nrm = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
      val u = v.map(_ / nrm)
      val (qmax, codes) = quantized(id)
      val step = qmax / 127.0
      u.zip(codes).foreach { case (x, c) =>
        val err = math.abs(c * step - x)
        assert(err <= step / 2 + 1e-12,
          s"vec $id: dequant error $err exceeds half-step ${step / 2}")
      }
    }
  }

  test("emb_quantize_int8 adds zero exchanges above the shared projection scan") {
    // The cached normalized projection's stored lineage may contain the
    // conditional widen repartition (printed INSIDE the InMemoryRelation
    // block); the pin is that quantization itself — everything above the
    // cached scan — is a pure per-row map with no shuffle.
    val plan = Similarity.embQuantizeInt8(t).queryExecution.executedPlan.toString
    val scanAt = plan.indexOf("InMemoryTableScan")
    assert(scanAt >= 0, s"expected the shared cached projection:\n$plan")
    assert(!plan.substring(0, scanAt).contains("Exchange"),
      s"quantization must not shuffle the corpus:\n$plan")
  }

  test("quantization runs the fused native expression, not interpreted HOFs") {
    val plan = Similarity.embQuantizeInt8(t).queryExecution.executedPlan.toString
    val scanAt = plan.indexOf("InMemoryTableScan")
    val above = plan.substring(0, math.max(scanAt, 0))
    assert(above.contains("graft_quant"),
      s"expected the fused graft_quant expression:\n$plan")
    // The interpreted HOF chain (u/qmax/codes transforms, recognizable
    // by its FLOOR lambda) must be gone — it cost ~1 ms/row (r18).
    // This query's own output stringification lambdas are fine: they
    // format N result rows once, not the quantize hot path.
    assert(!above.contains("FLOOR"),
      s"quantize projection fell back to the interpreted HOF chain:\n$plan")
  }

  test("ann_int8 recall@5 vs the exact float baseline >= 0.9 on sf0.01") {
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (p, rows) => p -> rows.map(_._2).toSet }
    val truth = neighbors(Similarity.annBruteForce(t))
    val approx = neighbors(Similarity.annInt8(t))
    val hit = truth.iterator.map { case (p, tr) =>
      (tr & approx.getOrElse(p, Set.empty)).size
    }.sum
    val recall = hit.toDouble / truth.valuesIterator.map(_.size).sum
    info(f"ann_int8 recall@5 = $recall%.3f")
    assert(recall >= 0.9, f"ann_int8 recall@5 $recall%.3f below 0.9 floor")
  }

  test("adversarial vectors quantize correctly through the real Spark path") {
    import spark.implicits._
    // magnitude extremes, sign mixes, one-hot, near-uniform, and a
    // descending ramp — shapes real embeddings don't exercise
    val adversarial: Seq[(Long, Seq[Float], Int)] = Seq(
      (1L, Seq.fill(64)(1e-8f), 0),                    // tiny uniform
      (2L, Seq.fill(64)(3e8f), 0),                     // huge uniform
      (3L, Seq.tabulate(64)(i => if (i == 7) 5f else 0f), 0),     // one-hot
      (4L, Seq.tabulate(64)(i => if (i % 2 == 0) 2f else -2f), 0), // sign flip
      (5L, Seq.tabulate(64)(i => (i - 32).toFloat), 0),            // ramp
      (6L, Seq.tabulate(64)(i => math.pow(-1.13, i % 11).toFloat), 0),
      (7L, Seq.fill(64)(-4.25f), 0),                   // all negative
      (13L, Seq.tabulate(64)(i => 1f / (i + 1)), 0)    // probe (13%13==0)
    )
    val ti = tempTables { dir =>
      adversarial.toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
    }
    val got = Similarity.embQuantizeInt8(ti).collect().map { r =>
      r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("qmax"),
          r.getAs[String]("codes").split(':').map(_.toLong))
    }.toMap
    assert(got.keySet == adversarial.map(_._1).toSet)
    adversarial.foreach { case (id, emb, _) =>
      val v = emb.map(_.toDouble).toArray
      val nrm = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x))
      val u = v.map(_ / nrm)
      val qmax = u.map(math.abs).max
      val s = 127.0 / qmax
      val expect = u.map(x => math.floor(x * s + 0.5).toLong)
      val (gq, gc) = got(id)
      assert(gq == qmax, s"vec $id qmax $gq != $qmax")
      assert(gc.sameElements(expect),
        s"vec $id codes ${gc.mkString(",")} != ${expect.mkString(",")}")
      assert(gc.forall(c => c >= -127 && c <= 127))
      assert(gc.exists(c => math.abs(c) == 127))
    }
    // the one-hot vector must quantize to exactly one ±127 and 63 zeros
    assert(got(3L)._2.count(_ != 0L) == 1)
    // the ADC ANN runs end-to-end over the adversarial table too
    val ann = Similarity.annInt8(ti).collect()
    assert(ann.nonEmpty && ann.forall(_.getAs[Int]("rnk") <= 5))
  }

  test("non-finite elements poison qmax to NaN (array_max agreement)") {
    // An Inf element passes the nrm > 0 filter (nrm = Inf) and yields
    // u_i = Inf/Inf = NaN. The replaced HOF form's array_max orders NaN
    // above every double, so qmax must be NaN — a plain running
    // `a > qmax` max would skip it and hash DIFFERENTLY from the
    // HOF/DuckDB mirrors. NaN must also be sticky (not overwritten by
    // a later finite element).
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val vInf = new GenericArrayData(
      Array.tabulate(8)(i => if (i == 2) Double.PositiveInfinity else 1.0))
    val nrmInf = math.sqrt(vInf.toDoubleArray().map(x => x * x).sum)
    val row = graft.functions.QuantCodes.quant(vInf, nrmInf)
    assert(row.getDouble(0).isNaN,
      s"qmax must be NaN for a non-finite input, got ${row.getDouble(0)}")
    // finite vectors are untouched by the NaN branch
    val vOk = new GenericArrayData(Array.tabulate(8)(i => (i + 1).toDouble))
    val nrmOk = math.sqrt(vOk.toDoubleArray().map(x => x * x).sum)
    val ok = graft.functions.QuantCodes.quant(vOk, nrmOk)
    val uMax = vOk.toDoubleArray().map(x => math.abs(x / nrmOk)).max
    assert(ok.getDouble(0) == uMax)
  }

  test("quantizer fit is bounded and partitioning-independent (identical centroids)") {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.functions.col
    // the production input shape: (vec_id, features) from the
    // normalized projection — here rebuilt raw so each copy can get
    // its own partition layout without touching the shared cache
    val base = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("features", array_to_vector(col("v")))
    val layouts = Seq(base.repartition(3), base.repartition(17, col("vec_id")),
      base.coalesce(1))
    val centroids = layouts.map { df =>
      Similarity.fitQuantizer(df, 16).clusterCenters.map(_.toArray.toSeq).toSeq
    }
    assert(centroids.tail.forall(_ == centroids.head),
      "fit must not depend on the input partition layout")
    // and the fit set is the hash-order top-B, not the corpus: budget
    // rows even when the input grows (here corpus < budget, so the
    // budget is the corpus — assert the cap arithmetic instead)
    assert(Similarity.FitRowsPerCentroid * 16 == 4096)
  }

  test("ann_ivf_int8: recall@5 >= 0.8 and every reported qdot is genuine") {
    def neighbors(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (p, rows) => p -> rows.map(_._2).toSet }
    val truth = neighbors(Similarity.annBruteForce(t))
    val rows = Similarity.annIvfInt8(t).collect()
    val approx = rows.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).toSet }
    val hit = truth.iterator.map { case (p, tr) =>
      (tr & approx.getOrElse(p, Set.empty)).size
    }.sum
    val recall = hit.toDouble / truth.valuesIterator.map(_.size).sum
    info(f"ann_ivf_int8 recall@5 = $recall%.3f")
    assert(recall >= 0.8, f"ann_ivf_int8 recall@5 $recall%.3f below 0.8 floor")
    // candidate generation is approximate; the SCORES must not be:
    // every reported qdot equals the independent plain-Scala dot of
    // the recomputed codes (and score its exact scale correction)
    rows.foreach { r =>
      val (p, c) = (r.getLong(0), r.getLong(1))
      val qdot = r.getAs[Long]("qdot")
      val (qp, cp) = recomputed(p)
      val (qc, cc) = recomputed(c)
      val expect = cp.zip(cc).foldLeft(0L) { case (acc, (x, y)) => acc + x * y }
      assert(qdot == expect, s"pair ($p,$c): reported qdot $qdot != $expect")
      val score = r.getAs[Double]("score")
      assert(score == qdot.toDouble * qp * qc / 16129.0,
        s"pair ($p,$c): score $score is not the exact scale correction")
    }
  }
}
