package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** What one op produced: its row count and an order-independent digest
  * of every row (the wrapping sum of each row's 64-bit hash). */
final case class Outcome(rows: Long, digest: Long, schema: String) {
  def digestHex: String = f"$digest%016x"
}

/** One operation of a workload. `run` does the work a user waits for,
  * calling the run's hooks around each layer; `check` compares the
  * outcome with the expected one and is not timed.
  * A check returns None when the outcome is right, or the reason it is
  * not. */
final case class Op(name: String, run: Hooks => Outcome,
    check: Outcome => Option[String])

/** The record of one op run. `seconds` counts only for a passing op. */
final case class OpRun(name: String, seconds: Double, error: Option[String],
    outcome: Option[Outcome]) {
  def ok: Boolean = error.isEmpty
}

object Ops {

  /** Materialize the full result of `df` on the executors and hash it.
    * Every column of every row is computed, so Catalyst cannot prune
    * the work a user would see (as it does under `count()`), and only
    * one (rows, digest) pair per partition reaches the driver. The
    * hash is XXH64 over the row's UnsafeRow bytes, which are the same
    * for equal values. */
  def materialize(df: DataFrame, hooks: Hooks): Outcome = {
    val qe = df.queryExecution
    hooks.span("plan") { qe.executedPlan }
    val schema = df.schema
    val parts = hooks.span("exec") {
      SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
        qe.toRdd.mapPartitions { it =>
          val proj = UnsafeProjection.create(schema)
          var n = 0L
          var h = 0L
          it.foreach { (r: InternalRow) =>
            val u = proj(r)
            n += 1
            h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
              u.getSizeInBytes, 42L)
          }
          Iterator((n, h))
        }.collect()
      }
    }
    hooks.planned(qe)
    Outcome(parts.map(_._1).sum, parts.map(_._2).sum, schema.catalogString)
  }

  /** Run one op in the closed loop: time `run`, then check the outcome.
    * An op that throws or fails its check is a failed record; the check
    * runs after the op's trace ends, so its jobs are not the op's. */
  def runOne(op: Op, hooks: Hooks): OpRun = {
    hooks.opStart(op.name)
    val t0 = System.nanoTime()
    val out = try Right(hooks.span("op")(op.run(hooks)))
      catch { case e: Throwable => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    hooks.opEnd(op.name, out.isRight)
    val error = out match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse(""))
      case Right(o) =>
        try op.check(o)
        catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    hooks.checked(error.isEmpty)
    OpRun(op.name, dt, error, out.toOption)
  }

  /** Linear-interpolated percentile, p in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest whole percentile p with at least ten of n samples
    * beyond it, n * (1 - p/100) >= 10: p83 for 62 samples, p89 for 94. */
  def tailPercent(n: Int): Int = {
    require(n > 10, s"a tail needs more than 10 samples, got $n")
    (n - 10) * 100 / n
  }
}
