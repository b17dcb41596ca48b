package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, format_string, lit, sum}

import graft.io.Tables
import graft.mr.{Executors, MapleJuice}
import graft.ops.Relational

/** The "same capabilities" guarantee for arbitrary user jobs
  * (SURVEY.md §5.3): maple∘juice composition equals the declarative
  * groupBy on random inputs. Plain scalacheck Gen with fixed seeds
  * (scalatestplus is not a dependency).
  */
class MapleJuiceSpec extends SparkSuite {

  private val kvGen: Gen[List[(String, String)]] = Gen.listOfN(
    60,
    for {
      k <- Gen.oneOf("k1", "k2", "k3", "k4", "skewed", "skewed", "skewed")
      v <- Gen.chooseNum(0, 99)
    } yield (k, v.toString))

  private def samples(n: Int): Seq[List[(String, String)]] =
    (0 until n).flatMap(i => kvGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("maple . juice count == groupBy count (property, 10 seeds)") {
    import spark.implicits._
    withLogLevel {
      samples(10).foreach { data =>
        val kv = MapleJuice.maple(data.toDS())(p => Iterator(p))
        val folded = MapleJuice.juice(kv)((k, vs) =>
          Iterator((k, vs.size.toString))).collect().toMap
        val expected = data.groupBy(_._1).map { case (k, vs) => k -> vs.size.toString }
        assert(folded == expected)
      }
    }
  }

  test("maple . juice sum == groupBy sum (property, 10 seeds)") {
    import spark.implicits._
    withLogLevel {
      samples(10).foreach { data =>
        val kv = MapleJuice.maple(data.toDS())(p => Iterator(p))
        val folded = MapleJuice.juice(kv)((k, vs) =>
          Iterator((k, vs.map(_.toLong).sum.toString))).collect().toMap
        val expected = data.groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2.toLong).sum.toString }
        assert(folded == expected)
      }
    }
  }

  /** Each registry reducer as it ran before its DataFrame plan: a typed
    * groupByKey fold followed by the name's finalize step. */
  private def foldThenFinalize(name: String, kv: Dataset[(String, String)]): DataFrame = {
    val sumFold = (k: String, vs: Iterator[String]) =>
      Iterator((k, vs.map(_.toLong).sum.toString))
    def long = col("value").cast("long")
    name match {
      case "selectreduce.py" =>
        MapleJuice.juice(kv)((_, vs) => vs.map(v => ("filtered", v))).toDF("key", "value")
      case "wordcountreduce.py" =>
        MapleJuice.juice(kv)(sumFold).toDF("key", "value")
          .agg(sum(long).cast("string").as("value"))
          .select(lit("total").as("key"), col("value"))
      case "Sdemo1reduce.py" | "Hdemo1reduce.py" =>
        MapleJuice.juice(kv)(sumFold).toDF("key", "value")
          .select(col("key"), format_string("%.2f%%",
            long * lit(100.0) / sum(long).over(Window.partitionBy())).as("value"))
    }
  }

  test("registry reduce plans == typed fold + finalize (property, 10 seeds)") {
    import spark.implicits._
    withLogLevel {
      samples(10).foreach { data =>
        val kv = data.toDS()
        Executors.reduceByName.foreach { case (name, plan) =>
          val got = plan(kv.toDF("key", "value")).as[(String, String)].collect().sorted
          val want = foldThenFinalize(name, kv).as[(String, String)].collect().sorted
          assert(got.toSeq == want.toSeq, name)
        }
      }
    }
  }

  test("maple flatMap multiplicity (UDTF role)") {
    import spark.implicits._
    withLogLevel {
      val ds = List("a b", "c").toDS()
      val kv = MapleJuice.maple(ds)(line =>
        line.split(" ").iterator.map(w => (w, "1")))
      assert(kv.count() == 3)
    }
  }

  test("mj word count matches declarative word count on sf0.001") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    withLogLevel {
      val mj = MapleJuice.wordCount(t).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val sql = Relational.q5WordCount(t).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(mj == sql)
    }
  }
}
