package graft

import scala.io.Source

import org.apache.spark.sql.functions._

import graft.mr.{Executors, MapleJuice}
import graft.ops.RefSql

/** The reference's executors and SQL dialect, behavior-checked against
  * the declarative engine and the shipped goldens.
  */
class ExecutorsSpec extends SparkSuite {

  import ExecutorsSpec.{csvPath, sdemo1Counts}

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1)))

  test("selectmap/selectreduce reproduce the regex filter (golden subset)") {
    import spark.implicits._
    withLogLevel {
      val lines = graft.io.GraftIO.readLines(spark, csvPath)
        .as[String]
      val kv = lines.mapPartitions(Executors.selectMap(_, Seq("Radio")))
      val out = pairs(Executors.reduceByName("selectreduce.py")(kv.toDF("key", "value")))
        .map(_._2).toSet
      val golden = Source.fromFile(
        getClass.getClassLoader.getResource("Traffic_Signal_Intersections_filter").getPath,
        "UTF-8")
      val goldenLines = try golden.getLines().filter(_.nonEmpty).toSet
                        finally golden.close()
      assert(goldenLines.subsetOf(out))
      assert(out.forall(_.contains("Radio")))
    }
  }

  test("wordcount executors equal the declarative word count on regex tokens") {
    import spark.implicits._
    withLogLevel {
      val docs = graft.io.Tables(spark, "/root/testdata/sf0.001").documents
      val lines = docs.select($"text").as[String]
      val kv = lines.mapPartitions(Executors.wordCountMap(_, Nil))
        .toDF("key", "value")
      val mj = MapleJuice.sumByKey(kv)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sql = docs
        .select(explode(expr("regexp_extract_all(lower(text), '\\\\w+', 0)")).as("w"))
        .groupBy($"w").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(mj == sql)
      assert(pairs(Executors.reduceByName("wordcountreduce.py")(kv)) ==
        Seq(("total", sql.values.sum.toString)))
    }
  }

  test("Sdemo1 executors reproduce the demo percentages") {
    import spark.implicits._
    withLogLevel {
      val lines = graft.io.GraftIO.readLines(spark, csvPath).as[String]
      val kv = lines.mapPartitions(Executors.sdemo1Map(_, Seq("Radio")))
        .toDF("key", "value")
      val counts = MapleJuice.sumByKey(kv)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts.values.sum == 15) // FIXTURES.md: Interconne == Radio → 15 rows
      // independent check: plain-Scala recount
      val expected = sdemo1Counts("Radio")
      assert(counts == expected)
      assert(pairs(Executors.reduceByName("Sdemo1reduce.py")(kv)).toMap ==
        ExecutorsSpec.percentOf(expected))
    }
  }

  test("finalize stage reproduces the reference reducers' output shapes") {
    import spark.implicits._
    withLogLevel {
      val folded = Seq(("a", "3"), ("b", "1")).toDF("key", "value")
      // wordcountreduce.py → single grand-total line
      val total = pairs(Executors.reduceByName("wordcountreduce.py")(folded))
      assert(total == Seq(("total", "4")))
      // Sdemo1reduce.py → percent-of-total strings per key
      val pct = pairs(Executors.reduceByName("Sdemo1reduce.py")(folded)).toMap
      assert(pct == Map("a" -> "75.00%", "b" -> "25.00%"))
    }
  }

  test("registry sums fail loudly: a sum past 2^63 or a non-numeric value throws") {
    import spark.implicits._
    withLogLevel {
      val big = Long.MaxValue.toString
      val cases = Seq(
        Seq(("a", big), ("a", "1")) -> "ARITHMETIC_OVERFLOW", // one key's fold
        Seq(("a", big), ("b", "1")) -> "ARITHMETIC_OVERFLOW", // the grand total
        Seq(("a", "1"), ("a", "x")) -> "CAST_INVALID_INPUT")
      val plans = Seq("wordcountreduce.py", "Sdemo1reduce.py", "Hdemo1reduce.py")
        .map(n => n -> Executors.reduceByName(n)) :+ ("sumByKey" -> MapleJuice.sumByKey _)
      for ((rows, code) <- cases; (name, plan) <- plans
           if name != "sumByKey" || rows.map(_._1).distinct.size == 1) {
        val e = intercept[Exception](plan(rows.toDF("key", "value")).collect())
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage))
        assert(msgs.exists(_.contains(code)), s"$name on $rows: $e")
      }
    }
  }

  test("plan pins: Sdemo1 juice partial/final-aggregates over one exchange; selectreduce shuffles nothing") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import spark.implicits._
    val nodes = new AdaptiveSparkPlanHelper {}
    withLogLevel {
      val lines = graft.io.GraftIO.readLines(spark, csvPath).as[String]
      def executed(map: Executors.MapUdf, red: String, arg: String) = {
        val kv = lines.mapPartitions(map(_, Seq(arg))).toDF("key", "value")
        val df = Executors.reduceByName(red)(kv)
        df.collect()
        df.queryExecution.executedPlan
      }
      val sdemo = executed(Executors.sdemo1Map, "Sdemo1reduce.py", "Radio")
      val modes = nodes.collect(sdemo) { case h: HashAggregateExec =>
        h.aggregateExpressions.map(_.mode) }.flatten.toSet
      assert(modes.contains(Partial) && modes.contains(Final), sdemo)
      assert(nodes.collect(sdemo) { case e: ShuffleExchangeExec => e }.size == 1, sdemo)
      val select = executed(Executors.selectMap, "selectreduce.py", "Radio")
      assert(nodes.collect(select) { case e: ShuffleExchangeExec => e }.isEmpty, select)
    }
  }

  test("lineOf keeps column positions for null (empty) CSV cells") {
    import spark.implicits._
    withLogLevel {
      val df = Seq(("A", null: String, "B")).toDF("c1", "c2", "c3")
      val line = df.select(RefSql.lineOf(df).as("l")).head.getString(0)
      assert(line == "A,,B") // concat_ws alone would yield "A,B" (shifted)
    }
  }

  test("reference SQL dialect: filter statement on a text view") {
    withLogLevel {
      graft.io.GraftIO.readLines(spark, csvPath).createOrReplaceTempView("traffic")
      val df = RefSql.compile(spark, "SELECT ALL FROM traffic WHERE Radio").get
      assert(df.count() == 23) // 15 Interconne=Radio + 8 Fiber/Radio lines
    }
  }

  test("reference SQL dialect: join statement matches declarative join") {
    withLogLevel {
      val t = graft.io.Tables(spark, "/root/testdata/sf0.001")
      t.orders.createOrReplaceTempView("orders_rs")
      t.customer.createOrReplaceTempView("customer_rs")
      val df = RefSql.compile(spark,
        "SELECT ALL FROM orders_rs customer_rs WHERE orders_rs.o_custkey = customer_rs.c_custkey").get
      assert(df.count() == t.orders.count()) // every order joins its customer
      assert(df.columns.length == t.orders.columns.length + t.customer.columns.length)
    }
  }

  test("reference SQL dialect: non-dialect statements fall through") {
    withLogLevel {
      assert(RefSql.compile(spark, "SELECT count(*) FROM somewhere").isEmpty)
      assert(RefSql.compile(spark, "SELECT ALL FROM a b WHERE c.x = d.y").isEmpty)
    }
  }
}

object ExecutorsSpec {

  def csvPath: String =
    getClass.getClassLoader.getResource("Traffic_Signal_Intersections.csv").getPath

  /** Sdemo1map + per-key sum in plain Scala: Detection_ counts of the
    * fixture rows whose Interconne equals `v`. */
  def sdemo1Counts(v: String): Map[String, Long] = {
    val src = Source.fromFile(csvPath, "UTF-8")
    val rows = try src.getLines().drop(1).map(_.split(",", -1)).toList
               finally src.close()
    rows.filter(p => p.length > 10 && p(10) == v)
      .groupBy(_(9)).map { case (k, vs) => k -> vs.size.toLong }
  }

  /** Sdemo1reduce.py's "{:.2f}%" share of the total per key. */
  def percentOf(counts: Map[String, Long]): Map[String, String] =
    counts.map { case (k, n) => k -> "%.2f%%".format(n * 100.0 / counts.values.sum) }
}
