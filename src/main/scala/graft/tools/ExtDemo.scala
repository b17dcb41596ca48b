package graft.tools

import org.apache.spark.sql.SparkSession

/** End-to-end proof of the config-only deployment path: a session built
  * with spark.sql.extensions=graft.functions.GraftExtensions resolves
  * every GraftFunctions.table function from pure SQL, no Scala
  * registration call — one `EXT_DEMO <name>=… ok=` line per entry.
  */
object ExtDemo {
  /** A pure-SQL call per table entry and its expected value, both as
    * the call's STRING cast. */
  private val calls: Map[String, (String, String)] = Map(
    "graft_dot" -> ("graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))", "11.0"),
    // md5-derived contract value
    "graft_h32" -> ("graft_h32('abc')",
      java.lang.Long.parseLong("900150983cbd24fb".take(8), 16).toString),
    "graft_nibble_l1" -> ("graft_nibble_l1(3L, 5L)", "2"),
    // 'a' = 97 lands in bucket 97 mod 32 = 1: counter 2 at bits [4, 8)
    "graft_char_hist" -> ("graft_char_hist('aa', 0)", "32"),
    "graft_srp_words" -> ("graft_srp_words(array(1.0d, -1.0d), 1)",
      graft.functions.SrpWords.pack(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(1.0, -1.0)), 1)
        .mkString("[", ", ", "]")),
    "graft_top_cells" -> ("graft_top_cells(array(0.0d, 0.0d), " +
      "array(array(1.0d, 0.0d), array(0.1d, 0.0d)), 1)", "[1]"),
    "graft_quant" -> ("graft_quant(array(1.0d, 2.0d), 2.0d).codes", "[64, 127]"),
    "graft_vdiv" -> ("graft_vdiv(array(2.0d, 4.0d), 2.0d)", "[1.0, 2.0]"),
    "graft_word_grams" -> ("graft_word_grams('a b c', 2)", "[a b, b c]"),
    // an aggregate: a scalar subquery over a two-row inline table
    "graft_dsum" -> ("(SELECT graft_dsum(x) FROM VALUES (0.1d), (0.2d) AS t(x))", "0.3"))

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.table.foreach { case (name, _) =>
      val (call, expected) = calls(name)
      val got = spark.sql(s"SELECT CAST($call AS STRING)").head.getString(0)
      println(s"EXT_DEMO $name=$got expected=$expected ok=${got == expected}")
    }
    // the injected optimizer rule: a pure-SQL partition-count window
    // must plan as aggregate + join (no Window node), exact results
    val wq = spark.sql(
      "SELECT k, count(*) OVER (PARTITION BY k) AS c FROM VALUES " +
        "(1), (1), (2) AS t(k)")
    val noWindow = !wq.queryExecution.optimizedPlan.toString.contains("Window")
    val rows = wq.collect().map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    val okRows = rows == Seq((1, 2L), (1, 2L), (2, 1L))
    println(s"EXT_DEMO count_window_rewrite no_window=$noWindow rows_ok=$okRows " +
      s"ok=${noWindow && okRows}")
    spark.stop()
  }
}
