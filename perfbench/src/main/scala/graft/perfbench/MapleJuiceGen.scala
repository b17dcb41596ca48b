package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.io.GraftIO
import graft.ops.RefSql
import graft.tools.Repl

/** The `maplejuice_gen` workload: the reference's own user surface on
  * seeded inputs (see [[Gen]]). One pass loads the inputs with GraftIO
  * reads, runs the wordcount, Sdemo1 (one job per Interconne value) and
  * select executors through `Repl.runMaple`/`runJuice`, one PipeExec
  * map/reduce pair through the Python script next to this benchmark,
  * and both RefSql statements, and writes every result with
  * `GraftIO.write`. Each op's written result is read back and checked
  * against the plain-Scala expectation from the same seed. */
object MapleJuiceGen {

  val SelectRegex = "Radio"
  val CsvRows = 20000
  val TextLines = 20000

  private def kv(rows: Array[Row]): Map[String, String] =
    rows.map(r => r.getString(0) -> r.getString(1)).toMap

  private def written(spark: SparkSession, path: String): Array[Row] =
    spark.read.parquet(path).collect()

  /** Fold a sequence of values into an order-independent digest. */
  private def digestOf(xs: Iterable[String]): Long =
    xs.foldLeft(0L)((h, s) => h + scala.util.hashing.MurmurHash3.stringHash(s).toLong)

  def ops(spark: SparkSession, gen: Gen, in: Inputs, out: Path,
      pipeScript: String): Seq[Op] = {
    def dir(name: String) = out.resolve(name).toString
    def outcome(rows: Long, digest: Long) = Outcome(rows, digest, "")

    /** maple + juice through the REPL surface, then write the result. */
    def job(name: String, mapExe: String, redExe: String, view: String, lines: Long,
        mapArgs: Seq[String], redArgs: Seq[String])(
        check: Array[Row] => Option[String]): Op = {
      val kvView = s"${name}_kv"
      val outView = s"${name}_out"
      var pairsMsg = ""
      Op(name, hooks => {
        pairsMsg = hooks.span("maple") { Repl.runMaple(spark, mapExe, kvView, view, mapArgs) }
        val msg = hooks.span("juice") { Repl.runJuice(spark, redExe, kvView, outView, redArgs) }
        require(msg.startsWith("ok:"), msg)
        hooks.pairs(pairsMsg, lines)
        hooks.span("write") { GraftIO.write(spark.table(outView), dir(name)) }
        outcome(0, 0)
      }, _ => {
        require(pairsMsg.startsWith("ok:"), pairsMsg)
        check(written(spark, dir(name)))
      })
    }

    def load(name: String, view: String, df: => DataFrame, rows: Long): Op =
      Op(name, hooks => {
        val d = hooks.span("build") { df }
        d.createOrReplaceTempView(view)
        outcome(hooks.span("exec") { d.count() }, 0)
      }, o => if (o.rows == rows) None else Some(s"rows ${o.rows} != $rows"))

    val csvData = gen.csv.size - 1
    val loads = Seq(
      load("load_lines", "signal_lines", GraftIO.readLines(spark, in.csv.toString), gen.csv.size),
      load("load_text", "words", GraftIO.readLines(spark, in.text.toString), gen.text.size),
      load("load_csv", "signals", GraftIO.readCsv(spark, in.csv.toString), csvData),
      load("load_csv2", "signals2", GraftIO.readCsv(spark, in.csv2.toString), gen.csv2.size - 1))

    val wordcount = job("wordcount", "wordcountmap.py", "wordcountreduce.py",
      "words", gen.text.size, Nil, Nil) { rows =>
      val got = kv(rows)
      if (got == Map("total" -> gen.totalWords.toString)) None
      else Some(s"total ${got.get("total")} != ${gen.totalWords}")
    }

    val sdemo = gen.interconnects.zipWithIndex.map { case (v, i) =>
      job(s"sdemo1_$i", "Sdemo1map.py", "Sdemo1reduce.py", "signal_lines",
        gen.csv.size, Seq(v), Nil) { rows =>
        val want = gen.sdemo1(v)
        val got = kv(rows)
        if (got == want) None else Some(s"Interconne '$v': ${got.size} keys, want ${want.size}")
      }
    }

    val select = job("select", "selectmap.py", "selectreduce.py", "signal_lines",
      gen.csv.size, Seq(SelectRegex), Nil) { rows =>
      val want = gen.selected(SelectRegex)
      val got = rows.map(_.getString(1))
      if (got.length == want.size && digestOf(got) == digestOf(want)) None
      else Some(s"${got.length} lines, want ${want.size}")
    }

    val pipe = job("pipe_wordcount", pipeScript, pipeScript, "words",
      gen.text.size, Seq("map"), Seq("reduce")) { rows =>
      val got = kv(rows)
      val want = gen.wordCounts.map { case (k, v) => k -> v.toString }
      if (got == want) None else Some(s"${got.size} words, want ${want.size}")
    }

    def refsql(name: String, stmt: String, idCols: Seq[String])(
        want: => (Long, Long)): Op = Op(name, hooks => {
      val (df, _) = hooks.span("refsql") { RefSql.compileNamed(spark, stmt).get }
      val o = Ops.materialize(df, hooks)
      hooks.span("write") { GraftIO.write(df, dir(name)) }
      o
    }, o => {
      val back = spark.read.parquet(dir(name))
      val ids = back.select(idCols.map(back.col): _*).collect()
        .map(r => idCols.indices.map(i => r.getString(i).toLong))
      val (n, d) = want
      val got = (ids.length.toLong, ids.foldLeft(0L)((h, x) => h + pairHash(x)))
      if (o.rows == n && got == (n, d)) None
      else Some(s"rows ${o.rows} (read back ${got._1}), want $n")
    })

    val filter = refsql("refsql_filter", s"SELECT ALL FROM signals WHERE $SelectRegex",
      Seq("OBJECTID")) {
      val ids = gen.filterIds(SelectRegex)
      (ids.size.toLong, ids.foldLeft(0L)((h, x) => h + pairHash(Seq(x))))
    }

    val join = refsql("refsql_join",
      "SELECT ALL FROM signals signals2 WHERE signals.Intersecti = signals2.Intersecti",
      Seq("signals_OBJECTID", "OBJECTID")) {
      val ps = gen.joinPairs
      (ps.size.toLong, ps.foldLeft(0L)((h, p) => h + pairHash(Seq(p._1, p._2))))
    }

    (loads :+ wordcount) ++ sdemo ++ Seq(select, pipe, filter, join)
  }

  private def pairHash(xs: Seq[Long]): Long =
    xs.foldLeft(1125899906842597L)((h, x) => 31 * h + x) * 0x9E3779B97F4A7C15L

  /** One pass in the closed loop. Cached maple/juice views are dropped
    * after each op, so residency does not grow with the pass count. */
  def pass(spark: SparkSession, ops: Seq[Op], hooks: Hooks): Seq[OpRun] =
    ops.map { op =>
      val r = Ops.runOne(op, hooks)
      spark.catalog.clearCache()
      r
    }
}
