package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Seeded inputs of the `maplejuice_gen` workload, and the outputs the
  * reference's executors must produce on them, computed in plain Scala.
  *
  * Two CSV files in the 35-column traffic-signal shape (FIXTURES.md
  * section 1: UTF-8 BOM, header cell `X`, empty cells, short ragged
  * rows), whose Detection_ (col 9) and Interconne (col 10) cells are
  * Zipf-skewed, and one file of Zipf word-soup text lines. The second
  * CSV is the join side: a few rows whose Intersecti (col 3) keys also
  * occur in the first. Same seed, same bytes. */
final case class Gen(seed: Long, csvRows: Int, textLines: Int) {
  import Gen._

  private val rnd = new java.util.SplittableRandom(seed)

  private def zipf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }

  private def draw(cdf: Array[Double]): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private val detCdf = zipf(Detections.length, 1.2)
  private val interCdf = zipf(Interconnects.length, 1.3)
  private val nIntersections = math.max(16, csvRows / 20)

  private def word(i: Int): String = {
    // pseudo-words from the index: stable, ASCII, 2-9 letters
    val r = new java.util.SplittableRandom(i * 7919L + 17)
    val len = 2 + r.nextInt(8)
    (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
  }

  private val vocab = Array.tabulate(VocabSize)(word)
  private val wordCdf = zipf(VocabSize, 1.1)

  private def cell(): String = rnd.nextInt(20) match {
    case 0 => ""
    case 1 => " "
    case k if k < 10 => (rnd.nextInt(90000) + 1000).toString
    case _ => vocab(rnd.nextInt(200)).capitalize
  }

  private def signalRow(id: Int, key: String): Array[String] = {
    val r = Array.fill(Columns.length)(cell())
    r(0) = f"${-88.2 - rnd.nextDouble() * 0.1}%.6f"
    r(1) = f"${40.1 + rnd.nextDouble() * 0.05}%.6f"
    r(2) = id.toString
    r(3) = key
    r(9) = Detections(draw(detCdf))
    r(10) = Interconnects(draw(interCdf))
    r
  }

  private def intersection(i: Int): String = s"${vocab(i % VocabSize).capitalize} & ${i}th"

  /** Lines of the main CSV, header first. One row in 50 is ragged:
    * 5 to 9 cells, so it stops before the columns the demos read. */
  val csv: Vector[String] = {
    val header = "﻿" + Columns.mkString(",")
    header +: Vector.tabulate(csvRows) { i =>
      val row = signalRow(i + 1, intersection(rnd.nextInt(nIntersections)))
      if (rnd.nextInt(50) == 0) row.take(5 + rnd.nextInt(5)).mkString(",")
      else row.mkString(",")
    }
  }

  /** The join side: rows keyed on a sample of the intersections. */
  val csv2: Vector[String] = {
    val header = "﻿" + Columns.mkString(",")
    header +: Vector.tabulate(math.max(8, csvRows / 100)) { i =>
      signalRow(1000000 + i, intersection(rnd.nextInt(nIntersections))).mkString(",")
    }
  }

  /** Word soup: 4 to 24 Zipf-drawn words a line, some capitalized or
    * followed by punctuation, so `\w+` tokenizing and lowercasing both
    * matter. */
  val text: Vector[String] = Vector.fill(textLines) {
    (0 until 4 + rnd.nextInt(21)).map { _ =>
      val w = vocab(draw(wordCdf))
      val cased = if (rnd.nextInt(10) == 0) w.capitalize else w
      rnd.nextInt(12) match {
        case 0 => cased + ","
        case 1 => cased + "."
        case _ => cased
      }
    }.mkString(" ")
  }

  def write(dir: Path): Inputs = {
    Files.createDirectories(dir)
    def put(name: String, lines: Vector[String]): Path = {
      val p = dir.resolve(name)
      Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      p
    }
    Inputs(put("signals.csv", csv), put("signals2.csv", csv2), put("words.txt", text))
  }

  // ---- expected outputs, in plain Scala ----

  private def isDataRow(parts: Array[String]): Boolean =
    parts.length > 10 && parts(0) != "X" && parts(0) != "﻿X"

  private lazy val cells: Vector[Array[String]] = csv.map(_.split(",", -1))

  /** wordcountmap.py: lowercase `\w+` tokens (ASCII text, so Java's
    * and Python's `\w` agree). */
  lazy val wordCounts: Map[String, Long] = {
    val m = mutable.HashMap.empty[String, Long]
    text.foreach { l =>
      val mt = WordRe.matcher(l.toLowerCase(java.util.Locale.ROOT))
      while (mt.find()) m(mt.group()) = m.getOrElse(mt.group(), 0L) + 1
    }
    m.toMap
  }

  lazy val totalWords: Long = wordCounts.values.sum

  /** The Interconne values that occur in data rows: one Sdemo1 job each. */
  lazy val interconnects: Seq[String] =
    cells.filter(isDataRow).map(_(10)).distinct.sorted

  /** Sdemo1map + Sdemo1reduce: per-Detection_ share of the rows whose
    * Interconne equals `v`, formatted "%.2f%%" as Sdemo1reduce.py does
    * (and as the program's finalizer does: count * 100.0 / total). */
  def sdemo1(v: String): Map[String, String] = {
    val counts = cells.filter(p => isDataRow(p) && p(10) == v)
      .groupBy(_(9)).map { case (k, rs) => k -> rs.size.toLong }
    val tot = counts.values.sum
    counts.map { case (k, c) => k -> "%.2f%%".format(c * 100.0 / tot) }
  }

  /** selectmap + selectreduce: every line of the CSV file the regex
    * finds (header included, were it to match). */
  def selected(regex: String): Vector[String] = {
    val re = java.util.regex.Pattern.compile(regex)
    csv.filter(re.matcher(_).find())
  }

  /** `SELECT ALL FROM signals WHERE <regex>` over the parsed CSV: the
    * OBJECTIDs of the rows whose comma-rejoined cells the regex finds.
    * Only Interconne cells hold the demo's regex words, and ragged rows
    * end before them, so the raw line decides. */
  def filterIds(regex: String): Vector[Long] = {
    val re = java.util.regex.Pattern.compile(regex)
    csv.tail.filter(re.matcher(_).find()).map(_.split(",", -1)(2).toLong)
  }

  /** `SELECT ALL FROM signals signals2 WHERE signals.Intersecti =
    * signals2.Intersecti`: the (OBJECTID, OBJECTID) pairs. Every
    * generated row, ragged ones too, carries a non-empty key. */
  lazy val joinPairs: Vector[(Long, Long)] = {
    def keyed(rows: Vector[Array[String]]) = rows.tail.map(p => p(3) -> p(2).toLong)
    val right = keyed(csv2.map(_.split(",", -1))).groupMap(_._1)(_._2)
    keyed(cells).flatMap { case (k, a) => right.getOrElse(k, Nil).map(b => (a, b)) }
  }
}

final case class Inputs(csv: Path, csv2: Path, text: Path) {
  def bytes: Long = Seq(csv, csv2, text).map(Files.size).sum
}

object Gen {
  val VocabSize = 5000
  val WordRe: java.util.regex.Pattern = java.util.regex.Pattern.compile("\\w+")

  /** FIXTURES.md section 1, columns 0 to 34. */
  val Columns: Seq[String] = Seq("X", "Y", "OBJECTID", "Intersecti", "UPS",
    "Coord_Type", "CNTRL_Seri", "CNTRL_Mode", "Number_of_", "Detection_",
    "Interconne", "Percent_St", "Year_Timed", "LED_Status", "CNTRL_Vers",
    "Cabinet_Ty", "CNTRL_Note", "Install_Da", "Black_Hard", "Year_Paint",
    "Countdown_", "All_Red_Fl", "Condition", "ConditionDate", "InstallDate",
    "WarrantyDate", "LegacyID", "FACILITYID", "Ownership", "OwnershipPercent",
    "LED_Installed_Year", "Controller_ID", "Notes", "RepairYear",
    "FieldVerifiedDate")

  /** Value sets in FIXTURES.md's histogram order, most frequent first. */
  val Detections: Seq[String] =
    Seq("Video", "Loop", "None", "Loop/Video", "", "Loop/None", " ", "Radar", "NONE")
  val Interconnects: Seq[String] =
    Seq("Fiber", "None", "Radio", "", "Fiber/Radio", " ", "Copper", "Wireless")
}
