package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables

/** Pre-flight for the slack-1 blocked-Hamming families (image aHash /
  * audio contour: 64-bit words, maxHam 7): prints the two Σ|bucket|²
  * sums Dedup.slack1KeyExpr chooses between — single 8-bit blocks vs
  * the uneven 9-block pair combos — plus the true qualifying-pair
  * count, so a decade run knows the exact pre-distinct candidate
  * volume of BOTH geometries before committing to the join (the
  * CellAudit analogue for the Hamming families).
  *
  * Usage: HamAudit <dir> [image|audio ...]
  */
object HamAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val fams = if (args.length > 1) args.drop(1).toSeq else Seq("image", "audio")
    val spark = DriverSession.build(DriverSession.cpus)
    val t = Tables(spark, dir)

    def audit(name: String, fp0: DataFrame, idCol: String, wCol: String): Unit = {
      val fp = fp0.select(col(idCol).as("doc_id"), col(wCol).as("w")).persist()
      val n = fp.count()
      val (vSingle, vCombo) = graft.dedup.Dedup.slack1Volumes(fp, nBlocks = 8, maxHam = 7)
      val choice = if (vSingle <= vCombo) "single" else "combo"
      println(f"HAM_AUDIT $name%-6s n=$n%,d single=$vSingle%,d combo=$vCombo%,d -> $choice")
      fp.unpersist()
    }

    fams.foreach {
      case "image" => audit("image", graft.mm.Multimodal.imageAHash(t), "media_id", "ahash")
      case "audio" => audit("audio",
        graft.mm.Multimodal.audioFingerprint(t).filter(col("n_frames") >= 17),
        "media_id", "fp")
      case other => sys.error(s"unknown family $other (image|audio)")
    }
    spark.stop()
  }
}
