package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import graft.dedup.Dedup
import graft.io.{Memo, Tables}
import graft.pipeline.CorpusOps
import graft.sim.Similarity

/** graft.io.Memo keys on the input's file listing, not its path, so a
  * rewritten table rebuilds its memos; and releasing a family frees
  * its localCheckpoint'd tables' blocks, which `Dataset.unpersist`
  * alone leaves in place. */
class MemoSpec extends SparkSuite {
  private val dataDir = "/root/testdata/sf0.001"

  /** (Re)writes `name`.parquet under `dir` as the first `rows` rows of
    * the testdata table the way an outside writer would: staged
    * elsewhere, then moved into place, with no write through this
    * session's catalog paths. */
  private def put(dir: String, name: String, rows: Int): Unit = {
    val target = new Path(s"$dir/$name.parquet")
    val staging = new Path(s"$dir-staging/$name-$rows.parquet")
    spark.read.parquet(s"$dataDir/$name.parquet").limit(rows)
      .write.parquet(staging.toString)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(target, true)
    assert(fs.rename(staging, target))
  }

  test("a rewritten input dir rebuilds its memos instead of serving the old value") {
    val dir = java.nio.file.Files.createTempDirectory("memo-rewrite").toString
    put(dir, "embeddings", 40)
    put(dir, "documents", 30)
    val sizes0 = Similarity.sizeMemo.builds
    val grams0 = Dedup.gramMemo.builds
    assert(Similarity.corpusSize(Tables(spark, dir)) == 40)
    assert(Dedup.gramPostings(Tables(spark, dir))._2.count() == 30)
    // a second read of the unchanged dir is a hit
    assert(Similarity.corpusSize(Tables(spark, dir)) == 40)
    assert(Dedup.gramPostings(Tables(spark, dir))._2.count() == 30)
    assert(Similarity.sizeMemo.builds == sizes0 + 1)
    assert(Dedup.gramMemo.builds == grams0 + 1)

    put(dir, "embeddings", 25)
    put(dir, "documents", 12)
    assert(Similarity.corpusSize(Tables(spark, dir)) == 25)
    assert(Dedup.gramPostings(Tables(spark, dir))._2.count() == 12)
    assert(Similarity.sizeMemo.builds == sizes0 + 2)
    assert(Dedup.gramMemo.builds == grams0 + 2)
    Memo.release("sim")
    Memo.release("gram")
  }

  test("releasing a family frees its localCheckpoint'd memos' blocks") {
    spark.sparkContext.setLogLevel("WARN")
    val t = Tables(spark, dataDir)
    def rddId(df: DataFrame): Int = df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.id
      case p => fail(s"not a localCheckpoint result:\n$p")
    }
    def stored: Set[Int] = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val ids = Seq(rddId(Dedup.clusters(t)), rddId(CorpusOps.contamination(t)))
    assert(ids.forall(stored), s"checkpoint blocks of $ids not resident before release")
    Memo.release("dedup")
    Memo.release("contam")
    val left = ids.filter(stored)
    assert(left.isEmpty, s"released memos still hold blocks of RDDs $left")
  }
}
