package graft.io

import java.util.concurrent.CopyOnWriteArrayList
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** One memoized intermediate that several queries share (a persisted
  * projection, a localCheckpoint'd pair table, a fitted model).
  *
  * A value is keyed on (session, dir, [[Tables.fingerprint]], caller
  * params), so a rewritten input dir lists differently and rebuilds
  * instead of serving its old value; nothing needs clearing when a dir
  * changes. Each memo belongs to one release family (see
  * [[Memo.Families]]): `tools.SweepCaches` frees a family when its
  * last consumer in a sweep finishes, and [[Memo.releaseAll]] frees
  * everything.
  */
final class Memo[V] private (val family: String) {
  private val entries = TrieMap.empty[Any, V]
  private val built = new AtomicInteger(0)

  /** Values this memo has built (a hit builds nothing). */
  def builds: Int = built.get

  /** The value for (`t`'s session and dir, `t.fingerprint`, `params`),
    * built on a miss. Builds may nest — one memo's build reads another —
    * which `TrieMap.getOrElseUpdate` allows and
    * `ConcurrentHashMap.computeIfAbsent` rejects ("Recursive update"). */
  def apply(t: Tables, params: Any*)(build: => V): V =
    keyed((t.spark, t.dir, t.fingerprint, params)) {
      // Spark's cache manager matches a persist() by plan, and a read
      // of a rewritten dir plans the same as the old read: free this
      // dir's values from an older listing first, or the rebuild is
      // served the old files' cached blocks
      entries.keys.foreach {
        case k @ (s, d, fp, _) if s == t.spark && d == t.dir && fp != t.fingerprint =>
          entries.remove(k).foreach(Memo.free)
        case _ =>
      }
      build
    }

  /** The value for a caller-made key, for a memo whose input is not a
    * [[Tables]] dir. */
  def keyed(key: Any)(build: => V): V =
    entries.getOrElseUpdate(key, { built.incrementAndGet(); build })

  private def release(): Unit = {
    entries.values.foreach(Memo.free)
    entries.clear()
  }
}

object Memo {
  /** The release families; `tools.SweepCaches` keeps one consumer set
    * per family. */
  val Families: Set[String] = Set("sim", "dedup", "gram", "corpus", "contam")

  private val all = new CopyOnWriteArrayList[Memo[_]]()

  def apply[V](family: String): Memo[V] = {
    require(Families(family), s"unknown memo family $family")
    val m = new Memo[V](family)
    all.add(m)
    m
  }

  /** Builds so far, summed over every memo of the given families. */
  def builds(families: String*): Int =
    all.asScala.filter(m => families.contains(m.family)).map(_.builds).sum

  /** Frees every value of `family`'s memos; the next read rebuilds. */
  def release(family: String): Unit =
    all.asScala.filter(_.family == family).foreach(_.release())

  def releaseAll(): Unit = all.asScala.foreach(_.release())

  /** `Dataset.unpersist` is a no-op on a `localCheckpoint()` result:
    * its plan is a `LogicalRDD` that the cache manager never cached,
    * so the checkpoint blocks stay until GC reaches the RDD. Unpersist
    * that RDD itself. */
  private def free(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      ds.unpersist()
      ds.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist()
        case _ =>
      }
    case (a, b) => free(a); free(b)
    case _ =>
  }
}
