package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Dataset, SparkSession}

/** The one place that materialises or shares a frame.
  *
  * [[cut]] truncates lineage: a reliable `checkpoint()` when the
  * context has a checkpoint dir (executor-loss safe on a cluster, a
  * lost executor replays one round, not the whole chain), an
  * executor-memory `localCheckpoint()` otherwise.
  *
  * [[shared]] builds a stage once per (session, dir, name) and hands
  * the same value to every later caller — the compute-once /
  * consume-many shape of the query families (louvainBase,
  * minhashPairsBase, tfBase, ...). Builds may nest: one shared stage
  * may read another inside its own build. Entries of stopped sessions
  * are evicted on the next lookup, so a memo never outlives its
  * session.
  *
  * [[reset]] drops every shared stage. [[graft.Bench]] calls it at
  * every sweep boundary so each sweep pays each shared stage exactly
  * once and times the operators, not checkpoint reads; oracle/verify
  * runs never reset, so their behaviour is unchanged.
  */
object MemoRegistry {
  private val memo = TrieMap.empty[(SparkSession, String, String), Any]

  /** Lineage cut: reliable checkpoint under a checkpoint dir, else
    * localCheckpoint. Both are eager.
    */
  def cut[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
    else ds.localCheckpoint()

  /** The stage `name` over `dir` in session `s`, built by `build` on
    * first use. `name` must be unique per stage: two sites passing the
    * same name share one value.
    */
  def shared[T](s: SparkSession, dir: String, name: String)(build: => T): T = {
    memo.keysIterator.filter(_._1.sparkContext.isStopped).foreach(memo.remove)
    memo.getOrElseUpdate((s, dir, name), build).asInstanceOf[T]
  }

  /** Drop every shared stage. Checkpoint blocks behind the dropped
    * references are reclaimed by Spark's ContextCleaner once GC'd.
    */
  def reset(): Unit = memo.clear()
}
