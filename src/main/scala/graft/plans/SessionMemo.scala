package graft.plans

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShims, SparkSession}

/** The one session-scoped memo — fixture readers, trained artifacts, the
  * shared SCC peel, once-per-session listener installs — one entry per
  * (session, key) for the session's lifetime.
  *
  * Keys hold the `SparkSession` object itself, so two live sessions never
  * share an entry. Builds run outside any lock: a build may call the memo
  * for another key (artifact builds read fixtures through it), callers of
  * one key wait for its single build, and builds of different keys never
  * wait on each other. A build that throws caches nothing; its waiters
  * see the exception and the next call rebuilds.
  *
  * The memo owns the pins: the persisted `LogicalRDD` leaves of a frame an
  * entry holds are exempt from [[Supersteps.release]] and
  * [[Supersteps.sweep]], since a memoized checkpoint has no lineage left
  * to recompute from.
  */
object SessionMemo {

  private val entries = new ConcurrentHashMap[(SparkSession, Any), FutureTask[Any]]()
  private[plans] val held = ConcurrentHashMap.newKeySet[Int]()

  /** The value memoized under `key` for `spark`, built on first use. */
  def apply[T](spark: SparkSession, key: Any)(build: => T): T = {
    val k = (spark, key)
    val mine = new FutureTask[Any](() => {
      val v = build
      v match {
        case ds: Dataset[_] => GraftSqlShims.leafRddIds(ds.toDF()).foreach(held.add(_))
        case _ =>
      }
      v
    })
    val task = Option(entries.putIfAbsent(k, mine)).getOrElse { mine.run(); mine }
    try task.get().asInstanceOf[T]
    catch { case e: ExecutionException =>
      entries.remove(k, task)
      throw e.getCause
    }
  }

  /** A memoized checkpoint of `build`, held for the session; the build's
    * own persisted blocks are released once the checkpoint consumed them. */
  def frame(spark: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    apply(spark, key) {
      val raw = build
      val ck = raw.localCheckpoint()
      Supersteps.release(raw)
      ck
    }
}
