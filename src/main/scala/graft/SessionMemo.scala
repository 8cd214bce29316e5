package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** A per-session memo: build once per (session, key), reuse until the
  * session releases it. It is the engine's one way to keep state across
  * calls within a session. There are two kinds:
  *  - [[SessionMemo.frames]]: the memo persists the frame it builds at
  *    MEMORY_AND_DISK (an eagerly checkpointed frame is already
  *    materialized and is kept as it is). Release unpersists the frame
  *    and the checkpointed frames its plan reads, so a builder that
  *    `localCheckpoint`s hands those blocks to the entry.
  *  - [[SessionMemo.values]]: lazy plans, driver arrays, scalars and
  *    names. Release drops them and destroys a `Broadcast`.
  *
  * Spark's `CacheManager` cannot replace the frame kind: it is shared
  * across sessions and matches only after re-analysis, the driver cost
  * the memo skips.
  *
  * Each memo site owns its instance: builders nest (the corpus bands
  * memo builds the shingle memo), and `computeIfAbsent` forbids a
  * builder from updating its own map. [[SessionMemo.release]] frees a
  * session's entries in every instance. When a session's `SparkContext`
  * stops, its entries are dropped without Spark calls (the context is
  * gone), so no entry outlives its session. */
final class SessionMemo[K, V] private (built: V => V, free: V => Unit) {
  private val entries = new ConcurrentHashMap[(SparkSession, K), V]()

  def apply(spark: SparkSession, key: K)(build: => V): V =
    entries.computeIfAbsent((spark, key), { _ =>
      SessionMemo.watch(spark.sparkContext)
      built(build)
    })

  private def drop(owned: SparkSession => Boolean, release: Boolean): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (owned(e.getKey._1)) {
        it.remove()
        if (release) free(e.getValue)
      }
    }
  }

  private def count(owned: SparkSession => Boolean): Int = {
    var n = 0
    entries.keySet().forEach(k => if (owned(k._1)) n += 1)
    n
  }
}

object SessionMemo {
  private val memos = new CopyOnWriteArrayList[SessionMemo[_, _]]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  private def register[K, V](m: SessionMemo[K, V]): SessionMemo[K, V] = {
    memos.add(m)
    m
  }

  /** Frames persisted on build and unpersisted on release. */
  def frames[K](): SessionMemo[K, DataFrame] =
    register(new SessionMemo[K, DataFrame](persist, unpersist))

  /** Plans and driver values, dropped on release (a `Broadcast` is
    * destroyed). */
  def values[K, V](): SessionMemo[K, V] =
    register(new SessionMemo[K, V](identity, {
      case b: Broadcast[_] => b.destroy()
      case _ => ()
    }))

  /** Drop every entry `spark` owns, unpersisting its frames and
    * destroying its broadcasts. Other sessions' entries stay. */
  def release(spark: SparkSession): Unit =
    memos.forEach(_.drop(_ eq spark, release = true))

  /** Entries `spark` owns across every memo. */
  private[graft] def entries(spark: SparkSession): Int = {
    var n = 0
    memos.forEach(m => n += m.count(_ eq spark))
    n
  }

  private def persist(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.getStorageLevel != StorageLevel.NONE => df
    case _ => df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** `Dataset.unpersist` does not reach a checkpointed frame's blocks,
    * so those are unpersisted through the plan's `LogicalRDD` leaves. */
  private[graft] def unpersist(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist()
      case _ => ()
    }
  }

  /** Drops a context's entries when it stops. The listener makes no
    * Spark calls: by then the context is gone. */
  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
        memos.forEach(_.drop(_.sparkContext eq sc, release = false))
        watched.remove(sc)
        ()
      }
    })
}
