package graft

import java.lang.ref.SoftReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A per-session memo of an expensive intermediate result (shingles,
  * candidate pairs, CC labels, an ANN index, ...): `build(spark, key)`
  * runs once per (session, key) and every later call in that session
  * gets the same value.
  *
  * Sessions are held WEAKLY and values SOFTLY. A DataFrame strongly
  * references its SparkSession, so a strong value would pin the map key
  * forever (the classic WeakHashMap self-reference pitfall) and keep
  * stopped sessions plus their checkpoint blocks on heap for the JVM
  * lifetime. Soft values survive normal operation and die under memory
  * pressure; once one is collected the ContextCleaner frees its
  * checkpoint blocks and the next call rebuilds.
  *
  * Builds run under a lock of their own (session, key) only: callers of
  * the same key wait for the one build in flight and get its value,
  * different keys build concurrently, and a build that throws caches
  * nothing. A build may call other memos (CC labels → candidate pairs →
  * shingles); the memo graph is acyclic, so that cannot deadlock.
  *
  * Every memo is registered in the companion, so Bench can time each
  * build and ScaleCheck can drop them all without a hand-kept list. */
final class SessionMemo[K, V] private (val name: String,
    build: (SparkSession, K) => V) {

  private final class Slot {
    @volatile var value: SoftReference[V] = _
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, mutable.Map[K, Slot]]()

  def apply(spark: SparkSession, key: K): V = {
    val slot = sessions.synchronized {
      var per = sessions.get(spark)
      if (per == null) {
        per = mutable.Map.empty
        sessions.put(spark, per)
      }
      per.getOrElseUpdate(key, new Slot)
    }
    slot.synchronized {
      Option(slot.value).flatMap(r => Option(r.get())) match {
        case Some(v) => v
        case None =>
          val v = build(spark, key)
          slot.value = new SoftReference(v)
          v
      }
    }
  }

  /** Drop this session's values; a build in flight finishes for its
    * callers but is not kept. Freed checkpoint blocks are released by
    * the ContextCleaner once the values are garbage-collected — there is
    * no public API to free localCheckpoint blocks eagerly. */
  def invalidate(spark: SparkSession): Unit =
    sessions.synchronized { sessions.remove(spark); () }

  /** The keys built in this session since its last invalidation,
    * including those whose value has since been collected. */
  def keys(spark: SparkSession): Seq[K] = sessions.synchronized {
    Option(sessions.get(spark)).toSeq
      .flatMap(_.collect { case (k, s) if s.value != null => k })
  }
}

object SessionMemo {
  private val registry = new java.util.concurrent.CopyOnWriteArrayList[SessionMemo[_, _]]()

  def apply[K, V](name: String)(build: (SparkSession, K) => V): SessionMemo[K, V] = {
    val memo = new SessionMemo(name, build)
    registry.add(memo)
    memo
  }

  /** Every memo created so far, in creation order. */
  def all: Seq[SessionMemo[_, _]] = registry.asScala.toSeq

  def invalidateAll(spark: SparkSession): Unit = all.foreach(_.invalidate(spark))
}
