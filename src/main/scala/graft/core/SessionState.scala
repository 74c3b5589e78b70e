package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The state the engine keeps between calls, in one map: table
  * relations, the session-persisted shared views, the IVF quantizer
  * broadcast and the pinned metadata of the table formats. One
  * ownership rule and one eviction path hold for all of them.
  *
  * Ownership. An entry is keyed by a path and by the owner it is bound
  * to: the `SparkSession` a DataFrame was analysed in, the
  * `SparkContext` that holds a broadcast, or None for metadata read
  * from an immutable path. A caller finds only the entries of its own
  * owner, so an entry bound to another session or context is never
  * served: the caller builds its own beside it.
  *
  * Dead owners. Every lookup first drops the entries whose owner's
  * context has stopped, without releasing them: their broadcasts and
  * cached blocks went with the context, and `destroy()`/`unpersist()`
  * act by id through the live `SparkEnv`, where ids restart at 0 in a
  * new context, so a release would remove an unrelated live block. A
  * stopped session is thus not pinned past the next lookup.
  *
  * Eviction. [[evict]] drops every entry under a path (the path and
  * everything below it: a root, or one generation's files) and
  * releases those whose owner is live. */
object SessionState {

  private final class Entry(val value: Any, val release: () => Unit)

  /** (path, owner) → entry; an owner is a `SparkSession` or a
    * `SparkContext`. */
  private val entries = TrieMap.empty[(String, Option[AnyRef]), Entry]

  private def stopped(owner: Option[AnyRef]): Boolean = owner.exists {
    case s: SparkSession => s.sparkContext.isStopped
    case sc: SparkContext => sc.isStopped
  }

  private def dropDead(): Unit =
    entries.keys.filter(k => stopped(k._2)).foreach(entries.remove)

  /** The value under `path` bound to `owner`, built once by `build`.
    * `release` frees it when [[evict]] drops it while its owner is
    * live. */
  def apply[V](path: String, owner: Option[AnyRef] = None)(
      build: => V, release: V => Unit = (_: V) => ()): V = {
    dropDead()
    entries.getOrElseUpdate((path, owner), {
      val v = build
      new Entry(v, () => release(v))
    }).value.asInstanceOf[V]
  }

  /** The value under `path` bound to `owner` if one is held, without
    * building it; an entry whose owner's context has stopped is
    * absent. */
  def get[V](path: String, owner: AnyRef): Option[V] = {
    dropDead()
    entries.get((path, Some(owner))).map(_.value.asInstanceOf[V])
  }

  /** Drop every entry under `path` (the path itself and every path
    * below it), releasing those whose owner is live. */
  def evict(path: String): Unit =
    entries.keys.filter(k => k._1 == path || k._1.startsWith(s"$path/"))
      .foreach(k => entries.remove(k).foreach(e => if (!stopped(k._2)) e.release()))

  /** The (path, owner) of every entry held. */
  private[graft] def keys: Seq[(String, Option[AnyRef])] = entries.keys.toSeq
}
