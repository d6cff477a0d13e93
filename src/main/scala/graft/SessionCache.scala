package graft

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Per-application derived state: the offline artifacts, their broadcasts
  * and the stage frames built from them (the reference's "index once, serve
  * many"). One map per SparkContext under one lock; a listener per context
  * drops its entries when its application ends. Builds nest (a stage frame
  * builds the artifacts, annotate their broadcasts), so a lookup holds the
  * re-entrant object monitor across its build: `computeIfAbsent` rejects a
  * mapping function that updates its own map. */
object SessionCache {

  private val byContext = mutable.HashMap.empty[SparkContext, mutable.HashMap[Any, AnyRef]]

  private def entries(sc: SparkContext) = byContext.getOrElseUpdate(sc, {
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = end(sc)
    })
    mutable.HashMap.empty[Any, AnyRef]
  })

  /** The entry under `key` for `sc`, built on first use. */
  def apply[T <: AnyRef](sc: SparkContext, key: Any)(build: => T): T = synchronized {
    val m = entries(sc)
    m.getOrElse(key, { val v = build; m(key) = v; v }).asInstanceOf[T]
  }

  /** A broadcast, built and shipped on first use. */
  def broadcast[T: ClassTag](sc: SparkContext, key: Any)(value: => T): Broadcast[T] =
    apply(sc, key)(sc.broadcast(value))

  /** A frame, built and persisted on first use: the one persist call site. */
  def frame(sc: SparkContext, key: Any)(build: => DataFrame): DataFrame =
    apply(sc, key)(build.persist(StorageLevel.MEMORY_AND_DISK))

  def put(sc: SparkContext, key: Any, value: AnyRef): Unit = synchronized {
    entries(sc)(key) = value
  }

  /** Removes the entries of `sc` whose key satisfies `p`, unpersisting the
    * frames among them. */
  def remove(sc: SparkContext)(p: Any => Boolean): Unit = synchronized {
    byContext.get(sc).foreach(m => m.keys.filter(p).toSeq.flatMap(m.remove).foreach {
      case ds: Dataset[_] => ds.unpersist(false)
      case _ => ()
    })
  }

  /** Drops every entry of `sc`, as its application end does. On a live
    * context (a test) the next build adds a second, idempotent listener. */
  private[graft] def end(sc: SparkContext): Unit = synchronized { byContext -= sc; () }

  /** A key compared by reference, for a value whose structural hash is
    * costly: an `Artifacts` hashes its whole BOW word map. */
  final class Ref(val value: AnyRef) {
    override def equals(o: Any): Boolean = o match {
      case r: Ref => r.value eq value
      case _ => false
    }
    override def hashCode: Int = System.identityHashCode(value)
  }
}
