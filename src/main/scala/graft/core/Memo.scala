package graft.core

import java.util.concurrent.ConcurrentHashMap

/** A keyed build-once memo, the one implementation behind every
  * session-shared artifact (the [[Pin.shared]] pins, the k-means fit,
  * the catalog tables, the storage layouts). Concurrent callers of one
  * key wait for its single build; builds of different keys never wait
  * on each other, and a build may call another key's build (each key
  * builds under its own monitor, never inside `computeIfAbsent`, whose
  * bin lock would span the nested build). A build that throws is not
  * remembered. `stillThere` re-checks a remembered result on every call
  * (a marker file, a manifest, a catalog entry); when it fails, the key
  * builds again. A hit is one map lookup and the probe.
  */
final class Memo[K, V] {

  private final class Slot { @volatile var value: Option[V] = None }

  private val slots = new ConcurrentHashMap[K, Slot]()

  def apply(key: K, stillThere: => Boolean = true)(build: => V): V = {
    val found = slots.get(key)
    val slot = if (found != null) found else slots.computeIfAbsent(key, _ => new Slot)
    slot.value match {
      case Some(v) if stillThere => v
      case _ => slot.synchronized {
        slot.value match {
          case Some(v) if stillThere => v
          case _ =>
            slot.value = None
            val v = build
            slot.value = Some(v)
            v
        }
      }
    }
  }

  /** True iff `key` has a remembered result (its probe is not asked). */
  def isBuilt(key: K): Boolean = {
    val slot = slots.get(key)
    slot != null && slot.value.isDefined
  }

  /** Forget `key`; its next caller builds again. */
  def remove(key: K): Unit = { slots.remove(key); () }

  /** Forget every key matching `p`. */
  def removeIf(p: K => Boolean): Unit = { slots.keySet.removeIf(k => p(k)); () }

  /** Keys with a remembered result matching `p`. */
  def countBuilt(p: K => Boolean): Int = {
    var c = 0
    slots.forEach((k, s) => if (s.value.isDefined && p(k)) c += 1)
    c
  }
}
