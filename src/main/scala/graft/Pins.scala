package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, GraftShims}
import org.apache.spark.storage.StorageLevel

/** The one owner of cache and checkpoint lifetimes in `src/main`.
  *
  * THE RULE: every pin is made through [[cache]] or [[checkpoint]] and
  * belongs to a ledger — the innermost active [[scope]] on this thread, or
  * the session ledger when no scope is active. A scope releases its pins
  * when its body returns or throws; only the pins its returned frame's plan
  * still reads (checkpoint `LogicalRDD`s, cached relations and everything
  * an unmaterialized cache reads in turn) survive, moving to the enclosing
  * ledger — so a lazy result never loses its inputs and no extra
  * materialization job is run to protect them. [[release]] drops one pin
  * early (a superseded fixpoint round or index snapshot). [[releaseAll]]
  * drains the session ledger: the harness loops call it between queries,
  * next to `clearCache`.
  *
  * Helpers therefore need no cache handles in their signatures: a helper
  * called inside the caller's scope registers with that scope through the
  * thread-local active ledger, and returns a plain frame.
  *
  * A stream owns the pins that live as long as it does (its standing or
  * growing index) in a [[Ledger]] of its own, entered with
  * [[Ledger.within]]; [[releaseAll]] never touches those. Each micro-batch
  * body runs in a [[scope]]. */
object Pins {

  /** One pin: a persisted RDD (a checkpoint's or a persisted sort's) or a
    * cached frame's cache entry. `key` is the identity the plan walk finds:
    * the RDD itself, or the entry's cache builder. */
  private final class Pin(val key: AnyRef, val free: () => Unit)

  // every ledger still reachable, weakly: a stream's ledger that is
  // dropped with its stream takes its pins with it, so the ContextCleaner
  // can still reclaim them. Guarded by `lock`, as are ledger contents.
  private val lock = new Object
  private val ledgers = new java.util.WeakHashMap[Ledger, java.lang.Boolean]

  /** A set of pins released together. A [[scope]] is a ledger closed on
    * exit; a stream keeps one for the pins that live as long as it does
    * and supersedes them one by one with [[release]]. */
  final class Ledger {
    private[Pins] val pins = scala.collection.mutable.LinkedHashSet.empty[Pin]
    lock.synchronized(ledgers.put(this, true))

    /** Run `body` with this ledger receiving every pin made on this
      * thread (unless an inner [[scope]] takes them). */
    def within[T](body: => T): T = {
      val prev = active.get
      active.set(this)
      try body finally active.set(prev)
    }

    /** Release every pin in this ledger. */
    def release(): Unit = drop(_ => true)

    // release the pins `which` selects; the rest stay
    private[Pins] def drop(which: Pin => Boolean): Unit = {
      val gone = lock.synchronized {
        val g = pins.filter(which).toSeq
        pins --= g
        g
      }
      gone.foreach(_.free())
    }
  }

  private val session = new Ledger
  private val active = new ThreadLocal[Ledger]
  private def current: Ledger = Option(active.get).getOrElse(session)

  private def owner(key: AnyRef): Option[(Ledger, Pin)] = {
    import scala.jdk.CollectionConverters._
    ledgers.keySet.asScala.iterator
      .flatMap(l => l.pins.find(_.key eq key).map(l -> _)).nextOption()
  }

  // a handle already pinned (the same plan cached twice) stays with the
  // ledger that pinned it first
  private def register(key: AnyRef, free: () => Unit): Unit = lock.synchronized {
    if (owner(key).isEmpty) current.pins += new Pin(key, free)
  }

  /** Cache `df` (lazily, at the default storage level) as a pin of the
    * active scope. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.cache()
    register(GraftShims.cacheKey(c), GraftShims.uncacher(c))
    c
  }

  /** Persist `rdd` (memory and disk — the frame cache's level) as a pin of
    * the active scope. */
  def cache[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    register(rdd, () => rdd.unpersist(blocking = false))
    rdd
  }

  /** Eager `localCheckpoint` of `df` as a pin of the active scope,
    * registered by its RDD handle. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    val rdd = GraftShims.checkpointRdd(c)
    register(rdd, () => rdd.unpersist(blocking = false))
    c
  }

  /** Release the pin `df` is — a frame [[cache]] or [[checkpoint]]
    * returned (or its `repinStats` re-wrap) — before its scope ends. */
  def release(df: Dataset[_]): Unit = {
    val key = GraftShims.pinKey(df)
    val (ledger, pin) = lock.synchronized(owner(key))
      .getOrElse(throw new IllegalArgumentException("Pins.release: the frame is not a live pin"))
    ledger.drop(_ eq pin)
  }

  /** Run `body`; on exit release every pin made inside it, except the pins
    * a returned frame still reads, which move to the enclosing ledger. */
  def scope[T](body: => T): T = {
    val outer = current
    val ledger = new Ledger
    val out = try ledger.within(body) catch {
      case e: Throwable => ledger.release(); throw e
    }
    val read = new java.util.IdentityHashMap[AnyRef, AnyRef]
    try out match {
      case d: Dataset[_] if lock.synchronized(ledger.pins.nonEmpty) =>
        GraftShims.pinsRead(d).foreach(k => read.put(k, k))
      case _ =>
    } finally {
      lock.synchronized {
        val kept = ledger.pins.filter(p => read.containsKey(p.key))
        ledger.pins --= kept
        outer.pins ++= kept
      }
      ledger.release()
    }
    out
  }

  /** Release every pin in the session ledger (pins made outside any
    * scope). Stream-owned ledgers are untouched. */
  def releaseAll(): Unit = session.release()
}
