package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Scoped frame caching — the one place the media dedup stack persists
  * and releases frames. A face opens a [[scope]], persists what it
  * reuses (a decode pass, a banded frame, the final output), runs its
  * own materializing action, and returns:
  *
  * {{{
  * Cached.scope { s =>
  *   val h = s.hold(hashes); h.count()  // the caller's action
  *   val out = s.hold(derive(h)); out.count()
  *   out
  * }
  * }}}
  *
  * Contract: the scope unpersists every frame it [[Scope.hold]]s or
  * [[Scope.own]]s on EVERY exit — a normal return, a `require`
  * refusal, any other exception — except the frame the body returns.
  * So a face returns a persisted frame; the caller unpersists. Every
  * frame persists at MEMORY_AND_DISK; the helper never runs a Spark
  * action of its own (materializing is always the caller's choice of
  * count, collect or write).
  */
object Cached {

  /** The frames one [[scope]] releases on exit. */
  final class Scope private[Cached] () {
    private[Cached] val held =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Persist `df` for the life of this scope. Lazy: nothing runs
      * until the caller's own action reads the frame. */
    def hold(df: DataFrame): DataFrame =
      own(df.persist(StorageLevel.MEMORY_AND_DISK))

    /** Take ownership of a frame some callee already persisted — a
      * face's returned frame, a component map — so this scope
      * releases it. */
    def own(df: DataFrame): DataFrame = { held += df; df }
  }

  // innermost-first stack of the scopes open on this thread
  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Run `body` with a fresh scope; see the object contract. */
  def scope[T](body: Scope => T): T = {
    val s = new Scope
    open.set(s :: open.get)
    var result: AnyRef = null
    try { val r = body(s); result = r.asInstanceOf[AnyRef]; r }
    finally {
      open.set(open.get.tail)
      s.held.foreach(df => if (!(df eq result)) df.unpersist())
    }
  }

  /** [[Scope.hold]] on the innermost scope open on this thread — for
    * callees that cache internally but return a lazy frame reading the
    * cache ([[HammingBands.pairs]]): the CALLER's scope releases it once
    * the caller has materialized what it derived. With no scope open
    * the frame lives until the session drops it. */
  def hold(df: DataFrame): DataFrame = open.get match {
    case s :: _ => s.hold(df)
    case Nil => df.persist(StorageLevel.MEMORY_AND_DISK)
  }
}
