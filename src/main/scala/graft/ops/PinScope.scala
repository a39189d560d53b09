package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The caches (`persist`) and pins (eager `localCheckpoint`) one op
  * makes on its way to a result, released when the op returns. Every
  * cache and eager pin in `graft.ops` goes through one.
  *
  * A pin must be released through its RDD: `Dataset.unpersist` on a
  * local checkpoint leaves its blocks and its `getPersistentRDDs` entry
  * in place until a JVM GC lets the ContextCleaner drop them, so a
  * long-lived session running iterative ops piles up every round's
  * blocks. On exit the scope releases each cache and pin that the
  * returned frame's analyzed plan does not read (a local checkpoint
  * has no lineage to fall back on, so a pin the result reads must
  * stay); when the op throws it releases all of them.
  *
  * Scopes nest: a scope opened while another is active on the same
  * thread hands the caches and pins its result keeps to the enclosing
  * scope, which releases them in turn unless its own result reads
  * them. So an op calling another op owns what the inner op kept.
  */
private[graft] final class PinScope private {
  private val caches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val pins = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  /** `df.persist()`, owned by this scope. */
  def cache(df: DataFrame): DataFrame = {
    val c = df.persist()
    caches += c
    c
  }

  /** Eager `localCheckpoint` of `df`, owned by this scope. A frame that
    * already is one of this scope's pins (its own, or one a nested
    * scope handed it) comes back as it is. */
  def pin(df: DataFrame): DataFrame =
    if (PinScope.checkpointRdd(df).exists(r => pins.exists(_ eq r))) df
    else {
      val p = df.localCheckpoint(true)
      pins ++= PinScope.checkpointRdd(p)
      p
    }

  /** Releases what `result` does not read and hands the rest to `owner`. */
  private def release(result: Option[DataFrame], owner: Option[PinScope]): Unit = {
    val plan = result.map(_.queryExecution.analyzed)
    val readRdds = plan.toSeq.flatMap(_.collect { case l: LogicalRDD => l.rdd.id })
      .toSet
    def reads(c: DataFrame) =
      plan.exists(_.exists(_.sameResult(c.queryExecution.analyzed)))
    val (keptCaches, freeCaches) = caches.partition(reads)
    val (keptPins, freePins) = pins.partition(r => readRdds(r.id))
    // dependents first, so no released cache gets rebuilt for a later one
    freeCaches.reverseIterator.foreach(_.unpersist(blocking = false))
    freePins.foreach(_.unpersist(blocking = false))
    owner.foreach { o => o.caches ++= keptCaches; o.pins ++= keptPins }
  }
}

private[graft] object PinScope {
  private val active = new ThreadLocal[PinScope]

  /** Runs `body` with a fresh scope and releases what the result does
    * not read; on a throw, releases everything. What the result reads
    * goes to the enclosing scope, if one is active. */
  def apply(body: PinScope => DataFrame): DataFrame =
    run(Option(active.get), body)

  /** [[apply]] for a result that outlives every op (the suffix memo's
    * kernel): what it reads is never handed to an enclosing scope. */
  def detached(body: PinScope => DataFrame): DataFrame = run(None, body)

  private def run(owner: Option[PinScope], body: PinScope => DataFrame): DataFrame = {
    val outer = active.get
    val scope = new PinScope
    active.set(scope)
    var result: Option[DataFrame] = None
    try {
      result = Some(body(scope))
      result.get
    } finally {
      active.set(outer)
      scope.release(result, owner)
    }
  }

  /** The RDD holding a pinned frame's blocks, if `frame` is a local
    * checkpoint. */
  def checkpointRdd(frame: DataFrame): Option[RDD[_]] =
    frame.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
