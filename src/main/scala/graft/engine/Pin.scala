package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.{DatasetBridge, StorageBridge}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** The one way graft pins a frame: every checkpoint, cache and release
  * in the engine, the operators, the sources, streaming, the queries
  * and the tools goes through here.
  *
  * Spark evaluates a frame once only when the program pins it
  * (persistence and lineage truncation are the program's choice — Zaharia
  * et al., RDDs, NSDI 2012). Two kinds of pin:
  *  - [[checkpoint]] stores the rows in the block manager and cuts the
  *    lineage. Its LogicalRDD reports the bytes the block manager holds
  *    for it ([[measure]]), not the estimate Spark copies from the plan
  *    it replaced: that estimate multiplies through every join, so a
  *    loop that joins its own checkpoint squares it each round. Reading
  *    a released checkpoint FAILS — its lineage is gone.
  *  - [[cache]] keeps the plan (`persist(MEMORY_AND_DISK)`). Its
  *    InMemoryRelation reports measured sizes once materialized. Reading
  *    a released cache recomputes.
  *
  * LIFETIME RULES. Every pin is one of three kinds:
  *  - scoped: released before the operator that made it returns, on
  *    every exit (a training set cached for a loop, the edges of the CC
  *    loop, a pre-shuffle input);
  *  - round: a loop's per-round checkpoint, released by [[rounds]] as
  *    soon as the next round is materialized;
  *  - result-backing: lives as long as the returned frame can be read,
  *    which means one of
  *     - the session: checkpoints behind a returned frame (dedup labels,
  *       k-means centroids, HTTP fan-out bodies, image embeddings) stay
  *       until the session ends — the operator cannot know its caller's
  *       last action;
  *     - [[RunContext.unpersistAll]], at sequence end: pipeline-output
  *       caches (a result read after that recomputes) and the lazy
  *       checkpoints of rereading curation stages' inputs (a result over
  *       one can no longer be read, so callers count before releasing);
  *     - the first consuming action: [[untilConsumed]].
  * Never release a result-backing checkpoint early: callers read result
  * frames after the run that made them. */
object Pin {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `df.localCheckpoint(eager)`. An eager pin is [[measure]]d right
    * after the one job Spark runs for it; a lazy one keeps Spark's
    * estimate until the caller measures it after its first action. */
  def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager)
    if (eager) measure(cp) else cp
  }

  /** A materialized checkpoint re-wrapped to report the bytes the block
    * manager holds for it; any other frame, or a checkpoint not yet
    * stored in full, comes back unchanged. Runs no job. */
  def measure(cp: DataFrame): DataFrame =
    StorageBridge.checkpointed(cp).flatMap(StorageBridge.storedBytes)
      .fold(cp)(b => DatasetBridge.withSizeInBytes(cp, BigInt(math.max(1L, b))))

  /** `persist(MEMORY_AND_DISK)`; `eager` materializes it with one count
    * and releases it again if that count fails. */
  def cache(df: DataFrame, eager: Boolean = false): DataFrame = {
    val c = df.persist(StorageLevel.MEMORY_AND_DISK)
    if (eager) {
      var ok = false
      try { c.count(); ok = true } finally if (!ok) release(c)
    }
    c
  }

  /** Frees the pin `df` — a cache, or a checkpoint's blocks (without
    * Spark's "was locally checkpointed" warning). A plan over a pin is
    * not the pin: releasing it frees nothing. */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else StorageBridge.checkpointed(df).foreach(StorageBridge.release)

  /** Unrelated query executions after which [[untilConsumed]] assumes its
    * result was abandoned and releases the pin anyway. */
  private val AbandonAfter = 64

  /** Returns `result`, and releases `pinned` once the first action over a
    * plan that contains `result` finishes, successfully or not. The
    * match is by plan-node identity, so an unrelated action in the same
    * session never triggers it; a second action on `result` recomputes
    * what the pin held. A result never executed would leak the pin and
    * the listener, so after [[AbandonAfter]] unrelated executions the pin
    * is released with a warning — bounded memory over reuse. */
  def untilConsumed(pinned: DataFrame, result: DataFrame): DataFrame = {
    val spark = result.sparkSession
    // direct actions on `result` surface its raw logical plan; derived
    // frames embed its analyzed plan
    val plans = Seq(result.queryExecution.logical, result.queryExecution.analyzed)
    spark.listenerManager.register(new QueryExecutionListener {
      private var misses = 0
      private def done(): Unit = {
        release(pinned)
        spark.listenerManager.unregister(this)
      }
      private def seen(qe: QueryExecution): Unit =
        if (qe.logical.exists(n => plans.exists(_ eq n))) done()
        else {
          misses += 1
          if (misses >= AbandonAfter) {
            log.warn(s"released a pin after $AbandonAfter unrelated " +
              "executions without a consuming action; if its result runs " +
              "later it recomputes what the pin held")
            done()
          }
        }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = seen(qe)
    })
    result
  }

  /** A finished [[rounds]] loop: the last round's frame, and whether
    * `until` held on it. */
  final case class Rounds(frame: DataFrame, settled: Boolean)

  /** The round loop of graft's iterative operators. Each round gets the
    * current frame — `first`, then the previous round's pin — and
    * returns the next round's plan, or None to stop. The loop pins
    * that plan (`eager` or lazily), runs `until` on it (a lazy round's
    * first action, which must read every partition: the round is then
    * measured), and releases the round it supersedes (`first` too, when
    * it is a pin). It stops after `maxRounds` rounds, on None, or once
    * `until` holds.
    *
    * On every exit the `scoped` pins are released; on a failed exit so
    * are the current and the in-flight round. The returned frame is
    * the caller's: a round pin that backs the operator's result. */
  def rounds(first: DataFrame, maxRounds: Int, eager: Boolean = true,
      scoped: Seq[DataFrame] = Nil, until: DataFrame => Boolean = _ => false)(
      step: DataFrame => Option[DataFrame]): Rounds = {
    var cur = first
    var pending: Option[DataFrame] = None
    var r = 0
    var settled = false
    var ok = false
    try {
      while (!settled && r < maxRounds) {
        r += 1
        step(cur) match {
          case None => r = maxRounds
          case Some(plan) =>
            val next = checkpoint(plan, eager)
            pending = Some(next)
            settled = until(next)
            release(cur)
            cur = if (eager) next else measure(next)
            pending = None
        }
      }
      ok = true
      Rounds(cur, settled)
    } finally {
      scoped.foreach(release)
      if (!ok) (pending.toSeq :+ cur).foreach(release)
    }
  }
}
