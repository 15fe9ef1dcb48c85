package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import scala.util.DynamicVariable
import org.apache.spark.sql.DataFrame

/** The one cache-lifetime rule of the engine.
  *
  * Several operators cache an intermediate frame that multiple plan
  * branches read (e.g. the exploded shingle stream both sides of a
  * set-similarity self-join consume). The returned frame is lazy, so the
  * operator itself can never know when it is safe to unpersist — but at
  * corpus scale those caches are themselves corpus-sized, and a long-lived
  * session that runs dedup after dedup would accumulate them until
  * executors spill everything else.
  *
  * The rule: a frame cached through [[cached]] lives until the innermost
  * enclosing [[using]] block ends, whether it ends normally or by an
  * exception. Outside any `using`, it lives for the session (reclaim via
  * `spark.catalog.clearCache()`), the right trade for a query or an
  * interactive session that re-reads the same operator output.
  *
  * {{{
  * CacheScope.using {
  *   Dedup.minhashNearDupPairs(docs, "doc_id", "text", n = 3,
  *     threshold = 0.5).write.parquet(out) // consumed HERE
  * } // caches released
  * }}}
  *
  * The enclosing block is a thread-inheritable dynamic variable, so a
  * thread started inside `using` (each [[Parallel.inParallel]] task)
  * records into the same block.
  */
object CacheScope {
  private val current = new DynamicVariable[Option[ConcurrentLinkedQueue[DataFrame]]](None)

  /** Cache `df` for the lifetime of the innermost enclosing [[using]]. */
  def cached(df: DataFrame): DataFrame = {
    df.cache()
    current.value.foreach(_.add(df))
    df
  }

  /** Run `body`, then unpersist every frame [[cached]] inside it.
    * `body` must CONSUME whatever frames it derives — anything lazy that
    * escapes `body` loses its caches and recomputes from source.
    */
  def using[A](body: => A): A = {
    val frames = new ConcurrentLinkedQueue[DataFrame]
    try current.withValue(Some(frames))(body)
    finally Iterator.continually(frames.poll()).takeWhile(_ != null).foreach(_.unpersist())
  }
}
