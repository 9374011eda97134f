package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

/** The build-once artifact registry: every derived structure that is built
  * once and probed many times (text index, VecIndex, tokenizer models,
  * streaming spools) lives here, keyed by (session, dataset, kind).
  *
  *  - Lazy slot: a lookup inserts a cheap slot and its `lazy val` runs the
  *    build, so callers that race on a first access all wait for ONE
  *    build and read the same value. A bare `getOrElseUpdate(key, build)`
  *    runs every racer's build and leaks the losers' checkpoints.
  *  - Session keying: an artifact's frames are bound to the session that
  *    built them; keying by dataset alone would hand another live session,
  *    or a restarted one, frames of a different (or stopped) SparkContext.
  *  - Pruning: entries of stopped sessions are removed on the next lookup
  *    without freeing. Their frames can have no live consumer (every
  *    action on them throws), and dropping them keeps a JVM that restarts
  *    sessions from pinning dead sessions' driver heap.
  *  - Root-only free: [[drop]] and a displacing [[put]] free only the
  *    checkpoint roots an artifact holds ([[Tables.freeCheckpoint]]);
  *    an artifact built on another artifact owns its own checkpoint, so
  *    freeing one never truncates another's lineage.
  *
  * Builds run with the job description `artifact:<kind>`, so an event log
  * attributes their jobs to the artifact. */
object Artifacts {

  private type Key = (SparkSession, String, String)

  private final class Slot(build: () => Any) {
    /** The value once built; drop frees only what was actually built. */
    @volatile var built: Option[Any] = None
    lazy val value: Any = { val v = build(); built = Some(v); v }
  }

  private val slots = TrieMap.empty[Key, Slot]
  private val buildCounts = TrieMap.empty[Key, Int]

  private def prune(): Unit = {
    slots.keysIterator.foreach(k => if (k._1.sparkContext.isStopped) slots.remove(k))
    buildCounts.keysIterator.foreach(k => if (k._1.sparkContext.isStopped) buildCounts.remove(k))
  }

  /** The (s, d, kind) artifact, built by `build` on first use. */
  def apply[T](s: SparkSession, d: String, kind: String)(build: => T): T = {
    prune()
    val key = (s, d, kind)
    slots.getOrElseUpdate(key, new Slot(() => {
      buildCounts.updateWith(key)(c => Some(c.getOrElse(0) + 1))
      Tables.withJobDescription(s, s"artifact:$kind")(build)
    })).value.asInstanceOf[T]
  }

  /** Install `v` as the (s, d, kind) artifact (a load or an append),
    * freeing the displaced artifact's frames that `v` does not hold. */
  def put(s: SparkSession, d: String, kind: String, v: Any): Unit = {
    prune()
    val slot = new Slot(() => v)
    slot.value
    slots.put((s, d, kind), slot).flatMap(_.built).foreach { old =>
      val kept = frames(v)
      frames(old).filterNot(f => kept.exists(_ eq f)).foreach(Tables.freeCheckpoint)
    }
  }

  /** Drop (s, d)'s artifacts of the given kinds, freeing their frames. */
  def drop(s: SparkSession, d: String, kinds: Seq[String]): Unit =
    dropWhere(k => k._1 == s && k._2 == d && kinds.contains(k._3))

  /** Drop every session's and dataset's artifacts whose kind starts with
    * `prefix`, freeing their frames. */
  def dropAll(prefix: String): Unit = dropWhere(_._3.startsWith(prefix))

  private def dropWhere(p: Key => Boolean): Unit =
    slots.keysIterator.filter(p).foreach { k =>
      slots.remove(k).flatMap(_.built).foreach(v => frames(v).foreach(Tables.freeCheckpoint))
    }

  /** How many times the (s, d, kind) artifact has been built. Drops keep
    * the count, so "no build after a load" is a count that stays put. */
  def builds(s: SparkSession, d: String, kind: String): Int =
    buildCounts.getOrElse((s, d, kind), 0)

  /** Run independent builds concurrently, one new thread each, and wait
    * for all of them. The threads start here, so they carry the caller's
    * Spark local properties (job description, tracer span); a shared
    * pool's threads keep whatever their first spawner had set. */
  def concurrently(tasks: (() => Any)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try tasks.map(t => Future(t())).foreach(Await.result(_, Duration.Inf))
    finally pool.shutdown()
  }

  /** The frames an artifact value holds: itself, or the DataFrame fields
    * of a case class or tuple, in field order. */
  private[queries] def frames(v: Any): Seq[DataFrame] = v match {
    case df: Dataset[Row @unchecked] => Seq(df)
    case p: Product => p.productIterator.flatMap {
      case df: Dataset[Row @unchecked] => Some(df)
      case _ => None
    }.toSeq
    case _ => Nil
  }
}
