package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The session memo: prepared materializations a label/build phase
  * produces once and every apply/search phase reads, the in-session
  * stand-in for the table a production label job persists. Every memo in
  * the engine is one `Memo(s, dir, tag)(build)` call; this object owns
  * the whole policy.
  *
  * Contract:
  *  - Key: (SparkContext, dir, tag). The dir is compared whole. Spark
  *    runs one active context per JVM, so the memo holds one current
  *    (context, dir) frame with a tag → value map.
  *  - Lifetime: a get for another dir or another context replaces the
  *    frame. A live old context has every checkpoint block its entries'
  *    plans read released; a stopped one is dropped untouched.
  *  - A memo frame must not be held across a dir switch: a released
  *    `localCheckpoint` has no lineage to recompute from, so a value
  *    kept past the switch, or past its own invalidation, fails when it
  *    next runs.
  *  - [[invalidate]] drops tags and releases their blocks, except blocks
  *    a remaining entry's plan still reads.
  *  - Builds run outside every lock but the entry's own, so a build may
  *    read other memos; each (context, dir, tag) builds at most once
  *    while it stays in the frame. A build that throws stores nothing,
  *    and the next get builds again.
  *
  * Values are a `DataFrame`, a case class of `DataFrame`s, or a plain
  * value such as a `Double` (which holds no blocks).
  *
  * The frame also holds one [[Prepared]] tag per `SparkEntry.queries`
  * entry: that entry's kept analyzed, optimized and physical plans. A
  * dir or context switch drops them with the rest of the frame. They
  * hold no blocks: a get during a prepared query's build marks the
  * build as one never to keep, so no kept plan reads a memo's
  * checkpoint. */
object Memo {

  /** A memo slot holding a value of type `V`; compared by identity. */
  final class Tag[V]

  private final class Cell {
    @volatile var value: Option[Any] = None
    def get(build: => Any): Any = value.getOrElse(synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    })
  }

  // guarded by Memo's monitor
  private var context: SparkContext = _
  private var dir: String = _
  private val cells = scala.collection.mutable.HashMap.empty[Tag[_], Cell]

  def apply[V](s: SparkSession, dir: String, tag: Tag[V])(build: => V): V = {
    Prepared.readMemo()
    cellFor(s.sparkContext, dir, tag).get(build).asInstanceOf[V]
  }

  private def cellFor(sc: SparkContext, d: String, tag: Tag[_]): Cell = synchronized {
    if (!(context eq sc) || dir != d) {
      if (context != null && !context.isStopped) releaseCells(cells.values, Nil)
      cells.clear()
      context = sc
      dir = d
    }
    cells.getOrElseUpdate(tag, new Cell)
  }

  /** Drop `tags` from the memo, releasing their checkpoint blocks. */
  def invalidate(tags: Tag[_]*): Unit = synchronized {
    val dropped = tags.flatMap(cells.remove)
    if (context != null && !context.isStopped) releaseCells(dropped, cells.values)
  }

  /** Release the checkpoint blocks `frames`' plans read. For a build's
    * own intermediate checkpoints, once a later eager checkpoint or a
    * persisted artifact holds their data; the caller owns the frames. */
  def release(frames: Dataset[_]*): Unit =
    frames.flatMap(rddsOf).foreach(_.unpersist(blocking = false))

  private def releaseCells(dropped: Iterable[Cell], kept: Iterable[Cell]): Unit = {
    val live = kept.flatMap(framesOf).flatMap(rddsOf).map(_.id).toSet
    dropped.flatMap(framesOf).flatMap(rddsOf).filterNot(r => live(r.id))
      .foreach(_.unpersist(blocking = false))
  }

  private def framesOf(c: Cell): Seq[Dataset[_]] = c.value.toSeq.flatMap {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.collect { case d: Dataset[_] => d }
    case _ => Nil
  }

  private def rddsOf(d: Dataset[_]): Seq[RDD[_]] =
    d.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
}
