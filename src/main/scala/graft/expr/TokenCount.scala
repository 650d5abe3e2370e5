package graft.expr

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, TaskMemoryManager}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences, Explode}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Partial}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan, Project}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.aggregate.{AggUtils, HashAggregateExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.{ByteArrayMethods, LongArray}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** One task's `(token, count)` partials, counted straight from row bytes
  * the way the reference counts into its per-process hash map
  * (`hash_map.c`): an open-addressing table whose slots hold
  * `hash << 32 | arena offset`, the counts beside them, and the keys
  * length-prefixed in one byte arena. A key is copied into the arena the
  * first time it is seen; after that its count goes up in place.
  *
  * [[TokenCounts.partials]] adds rows until the table is [[full]] (`cap`
  * keys, or a full arena), then [[drain]]s it and goes on with an empty
  * table: the final aggregate sums partials, so a flush changes no result.
  * The table is checked between rows, so one row's new keys may pass the
  * cap. Its memory is the task's execution memory, taken from and given
  * back to Spark's memory manager, which reuses the large blocks across
  * tasks; it cannot spill, as the cap bounds it.
  */
final class TokenCounts(memory: TaskMemoryManager, table: Array[Boolean], useICU: Boolean,
                        cap: Int)
    extends MemoryConsumer(memory, TokenCounts.InitialArena, memory.getTungstenMemoryMode)
    with LowerTokens.Sink {
  import TokenCounts._

  private var slots = emptySlots(InitialSlots)
  private var counts = allocateArray(InitialSlots)
  private var mask = InitialSlots - 1
  private var keys = 0
  private var arena = allocatePage(InitialArena)
  private var arenaEnd = ArenaStart
  private var lowered = new Array[Byte](256)
  // a row's tokens wait here until the kernel has settled the row's path
  private var rowBase: AnyRef = _
  private var rowOffsets = new Array[Long](64)
  private var rowLengths = new Array[Int](64)
  private var rowTokens = 0

  private def full: Boolean = keys >= cap || arenaEnd >= MaxArenaBytes

  /** Counts the tokens of one row. */
  private def add(s: UTF8String): Unit = {
    rowTokens = 0
    LowerTokens.scan(s, table, useICU, this)
    var k = 0
    while (k < rowTokens) {
      insert(rowBase, rowOffsets(k), rowLengths(k))
      k += 1
    }
  }

  def buffer(n: Int): Array[Byte] = {
    if (lowered.length < n) lowered = new Array[Byte](math.max(n, lowered.length * 2))
    lowered
  }

  def token(base: AnyRef, offset: Long, len: Int): Unit = {
    if (rowTokens == rowLengths.length) {
      rowOffsets = java.util.Arrays.copyOf(rowOffsets, rowTokens * 2)
      rowLengths = java.util.Arrays.copyOf(rowLengths, rowTokens * 2)
    }
    rowBase = base
    rowOffsets(rowTokens) = offset
    rowLengths(rowTokens) = len
    rowTokens += 1
  }

  def restart(): Unit = rowTokens = 0

  private def insert(base: AnyRef, offset: Long, len: Int): Unit = {
    val h = Murmur3_x86_32.hashUnsafeBytes2(base, offset, len, Seed)
    var i = h & mask
    var slot = slots.get(i)
    while (slot != Empty) {
      if ((slot >>> 32).toInt == h && sameKey((slot & 0xffffffffL).toInt, base, offset, len)) {
        counts.set(i, counts.get(i) + 1)
        return
      }
      i = (i + 1) & mask
      slot = slots.get(i)
    }
    slots.set(i, (h.toLong << 32) | append(base, offset, len))
    counts.set(i, 1L)
    keys += 1
    if (keys > (mask + 1) / 2) grow()
  }

  private def sameKey(at: Int, base: AnyRef, offset: Long, len: Int): Boolean =
    Platform.getInt(arena.getBaseObject, arena.getBaseOffset + at) == len &&
      ByteArrayMethods.arrayEquals(
        arena.getBaseObject, arena.getBaseOffset + at + 4, base, offset, len)

  /** Copies a new key into the arena; returns its offset. */
  private def append(base: AnyRef, offset: Long, len: Int): Int = {
    val at = arenaEnd
    val end = at.toLong + 4 + len
    if (end > arena.size) {
      val grown = allocatePage(math.max(end, arena.size * 2))
      Platform.copyMemory(arena.getBaseObject, arena.getBaseOffset,
        grown.getBaseObject, grown.getBaseOffset, at)
      freePage(arena)
      arena = grown
    }
    Platform.putInt(arena.getBaseObject, arena.getBaseOffset + at, len)
    Platform.copyMemory(base, offset, arena.getBaseObject, arena.getBaseOffset + at + 4, len)
    arenaEnd = end.toInt
    at
  }

  private def grow(): Unit = {
    val (oldSlots, oldCounts) = (slots, counts)
    slots = emptySlots(oldSlots.size * 2)
    counts = allocateArray(slots.size)
    mask = slots.size.toInt - 1
    var j = 0
    while (j < oldSlots.size) {
      val slot = oldSlots.get(j)
      if (slot != Empty) {
        var i = (slot >>> 32).toInt & mask
        while (slots.get(i) != Empty) i = (i + 1) & mask
        slots.set(i, slot)
        counts.set(i, oldCounts.get(j))
      }
      j += 1
    }
    freeArray(oldSlots)
    freeArray(oldCounts)
  }

  private def emptySlots(n: Long): LongArray = {
    val a = allocateArray(n)
    a.zeroOut()
    a
  }

  /** The partials as `(token, count)` rows, one reused `UnsafeRow`; the
    * table is empty once the last row has been read. */
  private def drain(): Iterator[InternalRow] = new Iterator[InternalRow] {
    private val writer = new UnsafeRowWriter(2, 64)
    private var i = 0
    private var left = keys

    def hasNext: Boolean = left > 0

    def next(): InternalRow = {
      if (left == 0) throw new NoSuchElementException
      while (slots.get(i) == Empty) i += 1
      val at = arena.getBaseOffset + (slots.get(i) & 0xffffffffL)
      writer.reset()
      writer.zeroOutNullBytes()
      writer.write(0, UTF8String.fromAddress(arena.getBaseObject, at + 4,
        Platform.getInt(arena.getBaseObject, at)))
      writer.write(1, counts.get(i))
      i += 1
      left -= 1
      if (left == 0) {
        slots.zeroOut()
        keys = 0
        arenaEnd = ArenaStart
      }
      writer.getRow
    }
  }

  override def spill(size: Long, trigger: MemoryConsumer): Long = 0L

  /** Gives the table's memory back; idempotent. */
  private def free(): Unit = if (arena != null) {
    freeArray(slots)
    freeArray(counts)
    freePage(arena)
    arena = null
  }
}

object TokenCounts {
  /** Keys a task holds before it flushes: more than the whole `wc_zipf`
    * corpus's 192 k distinct words, so no flush fires there. A full table
    * holds 16 MiB of slots and counts plus at most [[MaxArenaBytes]]. */
  val DefaultCap: Int = 1 << 19
  private val MaxArenaBytes = 1 << 25
  private val InitialSlots = 1 << 12
  private val InitialArena = 1 << 16
  // a slot is `hash << 32 | offset`, and no key starts at offset 0, so an
  // empty (zeroed) slot is 0
  private val Empty = 0L
  private val ArenaStart = 8
  private val Seed = 42

  /** The `(token, count)` partials of `texts`, flushed whenever the table
    * is full; a null text has no tokens. The table's memory comes from
    * `memory` and goes back when the last partial has been read, or when
    * the running task ends. */
  def partials(texts: Iterator[UTF8String], table: Array[Boolean], useICU: Boolean,
               memory: TaskMemoryManager, cap: Int = DefaultCap): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val counts = new TokenCounts(memory, table, useICU, cap)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => counts.free()))
      private var out: Iterator[InternalRow] = Iterator.empty

      def hasNext: Boolean = out.hasNext || {
        while (!counts.full && texts.hasNext) {
          val s = texts.next()
          if (s != null) counts.add(s)
        }
        out = counts.drain()
        out.hasNext || { counts.free(); false }
      }

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        out.next()
      }
    }
}

/** The partial side of a word count as one operator: per task, the rows'
  * text goes through the `lower_tokens` kernel straight into a
  * [[TokenCounts]] table, and the operator emits what the partial
  * `HashAggregate` of `count` would: one `(word, partial count)` row per
  * distinct token, in its output attributes. No row per token is built.
  * A null text row has no tokens.
  */
case class TokenCountExec(tokens: LowerTokens, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val text = BindReferences.bindReference(tokens.child, child.output)
    val (table, useICU) = (tokens.table, tokens.useICU)
    child.execute().mapPartitions { rows =>
      val texts = rows.map(r => text.eval(r).asInstanceOf[UTF8String])
      TokenCounts.partials(texts, table, useICU, org.apache.spark.graft.TaskMemory.manager)
        .map { r => numOutputRows += 1; r }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountExec =
    copy(child = newChild)
}

/** Plans `Aggregate([w], [count]) ← Generate(explode(lower_tokens(t, d)) AS w)`
  * as `HashAggregate(final) ← Exchange ← TokenCountExec ← <child of the
  * Generate>`. It fires only on that shape: one grouping key that is the
  * exploded token, one `count(1)`, `count(*)` or `count(w)` (equal, as no
  * token is null), an inner `explode`, and a batch plan. A streaming
  * aggregate keeps Spark's plan, which owns its state store.
  */
object TokenCountStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // the generator test first: every aggregate of every query comes here
    case a: Aggregate if !a.isStreaming && a.groupingExpressions.size == 1 =>
      tokenSource(a.child).toSeq.flatMap { case (word, tokens, source) =>
        plan match {
          case PhysicalAggregation(Seq(key: Attribute), aggs @ Seq(agg), results, _)
              if key.semanticEquals(word) && countsRows(agg, key) =>
            AggUtils.planAggregateWithoutDistinct(Seq(key), aggs, results, planLater(source))
              .map(_.transformDown {
                case partial: HashAggregateExec
                    if partial.aggregateExpressions.forall(_.mode == Partial) =>
                  val fused = TokenCountExec(tokens, partial.output, partial.child)
                  fused.setLogicalLink(plan)
                  fused
              })
              .filter(_.exists(_.isInstanceOf[TokenCountExec]))
          case _ => Nil
        }
      }
    case _ => Nil
  }

  private def countsRows(agg: AggregateExpression, key: Attribute): Boolean = agg match {
    case AggregateExpression(Count(Seq(c)), Complete, false, None, _) =>
      (c.foldable && c.eval() != null) || c.semanticEquals(key)
    case _ => false
  }

  /** The exploded token, the `lower_tokens` call that makes it, and the
    * plan under its generator. */
  private def tokenSource(plan: LogicalPlan): Option[(Attribute, LowerTokens, LogicalPlan)] =
    plan match {
      case Project(Seq(a: Attribute), child) => tokenSource(child).filter(_._1.semanticEquals(a))
      case Generate(Explode(tokens: LowerTokens), _, false, _, Seq(word), child)
          if tokens.child.deterministic => Some((word, tokens, child))
      case _ => None
    }
}
