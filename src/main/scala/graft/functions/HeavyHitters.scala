package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving buffer: at most k (item -> (count, err)) counters. A new
  * item beyond capacity EVICTS the minimum counter and inherits its count
  * (the classic Metwally et al. scheme), so for every tracked item
  * `true_freq <= count <= true_freq + err` with `err <= n/k`. */
final class SpaceSavingBuffer(val k: Int) {
  // item -> (count, overestimation error at adoption time)
  val counters = scala.collection.mutable.Map.empty[String, (Long, Long)]
  var n: Long = 0L

  private def minEntry: (String, (Long, Long)) = counters.minBy { case (item, (c, _)) => (c, item) }

  def insert(item: String, weight: Long = 1L): Unit = {
    n += weight
    counters.get(item) match {
      case Some((c, e)) => counters(item) = (c + weight, e)
      case None if counters.size < k => counters(item) = (weight, 0L)
      case None =>
        val (evicted, (minC, _)) = minEntry
        counters.remove(evicted)
        counters(item) = (minC + weight, minC)
    }
  }

  /** Counter-wise merge (Agarwal et al., "Mergeable Summaries"): sum
    * matching counters, offset absent ones by the other side's min, then
    * prune back to k — the error bound n/k is preserved. */
  def mergeIn(other: SpaceSavingBuffer): Unit = {
    if (other.counters.isEmpty) { n += other.n; return }
    // a side that never filled its k counters tracked EVERYTHING it saw,
    // so absent items are truly absent there (offset 0)
    val thisMin = if (counters.size < k) 0L
      else counters.values.map(_._1).min
    val otherMin = if (other.counters.size < other.k) 0L
      else other.counters.values.map(_._1).min
    val merged = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val keys = counters.keySet ++ other.counters.keySet
    keys.foreach { item =>
      (counters.get(item), other.counters.get(item)) match {
        case (Some((c1, e1)), Some((c2, e2))) => merged(item) = (c1 + c2, e1 + e2)
        case (Some((c1, e1)), None) => merged(item) = (c1 + otherMin, e1 + otherMin)
        case (None, Some((c2, e2))) => merged(item) = (c2 + thisMin, e2 + thisMin)
        case _ => ()
      }
    }
    counters.clear()
    merged.toSeq.sortBy { case (item, (c, _)) => (-c, item) }.take(k)
      .foreach { case (item, ce) => counters(item) = ce }
    n += other.n
  }
}

/** `space_saving(item, k)`: approximate heavy hitters per group as
  * array<struct(item, count_est, max_err)> ordered by descending count —
  * every item with true frequency > n/k is guaranteed present, and each
  * estimate overcounts by at most `max_err` (bounded by n/k).
  *
  * The sketch-tier answer to "top terms over 100 TB": fixed k counters per
  * partition, counter-wise mergeable partials (the Mergeable Summaries
  * construction), no per-item shuffle. Unlike the exact `term_stats`
  * aggregate the output is approximate and arrival-order-dependent, so it
  * is test-gated by its guarantees (capture + error bound) rather than a
  * row-identical oracle.
  */
case class SpaceSaving(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SpaceSavingBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType),
    StructField("count_est", LongType, nullable = false),
    StructField("max_err", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (k < 1)
      TypeCheckResult.TypeCheckFailure(s"space_saving requires k >= 1, got $k")
    else child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"space_saving requires a string item, got $other")
    }

  override def createAggregationBuffer(): SpaceSavingBuffer = new SpaceSavingBuffer(k)

  override def update(buffer: SpaceSavingBuffer, input: InternalRow): SpaceSavingBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: SpaceSavingBuffer, input: SpaceSavingBuffer): SpaceSavingBuffer = {
    buffer.mergeIn(input)
    buffer
  }

  override def eval(buffer: SpaceSavingBuffer): Any = {
    val rows: Array[Any] = buffer.counters.toSeq
      .sortBy { case (item, (c, _)) => (-c, item) }
      .map { case (item, (c, e)) =>
        InternalRow(UTF8String.fromString(item), c, e): Any
      }.toArray
    new GenericArrayData(rows)
  }

  override def serialize(buffer: SpaceSavingBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.k)
    out.writeLong(buffer.n)
    out.writeInt(buffer.counters.size)
    buffer.counters.foreach { case (item, (c, e)) =>
      // length-prefixed UTF-8, not writeUTF: tracked items are arbitrary
      // corpus text and writeUTF throws past 65535 encoded bytes
      val b = item.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b)
      out.writeLong(c); out.writeLong(e)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SpaceSavingBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new SpaceSavingBuffer(in.readInt())
    buf.n = in.readLong()
    val m = in.readInt()
    var i = 0
    while (i < m) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      val item = new String(b, java.nio.charset.StandardCharsets.UTF_8)
      val c = in.readLong(); val e = in.readLong()
      buf.counters(item) = (c, e)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SpaceSaving =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SpaceSaving =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SpaceSaving =
    copy(child = newChildren(0))

  override def prettyName: String = "space_saving"
}

object SpaceSaving {
  import org.apache.spark.sql.graft.bridge

  def space_saving(item: Column, k: Int): Column =
    bridge.column(SpaceSaving(bridge.expression(item), k).toAggregateExpression())
}
