package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._

/** Bounded top-k-by-priority ledger as a NATIVE mergeable aggregate —
  * the aggregate form of [[graft.operators.Sampling.prioritySample]]:
  * `topk_priority_agg(id, w, pri, k)` keeps the k rows with the
  * highest (pri, tie: lowest id) per group in a fixed-size buffer.
  *
  * Why an aggregate and not a window: `row_number() OVER (PARTITION BY
  * group ORDER BY pri)` sorts every group's FULL row set; this ledger
  * is a k-bounded buffer that partial aggregation combines map-side,
  * so per-group cost is O(rows·k) worst / O(rows) typical (the
  * full-ledger fast path rejects a below-threshold row on ONE
  * comparison) with O(k) state. Partials merge by ledger merge-sort +
  * cap, an associative commutative law, so the merged ledger is
  * exactly the single-pass answer whatever the partitioning.
  *
  * Determinism: priority is expected to be the deterministic w/u draw
  * (one IEEE double division — see prioritySample's exactness note);
  * the ledger itself only compares (pri DESC, id ASC), a total order,
  * so the kept set is partitioning- and arrival-order-independent.
  * Output is `array<struct<doc_id, w>>` in rank order — the float
  * never leaves the aggregate. */
object TopKPriority {

  val MaxK: Int = 1 << 16

  /** Ledger entry; ordering is (pri DESC, id ASC). */
  final case class Entry(id: Long, w: Long, pri: Double)

  def better(a: Entry, b: Entry): Boolean =
    a.pri > b.pri || (a.pri == b.pri && a.id < b.id)

  /** Insert into a rank-sorted, ≤ k ledger. NaN priorities are skipped
    * outright: NaN is incomparable (every `better` test false), so a
    * NaN entry would insert at the front, break the rank-sorted
    * invariant, and never be evicted — k NaN rows would permanently
    * displace every real candidate. */
  def insert(ledger: Vector[Entry], e: Entry, k: Int): Vector[Entry] = {
    if (e.pri.isNaN) ledger
    else if (ledger.size == k && better(ledger.last, e)) ledger
    else {
      val i = ledger.indexWhere(x => better(e, x)) match {
        case -1 => ledger.size
        case n => n
      }
      val grown = (ledger.take(i) :+ e) ++ ledger.drop(i)
      if (grown.size > k) grown.dropRight(1) else grown
    }
  }

  def mergeLedgers(a: Vector[Entry], b: Vector[Entry], k: Int): Vector[Entry] =
    b.foldLeft(a)((acc, e) => insert(acc, e, k))

  def serialize(ledger: Vector[Entry]): Array[Byte] = {
    val buf = ByteBuffer.allocate(4 + ledger.size * 24)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(ledger.size)
    ledger.foreach { e =>
      buf.putLong(e.id); buf.putLong(e.w); buf.putDouble(e.pri)
    }
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): Vector[Entry] = {
    require(bytes.length >= 4, s"top-k image too short: ${bytes.length}")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = buf.getInt
    require(n >= 0 && bytes.length == 4 + n * 24,
      s"malformed top-k image: n=$n len=${bytes.length}")
    Vector.fill(n)(Entry(buf.getLong, buf.getLong, buf.getDouble))
  }
}

/** `topk_priority_agg(id, w, pri, k)` → `array<struct<doc_id, w>>`,
  * rank-ordered. Rows with a null id or priority are skipped. */
case class TopKPriorityAgg(first: Expression, second: Expression,
    third: Expression, k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Vector[TopKPriority.Entry]]
  with TernaryLike[Expression] {

  require(k >= 1 && k <= TopKPriority.MaxK,
    s"topk_priority_agg k must be in [1, ${TopKPriority.MaxK}], got $k")

  override def createAggregationBuffer(): Vector[TopKPriority.Entry] =
    Vector.empty

  override def update(buf: Vector[TopKPriority.Entry],
                      input: InternalRow): Vector[TopKPriority.Entry] = {
    val id = first.eval(input)
    val w = second.eval(input)
    val pri = third.eval(input)
    if (id == null || pri == null) buf
    else TopKPriority.insert(buf, TopKPriority.Entry(
      id.asInstanceOf[Long],
      if (w == null) 0L else w.asInstanceOf[Long],
      pri.asInstanceOf[Double]), k)
  }

  override def merge(buf: Vector[TopKPriority.Entry],
                     other: Vector[TopKPriority.Entry]): Vector[TopKPriority.Entry] =
    TopKPriority.mergeLedgers(buf, other, k)

  override def eval(buf: Vector[TopKPriority.Entry]): Any =
    new GenericArrayData(buf.map(e =>
      InternalRow(e.id, e.w): Any).toArray)

  override def serialize(buf: Vector[TopKPriority.Entry]): Array[Byte] =
    TopKPriority.serialize(buf)

  override def deserialize(bytes: Array[Byte]): Vector[TopKPriority.Entry] =
    TopKPriority.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): TopKPriorityAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKPriorityAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): TopKPriorityAgg =
    copy(first = f, second = s, third = t)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("w", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "topk_priority_agg"
}

/** DataFrame-facing builder. */
object TopKPriorityFunctions {
  def topk_priority_agg(id: Column, w: Column, pri: Column, k: Int): Column =
    Bridge.column(TopKPriorityAgg(Bridge.expression(id),
      Bridge.expression(w), Bridge.expression(pri), k)
      .toAggregateExpression())
}
