package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `ordered_concat(order_key, text, sep)` — a custom
  * [[TypedImperativeAggregate]]: per-group state is a growable buffer of
  * (order_key, text) pairs, serialized compactly for partial-shuffle and for
  * the sort-based fallback (ObjectHashAggregate SPILLS groups by serializing
  * exactly this buffer — the spill-capable alternative SURVEY §4.3 sketches
  * for conversation reassembly).
  *
  * This demonstrates the custom-AGGREGATE tier of the operator preference
  * order (compose > Expression > aggregate > plan rule > mapPartitions); the
  * SHIPPED q29 path remains ExtractPipeline.conversationText, whose per-task
  * state is one StringBuilder regardless of conversation size — this
  * aggregate's state is the whole group, which is exactly the trade-off the
  * two-phase form exists to avoid at 10^12-turn scale. Differentially tested
  * against it (OrderedConcatSpec) on the 20k-turn mega-conversation and
  * oracle-checked as q52 (same DuckDB `string_agg ... ORDER BY` oracle as
  * q29).
  *
  * Semantics: concat of `text` in ascending `order_key` order, `sep` between
  * elements, matching `string_agg(text, sep ORDER BY order_key)` for UNIQUE
  * order keys (ties: stable by arrival, which partial merges make
  * nondeterministic — the extraction pipeline's (conv, turn) keys are
  * unique). Null texts are skipped, like string_agg; null order keys sort
  * first.
  */
case class OrderedConcat(
    orderKey: Expression,
    text: Expression,
    sep: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[OrderedConcat.Buffer] {

  override def children: Seq[Expression] = Seq(orderKey, text, sep)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "ordered_concat"

  override def checkInputDataTypes(): TypeCheckResult =
    if (orderKey.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName order key must be int, got ${orderKey.dataType.catalogString}")
    else if (text.dataType != StringType || sep.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName text and sep must be string")
    else if (!sep.foldable)
      TypeCheckResult.TypeCheckFailure("sep must be a constant")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val sepStr: String = {
    val v = sep.eval(InternalRow.empty)
    if (v == null) "" else v.toString
  }

  override def createAggregationBuffer(): OrderedConcat.Buffer =
    new OrderedConcat.Buffer()

  override def update(buf: OrderedConcat.Buffer, input: InternalRow): OrderedConcat.Buffer = {
    val t = text.eval(input)
    if (t != null) {
      val k = orderKey.eval(input)
      buf.add(if (k == null) Int.MinValue else k.asInstanceOf[Int], t.toString)
    }
    buf
  }

  override def merge(b1: OrderedConcat.Buffer, b2: OrderedConcat.Buffer): OrderedConcat.Buffer = {
    b1.addAll(b2); b1
  }

  override def eval(buf: OrderedConcat.Buffer): Any = {
    if (buf.size == 0) return null
    UTF8String.fromString(buf.sortedConcat(sepStr))
  }

  override def serialize(buffer: OrderedConcat.Buffer): Array[Byte] = buffer.toBytes
  override def deserialize(bytes: Array[Byte]): OrderedConcat.Buffer =
    OrderedConcat.Buffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): OrderedConcat =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OrderedConcat =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): OrderedConcat =
    copy(orderKey = newChildren(0), text = newChildren(1), sep = newChildren(2))
}

object OrderedConcat {

  /** Growable (key, text) buffer with compact binary serialization. */
  final class Buffer {
    var keys: Array[Int] = new Array[Int](8)
    var texts: Array[String] = new Array[String](8)
    var size: Int = 0

    private def ensure(n: Int): Unit =
      if (keys.length < n) {
        val cap = math.max(n, keys.length * 2)
        keys = java.util.Arrays.copyOf(keys, cap)
        texts = java.util.Arrays.copyOf(texts, cap)
      }

    def add(k: Int, t: String): Unit = {
      ensure(size + 1)
      keys(size) = k; texts(size) = t; size += 1
    }

    def addAll(o: Buffer): Unit = {
      ensure(size + o.size)
      System.arraycopy(o.keys, 0, keys, size, o.size)
      System.arraycopy(o.texts, 0, texts, size, o.size)
      size += o.size
    }

    /** Stable sort by key, then join. */
    def sortedConcat(sep: String): String = {
      val idx = Array.range(0, size)
      // boxed sort with a stable comparator (keys may tie across merges)
      val boxed = idx.map(Integer.valueOf)
      java.util.Arrays.sort(boxed, (a: Integer, b: Integer) => {
        val c = java.lang.Integer.compare(keys(a), keys(b))
        if (c != 0) c else java.lang.Integer.compare(a, b)
      })
      var total = if (size > 0) sep.length * (size - 1) else 0
      var i = 0
      while (i < size) { total += texts(i).length; i += 1 }
      val sb = new java.lang.StringBuilder(total)
      i = 0
      while (i < size) {
        if (i > 0) sb.append(sep)
        sb.append(texts(boxed(i)))
        i += 1
      }
      sb.toString
    }

    def toBytes: Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      out.writeInt(size)
      var i = 0
      while (i < size) {
        out.writeInt(keys(i))
        // length-prefixed raw UTF-8 (writeUTF caps at 64 KB per string; a
        // turn's text must not)
        val b = texts(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.writeInt(b.length)
        out.write(b)
        i += 1
      }
      out.flush()
      bos.toByteArray
    }
  }

  object Buffer {
    def fromBytes(bytes: Array[Byte]): Buffer = {
      val in = new DataInputStream(new ByteArrayInputStream(bytes))
      val n = in.readInt()
      val b = new Buffer
      var i = 0
      while (i < n) {
        val k = in.readInt()
        val len = in.readInt()
        val raw = new Array[Byte](len)
        in.readFully(raw)
        b.add(k, new String(raw, java.nio.charset.StandardCharsets.UTF_8))
        i += 1
      }
      b
    }
  }

  /** Column-facing constructor: `orderedConcat(orderKey, text, sep)`. */
  def apply(orderKey: Column, text: Column, sep: String): Column =
    GraftBridge.column(
      OrderedConcat(GraftBridge.expression(orderKey),
        GraftBridge.expression(text),
        org.apache.spark.sql.catalyst.expressions.Literal(
          UTF8String.fromString(sep), StringType))
        .toAggregateExpression())
}
