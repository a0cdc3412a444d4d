/*
 * Bounded top-k aggregate for kNN ranking — the map-side-combine shape the
 * window form cannot have. `row_number() OVER (PARTITION BY probe ORDER BY
 * d2)` must shuffle and sort EVERY candidate row; this TypedImperativeAggregate
 * keeps a k-bounded buffer per probe on the map side, so only k-entry buffers
 * cross the wire (candidate-count-independent shuffle volume). At 10^9+
 * candidates per round the full sort is the bottleneck; the bounded buffer is
 * the standard distributed top-k (what takeOrdered does for RDDs, expressed
 * as a Catalyst aggregate so it composes with DataFrame groupBy).
 */
package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable k-bounded candidate set ordered by (d2 asc, id asc). Kept as a
  * simple sorted array — k is small (single digits in kNN practice), so
  * insertion beats heap constants and serialization is trivial. */
final class TopKBuffer(val k: Int) extends Serializable {
  var n: Int = 0
  val d2s: Array[Double] = new Array[Double](k)
  val ids: Array[UTF8String] = new Array[UTF8String](k)

  // Spark's SQL double ordering (SQLOrderingUtil.compareDoubles): == first
  // so -0.0 ties 0.0 (tie-break falls to id ASC, like the window's ORDER
  // BY), then Double.compare so NaN orders greater-than-all instead of
  // poisoning the sorted buffer (raw </== leave NaN un-orderable: it would
  // neither shift nor be evicted)
  private def beats(d: Double, id: UTF8String, i: Int): Boolean = {
    val c = if (d == d2s(i)) 0 else java.lang.Double.compare(d, d2s(i))
    c < 0 || (c == 0 && id.compareTo(ids(i)) < 0)
  }

  def insert(d: Double, id0: UTF8String): Unit = {
    if (n == k && !beats(d, id0, k - 1)) return
    // clone ONLY when the entry is kept: an UnsafeRow-backed UTF8String
    // points into the iterator's reused row buffer — storing the reference
    // would let the next input row overwrite it
    val id = id0.clone()
    var i = if (n < k) n else k - 1 // position to write, shifting right
    while (i > 0 && beats(d, id, i - 1)) {
      d2s(i) = d2s(i - 1); ids(i) = ids(i - 1); i -= 1
    }
    d2s(i) = d; ids(i) = id
    if (n < k) n += 1
  }

  def mergeFrom(o: TopKBuffer): Unit = {
    var i = 0
    while (i < o.n) { insert(o.d2s(i), o.ids(i)); i += 1 }
  }
}

/**
 * knn_topk(d2, id, k) → array<struct<target_id: string, d2: double, rnk: int>>
 * sorted by (d2, id) with 1-based rnk — exactly the rows
 * `row_number() OVER (PARTITION BY … ORDER BY d2, id) <= k` would keep.
 */
@ExpressionDescription(usage = "knn_topk(d2, id, k) - bounded top-k by (d2, id) with map-side combine")
case class KnnTopKAgg(
    d2Child: Expression, idChild: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[TopKBuffer]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k >= 1, s"knn_topk: k must be >= 1, got $k")

  // declared input types → wrong column types fail at analysis (or cast),
  // not as per-task ClassCastExceptions inside the aggregate
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType, StringType)
  override def children: Seq[Expression] = Seq(d2Child, idChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(new StructType()
    .add("target_id", StringType).add("d2", DoubleType).add("rnk", IntegerType),
    containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = d2Child.eval(input)
    val id = idChild.eval(input)
    if (d != null && id != null)
      b.insert(d.asInstanceOf[Double], id.asInstanceOf[UTF8String])
    b
  }

  override def merge(b: TopKBuffer, o: TopKBuffer): TopKBuffer = { b.mergeFrom(o); b }

  override def eval(b: TopKBuffer): Any = {
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      rows(i) = InternalRow(b.ids(i), b.d2s(i), i + 1)
      i += 1
    }
    new GenericArrayData(rows)
  }

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.n)
    var i = 0
    while (i < b.n) {
      out.writeDouble(b.d2s(i))
      val bytes = b.ids(i).getBytes
      out.writeInt(bytes.length); out.write(bytes)
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopKBuffer(k)
    val n = in.readInt()
    var i = 0
    while (i < n) {
      val d = in.readDouble()
      val len = in.readInt()
      val arr = new Array[Byte](len); in.readFully(arr)
      // entries arrive already sorted — insert keeps the invariant
      b.insert(d, UTF8String.fromBytes(arr))
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): KnnTopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KnnTopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KnnTopKAgg =
    copy(d2Child = c(0), idChild = c(1))
  override def prettyName: String = "knn_topk"
}

object KnnTopKAgg {
  /** SQL builder: knn_topk(d2, id, k) with k a foldable int literal. */
  def fromSql(es: Seq[Expression]): Expression = {
    require(es.length == 3, "knn_topk(d2, id, k) takes 3 arguments")
    val k = es(2) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"knn_topk: k must be an integer literal, got $other")
    }
    KnnTopKAgg(es(0), es(1), k).toAggregateExpression()
  }
}

/** Mutable k-bounded ascending set of longs — same shape as [[TopKBuffer]]
  * with the ordering key as the payload. */
final class LongTopKBuffer(val k: Int) {
  var n: Int = 0
  val vs: Array[Long] = new Array[Long](k)

  def insert(v: Long): Unit = {
    if (n == k && v >= vs(k - 1)) return
    var i = if (n < k) n else k - 1
    while (i > 0 && v < vs(i - 1)) { vs(i) = vs(i - 1); i -= 1 }
    vs(i) = v
    if (n < k) n += 1
  }

  def mergeFrom(o: LongTopKBuffer): Unit = {
    var i = 0
    while (i < o.n) { insert(o.vs(i)); i += 1 }
  }
}

/**
 * long_topk(v, k) → array<struct<v: bigint, rn: int>> — the k SMALLEST
 * values in ascending order with 1-based rank: exactly the rows
 * `row_number() OVER (PARTITION BY … ORDER BY v) <= k` keeps, but with a
 * k-bounded buffer and map-side combine instead of a full shuffle+sort of
 * every candidate row ("top-k per tile" must be candidate-count-independent
 * at 10^12 rows; the window form is the oracle twin).
 */
@ExpressionDescription(usage = "long_topk(v, k) - bounded ascending top-k with map-side combine")
case class LongTopKAgg(
    child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[LongTopKBuffer]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k >= 1, s"long_topk: k must be >= 1, got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(new StructType()
    .add("v", LongType).add("rn", IntegerType), containsNull = false)

  override def createAggregationBuffer(): LongTopKBuffer = new LongTopKBuffer(k)

  override def update(b: LongTopKBuffer, input: InternalRow): LongTopKBuffer = {
    val v = child.eval(input)
    if (v != null) b.insert(v.asInstanceOf[Long])
    b
  }

  override def merge(b: LongTopKBuffer, o: LongTopKBuffer): LongTopKBuffer = {
    b.mergeFrom(o); b
  }

  override def eval(b: LongTopKBuffer): Any = {
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) { rows(i) = InternalRow(b.vs(i), i + 1); i += 1 }
    new GenericArrayData(rows)
  }

  override def serialize(b: LongTopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.n)
    var i = 0
    while (i < b.n) { out.writeLong(b.vs(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): LongTopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new LongTopKBuffer(k)
    val n = in.readInt()
    var i = 0
    while (i < n) { b.insert(in.readLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): LongTopKAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): LongTopKAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): LongTopKAgg =
    copy(child = c(0))
  override def prettyName: String = "long_topk"
}

object LongTopKAgg {
  /** SQL builder: long_topk(v, k) with k a foldable int literal. */
  def fromSql(es: Seq[Expression]): Expression = {
    require(es.length == 2, "long_topk(v, k) takes 2 arguments")
    val k = es(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"long_topk: k must be an integer literal, got $other")
    }
    LongTopKAgg(es(0), k).toAggregateExpression()
  }
}

/** Mutable k-bounded set ordered by (score DESC, key ASC under `keyOrd`),
  * with an optional opaque payload rider per entry. Same sorted-array shape
  * as [[TopKBuffer]]; keys are typed catalyst values compared with their
  * type's native ordering (a bigint key ties-break NUMERICALLY — an implicit
  * cast to string would silently flip e.g. 2 vs 10). */
final class TopKByBuffer(val k: Int, val keyOrd: Ordering[Any]) {
  var n: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val keys: Array[Any] = new Array[Any](k)
  val payloads: Array[Any] = new Array[Any](k)

  // Spark's SQL double ordering (SQLOrderingUtil.compareDoubles): the == test
  // first makes -0.0 tie 0.0 (tie-break falls to the key, like the window's
  // ORDER BY), then Double.compare ranks NaN above every double — raw >/==
  // left NaN un-orderable (it could neither displace nor be displaced;
  // quantile grids and idw can emit NaN scores)
  private def beats(s: Double, key: Any, i: Int): Boolean = {
    val c = if (s == scores(i)) 0 else java.lang.Double.compare(s, scores(i))
    c > 0 || (c == 0 && keyOrd.compare(key, keys(i)) < 0)
  }

  /** Losing rows are the overwhelming majority at scale — callers check this
    * BEFORE copying the key/payload values, so losers cost zero allocation.
    * `key` may alias a reused row buffer (comparison only, no retention). */
  def wouldAccept(s: Double, key: Any): Boolean =
    n < k || beats(s, key, k - 1)

  /** `key` and `payload` must already be owned (copied) catalyst values. */
  def insert(s: Double, key: Any, payload: Any): Unit = {
    if (n == k && !beats(s, key, k - 1)) return
    var i = if (n < k) n else k - 1
    while (i > 0 && beats(s, key, i - 1)) {
      scores(i) = scores(i - 1); keys(i) = keys(i - 1); payloads(i) = payloads(i - 1)
      i -= 1
    }
    scores(i) = s; keys(i) = key; payloads(i) = payload
    if (n < k) n += 1
  }

  def mergeFrom(o: TopKByBuffer): Unit = {
    var i = 0
    while (i < o.n) { insert(o.scores(i), o.keys(i), o.payloads(i)); i += 1 }
  }
}

/**
 * topk_by(score, key, k) / topk_by(score, key, payload, k) — the k entries a
 * `row_number() OVER (PARTITION BY … ORDER BY score DESC, key ASC) <= k`
 * window would keep, as a k-bounded map-side-combining aggregate: only
 * k-entry buffers cross the shuffle, so the shuffle volume is
 * candidate-count-independent (the window form shuffles AND sorts every
 * candidate row per group — the exact shape q13 eliminated with long_topk;
 * this is its (score, key[, payload]) generalization). The key keeps its
 * INPUT type (any orderable atomic type) and ties break with that type's
 * own ordering, exactly like the window's ORDER BY — no implicit
 * cast-to-string (which would both change the output schema and flip
 * numeric tie-breaks lexicographically). Result:
 * array<struct<key, score: double[, payload], rnk: int>> in rank order.
 * `payload` is an arbitrary column (e.g. a struct of extra fields) carried
 * alongside each kept entry, so callers don't need a join-back against the
 * full candidate table to recover them.
 */
@ExpressionDescription(usage =
  "topk_by(score, key[, payload], k) - bounded top-k by (score desc, key asc) with map-side combine")
case class TopKByAgg(
    scoreChild: Expression, keyChild: Expression,
    payloadChild: Option[Expression], k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TypedImperativeAggregate[TopKByBuffer]
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  require(k >= 1, s"topk_by: k must be >= 1, got $k")

  private def keyType: DataType = keyChild.dataType
  private def entryTypes: Array[DataType] =
    Array(keyType) ++ payloadChild.map(_.dataType)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, AnyDataType) ++ payloadChild.map(_ => AnyDataType)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else org.apache.spark.sql.catalyst.util.TypeUtils
      .checkForOrderingExpr(keyType, prettyName)
  }
  override def children: Seq[Expression] = Seq(scoreChild, keyChild) ++ payloadChild
  override def nullable: Boolean = false
  override def dataType: DataType = {
    val base = new StructType().add("key", keyType).add("score", DoubleType)
    val withPayload = payloadChild match {
      case Some(p) => base.add("payload", p.dataType, p.nullable)
      case None => base
    }
    ArrayType(withPayload.add("rnk", IntegerType), containsNull = false)
  }

  @transient private lazy val keyOrdering: Ordering[Any] =
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(keyType)

  override def createAggregationBuffer(): TopKByBuffer = new TopKByBuffer(k, keyOrdering)

  override def update(b: TopKByBuffer, input: InternalRow): TopKByBuffer = {
    val s = scoreChild.eval(input)
    val key = keyChild.eval(input)
    if (s != null && key != null) {
      val sd = s.asInstanceOf[Double]
      if (b.wouldAccept(sd, key)) {
        // key/payload values can alias reused row buffers (UTF8String/
        // InternalRow backed by the scan's UnsafeRow) — copyValue makes the
        // buffer own them; done ONLY for accepted rows (losers dominate)
        val p = payloadChild match {
          case Some(pc) => InternalRow.copyValue(pc.eval(input))
          case None => null
        }
        b.insert(sd, InternalRow.copyValue(key), p)
      }
    }
    b
  }

  override def merge(b: TopKByBuffer, o: TopKByBuffer): TopKByBuffer = { b.mergeFrom(o); b }

  override def eval(b: TopKByBuffer): Any = {
    val hasPayload = payloadChild.isDefined
    val rows = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      rows(i) =
        if (hasPayload) InternalRow(b.keys(i), b.scores(i), b.payloads(i), i + 1)
        else InternalRow(b.keys(i), b.scores(i), i + 1)
      i += 1
    }
    new GenericArrayData(rows)
  }

  // (key, payload) serialization rides ONE UnsafeProjection over their actual
  // dataTypes — works for any Spark SQL type without a custom codec
  @transient private lazy val entryProj =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(entryTypes)

  override def serialize(b: TopKByBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.n)
    val fields = entryTypes.length
    val entry = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(fields)
    var i = 0
    while (i < b.n) {
      out.writeDouble(b.scores(i))
      entry.update(0, b.keys(i))
      if (fields > 1) entry.update(1, b.payloads(i))
      val ur = entryProj(entry)
      // write immediately: getBytes may alias the projection's reused buffer
      val eb = ur.getBytes
      out.writeInt(eb.length); out.write(eb)
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TopKByBuffer(k, keyOrdering)
    val n = in.readInt()
    val fields = entryTypes.length
    var i = 0
    while (i < n) {
      val s = in.readDouble()
      val elen = in.readInt()
      val eb = new Array[Byte](elen); in.readFully(eb)
      val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(fields)
      row.pointTo(eb, elen)
      val key = InternalRow.copyValue(row.get(0, keyType))
      val p =
        if (fields > 1) InternalRow.copyValue(row.get(1, payloadChild.get.dataType))
        else null
      b.insert(s, key, p)
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKByAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKByAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKByAgg =
    copy(scoreChild = c(0), keyChild = c(1),
      payloadChild = if (c.length > 2) Some(c(2)) else None)
  override def prettyName: String = "topk_by"
}

object TopKByAgg {
  /** SQL builder: topk_by(score, key[, payload], k), k a foldable int literal. */
  def fromSql(es: Seq[Expression]): Expression = {
    require(es.length == 3 || es.length == 4,
      "topk_by(score, key[, payload], k) takes 3 or 4 arguments")
    val k = es.last match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"topk_by: k must be an integer literal, got $other")
    }
    val payload = if (es.length == 4) Some(es(2)) else None
    TopKByAgg(es(0), es(1), payload, k).toAggregateExpression()
  }
}
