package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._

/** Bounded top-k per group as a native aggregate: keep the k (ord, id)
  * pairs with the GREATEST ord per group (ord desc, id asc tie-break),
  * evaluated as a k-capped tree per (partition, group) with partial
  * aggregation — only k pairs per (partition, group) cross the shuffle.
  *
  * The window form (`row_number over (partition by g order by v desc)`)
  * sorts EVERY row of every group; at 100 TB "top 3 per key" should move
  * k rows per key, not all of them. This is the aggregate tier of the
  * same pattern as [[KmvSketchAgg]] — associative/commutative merge, so
  * retries and AQE re-plans cannot change results.
  *
  * Typed to the common case: DOUBLE ordering value, BIGINT id payload.
  * Result: array<struct<ord double, id bigint>> sorted ord desc, id asc.
  * Null ord or id rows are skipped (they cannot rank). SET semantics:
  * fully identical (ord, id) duplicate ROWS collapse to one entry —
  * callers wanting row_number-style multiplicity must feed a row-unique
  * id (as every registered query does; an id that is not row-unique
  * makes "top-k rows" ill-defined anyway).
  */
case class TopKByAgg(
    ord: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]] {

  override def children: Seq[Expression] = Seq(ord, id)
  override def nullable: Boolean = false
  override def dataType: DataType = TopKByAgg.resultType

  override def checkInputDataTypes(): TypeCheckResult =
    if (ord.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"topk_ids: ord must be DOUBLE, got ${ord.dataType.sql}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(s"topk_ids: id must be BIGINT, got ${id.dataType.sql}")
    else if (k < 1) TypeCheckResult.TypeCheckFailure(s"topk_ids: k must be >= 1, got $k")
    else TypeCheckResult.TypeCheckSuccess

  // "best" = (ord desc, id asc); ordering the tree by exactly that rank
  // makes the shared keep-k-SMALLEST invariant keep the k best, ascending
  // iteration emit best-first, and the last element be the weakest kept.
  // NaN ords rank first (TotalOrdering reversed), matching Spark's
  // NaN-greatest sort order in the window form.
  private val ordering: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](ordering)

  private def insert(buf: java.util.TreeSet[(Double, Long)], e: (Double, Long)): Unit =
    BoundedSets.keepSmallest(buf, e, k)

  override def update(
      buf: java.util.TreeSet[(Double, Long)], input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val o = ord.eval(input)
    val i = id.eval(input)
    if (o != null && i != null) insert(buf, (o.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(
      buf: java.util.TreeSet[(Double, Long)],
      other: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[(Double, Long)]): Any = {
    // ascending tree order IS (ord desc, id asc) — best first
    val out = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) {
      val (o, d) = it.next()
      out(i) = InternalRow(o, d)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) { val (o, i) = it.next(); bb.putDouble(o); bb.putLong(i) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) { buf.add((bb.getDouble, bb.getLong)); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByAgg =
    copy(ord = newChildren(0), id = newChildren(1))
  override def prettyName: String = "topk_ids"
}

object TopKByAgg {
  val resultType: DataType = ArrayType(StructType(Seq(
    StructField("ord", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  private[functions] val Name = "topk_ids"

  /** Aggregate Column: per-group array of the k greatest (ord, id) pairs
    * (ord desc, id asc ties), only k pairs per (partition, group)
    * crossing the shuffle. */
  def topKIds(spark: SparkSession, ord: Column, id: Column, k: Int): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function(Name, ord, id, lit(k))
  }
}
