package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Per-GROUP KMV distinct sketch as a native Catalyst aggregate.
  *
  * [[graft.operators.Sketches.kmvMinHashes]] covers the whole-relation
  * case with mapPartitions, but a per-group sketch can't be expressed
  * that way without first shuffling every raw value: `collect_set` is
  * unbounded per group (a hot group OOMs the buffer), and a window
  * row_number materializes the full distinct set. A
  * TypedImperativeAggregate is the correct tier: each partition keeps a
  * k-capped TreeSet PER GROUP, the shuffle carries at most k longs per
  * (partition, group) in the partial buffers, and merge is the
  * associative/commutative k-min of a union — order-independent, so
  * retries and AQE re-plans can't change the result.
  *
  * Evaluates to a struct (n_kmv, kth_hash, estimate) with the same
  * Beyer-et-al estimator as the relation-level sketch; feed it the
  * engine-portable md5-prefix hash and DuckDB re-derives every field
  * bit-identically (see the `tdp_sketch_by_group` oracle).
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = KmvSketchAgg.resultType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) {
      if (k >= 2) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"kmv_sketch: k must be >= 2, got $k")
    } else TypeCheckResult.TypeCheckFailure(
      s"kmv_sketch expects a BIGINT hash input, got ${child.dataType.sql}")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    BoundedSets.keepSmallest(buf, java.lang.Long.valueOf(h), k)

  override def update(
      buf: java.util.TreeSet[java.lang.Long], input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(
      buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) insert(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val n = buf.size.toLong
    if (n == 0L) InternalRow(0L, null, 0.0)
    else {
      val kth = buf.last().longValue()
      val est = if (n < k) n.toDouble else (k - 1).toDouble * 4294967296.0 / kth.toDouble
      InternalRow(n, kth, est)
    }
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketchAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "kmv_sketch"
}

object KmvSketchAgg {
  val resultType: StructType = StructType(Seq(
    StructField("n_kmv", LongType, nullable = false),
    StructField("kth_hash", LongType, nullable = true),
    StructField("estimate", DoubleType, nullable = false)))

  private[functions] val Name = "kmv_sketch"

  /** Aggregate Column: per-group (n_kmv, kth_hash, estimate) from a
    * BIGINT hash column (use [[TextFunctions.portableHash32]]). */
  def kmvSketch(spark: SparkSession, hash: Column, k: Int): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function(Name, hash, org.apache.spark.sql.functions.lit(k))
  }
}
