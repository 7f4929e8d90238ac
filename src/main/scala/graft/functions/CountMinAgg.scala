package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Per-group Count-Min frequency sketch as a native Catalyst aggregate
  * (Cormode & Muthukrishnan 2005): a depth × width counter matrix where
  * every item increments one counter per row (bucket = a pairwise-
  * independent hash of the item), and a point query reads the MINIMUM of
  * its d counters — an overestimate by at most εN with probability 1-δ
  * (ε = e/width, δ = e^-depth), never an underestimate.
  *
  * Why a TypedImperativeAggregate: the sketch is the bounded-state
  * frequency complement of [[KmvSketchAgg]] — one flat `long[depth*width]`
  * buffer per (partition, group) regardless of key cardinality, and the
  * shuffle carries exactly that array per partial. The plain
  * `groupBy(key).count()` alternative shuffles a hash-map entry per
  * DISTINCT key per partition — unbounded on heavy-cardinality columns —
  * and can only answer queries over keys it chose to keep. Counter
  * addition is associative/commutative, so retries and AQE re-plans
  * cannot change the result.
  *
  * Engine parity: buckets derive from the engine-portable md5-prefix hash
  * ([[TextFunctions.portableHash32]]) through pure 63-bit-safe integer
  * arithmetic — `((A(r) * (h mod P) + B(r)) mod P) mod width` with
  * P = 2^31-1 — so DuckDB re-derives EVERY counter and every point
  * estimate bit-identically (the same exact-oracle property as the KMV
  * sketch; Spark's own `count_min_sketch` uses Murmur3 and can't be
  * cross-checked that way).
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
) extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = CountMinAgg.resultType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_sketch expects a BIGINT hash input, got ${child.dataType.sql}")
    else if (depth < 1 || depth > CountMinAgg.MaxDepth)
      TypeCheckResult.TypeCheckFailure(
        s"cms_sketch: depth must be in [1, ${CountMinAgg.MaxDepth}], got $depth")
    else if (width < 1)
      TypeCheckResult.TypeCheckFailure(s"cms_sketch: width must be >= 1, got $width")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var r = 0
      while (r < depth) {
        buf(r * width + CountMinAgg.bucket(h, r, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    // every row sums to the total update count; row 0 is as good as any
    var total = 0L
    var i = 0
    while (i < width) { total += buf(i); i += 1 }
    InternalRow(total, new GenericArrayData(buf.map(java.lang.Long.valueOf)))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buf.length)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "cms_sketch"
}

object CountMinAgg {
  val MaxDepth = 8

  /** Mersenne prime 2^31 - 1: `A(r)*hp + B(r)` stays under 2^62. */
  val P = 2147483647L

  /** Per-row pairwise-independent hash constants (arbitrary fixed primes;
    * row 0 is the identity `h mod P mod width`). Shared verbatim by the
    * JVM update loop, the [[bucketCol]] column mirror, and every SQL
    * oracle — change one and you must change all three. */
  val A: Array[Long] = Array(1L, 1777L, 7919L, 104729L, 50021L, 611953L, 999983L, 3571L)
  val B: Array[Long] = Array(0L, 97L, 1009L, 30011L, 74747L, 1299709L, 15485863L, 514229L)

  def bucket(h: Long, r: Int, width: Int): Int =
    (Math.floorMod(A(r) * Math.floorMod(h, P) + B(r), P) % width).toInt

  /** The same bucket computation as a codegen-friendly Column over a
    * BIGINT hash column (for point queries against an evaluated sketch). */
  def bucketCol(h: Column, r: Int, width: Int): Column = {
    import org.apache.spark.sql.functions._
    pmod(lit(A(r)) * pmod(h, lit(P)) + lit(B(r)), lit(P)) % lit(width.toLong)
  }

  val resultType: StructType = StructType(Seq(
    StructField("total", LongType, nullable = false),
    StructField("counters", ArrayType(LongType, containsNull = false), nullable = false)))

  private[functions] val Name = "cms_sketch"

  /** Aggregate Column: per-group (total, counters[depth*width]) from a
    * BIGINT hash column (use [[TextFunctions.portableHash32]]). */
  def cmsSketch(spark: SparkSession, hash: Column, depth: Int, width: Int): Column = {
    GraftFunctions.ensureRegistered(spark)
    call_function(Name, hash,
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))
  }
}
