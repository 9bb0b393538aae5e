package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.BigInteger

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Exact streaming moments of a quantized `Array[Long]` vector column —
  * the covariance/whitening front-end of an embedding pipeline: one
  * aggregate pass produces the count, the `dim` first moments Σqᵢ and the
  * `dim·(dim+1)/2` upper-triangular second moments Σqᵢqⱼ, from which
  * covariance / Gram / correlation are driver-trivial (the output is
  * O(dim²), not O(rows)).
  *
  * Why a native `TypedImperativeAggregate` and not an explode: the
  * DataFrame alternative multiplies every row by dim·(dim+1)/2 (×2080 at
  * dim 64) before a groupBy — at 100 TB that explode IS the job. Here
  * each input row costs one tight JVM loop into a per-partition buffer,
  * partials merge pairwise, and only O(dim²) numbers ever shuffle —
  * the classic map-side-combine shape, same discipline as mllib's
  * Gramian but over the engine's exact integer quantization.
  *
  * Exactness at any scale: the hot path accumulates in `Array[Long]`
  * (fast, overflow-free for ≤ `FlushRows` rows given |q| ≤ 2²⁴, i.e.
  * components ≤ ~16.7 after the engine's ×10⁶ quantization) and flushes
  * into `BigInteger` cold sums every `FlushRows` rows, at merge, and at
  * serialize — so partition counts and corpus size never overflow, and
  * the emitted DECIMAL(38,0) sums are exact for any corpus below 10³⁸
  * absolute moment, the same envelope the DuckDB oracle's HUGEINT/DECIMAL
  * arithmetic verifies.
  */
case class VectorMomentsAgg(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorMomentsAgg.Buf] with UnaryLike[Expression] {

  import VectorMomentsAgg._

  private val nPairs = dim * (dim + 1) / 2

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_vector_moments requires array<bigint> input, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("s1", ArrayType(DecimalType(38, 0), containsNull = false), nullable = false),
    StructField("s2", ArrayType(DecimalType(38, 0), containsNull = false), nullable = false)))

  override def nullable: Boolean = false

  override def prettyName: String = "graft_vector_moments"

  override def createAggregationBuffer(): Buf = new Buf(dim, nPairs)

  override def update(b: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v == null) return b
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    require(arr.numElements() == dim,
      s"graft_vector_moments: expected $dim components, got ${arr.numElements()}")
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) { q(i) = arr.getLong(i); i += 1 }
    b.add(q)
    b
  }

  override def merge(b: Buf, o: Buf): Buf = {
    b.flush(); o.flush()
    b.n += o.n
    var i = 0
    while (i < dim) { b.cold1(i) = b.cold1(i).add(o.cold1(i)); i += 1 }
    i = 0
    while (i < nPairs) { b.cold2(i) = b.cold2(i).add(o.cold2(i)); i += 1 }
    b
  }

  override def eval(b: Buf): Any = {
    b.flush()
    def dec(x: BigInteger) = Decimal(BigDecimal(x), 38, 0)
    InternalRow(b.n,
      new GenericArrayData(b.cold1.map(dec)),
      new GenericArrayData(b.cold2.map(dec)))
  }

  override def serialize(b: Buf): Array[Byte] = {
    b.flush()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(b.n)
    def writeBig(x: BigInteger): Unit = {
      val bytes = x.toByteArray
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    b.cold1.foreach(writeBig)
    b.cold2.foreach(writeBig)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new Buf(dim, nPairs)
    b.n = in.readLong()
    def readBig(): BigInteger = {
      val len = in.readInt()
      val arr = new Array[Byte](len)
      in.readFully(arr)
      new BigInteger(arr)
    }
    var i = 0
    while (i < dim) { b.cold1(i) = readBig(); i += 1 }
    i = 0
    while (i < nPairs) { b.cold2(i) = readBig(); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMomentsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMomentsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VectorMomentsAgg =
    copy(child = newChild)
}

object VectorMomentsAgg {
  /** Rows accumulated in the Long hot path before a BigInteger flush.
    * With |q| ≤ 2²⁴ each product is ≤ 2⁴⁸, so 2¹⁴ rows stay ≤ 2⁶² —
    * overflow-free with headroom. */
  private[graft] val FlushRows = 1 << 14

  /** Largest |q| for which the hot sums cannot wrap ([[FlushRows]]). */
  private[graft] val HotBound = 1L << 24

  /** Aggregation buffer: Long hot sums (per-row adds) + BigInteger cold
    * sums (unbounded exact totals). Mutable by design — Spark owns each
    * buffer instance single-threaded, and the driver moments of
    * [[graft.operators.SimilarityOps.topComponent]] fill one the same way. */
  final class Buf(dim: Int, nPairs: Int) {
    var n: Long = 0L
    var hotRows: Long = 0L
    val hot1 = new Array[Long](dim)
    val hot2 = new Array[Long](nPairs)
    val cold1: Array[BigInteger] = Array.fill(dim)(BigInteger.ZERO)
    val cold2: Array[BigInteger] = Array.fill(nPairs)(BigInteger.ZERO)

    /** Count one row `q` of `dim` components into the hot sums. */
    def add(q: Array[Long]): Unit = {
      var p = 0
      var i = 0
      while (i < dim) {
        hot1(i) += q(i)
        var j = i
        while (j < dim) { hot2(p) += q(i) * q(j); p += 1; j += 1 }
        i += 1
      }
      n += 1
      hotRows += 1
      if (hotRows >= FlushRows) flush()
    }

    def flush(): Unit = if (hotRows > 0) {
      var i = 0
      while (i < dim) {
        if (hot1(i) != 0L) { cold1(i) = cold1(i).add(BigInteger.valueOf(hot1(i))); hot1(i) = 0L }
        i += 1
      }
      i = 0
      while (i < nPairs) {
        if (hot2(i) != 0L) { cold2(i) = cold2(i).add(BigInteger.valueOf(hot2(i))); hot2(i) = 0L }
        i += 1
      }
      hotRows = 0L
    }
  }
}
