package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** Distributed Gram matrix (Σ over rows of e·eᵀ, upper triangle) as a
  * TypedImperativeAggregate: the covariance / PCA-whitening pre-step
  * for an embedding corpus, computed in ONE pass with fixed-size state.
  *
  * Scale shape — the whole point: the aggregation state is one Long
  * array of dims·(dims+1)/2 lattice sums plus a row count, so Spark's
  * partial aggregation shuffles exactly ONE ~16 KB state row per map
  * partition REGARDLESS of corpus size — the k-means flat-shuffle
  * story (q120) taken to its limit of zero group keys. The declarative
  * alternative (explode dims²/2 (i, j) products per row, groupBy)
  * reaches the same shuffle bound via partial aggregation but pays a
  * ~2 000× row materialization inside the scan stage; here the row
  * loop is dims·(dims+1)/2 fused multiply-adds on a primitive array.
  *
  * Engine-exactness: each product e(i)·e(j) is exact in double (both
  * factors are floats), and is rounded onto the 1e-12 integer lattice
  * BEFORE summation — integer addition is associative, so the result
  * is bit-identical under any partitioning and matches DuckDB's
  * round()-then-SUM recomputation. Overflow headroom: unit-scale
  * embeddings keep |lattice product| ≲ 2^44, so ~2^18 corpus rows per
  * cell are safe per 2^63 Long — at genuinely adversarial magnitudes
  * the cell belongs on a DECIMAL lattice instead (fail loudly: the
  * update detects overflow via Math.addExact and throws rather than
  * wrapping silently).
  */
case class GramMatrixAgg(
    child: Expression,
    dims: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with UnaryLike[Expression] {

  require(dims > 0 && dims <= 4096, s"dims out of range: $dims")

  private val nCells = dims * (dims + 1) / 2

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> or array<long>, got ${other.sql}")
  }

  // integer-input path: elements are already on an integer lattice
  // (e.g. round(e*1e6) quantized ONCE at the pipeline entry), so each
  // product el_i*el_j is exact Long arithmetic — no double ever touches
  // the state, which is what makes the result cross-engine bit-exact
  // (round-7 structural fix for the q151 family of double-rounding
  // boundary flakes)
  private lazy val longInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private val cellType = StructType(Seq(
    StructField("di", IntegerType, nullable = false),
    StructField("dj", IntegerType, nullable = false),
    StructField("s", LongType, nullable = false)))

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("g", ArrayType(cellType, containsNull = false),
      nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "graft_gram_matrix"

  // state layout: [0, nCells) = lattice sums row-major upper triangle,
  // [nCells] = row count
  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](nCells + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dims)
      throw new IllegalArgumentException(
        s"$prettyName: expected $dims dims, got ${arr.numElements()}")
    var i = 0
    var k = 0
    if (longInput) {
      while (i < dims) {
        val ei = arr.getLong(i)
        var j = i
        while (j < dims) {
          buf(k) = Math.addExact(buf(k),
            Math.multiplyExact(ei, arr.getLong(j)))
          k += 1
          j += 1
        }
        i += 1
      }
    } else {
      while (i < dims) {
        val ei = arr.getDouble(i)
        var j = i
        while (j < dims) {
          // half-AWAY-FROM-ZERO, matching SQL round() in both engines;
          // Math.round is half-toward-+inf and loses one lattice unit on
          // negative products landing exactly on a .5 boundary
          val p = ei * arr.getDouble(j) * 1e12
          buf(k) = Math.addExact(buf(k),
            (if (p >= 0) Math.floor(p + 0.5) else Math.ceil(p - 0.5)).toLong)
          k += 1
          j += 1
        }
        i += 1
      }
    }
    buf(nCells) += 1L
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var k = 0
    while (k <= nCells) { a(k) = Math.addExact(a(k), b(k)); k += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = {
    val cells = new Array[Any](nCells)
    var i = 0
    var k = 0
    while (i < dims) {
      var j = i
      while (j < dims) {
        cells(k) = InternalRow(i, j, buf(k))
        k += 1
        j += 1
      }
      i += 1
    }
    InternalRow(buf(nCells), new GenericArrayData(cells))
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream((nCells + 2) * 8)
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.length)
    var k = 0
    while (k < buf.length) { out.writeLong(buf(k)); k += 1 }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(b: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(b))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var k = 0
    while (k < n) { buf(k) = in.readLong(); k += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): GramMatrixAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): GramMatrixAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): GramMatrixAgg =
    copy(child = newChild)
}

object GramMatrixAgg {

  /** SQL shape: `graft_gram_matrix(vec, dims_literal)`. */
  val Name = "graft_gram_matrix"

  /** Column form for `agg(...)`: struct(n, g = array<struct(di, dj, s)>)
    * with s the 1e-12-lattice sum of Σ e(di)·e(dj).
    */
  def gram(spark: SparkSession, c: Column, dims: Int): Column =
    call_function(Name, c, org.apache.spark.sql.functions.lit(dims))
}
