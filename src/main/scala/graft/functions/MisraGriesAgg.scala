package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream,
  DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary as a TypedImperativeAggregate: a
  * bounded-memory (≤ `capacity` entries) candidate pass over a string
  * column, evaluating to the sorted candidate set.
  *
  * Guarantee (Misra & Gries 1982; merge per Agarwal et al., "Mergeable
  * Summaries", PODS'12): every item whose true frequency exceeds
  * n/(capacity+1) survives in the summary, and the property is
  * preserved under the pairwise merge below — so Spark's partial
  * aggregation (map-side summaries, one ≤capacity-entry row per
  * partition shuffled, merged at the final stage) yields a SUPERSET of
  * the true heavy hitters at any data scale. An exact counting pass
  * restricted to the candidates (a broadcast semi-join — candidate
  * cardinality is bounded by construction) then turns the sketch into
  * EXACT top-k: the scale win is that the first pass shuffles
  * `partitions × capacity` rows instead of one row per distinct item
  * (vocabulary-sized — unbounded in a web corpus).
  *
  * Per-row update is O(1) amortized (hash probe; the rare decrement
  * sweep is O(capacity) and can run at most once per capacity inserts).
  * Partial states serialize as length-prefixed (item, count) pairs.
  */
case class MisraGriesAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[String, Long]]
  with UnaryLike[Expression] {

  require(capacity > 0, s"capacity must be positive, got $capacity")

  /** SQL-registered — non-string input must fail at analysis, not
    * ClassCastException mid-task (AbstractDataType is private[sql] in
    * Spark 4, so the check is spelled out).
    */
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_mg_candidates"

  override def createAggregationBuffer(): java.util.HashMap[String, Long] =
    new java.util.HashMap[String, Long]()

  override def update(buf: java.util.HashMap[String, Long],
      input: InternalRow): java.util.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v == null) return buf
    // UTF8String buffers may be reused by the row reader — materialize
    val item = v.asInstanceOf[UTF8String].toString
    val cur = buf.get(item)
    if (cur != 0L || buf.containsKey(item)) buf.put(item, cur + 1L)
    else if (buf.size < capacity) buf.put(item, 1L)
    else {
      // classic MG step: no slot free — decrement every counter,
      // dropping zeros (this row's item is "absorbed" uncounted)
      val it = buf.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= 1L) it.remove() else e.setValue(e.getValue - 1L)
      }
    }
    buf
  }

  override def merge(a: java.util.HashMap[String, Long],
      b: java.util.HashMap[String, Long]): java.util.HashMap[String, Long] = {
    val bi = b.entrySet().iterator()
    while (bi.hasNext) {
      val e = bi.next()
      val cur = a.get(e.getKey)
      a.put(e.getKey, cur + e.getValue)
    }
    if (a.size > capacity) {
      // subtract the (capacity+1)-th largest count from everything and
      // drop non-positives — the mergeable-summaries reduction that
      // keeps ≤ capacity entries while preserving the MG error bound
      val counts = new Array[Long](a.size)
      var i = 0
      val vi = a.values().iterator()
      while (vi.hasNext) { counts(i) = vi.next(); i += 1 }
      java.util.Arrays.sort(counts)
      val threshold = counts(a.size - capacity - 1)
      val it = a.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= threshold) it.remove()
        else e.setValue(e.getValue - threshold)
      }
    }
    a
  }

  override def eval(buf: java.util.HashMap[String, Long]): Any = {
    val items = new Array[String](buf.size)
    buf.keySet().toArray[String](items)
    java.util.Arrays.sort(items.asInstanceOf[Array[Object]])
    new GenericArrayData(items.map(UTF8String.fromString(_)))
  }

  override def serialize(buf: java.util.HashMap[String, Long]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey)
      out.writeLong(e.getValue)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(b: Array[Byte]): java.util.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(b))
    val n = in.readInt()
    val buf = new java.util.HashMap[String, Long](n * 2)
    var i = 0
    while (i < n) { buf.put(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): MisraGriesAgg =
    copy(child = newChild)
}

object MisraGriesAgg {

  /** SQL shape: `graft_mg_candidates(item, capacity_literal)`. */
  val Name = "graft_mg_candidates"

  /** Column form for `agg(...)`: the sorted candidate items (a superset
    * of every item with frequency > n/(capacity+1)).
    */
  def mgCandidates(spark: SparkSession, c: Column, capacity: Int): Column =
    call_function(Name, c, org.apache.spark.sql.functions.lit(capacity))
}
