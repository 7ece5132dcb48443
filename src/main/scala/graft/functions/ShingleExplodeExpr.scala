package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst Generator (the Spark UDTF surface): one output row
  * per DISTINCT 3-word shingle of a document, streamed as an iterator.
  *
  * `explode(shingleSet(text))` first materializes the full shingle
  * array per row and then generates from it; this generator yields
  * shingles as they are found, so peak per-row memory is the dedup
  * hash-set alone — on a 100 TB corpus with multi-MB documents the
  * difference is one whole array copy per document in the Generate hot
  * path. Output order and multiplicity are identical to the
  * array-based chain (first-occurrence-ordered distinct; bit-equality
  * asserted in TextSpec).
  *
  * Generators have no expression codegen path (GenerateExec drives the
  * iterator directly), hence CodegenFallback — the cost sits in the
  * same imperative kernel loop as `graft_shingles` either way.
  */
case class ShingleExplodeExpr(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    new StructType().add("shingle", StringType, nullable = false)

  override def prettyName: String = GraftFunctions.ShingleExplodeName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Iterator.empty
    else ExprHelpers.shingleIterator(t.asInstanceOf[UTF8String])
      .map(s => InternalRow(s))
  }
}
