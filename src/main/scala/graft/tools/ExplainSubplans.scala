// Dev tool (r16): the language-family histogram and the winnow
// fingerprint builders are checkpoint-terminated inside their queries,
// so the final `explain` output hides their subtrees behind an
// ExistingRDD. This prints the subtree plans for BOTH the r15 HOF
// composition and the r16 imperative-expression shape, as the plan
// evidence for plans/r16/ (the shapes are result-identical — the
// oracle and the specs referee that; this shows the operator diff).
package graft.tools

import org.apache.spark.sql.functions._

object ExplainSubplans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.queries.Common.localSession("8")
    val docs = graft.queries.Common.table(spark, sfDir, "documents")
    val P = graft.ops.Hashing.P
    val B = graft.queries.Curation5.NGramB

    println("===== ngram_hist_before (r15 HOF chain) =====")
    docs.filter(expr("char_length(text) >= 3"))
      .select(col("doc_id"), col("lang"),
        expr("transform(sequence(1, char_length(text)), " +
          "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))").as("cs"))
      .select(col("doc_id"), col("lang"),
        explode(expr("transform(sequence(1, size(cs) - 2), " +
          s"i -> ((element_at(cs, i) * 31 + element_at(cs, i + 1)) * 31" +
          s" + element_at(cs, i + 2)) % $P % $B)")).as("b"))
      .groupBy("doc_id", "lang", "b")
      .agg(count(lit(1)).as("nb"))
      .explain("formatted")

    println("===== ngram_hist_after (r16 NGramHistExpr) =====")
    docs.filter(expr("char_length(text) >= 3"))
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.NGramHist(spark, col("text"))).as("h"))
      .select(col("doc_id"), col("lang"),
        col("h.b").as("b"), col("h.nb").as("nb"))
      .explain("formatted")

    println("===== winnow_explode_before (r15 HOF chain) =====")
    docs.select(col("doc_id"), split(col("text"), "\\s+").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), expr("transform(sequence(1, size(ws)-2), " +
        "i -> CAST(conv(substring(md5(encode(concat_ws(' ', " +
        "slice(ws, i, 3)), 'UTF-8')), 1, 8), 16, 10) AS BIGINT))")
        .as("hs"))
      .filter(size(col("hs")) >= 4)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(hs)-3), " +
          "i -> array_min(slice(hs, i, 4)))"))).as("v"))
      .explain("formatted")

    println("===== winnow_explode_after (r16 WinnowFpExpr) =====")
    graft.queries.Curation4.winnowExplode(docs).explain("formatted")

    spark.stop()
  }
}
