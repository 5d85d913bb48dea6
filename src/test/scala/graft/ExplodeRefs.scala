package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.llm.DedupOps

/** Explode formulations of operators whose product form is a single
  * codegen'd expression or typed aggregator. Each is the plain
  * DataFrame statement of the operator's semantics; the specs pin the
  * product operator against it on crafted and real inputs.
  */
object ExplodeRefs {

  /** 64-bit SimHash fingerprint per document over token hashes:
    * bit j of the fingerprint is the sign of Σ_tokens (±1 by token's
    * bit j). Rows explode 64× per token; reference for
    * [[graft.llm.DedupOps.simHash]].
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              tokenHash: Column => Column = DedupOps.xxTokenHash): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
      .select(col("doc_id"), col("h"), explode(expr("sequence(0, 63)")).as("j"))
      .withColumn("v", when(expr("(h >> j) & 1") === 1, lit(1)).otherwise(lit(-1)))
      .groupBy("doc_id", "j").agg(sum(col("v")).as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") >= 0, expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(lit(0L))).as("fp"))

  /** Character-trigram language ID: slide a 3-char window over the
    * lowercased text, count hits against per-language trigram
    * profiles, argmax wins (first profile on ties). One exploded row
    * per window; reference for [[graft.llm.TextOps.trigramLangId]].
    */
  def trigramLangId(docs: DataFrame, idCol: String, textCol: String,
                    profiles: Seq[(String, Seq[String])]): DataFrame = {
    // lower bound 1 (not 0): sequence(1, 0) would count DOWN. A sub-3-char
    // text yields one short window that matches no 3-char profile entry.
    val tg = s"transform(sequence(1, greatest(length($textCol) - 2, 1)), i -> substring(lower($textCol), i, 3))"
    val exploded = docs.select(col(idCol), explode_outer(expr(tg)).as("__t"))
    val aggs = profiles.map { case (lang, grams) =>
      sum(when(col("__t").isin(grams: _*), 1L).otherwise(0L)).as(s"n_$lang")
    }
    val counts = exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val (firstLang, firstCount) = (profiles.head._1, col(s"n_${profiles.head._1}"))
    val predicted = profiles.tail.foldLeft((lit(firstLang), firstCount)) {
      case ((plabel, pcount), (lang, _)) =>
        val c = col(s"n_$lang")
        (when(c > pcount, lit(lang)).otherwise(plabel),
          when(c > pcount, c).otherwise(pcount))
    }._1
    counts.withColumn("predicted", predicted)
  }
}
