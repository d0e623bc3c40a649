package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.operators.Bpe

/** Reference implementations the specs compare the engine against:
  * built-in compositions of what a fused kernel computes, and the
  * straightforward algorithm a scale path must agree with. No query,
  * tool or service runs them.
  */
object References {

  /** `md5Long` as a built-in composition, for cross-checking the
    * [[graft.expressions.Md5Prefix60]] kernel.
    */
  def md5LongBuiltins(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Dot product from built-in higher-order functions, for
    * cross-checking [[graft.expressions.VectorDotProduct]]: the same
    * left fold in double precision.
    */
  def dotBuiltins(a: Column, b: Column): Column =
    aggregate(zip_with(V.asDouble(a), V.asDouble(b), (x, y) => x * y),
      lit(0.0), (acc, p) => acc + p)

  /** Cosine similarity = dot / (√‖a‖² · √‖b‖²), computed exactly in
    * that association.
    */
  def cosine(a: Column, b: Column): Column =
    V.dot(a, b) / (sqrt(V.normSq(a)) * sqrt(V.normSq(b)))

  /** Word n-gram shingles over the token array. Shorter-than-n texts
    * produce a single shingle of whatever is there (mirrors the
    * index range `1 .. max(len-n+1, 1)`).
    */
  def wordShingles(toks: Column, n: Int): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => array_join(slice(toks, i, lit(n)), " "))

  /** Distinct word-shingle set. */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(wordShingles(T.tokens(text), n))

  /** ASCII-punctuation count (Java `\p{Punct}` ≡ RE2 `[[:punct:]]`). */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "\\p{Punct}", ""))

  /** Multiplicity-preserving count of tokens found in `dict`. */
  def dictHits(toks: Column, dict: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(dict), t)))

  /** Inline PII patterns, portable between Java regex and RE2:
    * unanchored email, and international-format phone (+ then 8-15
    * digits).
    */
  val InlineEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val InlinePhonePattern = "\\+[0-9]{8,15}"

  /** PII redaction as two `regexp_replace` passes: emails → [EMAIL],
    * then international phones → [PHONE]. Order matters (emails can
    * contain digit runs; phones can't contain '@'). The reference for
    * the fused [[graft.expressions.PiiRedactStats]] kernel.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, InlineEmailPattern, "[EMAIL]"),
      InlinePhonePattern, "[PHONE]")

  /** Sequential BPE learner: one Spark job per merge, argmax ties
    * broken lexicographically on the pair. [[Bpe.trainMergesBatched]]
    * and [[Bpe.trainMergesLocal]] must learn the identical list.
    * Returns the ordered merge list (rank, a, b), rank 0 learned first.
    */
  def trainMerges(docs: DataFrame, textCol: String,
      nMerges: Int): Seq[(Int, String, String)] = {
    require(nMerges >= 1, s"nMerges=$nMerges")
    var syms = Bpe.charSyms(Bpe.wordTable(docs, textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    try {
      var r = 0
      var exhausted = false
      while (r < nMerges && !exhausted) {
        // deterministic argmax: count desc, then pair lexicographically
        val top = Bpe.pairCounts(syms)
          .orderBy(desc("count"), col("a"), col("b")).limit(1)
          .select(col("a"), col("b")).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (a, b) = (top(0).getString(0), top(0).getString(1))
          merges += ((r, a, b))
          val next = syms.select(
            graft.expressions.MergeAdjacent.merge(col("syms"), a, b).as("syms"),
            col("n"))
          val mat =
            if ((r + 1) % 8 == 0) next.localCheckpoint(true)
            else next.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          syms.unpersist(blocking = false)
          syms = mat
          r += 1
        }
      }
    } finally syms.unpersist(blocking = false)
    merges.toSeq
  }

  /** Embedding near-dup pairs, brute O(n²): every pair with cosine
    * above `threshold`, as (i, j, cos) with i < j.
    */
  def embeddingDupPairsBrute(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val n = emb.select(col(idCol).as("__id"),
      col(vecCol).as("__v")).withColumn("__nsq", V.normSq(col("__v")))
    n.as("a").join(n.as("b"), col("a.__id") < col("b.__id"))
      .withColumn("cos", V.cosinePrenormed(
        V.dot(col("a.__v"), col("b.__v")), col("a.__nsq"), col("b.__nsq")))
      .where(col("cos") > threshold)
      .select(col("a.__id").as("i"), col("b.__id").as("j"), col("cos"))
  }
}
