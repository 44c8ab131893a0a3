package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions, Trigrams, TrigramTokensExpr}

/** Single-threaded ns/row of graft's row kernels on a workload's own strings,
  * measured after warm-up; the median of several timed passes. */
object Kernels {

  private def nsPerRow(n: Int)(pass: => Unit): Double = {
    val warmEnd = System.nanoTime() + 300000000L
    while (System.nanoTime() < warmEnd) pass
    val reps = (1 to 7).map { _ =>
      val t0 = System.nanoTime(); pass; (System.nanoTime() - t0).toDouble / n
    }.sorted
    reps(reps.length / 2)
  }

  def measure(strings: Array[String]): Map[String, Double] = {
    var sink = 0L
    val n = strings.length
    // trigram_tokens as the codegen'd expression it plans into
    val proj = UnsafeProjection.create(Seq(TrigramTokensExpr(BoundReference(0, StringType, nullable = true))))
    val rows = strings.map(s => InternalRow(UTF8String.fromString(s)))
    val shingles = strings.map(TextFunctions.shingles3Array)
    val out = Map(
      "functions.trigram_tokens_ns" -> nsPerRow(n)(rows.foreach(r => sink += proj(r).getArray(0).numElements())),
      "functions.token_ids_ns" -> nsPerRow(n)(strings.foreach(s => sink += Trigrams.tokenIds(s).length)),
      "functions.shingles3_ns" -> nsPerRow(n)(strings.foreach(s => sink += TextFunctions.shingles3Array(s).length)),
      "functions.minhash_sig_ns" -> nsPerRow(n)(shingles.foreach(s => sink += TextFunctions.minHashSig(s)(0))),
      "functions.score_doc_ns" -> nsPerRow(n)(strings.foreach(s => sink += TextFunctions.scoreDoc(s)._2.length)))
    if (sink == 42) println("") // keeps the results live
    out
  }
}
