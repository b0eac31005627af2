package graft.ext

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pre-dedup hygiene chain composed end to end: encoding screen → NFC
  * normalization → content dedup → lexicon and phrase screens, over four
  * variants of every fixture document. Closed-form counts pin each stage. */
class CleaningChainSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("screen drops exactly the damaged variant; NFC lets dedup collapse twins; screen totals ignore partitioning") {
    val docs = graft.io.Tables.load(spark, TestSpark.Sf0001, "documents")
      .filter(col("text").isNotNull).select(col("doc_id"), col("text"))
    val n = docs.count()
    val distinct = docs.select("text").distinct().count()
    // per source doc: a clean copy, a damaged copy (mojibake + U+FFFD), and
    // the same text prefixed by a precomposed and by a decomposed "á"
    def variant(i: Int, text: Column) = docs.select((col("doc_id") * 4 + i).as("doc_id"), text.as("text"))
    val corpus = Caches.track(variant(0, col("text"))
      .union(variant(1, concat(col("text"), lit(" CafÃ© bad\uFFFDbytes"))))
      .union(variant(2, concat(lit("\u00E1 "), col("text"))))
      .union(variant(3, concat(lit("a\u0301 "), col("text")))))
    assert(corpus.count() == 4 * n, "variant build lost rows")

    val kept = corpus.join(TextAnalysis.encodingScreen(corpus).filter(col("keep"))
      .select("doc_id"), "doc_id")
    assert(kept.count() == 3 * n, "the encoding screen must drop exactly the damaged variant")
    def dedup(df: DataFrame) = Dedup.exact(df.withColumn("fp", md5(col("text"))), Seq("fp"), "doc_id")
    // without NFC the decomposed twin escapes content dedup; with it, it collapses
    assert(dedup(kept).count() == 3 * distinct, "pre-NFC dedup")
    val survivors = Caches.track(dedup(kept.select(col("doc_id"),
      TextAnalysis.nfcNormalize(col("text")).as("text"))))
    assert(survivors.count() == 2 * distinct, "post-NFC dedup")

    val lexicon = Seq("slow", "merge").toDF("word")
    val phrases = Seq("table table", "fast merge").toDF("phrase")
    def screenTotals(df: DataFrame): (Long, Long) = (
      TextAnalysis.lexiconScreen(df, lexicon).agg(sum("n_blocked")).as[Long].head(),
      TextAnalysis.phraseScreen(df, phrases).agg(sum("n_phrase_hits")).as[Long].head())
    val totals = screenTotals(survivors)
    val repartitioned = screenTotals(survivors.repartition(7, col("doc_id")))
    Dedup.unpersistAll()
    assert(totals == repartitioned, "screen totals moved with partitioning")
    assert(totals._2 > 0, "the phrase screen found nothing: the fixture no longer exercises it")
  }
}
