package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The native engine-neutral MinHash kernel
  * (`Dedup.NeutralMinHash.signature`, behind `signaturesBy`) against
  * the composed chain it replaced, kept here as the reference: explode
  * the distinct shingles, hash each as `conv(substr(md5(s), 1, 8), 16,
  * 10) % P` (the DuckDB oracle's `('0x'||substr(md5,1,8))::BIGINT % P`),
  * fan out k `(a_i·x + b_i) % P` lanes and min-aggregate each at the
  * grain. Compared as multisets of (grain, sig). */
class NeutralMinHashSpec extends AnyFunSuite {
  import dedup.Dedup
  import dedup.Dedup.NeutralMinHash.{P, a, b}
  private lazy val spark = TestSpark.spark

  private def reference(documents: DataFrame, grain: String, k: Int,
      n: Int): DataFrame = {
    val x = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long") % P
    documents
      .select(col(grain), explode(Dedup.shingles(col("text"), n)).as("s"))
      .select(col(grain) +: (0 until k).map(i =>
        ((lit(a(i)) * x + lit(b(i))) % P).as(s"h$i")): _*)
      .groupBy(col(grain))
      .agg(min(col("h0")).as("h0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"h$i")): _*)
      .select(col(grain), array((0 until k).map(i => col(s"h$i")): _*)
        .as("sig"))
  }

  private def multiset(df: DataFrame): Map[(Any, Seq[Long]), Int] =
    df.collect().toSeq
      .map(r => (r.get(0), r.getSeq[Long](1)))
      .groupBy(identity).view.mapValues(_.size).toMap

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** Edge-case corpus: null and empty text, fewer than n tokens,
    * leading/trailing/double spaces (empty tokens are kept), repeated
    * shingles, multi-byte UTF-8, a repeated doc id, a source whose only
    * text is null. */
  private lazy val edgeDocs: DataFrame = {
    val rows = Seq(
      Row(0L, "s0", null),
      Row(1L, "s0", ""),
      Row(2L, "s0", "one"),
      Row(3L, "s1", "one two"),
      Row(4L, "s1", " leading space here"),
      Row(5L, "s1", "trailing space here "),
      Row(6L, "s2", "double  space  between words"),
      Row(7L, "s2", "a b c a b c a b c a b c"),
      Row(8L, "s2", "héllo wörld ünïcödé 日本語 テキスト です 😀 🚀 end"),
      Row(9L, "s3", "  "),
      Row(9L, "s3", "the same id twice with other words"),
      Row(10L, "s4", null),
      Row(11L, "s5", "the quick brown fox jumps over the lazy dog"),
      Row(12L, "s5", "the quick brown fox jumps over the lazy cat"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def check(docs: DataFrame, k: Int, n: Int): Unit =
    for (grain <- Seq("doc_id", "source"); parts <- Seq(1, 7)) {
      val in = if (parts == 1) docs.coalesce(1) else docs.repartition(parts)
      val got = multiset(Dedup.signaturesBy(in, grain, k, n))
      val want = multiset(reference(in, grain, k, n))
      assert(got.nonEmpty, s"$grain/$parts")
      assert(got == want, s"grain=$grain partitions=$parts k=$k n=$n")
    }

  test("kernel equals the composed md5/conv/lanes chain on edge cases") {
    check(edgeDocs, 16, 3)
    check(edgeDocs, 4, 1)
    check(edgeDocs, 5, 2)
    // null text drops out at both grains, as the explode drops it
    val bySource = Dedup.signaturesBy(edgeDocs, "source", 16, 3)
      .collect().map(_.getString(0)).toSet
    assert(bySource == Set("s0", "s1", "s2", "s3", "s5"))
    assert(!Dedup.signaturesBy(edgeDocs, "doc_id", 16, 3)
      .collect().exists(_.getLong(0) == 10L))
  }

  test("kernel equals the composed chain on the documents fixture") {
    check(Tables.load(spark, TestSpark.sf, "documents"), 16, 3)
  }

  test("kernel lanes are the big-endian md5 prefix hash of one shingle") {
    // a single token is one shingle: the whole text
    val row = edgeDocs.filter(col("doc_id") === 2L)
      .select(Dedup.NeutralMinHash.signature(col("text"), 4, 3))
      .head().getSeq[Long](0)
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest("one".getBytes("UTF-8"))
    val x = (BigInt(1, d.take(4)) % P).toLong
    assert(row == (0 until 4).map(i => (a(i) * x + b(i)) % P))
  }
}
