package graft.functions

import graft.SparkTestSession
import graft.llm.Shingles
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ShingleArray]] must equal `array_distinct(Shingles.shingles(toks,
  * n))` element-for-element (values AND order) on arbitrary documents —
  * the native expression replaces the interpreted HOF chain in
  * MinHash.shingleHashes, so any divergence would silently change every
  * dedup-family oracle. */
class ShingleArraySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val docs: Seq[String] = {
    val rnd = new scala.util.Random(42)
    val words = Seq("a", "b", "cc", "ÀÉ", "日本語", "x1", "--", "a", "b")
    val seps = Seq(" ", "  ", "\t", "\n", " \t ")
    (1 to 60).map { _ =>
      val n = rnd.nextInt(12)
      (0 until n).map(_ => words(rnd.nextInt(words.length)))
        .mkString(seps(rnd.nextInt(seps.length)))
    } ++ Seq("", " ", "one", "one two", "a a a a a", "\t\n", "çç ÇÇ çç ÇÇ")
  }

  test("native shingle array == array_distinct(composable shingles), n=1..4") {
    import spark.implicits._
    val df = docs.toDF("text")
      .select(col("text"), Shingles.tokens(col("text")).as("toks"))
    (1 to 4).foreach { n =>
      val both = df.select(
        array_distinct(Shingles.shingles(col("toks"), n)).as("ref"),
        TextExpressions.shingleArrayNative(col("toks"), n).as("native"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) === r.getSeq[String](1),
          s"n=$n mismatch")
      }
    }
  }

  test("null tokens array yields an empty array, as the composable form") {
    import spark.implicits._
    // a local relation runs the interpreted eval; a range with a
    // runtime-null text runs the generated code
    val local = Seq((1, null.asInstanceOf[String])).toDF("id", "text")
    val ranged = spark.range(1).select(col("id"), when(col("id") < 0, "x y z").as("text"))
    for (input <- Seq(local, ranged); n <- 1 to 3) {
      val df = input.select(col("id"), Shingles.tokens(col("text")).as("toks"))
      val both = df.select(
        array_distinct(Shingles.shingles(col("toks"), n)).as("ref"),
        TextExpressions.shingleArrayNative(col("toks"), n).as("native"))
      assert(!both.schema("native").nullable)
      val r = both.head()
      assert(!r.isNullAt(0) && !r.isNullAt(1), s"n=$n")
      assert(r.getSeq[String](1).isEmpty, s"n=$n")
      assert(r.getSeq[String](0) === r.getSeq[String](1), s"n=$n")
    }
  }
}
