package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Specs for the native greedy_tokenize expression: longest-match
  * semantics (including the overlap traps), unknown handling, eval ≡
  * codegen, and compilation proof.
  */
class GreedyTokenizeSpec extends SparkSpec {

  import spark.implicits._

  private val vocab = Seq("in", "ing", "sing", "s", "g", " ", "the", "rain")

  private def ids(text: String, v: Seq[String] = vocab): Seq[Long] = {
    val out = GreedyTokenize(Literal(UTF8String.fromString(text)), v)
      .eval().asInstanceOf[ArrayData]
    out.toLongArray().toSeq
  }

  test("longest match wins at every position, not first or shortest") {
    // 'singing': longest at 0 is 'sing' (4), then 'ing' (3)
    assert(ids("singing") == Seq(vocab.indexOf("sing"), vocab.indexOf("ing")).map(_.toLong))
    // 'inging': 'ing' beats 'in' at 0
    assert(ids("inging") == Seq(vocab.indexOf("ing"), vocab.indexOf("ing")).map(_.toLong))
    assert(ids("the rain") == Seq("the", " ", "rain").map(v => vocab.indexOf(v).toLong))
  }

  test("a failed long probe falls back to the shorter terminal, not unk") {
    // vocab has 'sing' and 's': 'sinX' walks s-i-n hunting 'sing', fails
    // at X, and must emit 's' (the last terminal passed), then 'in', unk
    assert(ids("sinX") == Seq(vocab.indexOf("s").toLong, vocab.indexOf("in").toLong, -1L))
  }

  test("unknown chars emit -1 and advance one char; empty is empty") {
    assert(ids("xyz") == Seq(-1L, -1L, -1L))
    assert(ids("") == Seq.empty)
    assert(ids("sXg") == Seq(vocab.indexOf("s").toLong, -1L, vocab.indexOf("g").toLong))
  }

  test("eval equals codegen on real documents; nulls pass through") {
    val v = Seq("the", "er", "in", "a", "e", " ")
    val docs = graft.Tables.documents(spark, sfDir).limit(50)
    val viaExpr = call_function("greedy_tokenize", col("text"), lit(v.mkString(",")))
    val rows = docs.select(col("doc_id"), viaExpr.as("ids")).collect()
    rows.foreach { r =>
      val got = r.getSeq[Long](1)
      val want = ids(docs.filter(col("doc_id") === r.getLong(0))
        .head().getAs[String]("text"), v)
      assert(got == want)
    }
    val nullOut = Seq(Option.empty[String]).toDF("t")
      .select(call_function("greedy_tokenize", col("t"), lit("a,b"))).head()
    assert(nullOut.isNullAt(0))
  }

  test("greedy_tokenize codegen COMPILES — no silent interpreted fallback") {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = Seq("singing", "xyz").toDF("t")
        .select(call_function("greedy_tokenize", col("t"),
          lit(vocab.mkString(","))).as("ids"))
        .collect().map(_.getSeq[Long](0))
      assert(out(0) == Seq(vocab.indexOf("sing").toLong, vocab.indexOf("ing").toLong))
      assert(out(1) == Seq(-1L, -1L, -1L))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }
}
