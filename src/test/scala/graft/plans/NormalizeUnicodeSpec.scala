package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Specs for the native normalize_unicode expression: Unicode-conformant
  * results, eval ≡ codegen, the no-allocation fast path, and proof the
  * generated code actually compiles (no silent interpreted fallback).
  */
class NormalizeUnicodeSpec extends SparkSpec {

  import spark.implicits._

  private val decomposed = "café naïve dejà vu"
  private val composed = "café naïve dejà vu"

  private def viaDf(s: String, form: String = "NFC"): String = {
    Seq(s).toDF("t")
      .select(call_function("normalize_unicode", col("t"), lit(form)))
      .head().getString(0)
  }

  test("NFC composes decomposed sequences; NFD decomposes back") {
    assert(viaDf(decomposed) == composed)
    assert(viaDf(composed, "NFD") == decomposed)
    // NFKC folds compatibility characters (ﬁ ligature → fi)
    assert(viaDf("ﬁle", "NFKC") == "file")
  }

  test("eval equals codegen and nulls pass through") {
    val viaEval = NormalizeUnicode(
      Literal(UTF8String.fromString(decomposed)), "NFC")
      .eval().asInstanceOf[UTF8String].toString
    assert(viaEval == viaDf(decomposed))
    val nullOut = Seq(Option.empty[String]).toDF("t")
      .select(call_function("normalize_unicode", col("t"), lit("NFC")))
      .head()
    assert(nullOut.isNullAt(0))
  }

  test("already-normal text returns the identical buffer (fast path)") {
    val in = UTF8String.fromString("plain ascii text")
    assert(NormText.normalize(in, java.text.Normalizer.Form.NFC) eq in)
  }

  test("invalid form is rejected at construction") {
    intercept[IllegalArgumentException] {
      NormalizeUnicode(Literal(UTF8String.fromString("x")), "NFX")
    }
  }

  test("normalize_unicode codegen COMPILES — no silent interpreted fallback") {
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = Seq(decomposed, composed, "ascii").toDF("t")
        .select(call_function("normalize_unicode", col("t"), lit("NFC")).as("n"))
        .collect().map(_.getString(0))
      assert(out.toSeq == Seq(composed, composed, "ascii"))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }
}
