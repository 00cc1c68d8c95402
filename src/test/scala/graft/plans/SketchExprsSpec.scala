package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SketchExprsSpec extends SparkSpec {
  import spark.implicits._

  private def sigsViaDf(xs: Seq[java.lang.Long], k: Int): Option[Seq[Long]] = {
    val row = Seq(Tuple1(xs)).toDF("h")
      .select(call_function("minhash_sigs", col("h"), lit(k)).as("sig"))
      .head()
    if (row.isNullAt(0)) None else Some(row.getSeq[Long](0))
  }

  private def simViaDf(xs: Seq[java.lang.Long]): Option[Long] = {
    val row = Seq(Tuple1(xs)).toDF("h")
      .select(call_function("simhash64", col("h")).as("s"))
      .head()
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  private def sigsViaEval(xs: Array[Long], k: Int): Seq[Long] =
    MinHashSigs(Literal.create(xs, ArrayType(LongType)), k)
      .eval().asInstanceOf[ArrayData].toLongArray().toSeq

  private def simViaEval(xs: Array[Long]): Long =
    SimHash64(Literal.create(xs, ArrayType(LongType)))
      .eval().asInstanceOf[Long]

  test("interpreted eval equals whole-stage-codegen result") {
    val xs = Array(42L, -7L, 123456789L, Long.MinValue, Long.MaxValue, 0L)
    assert(sigsViaDf(xs.map(java.lang.Long.valueOf).toSeq, 16).get === sigsViaEval(xs, 16))
    assert(simViaDf(xs.map(java.lang.Long.valueOf).toSeq).get === simViaEval(xs))
  }

  test("shingle_hashes matches the xxhash64-over-slice HOF formulation") {
    import graft.{Tables => T}
    val docs = T.documents(spark, sfDir).limit(50)
    val ws = split(trim(col("text")), "\\s+")
    val hof = when(size(ws) >= 5,
      array_distinct(transform(sequence(lit(1), size(ws) - 4),
        i => xxhash64(slice(ws, i, lit(5))))))
      .otherwise(lit(null).cast("array<long>"))
    val both = docs.select(
      call_function("shingle_hashes", ws, lit(5)).as("native"),
      hof.as("reference"))
    val mismatches = both
      .filter(not(col("native") <=> col("reference"))).count()
    assert(mismatches === 0,
      "native shingle hashing diverged from xxhash64(slice) semantics")
  }

  test("shingle_hashes: eval equals codegen and short docs yield NULL") {
    import org.apache.spark.unsafe.types.UTF8String
    val toks = Array("the", "quick", "brown", "fox", "jumps", "over").map(UTF8String.fromString)
    val viaEval = ShingleHashes(
        Literal.create(toks, ArrayType(StringType)), 5)
      .eval().asInstanceOf[ArrayData].toLongArray().toSeq
    val viaDf = Seq(Tuple1(Seq("the", "quick", "brown", "fox", "jumps", "over")))
      .toDF("w")
      .select(call_function("shingle_hashes", col("w"), lit(5)).as("sh"))
      .head().getSeq[Long](0)
    assert(viaEval === viaDf)
    val short = Seq(Tuple1(Seq("too", "short"))).toDF("w")
      .select(call_function("shingle_hashes", col("w"), lit(5)).as("sh"))
      .head()
    assert(short.isNullAt(0))
  }

  test("sketch codegen COMPILES — no silent interpreted fallback") {
    // The plan string showing WholeStageCodegen doesn't prove Janino
    // accepted the generated code (a compile failure falls back to the
    // interpreted path silently). Force codegen-only + no fallback so a
    // Janino rejection fails this test instead.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevFactory = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val out = Seq(
          Tuple1(Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "dog")),
          Tuple1(Seq("a", "b")))
        .toDF("w")
        .select(
          call_function("shingle_hashes", col("w"), lit(5)).as("sh"))
        .select(
          call_function("minhash_sigs", col("sh"), lit(16)).as("sig"),
          call_function("simhash64", col("sh")).as("sim"))
        .collect()
      assert(out.length === 2)
      assert(!out(0).isNullAt(0) && !out(0).isNullAt(1))
      assert(out(1).isNullAt(0) && out(1).isNullAt(1)) // too short to shingle
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFactory)
    }
  }

  test("null elements are skipped; featureless input yields NULL") {
    val withNulls = Seq[java.lang.Long](5L, null, 9L)
    assert(sigsViaDf(withNulls, 8) === sigsViaDf(Seq[java.lang.Long](5L, 9L), 8))
    assert(simViaDf(withNulls) === simViaDf(Seq[java.lang.Long](5L, 9L)))
    assert(sigsViaDf(Seq.empty, 8).isEmpty)
    assert(simViaDf(Seq.empty).isEmpty)
    assert(sigsViaDf(Seq[java.lang.Long](null), 8).isEmpty)
  }

  test("signatures are order-insensitive and deterministic") {
    val xs = Array(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L)
    assert(sigsViaEval(xs, 32) === sigsViaEval(xs.reverse, 32))
    assert(simViaEval(xs) === simViaEval(xs.reverse))
    assert(sigsViaEval(xs, 32) === sigsViaEval(xs, 32))
  }

  test("minhash signature agreement estimates Jaccard (hash-family sanity)") {
    // |A ∩ B| = 600, |A ∪ B| = 1400 → J ≈ 0.4286; with 256 independent
    // seeds the agreement fraction should sit within ±4σ (σ ≈ 0.031)
    val rnd = new scala.util.Random(7)
    val shared = Array.fill(600)(rnd.nextLong())
    val onlyA = Array.fill(400)(rnd.nextLong())
    val onlyB = Array.fill(400)(rnd.nextLong())
    val sigA = sigsViaEval(shared ++ onlyA, 256)
    val sigB = sigsViaEval(shared ++ onlyB, 256)
    val agree = sigA.zip(sigB).count { case (a, b) => a == b } / 256.0
    val j = 600.0 / 1400.0
    assert(math.abs(agree - j) < 0.125,
      s"agreement $agree too far from true J $j — hash family is biased")
  }

  test("simhash separates near-identical from disjoint feature sets") {
    val rnd = new scala.util.Random(11)
    val base = Array.fill(500)(rnd.nextLong())
    val near = base.take(490) ++ Array.fill(10)(rnd.nextLong())
    val far = Array.fill(500)(rnd.nextLong())
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val hNear = ham(simViaEval(base), simViaEval(near))
    val hFar = ham(simViaEval(base), simViaEval(far))
    assert(hNear <= 8, s"near-dup hamming $hNear unexpectedly large")
    assert(hFar >= 16, s"disjoint hamming $hFar unexpectedly small")
  }
}
