package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Engine extension point (SparkSessionExtensions), the engine's only
  * registration path: the native expressions as SQL functions, the
  * graft optimizer rules and the [[TopKPerKeyStrategy]] planner strategy.
  * Enabled with `.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` (see [[graft.GraftSession.builder]]);
  * sessions derived with `newSession()` share the extensions, so they
  * plan with the same rules and guards as their parent.
  *
  * The rules go in the pre-CBO batch, which runs once, after Spark's
  * operator-optimization batches, in the order listed: the rank-limit
  * rewrite and the two plan-time guards first, then the MV, constraint,
  * eager-aggregation and file-pruning rewrites. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    Seq(RankLimitRewrite, CrossJoinGuard, GlobalWindowGuard, MvRewrite,
      ConstraintRules, EagerAggregation, AutoFilePrune)
      .foreach(rule => ext.injectPreCBORule(_ => rule))
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
  }
}

object GraftExtensions {

  private def literalInt(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int argument, got $other")
  }

  private def literalString(e: Expression, fn: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got $other")
  }

  private val descriptors
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("quantized_dot"),
      new ExpressionInfo(classOf[QuantizedDot].getName, "quantized_dot"),
      (children: Seq[Expression]) => QuantizedDot(children(0), children(1))),
    (FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) =>
        ShingleHashes(children(0), literalInt(children(1), "shingle_hashes"))),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (children: Seq[Expression]) =>
        MinHashSigs(children(0), literalInt(children(1), "minhash_sigs"))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children(0))),
    (FunctionIdentifier("hilbert_code"),
      new ExpressionInfo(classOf[HilbertCode].getName, "hilbert_code"),
      // hilbert_code(bits, c1, c2, …) — bits leads because the
      // coordinate list is variadic
      (children: Seq[Expression]) =>
        HilbertCode(children.drop(1), literalInt(children.head, "hilbert_code"))),
    (FunctionIdentifier("rank_bucket"),
      new ExpressionInfo(classOf[RankBucket].getName, "rank_bucket"),
      // rank_bucket(value, boundaries[, sub_bits, dom_lo, dom_hi]) —
      // boundaries is a foldable array literal (the equi-depth model is
      // driver-measured and broadcast through the plan, like the
      // centroid literals); the optional tail composes the within-
      // bucket range position under the rank (see RankBucket.code)
      (children: Seq[Expression]) => {
        require(children.size == 2 || children.size == 5,
          "rank_bucket(value, boundaries_array[, sub_bits, dom_lo, dom_hi])")
        require(children(1).foldable,
          "rank_bucket boundaries must be a literal array")
        import org.apache.spark.sql.types._
        // accept any integral element type (SQL's bare array(1,2,3)
        // folds to array<int>), widening to long — anything else is a
        // clean argument error, not a ClassCastException mid-analysis
        val bs = (children(1).dataType,
          children(1).eval(org.apache.spark.sql.catalyst.expressions.EmptyRow)) match {
          case (ArrayType(LongType, _),
              ad: org.apache.spark.sql.catalyst.util.ArrayData) =>
            ad.toLongArray()
          case (ArrayType(et @ (IntegerType | ShortType | ByteType), _),
              ad: org.apache.spark.sql.catalyst.util.ArrayData) =>
            ad.toObjectArray(et).map { x =>
              require(x != null, "rank_bucket boundaries must not contain NULL")
              x.asInstanceOf[Number].longValue()
            }
          case (dt, _) => throw new IllegalArgumentException(
            s"rank_bucket boundaries must be a literal integral array, got $dt")
        }
        if (children.size == 2) RankBucket(children(0), bs.toSeq)
        else {
          def longLit(e: Expression, what: String): Long = {
            require(e.foldable, s"rank_bucket $what must be a literal")
            e.eval(org.apache.spark.sql.catalyst.expressions.EmptyRow) match {
              // integral boxes ONLY — a Double/Float/Decimal literal
              // (e.g. sub_bits = 2.5) must REJECT, not silently truncate
              case n @ (_: java.lang.Byte | _: java.lang.Short |
                        _: java.lang.Integer | _: java.lang.Long) =>
                n.asInstanceOf[java.lang.Number].longValue()
              case other => throw new IllegalArgumentException(
                s"rank_bucket $what must be an integral literal, got $other")
            }
          }
          RankBucket(children(0), bs.toSeq,
            longLit(children(2), "sub_bits").toInt,
            longLit(children(3), "dom_lo"), longLit(children(4), "dom_hi"))
        }
      }),
    (FunctionIdentifier("list_divider"),
      new ExpressionInfo(classOf[ListDivider].getName, "list_divider"),
      (children: Seq[Expression]) => ListDivider(children(0), children(1))),
    (FunctionIdentifier("lsh_bucket_array"),
      new ExpressionInfo(classOf[LshBucketArray].getName, "lsh_bucket_array"),
      (children: Seq[Expression]) =>
        LshBucketArray(children(0), children(1), children(2))),
    (FunctionIdentifier("normalize_unicode"),
      new ExpressionInfo(classOf[NormalizeUnicode].getName, "normalize_unicode"),
      (children: Seq[Expression]) =>
        NormalizeUnicode(children(0), literalString(children(1), "normalize_unicode"))),
    (FunctionIdentifier("greedy_tokenize"),
      new ExpressionInfo(classOf[GreedyTokenize].getName, "greedy_tokenize"),
      (children: Seq[Expression]) =>
        // vocab as one literal comma-joined string (SQL has no literal
        // string-array shorthand the registry builder can consume)
        GreedyTokenize(children(0),
          literalString(children(1), "greedy_tokenize").split(',').toSeq)),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) =>
        WordShingles(children(0), literalInt(children(1), "word_shingles"))),
    (FunctionIdentifier("rolling_fp_min"),
      new ExpressionInfo(classOf[RollingFpMin].getName, "rolling_fp_min"),
      (children: Seq[Expression]) =>
        RollingFpMin(children(0), literalInt(children(1), "rolling_fp_min"))),
    // Spark ships BloomFilterMightContain for its own runtime filters but
    // does not expose it in the public registry; surface it so a
    // driver-built sketch (stat.bloomFilter, same serialized format) can
    // prefilter scans as a pure expression (Curation.decontaminateBloomExact)
    (FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(0), children(1))),
    // ...and its build-side twin: the DISTRIBUTED bloom aggregate Spark
    // uses for runtime join filters (serialized format matches
    // BloomFilterMightContain). Exposed so per-group sketches — e.g. one
    // bloom PER FILE for a skipping index (Layout.buildBloomIndex) — can
    // build executor-side, where stat.bloomFilter would need one driver
    // job per group. args: (xxhash64-long child, estimatedNumItems, numBits)
    (FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children(0), children(1), children(2)).toAggregateExpression()))
}
