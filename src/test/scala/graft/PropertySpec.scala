package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck-driven invariants (raw scalacheck — the scalatest bridge
  * artifact isn't in the offline cache, so Prop/Test are driven directly
  * with a fixed seed; failures print the shrunk counterexample). */
class PropertySpec extends SparkSpec {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(100)
    .withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def check(label: String, p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, s"$label: ${res.status}")
  }

  // ── HLL sketch algebra (pure: no Spark session involved) ──────────────

  private def hll = new graft.functions.HllAggregator(11)

  private def sketchOf(values: Seq[Long]): Array[Byte] =
    values.foldLeft(hll.zero)((b, v) => hll.reduce(b, v))

  test("property: HLL merge is commutative and zero is the identity") {
    val gen = for {
      a <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
      b <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
    } yield (a, b)
    check("commutative", Prop.forAll(gen) { case (a, b) =>
      // merge mutates its first arg — rebuild sketches per order
      val ab = hll.finish(hll.merge(sketchOf(a), sketchOf(b)))
      val ba = hll.finish(hll.merge(sketchOf(b), sketchOf(a)))
      val withZero = hll.finish(hll.merge(sketchOf(a), hll.zero))
      ab == ba && withZero == hll.finish(sketchOf(a))
    })
  }

  test("property: HLL estimate is invariant to how the input is partitioned") {
    val gen = for {
      vs <- Gen.listOfN(500, Gen.choose(0L, 10000L))
      cut <- Gen.choose(0, 500)
    } yield (vs, cut)
    check("partition-invariant", Prop.forAll(gen) { case (vs, cut) =>
      val (l, r) = vs.splitAt(cut)
      hll.finish(hll.merge(sketchOf(l), sketchOf(r))) == hll.finish(sketchOf(vs))
    })
  }

  test("property: HLL idempotence — duplicates never change the sketch") {
    val gen = Gen.listOf(Gen.choose(0L, 1000L))
    check("idempotent", Prop.forAll(gen) { vs =>
      java.util.Arrays.equals(sketchOf(vs ++ vs), sketchOf(vs)) &&
        java.util.Arrays.equals(sketchOf(vs), sketchOf(vs.distinct))
    })
  }

  // ── AsOfJoin vs an in-memory reference implementation ──────────────────

  test("property: AsOfJoin matches the per-row reference, ties included") {
    import spark.implicits._

    // few keys + few timestamps → collisions (same-key same-ts right rows)
    // are common, exercising the deterministic tie-break
    val rowGen = for {
      k <- Gen.choose(0, 3)
      ts <- Gen.choose(0L, 20L)
      id <- Gen.choose(0L, 1000L)
    } yield (k, ts, id)
    val gen = for {
      left <- Gen.listOfN(30, rowGen)
      right <- Gen.listOfN(30, rowGen)
    } yield (left, right)

    val p = Prop.forAll(gen) { case (left, right) =>
      val lDf = left.toDF("k", "ts", "lid")
      val rDf = right.toDF("k", "ts", "rid")
      val got = graft.operators.AsOfJoin
        .asOf(lDf, rDf, Seq("k"), "ts", "ts", payload = Seq("rid"))
        .select("k", "ts", "lid", "asof_rid")
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sortBy(t => (t._1, t._2, t._3))
      // reference: greatest (ts, rid) among same-key right rows with
      // rts <= lts — the operator's documented tie-break
      val expected = left.map { case (k, lts, lid) =>
        val cands = right.filter(r => r._1 == k && r._2 <= lts)
        (k, lts, lid,
          if (cands.isEmpty) None
          else Some(cands.map(r => (r._2, r._3)).max._2))
      }.sortBy(t => (t._1, t._2, t._3))
      // rows are multiset-compared: duplicate left rows produce duplicates
      got.toSeq.sorted == expected.toSeq.sorted
    }
    val res = SCTest.check(params.withMinSuccessfulTests(12), p)
    assert(res.passed, s"asof: ${res.status}")
  }

  test("property: MMR selection matches an independent greedy reference, ties included") {
    import spark.implicits._

    // tiny component alphabet → frequent exact dot-product ties,
    // exercising the (score DESC, n_id) tie-break end to end
    val vecGen = Gen.listOfN(4, Gen.oneOf(-1.0f, -0.5f, 0.0f, 0.5f, 1.0f))
    val gen = for {
      q <- vecGen
      corpus <- Gen.listOfN(8, vecGen)
    } yield (q, corpus)

    def quant(v: Seq[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000000.0d).toLong).toArray
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum

    val p = Prop.forAll(gen) { case (q, corpus) =>
      val df = ((1L, q.toArray) +: corpus.zipWithIndex.map { case (v, i) =>
        (10L + i, v.toArray)
      }).toDF("vec_id", "embedding")
      val got = graft.operators.Similarity
        .mmrRerank(df.filter($"vec_id" >= 10L), df.filter($"vec_id" === 1L),
          kCand = 6, kSelect = 3)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
        .sortBy(_._1)
      // independent reference: same quantized arithmetic, plain Scala
      val qq = quant(q)
      val cands = corpus.zipWithIndex
        .map { case (v, i) => (10L + i, quant(v)) }
        .map { case (id, eq) => (id, eq, dot(qq, eq)) }
        .sortBy(t => (-t._3, t._1)).take(6)
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val selected = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
      var remaining = cands
      (1 to 3).foreach { rank =>
        if (remaining.nonEmpty) {
          val scored = remaining.map { case (id, eq, rel) =>
            val ms = if (selected.isEmpty) 0L else selected.map(dot(eq, _)).max
            val score = if (selected.isEmpty) 2L * rel else 2L * rel - ms
            (id, eq, score)
          }
          val best = scored.minBy { case (id, _, score) => (-score, id) }
          picks += ((rank.toLong, best._1, best._3))
          selected += best._2
          remaining = remaining.filterNot(_._1 == best._1)
        }
      }
      got.toSeq == picks.toSeq
    }
    val res = SCTest.check(params.withMinSuccessfulTests(12), p)
    assert(res.passed, s"mmr: ${res.status}")
  }

  test("property: BPE encode matches a pure replace-chain reference; counts are consistent") {
    import spark.implicits._

    val SEP = "\u001f"
    val wordGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val gen = for {
      words <- Gen.listOfN(8, wordGen)
      nMerges <- Gen.choose(1, 4)
    } yield (words, nMerges)

    val p = Prop.forAll(gen) { case (words, nMerges) =>
      val text = words.mkString(" ")
      val docs = Seq((1L, text)).toDF("doc_id", "text")
      val merges = graft.operators.BpeTrain
        .learnMerges(docs, "text", nMerges)
        .orderBy("rank").collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val got = graft.operators.BpeTrain
        .encodeStats(docs, "text", "doc_id", merges)
        .head()
      // pure reference: per-word SEP string, Java String.replace twice per
      // merge (the documented semantics the Column chain must reproduce)
      val seq0 = words.map(w => SEP + w.map(c => s"$c$SEP").mkString).mkString
      val seqN = merges.foldLeft(seq0) { case (s, (l, r)) =>
        val pat = SEP + l + SEP + r + SEP
        val rep = SEP + l + r + SEP
        s.replace(pat, rep).replace(pat, rep)
      }
      val chars = seqN.count(_ != SEP.head)
      val seps = seqN.length - chars
      got.getLong(1) == words.length.toLong &&
        got.getLong(2) == chars.toLong &&
        got.getLong(3) == (seps - words.length).toLong &&
        got.getLong(3) <= got.getLong(2)   // merges never add tokens
    }
    val res = SCTest.check(params.withMinSuccessfulTests(12), p)
    assert(res.passed, s"bpe: ${res.status}")
  }

  // ── sessionize vs an in-memory fold ───────────────────────────────────

  test("property: sessionize matches a per-key sequential fold, gap boundary exact") {
    import spark.implicits._

    // coarse second grid + gap near the grid step → boundary hits are common
    val rowGen = for {
      k <- Gen.choose(0L, 3L)
      sec <- Gen.choose(0L, 40L)
    } yield (k, sec)
    val gen = for {
      rows <- Gen.listOfN(40, rowGen)
      gap <- Gen.choose(1L, 6L)
    } yield (rows.distinct, gap)

    val p = Prop.forAll(gen) { case (rows, gap) =>
      if (rows.isEmpty) true
      else {
        val df = rows.zipWithIndex.map { case ((k, sec), i) =>
          (i.toLong, k, new java.sql.Timestamp(sec * 1000L))
        }.toDF("event_id", "user_id", "ts")
        val got = graft.operators.TimeSeries
          .sessionize(df, "user_id", "ts", "event_id", gap)
          .select("event_id", "session_idx")
          .as[(Long, Long)].collect().toMap
        // reference: sort each key's events, fold with the strict-> rule
        val want = rows.zipWithIndex
          .map { case ((k, sec), i) => (k, sec, i.toLong) }
          .groupBy(_._1).values.flatMap { evs =>
            val sorted = evs.sortBy(e => (e._2, e._3))
            var sid = 0L; var last = Long.MinValue
            sorted.map { case (_, sec, id) =>
              if (last == Long.MinValue || sec - last > gap) sid += 1
              last = sec
              id -> sid
            }
          }.toMap
        got == want
      }
    }
    val res = SCTest.check(params.withMinSuccessfulTests(15), p)
    assert(res.passed, s"sessionize: ${res.status}")
  }

  // ── SCD2 apply invariants under random change batches ─────────────────

  test("property: scd2Apply keeps exactly one open version per key and loses no history") {
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val dimKeyGen = Gen.choose(0L, 9L)
    val gen = for {
      dimKeys <- Gen.listOf(dimKeyGen).map(_.distinct)
      chg <- Gen.listOf(for {
        k <- Gen.choose(0L, 14L) // overlaps dim keys AND new keys
        v <- Gen.oneOf("A", "B", "C")
      } yield (k, v)).map(_.distinctBy(_._1))
    } yield (dimKeys, chg)

    val p = Prop.forAll(gen) { case (dimKeys, chg) =>
      if (dimKeys.isEmpty && chg.isEmpty) true
      else {
        val dim = dimKeys.map(k => (k, s"S$k",
            java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
            Option.empty[java.sql.Timestamp], true))
          .toDF("k", "segment", "valid_from", "valid_to", "is_current")
        val changes = chg.toDF("k", "segment")
        if (changes.isEmpty && dim.isEmpty) true
        else {
          val out = graft.operators.Scd.scd2Apply(dim, changes, "k",
              Seq("segment"), lit("2024-06-01").cast("timestamp"))
            .select($"k", $"segment", $"is_current", $"valid_to".isNull.as("open"))
            .collect().map(r => (r.getLong(0), r.getString(1),
              r.getBoolean(2), r.getBoolean(3)))
          val expectedKeys = (dimKeys ++ chg.map(_._1)).distinct.sorted
          val byKey = out.groupBy(_._1)
          // every key surfaces; exactly one current row per key; current ⇔ open
          expectedKeys.forall(byKey.contains) &&
            byKey.values.forall(vs => vs.count(_._3) == 1) &&
            out.forall(r => r._3 == r._4) &&
            // a key in the batch ends current on the BATCH value;
            // a key not in the batch keeps its original segment
            expectedKeys.forall { k =>
              val cur = byKey(k).find(_._3).get._2
              chg.toMap.get(k).map(_ == cur)
                .getOrElse(cur == s"S$k")
            }
        }
      }
    }
    val res = SCTest.check(params.withMinSuccessfulTests(15), p)
    assert(res.passed, s"scd2: ${res.status}")
  }

  // ── min-max scaling bounds ────────────────────────────────────────────

  test("property: minMaxScale lands in [0,100] with the extremes exact") {
    import spark.implicits._

    val gen = Gen.nonEmptyListOf(for {
      k <- Gen.oneOf("a", "b")
      q <- Gen.choose(-1000000L, 1000000L)
    } yield (k, q))

    val p = Prop.forAll(gen) { rows =>
      val df = rows.zipWithIndex.map { case ((k, q), i) => (i.toLong, k, q) }
        .toDF("id", "k", "q")
      val out = graft.operators.Profiling.minMaxScale(df, "k", "q")
        .select("k", "q", "scaled_pct")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val stats = rows.groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2).min, vs.map(_._2).max)).toMap
      out.forall { case (k, q, s) =>
        val (mn, mx) = stats(k)
        s >= 0L && s <= 100L &&
          (mx == mn || ((q != mn || s == 0L) && (q != mx || s == 100L)))
      }
    }
    val res = SCTest.check(params.withMinSuccessfulTests(15), p)
    assert(res.passed, s"minMaxScale: ${res.status}")
  }
}
