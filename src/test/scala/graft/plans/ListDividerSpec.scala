package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ListDividerSpec extends SparkSpec {
  import spark.implicits._

  private def divide(items: Seq[String], sentinel: String = "SEP"): Seq[(Int, Int, String)] = {
    Seq(Tuple1(items)).toDF("xs")
      .select(expr(s"list_divider(xs, '$sentinel')"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), if (r.isNullAt(2)) null else r.getString(2)))
      .toSeq
  }

  test("splits at sentinels, drops them, numbers groups and positions") {
    assert(divide(Seq("a", "b", "SEP", "c", "SEP", "d", "e")) ===
      Seq((0, 0, "a"), (0, 1, "b"), (1, 0, "c"), (2, 0, "d"), (2, 1, "e")))
  }

  test("edge shapes: leading/trailing/consecutive sentinels, empties, nulls") {
    // leading sentinel → first group is 1 and group 0 is empty
    assert(divide(Seq("SEP", "a")) === Seq((1, 0, "a")))
    // trailing + consecutive sentinels emit nothing extra
    assert(divide(Seq("a", "SEP", "SEP", "b", "SEP")) ===
      Seq((0, 0, "a"), (2, 0, "b")))
    assert(divide(Seq.empty[String]) === Seq.empty)
    // null elements pass through as items (only a matching string is a sentinel)
    assert(divide(Seq("a", null, "SEP", "b")) ===
      Seq((0, 0, "a"), (0, 1, null), (1, 0, "b")))
  }

  test("sentinel is a regex, fully matched") {
    assert(divide(Seq("zone 1", "Travelcard Zone 2", "zone 3"), "Travelcard.*") ===
      Seq((0, 0, "zone 1"), (1, 0, "zone 3")))
    // partial match is NOT a sentinel
    assert(divide(Seq("a Travelcard Zone b"), "Travelcard.*") ===
      Seq((0, 0, "a Travelcard Zone b")))
  }

  test("null array yields no rows; plan is a Generate node") {
    val df = Seq((1, Seq("a")), (2, null)).toDF("id", "xs")
      .select($"id", expr("list_divider(xs, 'SEP')"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(df.queryExecution.executedPlan.toString.contains("Generate"),
      "list_divider must plan as a Generate node")
  }
}
