package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.graftshim.TaskTimeListener

/** The engine tracer: span paths nest, Overlap tasks attribute their
  * jobs to `caller/label`, the caller's local properties survive, each
  * span is one Flight Recorder event, and nothing is kept outside a
  * record. */
class TraceSpec extends SparkSpec {

  private def sc = spark.sparkContext

  /** Exactly one Spark job of two tasks. */
  private def oneJob(): Long = sc.parallelize(1 to 10, 2).count()

  test("nested spans give nested paths; jobs outside any span are unattributed") {
    val (_, r) = Trace.record(spark) {
      Trace.span("a") {
        oneJob()
        Trace.span("b") {
          assert(sc.getLocalProperty(Trace.SpanKey) == "a/b")
          oneJob()
          Trace.span("a")(oneJob()) // re-entered: stays a/b
        }
      }
      oneJob()
    }
    assert(r("a").jobs == 1 && r("a/b").jobs == 2, r.tree)
    assert(r("a/b").tasks == 4 && r("a/b").stages == 2, r.tree)
    assert(r("a").spans == 1 && r("a").wallMs >= r("a/b").wallMs, r.tree)
    assert(r.subtree("a").jobs == 3)
    assert(r(Trace.Unattributed).jobs == 1)
    assert(r.jobs == 4 && r.rows.map(_.jobs).sum == 4)
  }

  test("a job started inside an Overlap task is attributed to caller/label") {
    val (_, r) = Trace.record(spark) {
      Trace.span("caller") {
        Overlap.map(Some(spark), Seq(1, 2, 3), 3, "fan")(_ => oneJob())
      }
    }
    assert(r("caller/fan").jobs == 3 && r("caller/fan").spans == 3, r.tree)
    assert(r("caller/fan").threads == 3, r.tree)
    assert(r("caller").jobs == 0, r.tree)
  }

  test("the caller's local properties are unchanged after a span and an Overlap call") {
    val keys = Seq(Trace.SpanKey, "graftbench.span", "spark.jobGroup.id",
      "spark.job.description")
    sc.setJobGroup("spec-caller", "the caller's own group")
    sc.setLocalProperty(Trace.SpanKey, "outer")
    sc.setLocalProperty("graftbench.span", "7")
    val before = keys.map(sc.getLocalProperty)
    try {
      val seen = Trace.span("inner") {
        Overlap.map(Some(spark), Seq(1, 2), 2, "fan") { _ =>
          (sc.getLocalProperty(Trace.SpanKey), sc.getLocalProperty("graftbench.span"))
        } :+ ((sc.getLocalProperty(Trace.SpanKey), sc.getLocalProperty("graftbench.span")))
      }
      assert(seen == Seq(("outer/inner/fan", "7"), ("outer/inner/fan", "7"),
        ("outer/inner", "7")))
      assert(keys.map(sc.getLocalProperty) == before)
      intercept[IllegalStateException](Trace.span("boom")(throw new IllegalStateException))
      assert(keys.map(sc.getLocalProperty) == before)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty(Trace.SpanKey, null)
      sc.setLocalProperty("graftbench.span", null)
    }
  }

  test("each span is one Flight Recorder event carrying its path") {
    val file = Files.createTempFile("graft-trace", ".jfr")
    val rec = new Recording()
    try {
      rec.enable("graft.Span").withThreshold(java.time.Duration.ZERO)
      rec.start()
      Trace.span("jfr.outer") {
        Trace.span("jfr.inner")(())
        Trace.span("jfr.inner")(())
      }
      rec.stop()
      rec.dump(file)
      val paths = RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "graft.Span")
        .map(_.getString("path")).filter(_.startsWith("jfr.")).sorted
      assert(paths == Seq("jfr.outer", "jfr.outer/jfr.inner", "jfr.outer/jfr.inner"))
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  test("count and span outside record leave no retained entries") {
    Trace.span("idle") {
      Trace.count("idle.counter")
      oneJob()
    }
    Trace.count("idle.counter", 5)
    TaskTimeListener.flush(sc)
    val (_, r) = Trace.record(spark)(())
    assert(r.rows.isEmpty && r.jobs == 0, r.tree)
    val (_, counted) = Trace.record(spark) {
      Trace.span("busy")(Trace.count("c", 2))
      Trace.count("c")
    }
    assert(counted("busy").counts == Map("c" -> 2L))
    assert(counted(Trace.Unattributed).counts == Map("c" -> 1L))
    assert(counted.count("c") == 3)
  }
}
