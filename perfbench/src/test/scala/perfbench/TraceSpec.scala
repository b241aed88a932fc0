package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def span(id: Long, name: String, parent: Long, start: Long,
                   end: Long): Span = {
    val s = new Span(id, name, parent, start)
    s.endMs = end
    s.durNs = (end - start) * 1000000L
    s
  }

  test("self time subtracts the union of the direct children only") {
    val outer = span(1, "pipelines.etl", 0, 0, 1000)
    val a = span(2, "storage.read", 1, 100, 300)
    val b = span(3, "storage.merge", 1, 250, 600) // overlaps a
    val grandchild = span(4, "lineage.observe", 3, 400, 500)
    val kids = Seq(a, b, grandchild).groupBy(_.parent)
    // children cover [100, 600): 500 ms of the 1000
    assert(Trace.selfS(outer, kids) == 0.5)
    assert(Trace.selfS(b, kids) == 0.25)
    assert(Trace.selfS(grandchild, kids) == 0.1)
  }

  test("children reaching outside their parent are clipped to it") {
    val outer = span(1, "p", 0, 100, 200)
    val kid = span(2, "c", 1, 50, 150)
    assert(Trace.selfS(outer, Seq(kid).groupBy(_.parent)) == 0.05)
  }

  test("covered time merges overlapping and touching intervals") {
    assert(Trace.coveredMs(Seq((0L, 10L), (5L, 20L), (20L, 25L), (30L, 40L)),
      0, 100) == 35)
    assert(Trace.coveredMs(Seq((0L, 10L), (30L, 40L)), 5, 35) == 10)
    assert(Trace.coveredMs(Nil, 0, 10) == 0)
  }

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    Trace.install(spark)
  }

  override def afterAll(): Unit = {
    Trace.enabled = false
    spark.stop()
  }

  test("a job runs against the innermost open span; totals fold upward") {
    Trace.reset()
    Trace.enabled = true
    val dir = java.nio.file.Files.createTempDirectory("trace-spec").toString
    try {
      Trace.span("outer") {
        spark.range(10).count()
        Trace.span("inner") {
          spark.range(100).count()
          spark.range(100).write.parquet(dir + "/t")
        }
      }
      Trace.span("sibling")(spark.range(5).count())
    } finally Trace.enabled = false
    Trace.enabled = true
    Main.drainListener(spark)
    Trace.enabled = false
    val byName = Trace.closed.map(s => s.name -> s).toMap
    val (outer, inner) = (byName("outer"), byName("inner"))
    assert(inner.parent == outer.id)
    assert(byName("sibling").parent == 0L)
    // adaptive execution may split a count into more than one job
    assert(outer.jobs.get >= 1)
    assert(inner.jobs.get >= 2)
    assert(byName("sibling").jobs.get >= 1)
    assert(inner.fsOps.get > 0, "the parquet write's file calls land on inner")
    assert(inner.taskMs.get >= 0 && !inner.tasks.isEmpty)
    val m = Trace.layerMetrics()
    assert(m("outer.jobs") == outer.jobs.get + inner.jobs.get)
    assert(m("outer.fs_ops") >= inner.fsOps.get)
    assert(m("inner.busy_s") <= m("outer.busy_s"))
    assert(m("outer.driver_s") <= m("outer.busy_s"))
  }

  test("with tracing off nothing is recorded") {
    Trace.reset()
    Trace.span("ignored")(spark.range(10).count())
    assert(Trace.closed.isEmpty)
  }
}
