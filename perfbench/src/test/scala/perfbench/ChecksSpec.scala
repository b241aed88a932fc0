package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each correctness check passes on the right expected state and fails
  * on a deliberately wrong one. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit =
    spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val t0 = 694224000000000L
  private def lines = Seq(
    Line(1, 10, 7, 1, 5.0, 100.25, 0.05, 0.01, "A", "F", t0),
    Line(1, 11, 8, 2, 6.0, 200.50, 0.00, 0.02, "N", "O", t0 + 86400000000L),
    Line(2, 12, 7, 1, 7.0, 300.75, 0.10, 0.00, "R", "F", t0))
  private def table(ls: Seq[Line]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(ls.map(_.row): _*), Line.schema)
  private def model(ls: Seq[Line]) =
    Checks.rowsHash(ls.iterator.map(_.values), Line.schema)

  test("table vs model: the driver digest matches Spark's, in any order") {
    val got = Checks.frameHash(table(lines), Line.columns)
    assert(Checks.same("table", got, model(lines.reverse)).isEmpty)
  }

  test("table vs model fails on a changed value, a missing row or a duplicate") {
    val got = Checks.frameHash(table(lines), Line.columns)
    val changed = lines.updated(1, lines(1).copy(price = 200.51))
    assert(Checks.same("table", got, model(changed)).nonEmpty)
    assert(Checks.same("table", got, model(lines.tail)).nonEmpty)
    assert(Checks.same("table", got, model(lines :+ lines.head)).nonEmpty)
  }

  test("orders vs model fails on a wrong expected state") {
    val os = Seq(Order(1, 5, "O", 10.5, t0, "1-PRIO"),
      Order(2, 6, "F", 20.25, t0, "2-PRIO"))
    val df = spark.createDataFrame(java.util.Arrays.asList(os.map(_.row): _*),
      Order.schema)
    val got = Checks.frameHash(df, Order.columns)
    def m(xs: Seq[Order]) = Checks.rowsHash(xs.iterator.map(_.values), Order.schema)
    assert(Checks.same("orders", got, m(os)).isEmpty)
    assert(Checks.same("orders", got, m(os.map(_.copy(status = "P")))).nonEmpty)
  }

  private def view(rows: Seq[(Long, Long, String, Double, Double)]) =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, c, s, mn, mx) =>
      Row(k, c, new java.math.BigDecimal(s), mn, mx) }: _*),
      StructType.fromDDL("l_suppkey BIGINT, cnt BIGINT, sum DECIMAL(38,2), " +
        "min DOUBLE, max DOUBLE"))

  test("view vs recompute passes on the right view and fails on a wrong one") {
    val right = view(Seq((7L, 2L, "401.00", 100.25, 300.75),
      (8L, 1L, "200.50", 200.50, 200.50)))
    assert(Checks.viewMatches(right, table(lines), "l_suppkey",
      "l_extendedprice").isEmpty)
    val staleMax = view(Seq((7L, 2L, "401.00", 100.25, 299.00),
      (8L, 1L, "200.50", 200.50, 200.50)))
    assert(Checks.viewMatches(staleMax, table(lines), "l_suppkey",
      "l_extendedprice").nonEmpty)
    val extraGroup = view(Seq((7L, 2L, "401.00", 100.25, 300.75),
      (8L, 1L, "200.50", 200.50, 200.50), (9L, 0L, "0.00", 0.0, 0.0)))
    assert(Checks.viewMatches(extraGroup, table(lines), "l_suppkey",
      "l_extendedprice").nonEmpty)
  }

  private val corpus = Corpus(
    docs = Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), eval = Nil,
    exactDups = Seq(3L), nearDups = Seq(4L), overlaps = Seq(2L),
    pii = Seq(1L -> "user.1@host1.example.org"))

  private def packed(rows: Seq[(Long, Long, Long, Long)]) =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (id, s, b, n) =>
      Row(id, s, b, n) }: _*),
      StructType.fromDDL("doc_id BIGINT, shard BIGINT, bin BIGINT, n_tokens BIGINT"))
  private def redacted(rows: Seq[(Long, String)]) = Curate.frame(spark, rows)
  private def failing(cs: Seq[(String, Option[String])]) =
    cs.collect { case (k, Some(_)) => k }.toSet

  test("curate checks pass when every plant is handled") {
    val ok = Curate.check(corpus, packed(Seq((1L, 0L, 0L, 700L), (1L, 0L, 0L, 600L))),
      redacted(Seq(1L -> "mail <EMAIL> now")))
    assert(failing(ok).isEmpty)
  }

  test("each curate check fails on its own planted defect") {
    val dup = Curate.check(corpus, packed(Seq((1L, 0L, 0L, 10L), (3L, 0L, 0L, 10L),
      (4L, 0L, 1L, 10L), (2L, 0L, 2L, 10L))), redacted(Seq(1L -> "<EMAIL>")))
    assert(failing(dup) == Set("exact duplicates removed",
      "near duplicates removed", "eval overlaps removed"))
    // before its last chunk the bin already holds 1100 of 1024 tokens
    val over = Curate.check(corpus, packed(Seq((1L, 0L, 0L, 700L),
      (1L, 0L, 0L, 600L), (1L, 0L, 0L, 500L))), redacted(Seq(1L -> "<EMAIL>")))
    assert(failing(over) == Set("bins within budget"))
    val leak = Curate.check(corpus, packed(Seq((1L, 0L, 0L, 10L))),
      redacted(Seq(1L -> "write to user.1@host1.example.org")))
    assert(failing(leak) == Set("planted PII redacted"))
  }

  test("live: a commit that is stale, lost or unprobed fails the batch check") {
    val c1 = Live.Commit(0, 0L, 0.0, 1.0, 100L, traced = false)
    val c2 = Live.Commit(1, 0L, 0.0, 1.0, 200L, traced = false)
    assert(Live.allReached(Seq(c1, c2), Set(100L, 200L), Nil, Nil).isEmpty)
    assert(Live.allReached(Seq(c1, c2), Set(100L, 200L), Seq(c2), Nil).nonEmpty)
    assert(Live.allReached(Seq(c1, c2), Set(100L), Nil, Nil).nonEmpty)
    assert(Live.allReached(Seq(c1), Set(100L), Nil, Seq("timeout")).nonEmpty)
  }
}
