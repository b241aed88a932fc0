package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

import graft.storage.{BasicStorage, MatView}
import graft.streaming.StreamingOps

/** An `orders` row as the driver-side model keeps it. */
final case class Order(orderkey: Long, custkey: Long, status: String,
                       price: Double, date: Long, priority: String) {
  def values: Seq[Any] = Seq(orderkey, custkey, status, price, date, priority)
  def row: Row = Row(orderkey, custkey, status, price,
    DateTimeUtils.microsToLocalDateTime(date),
    priority)
}

object Order {
  val schema: StructType = StructType.fromDDL(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING")
  val columns: Seq[String] = schema.fieldNames.toSeq
  def fromRow(r: Row): Order = Order(r.getLong(0), r.getLong(1),
    r.getString(2), r.getDouble(3),
    DateTimeUtils.localDateTimeToMicros(r.getAs[java.time.LocalDateTime](4)), r.getString(5))
}

/** `live`: an open-loop writer commits a captured merge of ~0.5% of the
  * keys of a managed `orders` table (a quarter of the fixture's orders,
  * chosen by the seed) every [[Live.intervalS]] seconds,
  * due on a fixed schedule, while `maintainMatView` (by `o_custkey`) and
  * `replicateStream` follow the table. Lineage off. */
object Live extends Workload {
  val name = "live"
  val intervalS = 8.0
  /** The table keeps the orders whose key is the seed modulo this. */
  val orderShare = 4
  /** One set-up per run: a second costs ~4 s the run budget lacks. */
  val setups = 1
  val minCommits = 2
  /** How long the benchmark waits for the last commit to reach both the
    * view and the replica before calling it missing. */
  val drainLimitS = 30.0
  /** Freshness probe period: the resolution of the freshness figures. */
  val pollMs = 200L
  private val cond = "full.o_orderkey = incremental.o_orderkey"

  final case class Commit(i: Int, dueMs: Long, lateS: Double, writeS: Double,
                          stamp: Long, traced: Boolean)

  /** Every commit's batch is in the feed and reached both targets, and
    * the freshness probe never failed. */
  def allReached(commits: Seq[Commit], feed: Set[Long], stale: Seq[Commit],
                 probeErrors: Seq[String]): Option[String] = {
    val lost = commits.filterNot(c => feed.contains(c.stamp))
    if (stale.nonEmpty)
      Some(s"${stale.size} commits not applied within ${drainLimitS}s: " +
        stale.map(_.i).mkString(","))
    else if (lost.nonEmpty) Some(s"${lost.size} commit stamps missing from the feed")
    else probeErrors.headOption.map("lag probe failed: " + _)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rng = new SplittableRandom(ctx.seed)
    val ops = new Main.Ops
    val st = new BasicStorage(spark)

    val ((base, baseOrders), genS) = Main.timed {
      val df = spark.read.parquet(ctx.data + "/orders.parquet")
        .filter(pmod(col("o_orderkey"), lit(orderShare.toLong)) ===
          lit(Math.floorMod(ctx.seed, orderShare.toLong)))
        .select(Order.columns.map(col): _*).localCheckpoint(true)
      (df, df.collect().map(Order.fromRow))
    }
    val model = mutable.HashMap.from(baseOrders.iterator.map(o => o.orderkey -> o))
    val keys = mutable.ArrayBuffer.from(baseOrders.iterator.map(_.orderkey))
    var nextKey = baseOrders.map(_.orderkey).max + 1

    /** The next batch of changes: half updates, half inserts. */
    def changes(): Seq[Order] = {
      val n = (keys.size / 200).max(2)
      val ups = Seq.fill(n / 2)(keys(rng.nextInt(keys.size))).distinct.map { k =>
        model(k).copy(status = Seq("O", "F", "P")(rng.nextInt(3)),
          price = (rng.nextInt(50000000) + 100000) / 100.0)
      }
      val ins = (0 until n - n / 2).map { i =>
        Order(nextKey + i, 1 + rng.nextInt(15000), "O",
          (rng.nextInt(50000000) + 100000) / 100.0,
          694224000000000L + rng.nextInt(2400) * 86400000000L,
          s"${1 + rng.nextInt(5)}-PRIO")
      }
      nextKey += n
      ups ++ ins
    }
    def apply(cs: Seq[Order]): Unit = cs.foreach { o =>
      if (!model.contains(o.orderkey)) keys += o.orderkey
      model(o.orderkey) = o
    }
    def frame(cs: Seq[Order]) =
      spark.createDataFrame(java.util.Arrays.asList(cs.map(_.row): _*),
        Order.schema)

    // every set-up applies the same warm-up commit to its own table
    val warmup = changes()
    apply(warmup)
    // the tables and the view are set up several times; the streams
    // start once, on the last set
    def setupOnce(i: Int): (String, String, String, Double) = {
      val root = ctx.dir(s"live/setup-$i")
      val (src, view, rep) = (root + "/orders", root + "/by_customer",
        root + "/replica")
      val (_, s) = Main.timed {
        st.write(base, src, "delta", "overwrite")
        st.write(base, rep, "delta", "overwrite")
        MatView.create(spark, st, src, view, Seq("o_custkey"), "o_totalprice")
      }
      (src, view, rep, s)
    }
    val setupRuns = (1 to setups).map(setupOnce)
    val (src, view, rep, _) = setupRuns.last
    val (queries, startS) = Main.timed {
      // the replica follows the change feed, which the first captured
      // merge creates
      st.merge(frame(warmup), src, cond, captureChanges = true)
      val root = new java.io.File(src).getParent
      val mv = StreamingOps.maintainMatView(spark, st, view, root + "/cp-view")
      val rp = StreamingOps.replicateStream(spark, st, src, rep,
        Seq("o_orderkey"), root + "/cp-replica")
      mv.processAllAvailable(); rp.processAllAvailable()
      Seq(mv, rp)
    }
    val setupS = setupRuns.map(_._4 + genS + startS)
    Trace.nameStream(queries(0).id.toString, "streaming.matview")
    Trace.nameStream(queries(1).id.toString, "streaming.replicate")

    // freshness: a commit is fresh once the view's and the replica's
    // applied watermarks both reach its stamp. The probe only sees that
    // once per probe; the moment a target got there is the end of the last
    // trigger of its stream before the probe saw it
    val pending = new ConcurrentLinkedQueue[Commit]
    /** (commit, target) -> when the probe first saw the target reach it;
      * target 0 is the view, 1 the replica, as in `queries`. */
    val seen = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]
    val triggerEnds = queries.map(_ => new ConcurrentLinkedQueue[Long])
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent) = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val t = queries.indexWhere(_.id == e.progress.id)
        val dur = e.progress.durationMs.get("triggerExecution")
        if (t >= 0 && dur != null) triggerEnds(t).add(
          java.time.Instant.parse(e.progress.timestamp).toEpochMilli + dur)
      }
    }
    spark.streams.addListener(progress)
    @volatile var polling = true
    val pollErrors = new ConcurrentLinkedQueue[String]
    def applied(path: String): Long = Trace.span("streaming.lag") {
      val r = StreamingOps.lag(spark, path).select("applied_batch").head()
      if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
    }
    val poller = new Thread(() => {
      while (polling || !pending.isEmpty) {
        try {
          if (!pending.isEmpty) {
            val wms = Seq(applied(view), applied(rep))
            val now = System.currentTimeMillis()
            pending.asScala.foreach { c =>
              wms.indices.filter(wms(_) >= c.stamp)
                .foreach(t => seen.putIfAbsent((c.i, t), now))
              if (wms.indices.forall(t => seen.containsKey((c.i, t))))
                pending.remove(c)
            }
          }
        } catch { case NonFatal(e) => pollErrors.add(e.toString) }
        Thread.sleep(pollMs)
      }
    }, "perfbench-freshness")
    poller.setDaemon(true)

    val batches = Iterator.continually(changes())
    val commits = mutable.ArrayBuffer.empty[Commit]
    val nCommits = math.max(minCommits, math.ceil(ctx.seconds / intervalS).toInt)
    val half = if (ctx.traced) nCommits / 2 else nCommits
    poller.start()
    val t0 = System.currentTimeMillis()
    var windowStart = 0L
    (0 until nCommits).foreach { i =>
      val cs = batches.next()
      val df = frame(cs)
      val due = t0 + (i * intervalS * 1000).toLong
      if (i == half) { Trace.enabled = true; windowStart = due }
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val lateS = (System.currentTimeMillis() - due) / 1e3
      ops("merge")(Trace.span("storage.merge")(
        st.merge(df, src, cond, captureChanges = true))).foreach { _ =>
        val writeS = (System.currentTimeMillis() - due) / 1e3
        apply(cs)
        val stamp = Churn.stamps(src).last
        val c = Commit(i, due, lateS, writeS, stamp, Trace.enabled)
        commits += c; pending.add(c)
      }
    }
    val drainDeadline = System.currentTimeMillis() + (drainLimitS * 1000).toLong
    while (!pending.isEmpty && System.currentTimeMillis() < drainDeadline)
      Thread.sleep(20)
    if (ctx.traced) Trace.windows.add((windowStart, System.currentTimeMillis()))
    Trace.enabled = false
    polling = false
    val stale = pending.asScala.toSeq
    pending.clear()
    poller.join(10000)
    queries.foreach(q => try q.processAllAvailable() finally q.stop())
    spark.streams.removeListener(progress)

    // untimed checks
    val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
    val source = st.read(src, "delta")
    val srcHash = Checks.frameHash(source, Order.columns)
    checks += "source equals the model" -> Checks.same("source", srcHash,
      Checks.rowsHash(model.valuesIterator.map(_.values), Order.schema))
    checks += "replica equals the source" -> Checks.same("replica",
      Checks.frameHash(st.read(rep, "delta"), Order.columns), srcHash)
    checks += "view" -> Checks.viewMatches(MatView.read(spark, view), source,
      "o_custkey", "o_totalprice")
    checks += "every committed batch reached view and replica" ->
      allReached(commits.toSeq, Churn.stamps(src).toSet, stale,
        pollErrors.asScala.toSeq)

    val freshness = commits.toSeq.filterNot(stale.contains).map { c =>
      val committed = c.dueMs + (c.writeS * 1000).toLong
      val reached = queries.indices.map { t =>
        val sawAt = seen.get((c.i, t))
        triggerEnds(t).asScala.filter(e => e >= committed && e <= sawAt)
          .maxOption.getOrElse(sawAt)
      }
      (c, (reached.max - c.dueMs) / 1e3)
    }
    val fresh_s = freshness.map(_._2)
    val writes = commits.map(_.writeS).toSeq
    val spaceAmp = FileTree.bytes(src).toDouble / FileTree.dataBytes(src)

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val windowMs = Trace.windowMs.max(1L).toDouble
      val trig = Trace.closed.groupBy(_.name)
      def busyFrac(n: String) =
        trig.getOrElse(n, Nil).map(_.durNs / 1e6).sum / windowMs
      val on = freshness.filter(_._1.traced).map(_._2)
      val off = freshness.filterNot(_._1.traced).map(_._2)
      Map(
        "streaming.matview.busy_frac" -> busyFrac("streaming.matview"),
        "streaming.replicate.busy_frac" -> busyFrac("streaming.replicate"),
        "bench.generator_late_max_s" ->
          commits.filter(_.traced).map(_.lateS).maxOption.getOrElse(0.0),
        "storage.table.data_files" -> FileTree.dataFiles(src).toDouble,
        "storage.table.oplog_files" ->
          FileTree.count(graft.storage.GraftLog.logPath(src)).toDouble) ++
        (if (on.nonEmpty && off.nonEmpty) Map("tracing.overhead_frac" ->
          (Stats.median(on) / Stats.median(off) - 1)) else Map.empty)
    }
    Outcome(
      setupS = setupS,
      steps = Series("freshness_s", fresh_s),
      detail = Seq(
        "setup_s" -> (Stats.median(setupS), "s"),
        "write_p50_s" -> (Stats.median(writes), "s"),
        "write_tail_s" -> (Stats.tail(writes).map(_._2).getOrElse(Double.NaN), "s"),
        "freshness_p50_s" -> (Stats.median(fresh_s), "s"),
        "freshness_tail_s" ->
          (Stats.tail(fresh_s).map(_._2).getOrElse(Double.NaN), "s"),
        "space_amp" -> (spaceAmp, "ratio")),
      series = Seq(Series("write_s", writes)),
      inputs = Json.obj(
        "source" -> Json.Str("orders"),
        "rows" -> Json.Num(baseOrders.length),
        "bytes" -> Json.Num(FileTree.bytes(ctx.data + "/orders.parquet")),
        "commits" -> Json.Num(nCommits),
        "interval_s" -> Json.Num(intervalS),
        "rows_per_commit" -> Json.Num(warmup.size)),
      checks = checks.toSeq,
      attempted = ops.attempted,
      failedOps = ops.failures.size,
      layers = layers,
      notes = Seq("generator_late_max_s" ->
        Json.Num(commits.map(_.lateS).maxOption.getOrElse(0.0)),
        "freshness_by_commit_s" -> Json.Arr(fresh_s.map(Json.Num))))
  }
}
