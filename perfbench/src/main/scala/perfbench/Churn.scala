package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

import graft.core.Expectations
import graft.lineage.DataLineageLogger
import graft.pipelines.{FileInput, Output, Pipelines, ValueChecked}
import graft.storage._

/** A `lineitem` row as the driver-side model keeps it. */
final case class Line(orderkey: Long, partkey: Long, suppkey: Long,
                      linenumber: Int, quantity: Double, price: Double,
                      discount: Double, tax: Double, returnflag: String,
                      linestatus: String, shipdate: Long) {
  def key: Long = Line.key(orderkey, linenumber)
  def values: Seq[Any] = Seq(orderkey, partkey, suppkey, linenumber,
    quantity, price, discount, tax, returnflag, linestatus, shipdate)
  def row: Row = Row(orderkey, partkey, suppkey, linenumber, quantity, price,
    discount, tax, returnflag, linestatus,
    DateTimeUtils.microsToLocalDateTime(shipdate))
}

object Line {
  def key(orderkey: Long, linenumber: Int): Long = orderkey * 64 + linenumber
  val schema: StructType = StructType.fromDDL(
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ")
  val columns: Seq[String] = schema.fieldNames.toSeq
  val keys = Seq("l_orderkey", "l_linenumber")
  def fromRow(r: Row): Line = Line(r.getLong(0), r.getLong(1), r.getLong(2),
    r.getInt(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
    r.getDouble(7), r.getString(8), r.getString(9),
    DateTimeUtils.localDateTimeToMicros(r.getAs[java.time.LocalDateTime](10)))
}

/** The benchmark's storage wrapper: reads and merges become spans, so an
  * ETL job's storage calls nest under its `pipelines.etl` span. */
final class SpannedStorage(val inner: BasicStorage) extends Storage {
  def read(path: String, format: String, options: Map[String, String]) =
    Trace.span("storage.read")(inner.read(path, format, options))
  def readStream(path: String, format: String, options: Map[String, String]) =
    inner.readStream(path, format, options)
  def write(df: DataFrame, path: String, format: String, mode: String,
            partitionFields: Seq[String], options: Map[String, String]) =
    inner.write(df, path, format, mode, partitionFields, options)
  def writeStream(df: DataFrame, path: String, format: String,
                  checkpoint: String, partitionFields: Seq[String],
                  options: Map[String, String]): StreamingQuery =
    inner.writeStream(df, path, format, checkpoint, partitionFields, options)
  def merge(df: DataFrame, path: String, mergeCondition: String,
            partitionFields: Seq[String], mergeSchemas: Boolean,
            updateCondition: Option[String], insertCondition: Option[String],
            errorOnMultiMatch: Boolean, deleteCondition: Option[String],
            captureChanges: Boolean): Unit =
    Trace.span("storage.merge")(inner.merge(df, path, mergeCondition,
      partitionFields, mergeSchemas, updateCondition, insertCondition,
      errorOnMultiMatch, deleteCondition, captureChanges))
  def exists(path: String): Boolean = inner.exists(path)
  def registerOutputObserver(o: StorageOutputObserver): Unit =
    inner.registerOutputObserver(o)
}

/** The lineage observer, timed as `lineage.observe`. */
final class SpannedObserver(inner: StorageOutputObserver)
    extends StorageOutputObserver {
  def update(df: DataFrame, outputPath: String): Unit =
    Trace.span("lineage.observe")(inner.update(df, outputPath))
}

/** An ETL output that upserts with the change feed captured. */
final case class CapturedMergeOutput(path: String, mergeCondition: String,
                                     schema: Option[StructType],
                                     storage: Storage,
                                     expectations: Seq[Expectations.Rule])
    extends Output with ValueChecked {
  def load(spark: SparkSession, df: DataFrame): Unit =
    storage.merge(df, path, mergeCondition, captureChanges = true)
}

/** `churn`: closed-loop upsert / delete / read / refresh rounds over a
  * managed `lineitem` table with a min/max view over `l_suppkey`, and
  * every [[Churn.extrasEvery]]-th round a time-travel read, a restore and
  * an optimize + vacuum. One client; lineage on. The run budget allows
  * one round per run, so the round is the table's first: cold. */
object Churn extends Workload {
  val name = "churn"
  val extrasEvery = 1
  /** One set-up per run: a second costs ~3 s the run budget lacks. */
  val setups = 1
  /** The table keeps the orders whose key is the seed modulo this. */
  val orderShare = 16
  /** Rounds measured however short the run. A traced run measures three:
    * a cold one, the traced one, and a warm one to compare it against. */
  val minRounds = 1
  private val cond = "full.l_orderkey = incremental.l_orderkey AND " +
    "full.l_linenumber = incremental.l_linenumber"

  /** Stamps of the table's change batches, from its feed directory. */
  def stamps(table: String): Seq[Long] =
    Option(new File(table, Merge.ChangesDirName).list()).toSeq.flatten
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
      .sorted

  /** Rows whose salted key hash falls in one of 200 buckets: the delete's
    * bulk, about 0.5% of rows, evaluable in SQL and in the model alike. */
  def saltedHit(l: Line, salt: Long): Boolean =
    java.lang.Math.floorMod(l.orderkey * 7919 + l.linenumber * 104729L + salt,
      200L) == 0
  def saltedSql(salt: Long): String =
    s"pmod(l_orderkey * 7919 + l_linenumber * 104729 + $salt, 200) = 0"

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rng = new SplittableRandom(ctx.seed)
    val ops = new Main.Ops

    // input generation: the base table, and the model of it
    // the fixture repeats (l_orderkey, l_linenumber) pairs; line numbers
    // are renumbered within each order so the pair is the table's key
    val (base, genS) = Main.timed {
      val raw = spark.read.parquet(ctx.data + "/lineitem.parquet")
        .select(Line.columns.map(col): _*)
      val order = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy(Line.columns.tail.map(col): _*)
      raw.filter(pmod(col("l_orderkey"), lit(orderShare.toLong)) ===
          lit(Math.floorMod(ctx.seed, orderShare.toLong)))
        .withColumn("l_linenumber", row_number().over(order))
        .select(Line.columns.map(col): _*).localCheckpoint(true)
    }
    val (baseLines, loadS) = Main.timed(base.collect().map(Line.fromRow))
    val basicStorage = GraftStorage.configure(spark,
      trackLineage = !ctx.traced) match {
      case b: BasicStorage => b
      case other => throw new IllegalStateException(
        s"expected direct storage, got ${other.getClass}")
    }
    if (ctx.traced) basicStorage.registerOutputObserver(new SpannedObserver(
      new DataLineageLogger(spark.sparkContext.getConf
        .get("io.jorvik.data_lineage.log_path"))))
    val st = new SpannedStorage(basicStorage)

    def setupOnce(i: Int): (String, String, Double) = {
      val root = ctx.dir(s"churn/setup-$i")
      val (table, view) = (root + "/lineitem", root + "/by_supplier")
      val (_, s) = Main.timed {
        basicStorage.write(base, table, "delta", "overwrite")
        MatView.create(spark, basicStorage, table, view, Seq("l_suppkey"),
          "l_extendedprice")
        st.read(table, "delta").groupBy("l_returnflag").count().collect()
        MatView.refresh(spark, basicStorage, view)
      }
      (table, view, s)
    }
    val setupRuns = (1 to setups).map(setupOnce)
    val (table, view, _) = setupRuns.last

    // the model: current state plus the state at the end of each round
    var model = scala.collection.immutable.HashMap.from(
      baseLines.iterator.map(l => l.key -> l))
    val keysBuf = mutable.ArrayBuffer.from(baseLines.iterator.map(_.key))
    val keyIndex = mutable.HashMap.from(keysBuf.iterator.zipWithIndex)
    def addKey(k: Long): Unit = if (!keyIndex.contains(k)) {
      keyIndex(k) = keysBuf.size; keysBuf += k
    }
    def dropKey(k: Long): Unit = keyIndex.remove(k).foreach { i =>
      val last = keysBuf.last
      keysBuf(i) = last; keysBuf.dropRightInPlace(1)
      if (last != k) keyIndex(last) = i
    }
    def resetKeys(m: Map[Long, Line]): Unit = {
      keysBuf.clear(); keyIndex.clear(); m.keysIterator.foreach(addKey)
    }
    val endOfRound = mutable.ArrayBuffer[(Long, Map[Long, Line])](
      (Long.MinValue, model))
    var nextOrder = baseLines.map(_.orderkey).max + 1

    val upserts, deletes, reads, refreshes, travels, restores =
      mutable.ArrayBuffer.empty[Double]
    var optimizeS = 0.0
    val steps = mutable.ArrayBuffer.empty[(Int, Boolean, Boolean, Double)]
    val observed = mutable.ArrayBuffer.empty[(String, RowHash, Map[Long, Line])]
    val modelMismatch = mutable.ArrayBuffer.empty[String]
    val refreshModes = mutable.ArrayBuffer.empty[MatViewRefresh]
    val changesDir = ctx.dir("churn/changes")
    def doRound(round: Int, traced: Boolean, extras: Boolean): Unit = {
      // untimed: this round's change file, ~1% of keys
      val n = (model.size / 100).max(2)
      val updates = (0 until n / 2).iterator
        .map(_ => keysBuf(rng.nextInt(keysBuf.size))).distinct.toSeq
        .map { (k: Long) =>
          val l = model(k)
          l.copy(quantity = 1 + rng.nextInt(50).toDouble,
            price = (rng.nextInt(10000000) + 90000) / 100.0,
            suppkey = if (rng.nextInt(4) == 0) 1 + rng.nextInt(1000) else l.suppkey)
        }
      val inserts = (0 until n - n / 2).map { i =>
        val ok = nextOrder + i / 4
        Line(ok, 1 + rng.nextInt(20000), 1 + rng.nextInt(1000), 1 + i % 4,
          1 + rng.nextInt(50), (rng.nextInt(10000000) + 90000) / 100.0,
          rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
          Seq("A", "N", "R")(rng.nextInt(3)), Seq("O", "F")(rng.nextInt(2)),
          694224000000000L + rng.nextInt(2500) * 86400000000L)
      }
      nextOrder += (n - n / 2) / 4 + 1
      val changes = updates ++ inserts
      val changePath = s"$changesDir/round-$round.parquet"
      spark.createDataFrame(java.util.Arrays.asList(changes.map(_.row): _*),
        Line.schema).coalesce(1).write.parquet(changePath)
      val salt = rng.nextLong() & 0xffffffL
      val extremeSupps = Seq.fill(8)(1L + rng.nextInt(1000)).distinct

      var stepS = 0.0
      var coreS = 0.0
      val body = () => {
        // (1) the upsert, as an ETL job
        val etl = Pipelines.etl(
          Seq(FileInput(changePath, "parquet", schema = Some(Line.schema),
            storage = Some(st),
            expectations = Seq(Expectations.NotNull("l_orderkey"),
              Expectations.Unique(Line.keys)))),
          Seq(CapturedMergeOutput(table, cond, Some(Line.schema), st,
            Seq(Expectations.NotNull("l_linenumber")))))(identity)
        ops("upsert")(Main.timed(Trace.span("pipelines.etl")(etl.run(spark))))
          .foreach { case (_, s) =>
            upserts += s; stepS += s
            changes.foreach { l => model = model.updated(l.key, l); addKey(l.key) }
          }
        // (2) the delete: salted bulk plus some suppliers' extremes
        val extremes = model.valuesIterator
          .filter(l => extremeSupps.contains(l.suppkey))
          .toSeq.groupBy(_.suppkey).toSeq.sortBy(_._1).map(_._2)
          .flatMap(g => Seq(g.maxBy(l => (l.price, l.key)),
            g.minBy(l => (l.price, l.key)))).toSeq
        val condition = (saltedSql(salt) +: extremes.map(l =>
          s"(l_orderkey = ${l.orderkey} AND l_linenumber = ${l.linenumber})"))
          .mkString(" OR ")
        val gone = model.valuesIterator
          .filter(l => saltedHit(l, salt)).map(_.key).toSet ++
          extremes.map(_.key)
        ops("delete")(Main.timed(Trace.span("storage.delete")(
          Delete.where(spark, basicStorage, table, condition,
            captureChanges = true)))).foreach { case (deleted, s) =>
          deletes += s; stepS += s
          if (deleted != gone.size) modelMismatch +=
            s"round $round deleted $deleted rows, model says ${gone.size}"
          model = model -- gone; gone.foreach(dropKey)
        }
        // (3) snapshot read plus grouped aggregate
        ops("read")(Main.timed(Trace.span("storage.read")(
          st.read(table, "delta").groupBy("l_returnflag", "l_linestatus")
            .agg(count(lit(1))).collect()))).foreach { case (rows, s) =>
          reads += s; stepS += s
          val got = rows.map(r => (r.getString(0), r.getString(1)) ->
            r.getLong(2)).toMap
          val want = mutable.HashMap.empty[(String, String), Long]
            .withDefaultValue(0L)
          model.valuesIterator.foreach(l => want((l.returnflag, l.linestatus)) += 1)
          if (got != want.toMap) modelMismatch +=
            s"round $round read aggregate $got, model says $want"
        }
        // (4) the view refresh
        ops("refresh")(Main.timed(Trace.span("storage.matview_refresh")(
          MatView.refresh(spark, basicStorage, view)))).foreach { case (r, s) =>
          refreshes += s; refreshModes += r; stepS += s
        }
        coreS = stepS
        if (extras) {
          val back = 1 + rng.nextInt(3)
          val (stamp, want) = endOfRound(math.max(0, endOfRound.size - back))
          // the read's count comes with its row digest, in one job
          ops("time_travel")(Main.timed(Trace.span("storage.time_travel")(
            Checks.frameHash(Merge.readAsOf(spark, basicStorage, table,
              Line.keys, stamp), Line.columns)))).foreach { case (got, s) =>
            travels += s; stepS += s
            observed += ((s"time travel in round $round to $stamp", got, want))
          }
          ops("restore")(Main.timed(Trace.span("storage.restore")(
            Restore.toStamp(spark, basicStorage, table, Line.keys, stamp))))
            .foreach { case (_, s) =>
              restores += s; stepS += s
              model = scala.collection.immutable.HashMap.from(want)
              resetKeys(model)
              observed += ((s"restore in round $round to $stamp",
                Checks.frameHash(st.read(table, "delta"), Line.columns), want))
            }
          ops("optimize")(Main.timed(Trace.span("storage.optimize") {
            Optimize.run(spark, basicStorage, table)
            Optimize.vacuum(spark, table)
          })).foreach { case (_, s) =>
            optimizeS += s; stepS += s
          }
        }
      }
      Trace.enabled = traced
      if (traced) Trace.window(body()) else body()
      Trace.enabled = false
      steps += ((round, traced, extras, coreS))
      endOfRound += ((stamps(table).lastOption.getOrElse(Long.MinValue), model))
    }
    val setupS = setupRuns.map(_._3 + genS + loadS)
    val t0 = System.nanoTime()
    var round = 0
    val rounds = if (ctx.traced) 3 else minRounds
    while (round < rounds || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      round += 1
      doRound(round, traced = ctx.traced && round == 2,
        extras = round % extrasEvery == 0)
    }

    // untimed checks against the model
    val checks = mutable.ArrayBuffer.empty[(String, Option[String])]
    def modelHash(m: Map[Long, Line]) =
      Checks.rowsHash(m.valuesIterator.map(_.values), Line.schema)
    checks += "final table" -> Checks.same("final table",
      Checks.frameHash(st.read(table, "delta"), Line.columns), modelHash(model))
    observed.foreach { case (what, got, want) =>
      checks += what -> Checks.same(what, got, modelHash(want)) }
    // the last round may end with a restore after its refresh
    MatView.refresh(spark, basicStorage, view)
    checks += "view" -> Checks.viewMatches(MatView.read(spark, view),
      st.read(table, "delta"), "l_suppkey", "l_extendedprice")
    checks += "operations agree with the model" ->
      modelMismatch.headOption.map(m => s"${modelMismatch.size} mismatches; $m")

    val spaceAmp = FileTree.bytes(table).toDouble / FileTree.dataBytes(table)

    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val on = steps.filter(_._2).map(_._4).toSeq
      // the first round runs cold; it is not the baseline
      val off = steps.filter(s => !s._2 && s._1 > 1).map(_._4).toSeq
      val nRefresh = refreshModes.size.max(1)
      Map(
        "storage.matview_refresh.incremental_frac" ->
          refreshModes.count(_.mode == "incremental").toDouble / nRefresh,
        "storage.matview_refresh.groups_rescanned" ->
          refreshModes.map(_.groupsRescanned).sum.toDouble,
        "storage.table.data_files" -> FileTree.dataFiles(table).toDouble,
        "storage.table.oplog_files" ->
          FileTree.count(GraftLog.logPath(table)).toDouble) ++
        (if (on.nonEmpty && off.nonEmpty) Map("tracing.overhead_frac" ->
          (Stats.median(on) / Stats.median(off) - 1)) else Map.empty)
    }
    val stepSeries = Series("round_s", steps.map(_._4).toSeq)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    Outcome(
      setupS = setupS,
      steps = stepSeries,
      detail = Seq(
        "setup_s" -> (Stats.median(setupS), "s"),
        "write_p50_s" -> (p50(upserts.toSeq), "s"),
        "write_tail_s" -> (Stats.tail(upserts.toSeq).map(_._2)
          .getOrElse(Double.NaN), "s"),
        "delete_p50_s" -> (p50(deletes.toSeq), "s"),
        "read_p50_s" -> (p50(reads.toSeq), "s"),
        "refresh_p50_s" -> (p50(refreshes.toSeq), "s"),
        "time_travel_p50_s" -> (p50(travels.toSeq), "s"),
        "restore_p50_s" -> (p50(restores.toSeq), "s"),
        "optimize_s" -> (optimizeS, "s"),
        "space_amp" -> (spaceAmp, "ratio")),
      series = Seq(Series("write_s", upserts.toSeq),
        Series("delete_s", deletes.toSeq), Series("read_s", reads.toSeq),
        Series("refresh_s", refreshes.toSeq),
        Series("time_travel_s", travels.toSeq),
        Series("restore_s", restores.toSeq)),
      inputs = Json.obj(
        "source" -> Json.Str("lineitem"),
        "rows" -> Json.Num(baseLines.length),
        "bytes" -> Json.Num(FileTree.bytes(ctx.data + "/lineitem.parquet")),
        "rounds" -> Json.Num(round),
        "change_rows_per_round" -> Json.Num((baseLines.length / 100).max(2))),
      checks = checks.toSeq,
      attempted = ops.attempted,
      failedOps = ops.failures.size,
      layers = layers,
      notes = Seq("refresh_modes" -> Json.Arr(refreshModes.map(r =>
        Json.Str(r.mode)).toSeq)))
  }
}

/** Local file-tree sizes and counts. */
object FileTree {
  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.iterator.flatMap(walk)
    else Iterator(f)
  def bytes(path: String): Long = walk(new File(path)).map(_.length).sum
  def count(path: String): Long = walk(new File(path)).size.toLong
  /** Parquet data files of a table's current snapshot, outside its
    * underscore sidecars: a plain parquet write of its live rows. */
  private def data(table: String): Iterator[File] = {
    val root = new File(table)
    walk(root).filter { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      f.getName.endsWith(".parquet") && !rel.split('/').exists(_.startsWith("_"))
    }
  }
  def dataFiles(table: String): Long = data(table).size.toLong
  def dataBytes(table: String): Long = data(table).map(_.length).sum
}
