package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer. Jobs, tasks and file-system calls are
  * attributed to the innermost span open on the thread that caused them;
  * [[Trace.layerMetrics]] folds children into their ancestors. */
final class Span(val id: Long, val name: String, val parent: Long,
                 @volatile var startMs: Long) {
  @volatile var endMs: Long = -1L
  @volatile var durNs: Long = 0L
  val jobs = new AtomicLong
  val taskMs = new AtomicLong
  val maxTaskMs = new AtomicLong
  val fsOps = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  /** (launch, finish) epoch-ms of every task attributed here. */
  val tasks = new ConcurrentLinkedQueue[(Long, Long)]
}

/** Spans kept in memory for one run. Tracing is off by default: then
  * [[span]] only runs its body and the hooks below record nothing. */
object Trace {
  val SpanKey = "perfbench.span"
  private val QueryIdKey = "sql.streaming.queryId"
  private val BatchIdKey = "streaming.sql.batchId"

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val nextId = new AtomicLong
  val spans = new ConcurrentHashMap[Long, Span]
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  /** Streaming query id -> span name of its triggers. */
  private val queryNames = new ConcurrentHashMap[String, String]
  private val triggers = new ConcurrentHashMap[String, Span]
  /** Every task seen, attributed or not; clipped to [[windows]]. */
  val allTasks = new ConcurrentLinkedQueue[(Long, Long)]
  /** Traced measurement windows (epoch ms), for idle and busy shares. */
  val windows = new ConcurrentLinkedQueue[(Long, Long)]

  def reset(): Unit = {
    spans.clear(); triggers.clear(); allTasks.clear(); windows.clear()
    queryNames.clear(); open.remove()
  }

  /** Hooks a session up for tracing: spans become job-local properties,
    * the listeners start, and `file` paths go through [[CountingFs]]. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new SpanListener)
    spark.streams.addListener(new TriggerListener)
    val conf = sc.hadoopConfiguration
    conf.set("fs.file.impl", classOf[CountingFs].getName)
    // file systems are cached per scheme: drop any made before the switch
    FileSystem.closeAll()
    require(FileSystem.get(new java.net.URI("file:///"), conf)
      .isInstanceOf[CountingFs], "the counting file system did not install")
  }

  def nameStream(queryId: String, spanName: String): Unit =
    queryNames.put(queryId, spanName)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val stack = open.get
      val parent = stack.headOption.map(_.id).getOrElse(inheritedId)
      val s = new Span(nextId.incrementAndGet(), name, parent,
        System.currentTimeMillis())
      spans.put(s.id, s)
      val prev = if (sc != null) sc.getLocalProperty(SpanKey) else null
      open.set(s :: stack)
      if (sc != null) sc.setLocalProperty(SpanKey, s.id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        s.durNs = System.nanoTime() - t0
        s.endMs = System.currentTimeMillis()
        open.set(stack)
        if (sc != null) sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Times `body` as a traced measurement window when tracing is on. */
  def window[A](body: => A): A = {
    val t0 = System.currentTimeMillis()
    try body finally if (enabled) windows.add((t0, System.currentTimeMillis()))
  }

  private def inheritedId: Long =
    if (sc == null) 0L
    else Option(sc.getLocalProperty(SpanKey)).map(_.toLong).getOrElse(0L)

  /** The span a job or a file-system call belongs to, from the job-local
    * properties of the thread or task that made it. A benchmark span id
    * is only ever set while tracing; a streaming trigger is traced when
    * it is seen while tracing is on. */
  private def resolve(prop: String => String): Span = {
    val id = prop(SpanKey)
    if (id != null) spans.get(id.toLong)
    else if (!enabled) null
    else {
      val q = prop(QueryIdKey)
      val b = prop(BatchIdKey)
      val name = if (q == null) null else queryNames.get(q)
      if (name == null || b == null) null else trigger(name, q, b.toLong)
    }
  }

  private def trigger(name: String, queryId: String, batchId: Long): Span =
    triggers.computeIfAbsent(s"$queryId/$batchId", _ => {
      val s = new Span(nextId.incrementAndGet(), name, 0L,
        System.currentTimeMillis())
      spans.put(s.id, s); s
    })

  private[perfbench] def spanForJob(props: java.util.Properties): Span =
    if (props == null) null else resolve(props.getProperty)

  /** Called by [[CountingFs]] on every file-system call. */
  def countFs(): Unit = {
    val tc = TaskContext.get()
    val s =
      if (tc != null) resolve(tc.getLocalProperty)
      else open.get.headOption.orNull match {
        case null if sc != null => resolve(sc.getLocalProperty)
        case other => other
      }
    if (s != null) s.fsOps.incrementAndGet()
  }

  /** Progress of a named streaming query closes one trigger span. */
  def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Unit = if (enabled) {
    val name = queryNames.get(p.id.toString)
    val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue)
    if (name != null && dur.isDefined) {
      val s = trigger(name, p.id.toString, p.batchId)
      s.startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      s.endMs = s.startMs + dur.get
      s.durNs = dur.get * 1000000L
    }
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  // ------------------------------------------------------------ folding

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredMs(intervals: Iterable[(Long, Long)], lo: Long, hi: Long)
      : Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Closed spans grouped by parent id. */
  private def childrenOf(all: Seq[Span]): Map[Long, Seq[Span]] =
    all.groupBy(_.parent)

  /** The span and every span below it. */
  def subtree(s: Span, kids: Map[Long, Seq[Span]]): Seq[Span] =
    s +: kids.getOrElse(s.id, Nil).flatMap(subtree(_, kids))

  /** Wall seconds of `s` not covered by any of its direct children. */
  def selfS(s: Span, kids: Map[Long, Seq[Span]]): Double = {
    val covered = coveredMs(
      kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
      s.startMs, s.endMs)
    (s.durNs / 1e6 - covered).max(0.0) / 1e3
  }

  def closed: Seq[Span] = spans.values.asScala.filter(_.endMs >= 0).toSeq

  /** Per-name totals, each span counted with its whole subtree. Keys are
    * `<span>.busy_s`, `.jobs`, `.task_s`, `.driver_s`, `.fs_ops`,
    * `.shuffle_bytes`, `.spill_bytes`, `.max_task_s` and `.self_s`. */
  def layerMetrics(): Map[String, Double] = {
    val all = closed
    val kids = childrenOf(all)
    val out = scala.collection.mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)
    all.foreach { s =>
      val tree = subtree(s, kids)
      val tasks = tree.flatMap(_.tasks.asScala)
      val busyMs = s.durNs / 1e6
      val runMs = coveredMs(tasks, s.startMs, s.endMs)
      def add(k: String, v: Double): Unit = out(s"${s.name}.$k") += v
      add("busy_s", busyMs / 1e3)
      add("jobs", tree.map(_.jobs.get).sum.toDouble)
      add("task_s", tree.map(_.taskMs.get).sum / 1e3)
      add("driver_s", (busyMs - runMs).max(0.0) / 1e3)
      add("fs_ops", tree.map(_.fsOps.get).sum.toDouble)
      add("shuffle_bytes", tree.map(_.shuffleBytes.get).sum.toDouble)
      add("spill_bytes", tree.map(_.spillBytes.get).sum.toDouble)
      add("self_s", selfS(s, kids))
      val mx = tree.map(_.maxTaskMs.get).maxOption.getOrElse(0L) / 1e3
      out(s"${s.name}.max_task_s") = out(s"${s.name}.max_task_s").max(mx)
    }
    out.toMap
  }

  /** Share of the traced windows in which no task ran. */
  def idleFrac(): Double = {
    val ws = windows.asScala.toSeq
    val total = ws.map { case (a, b) => b - a }.sum
    if (total <= 0) 0.0
    else {
      val tasks = allTasks.asScala.toSeq
      val busy = ws.map { case (a, b) => coveredMs(tasks, a, b) }.sum
      1.0 - busy.toDouble / total
    }
  }

  def windowMs: Long = windows.asScala.map { case (a, b) => b - a }.sum
}

/** Attributes jobs, task time, shuffle and spill to spans. */
class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  @volatile var lastJobEnd: Int = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = Trace.spanForJob(e.properties)
    if (s != null) {
      s.jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd = e.jobId

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val iv = (info.launchTime, info.finishTime)
    Trace.allTasks.add(iv)
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.tasks.add(iv)
      s.taskMs.addAndGet(m.executorRunTime)
      s.maxTaskMs.accumulateAndGet(info.finishTime - info.launchTime,
        (a, b) => a.max(b))
      s.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Closes one trigger span per progress event of a named query. */
class TriggerListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = Trace.onProgress(e.progress)
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The `file` scheme's file system with every call counted. Installed
  * through `fs.file.impl`, so the engine's own `Fs` gateway and any
  * direct `getFileSystem` caller land here alike. Calls the wrapped
  * file system makes to itself are not counted. */
class CountingFs extends FilterFileSystem(new LocalFileSystem) {
  private def hit(): Unit = Trace.countFs()
  override def getScheme: String = "file"
  override def open(f: Path, bufferSize: Int) = { hit(); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable) = {
    hit()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable) = {
    hit(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { hit(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    hit(); super.delete(f, recursive)
  }
  override def listStatus(f: Path) = { hit(); super.listStatus(f) }
  override def getFileStatus(f: Path) = { hit(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    hit(); super.mkdirs(f, permission)
  }
  override def setTimes(p: Path, mtime: Long, atime: Long): Unit = {
    hit(); super.setTimes(p, mtime, atime)
  }
}
