package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that was open on the calling thread (0 at the top); `req` names the
  * request the work belongs to: a question, an input file or a query. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, req: String) {
  def durNs: Long = endNs - startNs
}

/** Span and counter recorder for the traced run. Spans are opened from the
  * benchmark around the calls it makes into each module, and Spark jobs
  * are recorded as spans from a SparkListener, parented to the span that
  * submitted them through the job's local properties. Everything is kept
  * in memory and written out once, at run end.
  *
  * Tracing is switched on per operation (`traced`), so a traced run can
  * interleave traced and untraced operations and report what tracing
  * costs: while it is off the listener is detached and no span is kept. */
final class Trace(sc: SparkContext) {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def msToNano(ms: Long): Long = ms * 1000000L - epochNs0 + nano0

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile private var on = false

  /** Counters summed while tracing is on: engine totals and, under
    * `req:<name>:` keys, per-request shuffle bytes. */
  val counters: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters.synchronized {
    counters(k) += v
  }

  private val jobOpen = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String, String)]()
  private val stageReq = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val parent = prop("perfbench.span").map(_.toLong).getOrElse(0L)
      val req = prop("perfbench.req").getOrElse("")
      // the final stage is named after the job's call site
      val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      jobOpen.put(j.jobId, (msToNano(j.time), parent, req, site))
      j.stageIds.foreach(s => stageReq.put(s, req))
      add("spark.jobs", 1)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobOpen.remove(j.jobId)).foreach { case (start, parent, req, site) =>
        record(Span(nextId.getAndIncrement(), s"job:$site", start,
          msToNano(j.time), parent, req))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      add("spark.tasks", 1)
      if (m != null) {
        add("spark.task_busy_s", m.executorRunTime / 1e3)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        val sw = m.shuffleWriteMetrics.bytesWritten.toDouble
        add("spark.shuffle_write_bytes", sw)
        add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        Option(stageReq.get(t.stageId)).filter(_.nonEmpty)
          .foreach(r => add(s"req:$r:shuffle_write_bytes", sw))
      }
    }
  }

  private def record(s: Span): Unit = spans.synchronized { spans += s }

  /** Hadoop FileSystem statistics, summed over every scheme; in a traced
    * run local-file operations are counted by [[CountingFileSystem]]. */
  private def fsStats(): Array[Double] = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Array(all.map(_.getReadOps.toDouble).sum, all.map(_.getBytesRead.toDouble).sum,
      all.map(_.getWriteOps.toDouble).sum, all.map(_.getBytesWritten.toDouble).sum)
  }
  private val fsNames = Seq("fs.read_ops", "fs.bytes_read", "fs.write_ops", "fs.bytes_written")

  /** Wall time spent with tracing on; the denominator of core use. */
  var tracedWallS = 0.0

  /** Run one operation, traced or not. Returns its wall time in ms. */
  def operation[T](traced: Boolean, name: String, req: String)(f: => T): (T, Double) = {
    if (traced) { sc.addSparkListener(listener); on = true }
    val fs0 = if (traced) fsStats() else null
    val t0 = System.nanoTime()
    try {
      val r = span(name, req)(f)
      (r, (System.nanoTime() - t0) / 1e6)
    } finally if (traced) {
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.PerfbenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
      on = false
      tracedWallS += wall
      fsStats().zip(fs0).map { case (a, b) => a - b }.zip(fsNames)
        .foreach { case (d, n) => add(n, d); add(s"req:$req:$n", d) }
    }
  }

  /** Open a span around `f` when tracing is on; a plain call otherwise. */
  def span[T](name: String, req: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      val prev = (sc.getLocalProperty("perfbench.span"), sc.getLocalProperty("perfbench.req"))
      stack.set(id :: outer)
      sc.setLocalProperty("perfbench.span", id.toString)
      sc.setLocalProperty("perfbench.req", req)
      val t0 = System.nanoTime()
      try f
      finally {
        record(Span(id, name, t0, System.nanoTime(), parent, req))
        stack.set(outer)
        sc.setLocalProperty("perfbench.span", prev._1)
        sc.setLocalProperty("perfbench.req", prev._2)
      }
    }

  /** Record an interval measured by the program itself (e.g. an ingest
    * stage reported through `stageSink`) under the open span. */
  def mark(name: String, startNs: Long, endNs: Long, req: String): Unit =
    if (on) record(Span(nextId.getAndIncrement(), name, startNs, endNs,
      stack.get().headOption.getOrElse(0L), req))

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Children of each span id. */
  def children: Map[Long, Seq[Span]] = all.groupBy(_.parent)

  /** Length of the union of the given intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(Json.render(Seq("id" -> s.id, "name" -> s.name,
        "start_us" -> (s.startNs - nano0) / 1000, "end_us" -> (s.endNs - nano0) / 1000,
        "parent" -> s.parent, "req" -> s.req)))
      w.newLine()
    } finally w.close()
  }

  /** Engine counters for the traced operations, named as in BENCHMARK.json. */
  def engineLayers(cores: Int): Seq[(String, Double)] = {
    val names = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
      "spark.gc_s", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes") ++ fsNames
    names.map(n => n -> counters(n)) :+ ("spark.core_util" ->
      (if (tracedWallS > 0) counters("spark.task_busy_s") / (tracedWallS * cores) else 0.0))
  }
}

/** The local file system with its metadata and open calls counted in the
  * Hadoop FileSystem statistics (the raw local file system counts bytes
  * only). Traced runs install it as `fs.file.impl` through
  * `trace-conf/core-site.xml`, so every Hadoop configuration sees it. */
final class CountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
  // a filter file system never gets its own `statistics` set, so the
  // counts go to one registered under this class
  private val counts = org.apache.hadoop.fs.FileSystem.getStatistics("file", getClass)
  private def read(): Unit = counts.incrementReadOps(1)
  private def write(): Unit = counts.incrementWriteOps(1)
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { read(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { read(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { read(); super.getFileStatus(f) }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable) = {
    write(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { write(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { write(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Boolean = {
    write(); super.mkdirs(f, permission)
  }
}
