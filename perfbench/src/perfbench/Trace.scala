package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.{UpsertSink, ViewDef}

/** A timed interval recorded by benchmark code around a call into one
  * layer. Wall-clock millis (to line up with Spark's job event times) and
  * nanos (for the duration). `batch` is the micro-batch or query ordinal
  * the span belongs to; `view` the view whose work it is, if any. */
final case class Span(name: String, batch: Long, view: String,
    startMs: Long, endMs: Long, startNs: Long, nanos: Long) {
  def secs: Double = nanos / 1e9
}

/** One Spark job as the listener saw it: the bench span that was open on
  * the submitting thread, the batch, and the source file of its call
  * site (the first frame outside Spark). Stage totals are folded in as
  * the stages complete. */
final class JobRec(val id: Int, val span: String, val view: String,
    val batch: Long, var file: String, val execution: String, val startMs: Long) {
  var endMs: Long = startMs
  var done = false
  var stages = 0
  var tasks = 0
  var shuffleBytes = 0L
  var spillBytes = 0L
  def secs: Double = (endMs - startMs) / 1e3
}

/** In-memory trace of one run. Everything is recorded from benchmark code:
  * spans around the calls it makes into the program's public functions,
  * a `SparkListener` for jobs and stages, and file-system walks. Nothing
  * is written out until the run ends. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  @volatile var currentView: String = ""

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      // the result stage is named after the job's call site
      val file = e.stageInfos.maxByOption(_.stageId).map(si => callSiteFile(si.name))
        .getOrElse("?")
      val rec = new JobRec(e.jobId, prop(SpanProp).getOrElse(""),
        prop(ViewProp).getOrElse(""), prop(BatchProp).map(_.toLong).getOrElse(-1L), file,
        prop("spark.sql.execution.id").getOrElse(""), e.time)
      jobs(e.jobId) = rec
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach { j => j.endMs = e.time; j.done = true }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      stageJob.get(info.stageId).flatMap(jobs.get).foreach { j =>
        j.stages += 1
        j.tasks += info.numTasks
        Option(info.taskMetrics).foreach { m =>
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as span `name`: the span name and batch ride on the
    * thread's local properties, so the listener can attribute the jobs
    * `body` submits. Spans nest; the previous properties are restored. */
  def span[T](name: String, batch: Long, view: String = "")(body: => T): T = {
    val prevSpan = sc.getLocalProperty(SpanProp)
    val prevBatch = sc.getLocalProperty(BatchProp)
    val prevView = sc.getLocalProperty(ViewProp)
    sc.setLocalProperty(SpanProp, name)
    sc.setLocalProperty(BatchProp, batch.toString)
    if (view.nonEmpty) sc.setLocalProperty(ViewProp, view)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val s = Span(name, batch, view, ms0, System.currentTimeMillis(), t0,
        System.nanoTime() - t0)
      synchronized(spans += s)
      sc.setLocalProperty(SpanProp, prevSpan)
      sc.setLocalProperty(BatchProp, prevBatch)
      sc.setLocalProperty(ViewProp, prevView)
    }
  }

  /** Wait until the listener has seen every job submitted so far: the
    * listener bus delivers in order, so once a marker job's end event has
    * arrived, so has everything before it. */
  def drain(): Unit = {
    sc.setLocalProperty(SpanProp, MarkerSpan)
    sc.setLocalProperty(BatchProp, null)
    sc.setLocalProperty(ViewProp, null)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanProp, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def seen = synchronized(jobs.values.exists(j => j.span == MarkerSpan && j.done))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
    synchronized {
      jobs.filterInPlace((_, j) => j.span != MarkerSpan)
      // a job submitted from a pool thread (an adaptive query stage) has no
      // program frame on its stack: it takes the call site of a job of the
      // same SQL execution that has one
      val byExecution = jobs.values.filter(j => j.execution.nonEmpty && !poolFrame(j.file))
        .map(j => j.execution -> j.file).toMap
      jobs.values.filter(j => poolFrame(j.file)).foreach { j =>
        byExecution.get(j.execution).foreach(j.file = _)
      }
    }
  }

  private def poolFrame(file: String): Boolean =
    Set("CompletableFuture", "FutureTask", "ThreadPoolExecutor", "ForkJoinTask", "Thread")(file)

  def stop(): Unit = sc.removeSparkListener(listener)

  def spansOf(batch: Long): Seq[Span] = synchronized(spans.filter(_.batch == batch).toSeq)
  def jobsOf(batch: Long): Seq[JobRec] = synchronized(jobs.values.filter(_.batch == batch).toSeq)

  /** Wrap a view so its maintenance runs inside a `view.<name>.maintain`
    * span and the sink calls that follow are billed to it. */
  def wrap(v: ViewDef, batchOf: () => Long): ViewDef =
    v.copy(maintain = (pre, post, batch, ctx) => {
      currentView = v.name
      span(s"view.${v.name}.maintain", batchOf(), v.name)(v.maintain(pre, post, batch, ctx))
    })
}

object Trace {
  val SpanProp = "perfbench.span"
  val BatchProp = "perfbench.batch"
  val ViewProp = "perfbench.view"
  val MarkerSpan = "trace.marker"
  val CountSpan = "trace.count"

  /** `collect at ParquetKeyedTable.scala:123` -> `ParquetKeyedTable`. */
  def callSiteFile(short: String): String = {
    val at = short.lastIndexOf(" at ")
    val loc = if (at >= 0) short.substring(at + 4) else short
    loc.takeWhile(_ != ':').stripSuffix(".scala").stripSuffix(".java")
  }

  /** Total time covered by the union of `[start, end)` intervals clipped
    * to `[lo, hi)`, in seconds. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e3
  }
}

/** Delegating sink: each call runs in a `sink.upsert` / `sink.delete` span
  * billed to the view whose maintenance preceded it, then counts the
  * documents it was handed. The count runs after the delegate returns,
  * under its own span, so it never warms a cache the sink would read. */
final class TracedSink(inner: UpsertSink, trace: Trace, batchOf: () => Long)
    extends UpsertSink {
  val upserted = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
  val deleted = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)

  override def upsert(index: String, upserts: DataFrame): Unit = {
    val b = batchOf()
    trace.span("sink.upsert", b, trace.currentView)(inner.upsert(index, upserts))
    upserted(b) += trace.span(Trace.CountSpan, b)(upserts.count())
  }
  override def delete(index: String, deletes: DataFrame): Unit = {
    val b = batchOf()
    trace.span("sink.delete", b, trace.currentView)(inner.delete(index, deletes))
    deleted(b) += trace.span(Trace.CountSpan, b)(deletes.count())
  }
}

/** Inode walk over the keyed stores under some roots (every directory
  * holding a `_CURRENT` pointer is one [[graft.streaming.ParquetKeyedTable]]).
  * A file whose inode was not seen before was written since the last
  * walk; hard-linked carry-forwards keep their inode and do not count. */
final case class Walk(bytesWritten: Long, bucketsRewritten: Int,
    liveBytes: Long, files: Int, versionsMax: Int)

final class StoreWalker(roots: Seq[Path]) {
  private val seen = mutable.HashSet.empty[(Path, Any)]

  private def tables: Seq[Path] = roots.filter(Files.isDirectory(_)).flatMap { r =>
    val s = Files.walk(r)
    try s.iterator().asScala.filter(p => p.getFileName.toString == "_CURRENT")
      .map(_.getParent).toList
    finally s.close()
  }

  def walk(): Walk = {
    var written = 0L; var buckets = 0; var live = 0L; var files = 0; var vmax = 0
    tables.foreach { t =>
      val cur = new String(Files.readAllBytes(t.resolve("_CURRENT"))).trim.split("\\s+")(0)
      val versions = Files.list(t)
      try vmax = math.max(vmax, versions.iterator().asScala
        .count(_.getFileName.toString.matches("v\\d+")))
      finally versions.close()
      val vdir = t.resolve(s"v$cur")
      if (Files.isDirectory(vdir)) {
        val s = Files.walk(vdir)
        val parts = try s.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet")).toList
        finally s.close()
        val touched = mutable.HashSet.empty[Path]
        val inodes = mutable.HashSet.empty[Any]
        parts.foreach { p =>
          val ino = Files.getAttribute(p, "unix:ino")
          val size = Files.size(p)
          files += 1
          if (inodes.add(ino)) live += size
          if (seen.add((t, ino))) { written += size; touched += p.getParent }
        }
        buckets += touched.size
      }
    }
    Walk(written, buckets, live, files, vmax)
  }
}
