package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.TableSpec
import graft.sources.{KafkaCdc, ReplayVectorOffset}
import graft.streaming.{CdcPipeline, IncrementalAgg, ParquetUpsertSink, UpsertSink, ViewDef}

/** The two CDC workloads: Debezium envelopes through `graft-replay` in
  * keyed mode into [[CdcPipeline.start]], closed loop (Structured Streaming
  * plans the next micro-batch only after the previous one commits),
  * `maxRecordsPerBatch` fixing the batch size, run until the dump drains. */
object Cdc {
  // reference table shapes, as in CdcPipelineSpec
  val ordersSchema = StructType(Seq(
    StructField("id", StringType), StructField("user_id", StringType),
    StructField("amount", DoubleType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType), StructField("status", StringType),
    StructField("channel", StringType)))
  val usersSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("age", IntegerType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType)))
  val itemsSchema = StructType(Seq(
    StructField("id", StringType), StructField("order_id", StringType),
    StructField("product_id", StringType), StructField("quantity", LongType),
    StructField("price", DoubleType), StructField("amount", DoubleType),
    StructField("ctime", TimestampType), StructField("utime", TimestampType)))
  val productsSchema = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("price", DoubleType), StructField("ctime", TimestampType),
    StructField("utime", TimestampType)))

  val sources = Seq(
    TableSpec("orders", ordersSchema, primaryKey = Seq("id")),
    TableSpec("users", usersSchema, primaryKey = Seq("id")),
    TableSpec("order_items", itemsSchema, primaryKey = Seq("id")),
    TableSpec("products", productsSchema, primaryKey = Seq("id")))

  /** The view set of both CDC workloads: the per-user totals of
    * [[IncrementalAgg]], the form the reference's retractive aggregates keep
    * going forward, writing the `user_view` index. Each further reference
    * view costs 3–14 s per micro-batch on 4 cores (NOTES.md, *Scope*), more
    * than a run can spend. */
  def views(spark: SparkSession, stateDir: String): Seq[ViewDef] =
    Seq(IncrementalAgg.userTotals(spark, stateDir))

  /** A CDC workload: its mix, and the expected seconds per micro-batch on
    * a 4-core host, which turns `--seconds` into a fixed batch count (at
    * least one), so a seed and a run length always give the same input. */
  final case class Shape(mix: Mix, secondsPerBatch: Double)

  private val steadyMix = Mix(batchSize = 0, zipf = 0.0, statusMove = 25,
    amountEdit = 20, newOrder = 15, itemUpdate = 15, itemDelete = 5,
    userRename = 10, orderDelete = 10)

  val shapes: Map[String, Shape] = Map(
    "cdc_trickle" -> Shape(steadyMix.copy(batchSize = 50), secondsPerBatch = 15),
    "cdc_bulk" -> Shape(steadyMix.copy(batchSize = 20000, zipf = 1.1), secondsPerBatch = 40))

  /** Customers whose orders form the initial state (a fixed prefix by key):
    * about ten orders each, so most orders are free to close or delete. */
  val CustomerPrefix = 50
  /** Kafka partitions per topic in the keyed replay. */
  val TopicPartitions = 4

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)

  def run(spark: SparkSession, ctx: RunCtx, out: Report): Unit = {
    val shape = shapes(ctx.workload)
    val mix = shape.mix
    val batches = math.max(1, math.round(ctx.seconds / shape.secondsPerBatch).toInt)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    val trace = if (ctx.trace) Some(new Trace(spark)) else None
    var currentBatch = -1L
    val batchOf = () => currentBatch

    // ——— set-up: initial images, preload, the stream's dump ———
    val t0 = System.nanoTime()
    val dir = ctx.work.resolve("cdc")
    val gen = new Gen(ctx.seed, mix)
    val sizes = gen.load(spark, ctx.data, CustomerPrefix)
    val parquetSink = new ParquetUpsertSink(spark, dir.resolve("sink").toString)
    val tracedSink = trace.map(t => new TracedSink(parquetSink, t, batchOf))
    val sink: UpsertSink = tracedSink.getOrElse(parquetSink)
    val vs = views(spark, dir.resolve("view-state").toString)
    val pipe = new CdcPipeline(spark, sources, dir.resolve("state").toString, sink,
      trace.map(t => vs.map(t.wrap(_, batchOf))).getOrElse(vs))
    // preload through processBatch with no batch id: a streaming query on a
    // fresh checkpoint would restart ids at 0 over existing state
    import spark.implicits._
    val snapshot = gen.snapshot().zipWithIndex
      .map { case (e, i) => (e.table, e.value, i.toLong) }.toDF("table", "value", "seq")
    val p0 = System.nanoTime()
    pipe.processBatch(snapshot, None)
    val preloadSecs = (System.nanoTime() - p0) / 1e9
    val dump = dir.resolve("dump")
    val envelopes = gen.stream(mix.batchSize * batches)
    Gen.writeDump(dump, envelopes)
    val setupSecs = (System.nanoTime() - t0) / 1e9

    val walks = mutable.HashMap.empty[Long, (Walk, Walk)]
    val stream = KafkaCdc.toCdcInput(spark.readStream.format("graft-replay")
      .option("path", dump.toString)
      .option("topicPartitions", TopicPartitions.toString)
      .option("maxRecordsPerBatch", mix.batchSize.toString)
      .load())
    val ckpt = dir.resolve("checkpoint").toString
    val s0 = System.nanoTime()
    val query: StreamingQuery = trace match {
      case None => pipe.start(stream, ckpt)
      case Some(t) =>
        val state = new StoreWalker(Seq(dir.resolve("state"), dir.resolve("view-state")))
        val sinkStore = new StoreWalker(Seq(dir.resolve("sink")))
        state.walk(); sinkStore.walk() // baseline: the preloaded stores
        // CdcPipeline.start's own writer, with a span around processBatch
        // and the store walks after it
        stream.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch((b: DataFrame, id: Long) => {
            currentBatch = id
            // jobs then take their call site from their own stack, not from
            // the stream's start
            spark.sparkContext.clearCallSite()
            t.span("pipeline.process", id)(pipe.processBatch(b, Some(id)))
            t.span("trace.walk", id) {
              walks(id) = (state.walk(), sinkStore.walk())
            }
          })
          .start()
    }
    var failure: Option[Throwable] = None
    // the stream's start, its micro-batches and the wait for the last commit
    var drainSecs = 0.0
    try { query.processAllAvailable(); drainSecs = (System.nanoTime() - s0) / 1e9 }
    catch { case e: Throwable => failure = Some(e) }
    finally query.stop()
    val timed = query.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId).toSeq
    val walls = timed.map(dur(_, "triggerExecution"))

    // ——— output check, outside timing ———
    val wrong = failure.isDefined ||
      Check.cdc(spark, gen, dir.resolve("sink").toString, out) != 0
    // a wrong final state cannot be pinned on one batch: all count as wrong
    val attempted = math.max(batches, timed.size)
    val failed = if (wrong) attempted else 0
    failure.foreach(e => out.note("failure", e.toString.linesIterator.next()))
    out.setCounts(attempted, failed)

    out.note("preload_rows", sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))
    out.note("views", vs.map(_.name).mkString(","))
    out.note("mix", s"$mix, ${TopicPartitions} partitions per topic")
    out.note("op_counts", gen.opCounts.map { case (k, v) => s"$k=$v" }.mkString(" "))
    out.note("batches", s"${timed.size} of ${mix.batchSize} envelopes: " +
      walls.map(w => f"$w%.3f").mkString(" ") + f" s; preload $preloadSecs%.3f s")

    out.e2e("setup_s", ctx.sessionSecs + setupSecs, "s")
    out.e2e("op_p50_s", Stats.median(walls), "s")
    out.e2e("warm_total_s", drainSecs, "s")
    out.e2e("cold_total_s", preloadSecs, "s")
    out.named("batch_p50_s", Stats.median(walls), "s", s"over ${walls.size} batches")
    out.named("drain_s", drainSecs, "s", "stream start to last commit")
    Stats.tail(walls) match {
      case Some((pct, v, beyond)) =>
        out.named("batch_tail_s", v, "s", s"p$pct over ${walls.size} batches, $beyond beyond")
      case None =>
        out.named("batch_tail_s", Double.NaN, "s",
          s"omitted: ${walls.size} batches support no percentile above the median")
    }
    // the dump drains completely; progress numInputRows is no envelope count
    // here (it read 200 for a 50-envelope batch)
    out.named("envelopes_per_s", envelopes.size / walls.sum, "1/s",
      s"at ${mix.batchSize} envelopes per batch")

    trace.foreach { t =>
      t.drain()
      t.stop()
      CdcLayers.report(spark, t, timed, walks.toMap, tracedSink.get, dump.toString,
        vs.map(_.name), out)
    }
  }
}

/** Per-layer numbers of a traced CDC run: medians per measured batch
  * unless named otherwise. */
object CdcLayers {
  private val files = Seq("CdcPipeline", "ParquetKeyedTable", "IncrementalAgg", "UpsertSink")

  def report(spark: SparkSession, t: Trace, timed: Seq[StreamingQueryProgress],
      walks: Map[Long, (Walk, Walk)], sink: TracedSink,
      dump: String, views: Seq[String], out: Report): Unit = {
    import Cdc.dur
    val per = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def add(k: String, v: Double): Unit = per.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

    val compaction = batchKeys(spark, dump, timed)
    timed.foreach { p =>
      val b = p.batchId
      val spans = t.spansOf(b)
      val jobs = t.jobsOf(b).filter(_.span != Trace.CountSpan)
      def spanSecs(pred: Span => Boolean) = spans.filter(pred).map(_.secs).sum
      val proc = spans.find(_.name == "pipeline.process")
      val wall = dur(p, "triggerExecution")
      val read = dur(p, "latestOffset") + dur(p, "getBatch")
      val plan = dur(p, "queryPlanning")
      val commit = dur(p, "walCommit") + dur(p, "commitOffsets")
      val process = proc.map(_.secs).getOrElse(0.0)
      val firstView = spans.filter(_.name.startsWith("view.")).map(_.startNs)
        .minOption
      val ingest = (for (pr <- proc; fv <- firstView) yield (fv - pr.startNs) / 1e9)
        .getOrElse(process)
      add("sources.read_s", read)
      add("microbatch.plan_s", plan)
      add("microbatch.commit_s", commit)
      add("pipeline.process_s", process)
      add("pipeline.ingest_s", ingest)
      add("pipeline.driver_gap_s", proc.map(pr => pr.secs -
        Trace.covered(jobs.map(j => (j.startMs, j.endMs)), pr.startMs, pr.endMs))
        .getOrElse(0.0))
      add("cdc.decode_job_s", jobs.filter(_.file == "CdcPipeline").map(_.secs).sum)
      compaction.get(b).foreach { case (n, k) =>
        add("cdc.envelopes_in", n.toDouble)
        add("cdc.keys_after_compaction", k.toDouble)
        add("cdc.compaction_ratio", if (k > 0) n.toDouble / k else 0.0)
      }
      add("state.job_s", jobs.filter(j => j.file == "ParquetKeyedTable" &&
        !j.span.startsWith("sink.")).map(_.secs).sum)
      walks.get(b).foreach { case (st, sk) =>
        add("state.buckets_rewritten", st.bucketsRewritten.toDouble)
        add("state.bytes_written", st.bytesWritten.toDouble)
        add("sink.bytes_written", sk.bytesWritten.toDouble)
      }
      var viewSecs = 0.0
      views.foreach { v =>
        val m = spanSecs(_.name == s"view.$v.maintain")
        val sk = spanSecs(s => s.name.startsWith("sink.") && s.view == v)
        viewSecs += m + sk
        add(s"view.$v.maintain_s", m)
        add(s"view.$v.sink_s", sk)
        add(s"view.$v.jobs", jobs.count(_.view == v).toDouble)
      }
      add("sink.upsert_s", spanSecs(_.name == "sink.upsert"))
      add("sink.delete_s", spanSecs(_.name == "sink.delete"))
      add("sink.docs_upserted", sink.upserted(b).toDouble)
      add("sink.docs_deleted", sink.deleted(b).toDouble)
      add("spark.jobs", jobs.size.toDouble)
      add("spark.stages", jobs.map(_.stages).sum.toDouble)
      add("spark.tasks", jobs.map(_.tasks).sum.toDouble)
      add("spark.shuffle_bytes", jobs.map(_.shuffleBytes).sum.toDouble)
      files.foreach(f => add(s"spark.jobs.$f", jobs.count(_.file == f).toDouble))

      // self time: every second of the batch wall lands in exactly one row
      val count = spanSecs(_.name == Trace.CountSpan)
      val walk = spanSecs(_.name == "trace.walk")
      self("self.sources_s") += read
      self("self.microbatch_s") += plan + commit
      self("self.ingest_s") += ingest
      self("self.views_s") += viewSecs
      self("self.pipeline_rest_s") += process - ingest - viewSecs - count
      self("self.trace_s") += count + walk
      self("self.other_s") += wall - read - plan - commit - process - walk
      self("self.batch_wall_s") += wall
    }
    per.foreach { case (k, vs) => out.layer(k, Stats.median(vs.toSeq)) }
    out.note("job_files", t.jobs.values.filter(j => timed.exists(_.batchId == j.batch))
      .groupBy(_.file).map { case (f, js) => f -> js.size }.toSeq.sortBy(-_._2)
      .map { case (f, n) => s"$f=$n" }.mkString(" "))
    val last = walks.toSeq.sortBy(_._1).lastOption.map(_._2._1)
    out.layer("state.live_bytes", last.map(_.liveBytes.toDouble).getOrElse(0.0))
    out.layer("state.files", last.map(_.files.toDouble).getOrElse(0.0))
    out.layer("state.versions_max", walks.values.map(_._1.versionsMax).maxOption
      .getOrElse(0).toDouble)
    val n = math.max(1, timed.size)
    self.foreach { case (k, v) => out.layer(k, v / n) }
  }

  /** (envelopes, distinct keys) per batch, from the batch's offset range
    * over a batch read of the same dump — off the timed path. */
  private def batchKeys(spark: SparkSession, dump: String,
      timed: Seq[StreamingQueryProgress]): Map[Long, (Long, Long)] = {
    val recs = spark.read.format("graft-replay").option("path", dump)
      .option("topicPartitions", Cdc.TopicPartitions.toString).load()
      .select("topic", "partition", "offset", "key").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2), r.getString(3)))
    def vec(json: String): Map[(String, Int), Long] =
      if (json == null || !json.trim.startsWith("{")) Map.empty
      else ReplayVectorOffset.fromJson(json).consumed
    timed.map { p =>
      val src = p.sources.head
      val from = vec(src.startOffset)
      val to = vec(src.endOffset)
      val in = recs.filter { case (tp, off, _) =>
        off >= from.getOrElse(tp, 0L) && off < to.getOrElse(tp, 0L)
      }
      p.batchId -> ((in.length.toLong, in.map(r => (r._1._1, r._3)).distinct.length.toLong))
    }.toMap
  }
}
