package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types._

import graft.{BuildMetrics, CacheScope, SparkEntry}
import graft.operators._

/** `batch_queries`: a fixed set of `SparkEntry` queries, one cold pass in
  * the fresh JVM, then at least [[MinWarmPasses]] warm passes, more while
  * the warm passes have run less than `--seconds`. A query's time is its
  * builder call plus one job over `queryExecution.toRdd` that counts the
  * rows and hashes them — the hash is the output check, so every timed
  * execution is also a checked one. The seed fixes the order queries run
  * in. */
object Batch {
  /** The reference's SQL surface (projection, the order view, LISTAGG,
    * JSON extraction), q121 and q37 from the ROADMAP's cold path, and one
    * query of every other operator module a run can afford: KMeans, Pq and
    * Retrieval (q167) are left out, each costing 6–10 s of a run (NOTES.md,
    * *Scope*). */
  val queries: Seq[String] = Seq(
    "q01_projection", "q04_order_view", "q10_listagg", "q14_json_extract",
    "q121_pipeline_funnel", "q37_tfidf_topk",
    "q36_dedup_clusters", "q95_bpe_pairs", "q162_k_anonymity", "q50_multimodal_meta",
    "q45_asof_join", "q160_temporal_join", "q150_token_budget",
    "q24_embedding_neardup")

  /** Warm passes every run makes, so each query's warm time is a median. */
  val MinWarmPasses = 3

  /** The operator modules the query set reaches. */
  val modules: Seq[(String, Seq[graft.QueryDef])] = Seq(
    "Relational" -> Relational.queries, "AsOf" -> AsOf.queries,
    "Dedup" -> Dedup.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Curation" -> Curation.queries, "Similarity" -> Similarity.queries,
    "Multimodal" -> Multimodal.queries, "Bpe" -> Bpe.queries,
    "Provenance" -> Provenance.queries, "Temporal" -> Temporal.queries,
    "Governance" -> Governance.queries)
  private lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** One timed query execution. */
  final case class Exec(name: String, buildS: Double, totalS: Double,
      rows: Long, hash: Long, error: Option[String],
      analysisS: Double, optimizationS: Double, planningS: Double,
      startMs: Long, endMs: Long, ordinal: Long)

  def expectedFile(bench: Path): Path = bench.resolve("expected").resolve("batch_queries.tsv")

  def loadExpected(bench: Path): Map[String, (Long, Long)] = {
    val f = expectedFile(bench)
    if (!Files.exists(f)) Map.empty
    else new String(Files.readAllBytes(f), StandardCharsets.UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .map(a => a(0) -> ((a(1).toLong, java.lang.Long.parseUnsignedLong(a(2), 16)))).toMap
  }

  def run(spark: SparkSession, ctx: RunCtx, out: Report): Unit = {
    val order = new scala.util.Random(ctx.seed).shuffle(queries)
    val expected = loadExpected(ctx.bench)
    val trace = if (ctx.trace) Some(new Trace(spark)) else None
    val builders = SparkEntry.queries
    var ordinal = 0L
    val drains = mutable.ArrayBuffer.empty[(Int, Double)]

    def exec(name: String, pass: Int): Exec = {
      ordinal += 1
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      def body(): Exec = {
        var buildS = 0.0
        try {
          val df = builders(name)(spark, ctx.data)
          buildS = (System.nanoTime() - t0) / 1e9
          val (rows, hash) = RowHash.of(df)
          val phases = df.queryExecution.tracker.phases
          def ph(k: String) = phases.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
          Exec(name, buildS, (System.nanoTime() - t0) / 1e9, rows, hash, None,
            ph("analysis"), ph("optimization"), ph("planning"),
            ms0, System.currentTimeMillis(), ordinal)
        } catch {
          case e: Throwable =>
            Exec(name, buildS, (System.nanoTime() - t0) / 1e9, -1, 0, Some(
              e.toString.linesIterator.nextOption().getOrElse("?").take(200)),
              0, 0, 0, ms0, System.currentTimeMillis(), ordinal)
        }
      }
      val e = trace.map(t => t.span(s"query.$name", ordinal)(body())).getOrElse(body())
      val d0 = System.nanoTime()
      CacheScope.drainWithCheckpoints(spark) // outside the query's time
      drains += ((pass, (System.nanoTime() - d0) / 1e9))
      e
    }

    // per-pass ledgers: memo and codegen deltas around each pass
    final case class PassLedger(execs: Seq[Exec], memoBuilds: Long, memoBuildS: Double,
        compileS: Double, classes: Long)
    def runPass(pass: Int): PassLedger = {
      val memo0 = BuildMetrics.memoSnapshot.values.map(_._2).sum
      val build0 = BuildMetrics.snapshot.values.sum
      val compile0 = CodeGenerator.compileTime
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val execs = order.map(exec(_, pass))
      PassLedger(execs, BuildMetrics.memoSnapshot.values.map(_._2).sum - memo0,
        BuildMetrics.snapshot.values.sum - build0,
        (CodeGenerator.compileTime - compile0) / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0)
    }

    val cold = runPass(0)
    val warm = mutable.ArrayBuffer.empty[PassLedger]
    val start = System.nanoTime()
    while (warm.size < MinWarmPasses || (System.nanoTime() - start) / 1e9 < ctx.seconds)
      warm += runPass(warm.size + 1)

    val all = cold.execs ++ warm.flatMap(_.execs)
    val wrong = all.filter { e =>
      e.error.isDefined || !expected.get(e.name).contains((e.rows, e.hash))
    }
    out.setCounts(all.size, wrong.size)
    wrong.groupBy(_.name).foreach { case (n, es) =>
      val e = es.head
      out.note(s"wrong.$n", e.error.getOrElse(
        f"rows=${e.rows} hash=${e.hash}%016x expected=${expected.get(n)
          .map { case (r, h) => f"rows=$r hash=$h%016x" }.getOrElse("none")}"))
    }
    if (ctx.record) writeExpected(ctx.bench, cold.execs)

    val warmTotals = warm.map(_.execs.map(_.totalS).sum).toSeq
    def warmOf(n: String) =
      Stats.median(warm.flatMap(_.execs.filter(_.name == n).map(_.totalS)).toSeq)
    // each query's median warm time, then the median over queries: a slow
    // pass moves one sample of each query, not the order of the queries
    val queryP50 = Stats.median(queries.map(warmOf))
    out.note("queries", s"${queries.size} at ${ctx.data}; order ${order.mkString(",")}")
    out.note("passes", s"1 cold + ${warm.size} warm")
    out.e2e("setup_s", ctx.sessionSecs, "s")
    out.e2e("op_p50_s", queryP50, "s")
    out.e2e("warm_total_s", Stats.median(warmTotals), "s")
    out.e2e("cold_total_s", cold.execs.map(_.totalS).sum, "s")
    out.named("query_p50_s", queryP50, "s", "median over queries of each query's warm median")
    out.named("warm_total_s", Stats.median(warmTotals), "s", s"median of ${warm.size} warm passes")
    out.named("cold_total_s", cold.execs.map(_.totalS).sum, "s")
    order.foreach { n =>
      out.note(s"query.$n", f"cold ${cold.execs.find(_.name == n).get.totalS}%.3f s, warm p50 ${warmOf(n)}%.3f s")
    }

    trace.foreach { t =>
      t.drain()
      t.stop()
      def passLayers(p: PassLedger): mutable.LinkedHashMap[String, Double] = {
        val es = p.execs
        val jobs = es.map(e => e -> t.jobsOf(e.ordinal))
        val m = mutable.LinkedHashMap.empty[String, Double]
        m("catalyst.analysis_s") = es.map(_.analysisS).sum
        m("catalyst.optimization_s") = es.map(_.optimizationS).sum
        m("catalyst.planning_s") = es.map(_.planningS).sum
        m("codegen.compile_s") = p.compileS
        m("codegen.classes") = p.classes.toDouble
        m("query.build_s") = es.map(_.buildS).sum
        modules.foreach { case (mod, _) =>
          m(s"operators.$mod.exec_s") = es.filter(e => moduleOf.get(e.name).contains(mod))
            .map(e => e.totalS - e.buildS).sum
        }
        m("spark.shuffle_bytes") = jobs.flatMap(_._2.map(_.shuffleBytes)).sum.toDouble
        m("spark.spill_bytes") = jobs.flatMap(_._2.map(_.spillBytes)).sum.toDouble
        m("spark.driver_gap_s") = jobs.map { case (e, js) =>
          e.totalS - Trace.covered(js.map(j => (j.startMs, j.endMs)), e.startMs, e.endMs)
        }.sum
        m("spark.jobs") = jobs.map(_._2.size).sum.toDouble
        m
      }
      val warmLayers = warm.map(passLayers).toSeq
      warmLayers.head.keys.foreach(k => out.layer(k, Stats.median(warmLayers.map(_(k)))))
      val coldLayers = passLayers(cold)
      out.layer("cold.catalyst_s", coldLayers("catalyst.analysis_s") +
        coldLayers("catalyst.optimization_s") + coldLayers("catalyst.planning_s"))
      out.layer("cold.codegen.compile_s", cold.compileS)
      out.layer("cold.codegen.classes", cold.classes.toDouble)
      out.layer("cold.query.build_s", coldLayers("query.build_s"))
      out.layer("memo.builds", cold.memoBuilds.toDouble)
      out.layer("memo.build_s", cold.memoBuildS)
      out.layer("memo.timed_misses", warm.map(_.memoBuilds).sum.toDouble)
      out.layer("cache.drain_s", Stats.median(warm.indices.map(i =>
        drains.filter(_._1 == i + 1).map(_._2).sum).toSeq))
    }
  }

  private def writeExpected(bench: Path, execs: Seq[Exec]): Unit = {
    val lines = execs.sortBy(_.name).map(e => f"${e.name}\t${e.rows}\t${e.hash}%016x")
    Files.createDirectories(expectedFile(bench).getParent)
    Files.write(expectedFile(bench), ("# query\trows\thash (order-insensitive, doubles to 9 significant digits)\n" +
      lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Row count and an order-insensitive content hash of a query's result,
  * computed in one job over the executed plan's rows. Doubles are rounded
  * to 9 significant digits (values within 1e-9 of 0 read as 0), so the
  * last-bit differences of a partition-order-dependent sum do not count. */
object RowHash {
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      val sb = new java.lang.StringBuilder
      it.foreach { row =>
        sb.setLength(0)
        render(row, schema, sb)
        h += hash64(sb.toString)
        n += 1
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (n2, h2)) => (n + n2, h + h2) }
  }

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c6ef372)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (math.abs(d) < 1e-9) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString

  private def render(row: InternalRow, schema: StructType, sb: java.lang.StringBuilder): Unit = {
    sb.append('(')
    schema.fields.indices.foreach { i =>
      if (i > 0) sb.append(',')
      value(row, i, schema.fields(i).dataType, sb)
    }
    sb.append(')')
  }

  private def value(g: SpecializedGetters, i: Int, t: DataType, sb: java.lang.StringBuilder): Unit =
    if (g.isNullAt(i)) sb.append("null")
    else t match {
      case BooleanType => sb.append(g.getBoolean(i))
      case ByteType => sb.append(g.getByte(i).toInt)
      case ShortType => sb.append(g.getShort(i).toInt)
      case IntegerType | DateType => sb.append(g.getInt(i))
      case LongType | TimestampType | TimestampNTZType => sb.append(g.getLong(i))
      case FloatType => sb.append(num(g.getFloat(i).toDouble))
      case DoubleType => sb.append(num(g.getDouble(i)))
      case d: DecimalType =>
        sb.append(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
          .stripTrailingZeros.toPlainString)
      case _: StringType => sb.append(g.getUTF8String(i).toString)
      case BinaryType => sb.append(java.util.Arrays.hashCode(g.getBinary(i)))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        sb.append('[')
        (0 until a.numElements()).foreach { j => if (j > 0) sb.append(','); value(a, j, et, sb) }
        sb.append(']')
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val entries = (0 until m.numElements()).map { j =>
          val e = new java.lang.StringBuilder
          value(m.keyArray(), j, kt, e); e.append("->"); value(m.valueArray(), j, vt, e)
          e.toString
        }.sorted
        sb.append(entries.mkString("{", ",", "}"))
      case st: StructType => render(g.getStruct(i, st.size), st, sb)
      case u: UserDefinedType[_] => value(g, i, u.sqlType, sb)
      case other => sb.append(g.get(i, other))
    }
}
