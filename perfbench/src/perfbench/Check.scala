package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.ParquetUpsertSink

/** Output checks, run after timing ends. */
object Check {

  /** Compare the sink index the CDC view set writes — `user_view`, with
    * the per-user totals of `IncrementalAgg.userTotals` — with a batch
    * recompute over the generator's final table images, in the reference
    * SELECT shape (`sum(amount)` and `count(*)` over orders not closed,
    * grouped by user). Returns the number of documents that are missing,
    * extra or different (0 = correct). */
  def cdc(spark: SparkSession, gen: Gen, sinkRoot: String, out: Report): Int = {
    import spark.implicits._
    val live = gen.orders.values.toSeq.filter(_.status != "closed")
      .map(o => (o.user, o.amount)).toDF("user_id", "amount")
    val totals = live.groupBy(col("user_id").as("id"))
      .agg(sum("amount").as("order.amount.total"), count(lit(1)).as("order.count.total"))
    val bad = diff(totals, new ParquetUpsertSink(spark, sinkRoot).docs("user_view", totals.schema))
    out.note("check.user_view", s"${totals.count()} expected, $bad wrong")
    bad
  }

  /** Documents of `actual` that are missing from, extra to, or differ from
    * `expected`, compared on `expected`'s columns by doc id. Doubles are
    * rounded to cents: running sums differ from a recompute in the last
    * bits. */
  def diff(expected: DataFrame, actual: DataFrame): Int = {
    val cols = expected.columns.toSeq
    def docs(df: DataFrame): Map[String, String] = {
      val present = df.columns.toSet
      df.select(cols.map(c => if (present(c)) col(s"`$c`") else lit(null).as(c)): _*)
        .collect().map(r => r.get(0).toString -> canon(r)).toMap
    }
    val e = docs(expected)
    val a = docs(actual)
    (e.keySet ++ a.keySet).count(k => e.get(k) != a.get(k))
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case x => x.toString
  }
}
