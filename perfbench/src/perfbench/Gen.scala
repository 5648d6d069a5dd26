package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Reference table images (the `orders` / `users` / `products` /
  * `order_items` shapes of `CdcPipelineSpec`), mapped from the TPC-H
  * `orders` / `customer` / `part` / `lineitem` tables. Times are epoch
  * seconds. */
final case class Order(id: String, user: String, amount: Double,
    ctime: Long, utime: Long, status: String, channel: String)
final case class User(id: String, name: String, age: Int,
    ctime: Long, utime: Long)
final case class Product(id: String, name: String, price: Double,
    ctime: Long, utime: Long)
final case class Item(id: String, order: String, product: String,
    quantity: Long, price: Double, amount: Double, ctime: Long, utime: Long)

/** One Kafka record: table (the topic's last segment), key doc, value doc. */
final case class Envelope(table: String, key: String, value: String)

/** Workload shape of a CDC run: envelopes per micro-batch, how keys are
  * chosen, and the op mix as relative weights. */
final case class Mix(
    batchSize: Int,
    zipf: Double, // 0 = uniform over live keys, else the Zipf exponent
    statusMove: Int, amountEdit: Int, newOrder: Int, itemUpdate: Int,
    itemDelete: Int, userRename: Int, orderDelete: Int) {
  def weights: Seq[(String, Int)] = Seq(
    "status_move" -> statusMove, "amount_edit" -> amountEdit,
    "new_order" -> newOrder, "item_update" -> itemUpdate,
    "item_delete" -> itemDelete, "user_rename" -> userRename,
    "order_delete" -> orderDelete)
}

/** A set of live keys that supports O(1) add, remove and indexed pick.
  * Index order is deterministic (insertion order, swap-remove). */
final class KeyPool {
  private val keys = mutable.ArrayBuffer.empty[String]
  private val pos = mutable.HashMap.empty[String, Int]
  def size: Int = keys.size
  def apply(i: Int): String = keys(i)
  def add(k: String): Unit = if (!pos.contains(k)) { pos(k) = keys.size; keys += k }
  def remove(k: String): Unit = pos.remove(k).foreach { i =>
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; pos(last) = i }
  }
}

/** Deterministic, single-threaded Debezium envelope generator.
  *
  * The initial images come from the TPC-H tables under `dataDir` (see
  * [[load]]). `step` then draws ops from the workload [[Mix]] with
  * a `scala.util.Random` seeded by the run's `--seed`, and keeps the
  * table images current, so the final images are known without reading
  * the pipeline.
  *
  * Two invariants keep every sink index a pure function of the final
  * images, whatever order the keyed source delivers records of different
  * keys in (only per-key order holds):
  *  - every user that owns a live order keeps one "anchor" order that is
  *    never closed or deleted, so `user_totals` never deletes that user's
  *    shared `user_view` document;
  *  - every order that has items keeps one "anchor" item that is deleted
  *    only together with its order, so `order_view_items` never deletes a
  *    live order's shared `order_view` document.
  */
final class Gen(seed: Long, mix: Mix) {
  val orders = mutable.LinkedHashMap.empty[String, Order]
  val users = mutable.LinkedHashMap.empty[String, User]
  val products = mutable.LinkedHashMap.empty[String, Product]
  val items = mutable.LinkedHashMap.empty[String, Item]

  private val rnd = new scala.util.Random(seed)
  private val liveOrders = new KeyPool
  private val liveItems = new KeyPool
  private val userPool = new KeyPool
  private val productPool = new KeyPool
  private val anchoredUsers = new KeyPool
  private val anchorOrder = mutable.HashMap.empty[String, String] // user -> order
  private val anchorItem = mutable.HashMap.empty[String, String]  // order -> item
  private val itemsOf = mutable.HashMap.empty[String, mutable.LinkedHashSet[String]]
  private var nextOrder = 0L
  private var clock = 0L // ts_ms of the next envelope: one per envelope
  val opCounts = mutable.LinkedHashMap(mix.weights.map(_._1 -> 0L): _*)

  // Zipf(s) over ranks 0..zipfN-1; a rank maps onto a pool by `% size`
  private val zipfN = 1 << 14
  private val zipfCdf: Array[Double] =
    if (mix.zipf <= 0) Array.empty
    else {
      val w = Array.tabulate(zipfN)(r => 1.0 / math.pow(r + 1, mix.zipf))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }

  private def pick(pool: KeyPool): String = {
    val i =
      if (zipfCdf.isEmpty) rnd.nextInt(pool.size)
      else {
        val u = rnd.nextDouble()
        val r = java.util.Arrays.binarySearch(zipfCdf, u)
        (if (r >= 0) r else -r - 1) % pool.size
      }
    pool(i)
  }
  private def uniform(pool: KeyPool): String = pool(rnd.nextInt(pool.size))

  /** Load the initial images: the first `customers` customers by key, all
    * their orders, every lineitem of those orders and the parts these
    * reference. Returns the sizes loaded per table. */
  def load(spark: SparkSession, dataDir: String, customers: Int): Map[String, Long] = {
    def rows(name: String, cols: String*) =
      spark.read.parquet(s"$dataDir/$name.parquet").selectExpr(cols: _*)
    def sec(ts: Any): Long = ts match {
      case t: java.sql.Timestamp => t.getTime / 1000
      case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
      case t: Instant => t.getEpochSecond
    }
    val custRows = rows("customer", "c_custkey", "c_name").orderBy("c_custkey")
      .limit(customers).collect()
    val custKeys = custRows.map(_.getLong(0)).toSet
    val orderRows = rows("orders", "o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority").orderBy("o_orderkey").collect()
      .filter(r => custKeys(r.getLong(1)))
    val orderKeys = orderRows.map(_.getLong(0)).toSet
    val itemRows = rows("lineitem", "l_orderkey", "l_linenumber", "l_partkey",
      "l_quantity", "l_extendedprice", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber").collect().filter(r => orderKeys(r.getLong(0)))
    val partKeys = itemRows.map(_.getLong(2)).toSet

    val created = Instant.parse("2021-01-01T00:00:00Z").getEpochSecond
    custRows.foreach { r =>
        val u = User(s"u${r.getLong(0)}", r.getString(1), 18 + (r.getLong(0) % 60).toInt,
          created, created)
        users(u.id) = u; userPool.add(u.id)
      }
    rows("part", "p_partkey", "p_name", "p_retailprice").orderBy("p_partkey").collect()
      .filter(r => partKeys(r.getLong(0))).foreach { r =>
        val p = Product(s"p${r.getLong(0)}", r.getString(1), r.getDouble(2), created, created)
        products(p.id) = p; productPool.add(p.id)
      }
    val channels = Array("wechat", "alipay", "web", "app", "store")
    orderRows.foreach { r =>
      val status = r.getString(2) match {
        case "F" => "closed"
        case "P" => "payed"
        case _   => "created"
      }
      val t = sec(r.get(4))
      val o = Order(s"o${r.getLong(0)}", s"u${r.getLong(1)}", r.getDouble(3), t, t,
        status, channels((r.getString(5).take(1).toInt - 1) % channels.length))
      orders(o.id) = o; liveOrders.add(o.id)
      if (status != "closed" && !anchorOrder.contains(o.user)) {
        anchorOrder(o.user) = o.id; anchoredUsers.add(o.user)
      }
    }
    // new order keys start past every key of the table, loaded or not
    nextOrder = rows("orders", "max(o_orderkey)").head().getLong(0) + 1
    itemRows.foreach { r =>
      val productId = s"p${r.getLong(2)}"
      val t = sec(r.get(5))
      addItem(Item(s"i${r.getLong(0)}_${r.getInt(1)}", s"o${r.getLong(0)}", productId,
        r.getDouble(3).toLong, products(productId).price, r.getDouble(4), t, t))
    }
    Map("orders" -> orders.size.toLong, "users" -> users.size.toLong,
      "products" -> products.size.toLong, "order_items" -> items.size.toLong)
  }

  private def addItem(it: Item): Unit = {
    items(it.id) = it; liveItems.add(it.id)
    itemsOf.getOrElseUpdate(it.order, mutable.LinkedHashSet.empty) += it.id
    if (!anchorItem.contains(it.order)) anchorItem(it.order) = it.id
  }
  private def dropItem(id: String): Unit = {
    val it = items.remove(id).get
    liveItems.remove(id)
    itemsOf.get(it.order).foreach(_ -= id)
  }

  // ——— envelope JSON ———

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def ts(sec: Long): String = q(Instant.ofEpochSecond(sec).toString)
  private def cents(d: Double): Double = math.rint(d * 100) / 100

  private def json(o: Order): String =
    s"""{"id":${q(o.id)},"user_id":${q(o.user)},"amount":${o.amount},"ctime":${ts(o.ctime)},"utime":${ts(o.utime)},"status":${q(o.status)},"channel":${q(o.channel)}}"""
  private def json(u: User): String =
    s"""{"id":${q(u.id)},"name":${q(u.name)},"age":${u.age},"ctime":${ts(u.ctime)},"utime":${ts(u.utime)}}"""
  private def json(p: Product): String =
    s"""{"id":${q(p.id)},"name":${q(p.name)},"price":${p.price},"ctime":${ts(p.ctime)},"utime":${ts(p.utime)}}"""
  private def json(i: Item): String =
    s"""{"id":${q(i.id)},"order_id":${q(i.order)},"product_id":${q(i.product)},"quantity":${i.quantity},"price":${i.price},"amount":${i.amount},"ctime":${ts(i.ctime)},"utime":${ts(i.utime)}}"""

  private def env(table: String, id: String, op: String,
      before: Option[String], after: Option[String]): Envelope = {
    clock += 1
    Envelope(table, s"""{"id":${q(id)}}""",
      s"""{"before":${before.getOrElse("null")},"after":${after.getOrElse("null")},"op":"$op","ts_ms":$clock}""")
  }

  /** Snapshot-read (`op = r`) envelopes of every initial image — the
    * preload batch. */
  def snapshot(): Seq[Envelope] =
    users.values.map(u => env("users", u.id, "r", None, Some(json(u)))).toSeq ++
      products.values.map(p => env("products", p.id, "r", None, Some(json(p)))) ++
      orders.values.map(o => env("orders", o.id, "r", None, Some(json(o)))) ++
      items.values.map(i => env("order_items", i.id, "r", None, Some(json(i))))

  // ——— the op mix ———

  private val opTotal = mix.weights.map(_._2).sum

  private def updOrder(o: Order, next: Order): Envelope = {
    orders(o.id) = next
    env("orders", o.id, "u", Some(json(o)), Some(json(next)))
  }

  /** Draw one op of at most `room` envelopes; returns its envelopes (one,
    * or several for a new order or an order delete). Ops that a drawn key
    * cannot take (a closed order's status move, an anchor's delete, more
    * envelopes than `room`) fall back to an amount edit of an order, so
    * every op emits at least one envelope. */
  def step(room: Int): Seq[Envelope] = {
    var r = rnd.nextInt(opTotal)
    val op = mix.weights.find { case (_, w) => r -= w; r < 0 }.get._1
    val now = clock / 1000 + 1612137600L // 2021-02-01 + ms counter
    def amountEdit(o: Order): Seq[Envelope] = {
      opCounts("amount_edit") += 1
      Seq(updOrder(o, o.copy(amount = cents(o.amount * (0.5 + rnd.nextDouble())) + 0.01,
        utime = now)))
    }
    op match {
      case "status_move" =>
        val o = orders(pick(liveOrders))
        val next = o.status match {
          case "created" => Some("payed")
          case "payed" if !anchorOrder.get(o.user).contains(o.id) => Some("closed")
          case _ => None
        }
        next match {
          case Some(s) =>
            opCounts(op) += 1
            Seq(updOrder(o, o.copy(status = s, utime = now)))
          case None => amountEdit(o)
        }
      case "amount_edit" => amountEdit(orders(pick(liveOrders)))
      case "new_order" if room < 2 => amountEdit(orders(pick(liveOrders)))
      case "new_order" =>
        opCounts(op) += 1
        val user = uniform(anchoredUsers)
        val o = Order(s"o$nextOrder", user, 0.0, now, now, "created",
          if (rnd.nextBoolean()) "app" else "web")
        nextOrder += 1
        val its = (1 to math.min(1 + rnd.nextInt(4), room - 1)).map { ln =>
          val p = products(uniform(productPool))
          val qty = 1L + rnd.nextInt(10)
          Item(s"i${o.id.drop(1)}_$ln", o.id, p.id, qty, p.price, cents(p.price * qty),
            now, now)
        }
        val placed = o.copy(amount = cents(its.map(_.amount).sum))
        orders(o.id) = placed; liveOrders.add(o.id)
        env("orders", o.id, "c", None, Some(json(placed))) +: its.map { it =>
          addItem(it)
          env("order_items", it.id, "c", None, Some(json(it)))
        }
      case "item_update" =>
        opCounts(op) += 1
        val it = items(pick(liveItems))
        val qty = 1L + rnd.nextInt(10)
        val next = it.copy(quantity = qty, amount = cents(it.price * qty), utime = now)
        items(it.id) = next
        Seq(env("order_items", it.id, "u", Some(json(it)), Some(json(next))))
      case "item_delete" =>
        val it = items(pick(liveItems))
        if (anchorItem.get(it.order).contains(it.id)) amountEdit(orders(it.order))
        else {
          opCounts(op) += 1
          dropItem(it.id)
          Seq(env("order_items", it.id, "d", Some(json(it)), None))
        }
      case "user_rename" =>
        opCounts(op) += 1
        val u = users(pick(userPool))
        val next = u.copy(name = s"${u.name.takeWhile(_ != '~')}~$clock", utime = now)
        users(u.id) = next
        Seq(env("users", u.id, "u", Some(json(u)), Some(json(next))))
      case "order_delete" =>
        val o = orders(pick(liveOrders))
        if (anchorOrder.get(o.user).contains(o.id) ||
            1 + itemsOf.get(o.id).map(_.size).getOrElse(0) > room) amountEdit(o)
        else {
          opCounts(op) += 1
          val its = itemsOf.remove(o.id).map(_.toSeq).getOrElse(Nil)
          anchorItem.remove(o.id)
          orders.remove(o.id); liveOrders.remove(o.id)
          its.map { id =>
            val it = items(id)
            dropItem(id)
            env("order_items", id, "d", Some(json(it)), None)
          } :+ env("orders", o.id, "d", Some(json(o)), None)
        }
    }
  }

  /** Draw ops until exactly `n` envelopes exist. */
  def stream(n: Int): IndexedSeq[Envelope] = {
    val out = mutable.ArrayBuffer.empty[Envelope]
    while (out.size < n) out ++= step(n - out.size)
    out.toIndexedSeq
  }
}

object Gen {
  val topicPrefix = "bench.ec."

  /** Write `envs` as keyed console dumps (key doc, then value doc), one
    * file per table, in generation order — the `graft-replay` keyed
    * format. */
  def writeDump(dir: Path, envs: Seq[Envelope]): Unit = {
    Files.createDirectories(dir)
    envs.groupBy(_.table).foreach { case (table, es) =>
      val sb = new StringBuilder
      es.foreach { e => sb.append(e.key).append('\n').append(e.value).append("\n\n") }
      Files.write(dir.resolve(s"$topicPrefix$table.json"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}
