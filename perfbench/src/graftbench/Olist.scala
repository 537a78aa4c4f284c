package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

/** Seeded Olist-shaped CSV drops for all eight entities, plus the model
  * of what silver must hold after each round.
  *
  * Round 0 is the initial load; every later round brings new orders
  * with items, payments and reviews, a few new customers, re-delivered
  * rows that change an existing order's status, payment or customer
  * state (they win through their later `ingestion_ts`), and the dirty
  * cases of the ingest contract: null keys, unparseable timestamps,
  * out-of-range review scores, non-numeric numerics, invalid statuses,
  * padded mixed-case city/state, a key duplicated across two files of
  * one drop (the lexically later file wins), and a re-delivered file
  * under an already-ingested name (ignored).
  *
  * The model mirrors only what `metrics_revenue` reads: valid orders,
  * payments and customers, latest-wins per key.
  */
final class Olist(seed: Long) {
  import Olist._

  val orders = mutable.Map[String, Order]()
  val customers = mutable.Map[String, Customer]()
  /** (order_id, payment_sequential) -> cents */
  val payments = mutable.Map[(String, Int), Long]()
  private var nextOrder = 0
  private var nextCustomer = 0
  private var nextReview = 0
  var csvBytes = 0L

  private def rnd(round: Int) = new Random(seed * 7919L + round)

  private def ts(t: LocalDateTime) = t.format(TsFmt)

  /** Writes round `round`'s drop under `ingest` and folds it into the
    * model. Returns the number of input rows that pass silver cleansing.
    */
  def drop(round: Int, ingest: String): Long = {
    val r = rnd(round)
    val first = round == 0
    val files = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Seq[String]]]()
    def emit(entity: String, file: String, row: String*): Unit =
      files.getOrElseUpdate(s"$entity/$file", mutable.ArrayBuffer()) += row
    val tag = f"r$round%05d"
    var valid = 0L

    // customers: new ones, a few moving state, one null key
    val oldCustomers = nextCustomer
    val oldOrders = nextOrder
    val nNewCust = if (first) 300 else 20
    (0 until nNewCust).foreach { _ =>
      val id = f"C$nextCustomer%06d"
      nextCustomer += 1
      val st = States(r.nextInt(States.size))
      // padded, mixed-case state and city: silver upper-trims them
      val raw = if (r.nextInt(4) == 0) s"  ${st.toLowerCase} " else st
      emit("customers", s"$tag-a.csv", id, s"U${r.nextInt(100000)}", f"${r.nextInt(99999)}%05d",
        if (r.nextBoolean()) " sao paulo " else "Rio de Janeiro", raw)
      customers(id) = Customer(st)
      valid += 1
    }
    if (!first) {
      distinct(r, 5, oldCustomers).foreach { n =>
        val id = f"C$n%06d"
        val st = States(r.nextInt(States.size))
        emit("customers", s"$tag-a.csv", id, s"U${r.nextInt(100000)}", "01234", "campinas", st)
        customers(id) = Customer(st)
        valid += 1
      }
      emit("customers", s"$tag-a.csv", "", "U1", "01234", "campinas", "SP")
    }

    // geolocation / sellers / products: dimension drops with dirty numerics
    (0 until (if (first) 100 else 10)).foreach { i =>
      val ok = first || i > 0
      emit("geolocation", s"$tag-a.csv", f"${r.nextInt(40)}%05d",
        if (ok) f"${-23.5 + r.nextInt(1000) / 1000.0}%.3f" else "abc",
        f"${-46.6 + r.nextInt(1000) / 1000.0}%.3f", "sao paulo", States(r.nextInt(States.size)))
      if (ok) valid += 1
    }
    (0 until (if (first) 40 else 2)).foreach { _ =>
      emit("sellers", s"$tag-a.csv", f"S${r.nextInt(500)}%04d", f"${r.nextInt(99999)}", " curitiba ", "pr")
      valid += 1
    }
    if (!first) emit("sellers", s"$tag-a.csv", "", "1", "x", "SP")
    (0 until (if (first) 100 else 5)).foreach { i =>
      val bad = !first && i == 0
      emit("products", s"$tag-a.csv", f"P${r.nextInt(2000)}%05d", " Perfumaria ", "40", "300", "2",
        if (bad) "heavy" else s"${100 + r.nextInt(900)}", "10", "12", "14")
      valid += 1
    }

    // orders with items, payments and reviews
    val nOrders = if (first) 400 else 150
    (0 until nOrders).foreach { _ =>
      val id = f"O$nextOrder%07d"
      nextOrder += 1
      val cust = if (r.nextInt(50) == 0) f"C9$nextOrder%06d" // no such customer: null state
        else f"C${r.nextInt(nextCustomer)}%06d"
      val status = Statuses(r.nextInt(Statuses.size))
      val t = Base.plusMinutes(r.nextInt(60 * 24 * 45).toLong)
      val rawStatus = if (r.nextInt(10) == 0) s" ${status.capitalize} " else status
      emit("orders", s"$tag-a.csv", id, cust, rawStatus, ts(t), ts(t.plusHours(2)),
        ts(t.plusDays(2)), ts(t.plusDays(5)), ts(t.plusDays(9)))
      orders(id) = Order(cust, status, t)
      valid += 1
      (1 to 1 + r.nextInt(3)).foreach { item =>
        val bad = r.nextInt(60) == 0
        emit("order_items", s"$tag-a.csv", id, item.toString, f"P${r.nextInt(2000)}%05d",
          f"S${r.nextInt(500)}%04d", ts(t.plusDays(3)), if (bad) "n/a" else s"${10 + r.nextInt(500)}.00",
          s"${r.nextInt(40)}.50")
        if (!bad) valid += 1
      }
      (1 to (if (r.nextInt(5) == 0) 2 else 1)).foreach { seq =>
        val cents = 500L + r.nextInt(90000)
        emit("order_payments", s"$tag-a.csv", id, seq.toString,
          PayTypes(r.nextInt(PayTypes.size)), if (r.nextInt(8) == 0) "" else s"${1 + r.nextInt(10)}",
          money(cents))
        payments((id, seq)) = cents
        valid += 1
      }
      if (r.nextInt(10) < 3) {
        val rid = f"R$nextReview%07d"
        nextReview += 1
        val kind = r.nextInt(12)
        val score = kind match { case 0 => "7"; case 1 => "x"; case _ => s"${1 + r.nextInt(5)}" }
        val created = if (kind == 2) "yesterday" else ts(t.plusDays(6))
        emit("order_reviews", s"$tag-a.csv", rid, id, score, " ok ", " fine ", created, ts(t.plusDays(7)))
        if (kind > 2) valid += 1
      }
    }

    if (!first) {
      // dirty orders: invalid status, unparseable timestamp, null key
      val base = Base.plusDays(3)
      emit("orders", s"$tag-a.csv", f"O9$round%06d", "C000001", "lost", ts(base), "", "", "", "")
      emit("orders", s"$tag-a.csv", f"O8$round%06d", "C000001", "shipped", "not-a-date", "", "", "", "")
      emit("orders", s"$tag-a.csv", "", "C000001", "shipped", ts(base), "", "", "", "")
      // re-delivered orders with a new status; an invalid re-delivery is dropped
      // each re-delivered key appears once per file: 20 status changes,
      // then 5 keys present in both files of the drop
      val picks = distinct(r, 25, oldOrders).map(n => f"O$n%07d")
      picks.take(20).zipWithIndex.foreach { case (id, k) =>
        orders.get(id).foreach { o =>
          if (k == 0) emit("orders", s"$tag-a.csv", id, o.customer, "misplaced", ts(o.purchase), "", "", "", "")
          else {
            val st = Statuses(r.nextInt(Statuses.size))
            emit("orders", s"$tag-a.csv", id, o.customer, st, ts(o.purchase), "", "", "", "")
            orders(id) = o.copy(status = st)
            valid += 1
          }
        }
      }
      // one key in two files of the same drop: the later file name wins
      picks.drop(20).foreach { id =>
        orders.get(id).foreach { o =>
          val a = Statuses(r.nextInt(Statuses.size))
          val b = Statuses(r.nextInt(Statuses.size))
          emit("orders", s"$tag-a.csv", id, o.customer, a, ts(o.purchase), "", "", "", "")
          emit("orders", s"$tag-b.csv", id, o.customer, b, ts(o.purchase), "", "", "", "")
          orders(id) = o.copy(status = b)
          valid += 2
        }
      }
      // re-delivered payments with corrected values; dirty payment rows
      val payKeys = payments.keys.toIndexedSeq.sorted
      distinct(r, 10, payKeys.size).foreach { n =>
        val key = payKeys(n)
        val cents = 500L + r.nextInt(90000)
        emit("order_payments", s"$tag-b.csv", key._1, key._2.toString, "voucher", "1", money(cents))
        payments(key) = cents
        valid += 1
      }
      emit("order_payments", s"$tag-b.csv", f"O${r.nextInt(nextOrder)}%07d", "3", "boleto", "1", "\"12,50\"")
      emit("order_payments", s"$tag-b.csv", f"O${r.nextInt(nextOrder)}%07d", "", "boleto", "1", "12.50")
    }

    files.foreach { case (rel, rows) =>
      val entity = rel.takeWhile(_ != '/')
      val body = (Headers(entity) +: rows.map(_.mkString(","))).mkString("", "\n", "\n")
      write(new File(s"$ingest/$rel"), body)
    }
    // a re-delivered file under an already-ingested name: the stream
    // source has seen the path, so the copy must change nothing
    if (round >= 2) {
      val old = new File(s"$ingest/customers/r${"%05d".format(round - 1)}-a.csv")
      if (old.exists()) write(old, new String(Files.readAllBytes(old.toPath), StandardCharsets.UTF_8))
    }
    valid
  }

  /** `n` distinct draws from [0, bound). */
  private def distinct(r: Random, n: Int, bound: Int): Seq[Int] = {
    val got = mutable.LinkedHashSet[Int]()
    while (got.size < math.min(n, bound)) got += r.nextInt(bound)
    got.toSeq
  }

  private def write(f: File, body: String): Unit = {
    f.getParentFile.mkdirs()
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    Files.write(f.toPath, bytes)
    csvBytes += bytes.length
  }

  /** The expected `metrics_revenue` rows: (order_date, customer_state,
    * order_status, total_revenue, order_count, payment_count), as
    * fingerprint values.
    */
  def expectedRevenue(): Fp = {
    val payByOrder = payments.toSeq.groupBy(_._1._1).view.mapValues(ps => (ps.map(_._2).sum, ps.size.toLong))
    val groups = mutable.Map[(Int, String, String), (Long, Long, Long)]()
    orders.foreach { case (id, o) =>
      payByOrder.get(id).foreach { case (cents, n) =>
        val key = (o.purchase.toLocalDate.toEpochDay.toInt, customers.get(o.customer).map(_.state).orNull, o.status)
        val (c0, n0, p0) = groups.getOrElse(key, (0L, 0L, 0L))
        groups(key) = (c0 + cents, n0 + 1, p0 + n)
      }
    }
    Fp.ofRows(groups.map { case ((d, st, status), (cents, n, p)) =>
      Seq(Fp.Day(d), st, status, Fp.Cents(cents), n, p) })
  }
}

object Olist {
  final case class Order(customer: String, status: String, purchase: LocalDateTime)
  final case class Customer(state: String)

  val TsFmt: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val Base: LocalDateTime = LocalDateTime.of(2018, 1, 1, 0, 0, 0)
  val States: Seq[String] = Seq("SP", "RJ", "MG", "RS", "PR", "SC", "BA", "DF", "GO", "PE")
  val Statuses: Seq[String] = Seq("created", "approved", "invoiced", "processing",
    "shipped", "delivered", "canceled", "unavailable")
  val PayTypes: Seq[String] = Seq("credit_card", "BOLETO", " debit_card ", "voucher")

  def money(cents: Long): String = f"${cents / 100}.${cents % 100}%02d"

  val Headers: Map[String, String] = Map(
    "customers" -> "customer_id,customer_unique_id,customer_zip_code_prefix,customer_city,customer_state",
    "geolocation" -> "geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,geolocation_city,geolocation_state",
    "sellers" -> "seller_id,seller_zip_code_prefix,seller_city,seller_state",
    "products" -> ("product_id,product_category_name,product_name_lenght,product_description_lenght," +
      "product_photos_qty,product_weight_g,product_length_cm,product_height_cm,product_width_cm"),
    "orders" -> ("order_id,customer_id,order_status,order_purchase_timestamp,order_approved_at," +
      "order_delivered_carrier_date,order_delivered_customer_date,order_estimated_delivery_date"),
    "order_items" -> "order_id,order_item_id,product_id,seller_id,shipping_limit_date,price,freight_value",
    "order_payments" -> "order_id,payment_sequential,payment_type,payment_installments,payment_value",
    "order_reviews" -> ("review_id,order_id,review_score,review_comment_title,review_comment_message," +
      "review_creation_date,review_answer_timestamp"))
}
