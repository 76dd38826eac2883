package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** What the typed sales table must hold for one generated sale. */
final case class Sale(id: String, timeSec: Long, productId: Int, qty: Int,
    priceCents: Long, totalCents: Long)

/** What the typed stock-movements table must hold for one movement. */
final case class Move(timeSec: Long, productId: Int, qty: Int, movement: String)

/** One published input file of one topic. */
final case class InFile(topic: String, name: String, lines: Int, typedRows: Int)

/** Seeded generator of the reference's JSONEachRow events (70% sales,
  * 30% warehouse movements, the reference's cardinalities, Cyrillic
  * strings), with a share of corrupt lines and null-price sales that the
  * ingest must drop. It keeps the tallies the output checks compare
  * against: the typed rows each topic must gain, and the fields the
  * four dashboard answers are computed from. */
final class Events(seed: Long) {
  import Events._

  val sales = mutable.ArrayBuffer.empty[Sale]
  val moves = mutable.ArrayBuffer.empty[Move]
  private var seq = 0L

  private def uuid(r: SplittableRandom): String =
    new java.util.UUID(r.nextLong(), r.nextLong()).toString

  /** Generate `n` events with event times drawn by `time` and write them
    * as one file per topic under `dir`; returns the files written. Each
    * file is written under a dot name and renamed, so a reader listing
    * `dir` never sees a partial file. */
  def write(dir: Path, tag: String, n: Int, time: SplittableRandom => Long): Seq[InFile] = {
    val r = new SplittableRandom(seed * 1000003L + seq)
    seq += 1
    val out = Map("sales" -> new StringBuilder, "warehouse" -> new StringBuilder)
    val lines = mutable.Map("sales" -> 0, "warehouse" -> 0)
    val typed = mutable.Map("sales" -> 0, "warehouse" -> 0)
    def emit(topic: String, s: String, ok: Boolean): Unit = {
      out(topic).append(s).append('\n')
      lines(topic) += 1
      if (ok) typed(topic) += 1
    }
    var i = 0
    while (i < n) {
      val topic = if (r.nextInt(10) < 7) "sales" else "warehouse"
      if (r.nextInt(1000) < CorruptPerMille) {
        emit(topic, s"""{"event_id": "${uuid(r)}", broken""", ok = false)
      } else {
        val t = time(r)
        val ts = Fmt.format(Instant.ofEpochSecond(t))
        val pid = 1 + r.nextInt(Products)
        val id = uuid(r)
        val head = s"""{"event_id":"$id","event_type":""" +
          (if (topic == "sales") "\"sale\"" else "\"stock_movement\"") +
          s""","event_time":"$ts","product_id":$pid,"product_name":"${productName(pid)}",""" +
          s""""category":"${categoryOf(pid)}","""
        if (topic == "sales") {
          val qty = 1 + r.nextInt(5)
          val price = 10000L + r.nextLong(990001L)
          val disc = r.nextInt(31).toLong
          val total = 10000L + r.nextLong(990001L)
          val nullPrice = r.nextInt(1000) < NullPricePerMille
          emit(topic, head + s""""quantity":$qty,"price":${if (nullPrice) "null" else money(price)},""" +
            s""""discount":${money(disc)},"total":${money(total)},"store_id":${1 + r.nextInt(10)},""" +
            s""""cashier_id":${1 + r.nextInt(20)},"customer_id":"${uuid(r)}"}""", ok = !nullPrice)
          if (!nullPrice) sales += Sale(id, t, pid, qty, price, total)
        } else {
          val qty = 1 + r.nextInt(100)
          val mt = MovementTypes(r.nextInt(MovementTypes.size))
          emit(topic, head + s""""warehouse":"${Warehouses(r.nextInt(Warehouses.size))}",""" +
            s""""quantity":$qty,"movement_type":"$mt","source":"ООО ${Words(r.nextInt(Words.size))}",""" +
            s""""responsible":"${Words(r.nextInt(Words.size))} ${Words(r.nextInt(Words.size))}"}""",
            ok = true)
          moves += Move(t, pid, qty, mt)
        }
      }
      i += 1
    }
    Seq("sales", "warehouse").filter(lines(_) > 0).map { topic =>
      val d = dir.resolve(topic)
      Files.createDirectories(d)
      val name = s"$tag.json"
      val aside = d.resolve(s".$name.tmp")
      Files.write(aside, out(topic).toString.getBytes(UTF_8))
      Files.move(aside, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      InFile(topic, name, lines(topic), typed(topic))
    }
  }
}

object Events {
  val CorruptPerMille = 5
  val NullPricePerMille = 15
  val Products = 50
  val Fmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  val Categories = Seq("Электроника", "Одежда", "Продукты", "Книги", "Игрушки")
  val Warehouses = Seq("Москва", "Санкт-Петербург", "Новосибирск", "Екатеринбург",
    "Казань", "Краснодар")
  val MovementTypes = Seq("supply", "relocation", "write_off")
  val Words = Seq("система", "письмо", "работа", "дорога", "ветер", "окно", "стол",
    "город", "книга", "звезда", "поле", "река", "голос", "мост", "сад", "лес")
  def productName(pid: Int): String =
    s"${Words(pid % Words.size)} ${Words((pid * 7 + 3) % Words.size)}"
  def categoryOf(pid: Int): String = Categories(pid % Categories.size)
  def epochSec(s: String): Long =
    java.time.LocalDateTime.parse(s.replace(' ', 'T')).toEpochSecond(ZoneOffset.UTC)

  def money(cents: Long): String = f"${cents / 100}.${cents % 100}%02d"

  /** The four dashboard answers over these events at a fixed `nowSec`,
    * in the row shape `Dashboard.rows` renders them. */
  def expectedDashboard(sales: Seq[Sale], moves: Seq[Move], nowSec: Long): Map[String, Seq[String]] = {
    val day = sales.filter(_.timeSec >= nowSec - 86400L)
    val byHour = day.groupBy(_.timeSec / 3600L).toSeq.sortBy(_._1).map { case (h, ss) =>
      s"${Fmt.format(Instant.ofEpochSecond(h * 3600L))}|${ss.map(_.qty.toLong).sum}|" +
        money(ss.map(_.totalCents).sum)
    }
    val week = moves.filter(_.timeSec >= nowSec - 7 * 86400L)
    val top = week.groupBy(_.productId).toSeq.map { case (p, ms) =>
      val in = ms.filter(_.movement == "supply").map(_.qty.toLong).sum
      val out = ms.filter(_.movement != "supply").map(_.qty.toLong).sum
      (p, in, out)
    }.sortBy { case (p, in, out) => (-(in + out), p) }.take(5).map { case (p, in, out) =>
      s"$p|${productName(p)}|$in|$out"
    }
    val recent = sales.sortBy(s => (-s.timeSec, s.id))(Ordering.Tuple2(Ordering.Long,
      Ordering.String.reverse)).take(10).map { s =>
      s"${s.productId}|${s.qty}|${money(s.priceCents)}|${Fmt.format(Instant.ofEpochSecond(s.timeSec))}|${s.id}"
    }
    val status = Seq(s"${sales.size}|${moves.size}|${if (sales.nonEmpty) "ready" else "waiting"}")
    Map("sales_by_hour" -> byHour, "top_movements" -> top, "recent_sales" -> recent,
      "status" -> status)
  }
}
