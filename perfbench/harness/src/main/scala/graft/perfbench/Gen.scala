package graft.perfbench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One generated CSV file: data rows (duplicate lines included) and the
  * rows whose timestamp the pipeline cannot parse.
  */
final case class GenFile(path: Path, bytes: Long, rows: Long, nullTs: Long)

/** One sf0.1 order line: order key, part key, quantity and order date
  * (days since 1970-01-01).
  */
final case class Line(order: Long, part: Int, qty: Int, day: Int)

/** One sf0.1 part; `quarters` is its retail price rounded down to a
  * multiple of 0.25, counted in quarters.
  */
final case class Part(key: Int, name: String, brand: String, kind: String, size: Int, quarters: Int)

/** The sf0.1 extract the generator draws from, written by
  * `perfbench/derive_sf.py` into `perfbench/data`.
  */
final class SfData(val parts: IndexedSeq[Part], val lines: IndexedSeq[Line])

object SfData {
  def load(dir: Path): SfData = {
    def rows(name: String): IndexedSeq[Array[String]] = {
      val in = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(Files.newInputStream(dir.resolve(name))), StandardCharsets.UTF_8))
      try in.lines.iterator.asScala.drop(1).map(_.split(',')).toIndexedSeq finally in.close()
    }
    val parts = rows("parts.csv.gz").map { f =>
      val Array(whole, frac) = f(5).split('.')
      Part(f(0).toInt, f(1), f(2), f(3), f(4).toInt, (whole.toInt * 100 + frac.toInt) / 25)
    }
    require(parts.indices.forall(i => parts(i).key == i), "parts.csv.gz: part keys are not 0..n-1")
    new SfData(parts, rows("lines.csv.gz").map(f => Line(f(0).toLong, f(1).toInt, f(2).toInt, f(3).toInt)))
  }
}

/** Seeded generator of the reference's orders and inventories CSVs,
  * drawn from the sf0.1 extract, with the reference's hazards on top:
  * camelCase headers, two ISO timestamp forms, empty and quoted fields,
  * and verbatim duplicate lines. Single-threaded; every file is a pure
  * function of the seed, the extract and the calls made before it.
  *
  * From sf0.1: every inventory row is a part (key, name, brand as the
  * sub-category, type as the category, size as the stock), every new
  * orders row is an sf0.1 order line (order key, part key, quantity, order
  * date), and an order's amount is its part's retail price. The seed
  * decides which lines each file takes, the time of day, the columns sf0.1
  * lacks (currency, shipping cost, channel, channel group, campaign), the
  * hazards, which keys are updated and their new quantities (drawn from
  * sf0.1's quantities).
  *
  * Amounts are multiples of 0.25 and quantities small integers, so every
  * double sum the reports take is exact in any order and the output
  * check can compare values exactly.
  */
final class Gen(seed: Long, data: SfData) {
  import Gen._

  private def rng(salt: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  def productId(i: Int): String = "P" + pad(i.toLong, 6)

  /** Lines written so far as orders rows, in insertion order. */
  val keys = ArrayBuffer.empty[Line]

  /** Every line once, in seeded order; first loads take from the front. */
  private val pool: Array[Line] = {
    val a = data.lines.toArray
    val r = rng(2L)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private var used = 0

  /** The lines no first load took, by order date: change batches insert
    * the newest and send the oldest as late rows. First loads come before
    * any change batch.
    */
  private lazy val rest: java.util.ArrayDeque[Line] =
    new java.util.ArrayDeque(pool.drop(used).sortBy(_.day).toSeq.asJava)

  private def take(from: => Line): Line = {
    val l = from
    require(l != null, "the sf0.1 extract has no lines left")
    keys += l
    l
  }

  def inventories(path: Path): GenFile = {
    val r = rng(1L)
    write(path, InventoryHeader) { emit =>
      data.parts.foreach { p =>
        val name = if (r.nextInt(3) == 0) s""""${p.name}, ${p.brand}"""" else p.name
        val sub = if (r.nextInt(10) == 0) "" else p.brand
        emit(s"${productId(p.key)},$name,${p.size},${p.kind},$sub", r.nextInt(100) == 0, false)
      }
    }
  }

  private def orderLine(r: SplittableRandom, l: Line, qty: Int): (String, Boolean) = {
    val currency = if (r.nextInt(4) == 0) "EUR" else "USD"
    val q = if (r.nextInt(200) == 0) "" else qty.toString
    val ship = cents(r.nextInt(3000))
    val channel = Channels(r.nextInt(Channels.length))
    val group = Groups(r.nextInt(Groups.length))
    val campaign = if (r.nextInt(5) == 0) "" else s""""camp,${r.nextInt(12)}""""
    val pick = r.nextInt(1000)
    val (ts, bad) =
      if (pick < 4) ("", true)
      else if (pick < 6) ("unknown", true)
      else (isoTs(l.day * 86400L + r.nextInt(86400), withSeconds = r.nextBoolean()), false)
    val b = new java.lang.StringBuilder(96)
    b.append('O').append(pad(l.order, 9)).append(',').append(productId(l.part)).append(',')
      .append(currency).append(',').append(q).append(',').append(ship).append(',')
      .append(quarters(data.parts(l.part).quarters)).append(',').append(channel).append(',')
      .append(group).append(',').append(campaign).append(',').append(ts)
    (b.toString, bad)
  }

  /** Orders for `n` new keys split over `nFiles` files. */
  def newOrders(dir: Path, tag: String, n: Int, nFiles: Int, salt: Long): Seq[GenFile] = {
    val r = rng(salt)
    val rows = (0 until n).map { _ =>
      val l = take(if (used < pool.length) { used += 1; pool(used - 1) } else null)
      orderLine(r, l, l.qty)
    }
    split(dir, tag, rows, nFiles, r)
  }

  /** Keys some change batch already updated. */
  private val updated = scala.collection.mutable.HashSet.empty[(Long, Int)]

  /** A batch of updates to existing keys chosen by `pick`, inserts of the
    * newest unused lines, and late rows: the oldest unused lines, whose
    * order dates lie years behind the rest. An update keeps the key's
    * order date and takes a new quantity drawn from sf0.1's lines. No key
    * is updated twice across batches: batches that a streaming drain takes
    * together are read in an order the upsert does not define, so a key
    * updated in two of them would have no single right answer.
    */
  def changeBatch(dir: Path, tag: String, nUpdates: Int, nInserts: Int, nLate: Int,
      nFiles: Int, salt: Long, pick: SplittableRandom => Line): Seq[GenFile] = {
    val r = rng(salt)
    val upd = ArrayBuffer.empty[(String, Boolean)]
    while (upd.size < nUpdates) {
      val l = pick(r)
      if (updated.add((l.order, l.part))) upd += orderLine(r, l, data.lines(r.nextInt(data.lines.size)).qty)
    }
    val ins = (0 until nInserts).map { _ => val l = take(rest.pollLast()); orderLine(r, l, l.qty) }
    val late = (0 until nLate).map { _ => val l = take(rest.pollFirst()); orderLine(r, l, l.qty) }
    split(dir, tag, r.nextInt(2) match {
      case 0 => upd.toSeq ++ ins ++ late
      case _ => ins ++ upd.toSeq ++ late
    }, nFiles, r)
  }

  /** A key inserted recently: geometric distance from the newest key.
    * sf0.1 has no update history; the skew toward recent keys is the
    * streaming workload's premise.
    */
  def recentKey(r: SplittableRandom): Line = {
    val back = (-math.log(1.0 - r.nextDouble()) * 3000).toInt
    keys(math.max(0, keys.size - 1 - back))
  }

  /** Any existing key, uniformly. */
  def anyKey(r: SplittableRandom): Line = keys(r.nextInt(keys.size))

  private def split(dir: Path, tag: String, rows: Seq[(String, Boolean)], nFiles: Int,
      r: SplittableRandom): Seq[GenFile] = {
    Files.createDirectories(dir)
    val per = (rows.size + nFiles - 1) / nFiles
    rows.grouped(math.max(per, 1)).zipWithIndex.map { case (part, i) =>
      write(dir.resolve(f"$tag-$i%02d.csv"), OrdersHeader) { emit =>
        part.foreach { case (line, bad) => emit(line, r.nextInt(50) == 0, bad) }
      }
    }.toSeq
  }

  private def write(path: Path, header: String)(
      body: ((String, Boolean, Boolean) => Unit) => Unit): GenFile = {
    var rows, nullTs = 0L
    val w: BufferedWriter = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try {
      w.write(header); w.write('\n')
      body { (line, dup, bad) =>
        val copies = if (dup) 2 else 1
        (0 until copies).foreach { _ => w.write(line); w.write('\n') }
        rows += copies
        if (bad) nullTs += copies
      }
    } finally w.close()
    GenFile(path, Files.size(path), rows, nullTs)
  }
}

object Gen {
  val OrdersHeader = "orderId,productId,currency,quantity,shippingCost,amount," +
    "channel,channelGroup,campaign,dateTime"
  val InventoryHeader = "productId,name,quantity,category,subCategory"
  private val Channels = Array("web", "app", "store", "partner")
  private val Groups = Array("direct", "paid", "organic")

  private def pad(v: Long, width: Int): String = {
    val s = v.toString
    if (s.length >= width) s else "0" * (width - s.length) + s
  }
  private def cents(c: Int): String = s"${c / 100}." + pad((c % 100).toLong, 2)
  private val QuarterDigits = Array("00", "25", "5", "75")
  private def quarters(q: Int): String = s"${q / 4}." + QuarterDigits(q % 4)

  private def isoTs(sec: Long, withSeconds: Boolean): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
    val base = pad(t.getYear.toLong, 4) + "-" + pad(t.getMonthValue.toLong, 2) + "-" +
      pad(t.getDayOfMonth.toLong, 2) + "T" + pad(t.getHour.toLong, 2) + ":" + pad(t.getMinute.toLong, 2)
    if (withSeconds) base + ":" + pad(t.getSecond.toLong, 2) + "Z" else base + "Z"
  }

  /** Land a file by atomic rename, as an uploader finishing a write. */
  def land(staged: Path, landing: Path): Unit = {
    Files.move(staged, landing.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE): Unit
  }
}
