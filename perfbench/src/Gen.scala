package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of the benchmark's star schema and its increments,
  * plus the driver-side oracle that replays them with the pipeline's
  * documented semantics. Pure Scala: the same seed gives the same rows
  * and query parameters, byte for byte (see [[Gen.digest]]). */
final case class LineRow(orderkey: Long, linenumber: Int, partkey: Long,
    suppkey: Long, quantity: Int, price: Long, discount: Int, shipmode: String,
    returnflag: String, l_updated_at: Timestamp)

final case class OrderRow(orderkey: Long, custkey: Long, orderstatus: String,
    orderpriority: String, o_updated_at: Timestamp)

final case class CustomerRow(custkey: Long, name: String, segment: String,
    nationkey: Int, updated_at: Timestamp)

final case class SupplierRow(suppkey: Long, name: String, nationkey: Int,
    updated_at: Timestamp)

/** One landing at the source. `replays` are rows of earlier landings sent
  * again with their original cdc timestamp (the watermark must drop them);
  * `lines` already holds this round's exact in-batch duplicates. */
final case class Increment(round: Int, lines: Vector[LineRow],
    replays: Vector[LineRow], orders: Vector[OrderRow],
    customers: Vector[CustomerRow], suppliers: Vector[SupplierRow]) {
  def allLines: Vector[LineRow] = lines ++ replays
}

/** A dashboard query: its shape and seeded parameters. */
final case class QuerySpec(shape: String, mode: String, orderkey: Long, linenumber: Int,
    custkey: Long, qty: Int, back: Int)

object Gen {
  val Modes = Vector("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Flags = Vector("A", "N", "R")
  val Statuses = Vector("F", "O", "P")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** Dashboard shapes, timed in every pass. */
  val Shapes = Vector("view_grain", "coarse_distinct", "join_view", "point",
    "scd2_history", "time_travel", "unrouted_join")

  /** Shapes the engine answered wrongly or not at all when this benchmark
    * was written: the COUNT(DISTINCT)-without-COUNT(*) rollup fails at
    * planning time, and an aggregate over an old fact version is routed to
    * the view's live state. `dashboard_reads` runs each once, after its
    * timed passes, and reports how many still fail, so a fix shows. */
  val KnownDefects = Vector("coarse_distinct_only", "time_travel_agg")

  private val Day = 86400000L
  private val Epoch = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  /** Round `r`'s i-th row of a table: strictly above every earlier round. */
  def ts(round: Int, i: Int): Timestamp = new Timestamp(Epoch + round * Day + i.toLong)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1)

  /** Sizes of the bootstrap star (`parts` is the fact's partkey domain). */
  final case class Sizes(orders: Int, parts: Int, customers: Int, suppliers: Int)

  /** Sha-256 over the canonical text of increments and query parameters. */
  def digest(items: Iterable[Product]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    items.foreach(p => md.update((p.toString + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Generator state and oracle in one: it draws each increment from the
  * live key space and replays it with the pipeline's semantics
  * (watermark `>` filter at ingest, NOT NULL expectation before gold,
  * SCD1 latest-by-key, SCD2 one version per distinct sequence value). */
final class Gen(seed: Long, sizes: Gen.Sizes) {
  import Gen._

  val lines = mutable.HashMap.empty[(Long, Int), LineRow]
  private val lineKeys = mutable.ArrayBuffer.empty[(Long, Int)]
  private val landedLines = mutable.ArrayBuffer.empty[LineRow]
  val orders = mutable.HashMap.empty[Long, OrderRow]
  private val orderKeys = mutable.ArrayBuffer.empty[Long]
  val customers = mutable.HashMap.empty[Long, CustomerRow]
  val custVersions = mutable.HashMap.empty[Long, Int]
  var supplierRows = 0L
  private val watermark = mutable.HashMap.empty[String, Long]
  private var nextOrder = 0L
  private var nextCust = sizes.customers.toLong
  var round = -1

  /** Rows per round that pass the watermark and expectations into gold. */
  var goldRows = 0L

  private def newOrderLines(r: SplittableRandom, round: Int, idx: Int,
      ok: Long): Vector[LineRow] =
    (1 to 1 + r.nextInt(7)).toVector.map(ln => line(r, round, idx + ln, ok, ln))

  private def line(r: SplittableRandom, round: Int, i: Int, ok: Long, ln: Int): LineRow = {
    val q = 1 + r.nextInt(50)
    LineRow(ok, ln, r.nextInt(sizes.parts).toLong, r.nextInt(sizes.suppliers).toLong,
      q, q * (100L + r.nextInt(200000)), r.nextInt(11),
      Modes(r.nextInt(Modes.size)), Flags(r.nextInt(Flags.size)), ts(round, i))
  }

  private def order(r: SplittableRandom, round: Int, i: Int, ok: Long): OrderRow =
    OrderRow(ok, r.nextInt(sizes.customers).toLong, Statuses(r.nextInt(Statuses.size)),
      Priorities(r.nextInt(Priorities.size)), ts(round, i))

  private def sample[T](r: SplittableRandom, from: collection.IndexedSeq[T], n: Int): Vector[T] = {
    val want = math.min(n, from.size)
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < want) picked += r.nextInt(from.size)
    picked.toVector.map(from)
  }

  /** The bootstrap landing (round 0). */
  def bootstrap(): Increment = {
    require(round == -1)
    val r = rng(seed, 0)
    val ords = (0 until sizes.orders).toVector.map(i => order(r, 0, i, i.toLong))
    nextOrder = sizes.orders.toLong
    val ls = ords.flatMap(o => newOrderLines(r, 0, o.orderkey.toInt * 8, o.orderkey))
    val cs = (0 until sizes.customers).toVector.map(c =>
      CustomerRow(c.toLong, f"Customer#$c%09d", Segments(r.nextInt(Segments.size)),
        r.nextInt(25), ts(0, c)))
    val ss = (0 until sizes.suppliers).toVector.map(s =>
      SupplierRow(s.toLong, f"Supplier#$s%09d", r.nextInt(25), ts(0, s)))
    apply(Increment(0, ls, Vector.empty, ords, cs, ss))
  }

  /** Round `round + 1`: about `frac` of the fact's keys change — updates of
    * live keys, new orders with their lines, replays of landed rows, exact
    * in-batch duplicates — plus order, customer (SCD2, with NOT NULL
    * violators) and supplier changes. */
  def next(frac: Double): Increment = {
    require(round >= 0, "bootstrap first")
    val rd = round + 1
    val r = rng(seed, rd)
    val target = math.max(8, (lines.size * frac).toInt)
    var i = 0
    def t(): Timestamp = { i += 1; ts(rd, i) }
    // new orders carry ~4 lines each: a tenth of the target in orders is
    // ~40% of the changed lines, the rest are updates of live keys
    val newOrds = (0 until math.max(1, target / 10)).toVector.map { _ =>
      val o = order(r, rd, 0, nextOrder); nextOrder += 1; o.copy(o_updated_at = t())
    }
    val newLines = newOrds.flatMap(o =>
      newOrderLines(r, rd, 0, o.orderkey).map(_.copy(l_updated_at = t())))
    val updates = sample(r, lineKeys, math.max(1, target - newLines.size)).map { k =>
      val old = lines(k)
      val q = 1 + r.nextInt(50)
      old.copy(quantity = q, price = q * (100L + r.nextInt(200000)),
        discount = r.nextInt(11),
        shipmode = if (r.nextInt(5) == 0) Modes(r.nextInt(Modes.size)) else old.shipmode,
        returnflag = if (r.nextInt(3) == 0) Flags(r.nextInt(Flags.size)) else old.returnflag,
        partkey = if (r.nextInt(10) == 0) r.nextInt(sizes.parts).toLong else old.partkey,
        l_updated_at = t())
    }
    val fresh = newLines ++ updates
    val dups = sample(r, fresh, math.max(1, target / 100))
    val replays = sample(r, landedLines, math.max(1, target / 20))
    val ordUpd = sample(r, orderKeys, math.max(1, (orders.size * frac / 2).toInt)).map { k =>
      orders(k).copy(orderstatus = Statuses(r.nextInt(Statuses.size)),
        orderpriority = Priorities(r.nextInt(Priorities.size)), o_updated_at = t())
    }
    val custChg = sample(r, 0 until sizes.customers, math.max(1, (sizes.customers * frac).toInt))
      .map(c => customers(c.toLong).copy(segment = Segments(r.nextInt(Segments.size)),
        updated_at = t()))
    val nViol = math.max(2, custChg.size / 10)
    val violators = (0 until nViol).toVector.map { v =>
      val key = if (v % 2 == 0) r.nextInt(sizes.customers).toLong
                else { nextCust += 1; nextCust }
      CustomerRow(key, f"Customer#$key%09d", null, r.nextInt(25), t())
    }
    val supUpd = sample(r, 0 until sizes.suppliers, math.max(1, (sizes.suppliers * frac).toInt))
      .map(s => SupplierRow(s.toLong, f"Supplier#$s%09d", r.nextInt(25), t()))
    apply(Increment(rd, fresh ++ dups, replays, newOrds ++ ordUpd, custChg ++ violators, supUpd))
  }

  /** Replays an increment through the oracle; returns it unchanged. */
  private def apply(inc: Increment): Increment = {
    round = inc.round
    def admit[T](table: String, rows: Seq[T])(tsOf: T => Timestamp): Seq[T] = {
      val wm = watermark.getOrElse(table, Long.MinValue)
      val in = rows.filter(x => tsOf(x).getTime > wm)
      if (in.nonEmpty) watermark(table) = math.max(wm, in.map(x => tsOf(x).getTime).max)
      in
    }
    var gold = 0L
    val ls = admit("lineitem", inc.allLines)(_.l_updated_at)
    gold += ls.size
    ls.foreach { l =>
      val k = (l.orderkey, l.linenumber)
      lines.get(k) match {
        case Some(old) if old.l_updated_at.getTime >= l.l_updated_at.getTime => ()
        case prev =>
          if (prev.isEmpty) lineKeys += k
          lines(k) = l
      }
    }
    landedLines ++= inc.lines
    val os = admit("orders", inc.orders)(_.o_updated_at)
    gold += os.size
    os.foreach { o =>
      if (!orders.contains(o.orderkey)) orderKeys += o.orderkey
      orders(o.orderkey) = o
    }
    val cs = admit("customer", inc.customers)(_.updated_at).filter(_.segment != null)
    gold += cs.size
    cs.distinct.foreach { c =>
      custVersions(c.custkey) = custVersions.getOrElse(c.custkey, 0) + 1
      customers(c.custkey) = c
    }
    supplierRows += admit("supplier", inc.suppliers)(_.updated_at).size
    goldRows = gold
    inc
  }

  // ── oracle aggregates ────────────────────────────────────────────────

  /** (shipmode, returnflag) → (count, sum(price), count(distinct partkey)). */
  def viewGrain: Map[(String, String), (Long, Long, Long)] =
    lines.values.groupBy(l => (l.shipmode, l.returnflag)).map { case (g, ls) =>
      g -> (ls.size.toLong, ls.map(_.price).sum, ls.map(_.partkey).toSet.size.toLong)
    }

  /** orderpriority → (count, sum(price)) over lines ⋈ orders. */
  def joinGrain: Map[String, (Long, Long)] =
    lines.values.flatMap(l => orders.get(l.orderkey).map(o => o.orderpriority -> l.price))
      .groupBy(_._1).map { case (p, xs) => p -> (xs.size.toLong, xs.map(_._2).sum) }

  /** (open, closed) SCD2 versions of customer. */
  def customerVersions: (Long, Long) = {
    val total = custVersions.values.map(_.toLong).sum
    (custVersions.size.toLong, total - custVersions.size)
  }

  /** (count, sum(price)) of the live fact. */
  def factTotals: (Long, Long) = (lines.size.toLong, lines.values.map(_.price).sum)

  /** orderstatus → sum(price) over lines ⋈ orders for lines of quantity ≥ `minQty`. */
  def statusRevenue(minQty: Int): Map[String, Long] =
    lines.values.filter(_.quantity >= minQty).flatMap(l =>
      orders.get(l.orderkey).map(o => o.orderstatus -> l.price))
      .groupBy(_._1).map { case (st, xs) => st -> xs.map(_._2).sum }

  /** The dashboard's seeded query stream: shapes cycle in a fresh seeded
    * order each pass, every query with its own parameters. */
  def queries(rounds: Int): Iterator[QuerySpec] = {
    val r = rng(seed, -1)
    val keys = lineKeys.toVector
    val custs = custVersions.keys.toVector.sorted
    Iterator.continually {
      val order = Shapes.indices.toVector.map(i => (r.nextInt(), i)).sortBy(_._1).map(_._2)
      order.map { s =>
        val (ok, ln) = keys(r.nextInt(keys.size))
        QuerySpec(Shapes(s), Modes(r.nextInt(Modes.size)), ok, ln,
          custs(r.nextInt(custs.size)), 1 + r.nextInt(50), 1 + r.nextInt(math.max(1, rounds)))
      }
    }.flatten
  }
}
