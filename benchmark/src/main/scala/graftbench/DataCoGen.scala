package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded DataCo supply-chain input: a CSV in `graft.sources.DataCo.schema`
  * column order with source dates in the `M/d/yyyy H:m` format, and a
  * GeoJSON FeatureCollection of LineString routes. The engine only ever
  * sees the two files.
  *
  * The shape follows the reference's full dataset: about 180k order
  * items over ~65k orders, ~20k repeat customers, 118 products in 51
  * categories and 11 departments, ~3.6k cities. Dirty natural keys (case
  * and whitespace variants of the geography and status strings), a small
  * share of unparseable dates, product price variants, routes that
  * mostly match order coordinates and some re-uploaded duplicates.
  *
  * While writing rows the generator accumulates the expected answers
  * ([[DataCoReference]]) without Spark: every dim's natural-key count,
  * the fact row count, and B1-B4 at day grain so that date-sliced
  * dashboard requests are checked too. */
object DataCoGen {

  val Departments = 11
  val Categories = 51
  val Products = 118
  val Customers = 20000
  val Cities = 3600
  val Countries = 160
  val Lanes = 12000
  val MaxRoutes = 10000
  val FirstDay: LocalDate = LocalDate.of(2015, 1, 1)
  val OrderDays = 1096
  // shipping dates run up to 6 days past the last order date
  val Days: Int = OrderDays + 7

  val ShippingModes = Seq("Standard Class", "Second Class", "First Class", "Same Day")
  private val ScheduledDays = Array(4, 2, 1, 0)
  val OrderStatuses = Seq("COMPLETE", "PENDING", "CLOSED", "PENDING_PAYMENT",
    "PROCESSING", "ON_HOLD", "SUSPECTED_FRAUD", "CANCELED", "PAYMENT_REVIEW")
  private val Markets = Seq("LATAM", "Europe", "Pacific Asia", "USCA", "Africa")
  private val Regions = Seq("Central America", "South America", "Caribbean",
    "Western Europe", "Northern Europe", "Southern Europe", "Eastern Europe",
    "Southeast Asia", "South Asia", "Oceania", "Eastern Asia", "West Asia",
    "Central Asia", "US Center", "West of USA", "East of USA", "South of  USA",
    "Canada", "West Africa", "North Africa", "East Africa", "Central Africa",
    "Southern Africa")
  private val Segments = Seq("Consumer", "Corporate", "Home Office")
  private val PayTypes = Seq("DEBIT", "TRANSFER", "PAYMENT", "CASH")
  private val Syllables = Seq("ka", "lo", "mi", "ra", "to", "ve", "san", "der",
    "bel", "mon", "ta", "ri", "go", "na", "pe", "lu", "sol", "vi", "qua", "zen")

  /** The schema's column names, in file order (`DataCo.schema`). */
  val Header: Seq[String] = Seq("type", "days_for_shipping_real",
    "days_for_shipment_scheduled", "benefit_per_order", "sales_per_customer",
    "delivery_status", "late_delivery_risk", "category_id", "category_name",
    "customer_city", "customer_country", "customer_email", "customer_fname",
    "customer_id", "customer_lname", "customer_password", "customer_segment",
    "customer_state", "customer_street", "customer_zipcode", "department_id",
    "department_name", "latitude_src", "longitude_src", "market", "order_city",
    "order_country", "order_customer_id", "order_date_dateorders", "order_id",
    "order_item_cardprod_id", "order_item_discount", "order_item_discount_rate",
    "order_item_id", "order_item_product_price", "order_item_profit_ratio",
    "order_item_quantity", "sales", "order_item_total", "order_profit_per_order",
    "order_region", "order_state", "order_status", "product_card_id",
    "product_category_id", "product_image", "product_name", "product_price",
    "product_status", "shipping_date_dateorders", "shipping_mode",
    "latitude_dest", "longitude_dest", "address_dest", "order_city_en",
    "order_state_en", "order_country_en", "order_zipcode")

  final case class Files(csv: String, geojson: String, csvBytes: Long,
      ref: DataCoReference)

  private def word(r: SplittableRandom, parts: Int): String = {
    val s = (0 until parts).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
    s.head.toUpper + s.tail
  }

  /** Distinct names: a seeded word plus the index keeps them unique. */
  private def names(r: SplittableRandom, n: Int, parts: Int): Array[String] =
    Array.tabulate(n)(i => s"${word(r, parts)} $i")

  /** Case and whitespace variants of a natural key; `upper(trim(x))`
    * folds every one of them back to `x.toUpperCase`. */
  private def dirty(r: SplittableRandom, s: String): String =
    if (r.nextInt(100) >= 6) s
    else r.nextInt(4) match {
      case 0 => s.toLowerCase
      case 1 => s.toUpperCase
      case 2 => s"  $s"
      case _ => s"$s "
    }

  /** Money and coordinates are fixed-point integers, printed without a
    * float round trip, so the CSV text and the reference agree exactly. */
  private def fixed(v: Long, digits: Int): String = {
    val a = math.abs(v)
    val unit = math.pow(10, digits).toLong
    val frac = (a % unit).toString
    (if (v < 0) "-" else "") + (a / unit) + "." + ("0" * (digits - frac.length)) + frac
  }
  private def cents(c: Long): String = fixed(c, 2)
  private def micro(v: Int): String = fixed(v.toLong, 6)
  private def padded(v: Int, width: Int): String = {
    val s = v.toString
    "0" * (width - s.length) + s
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"') || s != s.trim)
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def stamp(day: Int, minute: Int): String = {
    val d = FirstDay.plusDays(day.toLong)
    s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear} ${minute / 60}:${minute % 60}"
  }

  /** An unparseable source date: the lenient parse turns it into NULL. */
  private def badStamp(r: SplittableRandom, day: Int): String = r.nextInt(3) match {
    case 0 => ""
    case 1 => "N/A"
    case _ =>
      val d = FirstDay.plusDays(day.toLong)
      s"${d.getYear}-${padded(d.getMonthValue, 2)}-${padded(d.getDayOfMonth, 2)} 10:22"
  }

  def generate(seed: Long, dir: String, rows: Int): Files = {
    val r = new SplittableRandom(seed)
    new File(dir).mkdirs()
    val deptNames = names(r, Departments, 2)
    val catNames = names(r, Categories, 2)
    val catDept = Array.fill(Categories)(r.nextInt(Departments))
    // every department owns at least one category
    (0 until Departments).foreach(d => catDept(d) = d)
    val prodNames = names(r, Products, 3)
    val prodCat = Array.fill(Products)(r.nextInt(Categories))
    (0 until Categories).foreach(c => prodCat(c) = c)
    val prodCents = Array.fill(Products)(999L + r.nextInt(49000))
    val countryNames = names(r, Countries, 2)
    val countryRegion = Array.fill(Countries)(r.nextInt(Regions.size))
    val stateCountry = Array.fill(Cities / 3)(r.nextInt(Countries))
    (0 until Countries).foreach(c => stateCountry(c) = c)
    val stateNames = names(r, stateCountry.length, 2)
    val cityState = Array.fill(Cities)(r.nextInt(stateCountry.length))
    (0 until stateCountry.length).foreach(s => cityState(s) = s)
    val cityNames = names(r, Cities, 2)
    val custFirst = Array.fill(Customers)(word(r, 2))
    val custLast = Array.fill(Customers)(word(r, 3))
    val custSegment = Array.fill(Customers)(r.nextInt(Segments.size))
    val custCity = Array.fill(Customers)(r.nextInt(Cities))
    // lanes sit on even micro-degrees, unmatched routes on odd ones
    val laneSrc = Array.fill(Lanes)((2 * (r.nextInt(30000000) - 15000000),
      2 * (r.nextInt(120000000) - 60000000)))
    val laneDst = Array.fill(Lanes)((2 * (r.nextInt(60000000) - 30000000),
      2 * (r.nextInt(170000000) - 85000000)))

    val ref = new DataCoReference(catNames.toIndexedSeq, catDept.toIndexedSeq,
      deptNames.toIndexedSeq, countryNames.map(_.toUpperCase).toIndexedSeq)
    val usedLanes = new java.util.BitSet(Lanes)
    val laneRows = new Array[Int](Lanes)
    val dates = new java.util.BitSet(Days)
    val geo = mutable.HashSet.empty[Int]
    val status = mutable.HashSet.empty[(Int, Int, Int)]
    val depts = new java.util.BitSet(Departments)
    val cats = new java.util.BitSet(Categories)
    val prods = new java.util.BitSet(Products)
    val custs = new java.util.BitSet(Customers)

    val csv = s"$dir/dataco.csv"
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(csv), UTF_8), 1 << 20)
    out.write(Header.mkString(","))
    out.write('\n')
    val line = new java.lang.StringBuilder(1024)
    var itemId = 0
    var orderId = 0
    while (itemId < rows) {
      orderId += 1
      // repeat customers: a quadratic skew toward low ids
      val u = r.nextDouble()
      val cust = (u * u * Customers).toInt
      val city = custCity(cust)
      val state = cityState(city)
      val country = stateCountry(state)
      val region = countryRegion(country)
      val market = region % Markets.size
      val day = r.nextInt(OrderDays)
      val minute = r.nextInt(24 * 60)
      val mode = r.nextInt(ShippingModes.size)
      val sched = ScheduledDays(mode)
      val real = if (r.nextInt(100) < 55) sched + 1 + r.nextInt(3) else r.nextInt(sched + 1)
      val canceled = r.nextInt(100) < 4
      val ostatus = if (canceled) 7 else {
        val s = r.nextInt(OrderStatuses.size - 1)
        if (s >= 7) s + 1 else s
      }
      val dstatus =
        if (canceled) "Shipping canceled"
        else if (real > sched) "Late delivery"
        else if (real < sched) "Advance shipping"
        else "Shipping on time"
      val late = if (real > sched) 1 else 0
      val orderBad = r.nextInt(1000) < 3
      val shipBad = r.nextInt(1000) < 2
      val orderStamp = if (orderBad) badStamp(r, day) else stamp(day, minute)
      val shipStamp = if (shipBad) badStamp(r, day + real) else stamp(day + real, minute)
      if (!orderBad) dates.set(day)
      if (!shipBad) dates.set(day + real)
      val lane = {
        val v = r.nextDouble()
        (v * v * Lanes).toInt
      }
      usedLanes.set(lane)
      val items = 1 + r.nextInt(5)
      var k = 0
      while (k < items && itemId < rows) {
        itemId += 1
        k += 1
        val prod = r.nextInt(Products)
        val cat = prodCat(prod)
        val dept = catDept(cat)
        // a product occasionally lists at a variant price: the product
        // dim keeps one row per product_card_id regardless
        val price = if (r.nextInt(100) < 3) prodCents(prod) + 100 else prodCents(prod)
        val qty = 1 + r.nextInt(5)
        val sales = price * qty
        val rate = r.nextInt(26)
        val discount = sales * rate / 100
        val total = sales - discount
        val ratioPct = r.nextInt(131) - 80
        val profit = total * ratioPct / 100
        laneRows(lane) += 1
        geo += city
        status += ((mode, if (canceled) 3 else if (real > sched) 0 else if (real < sched) 1 else 2, ostatus))
        depts.set(dept); cats.set(cat); prods.set(prod); custs.set(cust)
        ref.add(if (orderBad) -1 else day, cat, profit, sales, mode, real <= sched,
          country, late)

        val (sLat, sLon) = laneSrc(lane)
        val (dLat, dLon) = laneDst(lane)
        val cityName = dirty(r, cityNames(city))
        val stateName = dirty(r, stateNames(state))
        val countryName = dirty(r, countryNames(country))
        val f = Array[String](
          PayTypes(r.nextInt(PayTypes.size)),
          real.toString, sched.toString, cents(profit), cents(total),
          dstatus, late.toString, (cat + 1).toString, catNames(cat),
          cityNames(city), countryNames(country), "XXXXXXXXX", custFirst(cust),
          (cust + 1).toString, custLast(cust), "XXXXXXXXX", Segments(custSegment(cust)),
          stateNames(state), s"${1000 + (cust * 7919) % 9000} ${custLast(cust)} Street",
          padded((cust * 104729) % 100000, 5),
          (dept + 1).toString, deptNames(dept), micro(sLat), micro(sLon),
          Markets(market), cityName, countryName, (cust + 1).toString,
          orderStamp, orderId.toString, (prod + 1).toString, cents(discount),
          cents(rate.toLong), itemId.toString, cents(price), cents(ratioPct.toLong),
          qty.toString, cents(sales), cents(total), cents(profit),
          Regions(region), stateName, dirty(r, OrderStatuses(ostatus)),
          (prod + 1).toString, (cat + 1).toString,
          s"http://images.acmesports.sports/${prodNames(prod).replace(' ', '+')}",
          prodNames(prod), cents(prodCents(prod)), "0", shipStamp,
          dirty(r, ShippingModes(mode)), micro(dLat), micro(dLon),
          s"${(orderId * 31) % 9999} Dest Road", cityNames(city), stateNames(state),
          countryNames(country), padded((city * 7) % 100000, 5))
        line.setLength(0)
        var i = 0
        while (i < f.length) {
          if (i > 0) line.append(',')
          line.append(csvField(f(i)))
          i += 1
        }
        line.append('\n')
        out.write(line.toString)
      }
    }
    out.close()

    // routes: mostly lanes the orders used, some unmatched, some
    // re-uploaded copies of an earlier route (same coordinates)
    val geojson = s"$dir/routes.geojson"
    val routeLanes = mutable.HashSet.empty[(Int, Int, Int, Int)]
    val features = mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
    val used = (0 until Lanes).filter(usedLanes.get)
    val matched = math.min(used.size, MaxRoutes * 80 / 100)
    val picked = used.toArray
    // seeded partial shuffle: the first `matched` lanes become routes
    (0 until matched).foreach { i =>
      val j = i + r.nextInt(picked.length - i)
      val t = picked(i); picked(i) = picked(j); picked(j) = t
    }
    var routedRows = 0L
    picked.take(matched).foreach { l =>
      features += ((laneSrc(l)._1, laneSrc(l)._2, laneDst(l)._1, laneDst(l)._2))
      routedRows += laneRows(l)
    }
    val unmatched = MaxRoutes * 12 / 100
    (0 until unmatched).foreach { _ =>
      features += ((2 * r.nextInt(30000000) + 1, 2 * r.nextInt(60000000) + 1,
        2 * r.nextInt(30000000) + 1, 2 * r.nextInt(60000000) + 1))
    }
    val distinctRoutes = features.size
    while (features.size < MaxRoutes) features += features(r.nextInt(distinctRoutes))
    routeLanes ++= features
    val g = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(geojson), UTF_8), 1 << 20)
    g.write("{\"type\":\"FeatureCollection\",\"features\":[\n")
    features.zipWithIndex.foreach { case ((sLat, sLon, dLat, dLon), i) =>
      if (i > 0) g.write(",\n")
      val mids = (0 until 1 + (i % 3)).map { m =>
        s"[${micro(sLon + (m + 1) * 1000 * (1 + i % 5))},${micro(sLat + (m + 1) * 777)}]"
      }
      val coords = (s"[${micro(sLon)},${micro(sLat)}]" +: mids :+
        s"[${micro(dLon)},${micro(dLat)}]").mkString(",")
      g.write(s"""{"type":"Feature","properties":{"route_id":"R${padded(i, 6)}"},""" +
        s""""geometry":{"type":"LineString","coordinates":[$coords]}}""")
    }
    g.write("\n]}\n")
    g.close()

    ref.counts = Map(
      "dim_department" -> depts.cardinality().toLong,
      "dim_category" -> cats.cardinality().toLong,
      "dim_product" -> prods.cardinality().toLong,
      "dim_customer" -> custs.cardinality().toLong,
      "dim_geography" -> geo.size.toLong,
      "dim_execution_status" -> status.size.toLong,
      "dim_date" -> dates.cardinality().toLong,
      "dim_route_shapes" -> routeLanes.size.toLong,
      "fact_order_items" -> itemId.toLong)
    ref.routedRows = routedRows
    Files(csv, geojson, new File(csv).length, ref)
  }
}

/** The expected warehouse contents and dashboard answers, accumulated
  * row by row by [[DataCoGen]]. Day index -1 is an unparseable order
  * date. Answers are rendered as the same strings [[Check]] renders the
  * engine's rows to, in each measure's ORDER BY. */
final class DataCoReference(catNames: IndexedSeq[String], catDept: IndexedSeq[Int],
    deptNames: IndexedSeq[String], countries: IndexedSeq[String]) {
  import DataCoGen._

  var counts: Map[String, Long] = Map.empty
  var routedRows: Long = 0L

  private val nCat = catNames.size
  private val nMode = ShippingModes.size
  private val nCountry = countries.size
  // slot Days holds the unparseable-date rows
  private val b1Profit = new Array[Long]((Days + 1) * nCat)
  private val b1N = new Array[Long]((Days + 1) * nCat)
  private val b2Sales = new Array[Long](Days + 1)
  private val b2N = new Array[Long](Days + 1)
  private val b3N = new Array[Long]((Days + 1) * nMode)
  private val b3Ok = new Array[Long]((Days + 1) * nMode)
  private val b4Late = new Array[Long]((Days + 1) * nCountry)
  private val b4N = new Array[Long]((Days + 1) * nCountry)

  private[graftbench] def add(day: Int, cat: Int, profit: Long, sales: Long,
      mode: Int, onSchedule: Boolean, country: Int, late: Int): Unit = {
    val d = if (day < 0) Days else day
    b1Profit(d * nCat + cat) += profit; b1N(d * nCat + cat) += 1
    b2Sales(d) += sales; b2N(d) += 1
    b3N(d * nMode + mode) += 1
    if (onSchedule) b3Ok(d * nMode + mode) += 1
    b4Late(d * nCountry + country) += late; b4N(d * nCountry + country) += 1
  }

  /** yyyyMMdd key of a day index, the fact's `order_date_key`. */
  def dateKey(day: Int): Int = {
    val d = FirstDay.plusDays(day.toLong)
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** Days the answer covers: all, unparseable included, when unsliced;
    * else the inclusive day-index range (NULL dates never match). */
  private def days(slice: Option[(Int, Int)]): Seq[Int] =
    slice.fold((0 to Days).toSeq)(s => s._1 to s._2)

  private def money(c: Long): String = BigDecimal(c, 2).bigDecimal.toPlainString

  def b1(slice: Option[(Int, Int)]): Seq[String] = {
    val p = new Array[Long](nCat); val n = new Array[Long](nCat)
    for (d <- days(slice); c <- 0 until nCat) {
      p(c) += b1Profit(d * nCat + c); n(c) += b1N(d * nCat + c)
    }
    (0 until nCat).filter(n(_) > 0)
      .map(c => (deptNames(catDept(c)), catNames(c), p(c), n(c))).sortBy(t => (t._1, t._2))
      .map(t => s"${t._1}|${t._2}|${money(t._3)}|${t._4}")
  }

  def b2(slice: Option[(Int, Int)]): Seq[String] = {
    val acc = mutable.TreeMap.empty[(Int, Int), (Long, Long)]
    var nullBucket = (0L, 0L)
    for (d <- days(slice) if b2N(d) > 0) {
      if (d == Days) nullBucket = (b2Sales(d), b2N(d))
      else {
        val date = FirstDay.plusDays(d.toLong)
        val k = (date.getYear, date.getMonthValue)
        val (s, n) = acc.getOrElse(k, (0L, 0L))
        acc(k) = (s + b2Sales(d), n + b2N(d))
      }
    }
    acc.toSeq.map { case ((y, m), (s, n)) => s"$y|$m|${money(s)}|$n" } ++
      (if (nullBucket._2 > 0) Seq(s"null|null|${money(nullBucket._1)}|${nullBucket._2}")
       else Nil)
  }

  def b3(slice: Option[(Int, Int)]): Seq[String] = {
    val n = new Array[Long](nMode); val ok = new Array[Long](nMode)
    for (d <- days(slice); m <- 0 until nMode) {
      n(m) += b3N(d * nMode + m); ok(m) += b3Ok(d * nMode + m)
    }
    (0 until nMode).filter(n(_) > 0)
      .map(m => (ShippingModes(m).toUpperCase, n(m), ok(m))).sortBy(_._1)
      .map { case (s, a, b) => s"$s|$a|$b|${b * 1000000 / a}" }
  }

  def b4(slice: Option[(Int, Int)]): Seq[String] = {
    val l = new Array[Long](nCountry); val n = new Array[Long](nCountry)
    for (d <- days(slice); c <- 0 until nCountry) {
      l(c) += b4Late(d * nCountry + c); n(c) += b4N(d * nCountry + c)
    }
    (0 until nCountry).filter(n(_) > 0)
      .map(c => (countries(c), l(c), n(c))).sortBy(_._1)
      .map { case (c, a, b) => s"$c|$a|$b" }
  }
}
