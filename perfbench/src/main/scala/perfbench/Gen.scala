package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Sizes of one generated data set. */
final case class Sizes(
    archives: Int = 24,
    rowsPerArchive: Int = 2000,
    mediaPerArchive: Int = 12,
    dupRowsPerArchive: Int = 20,
    deltaChanged: Int = 24,
    deltaNew: Int = 10,
    deltaUnchanged: Int = 6,
    deltaTombs: Int = 4,
    requests: Int = 0,
    docs: Int = 0,
    benchDocs: Int = 500,
    deltaDocs: Int = 0)

/** Seeded generator. Everything the engine reads is written as files
  * under `out`; the facts planted in them go to `manifest.json` (and,
  * per request, into `requests.jsonl`). The same seed and sizes give
  * byte-identical files. */
object Gen {

  // ---- vocabularies (seed-independent; the seed drives the draws) ----

  private val Syl = Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze")
  private def syl3(k: Int): String = Syl(k / 100 % 10) + Syl(k / 10 % 10) + Syl(k % 10)
  private def cap(s: String): String = s"${s.head.toUpper}${s.tail}"

  val NGenera = 200
  val NFamilies = 40
  val NCollectors = 60
  def genus(k: Int): String = cap(syl3(k)) + "ia"
  def family(k: Int): String = cap(syl3(k * 7 + 3)) + "idae"
  def order(k: Int): String = cap(syl3(k * 13 + 5)) + "ales"
  val Kingdoms = Array("Animalia", "Plantae", "Fungi")
  val Basis = Array("PreservedSpecimen", "FossilSpecimen", "HumanObservation")
  val LocalityWords: Array[String] = Array.tabulate(300)(k => syl3(k * 3 + 1) + "o")

  /** Fixture "countries": (code, lon0, lon1, lat0, lat1). Points are
    * drawn strictly inside; a lon-sign flip lands outside every
    * rectangle, so the reverse-geocode flip search can repair it. */
  val Countries = Seq(
    ("aa", 9.5, 31.5, 44.5, 65.5),
    ("bb", -81.5, -59.5, 34.5, 55.5),
    ("cc", 59.5, 80.5, -41.5, -19.5))

  private lazy val famIndex: Map[String, Int] = (0 until NFamilies).map(f => family(f) -> f).toMap

  /** Families whose records the corrections table fills `dwc:order` for. */
  def correctedFamily(f: Int): Boolean = f % 5 == 1

  // ---- record model --------------------------------------------------

  // core columns after the id column, in meta.xml order
  val Terms: Array[String] = Array(
    "http://rs.tdwg.org/dwc/terms/occurrenceID",
    "http://rs.tdwg.org/dwc/terms/catalogNumber",
    "http://rs.tdwg.org/dwc/terms/scientificName",
    "http://rs.tdwg.org/dwc/terms/genus",
    "http://rs.tdwg.org/dwc/terms/family",
    "http://rs.tdwg.org/dwc/terms/order",
    "http://rs.tdwg.org/dwc/terms/kingdom",
    "http://rs.tdwg.org/dwc/terms/basisOfRecord",
    "http://rs.tdwg.org/dwc/terms/eventDate",
    "http://rs.tdwg.org/dwc/terms/decimalLatitude",
    "http://rs.tdwg.org/dwc/terms/decimalLongitude",
    "http://rs.tdwg.org/dwc/terms/geodeticDatum",
    "http://portal.idigbio.org/terms/isoCountryCode",
    "http://rs.tdwg.org/dwc/terms/minimumElevationInMeters",
    "http://rs.tdwg.org/dwc/terms/locality",
    "http://rs.tdwg.org/dwc/terms/waterBody",
    "http://rs.tdwg.org/dwc/terms/recordedBy")
  val OCC = 0; val CAT = 1; val SCI = 2; val GEN = 3; val FAM = 4; val ORD = 5
  val KING = 6; val BOR = 7; val DATE = 8; val LAT = 9; val LON = 10
  val DATUM = 11; val CC = 12; val ELEV = 13; val LOC = 14; val WATER = 15
  val RECBY = 16

  /** One occurrence in the generator's model of the store. `lat`/`lon`
    * are the true coordinates (what the index must hold after the
    * flip correction); `fields` is what the archive says. */
  final class Rec(val archive: Int, val j: Int, val fields: Array[String],
      val lat: Double, val lon: Double, var version: Int = 0,
      var deleted: Boolean = false, var media: Int = 0) {
    def rsid: String = s"rs$archive"
    def identifier: String = (rsid + "\\" + fields(OCC)).toLowerCase
    def uuid: String = Gen.uuidOf(identifier)
  }

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** The uuid minted for a new identifier (`Lifecycle.mintUuid` builds the
    * same md5 layout in Spark). */
  def uuidOf(identifier: String): String = {
    val h = md5Hex(identifier)
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20, 32)}"
  }

  /** Zipf(s) sampler over 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def fmt3(d: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.3f", d)

  /** Draw a point strictly inside country `c` on a 0.001° lattice, away
    * from the diagonal |lat| == |lon| and from every rectangle edge. */
  private def point(r: SplittableRandom, c: Int): (Double, Double) = {
    val (_, x0, x1, y0, y1) = Countries(c)
    var lon, lat = 0.0
    do {
      lon = math.round((x0 + 0.5 + r.nextDouble() * (x1 - x0 - 1)) * 1000) / 1000.0
      lat = math.round((y0 + 0.5 + r.nextDouble() * (y1 - y0 - 1)) * 1000) / 1000.0
    } while (math.abs(math.abs(lat) - math.abs(lon)) < 0.01)
    (lat, lon)
  }

  private def newRecord(r: SplittableRandom, a: Int, j: Int, genusZ: Zipf,
      collZ: Zipf, flip: Boolean): Rec = {
    val g = genusZ.draw(r)
    val fam = g % NFamilies
    val c = r.nextInt(Countries.size)
    val (lat, lon) = point(r, c)
    val f = new Array[String](Terms.length)
    f(OCC) = s"urn:catalog:$a:$j"
    f(CAT) = s"c$a-$j"
    f(SCI) = s"${genus(g)} ${syl3(r.nextInt(1000))}us"
    f(GEN) = genus(g)
    f(FAM) = family(fam)
    f(ORD) = ""
    f(KING) = Kingdoms(fam % Kingdoms.length)
    f(BOR) = Basis(r.nextInt(Basis.length))
    f(DATE) = f"${1950 + r.nextInt(70)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    f(LAT) = fmt3(lat)
    f(LON) = fmt3(if (flip) -lon else lon)
    f(DATUM) = "WGS84"
    f(CC) = Countries(c)._1
    f(ELEV) = if (r.nextInt(10) == 0) "" else r.nextInt(4000).toString
    f(LOC) = Seq.fill(3 + r.nextInt(3))(LocalityWords(r.nextInt(LocalityWords.length))).mkString(" ")
    f(WATER) = if (r.nextInt(5) == 0) "lake " + LocalityWords(r.nextInt(LocalityWords.length)) else ""
    f(RECBY) = s"coll${collZ.draw(r)}"
    new Rec(a, j, f, lat, lon)
  }

  // ---- file writers --------------------------------------------------

  private def write(p: Path, s: String): Long = {
    Files.createDirectories(p.getParent)
    val b = s.getBytes(UTF_8)
    Files.write(p, b)
    b.length.toLong
  }

  private def xmlEsc(s: String): String = s.replace("&", "&amp;").replace("\"", "&quot;")

  def metaXml(withMedia: Boolean): String = {
    val core = Terms.zipWithIndex.map { case (t, i) =>
      s"""    <field index="${i + 1}" term="${xmlEsc(t)}"/>""" }.mkString("\n")
    val ext =
      if (!withMedia) ""
      else
        """
          |  <extension encoding="UTF-8" fieldsTerminatedBy="\t" linesTerminatedBy="\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/ac/terms/multimedia">
          |    <files><location>multimedia.txt</location></files>
          |    <coreid index="0"/>
          |    <field index="1" term="http://purl.org/dc/terms/identifier"/>
          |    <field index="2" term="http://rs.tdwg.org/ac/terms/accessURI"/>
          |    <field index="3" term="http://purl.org/dc/terms/format"/>
          |  </extension>""".stripMargin
    s"""<archive xmlns="http://rs.tdwg.org/dwc/text/">
       |  <core encoding="UTF-8" fieldsTerminatedBy="\\t" linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
       |    <files><location>occurrence.txt</location></files>
       |    <id index="0"/>
       |$core
       |  </core>$ext
       |</archive>
       |""".stripMargin
  }

  private val header: String =
    ("id" +: Terms.map(t => t.substring(t.lastIndexOf('/') + 1))).mkString("\t")

  private def row(rec: Rec): String = (rec.fields(OCC) +: rec.fields).mkString("\t")

  /** A 320×240 JPEG of seeded flat blocks. */
  def jpeg(seed: Long): Array[Byte] = {
    val r = new SplittableRandom(seed)
    val img = new java.awt.image.BufferedImage(320, 240, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    for (bx <- 0 until 8; by <- 0 until 6) {
      g.setColor(new java.awt.Color(r.nextInt(256), r.nextInt(256), r.nextInt(256)))
      g.fillRect(bx * 40, by * 40, 40, 40)
    }
    g.dispose()
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpeg", buf)
    buf.toByteArray
  }

  // ---- JSON output (hand-rolled: fixed key order keeps files stable) --

  def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n"); case '\t' => b.append("\\t")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => js(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  // ---- search predicates over the model ------------------------------

  /** A DSL query plus the model-side predicate it must agree with. */
  final case class Search(json: String, test: Rec => Boolean)

  private val EarthR = 6371008.8
  private def haversine(la1: Double, lo1: Double, la2: Double, lo2: Double): Double = {
    val dLat = math.toRadians(la2 - la1); val dLon = math.toRadians(lo2 - lo1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(la1)) * math.cos(math.toRadians(la2)) * math.pow(math.sin(dLon / 2), 2)
    2 * EarthR * math.asin(math.min(1.0, math.sqrt(a)))
  }
  private def elev(r: Rec): Option[Int] =
    if (r.fields(ELEV).isEmpty) None else Some(r.fields(ELEV).toInt)

  /** One seeded search of the given kind (0 until 9). Values are drawn
    * Zipf-skewed through `genusZ`; geo bounds sit on half-lattice
    * coordinates so no point lies on an edge. */
  def search(kind: Int, r: SplittableRandom, genusZ: Zipf, recs: Seq[Rec]): Search = kind match {
    case 0 =>
      val g = genus(genusZ.draw(r)).toLowerCase
      Search(obj("genus" -> js(g)), _.fields(GEN).equalsIgnoreCase(g))
    case 1 =>
      val fs = Seq.fill(3)(family(r.nextInt(NFamilies)).toLowerCase).distinct
      Search(obj("family" -> arr(fs.map(js))), x => fs.exists(_.equalsIgnoreCase(x.fields(FAM))))
    case 2 =>
      val lo = r.nextInt(3000); val hi = lo + 100 + r.nextInt(900)
      Search(obj("minelevation" -> obj("type" -> js("range"), "gte" -> lo.toString, "lt" -> hi.toString)),
        x => elev(x).exists(e => e >= lo && e < hi))
    case 3 =>
      val p = genus(genusZ.draw(r)).toLowerCase.take(5)
      Search(obj("scientificname" -> obj("type" -> js("prefix"), "value" -> js(p))),
        _.fields(SCI).regionMatches(true, 0, p, 0, p.length))
    case 4 =>
      if (r.nextBoolean())
        Search(obj("waterbody" -> obj("type" -> js("exists"))), _.fields(WATER).nonEmpty)
      else
        Search(obj("minelevation" -> obj("type" -> js("missing"))), _.fields(ELEV).isEmpty)
    case 5 =>
      val ws = Seq.fill(1 + r.nextInt(2))(LocalityWords(r.nextInt(60))).distinct
      Search(obj("locality" -> obj("type" -> js("fulltext"), "value" -> js(ws.mkString(" ")))),
        x => { val t = " " + x.fields(LOC) + " "; ws.forall(w => t.contains(" " + w + " ")) })
    case 6 =>
      val c = Countries(r.nextInt(Countries.size))
      val lon0 = c._2 + 1 + r.nextInt(10) + 0.0005; val lon1 = lon0 + 4 + r.nextInt(6)
      val lat0 = c._4 + 1 + r.nextInt(10) + 0.0005; val lat1 = lat0 + 4 + r.nextInt(6)
      Search(obj("geopoint" -> obj("type" -> js("geo_bounding_box"),
          "top_left" -> obj("lat" -> lat1.toString, "lon" -> lon0.toString),
          "bottom_right" -> obj("lat" -> lat0.toString, "lon" -> lon1.toString))),
        x => x.lat <= lat1 && x.lat >= lat0 && x.lon >= lon0 && x.lon <= lon1)
    case 7 =>
      // a radius no live point sits within 0.5% of
      val c = recs(r.nextInt(recs.size))
      var km = 100 + r.nextInt(300)
      def near(k: Int) = recs.exists { x =>
        val d = haversine(c.lat, c.lon, x.lat, x.lon); math.abs(d - k * 1000.0) < k * 5.0 }
      while (near(km)) km += 1
      val kmF = km
      Search(obj("geopoint" -> obj("type" -> js("geo_distance"), "distance" -> js(s"${kmF}km"),
          "lat" -> fmt3(c.lat), "lon" -> fmt3(c.lon))),
        x => haversine(c.lat, c.lon, x.lat, x.lon) <= kmF * 1000.0)
    case _ =>
      val k = Kingdoms(r.nextInt(Kingdoms.length)).toLowerCase
      val b = Basis(r.nextInt(Basis.length)).toLowerCase
      val lo = r.nextInt(3000)
      Search(obj("kingdom" -> js(k), "basisofrecord" -> js(b),
          "minelevation" -> obj("type" -> js("range"), "gte" -> lo.toString)),
        x => x.fields(KING).equalsIgnoreCase(k) && x.fields(BOR).equalsIgnoreCase(b) &&
          elev(x).exists(_ >= lo))
  }
  val SearchKinds = 9

  // ---- the occurrence data set (serve_mix) ---------------------------

  /** Writes archives, media, corrections and countries; returns the
    * model so delta and request generation can continue from it. */
  def records(seed: Long, sz: Sizes, out: Path): (Seq[Rec], StringBuilder) = {
    val r = new SplittableRandom(seed)
    val genusZ = new Zipf(NGenera, 1.1)
    val collZ = new Zipf(NCollectors, 1.0)
    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
    val perArchive = Seq.newBuilder[String]
    var flippedTotal, correctedTotal, dupTotal, mediaTotal = 0L
    var inputBytes = 0L
    for (a <- 0 until sz.archives) {
      val ar = new SplittableRandom(r.nextLong())
      val mine = (0 until sz.rowsPerArchive).map { j =>
        newRecord(ar, a, j, genusZ, collZ, flip = ar.nextInt(50) == 0)
      }
      recs ++= mine
      // planted exact duplicate rows, interleaved at seeded positions
      val dups = (0 until sz.dupRowsPerArchive).map(_ => mine(ar.nextInt(mine.size)))
      val lines = scala.collection.mutable.ArrayBuffer(mine.map(row): _*)
      dups.foreach(d => lines.insert(ar.nextInt(lines.size + 1), row(d)))
      val dir = out.resolve(f"archives/a$a%02d")
      inputBytes += write(dir.resolve("meta.xml"), metaXml(withMedia = true))
      inputBytes += write(dir.resolve("occurrence.txt"), (header +: lines).mkString("", "\n", "\n"))
      // media: each media row hangs off one record; blobs live beside
      val mlines = (0 until sz.mediaPerArchive).map { m =>
        val owner = mine(ar.nextInt(mine.size))
        owner.media += 1
        val name = s"m$a-$m"
        val bytes = jpeg(ar.nextLong())
        Files.createDirectories(out.resolve(f"media/a$a%02d"))
        Files.write(out.resolve(f"media/a$a%02d/$name.jpg"), bytes)
        inputBytes += bytes.length
        s"${owner.fields(OCC)}\t$name\tmedia/a$a/$name.jpg\timage/jpeg"
      }
      inputBytes += write(dir.resolve("multimedia.txt"),
        ("coreid\tidentifier\taccessURI\tformat" +: mlines).mkString("", "\n", "\n"))
      val flipped = mine.count(x => x.fields(LON) != fmt3(x.lon))
      val corrected = mine.count(x => correctedFamily(famIndex(x.fields(FAM))))
      flippedTotal += flipped; correctedTotal += corrected
      dupTotal += dups.size; mediaTotal += mlines.size
      perArchive += obj("archive" -> a.toString,
        "rows" -> (mine.size + dups.size).toString,
        "dup_rows" -> dups.size.toString,
        "records" -> mine.size.toString,
        "media" -> mlines.size.toString,
        "flipped" -> flipped.toString,
        "corrected" -> corrected.toString)
    }
    write(out.resolve("corrections.tsv"),
      (0 until NFamilies).filter(correctedFamily)
        .map(f => s"${family(f)}\t${order(f)}").mkString("", "\n", "\n"))
    write(out.resolve("countries.tsv"),
      Countries.map { case (c, x0, x1, y0, y1) => s"$c\t$x0\t$x1\t$y0\t$y1" }
        .mkString("", "\n", "\n"))
    // post-load planted searches: one of each kind, over the full load
    val sr = new SplittableRandom(seed ^ 0x5EA7C4L)
    val searches = (0 until SearchKinds).map { k =>
      val s = search(k, sr, genusZ, recs.toSeq)
      obj("q" -> s.json, "expect" -> recs.count(s.test).toString)
    }
    val m = new StringBuilder
    m.append(obj(
      "seed" -> seed.toString,
      "archives" -> arr(perArchive.result()),
      "records" -> recs.size.toString,
      "dup_rows" -> dupTotal.toString,
      "distinct_bodies" -> recs.size.toString,
      "media" -> mediaTotal.toString,
      "flipped" -> flippedTotal.toString,
      "corrected" -> correctedTotal.toString,
      "input_bytes" -> inputBytes.toString,
      "searches" -> arr(searches)))
    (recs.toSeq, m)
  }

  /** One serving cycle: 60% searches, 20% item views, 10% downloads and
    * 10% delta batches, in a seeded order within each cycle. */
  val Cycle: Seq[String] =
    Seq.fill(6)("search") ++ Seq.fill(2)("view") ++ Seq("download", "delta")
  /** Search kinds in rotation: cycle c runs the 6 kinds from position 6c
    * on, so every run's first cycle has the same kinds and three cycles
    * cover all nine. */
  private val KindRotation = Seq(0, 1, 2, 5, 6, 7, 3, 4, 8)
  def cycleSearchKinds(c: Int): Seq[Int] =
    (0 until 6).map(k => KindRotation((c * 6 + k) % KindRotation.size))

  /** Deltas and the request sequence for serve_mix, continuing the model
    * `recs0`. Every request line carries the answer it must get. */
  def serve(seed: Long, sz: Sizes, out: Path, recs0: Seq[Rec]): String = {
    val r = new SplittableRandom(seed ^ 0x5E2FEL)
    val genusZ = new Zipf(NGenera, 1.1)
    val collZ = new Zipf(NCollectors, 1.0)
    val archZ = new Zipf(sz.archives, 0.8) // recent recordsets are hotter
    val recs = scala.collection.mutable.ArrayBuffer(recs0: _*)
    val byArchive = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[Rec]]
    recs.foreach(x => byArchive.getOrElseUpdate(x.archive, scala.collection.mutable.ArrayBuffer.empty) += x)
    val nextJ = scala.collection.mutable.Map.empty[Int, Int].withDefault(_ => sz.rowsPerArchive)
    val recent = scala.collection.mutable.ArrayBuffer.empty[Rec] // touched by deltas, newest last
    val reqs = Seq.newBuilder[String]
    var delta = 0
    var deltaBytes = 0L
    def shuffled[T](xs: Seq[T]): Seq[T] = {
      val c = xs.toBuffer
      for (k <- c.length - 1 to 1 by -1) { val j = r.nextInt(k + 1); val t = c(k); c(k) = c(j); c(j) = t }
      c.toSeq
    }
    val cycles = (0 until sz.requests / Cycle.size).map(c => (shuffled(Cycle), shuffled(cycleSearchKinds(c))))
    val kinds = cycles.flatMap { case (ops, searchKinds) =>
      val sk = searchKinds.iterator
      ops.map(op => (op, if (op == "search") sk.next() else -1))
    }
    for ((kind, searchKind) <- kinds) {
      if (kind == "delta") {
        val a = sz.archives - 1 - archZ.draw(r)
        val live = byArchive(a).filter(!_.deleted)
        val picked = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
          .shuffle(live.toSeq).take(sz.deltaChanged + sz.deltaUnchanged + sz.deltaTombs)
        val (changed, rest) = picked.splitAt(sz.deltaChanged)
        val (unchanged, tombs) = rest.splitAt(sz.deltaUnchanged)
        val marker = s"delta$delta"
        changed.foreach { x =>
          x.fields(RECBY) = marker
          x.fields(LOC) = x.fields(LOC) + " " + LocalityWords(r.nextInt(LocalityWords.length))
          x.version += 1
        }
        val fresh = (0 until sz.deltaNew).map { _ =>
          val j = nextJ(a); nextJ(a) = j + 1
          val x = newRecord(r, a, j, genusZ, collZ, flip = false)
          x.fields(RECBY) = marker
          byArchive(a) += x; recs += x; x
        }
        tombs.foreach { x => x.deleted = true; x.version += 1 }
        recent ++= changed ++ fresh
        val dir = out.resolve(f"deltas/d$delta%03d")
        deltaBytes += write(dir.resolve("meta.xml"), metaXml(withMedia = false))
        deltaBytes += write(dir.resolve("occurrence.txt"),
          (header +: (changed ++ unchanged ++ fresh).map(row)).mkString("", "\n", "\n"))
        deltaBytes += write(dir.resolve("deleted.txt"),
          tombs.map(_.fields(OCC)).mkString("", "\n", "\n"))
        reqs += obj("op" -> js("delta"), "delta" -> delta.toString, "archive" -> a.toString,
          "marker" -> js(marker),
          "rows" -> (changed.size + unchanged.size + fresh.size).toString,
          "changed" -> changed.size.toString, "new" -> fresh.size.toString,
          "unchanged" -> unchanged.size.toString,
          "tombstones" -> arr(tombs.map(x => js(x.uuid))))
        delta += 1
      } else if (kind == "view") {
        // item view: half from recently touched records, half uniform
        val live = if (recent.nonEmpty && r.nextBoolean()) {
          val k = recent.size - 1 - math.min(recent.size - 1, (r.nextDouble() * r.nextDouble() * recent.size).toInt)
          recent(k)
        } else recs(r.nextInt(recs.size))
        val x = if (live.deleted) recs.find(!_.deleted).get else live
        reqs += obj("op" -> js("view"), "uuid" -> js(x.uuid),
          "identifier" -> js(x.identifier), "version" -> x.version.toString,
          "media" -> x.media.toString)
      } else if (kind == "download") {
        // downloads: selective term or fulltext searches
        val s = search(if (r.nextBoolean()) 0 else 5, r, genusZ, recs.toSeq)
        reqs += obj("op" -> js("download"), "q" -> s.json,
          "expect" -> recs.count(x => !x.deleted && s.test(x)).toString)
      } else {
        val s = search(searchKind, r, genusZ, recs.filter(!_.deleted).toSeq)
        reqs += obj("op" -> js("search"), "q" -> s.json,
          "expect" -> recs.count(x => !x.deleted && s.test(x)).toString)
      }
    }
    write(out.resolve("requests.jsonl"), reqs.result().mkString("", "\n", "\n"))
    obj("deltas" -> delta.toString, "delta_bytes" -> deltaBytes.toString,
      "requests" -> sz.requests.toString)
  }

  // ---- the training corpus (corpus_curate) ---------------------------

  val Langs = Seq("en", "de", "fr")
  val Stops: Map[String, Array[String]] = Map(
    "en" -> Array("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Array("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Array("le", "et", "est", "pour", "le", "et", "est", "pour"))
  private val LangVocab: Map[String, Array[String]] = Langs.zipWithIndex.map { case (l, li) =>
    l -> Array.tabulate(3000)(k => syl3(k) + Syl(k % 7) + Seq("x", "q", "w")(li) + Syl(li))
  }.toMap

  private def sentence(r: SplittableRandom, lang: String, n: Int): Array[String] = {
    val v = LangVocab(lang); val st = Stops(lang)
    Array.fill(n)(if (r.nextInt(4) == 0) st(r.nextInt(st.length)) else v(r.nextInt(v.length)))
  }

  /** Writes corpus/docs.jsonl, corpus/bench.jsonl and corpus/delta.jsonl.
    * Planted: near-duplicate clusters (one-word substitutions, Jaccard
    * ≥ 0.8 to their seed doc), contaminated docs (a 12-word span of a
    * bench doc), junk (too short or repetitive), and delta docs that
    * near-duplicate a base doc. */
  def corpus(seed: Long, sz: Sizes, out: Path): String = {
    val r = new SplittableRandom(seed ^ 0xC0C0L)
    val sources = Seq("web", "books", "code", "news")
    def line(id: Long, src: String, lang: String, words: Array[String]): String =
      obj("doc_id" -> id.toString, "source" -> js(src), "lang" -> js(lang),
        "text" -> js(words.mkString(" ")))
    def mutate(w: Array[String], lang: String): Array[String] = {
      val c = w.clone(); val p = 3 + r.nextInt(c.length - 6)
      c(p) = LangVocab(lang)(r.nextInt(LangVocab(lang).length)); c
    }
    val bench = (0 until sz.benchDocs).map(_ => sentence(r, "en", 60 + r.nextInt(40)))
    write(out.resolve("corpus/bench.jsonl"), bench.zipWithIndex
      .map { case (w, i) => line(1000000L + i, "bench", "en", w) }.mkString("", "\n", "\n"))
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Array[String])]
    val clusters = Seq.newBuilder[String]
    val contaminated = Seq.newBuilder[Long]
    var junk = 0
    var id = 0L
    while (docs.size < sz.docs) {
      val src = sources(r.nextInt(sources.size))
      val lang = Langs(r.nextInt(Langs.size))
      val u = r.nextInt(100)
      if (u < 3) { // planted near-duplicate cluster of 2..4 docs
        val base = sentence(r, lang, 80 + r.nextInt(60))
        val n = 2 + r.nextInt(3)
        val members = (0 until n).map { k =>
          val w = if (k == 0) base else mutate(base, lang)
          docs += ((id, src, lang, w)); id += 1; id - 1
        }
        clusters += arr(members.map(_.toString))
      } else if (u < 4) { // contaminated: a 12-word span of a bench doc
        val b = bench(r.nextInt(bench.size))
        val p = r.nextInt(b.length - 12)
        val w = sentence(r, "en", 40) ++ b.slice(p, p + 12) ++ sentence(r, "en", 40)
        docs += ((id, src, "en", w)); contaminated += id; id += 1
      } else if (u < 8) { // junk: too short, or one repeated bigram
        val w = if (r.nextBoolean()) sentence(r, lang, 8 + r.nextInt(8))
        else { val a = sentence(r, lang, 2); Array.fill(40)(a).flatten }
        docs += ((id, src, lang, w)); junk += 1; id += 1
      } else {
        docs += ((id, src, lang, sentence(r, lang, 60 + r.nextInt(100)))); id += 1
      }
    }
    write(out.resolve("corpus/docs.jsonl"),
      docs.map { case (i, s, l, w) => line(i, s, l, w) }.mkString("", "\n", "\n"))
    // delta: fresh docs, a fifth of them near-duplicating a clean base doc
    val clean = docs.filter(d => d._4.length >= 60 && d._4.distinct.length > 30).toIndexedSeq
    val pairs = Seq.newBuilder[String]
    val delta = (0 until sz.deltaDocs).map { k =>
      val did = 2000000L + k
      if (k % 5 == 0) {
        val b = clean(r.nextInt(clean.size))
        pairs += arr(Seq(b._1.toString, did.toString))
        line(did, b._2, b._3, mutate(b._4, b._3))
      } else {
        val lang = Langs(r.nextInt(Langs.size))
        line(did, sources(r.nextInt(sources.size)), lang, sentence(r, lang, 60 + r.nextInt(100)))
      }
    }
    write(out.resolve("corpus/delta.jsonl"), delta.mkString("", "\n", "\n"))
    val bytes = Seq("docs", "bench", "delta").map(n => Files.size(out.resolve(s"corpus/$n.jsonl"))).sum
    obj("docs" -> docs.size.toString, "junk" -> junk.toString,
      "clusters" -> arr(clusters.result()),
      "contaminated" -> arr(contaminated.result().map(_.toString)),
      "delta_docs" -> sz.deltaDocs.toString,
      "delta_pairs" -> arr(pairs.result()),
      "input_bytes" -> bytes.toString)
  }

  /** Generate the data set a workload needs into `out` (which must not
    * exist) and write its manifest. */
  def generate(workload: String, seed: Long, sz: Sizes, out: Path): Unit = {
    Files.createDirectories(out)
    val manifest = workload match {
      case "corpus_curate" => obj("corpus" -> corpus(seed, sz, out))
      case _ =>
        val (recs, m) = records(seed, sz, out)
        if (sz.requests > 0) obj("load" -> m.toString, "serve" -> serve(seed, sz, out, recs))
        else obj("load" -> m.toString)
    }
    write(out.resolve("manifest.json"), manifest + "\n")
  }
}
