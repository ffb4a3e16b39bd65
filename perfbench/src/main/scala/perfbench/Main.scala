package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Operation outcomes: an operation fails when it throws or when any
  * of its checks disagrees with the generator's manifest. */
final class Checks(quiet: Boolean = false) {
  var attempted = 0L
  private val failedOps = scala.collection.mutable.Set.empty[Long]
  def failed: Long = failedOps.size.toLong
  def op(): Long = { attempted += 1; attempted - 1 }
  def check(op: Long, ok: Boolean, what: => String): Boolean = {
    if (!ok) { failedOps += op; if (!quiet) System.err.println(s"[check] FAIL op=$op $what") }
    ok
  }
  def guard(op: Long)(body: => Unit): Unit =
    try body catch {
      case e: Exception =>
        failedOps += op
        if (!quiet) { System.err.println(s"[check] FAIL op=$op threw $e"); e.printStackTrace() }
    }
}

object Main {

  val Workloads = Seq("serve_mix", "corpus_curate")

  def sizes(workload: String): Sizes = workload match {
    case "serve_mix"     => Sizes(archives = 3, rowsPerArchive = 500, mediaPerArchive = 4,
      dupRowsPerArchive = 10, requests = 400)
    case "corpus_curate" => Sizes(docs = 4000, deltaDocs = 400)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** The session `graft.Bench` runs under, with scratch space kept
    * inside the checkout. */
  def session(root: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve(".bench_build/spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- small helpers ---------------------------------------------------

  def secs[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = body; ((System.nanoTime() - t0) / 1e9, r)
  }
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted; val i = p * (s.size - 1)
    val lo = math.floor(i).toInt; val hi = math.ceil(i).toInt
    s(lo) + (s(hi) - s(lo)) * (i - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  private val started = System.nanoTime()
  /** Phase marks on stderr, for seeing where a run's wall time goes. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] $name at ${(System.nanoTime() - started) / 1e9}%.1f s")
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }
  def num(j: JValue): Long = j match {
    case JInt(i) => i.toLong; case JLong(l) => l; case JDouble(d) => d.toLong
    case JDecimal(d) => d.toLong; case other => sys.error(s"not a number: $other")
  }
  def str(j: JValue): String = j match { case JString(s) => s; case other => compact(render(other)) }
  def manifest(data: Path): JValue = parse(Files.readString(data.resolve("manifest.json")))
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Run set-up `n` times (each into its own directories); returns the
    * median seconds. */
  def setups(n: Int)(one: Int => Unit): Double =
    median((0 until n).map(i => secs(one(i))._1))

  // ---- bulk load -----------------------------------------------------------

  /** Checks the bulk load against the manifest's load facts `m`. */
  def checkLoad(lc: Lifecycle, m: JValue, ck: Checks, op: Long): Unit = {
    val arch = (m \ "archives").children
    def sumOf(k: String) = arch.map(a => num(a \ k)).sum
    val idx = lc.index()
    val st = lc.store()
    val n = idx.count()
    ck.check(op, n == sumOf("records"), s"index rows $n != ${sumOf("records")}")
    val bodies = st.data.count()
    ck.check(op, bodies == sumOf("records"), s"store data rows $bodies != ${sumOf("records")}")
    val vlog = st.uuidsData.count()
    ck.check(op, vlog == sumOf("records"), s"version log rows $vlog != ${sumOf("records")}")
    val flipped = idx.filter(array_contains(col("flags"), "rev_geocode_lon_sign")).count()
    ck.check(op, flipped == sumOf("flipped"), s"flipped $flipped != ${sumOf("flipped")}")
    val corrected = idx.filter(size(col("correction_flags")) > 0).count()
    ck.check(op, corrected == sumOf("corrected"), s"corrected $corrected != ${sumOf("corrected")}")
    (m \ "searches").children.foreach { s =>
      val q = compact(render(s \ "q"))
      val got = idx.filter(graft.dsl.Compile.fromJson(q, Lifecycle.Normalized)).count()
      ck.check(op, got == num(s \ "expect"), s"search $q -> $got != ${num(s \ "expect")}")
    }
  }

  final case class Out(setup: Double, throughput: Double, ops: Seq[Double], writeAmp: Double,
      detail: Seq[(String, Double)])

  // ---- serve_mix -----------------------------------------------------------

  def deltaTs(k: Int): Timestamp =
    new Timestamp(Timestamp.valueOf("2025-01-01 00:00:00").getTime + k * 60000L)

  final class ServeStats {
    val lat = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]
    var actions = 0L; var skips = 0L; var deltaBytes = 0L
    def add(kind: String, s: Double): Unit = lat.getOrElseUpdate(kind, ArrayBuffer.empty) += s
  }

  /** Run one request, time it, and check its answer. */
  def serveOne(spark: SparkSession, lc: Lifecycle, data: Path, work: Path, req: JValue, i: Int,
      ck: Checks, st: ServeStats): Unit = {
    val op = ck.op()
    ck.guard(op) {
      str(req \ "op") match {
        case "search" =>
          val q = compact(render(req \ "q")); val expect = num(req \ "expect")
          val (t, (n, top)) = secs(lc.search(q, i))
          st.add("search", t)
          ck.check(op, n == expect, s"search $q -> $n != $expect")
          ck.check(op, top.size == math.min(100L, expect) && top == top.distinct.sorted,
            s"search $q top page malformed (${top.size})")
        case "view" =>
          val u = str(req \ "uuid")
          val (t, v) = secs(lc.view(u, i))
          st.add("view", t)
          v match {
            case Some((version, ids, media, body)) =>
              ck.check(op, version == num(req \ "version"), s"view $u version $version != ${num(req \ "version")}")
              ck.check(op, ids.contains(str(req \ "identifier")), s"view $u recordids $ids")
              ck.check(op, media == num(req \ "media"), s"view $u media $media != ${num(req \ "media")}")
              ck.check(op, body, s"view $u has no body")
            case None => ck.check(op, ok = false, s"view $u not found")
          }
        case "download" =>
          val q = compact(render(req \ "q"))
          val zip = work.resolve(s"downloads/r$i.zip")
          val (t, _) = secs(lc.download(q, i, zip))
          st.add("download", t)
          checkDownload(spark, lc, q, zip, work.resolve(s"downloads/x$i"), num(req \ "expect"), ck, op)
        case "delta" =>
          val k = num(req \ "delta").toInt
          val marker = str(req \ "marker")
          val visible = num(req \ "changed") + num(req \ "new")
          val tombs = (req \ "tombstones").children.map(str)
          val (t, (ix, del, skip, seen, gone)) = secs {
            val (ix, del, skip) = lc.delta(k, s"rs${num(req \ "archive")}", deltaTs(k), i)
            val seen = lc.search(s"""{"collector": "$marker"}""", i)._1
            val gone = if (tombs.isEmpty) 0L
              else lc.search(Gen.obj("uuid" -> Gen.arr(tombs.map(Gen.js))), i)._1
            (ix, del, skip, seen, gone)
          }
          st.add("delta", t)
          st.actions += ix + del + skip; st.skips += skip
          st.deltaBytes += Lifecycle.dirBytes(data.resolve(f"deltas/d$k%03d"))
          ck.check(op, seen == visible, s"delta $k visible $seen != $visible")
          ck.check(op, gone == 0, s"delta $k tombstones still searchable: $gone")
          ck.check(op, ix == visible && del == tombs.size && skip == num(req \ "unchanged"),
            s"delta $k actions index=$ix delete=$del skip=$skip")
      }
    }
  }

  /** The zip reads back through Dwca.read with the search's rows, byte
    * for byte per field, and as many rows as the manifest planted. */
  def checkDownload(spark: SparkSession, lc: Lifecycle, q: String, zip: Path, x: Path, expect: Long,
      ck: Checks, op: Long): Unit = {
    val dir = graft.ingest.Dwca.unzip(zip.toString, Some(x.toString))
    val (core, _) = graft.ingest.Dwca.read(spark, dir)
    val got = rowsAsText(core)
    val want = rowsAsText(downloadRows(lc, q))
    ck.check(op, got.size == expect, s"download $q rows ${got.size} != $expect")
    ck.check(op, got == want, s"download $q content differs from its search")
  }
  def downloadRows(lc: Lifecycle, q: String): org.apache.spark.sql.DataFrame = {
    val idx = lc.index().filter(graft.dsl.Compile.fromJson(q, Lifecycle.Normalized))
    graft.export.Exports.csvFormat(idx, "records", "uuid", Lifecycle.DownloadFields)
  }
  def rowsAsText(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(concat_ws("\u0001", df.columns.toIndexedSeq.map(c => coalesce(col(s"`$c`").cast("string"), lit(""))): _*))
      .collect().map(_.getString(0)).toSeq.sorted

  def serveMix(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean, work: Path,
      ck: Checks, layers: Layers): Out = {
    val sz = sizes("serve_mix")
    val off = new Tracer(spark.sparkContext, enabled = false)
    def lc(i: Int, tr: Tracer) = new Lifecycle(spark, tr, work.resolve(s"gen$i"), work.resolve(s"base$i"))
    // set-up: generate, then bulk-load every archive into a fresh store and
    // index (with media derivatives); a traced run traces the last load
    val builds = new Array[(Long, Long)](3)
    val setup = setups(3) { i =>
      val d = work.resolve(s"gen$i"); rm(d); rm(work.resolve(s"base$i"))
      Gen.generate("serve_mix", seed, sz, d)
      val t0 = System.nanoTime()
      lc(i, if (trace && i == 2) layers.tracer else off).bulkLoad(sz.archives)
      builds(i) = (t0, System.nanoTime())
    }
    phase("set-up done")
    def buildSecs(i: Int) = (builds(i)._2 - builds(i)._1) / 1e9
    val load = manifest(work.resolve("gen2")) \ "load"
    val loadOp = ck.op()
    ck.guard(loadOp)(checkLoad(lc(2, off), load, ck, loadOp))
    val loadBytes = Lifecycle.dirBytes(work.resolve("base2"))
    val reqs = Files.readAllLines(work.resolve("gen2/requests.jsonl")).asScala.toSeq.map(parse(_))
    // warm-up on a throwaway base: one request of each kind
    val warm = lc(0, off); val wck = new Checks(quiet = true); val wst = new ServeStats
    val kinds = Seq("search", "view", "download", "delta")
    reqs.indices.iterator.filter(i => kinds.contains(str(reqs(i) \ "op")))
      .takeWhile(_ => kinds.exists(k => !wst.lat.contains(k))).take(60)
      .foreach(i => serveOne(spark, warm, work.resolve("gen0"), work.resolve("warm"), reqs(i), i, wck, wst))
    phase("warm-up done")

    if (!trace) {
      val base = lc(2, off); val st = new ServeStats
      val before = Lifecycle.dirBytes(work.resolve("base2"))
      val t0 = System.nanoTime()
      var i = 0
      // whole cycles only, at least two, so every run measures the same mix
      while (i < reqs.size && (i < 2 * Gen.Cycle.size || i % Gen.Cycle.size != 0 ||
          (System.nanoTime() - t0) / 1e9 < seconds)) {
        serveOne(spark, base, work.resolve("gen2"), work.resolve("run"), reqs(i), i, ck, st); i += 1
      }
      val wall = (System.nanoTime() - t0) / 1e9
      phase("measured")
      val written = Lifecycle.dirBytes(work.resolve("base2")) - before
      def l(k: String) = st.lat.getOrElse(k, ArrayBuffer.empty[Double]).toSeq.map(_ * 1000)
      def p(k: String, q: Double) = if (l(k).isEmpty) Double.NaN else pct(l(k), q)
      val loadSecs = median((0 until 3).map(buildSecs))
      Out(setup, i / wall, l("search"), written.toDouble / math.max(1L, st.deltaBytes),
        Seq("ingest_rec_per_s" -> num(load \ "records") / loadSecs,
          "ingest_space_amp" -> loadBytes.toDouble / num(load \ "input_bytes"),
          "search_p50_ms" -> p("search", 0.5), "item_p50_ms" -> p("view", 0.5),
          "download_p50_ms" -> p("download", 0.5),
          "delta_visible_p50_s" -> p("delta", 0.5) / 1000,
          "serve_ops_per_s" -> i / wall,
          "searches" -> l("search").size.toDouble, "views" -> l("view").size.toDouble,
          "downloads" -> l("download").size.toDouble, "deltas" -> l("delta").size.toDouble))
    } else {
      val w = Gen.Cycle.indices
      val plain = secs(w.foreach(i => serveOne(spark, lc(1, off), work.resolve("gen1"),
        work.resolve("plain"), reqs(i), i, new Checks(quiet = true), new ServeStats)))._1
      val base = lc(2, layers.tracer); val st = new ServeStats
      val readRows = num(load \ "records") + num(load \ "dup_rows")
      layers.ratio("store.new_body_frac", base.store().data.count().toDouble / readRows)
      val idx = base.index()
      layers.ratio("etl.corrected_frac",
        idx.filter(size(col("correction_flags")) > 0).count().toDouble / idx.count())
      val before = storageMb(spark)
      val t0 = System.nanoTime()
      w.foreach(i => serveOne(spark, base, work.resolve("gen2"), work.resolve("traced"), reqs(i), i, ck, st))
      val t1 = System.nanoTime()
      layers.window(builds(2)._1, builds(2)._2)
      layers.window(t0, t1)
      layers.compare(plain = buildSecs(1) + plain, traced = buildSecs(2) + (t1 - t0) / 1e9)
      layers.pinned(storageMb(spark) - before)
      layers.ratio("streaming.skip_frac", st.skips.toDouble / math.max(1L, st.actions))
      Out(setup, 0, Nil, 0, Nil)
    }
  }

  // ---- corpus_curate ---------------------------------------------------

  def checkCurate(m: JValue, p: Curate.Pass, ck: Checks, op: Long): Unit = {
    val docs = num(m \ "docs"); val junk = num(m \ "junk")
    val clusters = (m \ "clusters").children.map(_.children.map(num).toSet)
    ck.check(op, p.qualityIds.size == docs - junk, s"quality kept ${p.qualityIds.size} != ${docs - junk}")
    val multi = clusters.filter(c => c.count(p.keptIds) != 1)
    ck.check(op, multi.isEmpty, s"${multi.size} planted clusters without exactly one survivor")
    val expectKept = docs - junk - clusters.map(_.size - 1).sum
    ck.check(op, p.survivors == expectKept, s"survivors ${p.survivors} != $expectKept")
    val contaminated = (m \ "contaminated").children.map(num).toSet
    ck.check(op, p.flagged == contaminated,
      s"decontaminated ${p.flagged.size} != planted ${contaminated.size}")
    ck.check(op, p.packedEnd == p.sampledTokens, s"packed tokens ${p.packedEnd} != ${p.sampledTokens}")
    val planted = (m \ "delta_pairs").children.map(x => { val Seq(b, d) = x.children.map(num); (b, d) }).toSet
    val plantedDelta = planted.map(_._2)
    ck.check(op, planted.subsetOf(p.deltaPairs), s"incremental near-dups missed ${(planted -- p.deltaPairs).size}")
    ck.check(op, p.deltaPairs.forall { case (a, b) => plantedDelta(a) || plantedDelta(b) },
      "incremental near-dups paired an unplanted delta doc")
  }

  def corpusCurate(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean, work: Path,
      ck: Checks, layers: Layers): Out = {
    val sz = sizes("corpus_curate")
    // generation takes a fraction of a second, so take the median of more set-ups
    val setup = setups(9) { i => rm(work.resolve(s"gen$i")); Gen.generate("corpus_curate", seed, sz, work.resolve(s"gen$i")) }
    val m = manifest(work.resolve("gen2")) \ "corpus"
    val off = new Tracer(spark.sparkContext, enabled = false)
    val budget = sz.docs * 12L
    // warm-up: one pass over a small corpus, untimed
    Gen.generate("corpus_curate", seed, Sizes(docs = 600, deltaDocs = 60), work.resolve("warmdata"))
    new Curate(spark, off, work.resolve("warmdata"), work).pass(budget, work.resolve("warm-out"))
    phase("set-up and warm-up done")
    val inBytes = num(m \ "input_bytes").toDouble
    val perPass = (num(m \ "docs") + num(m \ "delta_docs")).toDouble
    if (!trace) {
      val cur = new Curate(spark, off, work.resolve("gen2"), work)
      val times = ArrayBuffer.empty[Double]; var written = 0L
      val t0 = System.nanoTime()
      var passes = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds && passes < 20) {
        val op = ck.op(); val out = work.resolve(s"out$passes"); passes += 1
        ck.guard(op) {
          val ((a, b), p) = cur.pass(budget, out)
          times += (b - a) / 1e9; written += Lifecycle.dirBytes(out)
          checkCurate(m, p, ck, op)
        }
      }
      require(times.nonEmpty, "no curation pass completed")
      phase("measured")
      Out(setup, perPass * times.size / times.sum, times.map(_ * 1000).toSeq,
        written / (inBytes * times.size),
        Seq("curate_docs_per_s" -> perPass * times.size / times.sum, "passes" -> times.size.toDouble))
    } else {
      val ((p0, p1), _) = new Curate(spark, off, work.resolve("gen1"), work).pass(budget, work.resolve("plain-out"))
      val cur = new Curate(spark, layers.tracer, work.resolve("gen2"), work)
      val before = storageMb(spark)
      def stagingSec = graft.Staging.buildSeconds(spark).values.sum
      val staged0 = stagingSec
      val ((t0, t1), p) = cur.pass(budget, work.resolve("traced-out"))
      layers.staging(stagingSec - staged0)
      layers.window(t0, t1)
      layers.compare(plain = (p1 - p0) / 1e9, traced = (t1 - t0) / 1e9)
      layers.pinned(storageMb(spark) - before)
      val op = ck.op()
      ck.guard(op)(checkCurate(m, p, ck, op))
      layers.ratio("operators.candidate_precision", p.verified.toDouble / math.max(1L, p.candidates))
      Out(setup, 0, Nil, 0, Nil)
    }
  }

  // ---- entry -------------------------------------------------------------

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, root: Path): Int = {
    val work = root.resolve(s".bench_build/work/$workload-$seed-${ProcessHandle.current().pid()}")
    rm(work); Files.createDirectories(work)
    val spark = session(root)
    val ck = new Checks
    val layers = new Layers(spark)
    try {
      val out = workload match {
        case "serve_mix"     => serveMix(spark, seed, seconds, trace, work, ck, layers)
        case "corpus_curate" => corpusCurate(spark, seed, seconds, trace, work, ck, layers)
      }
      val metrics: Seq[(String, Double, String)] =
        if (trace) layers.metrics()
        else {
          require(out.ops.nonEmpty, "no operation completed")
          Seq(("setup_s", out.setup, "s"), ("throughput_per_s", out.throughput, "1/s"),
            ("op_p50_ms", pct(out.ops, 0.5), "ms"), ("write_amp", out.writeAmp, "ratio"))
        }
      if (trace) layers.tracer.dump(root.resolve(s".bench_build/traces/$workload-$seed.tsv"))
      val detail = (out.detail ++ Seq("op_samples" -> out.ops.size.toDouble,
          "failed_frac" -> ck.failed.toDouble / math.max(1L, ck.attempted)))
        .map { case (k, v) => s"${Gen.js(k)}:${fmt(v)}" }.mkString("{", ",", "}")
      if (!trace) println(s"""{"detail":$detail}""")
      val ms = metrics.map { case (k, v, u) => s"""${Gen.js(k)}:{"value":${fmt(v)},"unit":${Gen.js(u)}}""" }
      println(s"""{"correct":${ck.failed == 0},"attempted":${ck.attempted},"failed":${ck.failed},""" +
        s""""metrics":${ms.mkString("{", ",", "}")}}""")
      0
    } finally {
      spark.stop()
      rm(work)
    }
  }

  def main(args: Array[String]): Unit = {
    val code = args.toList match {
      case "gen" :: workload :: seed :: out :: Nil =>
        Gen.generate(workload, seed.toLong, sizes(workload), Paths.get(out)); 0
      case "run" :: workload :: seed :: seconds :: trace :: root :: Nil if Workloads.contains(workload) =>
        run(workload, seed.toLong, seconds.toDouble, trace == "1", Paths.get(root).toAbsolutePath)
      case "selftest" :: root :: Nil => SelfTest.run(Paths.get(root).toAbsolutePath)
      case _ =>
        System.err.println("usage: gen <workload> <seed> <out> | run <workload> <seed> <seconds> <0|1> <root> | selftest <root>")
        2
    }
    System.exit(code)
  }
}

/** Per-layer metrics of the traced windows of a run. */
final class Layers(spark: SparkSession) {
  val tracer = new Tracer(spark.sparkContext, enabled = true)
  private val ratios = scala.collection.mutable.Map.empty[String, Double]
  private val windows = ArrayBuffer.empty[(Long, Long)]
  private var plainSec, tracedSec, pinnedMb, stagingSec = 0.0

  def ratio(name: String, v: Double): Unit = ratios(name) = v
  /** A stretch of wall time [t0, t1] (nanoTime) the spans should cover. */
  def window(t0: Long, t1: Long): Unit = windows += ((t0, t1))
  /** Wall seconds of the same work untraced and traced. */
  def compare(plain: Double, traced: Double): Unit = { plainSec = plain; tracedSec = traced }
  def pinned(mbGrowth: Double): Unit = pinnedMb = mbGrowth
  /** Seconds `graft.Staging` spent building staged frames in the window. */
  def staging(sec: Double): Unit = stagingSec = sec

  def metrics(): Seq[(String, Double, String)] = {
    val sum = tracer.summary()
    val spans = Layers.Spans.flatMap { case (name, rows, spill) =>
      val (self, cpu, shuffle, spilled, out) = sum.getOrElse(name, (0.0, 0.0, 0L, 0L, 0L))
      Seq((s"$name.self_s", self, "s"), (s"$name.cpu_s", cpu, "s"),
        (s"$name.shuffle_bytes", shuffle.toDouble, "B")) ++
        (if (rows) Seq((s"$name.rows_out", out.toDouble, "count")) else Nil) ++
        (if (spill) Seq((s"$name.spill_bytes", spilled.toDouble, "B")) else Nil)
    }
    spans ++ Layers.Ratios.map(r => (r, ratios.getOrElse(r, 0.0), "ratio")) ++ Seq(
      ("Staging.build_s", stagingSec, "s"),
      ("storage.pinned_mb_growth", pinnedMb, "MB"),
      ("trace.wall_s", tracedSec, "s"),
      ("trace.overhead_s", tracedSec - plainSec, "s"),
      ("trace.uncovered_s", windows.map { case (a, b) => tracer.uncovered(a, b) }.sum, "s"))
  }
}

object Layers {
  /** (span, reports rows_out, reports spill_bytes) */
  val Spans: Seq[(String, Boolean, Boolean)] = Seq(
    ("ingest.read", true, false), ("hash.etag", true, false), ("store.append", false, true),
    ("etl.correct", true, false), ("etl.enrich", true, true), ("bench_io.index_write", false, false),
    ("media.derive", false, false),
    ("dsl.compile", false, false), ("dsl.search", true, false), ("store.item_view", false, true),
    ("export.download", false, false),
    ("store.delta_append", false, false), ("etl.delta_enrich", true, false),
    ("streaming.incr_batch", true, false), ("streaming.resume", true, true),
    ("bench_io.index_upsert", false, false),
    ("bench_io.corpus_read", true, false), ("operators.quality", true, false),
    ("operators.minhash", true, false), ("operators.lsh", true, true),
    ("operators.verify", true, true), ("operators.components", true, true),
    ("operators.decontam", true, false), ("operators.sample_pack", true, false),
    ("bench_io.curate_write", false, false), ("operators.incr_dedup", true, false))
  val Ratios = Seq("store.new_body_frac", "etl.corrected_frac", "operators.candidate_precision",
    "streaming.skip_frac")
}
