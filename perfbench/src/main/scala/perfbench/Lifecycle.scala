package perfbench

import graft.etl.{Corrections, Enrich, GeoCorrection, Serialize}
import graft.export.Exports
import graft.ingest.{Dwca, Identify}
import graft.hash.Etags
import graft.media.Media
import graft.store.RecordStore
import graft.streaming.Incremental
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** The record lifecycle — ingest → store → correct/enrich → index →
  * search/view/export, plus delta maintenance — driven through the
  * engine's public functions over one store and one index on disk.
  * Steps the engine has no function for (persisting and re-reading the
  * index, media blobs) are plain parquet/binary I/O billed to
  * `bench_io.*` spans. */
final class Lifecycle(spark: SparkSession, tr: Tracer, data: Path, work: Path) {
  import Lifecycle._

  private val storeDir = work.resolve("store")
  private var indexVersion = 0
  private def indexDir(v: Int) = work.resolve(s"index/v$v").toString

  private val rules: Seq[Corrections.Rule] =
    Files.readAllLines(data.resolve("corrections.tsv")).toArray.toSeq.map(_.toString)
      .filter(_.nonEmpty).map { l =>
        val Array(fam, ord) = l.split("\t")
        Corrections.Rule(Map("dwc:family" -> fam), Map("dwc:order" -> ord))
      }
  private val countries = new GeoCorrection.CountryIndex(
    Files.readAllLines(data.resolve("countries.tsv")).toArray.toSeq.map(_.toString)
      .filter(_.nonEmpty).map { l =>
        val Array(c, x0, x1, y0, y1) = l.split("\t")
        val (a, b, p, q) = (x0.toDouble, x1.toDouble, y0.toDouble, y1.toDouble)
        GeoCorrection.CountryShape(c, Seq((a, p), (b, p), (b, q), (a, q)))
      })

  private val held = new Held(tr)
  import held.{hold, layer}

  // ---- store ---------------------------------------------------------

  /** A store table as the snapshot of its current files: appends that
    * land later (even within one operation) never change what an
    * already-built frame reads. */
  private def table(name: String, schema: StructType): DataFrame = {
    val files = parquetFiles(storeDir.resolve(name))
    if (files.nonEmpty) spark.read.schema(schema).parquet(files: _*)
    else spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](), schema)
  }
  def store(): RecordStore = RecordStore(
    table("uuids", UuidsSchema), table("data", DataSchema), table("uuids_data", VlogSchema),
    table("identifiers", IdsSchema), table("siblings", SibSchema))
  private def append(df: DataFrame, name: String): Unit =
    df.write.mode("append").parquet(storeDir.resolve(name).toString)

  // ---- ingest ----------------------------------------------------------

  /** Dwca.read over archive dirs, each tagged with its recordset id. */
  private def read(dirs: Seq[(String, String)]): (DataFrame, DataFrame) = {
    val parts = dirs.map { case (dir, rsid) =>
      val (core, exts) = Dwca.read(spark, dir)
      (core.withColumn("rsid", lit(rsid)),
        exts.get("dwc:Multimedia").map(_.withColumn("rsid", lit(rsid))))
    }
    val core = parts.map(_._1).reduce(_ unionByName _)
    val media = parts.flatMap(_._2).reduceOption(_ unionByName _)
    (core, media.orNull)
  }

  /** identify + etag: raw `data` map, identifier, minted uuid, etag;
    * exact duplicate rows collapse to one. */
  private def identify(core: DataFrame, modified: Timestamp): DataFrame = {
    val withData = core.withColumn("data", dataMap(core))
    withData
      .withColumn("identifier",
        Identify.candidates(col("data"), "records", col("rsid")).getItem(0).getField("id"))
      .withColumn("etag", Etags.etagColumn(col("data")))
      .withColumn("modified", lit(modified))
      .dropDuplicates("identifier", "etag")
  }

  /** Store append: resolve identifiers to existing uuids (minting new
    * ones), drop re-sent bodies that equal the latest version, assign
    * versions, write the version log, new bodies, new registry rows and
    * identifiers, and the media sibling edges. Returns the appended rows
    * with their versions. */
  private def storeAppend(batch: DataFrame, media: DataFrame, tombIds: DataFrame): DataFrame = {
    val st = store()
    val known = st.identifiers.select(col("identifier"), col("uuids_id").as("_known"))
    val resolved = batch.join(known, Seq("identifier"), "left")
      .withColumn("uuid", coalesce(col("_known"), mintUuid(col("identifier"))))
      .withColumn("is_new", col("_known").isNull).drop("_known")
    val latest = st.latestVersions.select(col("uuids_id").as("uuid"), col("etag").as("_cur"))
    val changed = resolved.join(latest, Seq("uuid"), "left")
      .filter(col("_cur").isNull || col("_cur") =!= col("etag")).drop("_cur")
    val versioned = hold(st.assignVersions(changed))
    append(versioned.select(col("uuid").as("uuids_id"), col("etag").as("data_etag"),
      col("modified"), col("version")), "uuids_data")
    append(st.newBodies(versioned.select(col("etag"), col("data"))).dropDuplicates("etag"), "data")
    append(versioned.filter(col("is_new")).select(col("uuid"), lit("records").as("type"),
      col("rsid").as("parent"), lit(false).as("deleted")), "uuids")
    append(versioned.filter(col("is_new")).select(col("identifier"), col("uuid").as("uuids_id")),
      "identifiers")
    if (media != null) {
      val m = media.withColumn("data", dataMap(media))
        .withColumn("m_identifier",
          Identify.candidates(col("data"), "mediarecords", col("rsid")).getItem(0).getField("id"))
        .withColumn("m_uuid", mintUuid(col("m_identifier")))
        .join(versioned.select(col("id").as("coreid"), col("rsid"), col("uuid")), Seq("coreid", "rsid"))
      append(m.select(col("uuid").as("r1"), col("m_uuid").as("r2")), "siblings")
      append(m.select(col("m_uuid").as("uuid"), lit("mediarecords").as("type"),
        col("rsid").as("parent"), lit(false).as("deleted")), "uuids")
      append(m.select(col("m_identifier").as("identifier"), col("m_uuid").as("uuids_id")),
        "identifiers")
    }
    if (tombIds != null) {
      // a tombstone is a new version whose body is the fixed deleted etag
      val tomb = tombIds.join(known, Seq("identifier"))
        .select(col("_known").as("uuid"), lit(RecordStore.TombstoneEtag).as("etag"), col("modified"))
      append(st.assignVersions(tomb).select(col("uuid").as("uuids_id"),
        col("etag").as("data_etag"), col("modified"), col("version")), "uuids_data")
    }
    versioned
  }

  /** corrections (flat raw columns) then grabAll enrichment over the
    * rebuilt raw map; siblings come from the store's edges. */
  private def correct(versioned: DataFrame): DataFrame = {
    val flat = versioned.drop("data")
    Corrections.foldFlags(Corrections.apply(flat, rules))
  }
  private def enrich(corrected: DataFrame): DataFrame = {
    val sibs = store().siblings.groupBy(col("r1").as("uuid"))
      .agg(map(lit("mediarecord"), sort_array(collect_list(col("r2")))).as("siblings"))
    val in = corrected.withColumn("data", dataMap(corrected))
      .join(sibs, Seq("uuid"), "left")
      .select(col("uuid"), col("etag"), col("version"), col("rsid").as("parent"),
        array(col("identifier")).as("recordids"), col("siblings"), col("data"),
        col("correction_flags"), col("modified"))
    Serialize.prepForEs(Enrich.records(in, geo = Some((countries, None))))
  }

  // ---- bulk load ----------------------------------------------------------

  /** The bulk load that builds the serving base: every archive → store →
    * corrected/enriched index rows → media derivatives. */
  def bulkLoad(archives: Int): Unit = {
    val modified = Timestamp.valueOf("2024-01-01 00:00:00")
    val dirs = (0 until archives).map(a => (data.resolve(f"archives/a$a%02d").toString, s"rs$a"))
    val (core, media) = tr.span("ingest.read") {
      val (c, m) = read(dirs); (layer(c), m)
    }
    val batch = tr.span("hash.etag")(hold(layer(identify(core, modified))))
    val versioned = tr.span("store.append")(storeAppend(batch, media, null))
    val corrected = tr.span("etl.correct")(layer(correct(versioned)))
    val rows = tr.span("etl.enrich")(layer(enrich(corrected)))
    tr.span("bench_io.index_write") {
      rows.write.mode("append").parquet(indexDir(indexVersion))
      indexCache = (-1, null)
    }
    tr.span("media.derive") {
      (0 until archives).foreach { a =>
        val blobs = spark.read.format("binaryFile").option("pathGlobFilter", "*.jpg")
          .load(data.resolve(f"media/a$a%02d").toString)
          .select(md5(col("content")).as("etag"), col("content"))
        val d = Media.derivatives(blobs, Media.imageResize)
        d.write.mode("append").parquet(work.resolve("derivatives").toString)
      }
    }
    held.release()
  }

  // ---- serving -----------------------------------------------------------

  private var indexCache: (Int, DataFrame) = (-1, null)
  def index(): DataFrame = {
    if (indexCache._1 != indexVersion)
      indexCache = (indexVersion, spark.read.parquet(indexDir(indexVersion)))
    indexCache._2
  }

  /** DSL search: itemCount plus the first 100 uuids, in one query. */
  def search(q: String, req: Int): (Long, Seq[String]) = {
    val c = tr.span("dsl.compile", req)(graft.dsl.Compile.fromJson(q, Normalized))
    tr.span("dsl.search", req) {
      val r = index().filter(c)
        .agg(count(lit(1)), slice(sort_array(collect_list(col("uuid"))), 1, 100))
        .head()
      tr.rows(r.getLong(0))
      (r.getLong(0), r.getSeq[String](1))
    }
  }

  /** Item view: latest version, recordids, sibling media and body. */
  def view(uuid: String, req: Int): Option[(Long, Seq[String], Int, Boolean)] =
    tr.span("store.item_view", req) {
      val st = store()
      st.uuidsDataView.filter(col("uuid") === uuid)
        .select(col("version"), col("recordids"),
          coalesce(size(element_at(col("siblings"), "mediarecords")), lit(-1)).as("n_media"),
          col("data").isNotNull.as("has_body"))
        .collect().headOption.map { r =>
          (r.getLong(0), Option(r.getSeq[String](1)).getOrElse(Nil), math.max(0, r.getInt(2)),
            r.getBoolean(3))
        }
    }

  /** rq download written as a DwC-A zip; returns the zip path. */
  def download(q: String, req: Int, out: Path): Path = tr.span("export.download", req) {
    val c = graft.dsl.Compile.fromJson(q, Normalized)
    val longNames = DownloadFields.map(f =>
      graft.etl.FieldSchema.longNames("records").getOrElse(f, f))
    val csv = Exports.csvText(Exports.csvFormat(index().filter(c), "records", "uuid", DownloadFields))
    val meta = Exports.makeMeta(Seq(Exports.makeFileBlock("occurrence.csv", longNames,
      core = true, rowType = Exports.rowTypes("records"))))
    Files.createDirectories(out.getParent)
    Exports.writeDwcaZip(out.toString, Map("meta.xml" -> meta, "occurrence.csv" -> csv))
    out
  }

  /** One delta batch: ingest → store append → correct/enrich of the
    * delta only → incremental pull + resume reconciliation → index
    * upsert into a new index version. Returns (index, delete, skip)
    * action counts. */
  def delta(k: Int, rsid: String, modified: Timestamp, req: Int): (Long, Long, Long) = {
    val dir = data.resolve(f"deltas/d$k%03d")
    val (core, tombIds) = tr.span("ingest.read", req) {
      val (c, _) = read(Seq((dir.toString, rsid)))
      val t = spark.read.text(dir.resolve("deleted.txt").toString)
        .filter(length(col("value")) > 0)
        .select(lower(concat(lit(rsid + "\\"), col("value"))).as("identifier"),
          lit(modified).as("modified"))
      (layer(c), hold(t))
    }
    val batch = tr.span("hash.etag", req)(hold(layer(identify(core, modified))))
    val versioned = tr.span("store.delta_append", req)(storeAppend(batch, null, tombIds))
    val rows = tr.span("etl.delta_enrich", req)(hold(layer(enrich(correct(versioned)))))
    val st = store()
    val idx = index()
    val pulled = tr.span("streaming.incr_batch", req) {
      val wm = idx.agg(Incremental.watermark(idx)).head().getString(0)
      val ts = Timestamp.from(java.time.OffsetDateTime.parse(wm).toInstant)
      hold(layer(Incremental.incrementalBatch(st.uuidsData, lit(ts))))
    }
    val actions = tr.span("streaming.resume", req) {
      val touched = batch.select(col("identifier")).unionByName(tombIds.select(col("identifier")))
        .join(st.identifiers, Seq("identifier")).select(col("uuids_id"))
      val storeLatest = st.latestVersions.join(touched, Seq("uuids_id"))
        .withColumn("deleted", col("etag") === RecordStore.TombstoneEtag)
      val a = Incremental.resumeActions(storeLatest,
        idx.select(col("uuid"), col("etag")).join(touched.withColumnRenamed("uuids_id", "uuid"),
          Seq("uuid")))
      val counts = a.groupBy(col("action")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      tr.rows(counts.values.sum)
      (a, counts)
    }
    tr.span("bench_io.index_upsert", req) {
      val gone = actions._1.filter(col("action") =!= "skip").select(col("uuid"))
      val fresh = rows.join(pulled.select(col("uuids_id").as("uuid")), Seq("uuid"), "left_semi")
      idx.join(gone, Seq("uuid"), "left_anti").unionByName(fresh)
        .write.parquet(indexDir(indexVersion + 1))
      indexVersion += 1
    }
    held.release()
    val c = actions._2
    (c.getOrElse("index", 0L), c.getOrElse("delete", 0L), c.getOrElse("skip", 0L))
  }

  /** Replace the index with `f` of it, as a new index version. */
  def rewriteIndex(f: DataFrame => DataFrame): Unit = {
    f(index()).write.parquet(indexDir(indexVersion + 1))
    indexVersion += 1
  }

}

object Lifecycle {
  val Normalized = graft.dsl.Compile.Options(dataNormalized = true)
  val DownloadFields = Seq("scientificname", "genus", "family", "kingdom", "basisofrecord",
    "countrycode", "locality", "collector")

  val UuidsSchema: StructType = StructType(Seq(StructField("uuid", StringType),
    StructField("type", StringType), StructField("parent", StringType),
    StructField("deleted", BooleanType)))
  val DataSchema: StructType = StructType(Seq(StructField("etag", StringType),
    StructField("data", MapType(StringType, StringType))))
  val VlogSchema: StructType = StructType(Seq(StructField("uuids_id", StringType),
    StructField("data_etag", StringType), StructField("modified", TimestampType),
    StructField("version", LongType)))
  val IdsSchema: StructType = StructType(Seq(StructField("identifier", StringType),
    StructField("uuids_id", StringType)))
  val SibSchema: StructType = StructType(Seq(StructField("r1", StringType),
    StructField("r2", StringType)))

  /** The raw record as a `map<string,string>` of its non-null CURIE
    * columns (the archive's field map). */
  def dataMap(df: DataFrame): Column = {
    val terms = df.columns.filter(c => c.contains(":"))
    map_from_entries(filter(
      array(terms.toIndexedSeq.map(t => struct(lit(t).as("key"), col(s"`$t`").as("value"))): _*),
      e => e.getField("value").isNotNull))
  }

  /** uuid for a new identifier: md5 in the 8-4-4-4-12 layout. */
  def mintUuid(identifier: Column): Column = {
    val h = md5(identifier)
    concat_ws("-", substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  def parquetFiles(dir: Path): Seq[String] =
    if (!Files.exists(dir)) Nil
    else {
      val w = Files.list(dir)
      try w.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally w.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally w.close()
    }
}
