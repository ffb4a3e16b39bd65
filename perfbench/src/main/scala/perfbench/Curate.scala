package perfbench

import graft.Staging
import graft.functions.{NativeText, NativeTextStats}
import graft.operators.{Corpus, Graph, TextDedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Path

/** The training-data curation chain over the generated corpus: quality
  * → MinHash signatures → LSH candidates → Jaccard verify → components
  * and keep-best → decontaminate → token-budget sample and pack, then
  * an incremental near-dup pass for a delta batch. */
final class Curate(spark: SparkSession, tr: Tracer, data: Path, work: Path) {
  import Curate.Pass

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("lang", StringType),
    StructField("text", StringType)))
  private def docs(name: String): DataFrame =
    spark.read.schema(DocSchema).json(data.resolve(s"corpus/$name.jsonl").toString)

  private val held = new Held(tr)
  import held.{hold, layer}
  private var passes = 0

  private val profiles = graft.operators.TextStats.stopwordProfiles.toSeq.sortBy(_._1)
  private val Keep = Seq("de", "en", "fr")

  /** Quality keep decision from the native text kernels: length,
    * lexical diversity, mean token length, bigram repetition, and a
    * language the corpus admits. */
  private def quality(d: DataFrame): DataFrame = {
    val w = split(col("text"), " ")
    d.withColumn("n_tokens", size(w))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("_t", NativeTextStats.textStats(w, profiles.toMap.apply("en")))
      .withColumn("_r", NativeText.repetitionStats(w))
      .withColumn("lang_pred", NativeTextStats.langId(split(lower(col("text")), " "), profiles))
      .filter(col("n_tokens") >= 20 &&
        col("_t.n_distinct").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double") >= 0.3 &&
        col("_t.sum_len").cast("double") / col("n_tokens").cast("double") <= 12.0 &&
        !(col("_r.n_words") >= 3 &&
          col("_r.dup2").cast("double") / (col("_r.n_words") - 1).cast("double") > 0.3) &&
        col("lang_pred").isin(Keep: _*))
      .drop("_t", "_r")
  }

  /** One full pass; returns the chain's start and end (nanoTime; the
    * check queries that follow are outside it) and the facts the checks
    * compare. */
  def pass(budget: Long, out: Path): ((Long, Long), Pass) = {
    // the quality survivors and their signatures feed both the batch
    // chain and the incremental pass: staged once per pass, as the
    // engine's own pipeline stages them (keys are per pass, so no pass
    // reuses another's build)
    passes += 1
    val key = s"perfbench:$data:$passes"
    val t0 = System.nanoTime()
    val raw = tr.span("bench_io.corpus_read")(layer(docs("docs")))
    def staged(name: String)(df: => DataFrame): DataFrame = {
      val d = Staging.stage(spark, s"$key:$name")(df)
      if (tr.enabled) tr.rows(d.count())
      d
    }
    val qdocs = tr.span("operators.quality")(staged("qdocs")(quality(raw)))
    val sigs = tr.span("operators.minhash")(staged("sigs")(qdocs.select(col("doc_id"),
        NativeText.minhashSig(split(col("text"), " "), 3).as("sig"))
      .where(size(col("sig")) > 0)))
    val cands = tr.span("operators.lsh")(hold(layer(TextDedup.lshCandidates(sigs, "doc_id"))))
    val pairs = tr.span("operators.verify") {
      val sh = qdocs.select(col("doc_id"),
        explode(NativeText.shingleHashes(split(col("text"), " "), 3)).as("h"))
      hold(layer(TextDedup.verifyJaccard(sh, "doc_id", cands).where(col("jaccard") >= 0.5)))
    }
    val kept = tr.span("operators.components") {
      val labels = Graph.connectedComponents(pairs, "d1", "d2")
      hold(layer(Graph.keepBest(qdocs, "doc_id", labels, "n_chars")))
    }
    val bench = docs("bench")
    val (clean, flagged) = tr.span("operators.decontam") {
      val f = hold(layer(Corpus.decontaminate(kept, bench, "doc_id", "text")))
      (kept.join(f.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti"), f)
    }
    val packed = tr.span("operators.sample_pack") {
      val sampled = Corpus.tokenBudgetSample(clean, "source", "doc_id", "n_tokens",
        budget = budget, seed = "perfbench")
      hold(layer(Corpus.packChunks(sampled, orderCol = "doc_id", tokensCol = "n_tokens",
        chunkTokens = 1024)))
    }
    tr.span("bench_io.curate_write") {
      packed.write.mode("overwrite").parquet(out.toString)
    }
    val dpairs = tr.span("operators.incr_dedup") {
      val d = TextDedup.incrementalNearDups(qdocs, sigs, docs("delta"), "doc_id", "text")
      val rows = d.select(col("d1"), col("d2")).collect()
      tr.rows(rows.length)
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val t1 = System.nanoTime()
    // check inputs, gathered after the timed chain
    val p = Pass(
      survivors = kept.count(),
      qualityIds = qdocs.select(col("doc_id")).collect().map(_.getLong(0)).toSet,
      keptIds = kept.select(col("doc_id")).collect().map(_.getLong(0)).toSet,
      flagged = flagged.select(col("doc_id")).collect().map(_.getLong(0)).toSet,
      sampledTokens = packed.agg(sum(col("n_tokens"))).head().getLong(0),
      packedEnd = packed.agg(max(col("first_chunk") * 1024 + col("chunk_offset") + col("n_tokens")))
        .head().getLong(0),
      candidates = cands.count(),
      verified = pairs.count(),
      deltaPairs = dpairs)
    held.release()
    Staging.evict(spark, s"$key:qdocs"); Staging.evict(spark, s"$key:sigs")
    ((t0, t1), p)
  }
}

object Curate {
  /** Outputs of one pass that the checks read. */
  final case class Pass(survivors: Long, qualityIds: Set[Long], keptIds: Set[Long],
      flagged: Set[Long], sampledTokens: Long, packedEnd: Long, candidates: Long, verified: Long,
      deltaPairs: Set[(Long, Long)])
}
