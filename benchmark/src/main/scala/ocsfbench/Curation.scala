package ocsfbench

import java.nio.file.Path

import graft.Tables
import graft.ops.{CorpusPipeline, Dedup, Similarity, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.storage.StorageLevel

/** Corpus curation, measured in the traced `ocsf_ingest` run after its
  * drops: passes of `CorpusPipeline.prepare` followed by
  * `CorpusPipeline.embeddingStage` over the generated documents and
  * embeddings, each writing the curated corpus as parquet, as a curation
  * job would. The pipeline is called directly, not through the registry's
  * `ddp_corpus_prepare*` rows, which cache survivors per session. It never
  * touches `ocsf`, so its layers are the control for changes there.
  *
  * One untraced pass warms the JVM, a second is timed, then a traced pass
  * composes the same stages from the modules' public functions (quality
  * and language gates, exact dedup, shingling, MinHash-LSH pairs,
  * components, embedding pairs) and materializes each stage boundary so
  * its time can be told apart. The traced pass's survivors must equal the
  * pipeline's, and the timed pass's output is written for run.py to
  * compare with the registry's DuckDB oracle SQL for
  * `ddp_corpus_prepare_emb`.
  */
final class Curation(ctx: Ctx, dir: Path) {
  import Curation._
  import ctx.{spark, tracer => tr}

  private val sf     = ctx.data.toString
  private val cfg    = CorpusPipeline.Config()
  private var passes = 0

  /** One untraced pass; returns its output directory. */
  private def pass(): Path = {
    passes += 1
    val out  = dir.resolve(s"pass-$passes")
    val docs = Tables.documents(spark, sf)
    val survivors = CorpusPipeline.prepare(docs, "doc_id", "text", cfg).localCheckpoint(eager = false)
    CorpusPipeline
      .embeddingStage(survivors, Tables.embeddings(spark, sf), "doc_id", "vec_id", "embedding", EmbTau)
      .write
      .parquet(out.toString)
    out
  }

  private def materialize(df: DataFrame): DataFrame = {
    val m = df.persist(StorageLevel.MEMORY_AND_DISK)
    m.count()
    m
  }

  /** `prepare` and `embeddingStage` stage by stage, each boundary
    * materialized inside its span. */
  private def tracedPass(): Traced = tr.span("pass") {
    val docs = Tables.documents(spark, sf)
    val inLang = tr.span("ops.Text.gates") {
      val nTok = Text.tokenCount(col("text"))
      materialize(
        docs
          .filter(nTok >= cfg.minTokens && nTok <= cfg.maxTokens)
          .filter(Text.langId(col("text")).isin(cfg.languages.toSeq: _*))
      )
    }
    val exact = tr.span("ops.Dedup.exact") {
      val keep = Dedup.exactGroups(inLang, "doc_id", "text").select(col("keep_id").as("__keep_id"))
      materialize(inLang.join(keep, inLang("doc_id") === col("__keep_id"), "left_semi"))
    }
    val shingles = tr.span("ops.Dedup.shingle") {
      materialize(Dedup.shingleSets(exact, "doc_id", "text", cfg.shingleN))
    }
    val pairs = tr.span("ops.Dedup.minhash_pairs") {
      materialize(
        Dedup.minhashLshPairs(shingles, cfg.minhashK, cfg.rowsPerBand, cfg.minJaccard).select("a_id", "b_id")
      )
    }
    val survivors = tr.span("ops.Dedup.components") {
      materialize(Dedup.dedupByPairs(exact, "doc_id", pairs))
    }
    val emb = Tables.embeddings(spark, sf)
    val (embedded, embPairs, planes, bands) = tr.span("ops.Similarity.emb_pairs") {
      val dim = emb.filter(col("embedding").isNotNull).select(size(col("embedding"))).head().getInt(0)
      val embedded = materialize(
        survivors.join(emb, survivors("doc_id") === emb("vec_id")).select(survivors("doc_id"), col("embedding"))
      )
      val (np, b) = Similarity.chooseBanding(embedded.count())
      val p = materialize(
        Similarity.embeddingDupPairs(embedded, "doc_id", "embedding", EmbTau, np, b, dim = dim).select("a_id", "b_id")
      )
      (embedded, p, np, b)
    }
    val kept = tr.span("ops.Dedup.components") {
      Dedup.dedupByPairs(survivors, "doc_id", embPairs).select("doc_id").collect().map(_.getLong(0)).toSet
    }
    Traced(kept, shingles, pairs, embedded, embPairs, planes, bands,
      Seq(inLang, exact, shingles, pairs, survivors, embedded, embPairs))
  }

  /** Candidate pairs behind the two verified pair sets, counted with the
    * same public building blocks, untimed. */
  private def candidates(t: Traced): (Long, Long) = {
    val lsh = Dedup
      .lshCandidates(Dedup.lshBands(Dedup.minhashSignatures(t.shingles, cfg.minhashK), cfg.rowsPerBand))
      .count()
    val keys = Similarity.srpBandKeys(t.embedded, "doc_id", "embedding", t.planes, t.bands)
    val emb = keys
      .select(col("doc_id").as("a_id"), col("band"), col("key"))
      .join(keys.select(col("doc_id").as("b_id"), col("band"), col("key")), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
      .count()
    (lsh, emb)
  }

  private def ids(out: Path): Set[Long] =
    spark.read.parquet(out.toString).select("doc_id").collect().map(_.getLong(0)).toSet

  /** Warm pass, timed pass and traced pass; returns the layer metrics. */
  def run(): Map[String, Double] = {
    val nDocs = Tables.documents(spark, sf).count()
    pass()
    val t0     = System.nanoTime()
    val out    = pass()
    val passS  = Stats.secondsSince(t0)
    ctx.oracleResult(OracleQuery, spark.read.parquet(out.toString).select("doc_id", "source"))

    val eng = new EngineCounters(spark)
    eng.start()
    tr.enabled = true
    val t1      = System.nanoTime()
    val traced  = tracedPass()
    val tracedS = Stats.secondsSince(t1)
    tr.enabled = false
    eng.stop()
    if (traced.kept != ids(out))
      ctx.mismatch("curation: the traced pass's survivors differ from the pipeline's")
    val (lshCands, embCands) = candidates(traced)
    val counts = (traced.pairs.count(), traced.embPairs.count())
    traced.cached.foreach(_.unpersist())

    def self(n: String) = tr.selfPerOp(n).sum
    Map(
      "ops.CorpusPipeline.docs_per_s" -> nDocs / passS,
      "ops.Text.gates_s"              -> self("ops.Text.gates"),
      "ops.Dedup.exact_s"             -> self("ops.Dedup.exact"),
      "ops.Dedup.shingle_s"           -> self("ops.Dedup.shingle"),
      "ops.Dedup.minhash_pairs_s"     -> self("ops.Dedup.minhash_pairs"),
      "ops.Dedup.lsh_candidates"      -> lshCands.toDouble,
      "ops.Dedup.lsh_yield"           -> counts._1.toDouble / math.max(lshCands, 1L),
      "ops.Dedup.components_s"        -> self("ops.Dedup.components"),
      "ops.Similarity.emb_pairs_s"    -> self("ops.Similarity.emb_pairs"),
      "ops.Similarity.yield"          -> counts._2.toDouble / math.max(embCands, 1L),
      "plans.ShingleRewrite.fired"    -> eng.shingleRewrites.get.toDouble,
      "spark.shuffle_bytes"           -> eng.shuffleBytes.get.toDouble,
      "trace.overhead.curation_s"     -> (tracedS - passS),
    )
  }
}

object Curation {
  /** The registry row whose oracle SQL states this pipeline's result. */
  val OracleQuery = "ddp_corpus_prepare_emb"
  /** The embedding-stage cosine threshold of that registry row. */
  val EmbTau = 0.45

  /** Stage outputs of the traced pass that the candidate counts reuse. */
  final case class Traced(
      kept: Set[Long],
      shingles: DataFrame,
      pairs: DataFrame,
      embedded: DataFrame,
      embPairs: DataFrame,
      planes: Int,
      bands: Int,
      cached: Seq[DataFrame],
  )
}
