package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextClassifier, TextOps}

/** `curation`: the LLM-data pipeline over the seeded 4× replica of
  * documents and embeddings, one public operator call per stage, each
  * stage forced before the next. The window is exactly one cold pass,
  * whatever its length: a second pass would be warm, and a median over
  * one cold and one warm pass would jump when the pass gets fast enough
  * to fit twice. At this size the pass is bounded by per-job and driver
  * overhead (about 110 jobs, slots busy about a fifth of the pass), not
  * by kernels or shuffles; see `LAYERS.md`. */
final class Curation extends Workload {
  import Curation._

  private val factor = 4
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var nDocs = 0L
  private val passes = ArrayBuffer.empty[Span]
  private val stages = ArrayBuffer.empty[Span]
  private var errors = 0
  /** The last pass's outputs, kept for the checks. */
  private var pairs = Map.empty[String, DataFrame]
  private var knn: DataFrame = _
  private var twins = Seq.empty[Long]
  private var pairCounts = Map.empty[String, Int]

  def setup(ctx: Ctx, dir: String): Unit = {
    val data = s"$dir/data"
    Replica.build(ctx.spark, ctx.opts.data, data, factor, ctx.opts.seed,
      Seq("documents", "embeddings"))
    docs = ctx.spark.read.parquet(s"$data/documents.parquet").cache()
    // planted near-twins (the q_embed_knn_lsh construction) give the kNN
    // check neighbours whose recall is meaningful on unclustered vectors
    val raw = ctx.spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
    twins = ctx.rnd.shuffle(raw.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted).take(Twins)
    emb = raw.unionByName(raw.filter(col("vec_id").isin(twins: _*)).select(
      (col("vec_id") + TwinOffset).as("vec_id"),
      transform(col("embedding"), x => x + lit(0.005f)).as("embedding"))).cache()
    nDocs = docs.count()
    emb.count()
    ()
  }

  /** None: a warm-up pass costs as much as the window, so the timed
    * pass runs cold (codegen and JIT included). */
  def warmup(ctx: Ctx): Unit = ()

  def timed(ctx: Ctx, deadlineNs: Long): Unit =
    try passes += ctx.rec.span("pass", "curation")(pass(ctx, docs, emb))._2
    catch {
      case e: Throwable =>
        errors += 1
        System.err.println(s"[perfbench] curation pass threw: ${e.getMessage}")
    }

  private def pass(ctx: Ctx, d: DataFrame, e: DataFrame): Unit = {
    def stage(name: String)(df: => DataFrame): DataFrame = {
      val (out, s) = ctx.rec.span("stage", name) { val out = df; Main.force(out); out }
      stages += s
      out
    }
    val clean = stage("clean")(TextOps.cleanCorpus(d).localCheckpoint())
    val exact = stage("exact")(Dedup.exactDedup(clean).localCheckpoint())
    val mh = stage("minhash_lsh")(Dedup.minHashLshPairs(exact, threshold = Threshold))
    val sh = stage("simhash")(Dedup.simHashNearDupPairs(exact, threshold = Threshold))
    val ng = stage("ngram_block")(
      Dedup.ngramJaccardPairs(exact, blockCol = "source", shingleSize = 2, threshold = Threshold))
    val all = mh.unionByName(sh).unionByName(ng).select("id_a", "id_b").distinct()
    val kept = stage("components") {
      Dedup.connectedComponents(all).count()
      Dedup.keepCanonicalPerCluster(exact, all).localCheckpoint()
    }
    stage("semantic")(Dedup.semanticDedup(e, nClusters = 16, threshold = 0.99))
    val nn = stage("knn")(Similarity.lshKnnJoin(e, k = K, probes = 4))
    stage("bm25")(TextOps.bm25TopK(kept, Seq("spark", "join", "merge"), k = 20))
    stage("classifier") {
      val feats = TextClassifier.hashedFeatures(kept, "text", 4096)
        .withColumn("y", array_contains(split(col("text"), "\\s+"), "spark").cast("double"))
      val w = TextClassifier.trainLogistic(feats, "doc_id", "fx", "y", iters = 4, lr = 2.0)
      TextClassifier.scoreLogistic(feats, "fx", w, Seq("doc_id"))
    }
    pairs = Map("minhash_lsh" -> mh, "simhash" -> sh, "ngram_block" -> ng)
    knn = nn
  }

  /** Each emitted near-dup pair's Jaccard is recomputed on the driver
    * from the raw texts (word 2-shingles, as the operators define them)
    * and must match and clear the threshold; kNN recall@K against
    * `Similarity.bruteForceTopK` on a seeded sample of query vectors. */
  def check(ctx: Ctx): Seq[String] = {
    val pairErrors = pairs.toSeq.flatMap { case (stage, df) =>
      val rows = df.select("id_a", "id_b", "jaccard").collect()
      pairCounts += stage -> rows.length
      val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val text = docs.filter(col("doc_id").isin(ids.toSeq: _*))
        .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      rows.flatMap { r =>
        val j = jaccard(text(r.getLong(0)), text(r.getLong(1)))
        if (math.abs(j - r.getDouble(2)) < 1e-9 && j >= Threshold) None
        else Some(s"$stage pair (${r.getLong(0)}, ${r.getLong(1)}): reported " +
          s"${r.getDouble(2)}, recomputed $j")
      }
    }
    val ids = ctx.rnd.shuffle(twins).take(8)
    val vecs = emb.filter(col("vec_id").isin(ids: _*)).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val approx = knn.filter(col("id_a").isin(ids: _*)).select("id_a", "id_b").collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val truths = ids.map { id =>
      id -> Similarity.bruteForceTopK(emb, vecs(id), K + 1).select("vec_id").collect()
        .map(_.getLong(0)).filter(_ != id).take(K).toSeq
    }
    recall = truths.map { case (id, t) =>
      (t.toSet & approx.getOrElse(id, Set.empty)).size.toDouble / t.size }.sum / truths.size
    // the nearest true neighbour of a planted vector is its twin: kNN
    // must return it (recall@K over all K neighbours is recorded)
    val missed = truths.collect { case (id, t) if !approx.getOrElse(id, Set.empty).contains(t.head) => id }
    pairErrors ++ missed.map(id => s"kNN missed the nearest neighbour of vector $id")
  }
  private var recall = Double.NaN

  def attempted: Int = passes.size + errors
  def failed: Int = errors

  def endToEnd(ctx: Ctx, windowS: Double) = {
    val ms = passes.map(_.wallS * 1e3).toSeq
    val rate = nDocs / Main.median(passes.map(_.wallS).toSeq)
    (Main.median(ms), rate, Map("pass_p50_ms" -> Main.median(ms),
      "passes" -> ms.size.toDouble, "docs_per_s" -> rate))
  }

  def perLayer(ctx: Ctx, windowS: Double): Map[String, Double] = {
    val all = ctx.rec.allStats
    val n = math.max(1, passes.size).toDouble
    val perStage = Stages.flatMap { name =>
      val mine = stages.filter(_.name == name)
      val st = mine.map(s => all.getOrElse(s.op, new OpStats))
      Seq(s"operators.$name.self_s" -> mine.map(_.wallS).sum / n,
        s"operators.$name.jobs" -> st.map(_.jobs).sum / n,
        s"operators.$name.shuffle_mb" -> st.map(s => s.shuffleRead + s.shuffleWrite).sum / 1e6 / n)
    }
    Main.sparkLayer(ctx, passes.toSeq, windowS) ++ perStage
  }

  def info: Map[String, Any] = Map("clients" -> 1, "replica_factor" -> factor,
    "documents" -> nDocs, "passes" -> passes.size, "knn_recall" -> recall,
    // the pipeline is sized so that no stage takes more than about half a pass
    "max_stage_share" -> (if (passes.isEmpty) Double.NaN
      else Stages.map(n => stages.filter(_.name == n).map(_.wallS).sum).max / passes.map(_.wallS).sum),
    "pairs" -> pairCounts)
}

object Curation {
  val Stages = Seq("clean", "exact", "minhash_lsh", "simhash", "ngram_block",
    "components", "semantic", "knn", "bm25", "classifier")
  val Threshold = 0.5
  val K = 5
  val Twins = 50
  val TwinOffset = 100000000L

  /** Jaccard of distinct word 2-shingles, tokens split on single spaces
    * (a document shorter than two tokens is its one token). */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String): Set[String] = {
      val tok = t.split(" ", -1)
      val m = math.max(tok.length - 1, 1)
      (0 until math.min(m, tok.length)).map(i => tok.slice(i, i + 2).mkString(" ")).toSet
    }
    val (x, y) = (sh(a), sh(b))
    (x & y).size.toDouble / (x | y).size
  }
}
