package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions._

/** The `functions` layer in isolation: each codegen kernel called
  * through its public column function over a cached seeded input,
  * timed with whole-stage codegen on and again fully interpreted.
  * Reports rows/s (codegen) and the codegen speed-up per kernel. */
object Kernels {

  val Names = Seq("simhash64", "minhash_sig", "vector_sim", "pq_adc",
    "bpe_encode", "dec_sum128", "bitmap64")

  def measure(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val copies = spark.range(8).withColumnRenamed("id", "copy")
    val docs = spark.read.parquet(s"${ctx.opts.data}/documents.parquet")
      .crossJoin(copies).orderBy(xxhash64(lit(ctx.opts.seed), col("doc_id"), col("copy")))
      .select(col("text"), split(col("text"), " ").as("tok")).cache()
    val emb = spark.read.parquet(s"${ctx.opts.data}/embeddings.parquet")
      .crossJoin(copies).orderBy(xxhash64(lit(ctx.opts.seed), col("vec_id"), col("copy")))
      .select((col("vec_id") * 8 + col("copy")).as("vec_id"), col("embedding")).cache()
    val nums = spark.range(400000).select(
      (xxhash64(lit(ctx.opts.seed), col("id")) % 1000).as("k"),
      (pmod(xxhash64(col("id")), lit(1000000L)) / 100.0).cast("decimal(18,2)").as("v"),
      col("id")).cache()
    Seq(docs, emb, nums).foreach(_.count())
    val query = emb.limit(1).collect()(0).getSeq[Float](1).map(_.toDouble)
    val queryCol = lit(query.map(_.toFloat).toArray)
    val merges = graft.operators.Bpe.learn(
      spark.read.parquet(s"${ctx.opts.data}/documents.parquet"), 50)
    val cb = ProductQuant.train(emb, 64, 8, 16, 5)
    val codes = graft.operators.Similarity.pqEncodeTable(emb, cb).cache()
    codes.count()
    val lut = ProductQuant.buildLut(query, cb)

    def scalar(df: DataFrame, c: Column): () => Unit =
      () => { df.select(sum(xxhash64(c))).collect(); () }
    val kernels: Seq[(String, Long, () => Unit)] = Seq(
      ("simhash64", docs.count(), scalar(docs, SimHash64.simhash64(col("tok")))),
      ("minhash_sig", docs.count(), scalar(docs, MinHashSig.minhashSig(col("tok"), 32))),
      ("vector_sim", emb.count(), scalar(emb, VectorSim.cosine(col("embedding"), queryCol))),
      ("pq_adc", codes.count(), scalar(codes, ProductQuant.pqAdc(col("pq_code"), lut, cb.ksub))),
      ("bpe_encode", docs.count(), scalar(docs, BpeEncode.bpeEncode(col("text"), merges))),
      ("dec_sum128", nums.count(),
        () => { nums.groupBy("k").agg(dsum2(col("v"))).collect(); () }),
      ("bitmap64", nums.count(),
        () => { nums.groupBy("k").agg(Bitmap64.bitmapBuild(col("id")).as("b"))
          .select(sum(length(col("b")))).collect(); () }))

    def best(f: () => Unit): Double = {
      f()
      (1 to 3).map { _ => val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9 }.min
    }
    val out = kernels.flatMap { case (name, rows, f) =>
      val fast = best(f)
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      val slow = try best(f) finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      Seq(s"functions.$name.rows_per_s" -> rows / fast, s"functions.$name.codegen_x" -> slow / fast)
    }.toMap
    Seq(docs, emb, nums, codes).foreach(_.unpersist())
    out
  }
}
