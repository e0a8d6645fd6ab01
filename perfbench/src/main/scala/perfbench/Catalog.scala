package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

/** `catalog`: one client runs `SparkEntry.queries` serially in a seeded
  * order, each fully forced, over the fixed bundled base data. Breadth
  * and fixed overhead: per-job and planning costs dominate here.
  *
  * A cold pass over all 222 queries takes about 95 s on 4 cores, more
  * than one run can hold, so a run passes over [[Catalog.Subset]]: a
  * query of mid-range cost from each family (four from the broad
  * relational family), about 12 s cold and 6 s warm. Set-up runs one
  * cold pass; the window runs warm passes until its deadline. The set
  * is the same for every seed; each pass's order is the seed's.
  * `catalog.<family>` layer metrics are per pass. */
final class Catalog extends Workload {
  private var data = ""
  private val subset = Catalog.Subset
  private val samples = ArrayBuffer.empty[(String, Span, Long)]
  private val planMs = ArrayBuffer.empty[Double]
  private val exchanges = ArrayBuffer.empty[Double]
  private var errors = 0
  private var passes = 0
  private var dumps = Map.empty[String, String]
  private var oraclePath = ""

  private lazy val queries = graft.SparkEntry.queries
  private lazy val family: Map[String, String] = Catalog.families(queries.keys.toSeq)

  def setup(ctx: Ctx, dir: String): Unit = {
    require(subset.forall(queries.contains),
      s"catalog subset names unknown queries: ${subset.filterNot(queries.contains)}")
    // a private copy, so nothing a query writes next to its tables can
    // land in the checkout
    data = s"$dir/data"
    Main.copyDir(ctx.opts.data, data)
  }

  /** One cold pass: one-time artifact builds (the cuboid lattice, CTAS
    * tables), codegen and JIT finish here, as they would for a
    * dashboard that re-runs its queries. */
  def warmup(ctx: Ctx): Unit = subset.foreach { q =>
    Main.dropCachedBlocks(ctx)
    Main.force(queries(q)(ctx.spark, data))
  }

  /** Whole passes until the deadline, so every pass weighs each query
    * once whatever the window cuts. */
  def timed(ctx: Ctx, deadlineNs: Long): Unit =
    do { onePass(ctx); passes += 1 } while (System.nanoTime() < deadlineNs)

  private def onePass(ctx: Ctx): Unit =
    ctx.rnd.shuffle(subset).foreach { q =>
      Main.dropCachedBlocks(ctx)
      try {
        val (n, s) = ctx.rec.span("query", q) {
          val df = queries(q)(ctx.spark, data)
          if (ctx.opts.trace) planStats(df)
          Main.force(df)
        }
        samples += ((q, s, n))
      } catch {
        case e: Throwable =>
          errors += 1
          System.err.println(s"[perfbench] $q threw: ${e.getMessage}")
      }
    }

  /** Time to the executed plan (taken before forcing) and its exchanges. */
  private def planStats(df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val plan = df.queryExecution.executedPlan
    planMs += (System.nanoTime() - t0) / 1e6
    exchanges += plan.toString.linesIterator.count(_.contains("Exchange")).toDouble
  }

  /** Dump a seeded sample of the timed queries for the value compare
    * against DuckDB; every timed query's row count is checked too (by
    * `run.py`, which runs the oracle SQL). */
  def check(ctx: Ctx): Seq[String] = {
    val oracle = graft.SparkEntry.oracleSql
    val sample = ctx.rnd.shuffle(samples.map(_._1).toSeq).take(4)
    dumps = sample.map { q =>
      val out = ctx.dir(s"dumps/$q")
      queries(q)(ctx.spark, data).coalesce(1).write.mode("overwrite").parquet(out)
      q -> out
    }.toMap
    oraclePath = ctx.dir("oracle_sql.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(oraclePath),
      Main.json.writeValueAsString(oracle.filter { case (k, _) => samples.exists(_._1 == k) }))
    Nil
  }

  def attempted: Int = samples.size + errors
  def failed: Int = errors

  def endToEnd(ctx: Ctx, windowS: Double) = {
    val xs = samples.map(_._2.wallS).toSeq
    (Main.median(xs) * 1e3, xs.size / windowS,
      Map("query_p50_s" -> Main.median(xs), "query_p90_s" -> Main.pct(xs, 0.9),
        "queries" -> xs.size.toDouble, "catalog_pass_s" -> xs.sum / passes))
  }

  def perLayer(ctx: Ctx, windowS: Double): Map[String, Double] = {
    val spans = samples.map(_._2).toSeq
    val all = ctx.rec.allStats
    val fam = Catalog.Families.flatMap { f =>
      val mine = samples.filter(s => family(s._1) == f).map(_._2)
      Seq(s"catalog.$f.wall_s" -> mine.map(_.wallS).sum / passes,
        s"catalog.$f.jobs" -> mine.map(s => all.get(s.op).map(_.jobs).getOrElse(0L)).sum.toDouble / passes)
    }
    Main.sparkLayer(ctx, spans, windowS) ++ fam ++ Map(
      "plans.plan_ms_p50" -> Main.median(planMs.toSeq),
      "plans.exchanges_per_op" -> exchanges.sum / math.max(1, exchanges.size))
  }

  def info: Map[String, Any] = Map("queries" -> queries.size,
    "subset" -> subset.size, "clients" -> 1, "data" -> "bundled base (sf0.001)",
    "oracle" -> Map("data" -> data, "oracle_sql" -> oraclePath,
      "counts" -> samples.map(s => s._1 -> s._3).toMap, "dumps" -> dumps))
}

object Catalog {
  val Subset = Seq(
    "q_tpch_q1", "q_tpcds_avg_correlated", "q_ref_expansion_join",
    "q_join3_agg", "q_grouping_sets", "q_broadcast_join", "q_count_distinct",
    "q_window_analytic", "q_retention_cohort", "q_cube_route", "q_merge_upsert",
    "q_dedup_minhash_lsh", "q_embed_topk_bruteforce", "q_text_langid",
    "q_multimodal_features", "q_link_pagerank")

  val Families = Seq("tpch", "tpcds", "ref", "relational", "window", "behavior",
    "cube", "versioned", "dedup", "embed", "text", "multimodal", "graph")

  private val byPrefix = Seq(
    "window" -> Seq("q_window"),
    "versioned" -> Seq("q_versioned", "q_scd2", "q_asof", "q_accum", "q_cd_",
      "q_merge", "q_periodic", "q_snapshot"),
    "dedup" -> Seq("q_dedup", "q_decontaminate", "q_corpus"),
    "embed" -> Seq("q_embed", "q_hybrid", "q_ann"),
    "multimodal" -> Seq("q_multimodal"))

  /** Query name -> family: by defining object where the object is one
    * family, else by name prefix; text-pipeline objects default to
    * text and the rest to relational. */
  def families(names: Seq[String]): Map[String, String] = {
    def namesOf(qs: Seq[graft.QuerySpec]) = qs.map(_.name).toSet
    val byObject = Seq(
      "tpch" -> namesOf(graft.TpchQueries.all),
      "tpcds" -> namesOf(graft.TpcdsQueries.all),
      "ref" -> namesOf(graft.RefConformance.all),
      "graph" -> namesOf(graft.GraphQueries.all),
      "behavior" -> namesOf(graft.BehaviorQueries.all),
      "cube" -> namesOf(graft.CubeQueries.all))
    val textual = namesOf(graft.TextQueries.all) ++ namesOf(graft.CurationQueries.all) ++
      namesOf(graft.ModelQueries.all)
    names.map { n =>
      n -> byObject.collectFirst { case (f, s) if s(n) => f }
        .orElse(byPrefix.collectFirst { case (f, ps) if ps.exists(n.startsWith) => f })
        .getOrElse(if (textual(n)) "text" else "relational")
    }.toMap
  }
}
