package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The seeded `factor`× replica of the bundled base tables, derived
  * the way `graft.ScaleBench` derives its replica, with the same
  * honesty rules:
  *  - documents: every token of copy i > 0 carries a per-copy tag, so
  *    near-duplicate structure replicates within a copy and never
  *    across copies (a verbatim copy would plant exact duplicates);
  *  - embeddings: each copy gets a distinct isometry (coordinate
  *    rotation, optional negation), so norms and pairwise distances
  *    are preserved and no copy duplicates another;
  *  - keys are offset per copy, `l_suppkey` and its dimension too.
  * The seed picks the token tags, which isometry each copy gets, and
  * the row order of every table. */
object Replica {

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def build(spark: SparkSession, base: String, out: String, factor: Int,
      seed: Long, tables: Seq[String] = Tables): Unit = {
    val rnd = new scala.util.Random(seed)
    val tag = (0 until factor).map(i => s"c${i}x${rnd.alphanumeric.take(3).mkString.toLowerCase}")
    val isometry = rnd.shuffle((1 until 126).toList).take(factor)
    def copies(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      if (tables.contains(name)) {
        val src = graft.Engine.table(spark, base, name)
        (0 until factor).map(i => f(src, i)).reduce(_ unionByName _)
          .orderBy(xxhash64(lit(seed), monotonically_increasing_id()))
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
    copies("documents") { (df, i) =>
      val d = df.withColumn("doc_id", col("doc_id") + i * 10000000L)
      if (i == 0) d else d.withColumn("text", regexp_replace(col("text"), "(\\S+)", "$1" + tag(i)))
    }
    copies("embeddings") { (df, i) =>
      val d = df.withColumn("vec_id", col("vec_id") + i * 10000000L)
      if (i == 0) d
      else {
        val iso = isometry(i)
        val rot = iso % 63 + 1
        val rotated = d.withColumn("embedding", concat(
          slice(col("embedding"), rot + 1, 64 - rot), slice(col("embedding"), 1, rot)))
        if (iso < 63) rotated
        else rotated.withColumn("embedding", transform(col("embedding"), x => -x))
      }
    }
    copies("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + i * 1000000000L)
        .withColumn("o_custkey", col("o_custkey") + i * 10000000L)
    }
    copies("customer")((df, i) => df.withColumn("c_custkey", col("c_custkey") + i * 10000000L))
    copies("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + i * 1000000000L)
        .withColumn("l_partkey", col("l_partkey") + i * 10000000L)
        .withColumn("l_suppkey", col("l_suppkey") + i * 100000L)
    }
    copies("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + i * 1000000000L)
        .withColumn("user_id", col("user_id") + i * 10000000L)
    }
    copies("supplier")((df, i) => df.withColumn("s_suppkey", col("s_suppkey") + i * 100000L))
    copies("part")((df, i) => df.withColumn("p_partkey", col("p_partkey") + i * 10000000L))
    // nation and region do not scale with the data: one copy
    for (name <- Seq("nation", "region") if tables.contains(name))
      spark.read.parquet(s"$base/$name.parquet").write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
  }
}
