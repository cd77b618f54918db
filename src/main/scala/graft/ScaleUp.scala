package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture scale-up: `runMain graft.ScaleUp <srcDir> <outDir> [factor]`
  * replicates a fixture directory `factor`× (default 10) with disjoint key
  * spaces, for measuring how query cost scales with data volume (the
  * sf0.1 → sf1 slope check; fixtures above sf0.1 aren't driver-provided).
  *
  * The replication preserves each table's LOGICAL shape rather than its
  * bytes, the way a real 10× corpus would grow:
  *   - fact/entity keys shift by `copy · 10^9` per copy, uniformly across
  *     tables, so every join edge (orders↔lineitem, orders↔customer,
  *     lineitem↔part/supplier, events↔user) stays intact while key
  *     cardinality grows linearly;
  *   - tiny fixed dims (region, nation) stay fixed — as at any real scale;
  *   - document text gets a per-copy suffix so near-dup candidate
  *     generation sees 10× docs, not pathological 10-way exact-duplicate
  *     cliques that no real corpus growth would produce;
  *   - embeddings rotate by `copy` positions — norm- and
  *     distribution-preserving, but genuinely distinct vectors, so ANN
  *     corpus size truly grows (queries remain the copy-0 `vec_id <= 2`).
  *
  * Writes with the source's partition-parallelism ×copies, so downstream
  * scans see a file layout that grew with the data.
  */
object ScaleUp {

  /** Per-copy key shift: far above any fixture key, so copies cannot
    * collide; constant across tables, so shifted foreign keys still join.
    */
  val KeyShift = 1000000000L

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val shiftDays = args.lift(3).map(_.toInt).getOrElse(0)
    val clusterBoost = args.lift(4).map(_.toDouble).getOrElse(0.0)
    // fixed 8 cores, not SPARK_GRAFT_CPUS: scan splits follow
    // defaultParallelism, so the written file layout would follow the host
    val spark = GraftSession.local(8)
    scaleAll(spark, srcDir, outDir, factor, shiftDays, clusterBoost)
    spark.stop()
  }

  /** Opt-in fixture-variant knobs (both default off; defaults keep
    * standing fixtures byte-comparable round-over-round):
    *
    * `shiftDays` > 0 makes event TIME grow with data volume: copy i's
    * events shift by i·shiftDays days, so 10× data occupies 10× the time
    * span at CONSTANT density (shiftDays = the source span, 30 days,
    * tiles copies edge to edge). The default 0 keeps the historical
    * behavior — every copy inside the source's fixed span — so standing
    * fixtures (graft_sf1/graft_sf10) stay comparable round-over-round;
    * span-proportional fixtures exist to grade operators whose cost is
    * interval-DENSITY-driven (e22's all-windows exposure join: a fixed
    * span inflates density 10×/decade and pair counts ~100×/decade,
    * which no real corpus does). Per-user sessions are unaffected
    * (user_id shifts with the copy, so a copy's sessions relocate
    * together, never merging across copies).
    *
    * `clusterBoost` > 0 plants CLUSTER structure in the scaled
    * embeddings: copy i ≥ 1 adds boost·‖v‖ to two copy-specific
    * dimensions ((7i, 7i+1) mod 64) on top of the rotation, so the
    * copies become `factor` well-separated directional clusters with
    * the copy index as ground truth (copy 0 stays the original
    * isotropic background, preserving ScaleUp's copy-0-is-the-fixture
    * contract). The registered fixture's embeddings are isotropic —
    * no kNN graph over them is navigable and walk recall reads ~chance
    * (r14's recorded ~0.07) — so clustered variants exist to grade the
    * s36/s37/s38 walk family's recall at a REAL decade the way
    * Round15Spec grades it at 200 constructed points.
    */
  def scaleAll(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, shiftDays: Int = 0, clusterBoost: Double = 0.0): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    // negative values would silently produce backwards-shifted timestamps
    // / anti-boosted embeddings — refuse rather than write a broken fixture
    require(shiftDays >= 0, s"shiftDays must be >= 0, got $shiftDays")
    require(clusterBoost >= 0.0,
      s"clusterBoost must be >= 0.0, got $clusterBoost")
    def src(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")

    /** Union `factor` shifted copies of `df`. `shift(df, i)` must return
      * the i-th copy; copy 0 is the original.
      */
    def rep(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => shift(df, i)).reduce(_.unionAll(_))

    def shiftKeys(keys: String*)(df: DataFrame, i: Int): DataFrame =
      keys.foldLeft(df)((d, k) =>
        d.withColumn(k, (col(k) + lit(i * KeyShift)).cast("long")))

    val plans: Seq[(String, DataFrame)] = Seq(
      "region" -> src("region"),
      "nation" -> src("nation"),
      // Entity names re-derive from the SHIFTED key (copy 0 is untouched:
      // %09d of a sub-1e9 key reproduces the fixture's own name): a real
      // 10x registry has 10x DISTINCT entities, not every name duplicated
      // 10x — name reuse makes any name-keyed blocking/linkage block grow
      // with the copy count and its pairwise term quadratic in it, the
      // tabular twin of the document-text near-dup clique note below.
      "customer" -> rep(src("customer")) { (df, i) =>
        val shifted = shiftKeys("c_custkey")(df, i)
        if (i == 0) shifted
        else shifted.withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))
      },
      "supplier" -> rep(src("supplier")) { (df, i) =>
        val shifted = shiftKeys("s_suppkey")(df, i)
        if (i == 0) shifted
        else shifted.withColumn("s_name",
          format_string("Supplier#%09d", col("s_suppkey")))
      },
      "part" -> rep(src("part"))(shiftKeys("p_partkey")),
      "orders" -> rep(src("orders"))(shiftKeys("o_orderkey", "o_custkey")),
      "lineitem" -> rep(src("lineitem"))(
        shiftKeys("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> rep(src("events")) { (df, i) =>
        val shifted = shiftKeys("event_id", "user_id")(df, i)
        if (shiftDays == 0 || i == 0) shifted
        else shifted.withColumn("ts",
          col("ts") + expr(s"INTERVAL '${i.toLong * shiftDays}' DAY"))
      },
      "documents" -> rep(src("documents")) { (df, i) =>
        val shifted = shiftKeys("doc_id")(df, i)
        if (i == 0) shifted
        // Tag every 4th word with the copy index (phase-shifted per copy):
        // ~3/4 of a copy's word 3-shingles differ from every other copy's
        // (cross-copy Jaccard ~0.14, below near-dup thresholds), so the
        // scaled corpus carries 10x the fixture's PLANTED dup rate instead
        // of a synthetic 10-way near-dup clique per document — a plain
        // suffix leaves shingles ~identical and explodes candidate pairs
        // quadratically in the copy count, which no real corpus growth
        // does. Tagging 1/4 of positions also keeps vocabulary growth
        // sublinear (Heaps-ish), not 10x.
        else shifted.withColumn("text",
          array_join(transform(split(col("text"), " "), (w, j) =>
            when((j + lit(i)) % 4 === 0, concat(w, lit(i.toString)))
              .otherwise(w)), " "))
      },
      "embeddings" -> rep(src("embeddings")) { (df, i) =>
        val shifted = shiftKeys("vec_id")(df, i)
        if (i == 0) shifted
        else {
          // rotate by i: element j of the copy is element (j+i) mod 64 of
          // the original — distinct vectors, same norm and per-dim family
          val d = 64
          val rotated = shifted.withColumn("embedding",
            transform(sequence(lit(0), lit(d - 1)), j =>
              element_at(col("embedding"), ((j + i) % d + 1).cast("int"))))
          if (clusterBoost == 0.0) rotated
          else {
            val (d1, d2) = ((7 * i) % d, (7 * i + 1) % d)
            rotated
              .withColumn("__nrm", sqrt(aggregate(col("embedding"),
                lit(0.0d), (a, x) => a + x.cast("double") * x.cast("double"))))
              .withColumn("embedding",
                transform(col("embedding"), (x, j) =>
                  when(j === d1 || j === d2,
                    (x.cast("double") + lit(clusterBoost) * col("__nrm"))
                      .cast("float"))
                    .otherwise(x)))
              .drop("__nrm")
          }
        }
      })

    plans.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name -> $outDir/$name.parquet")
    }
  }
}
