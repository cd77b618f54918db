package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Property tests (SURVEY §5.3). Plain ScalaCheck generators (no
  * scalatestplus bridge in the offline cache) sampled with fixed seeds;
  * each property checks a batch per sample to keep Spark job counts sane.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("degreeCapEdges on random graphs: capped clusters always REFINE " +
      "the uncapped ones, and the surviving edge set is globally n·cap-bounded") {
    val graphGen = for {
      n <- Gen.choose(4, 14)
      nEdges <- Gen.choose(1, 25)
      edges <- Gen.listOfN(nEdges, for {
        a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
        w <- Gen.choose(1L, 6L)
      } yield (math.min(a, b), math.max(a, b), w))
      cap <- Gen.choose(1, 3)
    } yield (n, edges.filter(e => e._1 != e._2).distinct, cap)
    for ((n, edges, cap) <- samples(graphGen, 10) if edges.nonEmpty) {
      val ids = (0L until n.toLong).toDF("id")
      val pairs = edges.toDF("doc_a", "doc_b", "n_shared_bands")
      val capped = Dedup.degreeCapEdges(pairs, cap)
      // the REAL bound is global, not per-node (a hub every neighbor
      // keeps can exceed any per-node bound — star graphs survive
      // intact by design): each node keeps ≤ cap edges and every
      // survivor has a keeper, so |edges| ≤ n·cap
      val nSurvived = capped.count()
      assert(nSurvived <= n.toLong * cap,
        s"global edge bound violated at cap=$cap: $nSurvived > ${n * cap}")
      assert(nSurvived > 0, "a nonempty graph must keep at least one edge")
      // refinement: same capped label ⇒ same uncapped label
      val full = Dedup.labelClusters(ids, pairs, 32)
        .as[(Long, Long)].collect().toMap
      val sampled = Dedup.labelClusters(ids,
          capped.select("doc_a", "doc_b", "n_shared_bands"), 32)
        .as[(Long, Long)].collect().toMap
      sampled.groupBy(_._2).values.foreach { members =>
        assert(members.map(m => full(m._1)).toSet.size == 1,
          s"over-merge at cap=$cap on $edges")
      }
    }
  }

  test("agree_count on random long arrays (mixed lengths, nulls): native " +
      "== zip_with fold == plain Scala count") {
    val elem: Gen[Option[Long]] = Gen.frequency(
      9 -> Gen.choose(-5L, 5L).map(Some(_)), // small domain forces agreements
      1 -> Gen.const(None))
    val arr = Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, elem))
    val pairGen = Gen.zip(arr, arr)
    val batch = samples(pairGen, 400)
    val df = batch.map { case (a, b) =>
      (a.map(_.map(Long.box).orNull), b.map(_.map(Long.box).orNull))
    }.toDF("a", "b")
    val native = df.select(
        graft.functions.ArrayAgreeCount.agreeCount($"a", $"b"))
      .as[Int].collect().toSeq
    val fold = df.select(
        aggregate(zip_with($"a", $"b", (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v))
      .as[Int].collect().toSeq
    assert(native === fold)
    val scala_ = batch.map { case (a, b) =>
      a.zip(b).count { case (x, y) => x.isDefined && x == y } }
    assert(native === scala_)
  }

  test("intersect_count on random long arrays (duplicates, nulls): native " +
      "== size(array_intersect) == plain Scala distinct-set count") {
    val elem: Gen[Option[Long]] = Gen.frequency(
      9 -> Gen.choose(-5L, 5L).map(Some(_)), // small domain forces overlap
      1 -> Gen.const(None))
    val arr = Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, elem))
    val pairGen = Gen.zip(arr, arr)
    val batch = samples(pairGen, 400)
    val df = batch.map { case (a, b) =>
      (a.map(_.map(Long.box).orNull), b.map(_.map(Long.box).orNull))
    }.toDF("a", "b")
    val native = df.select(
        graft.functions.LongIntersectCount.intersectCount($"a", $"b"))
      .as[Int].collect().toSeq
    val builtin = df.select(
        size(array_intersect($"a", $"b")))
      .as[Int].collect().toSeq
    assert(native === builtin)
    val scala_ = batch.map { case (a, b) =>
      a.toSet.intersect(b.toSet).size } // Option[Long] sets: None models null
    assert(native === scala_)
  }

  test("lshVerifiedPairs on random corpora and geometries row-equals the " +
      "split lshCandidatePairs -> jaccardOnPairs derivation (pairs, band " +
      "counts, bit-identical jaccard)") {
    // small feature domain forces real band collisions; distinct-element
    // arrays match the extractors' contract (shingle/char-gram dedup)
    val corpusGen = for {
      n <- Gen.choose(3, 10)
      feats <- Gen.listOfN(n, for {
        k <- Gen.choose(1, 8)
        vs <- Gen.listOfN(k, Gen.choose(0L, 11L))
      } yield vs.distinct)
      bands <- Gen.choose(2, 4)
      rows <- Gen.choose(2, 3)
    } yield (feats, bands, rows)
    for ((feats, bands, rows) <- samples(corpusGen, 10)) {
      val df = feats.zipWithIndex
        .map { case (f, i) => (i.toLong, f) }.toDF("id", "features")
      val cols = Seq("doc_a", "doc_b", "n_shared_bands", "jaccard")
      val fused = Dedup.lshVerifiedPairs(df, bands, rows)
        .select(cols.map(col): _*)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toList
      val split = Dedup.jaccardOnPairs(
          Dedup.lshCandidatePairs(df, bands, rows), df)
        .select(cols.map(col): _*)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toList
      assert(fused == split,
        s"fused/split divergence at bands=$bands rows=$rows on $feats")
    }
  }

  test("RRF fusion on random rankings: fused score is the exact integer " +
      "sum of the arms' reciprocal ranks, and fusion order is total") {
    val rankingGen = for {
      docs <- Gen.choose(3, 10)
      lexK <- Gen.choose(1, docs)
      vecK <- Gen.choose(1, docs)
      lexDocs <- Gen.pick(lexK, 0L until docs.toLong)
      vecDocs <- Gen.pick(vecK, 0L until docs.toLong)
    } yield (lexDocs.toSeq.zipWithIndex.map { case (d, i) => (d, i + 1) },
      vecDocs.toSeq.zipWithIndex.map { case (d, i) => (d, i + 1) })
    val k0 = ExtensionQueries4.RrfK
    for ((lex, vec) <- samples(rankingGen, 10)) {
      val lexDf = lex.toDF("doc", "__r")
        .select(lit(0L).as("query_id"), col("doc"),
          expr(s"CAST(1000000000 DIV ($k0 + __r) AS BIGINT)").as("lex_fp"))
      val vecDf = vec.toDF("doc", "__r")
        .select(lit(0L).as("query_id"), col("doc"),
          expr(s"CAST(1000000000 DIV ($k0 + __r) AS BIGINT)").as("vec_fp"))
      val fused = lexDf.join(vecDf, Seq("query_id", "doc"), "full_outer")
        .select(col("doc"),
          (coalesce(col("lex_fp"), lit(0L)) + coalesce(col("vec_fp"), lit(0L)))
            .as("rrf_fp"))
        .as[(Long, Long)].collect().toMap
      val lexM = lex.toMap; val vecM = vec.toMap
      (lexM.keySet ++ vecM.keySet).foreach { d =>
        val expect = lexM.get(d).map(r => 1000000000L / (k0 + r)).getOrElse(0L) +
          vecM.get(d).map(r => 1000000000L / (k0 + r)).getOrElse(0L)
        assert(fused(d) == expect, s"doc $d: ${fused(d)} != $expect")
      }
    }
  }

  test("minMaxScore ∈ [0,100] ∪ {NaN}; 0 and 100 attained unless degenerate") {
    for (xs <- samples(Gen.nonEmptyListOf(Gen.choose(-1e6, 1e6)), 8)) {
      val scores = Score.minMaxScore(xs.toDF("v"), "v", "s")
        .select("s").as[Double].collect()
      assert(scores.forall(s => s.isNaN || (s >= 0.0 && s <= 100.0)))
      if (xs.distinct.size > 1) {
        assert(scores.min == 0.0 && scores.max == 100.0)
      }
    }
  }

  test("int_dot ≡ the interpreted fold on arbitrary in-range longs") {
    // magnitudes capped so products never overflow: parity of VALUES
    val bound = 3037000498L // floor(sqrt(Long.MaxValue))/8 per element
    val arr = Gen.choose(1, 8).flatMap(n =>
      Gen.zip(Gen.listOfN(n, Gen.choose(-bound / 8, bound / 8)),
        Gen.listOfN(n, Gen.choose(-bound / 8, bound / 8))))
    for (batch <- Seq(samples(arr, 24))) {
      val df = batch.toDF("a", "b")
      val native = df.select(graft.functions.IntDotProduct.intDot($"a", $"b"))
        .as[Long].collect().toSeq
      val fold = SparkTestSession.portable(df.select(
        aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, v) => acc + v))
        .as[Long].collect().toSeq)
      assert(native === fold)
      // and both equal the plain Scala loop
      val scala_ = batch.map { case (a, b) =>
        a.zip(b).foldLeft(0L) { case (acc, (x, y)) => acc + x * y } }
      assert(native === scala_)
    }
  }

  test("int_dot overflow THROWS under ANSI mode, matching the fold it fuses") {
    // Spark 4 runs ANSI by default: the interpreted fold's Multiply throws
    // on long overflow. The native expression must not silently wrap where
    // the expression it replaces errors — failOnError captures the conf.
    val df = Seq((Seq(Long.MaxValue / 2 + 1L, 0L), Seq(4L, 0L))).toDF("a", "b")
    SparkTestSession.portable(intercept[Exception] {
      df.select(
        aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, v) => acc + v))
        .collect()
    })
    intercept[Exception] {
      df.select(graft.functions.IntDotProduct.intDot($"a", $"b")).collect()
    }
  }

  test("int8-quantized cosine stays within the analytic angular error bound") {
    // qa = sa*a + e with |e|inf <= 0.5 (floor(x+0.5) rounding; the +-127
    // clamp never bites because |sa*a_i| <= 127 by construction), so
    // |e|2 <= 0.5*sqrt(d) and the angle moved is <= arcsin(|e|/|sa*a|)
    // <= (pi/2)*|e|/|sa*a|; |cos| moves at most the sum of both angles.
    val dim = 16
    val vec = Gen.listOfN(dim, Gen.choose(-10.0, 10.0))
      .suchThat(v => v.exists(_ != 0.0))
    val pairs = samples(Gen.zip(vec, vec), 520)
    val df = pairs.toDF("a", "b")
    def quant(c: org.apache.spark.sql.Column) = {
      val mx = array_max(transform(c, x => abs(x)))
      val scale = when(mx > 0, lit(127.0) / mx).otherwise(lit(1.0))
      transform(c, x => greatest(lit(-127L), least(lit(127L),
        floor(x * scale + 0.5).cast("long"))))
    }
    val rows = df
      .withColumn("qa", quant($"a")).withColumn("qb", quant($"b"))
      .select(
        (graft.functions.IntDotProduct.intDot($"qa", $"qb").cast("double") /
          (sqrt(graft.functions.IntDotProduct.intDot($"qa", $"qa").cast("double")) *
           sqrt(graft.functions.IntDotProduct.intDot($"qb", $"qb").cast("double"))))
          .as("approx"),
        (VectorOps.dot($"a", $"b") /
          (sqrt(VectorOps.dot($"a", $"a")) * sqrt(VectorOps.dot($"b", $"b"))))
          .as("exact"),
        sqrt(graft.functions.IntDotProduct.intDot($"qa", $"qa").cast("double")).as("na"),
        sqrt(graft.functions.IntDotProduct.intDot($"qb", $"qb").cast("double")).as("nb"))
      .collect()
    assert(rows.length == pairs.length)
    val e2 = 0.5 * math.sqrt(dim)
    rows.foreach { r =>
      val (approx, exact) = (r.getDouble(0), r.getDouble(1))
      // |q| >= |sa*a| - |e| , so |e|/|sa*a| <= e2 / (|q| - e2)
      val bound = (math.Pi / 2) *
        (e2 / (r.getDouble(2) - e2) + e2 / (r.getDouble(3) - e2))
      assert(math.abs(approx - exact) <= bound,
        s"approx=$approx exact=$exact bound=$bound")
    }
  }

  test("int8 rescore: candidates recover what stage 1 drops; rescored = exact over candidates") {
    // end-to-end over a GENERATED corpus through the real stage-1 plan
    // (int8RankedFrom): for every query, (a) stage-1-top-k true hits are a
    // subset of the candidate set's true hits (the s20 claim), and (b) the
    // rescored top-k is exactly the brute-force ranking restricted to the
    // candidate set.
    val dim = 12
    val k = 5
    val c = 20
    val vec = Gen.listOfN(dim, Gen.choose(-5.0, 5.0))
      .suchThat(v => v.map(x => x * x).sum > 1e-6)
    val corpus = samples(vec, 80).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val e = corpus.toDF("vec_id", "v")
    val stage1 = ExtensionQueries5.int8RankedFrom(e, c)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // exact cosines in Scala (double fold, same values as VectorOps.dot)
    val byId = corpus.toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val queries = corpus.map(_._1).filter(_ <= 2)
    queries.foreach { q =>
      val cand = stage1.filter(_._1 == q).sortBy(_._3).map(_._2).toSeq
      assert(cand.size == c)
      val stage1TopK = cand.take(k).toSet
      val truth = corpus.map(_._1).filter(_ != q)
        .sortBy(id => (-cos(byId(q), byId(id)), id)).take(k).toSet
      // (a) the candidate margin only ever ADDS true hits (s20's
      // recall_in_candidates >= recall_int8_only, per query)
      assert((stage1TopK & truth).subsetOf(cand.toSet & truth))
      // (b) every truth member that made it into the candidates SURVIVES
      // the exact rescore cut: a true top-k neighbor beats every non-truth
      // candidate on exact cosine, so the rescored top-k cannot drop it
      val rescored = cand.sortBy(id => (-cos(byId(q), byId(id)), id)).take(k)
      assert(rescored.size == k)
      assert((cand.toSet & truth).subsetOf(rescored.toSet),
        s"q=$q dropped a true neighbor present in the candidates")
      // recall is therefore monotone across the three stages
      assert((stage1TopK & truth).size <= (rescored.toSet & truth).size)
    }
  }

  test("argmax-join ≡ window row_number when the max is unique per key") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 1000)))
    for (raw <- samples(gen, 5) if raw.nonEmpty) {
      // one row per (key, ord) -> unique max per key -> both forms agree
      val rows = raw.distinct.map { case (k, ord) => (k, ord, s"p$k-$ord") }
      val df = rows.toDF("k", "ord", "payload")
      val a = Snapshot.latestPerKeyJoin(df, Seq("k"), "ord")
        .select("k", "ord").as[(Int, Int)].collect().sorted.toSeq
      val b = Snapshot.latestPerKeyWindow(df, Seq("k"), Seq(col("ord").desc))
        .select("k", "ord").as[(Int, Int)].collect().sorted.toSeq
      assert(a == b)
    }
  }

  test("roundAt(x, 2) within half a cent of x, and idempotent") {
    for (seed <- samples(Gen.choose(-1e7, 1e7), 3)) {
      val xs = (0 until 50).map(i => seed + i * 0.137)
      val out = xs.toDF("v").select(col("v"), Agg.roundAt(col("v"), 2).as("r"),
        Agg.roundAt(Agg.roundAt(col("v"), 2), 2).as("rr")).collect()
      out.foreach { row =>
        val (v, r, rr) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
        assert(math.abs(r - v) <= 0.005 + 1e-9)
        assert(r == rr)
      }
    }
  }

  test("charHash stays in [0, P) and is a pure function of the string") {
    val gen = Gen.listOfN(20, Gen.alphaNumStr.suchThat(_.nonEmpty))
    for (ss <- samples(gen, 3) if ss.nonEmpty) {
      val df = ss.toDF("t")
      val h1 = df.select(TextOps.charHash(col("t"))).as[Long].collect()
      val h2 = df.select(TextOps.charHash(col("t"))).as[Long].collect()
      assert(h1.toSeq == h2.toSeq)
      assert(h1.forall(h => h >= 0 && h < TextOps.P))
    }
  }

  test("count-min: est >= true on arbitrary multisets; exact when width covers the keys") {
    val gen = for {
      n <- Gen.choose(30, 300)
      keys <- Gen.listOfN(n, Gen.choose(0, 39).map(i => s"k$i"))
    } yield keys
    for (keys <- samples(gen, 6) if keys.nonEmpty) {
      val words = keys.toDF("term")
      val distinct = keys.distinct.size
      // collision regime: every estimate still bounded below by truth
      val tight = ExtensionQueries7
        .countMin(words, depth = 3, width = 8L, probes = distinct).collect()
      assert(tight.nonEmpty)
      tight.foreach(r => assert(r.getAs[Long]("overcount") >= 0L))
      // exact regime: a wide-enough grid reproduces every count
      val wide = ExtensionQueries7
        .countMin(words, depth = 3, width = 8192L, probes = distinct).collect()
      wide.foreach(r => assert(r.getAs[Long]("overcount") == 0L,
        s"${r.getString(0)} overcounted in a collision-free grid"))
    }
  }

  test("hll: corrected estimate lands within a generous bound on arbitrary id sets") {
    // m = 64 → 1σ ≈ 13%; the linear-counting crossover is the worst
    // region, so the accepted envelope is 45% relative. Fixed seeds keep
    // this deterministic.
    val gen = for {
      n <- Gen.choose(10, 2000)
      ids <- Gen.listOfN(n, Gen.choose(1L, 1000000L))
    } yield ids
    for (ids <- samples(gen, 6) if ids.nonEmpty) {
      val truth = ids.distinct.size.toDouble
      val est = ExtensionQueries7.hllEstimate(ExtensionQueries7.hllRegs(
          ids.toDF("uid").select(lit("x").as("seg"),
            graft.ExtensionQueries3.md5Hash48(col("uid")).as("h"))))
        .select(col("corrected")).collect()(0).getDouble(0)
      assert(math.abs(est - truth) / truth <= 0.45,
        s"n=$truth est=$est exceeds the 45% envelope")
    }
  }

  test("d20's unrolled collision products equal the pow S-curve on arbitrary similarities") {
    // the engine never calls pow (libm last-ulp nondeterminism across
    // engines); the unrolled left-assoc products must still BE the
    // S-curve 1-(1-s^r)^b — equal to the pow form within float noise,
    // and a probability exactly
    for (ss <- samples(Gen.listOfN(40, Gen.choose(0.0, 1.0)), 4)) {
      val s4 = ss.map(x => math.floor(x * 1e4 + 0.5) / 1e4) // d14's rounding regime
      val df = s4.toDF("s")
      ExtensionQueries8.BandGrid.foreach { case (b, r) =>
        val got = df.select(expr(ExtensionQueries8.pCollideSql(b, r)).as("p"))
          .as[Double].collect()
        got.zip(s4).foreach { case (p, sv) =>
          val want = 1.0 - math.pow(1.0 - math.pow(sv, r), b)
          assert(p >= 0.0 && p <= 1.0, s"b=$b r=$r s=$sv p=$p")
          assert(math.abs(p - want) <= 1e-12, s"b=$b r=$r s=$sv p=$p want=$want")
        }
      }
    }
  }

  test("KMV bottom-k is partition-invariant: any sharding merges to the global sample") {
    // the q98 lake claim as a property: for arbitrary hash multisets and
    // arbitrary partitionings, union-and-trim of per-shard bottom-ks
    // equals the bottom-k of the whole — a pure function of the distinct
    // hash set (mirrors Kmv.merge exactly)
    val k = 16
    val gen = Gen.zip(
      Gen.nonEmptyListOf(Gen.choose(0L, 1L << 30)),
      Gen.choose(1, 6))
    for ((hs, nShards) <- samples(gen, 30)) {
      val global = hs.distinct.sorted.take(k)
      val shards = hs.zipWithIndex.groupBy(_._2 % nShards)
        .values.map(_.map(_._1).distinct.sorted.take(k))
      val merged = shards.flatten.toList.distinct.sorted.take(k)
      assert(merged == global,
        s"sharded merge diverged for ${hs.size} hashes in $nShards shards")
    }
  }

  test("t36's DSIR bucket weight is monotone in target mass and zero at parity") {
    import graft.functions.DetLn.detLnScala
    def wFp(ct: Long, cc: Long): Long =
      math.floor((detLnScala(ct + 1) - detLnScala(cc + 1)) * 1e6).toLong
    for ((cc, cts) <- samples(Gen.zip(Gen.choose(0L, 100000L),
        Gen.listOfN(10, Gen.choose(0L, 100000L))), 20)) {
      // more target mass in a bucket can never lower its weight
      cts.sorted.sliding(2).foreach {
        case Seq(a, b) => assert(wFp(a, cc) <= wFp(b, cc))
        case _ =>
      }
      // a bucket with identical target and corpus counts is neutral
      assert(wFp(cc, cc) == 0L)
    }
  }

  test("g04's size bucket is exactly ceil(log2): 2^(b-1) < csize <= 2^b") {
    for (cs <- samples(Gen.listOfN(50, Gen.choose(1L, 1L << 40)), 4); c <- cs) {
      val b = if (c == 1) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(c - 1)
      if (b == 0) assert(c == 1L)
      else assert((1L << (b - 1)) < c && c <= (1L << b),
        s"csize $c landed in bucket $b")
    }
  }

  test("e20's chi-square is zero exactly at balance, symmetric, and monotone in imbalance") {
    def chi2(a: Long, b: Long): Double = (a - b).toDouble * (a - b) / (a + b)
    for ((n, ds) <- samples(Gen.zip(Gen.choose(10L, 100000L),
        Gen.listOfN(8, Gen.choose(0L, 9L))), 16)) {
      assert(chi2(n, n) == 0.0)
      ds.foreach { d => assert(chi2(n + d, n) == chi2(n, n + d)) }
      // pushing users from one arm to the other strictly increases χ²
      // while the total stays fixed
      val base = chi2(n + 1, n - 1)
      assert(chi2(n + 2, n - 2) > base && base > chi2(n, n))
    }
  }
}
