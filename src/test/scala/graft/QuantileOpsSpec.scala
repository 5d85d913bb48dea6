package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import org.apache.spark.sql.functions._

import graft.dfw.QuantileOps

/** Rank-select exact quantiles must equal the built-in percentile()
  * (both implement quantile_cont: linear interpolation between the
  * two adjacent order statistics) — the operator exists because the
  * built-in's per-group value→count map is unbounded reducer state on
  * nearly-unique doubles, not because the semantics differ.
  */
class QuantileOpsSpec extends SparkSpec {
  import spark.implicits._

  test("matches built-in percentile on nearly-unique doubles across groups") {
    val rng = new scala.util.Random(7)
    val df = (1 to 5000).map(i => (s"g${i % 3}", rng.nextDouble() * 1000))
      .toDF("g", "v")
    val qs = Seq(0.0, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = withDefaultParallelism(spark.sparkContext, 8) {
      QuantileOps.exactQuantiles(df, Seq("g"), "v", qs)
        .orderBy("g", "q")
        .select(col("g"), col("q"), round(col("value"), 9).as("value"))
        .as[(String, Double, Double)].collect()
    }
    val exp = df.groupBy("g")
      .agg(expr(s"percentile(v, array(${qs.mkString(",")}))").as("vals"))
      .select(col("g"), posexplode(col("vals")))
      .select(col("g"), col("pos"), round(col("col"), 9).as("value"))
      .orderBy("g", "pos")
      .as[(String, Int, Double)].collect()
    got.length shouldBe exp.length
    got.zip(exp).foreach { case ((g1, _, v1), (g2, _, v2)) =>
      g1 shouldBe g2
      v1 shouldBe v2 +- 1e-6
    }
  }

  test("single-row group, duplicates, and nulls follow percentile semantics") {
    val df = Seq(("a", Some(5.0)), ("b", Some(1.0)), ("b", Some(1.0)),
      ("b", Some(3.0)), ("b", None)).toDF("g", "v")
    val got = QuantileOps.exactQuantiles(df, Seq("g"), "v", Seq(0.5))
      .select("g", "value").as[(String, Double)].collect().toMap
    got("a") shouldBe 5.0
    got("b") shouldBe 1.0 // nulls ignored: median of (1,1,3)
  }

  test("exactQuantileCols pivots to one row per group with named columns") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0)).toDF("g", "v")
    val row = withDefaultParallelism(spark.sparkContext, 2) {
      QuantileOps.exactQuantileCols(df, Seq("g"), "v", Seq(0.5 -> "med", 1.0 -> "max_v"))
        .select("g", "med", "max_v").as[(String, Double, Double)].head()
    }
    row shouldBe (("a", 2.5, 4.0))
  }

  test("madOutlierStats: flags the wild value a mean/stddev z-score would mask") {
    // group a: nine values at 10±1 plus one at 1000. The outlier drags
    // the mean to ~109 and the stddev to ~313, so its classic z-score
    // is ~2.8 — under a 3-sigma gate it masks itself. Median 10,
    // MAD 1: |1000-10| = 990 > 3×1 flags it. Group b: clean, 0 flags.
    val a = Seq(9.0, 9.0, 9.0, 10.0, 10.0, 10.0, 11.0, 11.0, 11.0, 1000.0).map(("a", _))
    val b = Seq(5.0, 5.0, 6.0, 7.0, 7.0).map(("b", _))
    val got = QuantileOps.madOutlierStats((a ++ b).toDF("g", "v"), Seq("g"), "v", k = 3)
      .orderBy("g")
      .select("g", "n", "n_anomalies", "med", "mad")
      .as[(String, Long, Long, Double, Double)].collect()
    got(0) shouldBe (("a", 10L, 1L, 10.0, 1.0))
    got(1) shouldBe (("b", 5L, 0L, 6.0, 1.0))
    // the masking claim, computed: classic z of the outlier is < 3
    val av = a.map(_._2)
    val mean = av.sum / av.size
    val sd = math.sqrt(av.map(x => (x - mean) * (x - mean)).sum / av.size)
    ((1000.0 - mean) / sd) should be < 3.0
  }

  test("psiDrift: NULL slice predicate counts the row in the CURRENT slice (ADVICE r12)") {
    // 3 ref rows, 2 current, 1 with a NULL predicate — the NULL row
    // must land in cur_n (the oracle's CASE WHEN semantics), not
    // vanish from both slices
    val df = Seq((1.0, Some(true)), (2.0, Some(true)), (3.0, Some(true)),
        (1.5, Some(false)), (2.5, Some(false)), (3.5, None))
      .toDF("v", "is_ref")
    val got = QuantileOps.psiDrift(df, "v", col("is_ref"), nb = 2)
      .orderBy("bucket").select("bucket", "ref_n", "cur_n")
      .as[(Long, Long, Long)].collect()
    got.map(_._2).sum shouldBe 3L
    got.map(_._3).sum shouldBe 3L // 2 false + 1 NULL
    got(1)._3 shouldBe 2L // 2.5 and the NULL-predicate 3.5 share bucket 1
  }

  test("equiWidthHistogram: empty input yields nb zero rows, frac_ppm 0, no error (ADVICE r12)") {
    val empty = Seq.empty[Double].toDF("v")
    val got = QuantileOps.equiWidthHistogram(empty, "v", nb = 4)
      .orderBy("bucket").select("bucket", "cnt", "frac_ppm")
      .as[(Long, Long, Long)].collect()
    got.map(_._1).toSeq shouldBe Seq(0L, 1L, 2L, 3L)
    got.foreach { case (_, c, f) => c shouldBe 0L; f shouldBe 0L }
  }

  test("ksTest: hand-computed D and argmax on a location-shifted pair") {
    // ref = {1..8}, cur = {5..12}: at v=4 F_ref=4/8, F_cur=0 → D=0.5,
    // and the smallest value attaining it is 4
    val df = ((1 to 8).map(v => (v.toDouble, true)) ++
      (5 to 12).map(v => (v.toDouble, false))).toDF("v", "is_ref")
    val r = QuantileOps.ksTest(df, "v", col("is_ref")).head()
    r.getAs[Long]("n_ref") shouldBe 8L
    r.getAs[Long]("n_cur") shouldBe 8L
    r.getAs[Long]("d_ppm") shouldBe 500000L
    r.getAs[Double]("ks_at") shouldBe 4.0
    // asymptotic p = 2·exp(-2·0.25·64/16) = 2·exp(-2)
    r.getAs[Double]("p_value") shouldBe (2 * math.exp(-2.0)) +- 1e-6
  }

  test("ksTest: identical slices give D = 0") {
    val df = (1 to 50).flatMap(v =>
      Seq((v.toDouble, true), (v.toDouble, false))).toDF("v", "is_ref")
    QuantileOps.ksTest(df, "v", col("is_ref"))
      .head().getAs[Long]("d_ppm") shouldBe 0L
  }

  test("mannWhitney: hand-ranked midrank fixture with ties") {
    // ref {1,2,2}, cur {2,3}: ranks 1 | 3,3,3 (midrank) | 5
    // R_ref = 1+3+3 = 7 → u2 = 14 − 3·4 = 2 (U = 1, checked pairwise)
    // tie_term = 0 + (27−3) + 0 = 24
    // var = 6/12·(6 − 24/20) = 2.4; z = (2−6)/(2√2.4) = −1.2910
    val df = Seq((1.0, true), (2.0, true), (2.0, true), (2.0, false),
      (3.0, false)).toDF("v", "is_ref")
    val r = withDefaultParallelism(spark.sparkContext, 2) {
      QuantileOps.mannWhitney(df, "v", col("is_ref")).head()
    }
    r.getAs[Long]("n_ref") shouldBe 3L
    r.getAs[Long]("n_cur") shouldBe 2L
    r.getAs[Long]("u2_ref") shouldBe 2L
    r.getAs[Long]("tie_term") shouldBe 24L
    r.getAs[Double]("auc") shouldBe (2.0 / 12) +- 1e-6
    r.getAs[Double]("z") shouldBe -1.2910 +- 1e-4
  }

  test("mannWhitney: identical slices give U at its null mean (z 0, auc 0.5)") {
    val df = (1 to 40).flatMap(v =>
      Seq((v.toDouble, true), (v.toDouble, false))).toDF("v", "is_ref")
    val r = QuantileOps.mannWhitney(df, "v", col("is_ref")).head()
    r.getAs[Double]("auc") shouldBe 0.5 +- 1e-9
    r.getAs[Double]("z") shouldBe 0.0 +- 1e-9
  }

  test("ksTestByGroup: a single group reproduces ksTest exactly") {
    val df = (Seq.tabulate(8)(v => ((v + 1).toDouble, true)) ++
      (5 to 12).map(v => (v.toDouble, false)))
      .map { case (v, r) => ("g", v, r) }.toDF("grp", "v", "is_ref")
    val per = QuantileOps.ksTestByGroup(df, col("grp"), "v", col("is_ref")).head()
    val ref = QuantileOps.ksTest(df, "v", col("is_ref")).head()
    per.getAs[Long]("d_ppm") shouldBe ref.getAs[Long]("d_ppm")
    per.getAs[Double]("ks_at") shouldBe ref.getAs[Double]("ks_at")
    per.getAs[Double]("p_value") shouldBe ref.getAs[Double]("p_value")
  }

  test("medianCi: order-statistic bounds and interpolated median on 1..9") {
    // n=9: median rank 5 → 5.0; z√9 = 5.88 → rlo floor(1.56)=1,
    // rhi ceil(8.44)=9 — the CI spans the whole small sample
    val df = (1 to 9).map(_.toDouble).toDF("v")
    val r = withDefaultParallelism(spark.sparkContext, 2) {
      QuantileOps.medianCi(df, "v").head()
    }
    r.getAs[Long]("n") shouldBe 9L
    r.getAs[Double]("median") shouldBe 5.0
    r.getAs[Double]("ci_lo") shouldBe 1.0
    r.getAs[Double]("ci_hi") shouldBe 9.0
  }

  test("medianCi: even n interpolates; larger n tightens the interval") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val r = QuantileOps.medianCi(df, "v").head()
    r.getAs[Double]("median") shouldBe 50.5
    // rlo = floor((100-19.6)/2) = 40; rhi = ceil(1+(100+19.6)/2) = 61
    r.getAs[Double]("ci_lo") shouldBe 40.0
    r.getAs[Double]("ci_hi") shouldBe 61.0
  }

  test("quantileTreatmentEffect: a constant shift shows at every quantile") {
    val df = ((1 to 9).map(v => (0, v.toDouble)) ++
      (1 to 9).map(v => (1, v.toDouble + 10))).toDF("arm", "x")
    val got = withDefaultParallelism(spark.sparkContext, 2) {
      QuantileOps.quantileTreatmentEffect(df, col("arm"), "x", Seq(0.25, 0.5, 0.75))
        .select("q", "diff").as[(Double, Double)].collect().toMap
    }
    got(0.25) shouldBe 10.0
    got(0.5) shouldBe 10.0
    got(0.75) shouldBe 10.0
  }

  test("chi2Drift replays the textbook 2xk statistic") {
    // cat a: 30 ref / 10 cur; cat b: 10 ref / 30 cur — a clean flip
    val df = (Seq.fill(30)(("a", true)) ++ Seq.fill(10)(("a", false)) ++
      Seq.fill(10)(("b", true)) ++ Seq.fill(30)(("b", false))).toDF("cat", "is_ref")
    val r = QuantileOps.chi2Drift(df, col("cat"), col("is_ref")).head()
    r.getAs[Long]("n_ref") shouldBe 40L
    r.getAs[Long]("n_cur") shouldBe 40L
    r.getAs[Long]("dof") shouldBe 1L
    // expected 20 per cell → chi2 = 4 * (10²/20) = 20
    r.getAs[Double]("chi2") shouldBe 20.0 +- 1e-6
    r.getAs[Double]("cramers_v") shouldBe math.sqrt(20.0 / 80) +- 1e-6
  }
}
