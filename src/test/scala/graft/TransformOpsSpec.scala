package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import org.apache.spark.sql.functions._

import graft.dfw.{SliceOps, TransformOps}

/** T1–T7 + P1/P2 semantics on hand-computed fixtures. */
class TransformOpsSpec extends SparkSpec {
  import spark.implicits._

  test("T1 extendBias appends exactly one trailing 1.0") {
    val got = Seq(Seq(2.0, 3.0)).toDF("f")
      .select(TransformOps.extendBias(col("f")).as("fe"))
      .head().getSeq[Double](0)
    got shouldBe Seq(2.0, 3.0, 1.0)
  }

  test("T2 centerByTrainMean uses ONLY train rows for the mean (leak-free)") {
    val df = Seq(
      ("a", "train", 1.0), ("a", "train", 3.0), ("a", "test", 100.0),
      ("b", "train", 10.0), ("b", "test", 0.0)).toDF("cls", "role", "x")
    val got = TransformOps.centerByTrainMean(df, Seq("cls"), "role", Seq("x"))
      .select("cls", "role", "x", "x_centered").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    // class a train mean = 2.0 (the 100.0 test row must not contribute)
    got(("a", "train", 1.0)) shouldBe 1.0 - 2.0
    got(("a", "test", 100.0)) shouldBe 100.0 - 2.0
    got(("b", "test", 0.0)) shouldBe 0.0 - 10.0
  }

  test("T2 array form: per-feature mean subtracted element-wise") {
    val df = Seq(
      ("a", "train", Seq(1.0, 10.0)), ("a", "train", Seq(3.0, 30.0)),
      ("a", "test", Seq(5.0, 50.0)), ("b", "train", Seq(2.0, 4.0)))
      .toDF("cls", "role", "f")
    val got = TransformOps.centerFeatureArray(df, Seq("cls"), "role", "f")
      .select("cls", "role", "f", "f_centered").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Double](2)) -> r.getSeq[Double](3))
    // class a train mean = (2, 20): the (5, 50) test row must not
    // contribute; class b's one train row is its own mean
    got.toSet shouldBe Set(
      ("a", "train", Seq(1.0, 10.0)) -> Seq(1.0 - 2.0, 10.0 - 20.0),
      ("a", "train", Seq(3.0, 30.0)) -> Seq(3.0 - 2.0, 30.0 - 20.0),
      ("a", "test", Seq(5.0, 50.0)) -> Seq(5.0 - 2.0, 50.0 - 20.0),
      ("b", "train", Seq(2.0, 4.0)) -> Seq(0.0, 0.0))
  }

  test("T2 array form: a ragged train row fails, naming both lengths") {
    // the shorter row would otherwise truncate the group's sums yet
    // still count toward n, giving a silently wrong mean
    val df = Seq(
      ("a", "train", Seq(1.0, 10.0)), ("a", "train", Seq(3.0)),
      ("a", "test", Seq(5.0, 50.0))).toDF("cls", "role", "f")
      .coalesce(1)
    val e = intercept[Exception] {
      TransformOps.centerFeatureArray(df, Seq("cls"), "role", "f").collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    msgs should include("a row of length 1 in a group of length 2")
  }

  test("T3 per-fold centering groups by (keys, fold)") {
    val df = Seq(
      ("a", 0, "train", 2.0), ("a", 0, "train", 4.0), ("a", 0, "test", 9.0),
      ("a", 1, "train", 100.0), ("a", 1, "test", 100.0)).toDF("cls", "fold", "cv_role", "x")
    val got = TransformOps.centerByFoldTrainMean(df, Seq("cls"), "fold", "cv_role", Seq("x"))
      .filter(col("cv_role") === "test")
      .select("fold", "x_centered").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    got shouldBe Map(0 -> (9.0 - 3.0), 1 -> 0.0)
  }

  test("T6 unionAll aligns by column name") {
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq(("y", 2)).toDF("v", "id") // reversed column order
    val got = TransformOps.unionAll(Seq(a, b)).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    got shouldBe Array((1, "x"), (2, "y"))
  }

  test("T5 classCount counts distinct labels") {
    val df = Seq(("a", 1), ("a", 2), ("a", 2), ("b", 9)).toDF("db", "cls")
    val got = TransformOps.classCount(df, Seq("db"), "cls")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe Map("a" -> 2L, "b" -> 1L)
  }

  test("T7 stringJoinAgg is deterministic (sorted) regardless of input order") {
    val got = Seq(("g", "b"), ("g", "c"), ("g", "a")).toDF("k", "s")
      .groupBy("k").agg(TransformOps.stringJoinAgg(col("s"), ",").as("j"))
      .head().getString(1)
    got shouldBe "a,b,c"
  }

  test("sampleStratified is deterministic and tracks per-class fractions") {
    val df = (1 to 2000).map(i => (if (i % 2 == 0) "a" else "b", i.toLong)).toDF("cls", "id")
    val s1 = TransformOps.sampleStratified(df, "cls", "id", Map("a" -> 0.3, "b" -> 0.8))
    val s2 = TransformOps.sampleStratified(df, "cls", "id", Map("a" -> 0.3, "b" -> 0.8))
    // deterministic: identical row sets across runs
    s1.exceptAll(s2).count() shouldBe 0
    s2.exceptAll(s1).count() shouldBe 0
    val counts = s1.groupBy("cls").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    counts("a").toDouble / 1000 shouldBe 0.3 +- 0.06
    counts("b").toDouble / 1000 shouldBe 0.8 +- 0.06
    // unlisted classes fall back to the default fraction (drop)
    TransformOps.sampleStratified(df, "cls", "id", Map("a" -> 0.3))
      .filter(col("cls") === "b").count() shouldBe 0
  }

  test("T5 at scale: approx_count_distinct stays within 5% of exact on testdata") {
    val li = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val row = li.agg(
      countDistinct(col("l_orderkey")).as("exact"),
      approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx")).head()
    val (exact, approx) = (row.getLong(0).toDouble, row.getLong(1).toDouble)
    math.abs(approx - exact) / exact should be < 0.03
  }

  test("approx_percentile honors the GK rank-error guarantee vs exact percentile") {
    // pins q_percentiles_approx (rows-only in the driver gate): the
    // returned element's rank must be within ε·N of the target rank,
    // per class, for both percentiles the query computes
    val accuracy = 10000 // ε = 1/accuracy
    val li = graft.sources.Tables.load(spark, "/root/testdata/sf0.01", "lineitem")
    val approx = li.groupBy("l_returnflag").agg(
        expr(s"approx_percentile(l_quantity, 0.5, $accuracy)").as("aq"),
        expr(s"approx_percentile(l_extendedprice, 0.9, $accuracy)").as("ap"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    approx should not be empty
    for ((cls, (aq, ap)) <- approx; (colName, v, p) <- Seq(("l_quantity", aq, 0.5), ("l_extendedprice", ap, 0.9))) {
      val grp = li.filter(col("l_returnflag") === cls)
      val n = grp.count().toDouble
      val below = grp.filter(col(colName) < v).count().toDouble
      val atOrBelow = grp.filter(col(colName) <= v).count().toDouble
      val eps = 1.0 / accuracy + 1.0 / n // GK bound + discreteness slack
      withClue(s"$cls/$colName value=$v rank in [${below + 1}, $atOrBelow] of $n: ") {
        atOrBelow / n should be >= (p - eps)
        below / n should be <= (p + eps)
      }
    }
  }

  test("sampleWeighted is deterministic, keeps everything at weight=max/scale=1, drops weight 0") {
    val df = (1L to 200L).map(i => (i, if (i % 7 == 0) 0L else 100L)).toDF("id", "w")
    val s1 = TransformOps.sampleWeighted(df, "id", "w", scale = 1.0)
    val s2 = TransformOps.sampleWeighted(df, "id", "w", scale = 1.0)
    // deterministic: identical sample on every run
    s1.exceptAll(s2).count() shouldBe 0L
    s2.exceptAll(s1).count() shouldBe 0L
    // weight == max and scale 1 => acceptance 1 => all kept
    s1.count() shouldBe df.filter(col("w") > 0).count()
    // weight 0 => acceptance 0 => never kept
    s1.filter(col("w") === 0).count() shouldBe 0L
  }

  test("approx_count_distinct stays within the declared relative error of exact") {
    val dir = "/root/testdata/sf0.001"
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val exact = li.groupBy("l_linestatus").agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = li.groupBy("l_linestatus").agg(approx_count_distinct("l_partkey", 0.02).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.keySet shouldBe exact.keySet
    for ((k, a) <- approx) {
      val e = exact(k).toDouble
      withClue(s"$k: approx=$a exact=$e: ") {
        math.abs(a - e) / e should be <= 0.06 // 3x the 2% rsd
      }
    }
  }

  test("sampleWeighted acceptance scales with weight") {
    val df = (1L to 2000L).map(i => (i, if (i <= 1000) 25L else 100L)).toDF("id", "w")
    val kept = TransformOps.sampleWeighted(df, "id", "w", scale = 1.0)
    val light = kept.filter(col("w") === 25).count().toDouble / 1000
    val heavy = kept.filter(col("w") === 100).count().toDouble / 1000
    // acceptance ~ w/max: 0.25 vs 1.0 (hash uniformity gives slack on the light side)
    heavy shouldBe 1.0
    light shouldBe 0.25 +- 0.08
  }

  test("sampleToMixture clamps over-budgeted groups at 1 and honors per-group shares") {
    // two domains, 1000 docs of weight 10 each (group weight 10000)
    val df = (1L to 2000L).map(i => (i, if (i <= 1000) "a" else "b", 10L))
      .toDF("id", "dom", "w")
    // budget 20000: a -> 0.5*20000/10000 = 1.0 (keep all), b -> 0.1*20000/10000 = 0.2
    val kept = TransformOps.sampleToMixture(df, "dom", "w", "id", budget = 20000L,
      fractions = Map("a" -> 0.5, "b" -> 0.1))
    kept.filter(col("dom") === "a").count() shouldBe 1000L
    val bFrac = kept.filter(col("dom") === "b").count().toDouble / 1000
    bFrac shouldBe 0.2 +- 0.06
    // unlisted group under default 0.0 vanishes entirely
    val df3 = df.union(Seq((9999L, "c", 10L)).toDF("id", "dom", "w"))
    TransformOps.sampleToMixture(df3, "dom", "w", "id", 20000L, Map("a" -> 0.5))
      .filter(col("dom") === "c").count() shouldBe 0L
  }

  test("sampleToMixture is deterministic across partitionings") {
    val df = (1L to 500L).map(i => (i, s"d${i % 3}", i % 7 + 1)).toDF("id", "dom", "w")
    def run(d: org.apache.spark.sql.DataFrame) =
      TransformOps.sampleToMixture(d, "dom", "w", "id", 300L, Map("d0" -> 0.4), default = 0.2)
        .collect().map(_.getAs[Long]("id")).toSet
    run(df.repartition(11)) shouldBe run(df.coalesce(1))
  }

  test("mixtureWeightsTemperature: alpha=1 mirrors the corpus, alpha=0 equalizes, 0.5 boosts the tail") {
    val df = (Seq.fill(90)("en") ++ Seq.fill(9)("de") ++ Seq.fill(1)("mi")).toDF("lang")
    def shares(a: Double) = TransformOps.mixtureWeightsTemperature(df, "lang", a)
      .orderBy("lang").collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val a1 = shares(1.0)
    a1("en")._2 shouldBe a1("en")._1 // temp share == raw share at alpha=1
    a1("mi")._3 shouldBe 1.0
    val a0 = shares(0.0)
    a0("en")._2 shouldBe (1.0 / 3 +- 1e-6) // every group equal at alpha=0
    a0("mi")._2 shouldBe (1.0 / 3 +- 1e-6)
    val ah = shares(0.5)
    // sqrt scaling: 90→9.4868, 9→3, 1→1, Σ=13.4868
    ah("mi")._2 shouldBe (1.0 / 13.486833 +- 1e-5)
    ah("mi")._3 should be > 7.0  // tail boosted
    ah("en")._3 should be < 1.0  // head damped
  }

  test("epochSchedule: alpha=1 gives every source the same epoch multiplier; alpha=0 equalizes token draw") {
    // en 900, de 90, mi 10 tokens → total 1000
    val df = (Seq.fill(90)(("en", 10)) ++ Seq.fill(9)(("de", 10)) ++ Seq(("mi", 10)))
      .toDF("lang", "n")
    def run(a: Double, b: Long) = TransformOps.epochSchedule(df, "lang", col("n"), a, b)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val a1 = run(1.0, 2000L)
    a1("en")._1 shouldBe 900L
    a1("en")._3 shouldBe (2.0 +- 1e-6) // epochs = budget/total for EVERY source at alpha=1
    a1("mi")._3 shouldBe (2.0 +- 1e-6)
    val a0 = run(0.0, 3000L)
    // p = 1/3 each: epochs = budget / (3 * n_i)
    a0("en")._3 shouldBe (3000.0 / 3 / 900 +- 1e-6)
    a0("mi")._3 shouldBe (100.0 +- 1e-6)
    // temperature in between: tail repeats more than the head
    val ah = run(0.5, 2000L)
    ah("mi")._3 should be > ah("en")._3
  }

  test("materializeEpochs: whole epochs copy exactly, partial epochs hash-sample, zero drops") {
    val df = (1L to 100L).map(i => (s"src${i % 2}", i)).toDF("grp", "id")
    def run(e: Double) = TransformOps.materializeEpochs(df, "id", "grp",
        Seq(("src0", e), ("src1", e)).toDF("grp", "epochs"),
        hash = graft.llm.DedupOps.md5TokenHash)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    run(2.0).length shouldBe 200 // exactly two copies each
    run(0.0) shouldBe empty // zero epochs: nothing survives
    val half = run(2.5)
    half.length should be >= 200
    half.length should be < 300
    // every id's epoch numbers are a 0-based prefix (full copies first)
    half.groupBy(_._1).values.foreach { rows =>
      rows.map(_._2).sorted.toSeq shouldBe (0L until rows.length.toLong)
    }
    // deterministic under repartitioning
    val again = TransformOps.materializeEpochs(df.repartition(7), "id", "grp",
        Seq(("src0", 2.5), ("src1", 2.5)).toDF("grp", "epochs"),
        hash = graft.llm.DedupOps.md5TokenHash)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    again.sorted.toSeq shouldBe half.sorted.toSeq
  }

  test("targetEncodeLoo excludes the row's own label; singletons encode null") {
    val df = Seq(("a", 10), ("a", 20), ("a", 30), ("b", 5)).toDF("cat", "y")
    val got = TransformOps.targetEncodeLoo(df, "cat", "y")
      .collect()
      .map(r => (r.getString(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    got shouldBe Set(
      ("a", 10, Some(25.0)), // (60-10)/2 — own label excluded
      ("a", 20, Some(20.0)),
      ("a", 30, Some(15.0)),
      ("b", 5, None)) // singleton: no other rows to average
  }

  test("saltedJoin equals the plain inner join on a skewed key") {
    // 900 of 1000 rows under ONE key — the shape salting exists for
    val fact = (1L to 1000L).map(i => (if (i <= 900) "hot" else s"k${i % 7}", i))
      .toDF("k", "id")
    val dim = Seq(("hot", 1L), ("k1", 2L), ("k2", 3L), ("k3", 4L), ("absent", 9L))
      .toDF("k", "v")
    val got = TransformOps.saltedJoin(fact, dim, Seq("k"), salt = 8,
      saltFrom = Seq(col("id")))
    val want = fact.join(dim, Seq("k"), "inner")
    got.count() shouldBe want.count()
    got.exceptAll(want).count() shouldBe 0
    want.exceptAll(got).count() shouldBe 0
  }

  test("saltedJoin spreads a hot key across salt buckets") {
    val fact = (1L to 1000L).map(i => ("hot", i)).toDF("k", "id")
    val dim = Seq(("hot", 1L)).toDF("k", "v")
    // count distinct salt buckets actually used by the hot key
    val l = fact.withColumn("__salt", pmod(xxhash64(col("id")), lit(8)))
    l.select(countDistinct(col("__salt"))).head().getLong(0) shouldBe 8L
    // and the public API result stays correct
    TransformOps.saltedJoin(fact, dim, Seq("k"), 8, Seq(col("id"))).count() shouldBe 1000L
  }

  test("standardizeByGroup: hand-computed z-scores; partitioning-invariant") {
    // group g: values 1,2,3 → μ=2, σ²=((1+4+9) - 36/3)/2 = 1, σ=1
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("h", 10L), ("h", 20L))
      .toDF("cls", "v")
    val got = TransformOps.standardizeByGroup(df, Seq("cls"), Seq("v"))
      .orderBy("cls", "v").collect().map(_.getAs[Double]("v_z")).toSeq
    got.take(3) shouldBe Seq(-1.0, 0.0, 1.0)
    // h: μ=15, σ² = (500 - 900/2)/1 = 50 → z = ±5/sqrt(50)
    got(3) shouldBe (-5.0 / math.sqrt(50.0) +- 1e-6)
    val reparted = TransformOps.standardizeByGroup(
        df.repartition(7, col("v")), Seq("cls"), Seq("v"))
      .orderBy("cls", "v").collect().map(_.getAs[Double]("v_z")).toSeq
    reparted shouldBe got
  }

  test("standardizeByGroup: singleton group z-scores to 0.0, never NaN/Inf (ADVICE r12)") {
    val df = Seq(("g", 1L), ("g", 3L), ("solo", 42L)).toDF("cls", "v")
    val got = TransformOps.standardizeByGroup(df, Seq("cls"), Seq("v"))
      .orderBy("cls", "v").collect().map(r => (r.getString(0), r.getAs[Double]("v_z")))
    got.foreach { case (_, z) => z.isNaN shouldBe false; z.isInfinite shouldBe false }
    got(2) shouldBe ("solo", 0.0) // mirrors robustScaleByGroup's IQR-0 rule
  }

  test("robustScaleByGroup: hand-computed median/IQR scaling; constant feature scales to 0") {
    // g: 1,2,3,4,5 → med=3, q1=2, q3=4, iqr=2 → scaled = (x-3)/2
    val df = Seq(("g", 1L), ("g", 2L), ("g", 3L), ("g", 4L), ("g", 5L),
      ("h", 7L), ("h", 7L)).toDF("cls", "v")
    val got = TransformOps.robustScaleByGroup(df, Seq("cls"), Seq("v"))
      .orderBy("cls", "v").collect().map(_.getAs[Double]("v_r")).toSeq
    got.take(5) shouldBe Seq(-1.0, -0.5, 0.0, 0.5, 1.0)
    got.drop(5) shouldBe Seq(0.0, 0.0) // IQR 0 → 0, not NaN
  }

  test("robustScaleByGroup shrugs off an outlier that wrecks the z-score") {
    val vals = Seq.fill(9)(10L) :+ 1000000L
    val df = (vals.zipWithIndex.map { case (v, i) => ("g", v + (i % 3)) }).toDF("cls", "v")
    val r = TransformOps.robustScaleByGroup(df, Seq("cls"), Seq("v"))
      .filter(col("v") < 100).select("v_r").collect().map(_.getDouble(0))
    all(r.map(math.abs)) should be <= 2.0 // inliers stay near 0 despite the 1e6 outlier
  }

  test("P1 classRange is 1-based inclusive; -1 means all") {
    val df = (0 to 9).map(i => Tuple1(i)).toDF("cls")
    SliceOps.classRange(df, "cls", (3, 7)).as[Int].collect().sorted shouldBe Array(2, 3, 4, 5, 6)
    SliceOps.classRange(df, "cls", (-1, 0)).count() shouldBe 10
  }

  test("P2 dropLabelEntry drops the trailing entry only when labeled") {
    val df = Seq(Seq(1.0, 2.0, 9.0)).toDF("f")
    df.select(SliceOps.dropLabelEntry(col("f"), labeled = true)).head().getSeq[Double](0) shouldBe Seq(1.0, 2.0)
    df.select(SliceOps.dropLabelEntry(col("f"), labeled = false)).head().getSeq[Double](0) shouldBe Seq(1.0, 2.0, 9.0)
  }

  test("winsorizeStats: rank-based bounds are data values and clips count exactly") {
    // 1..100 in one group, p=0.05 → rlo=ceil(5)=5, rhi=96: bounds 5 and 96;
    // 4 rows clip low (1..4), 4 clip high (97..100)
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("cls", "v")
      .repartition(5)
    val r = TransformOps.winsorizeStats(df, Seq("cls"), "v", p = 0.05).head()
    r.getAs[Long]("n") shouldBe 100L
    r.getAs[Double]("lo_bound") shouldBe 5.0
    r.getAs[Double]("hi_bound") shouldBe 96.0
    r.getAs[Long]("n_clipped_lo") shouldBe 4L
    r.getAs[Long]("n_clipped_hi") shouldBe 4L
    r.getAs[Double]("mean_raw") shouldBe 50.5
    // winsorized mean: (4*5 + sum(5..96) + 4*96) / 100
    val wmean = (4 * 5.0 + (5 to 96).sum + 4 * 96.0) / 100
    r.getAs[Double]("mean_wins") shouldBe wmean +- 1e-9
  }

  test("winsorizeStats: singleton group clips nothing (bounds = the value)") {
    val df = Seq(("g", 42.0), ("h", 1.0), ("h", 2.0), ("h", 3.0)).toDF("cls", "v")
    val got = withDefaultParallelism(spark.sparkContext, 2) {
      TransformOps.winsorizeStats(df, Seq("cls"), "v", p = 0.1)
        .collect().map(r => r.getString(0) ->
          ((r.getAs[Double]("lo_bound"), r.getAs[Double]("hi_bound"),
            r.getAs[Long]("n_clipped_lo") + r.getAs[Long]("n_clipped_hi")))).toMap
    }
    got("g") shouldBe ((42.0, 42.0, 0L))
    got("h") shouldBe ((1.0, 3.0, 0L)) // rlo=1, rhi=3: extremes are the bounds
  }

  test("quotaSample keeps exactly quota rows per group, deterministically") {
    val df = (1 to 200).map(i => (s"s${i % 3}", i.toLong)).toDF("src", "id")
    val a = TransformOps.quotaSample(df, "src", "id", quota = 10)
    val counts = a.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.values.toSet shouldBe Set(10L)
    a.agg(max(col("pick"))).head().getLong(0) shouldBe 10L
    // re-run on shuffled input selects the same rows
    val b = TransformOps.quotaSample(df.orderBy(col("id").desc), "src", "id", quota = 10)
    a.select("src", "id").exceptAll(b.select("src", "id")).count() shouldBe 0L
  }

  test("curriculumPhases: equal-token phases in difficulty order, every doc placed once") {
    // 12 docs, difficulty = id, tokens = 10 each → 120 tokens, 4 phases
    // of 30 → 3 docs per phase in id order
    val df = (1 to 12).map(i => (i.toLong, i.toDouble, 10L))
      .toDF("id", "diff", "tok").repartition(3)
    val got = TransformOps.curriculumPhases(df, "id", col("diff"), col("tok"),
        nPhases = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getAs[Double]("min_difficulty"),
          r.getAs[Double]("max_difficulty")))).toMap
    got.keySet shouldBe Set(0L, 1L, 2L, 3L)
    got(0L) shouldBe ((3L, 30L, 1.0, 3.0))
    got(3L) shouldBe ((3L, 30L, 10.0, 12.0))
    got.values.map(_._1).sum shouldBe 12L
  }

  test("curriculumPhases: uneven token lengths never split a doc across phases") {
    val df = Seq((1L, 1.0, 50L), (2L, 2.0, 50L), (3L, 3.0, 5L), (4L, 4.0, 95L))
      .toDF("id", "diff", "tok")
    val got = withDefaultParallelism(spark.sparkContext, 2) {
      TransformOps.curriculumPhases(df, "id", col("diff"), col("tok"), nPhases = 2).collect()
    }
    got.map(_.getAs[Long]("n_docs")).sum shouldBe 4L
    got.map(_.getAs[Long]("tokens")).sum shouldBe 200L
    // budget 100: docs 1,2 fill phase 0 exactly; 3,4 land in phase 1
    got.find(_.getLong(0) == 0L).get.getAs[Long]("tokens") shouldBe 100L
  }

  test("mutualInfoRanking: a label-determined feature outranks an independent one") {
    // f1 = label exactly (MI = H(label) = ln 2); f2 constant (MI = 0);
    // f3 independent-ish alternation
    val rows = (0 until 64).map { i =>
      val y = i % 2
      (y.toString, y.toDouble * 10, 7.0, (i % 4 < 2).compareTo(false).toDouble)
    }
    val df = rows.toDF("y", "f1", "f2", "f3")
    val got = TransformOps.mutualInfoRanking(df, "y", Seq("f1", "f2", "f3"), nb = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(4), r.getAs[Double]("mi")))).toMap
    got("f1")._1 shouldBe 1L
    got("f1")._2 shouldBe math.log(2.0) +- 1e-6
    got("f2")._2 shouldBe 0.0 +- 1e-9 // constant → single bin → MI 0
    got("f3")._2 should be < 0.01     // near-independent
  }

  test("featureHashAudit: exact collision accounting, features hash independently") {
    // 40 distinct ids into 8 buckets must collide (pigeonhole: ≥ 32
    // collisions); a 2-value feature into 8 buckets collides iff the
    // two hashes agree mod 8 — check exact bookkeeping instead
    val df = (1 to 40).map(i => (i.toString, if (i % 2 == 0) "x" else "y"))
      .toDF("id", "flag")
    val got = TransformOps.featureHashAudit(df, Seq("id", "flag"), nBuckets = 8,
        hash = c => graft.llm.DedupOps.md5TokenHash(c))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (nv, used, coll, maxLoad) = got("id")
    nv shouldBe 40L
    used should be <= 8L
    coll shouldBe nv - used
    maxLoad should be >= (40L + 7) / 8 // pigeonhole lower bound on the worst slot
    got("flag")._1 shouldBe 2L
    got("flag")._3 shouldBe (2L - got("flag")._2) // collisions = values − slots
  }

  test("quotaSample plans a WindowGroupLimit (map-side top-k before the shuffle)") {
    val df = (1 to 50).map(i => (s"s${i % 2}", i.toLong)).toDF("src", "id")
    val plan = TransformOps.quotaSample(df, "src", "id", quota = 5)
      .queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
  }

  test("sampleWeightedTopK: exactly k rows, deterministic across partitionings, weight>0 only") {
    val df = (1 to 200).map(i =>
      (i.toLong, if (i % 7 == 0) 0L else (i % 10 + 1).toLong)).toDF("id", "w")
    val a = TransformOps.sampleWeightedTopK(df, "id", "w", k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    a.length shouldBe 20
    val b = TransformOps.sampleWeightedTopK(df.repartition(13, col("w")), "id", "w", k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    b shouldBe a // same set, same order, any partitioning
    // zero-weight ids can never be drawn
    a.map(_._1).exists(_ % 7 == 0) shouldBe false
    // k >= surviving rows returns them all
    TransformOps.sampleWeightedTopK(df, "id", "w", k = 1000)
      .count() shouldBe df.filter(col("w") > 0).count()
  }

  test("sampleWeightedTopK: heavier rows are overrepresented in the draw") {
    // two weight classes, 1 vs 50, equal population — the 50s should
    // dominate any reasonably-sized sample
    val df = (1 to 400).map(i =>
      (i.toLong, if (i % 2 == 0) 50L else 1L)).toDF("id", "w")
    val heavy = TransformOps.sampleWeightedTopK(df, "id", "w", k = 40)
      .collect().count(_.getLong(1) == 50L)
    heavy should be >= 30 // E[heavy] ≈ 40·(50/51); even loose, >> half
  }

  test("woeEncode: hand-computed WoE/IV with the +0.5 Laplace adjustment") {
    // cat a: 8 good / 2 bad; cat b: 2 good / 8 bad. k=2, G=10, B=10.
    // gsh_a = 8.5/11, bsh_a = 2.5/11 → woe_a = ln(3.4); symmetric for b.
    val df = ((1 to 8).map(_ => ("a", false)) ++ (1 to 2).map(_ => ("a", true)) ++
      (1 to 2).map(_ => ("b", false)) ++ (1 to 8).map(_ => ("b", true)))
      .toDF("cat", "bad")
    val got = TransformOps.woeEncode(df, col("cat"), col("bad"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))).toMap
    val woeA = math.log(8.5 / 2.5)
    val ivA = math.round((8.5 / 11 - 2.5 / 11) * woeA * 1e6)
    got("a")._1 shouldBe 10L
    got("a")._2 shouldBe 2L
    got("a")._3 shouldBe math.rint(woeA * 1e6) / 1e6 +- 1e-6
    got("a")._4 shouldBe ivA
    got("b")._3 shouldBe -got("a")._3 // symmetric flip
    got("a")._5 shouldBe got("a")._4 + got("b")._4 // total repeated per row
  }

  test("woeEncode: a zero-bad category stays finite via the adjustment") {
    val df = (Seq.fill(5)(("a", false)) ++ Seq.fill(5)(("b", true))).toDF("cat", "bad")
    val woes = TransformOps.woeEncode(df, col("cat"), col("bad"))
      .collect().map(_.getDouble(3))
    all(woes.map(math.abs)) should be < 10.0 // finite, no ±Infinity
  }
}
