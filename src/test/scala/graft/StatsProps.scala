package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._

import graft.dfw.{AuditOps, PathOps, QuantileOps, TransformOps}

/** ScalaCheck laws for the round-13 statistics/journey operators —
  * properties a fixture can't pin:
  *  - Mann–Whitney is a RANK test: any strictly monotone transform of
  *    the values must leave every statistic bit-identical.
  *  - BH step-up adjustments are monotone in rank and ≥ the raw p.
  *  - Markov removal effects and attribution shares live in [0, 1e6]
  *    and the shares sum to ≤ 1e6 (floor division only loses ppm).
  *  - The median-CI brackets its own median.
  *  - WoE's IV contributions sum to exactly the emitted total.
  */
object StatsProps extends Properties("graft.stats.laws") {

  // each case runs several Spark plans; keep the count bounded
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withMaxSize(30)

  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val grid = Seq(-3.0, -1.0, 0.0, 0.5, 1.0, 2.5, 4.0)

  private val genSlices: Gen[List[(Double, Boolean)]] = for {
    nRef <- Gen.choose(2, 30)
    nCur <- Gen.choose(2, 30)
    ref  <- Gen.listOfN(nRef, Gen.oneOf(grid))
    cur  <- Gen.listOfN(nCur, Gen.oneOf(grid))
  } yield ref.map((_, true)) ++ cur.map((_, false))

  property("mannWhitney invariant under strictly monotone transforms") =
    Prop.forAll(genSlices) { rows =>
      val df = rows.toDF("v", "is_ref")
      def stats(d: org.apache.spark.sql.DataFrame) = {
        val r = withDefaultParallelism(spark.sparkContext, 3) {
          QuantileOps.mannWhitney(d, "v", col("is_ref")).head()
        }
        (r.getLong(2), r.getLong(3), r.getAs[Double]("auc"), r.getAs[Double]("z"))
      }
      val base = stats(df)
      // 2v+1 (affine) and exp(v) (nonlinear) are both strictly monotone
      val affine = stats(df.withColumn("v", col("v") * 2 + 1))
      val expd = stats(df.withColumn("v", exp(col("v"))))
      Prop(base == affine && base == expd) :| s"base=$base affine=$affine exp=$expd"
    }

  property("bhAdjust: p_adj monotone in rank, >= raw p, capped at 1") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.choose(0, 1000))) { raw =>
      val tests = raw.zipWithIndex.map { case (p, i) => (s"t$i", p / 1000.0) }
      val got = AuditOps.bhAdjust(tests.toDF("id", "p"), col("p"),
          Seq(col("id")), alpha = 0.05)
        .select("p", "p_adj").as[(Double, Double)].collect().toSeq
      val adj = got.map(_._2)
      Prop(adj.sorted == adj) :| "monotone in rank" &&
        Prop(got.forall { case (p, a) => a >= p - 1e-6 && a <= 1.0 }) :| "p <= padj <= 1"
    }

  private val channels = Seq("view", "click", "signup")
  private val genJourneys: Gen[List[(Long, Int, String)]] = for {
    nUsers <- Gen.choose(1, 8)
    rows <- Gen.sequence[List[List[(Long, Int, String)]], List[(Long, Int, String)]](
      (1 to nUsers).toList.map { u =>
        for {
          len  <- Gen.choose(1, 6)
          evs  <- Gen.listOfN(len, Gen.frequency(
                    5 -> Gen.oneOf(channels), 1 -> Gen.const("purchase")))
        } yield evs.zipWithIndex.map { case (c, i) => (u.toLong, i, c) }
      })
  } yield rows.flatten

  property("markovAttribution: shares and effects on the ppm grid, shares sum <= 1e6") =
    Prop.forAll(genJourneys) { rows =>
      val df = rows.map { case (u, i, c) =>
        (u, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i}%02d:00"), i.toLong, c)
      }.toDF("user_id", "ts", "event_id", "event_type")
      val got = PathOps.markovAttribution(df, col("user_id"), col("ts"),
          col("event_type"), "purchase", Seq(col("ts"), col("event_id")), iters = 20)
        .as[(String, Long, Long, Long, Long)].collect().toSeq
      val inRange = got.forall { case (_, pb, pr, re, at) =>
        Seq(pb, pr, re, at).forall(x => x >= 0L && x <= 1000000L)
      }
      val shareSum = got.map(_._5).sum
      Prop(inRange) :| s"ppm range: $got" &&
        Prop(got.isEmpty || shareSum <= 1000000L) :| s"share sum $shareSum"
    }

  property("medianCi brackets its median; both bounds are data values") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.oneOf(grid)), Gen.choose(2, 6)) { (vals, parts) =>
      val r = withDefaultParallelism(spark.sparkContext, parts) {
        QuantileOps.medianCi(vals.toDF("v"), "v").head()
      }
      val (med, lo, hi) = (r.getAs[Double]("median"),
        r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
      Prop(lo <= med && med <= hi) :| s"lo=$lo med=$med hi=$hi" &&
        Prop(vals.contains(lo) && vals.contains(hi)) :| "bounds are order stats"
    }

  property("woeEncode: per-category IV contributions sum to the emitted total") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.oneOf(true, false)))) { rows =>
      val got = TransformOps.woeEncode(rows.toDF("cat", "bad"),
          col("cat"), col("bad"))
        .select("iv_q", "iv_total_q").as[(Long, Long)].collect().toSeq
      Prop(got.map(_._1).sum == got.head._2) :| s"got=$got"
    }
}
