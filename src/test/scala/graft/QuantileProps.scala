package graft

import org.apache.spark.DefaultParallelism.withDefaultParallelism
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.dfw.QuantileOps

/** ScalaCheck properties for [[QuantileOps.exactQuantiles]] against a
  * naive in-memory `quantile_cont` model (sort, pos = q·(n−1), linear
  * interpolation between the two adjacent order statistics — the
  * definition Spark's `percentile` and DuckDB share). The generator
  * draws values from a COARSE grid so exact ties — the case where a
  * rank-selection bug (wrong neighbor, off-by-one rank, tie-broken
  * sort) is easiest to mask — occur in almost every case, plus nulls
  * and single-row groups.
  */
object QuantileProps extends Properties("QuantileOps.exactQuantiles") {

  // each case runs a real Spark plan; keep the count bounded
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxSize(40)

  private lazy val spark = SparkSpec.spark

  private val grid = Seq(-10.0, -1.5, 0.0, 0.5, 1.0, 2.0, 7.25, 100.0)

  private val genCase: Gen[(List[(String, Option[Double])], List[Double], Int)] = for {
    nGroups <- Gen.choose(1, 3)
    sizes   <- Gen.listOfN(nGroups, Gen.choose(1, 25))
    rows    <- Gen.sequence[List[List[(String, Option[Double])]], List[(String, Option[Double])]](
                 sizes.zipWithIndex.map { case (sz, g) =>
                   Gen.listOfN(sz, Gen.frequency(
                     6 -> Gen.oneOf(grid).map(v => (s"g$g", Some(v))),
                     1 -> Gen.const((s"g$g", Option.empty[Double]))))
                 })
    qs      <- Gen.nonEmptyListOf(Gen.oneOf(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.999, 1.0))
    parts   <- Gen.choose(2, 8)
  } yield (rows.flatten, qs.distinct, parts)

  private def model(vals: Seq[Double], q: Double): Double = {
    val v = vals.sorted
    val pos = q * (v.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    v(lo) + (pos - lo) * (v(hi) - v(lo))
  }

  property("equals the quantile_cont model on tied, null-bearing groups") =
    Prop.forAll(genCase) { case (rows, qs, parts) =>
      val s = spark
      import s.implicits._
      val df = rows.toDF("g", "v")
      val got = withDefaultParallelism(s.sparkContext, parts) {
        QuantileOps.exactQuantiles(df, Seq("g"), "v", qs)
          .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      }
      val byGroup = rows.groupBy(_._1).view
        .mapValues(_.flatMap(_._2)).toMap
      val expected = for {
        (g, vals) <- byGroup if vals.nonEmpty
        q <- qs
      } yield (g, q) -> model(vals, q)
      // a group whose values are ALL null yields no row (percentile
      // semantics: no non-null input, no result)
      val allNull = byGroup.collect { case (g, vals) if vals.isEmpty => g }.toSet
      val keysOk = got.keySet == expected.keySet &&
        got.keySet.forall { case (g, _) => !allNull.contains(g) }
      val valsOk = expected.forall { case (k, e) => math.abs(got(k) - e) <= 1e-9 }
      keysOk && valsOk
    }
}
