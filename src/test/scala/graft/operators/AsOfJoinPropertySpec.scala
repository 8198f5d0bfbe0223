package graft.operators

import graft.SparkSpec
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Model-based check of the as-of join (AsOfJoinExec, built by
  * AsOfJoin.backward) against a straightforward Scala model, including
  * null keys and timestamps (which must never match, per SQL semantics),
  * over long, double (negatives included) and string timestamps. */
class AsOfJoinPropertySpec extends SparkSpec {

  private def check(p: Prop, n: Int): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private def orNull[T >: Null](g: Gen[T]): Gen[T] =
    Gen.frequency(9 -> g, 1 -> Gen.const(null))

  private val keyGen: Gen[java.lang.Long] =
    orNull(Gen.choose(1L, 4L).map(java.lang.Long.valueOf))

  /** The ground truth: latest right row with equal (non-null) key and
    * right.t <= left.t under `ord`; "latest" is unambiguous because the
    * right side is deduplicated on (k, t). */
  private def model[T >: Null](left: Seq[(Long, java.lang.Long, T)],
      right: Seq[(java.lang.Long, T, Double)], ord: Ordering[T])
      : Map[Long, Option[Double]] =
    left.map { case (id, k, t) =>
      id -> (if (k == null || t == null) None
        else right.filter(r => r._1 != null && r._2 != null &&
            r._1 == k && ord.lteq(r._2, t))
          .sortBy(_._2)(ord).lastOption.map(_._3))
    }.toMap

  /** Random left/right tables with timestamps drawn from `ts0` (plus
    * nulls) of Spark type `tsType`, compared to the model under `ord`,
    * which must agree with Spark's ordering of `tsType`. */
  private def checkModel[T >: Null](tsType: DataType, ts0: Gen[T],
      ord: Ordering[T]): Unit = {
    val tsGen = orNull(ts0)
    val leftGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 1000L), keyGen, tsGen)))
    val rightGen = Gen.choose(0, 8).flatMap(n => Gen.listOfN(n,
      Gen.zip(keyGen, tsGen, Gen.choose(0.0, 9.0))))
    val leftSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("k", LongType, nullable = true),
      StructField("t", tsType, nullable = true)))
    val rightSchema = StructType(Seq(
      StructField("k", LongType, nullable = true),
      StructField("t", tsType, nullable = true),
      StructField("v", DoubleType, nullable = false)))

    check(Prop.forAll(leftGen, rightGen) { (l0, r0) =>
      // unique (k, t) on the right so "latest" is unambiguous
      val r = r0.groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
      val left = spark.createDataFrame(
        spark.sparkContext.parallelize(
          l0.map(x => Row(x._1, x._2, x._3)), 2), leftSchema)
      val right = spark.createDataFrame(
        spark.sparkContext.parallelize(
          r.map(x => Row(x._1, x._2, x._3)), 2), rightSchema)
      val want = model(l0, r, ord)
      val got = AsOfJoin.backward(left, right, "k", "t", Seq("v"))
        .select("id", "k", "t", "v").collect()
        .map(row => row.getLong(0) ->
          (if (row.isNullAt(3)) None else Some(row.getDouble(3)))).toMap
      if (got != want) println(s"MISMATCH l=$l0 r=$r got=$got want=$want")
      got == want
    }, n = 15)
  }

  test("AsOfJoinExec and the declarative backward join match the model") {
    checkModel[java.lang.Long](LongType,
      Gen.choose(0L, 20L).map(java.lang.Long.valueOf),
      Ordering.by[java.lang.Long, Long](_.longValue))
  }

  test("double timestamps, negatives included, match the model") {
    // halves in [-10, 10]: no -0.0 or NaN, whose order Scala and Spark
    // define differently
    checkModel[java.lang.Double](DoubleType,
      Gen.choose(-20, 20).map(i => java.lang.Double.valueOf(i / 2.0)),
      Ordering.by[java.lang.Double, Double](_.doubleValue)(
        Ordering.Double.TotalOrdering))
  }

  test("string timestamps match the model in lexicographic order") {
    // short strings over a 3-letter alphabet: "" < "a" < "aa" < "ab" < "b"
    checkModel[String](StringType,
      Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')))
        .map(_.mkString),
      Ordering.String)
  }
}
