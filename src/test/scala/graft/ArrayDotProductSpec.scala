package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ArrayDotProduct

/** Native codegen'd dot-product expression: value parity with the
  * interpreted HOF spelling, null semantics, and the SQL registration
  * path through GraftExtensions.
  */
class ArrayDotProductSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private def dotCol(a: String, b: String) =
    GraftBridge.column(ArrayDotProduct(
      GraftBridge.expression(col(a)), GraftBridge.expression(col(b))))

  test("matches hand computation and the HOF formulation") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -0.5), Array(2.0, 2.0))
    ).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val rows = df.select(dotCol("a", "b").as("d"), hof.as("h")).collect()
    assert(rows.map(_.getDouble(0)).toSeq === Seq(32.0, 0.0))
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("null array yields null; null elements are skipped") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(Some(1.0), None, Some(3.0))), Some(Seq(Some(2.0), Some(2.0), Some(2.0)))),
      (None, Some(Seq(Some(1.0))))
    ).toDF("a", "b")
    val rows = df.select(dotCol("a", "b").as("d")).collect()
    assert(rows(0).getDouble(0) === 8.0) // 1*2 + skip + 3*2
    assert(rows(1).isNullAt(0))
  }

  test("SQL path: array_dot registered by GraftExtensions") {
    val d = spark.sql("SELECT array_dot(array(1d,2d,3d), array(4d,5d,6d)) AS d")
      .collect().head.getDouble(0)
    assert(d === 32.0)
  }

  test("fused array_cosine is bit-identical to the composed dot/norm form") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.3, -0.7, 0.1), Array(-0.2, 0.9, 2.5)),
      (Array(1.0, 0.0), Array(1.0, 0.0))
    ).toDF("a", "b")
    def fused(a: String, b: String) =
      GraftBridge.column(graft.functions.ArrayCosineSimilarity(
        GraftBridge.expression(col(a)), GraftBridge.expression(col(b))))
    val rows = df.select(
      fused("a", "b").as("f"),
      (dotCol("a", "b") / (sqrt(dotCol("a", "a")) * sqrt(dotCol("b", "b"))))
        .as("c")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
    assert(rows(2).getDouble(0) === 1.0)
  }

  test("array_cosine: zero-norm input yields null, and SQL registration works") {
    val r = spark.sql(
      "SELECT array_cosine(array(0d,0d), array(1d,2d)) AS z, " +
        "array_cosine(array(1d,0d), array(0d,1d)) AS o").collect().head
    assert(r.isNullAt(0))
    assert(r.getDouble(1) === 0.0)
  }

  test("strict variant mirrors zip_with/aggregate semantics exactly") {
    // fused-by-rule composed spelling vs hand-expected values: clean dot,
    // length mismatch -> null, null element -> null, both empty -> 0.0
    val rows = spark.sql(
      """SELECT
        |  aggregate(zip_with(array(1d, 2d, 3d), array(4d, 5d, 6d),
        |    (x, y) -> x * y), 0d, (s, v) -> s + v) AS clean,
        |  aggregate(zip_with(array(1d, 2d), array(1d), (x, y) -> x * y),
        |    0d, (s, v) -> s + v) AS mismatch,
        |  aggregate(zip_with(array(1d, cast(null as double)),
        |    array(1d, 2d), (x, y) -> x * y), 0d, (s, v) -> s + v) AS nullel,
        |  aggregate(zip_with(cast(array() as array<double>),
        |    cast(array() as array<double>), (x, y) -> x * y), 0d,
        |    (s, v) -> s + v) AS empty""".stripMargin).collect()(0)
    assert(rows.getDouble(0) === 32.0)
    assert(rows.isNullAt(1))
    assert(rows.isNullAt(2))
    assert(rows.getDouble(3) === 0.0)
    // and the rule actually rewrote: a parquet-backed input defeats
    // ConvertToLocalRelation so the fused expression survives into the
    // optimized plan
    import spark.implicits._
    val dir = Tmp.dir("fusedot").toString
    Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .selectExpr("aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, v) -> s + v) AS dot")
    assert(df.queryExecution.optimizedPlan.toString.contains("array_dot_strict"))
    assert(df.collect()(0).getDouble(0) === 11.0)
  }

  test("fused dot equals the zip_with fold on 300 random inputs (fixed seed)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    def arr(): Option[Seq[Option[Double]]] =
      if (rnd.nextInt(20) == 0) None
      else Some(Seq.fill(rnd.nextInt(6))(
        if (rnd.nextInt(15) == 0) None
        else Some(math.rint((rnd.nextDouble() * 10 - 5) * 100) / 100)))
    val rows = (1 to 300).map(i => (i.toLong, arr(), arr()))
    val dir = Tmp.dir("fuseprop").toString
    rows.toDF("id", "a", "b").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .selectExpr("id",
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0d, (s, v) -> s + v) AS dot")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val expected = rows.map { case (id, oa, ob) =>
      id -> ((oa, ob) match {
        case (Some(x), Some(y)) if x.length == y.length &&
            x.forall(_.isDefined) && y.forall(_.isDefined) =>
          // same left-to-right IEEE order as the codegen loop
          Some(x.zip(y).foldLeft(0.0) {
            case (s, (Some(u), Some(v))) => s + u * v
            case (s, _) => s
          })
        case _ => None
      })
    }.toMap
    assert(got === expected)
  }
}
