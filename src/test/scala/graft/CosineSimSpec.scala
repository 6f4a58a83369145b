package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CosineSim
import graft.operators.Similarity

class CosineSimSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import CosineSimSpec._

  test("native fused expression is bit-identical to the HOF fold") {
    val e = Similarity.vectors(spark, TestSpark.sf).limit(100)
    val q = Similarity.vectors(spark, TestSpark.sf)
      .filter(col("vec_id") === 0).select(col("v").as("qv"))
    def hofCosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      dotColHof(a, b) / (normColHof(a) * normColHof(b))
    val both = e.crossJoin(q)
      .select(
        CosineSim.cosine_sim(col("v"), col("qv")).as("native"),
        hofCosine(col("v"), col("qv")).as("hof"))
    val bad = both.filter(col("native") =!= col("hof")).count()
    assert(bad == 0, "native and HOF cosine must be bit-identical")
  }

  test("native dot / norm / sq-dist are bit-identical to their HOF twins") {
    val e = Similarity.vectors(spark, TestSpark.sf).limit(100)
    val q = Similarity.vectors(spark, TestSpark.sf)
      .filter(col("vec_id") === 0).select(col("v").as("qv"))
    val both = e.crossJoin(q).select(
      Similarity.dotCol(col("v"), col("qv")).as("dn"),
      dotColHof(col("v"), col("qv")).as("dh"),
      Similarity.normCol(col("v")).as("nn"),
      normColHof(col("v")).as("nh"),
      sqDistHof(col("v"), col("qv")).as("sh"),
      graft.functions.SqDist.sq_dist(col("v"), col("qv")).as("sn"))
    val bad = both.filter(
      col("dn") =!= col("dh") || col("nn") =!= col("nh") || col("sn") =!= col("sh"))
      .count()
    assert(bad == 0, "native vector primitives must match the HOF folds bit-for-bit")
  }

  test("null array elements yield NULL, matching the HOF twins' null-poisoning") {
    import spark.implicits._
    // [3.0, null] must NOT be read as [3.0, 0.0]: the HOF aggregate
    // over zip_with null-poisons the fold, and the dirty-vector screen
    // depends on that null to drop the row
    val df = Seq((Seq[java.lang.Double](3.0, null), Seq[java.lang.Double](1.0, 1.0)))
      .toDF("a", "b")
      .select(col("a").cast("array<double>").as("a"),
        col("b").cast("array<double>").as("b"))
    val r = df.select(
      graft.functions.DotProduct.dot_product(col("a"), col("b")).as("d"),
      graft.functions.SqDist.sq_dist(col("a"), col("b")).as("s"),
      CosineSim.cosine_sim(col("a"), col("b")).as("c"),
      dotColHof(col("a"), col("b")).as("dh")).head()
    assert(r.isNullAt(0), "dot_product must be NULL on a null element")
    assert(r.isNullAt(1), "sq_dist must be NULL on a null element")
    assert(r.isNullAt(2), "cosine_sim must be NULL on a null element")
    assert(r.isNullAt(3), "HOF twin null-poisons — the contract being matched")
  }

  test("registers as a SQL function") {
    CosineSim.register(spark)
    val r = spark.sql(
      s"""SELECT cosine_sim(
         |  transform(embedding, x -> cast(x as double)),
         |  transform(embedding, x -> cast(x as double))) AS c
         |FROM parquet.`${TestSpark.sf}/embeddings.parquet` LIMIT 5""".stripMargin)
      .collect()
    r.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-12))
  }

  test("type check rejects non-double arrays") {
    intercept[Exception] {
      Tables.documents(spark, TestSpark.sf)
        .select(CosineSim.cosine_sim(split(col("text"), " "), split(col("text"), " ")))
        .collect()
    }
  }
}

/** Portable HOF twins of the native vector primitives (zip_with + left
  * fold) — the executable spec of their accumulation order and
  * null-poisoning.
  */
object CosineSimSpec {
  import org.apache.spark.sql.Column

  def dotColHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def normColHof(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def sqDistHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => (x - c) * (x - c)), lit(0.0), (acc, x) => acc + x)
}
