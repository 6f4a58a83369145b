package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

final case class Question(seq: Int, label: String, ft: String, shape: String,
    keywords: String)

final case class Pair(src: String, dst: String)

/** The generated inputs (gen.py), read once per run. The corpus becomes
  * the program's input directory (documents.parquet, embeddings.parquet);
  * questions and path endpoints stay on the benchmark side.
  */
final class Inputs(spark: SparkSession, in: String) {
  import Inputs._

  private def json(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(s"$in/$name")

  val documents: DataFrame = json("documents.jsonl", DocSchema)
  val embeddings: DataFrame = json("embeddings.jsonl", VecSchema)

  private def questions(name: String): Seq[Question] =
    json(name, QSchema).collect().toSeq.map { r =>
      Question(r.getAs[Long]("seq").toInt, r.getAs[String]("label"), r.getAs[String]("ft"),
        r.getAs[String]("shape"), r.getAs[String]("keywords"))
    }

  /** The chat client's question stream, in stream order. */
  lazy val stream: Seq[Question] = questions("questions.jsonl").sortBy(_.seq)
  lazy val warmup: Seq[Question] = questions("warmup.jsonl").sortBy(_.seq)

  lazy val pairs: Seq[Pair] = json("pairs.jsonl", PairSchema).orderBy("pair").collect()
    .toSeq.map(r => Pair(r.getAs[String]("src"), r.getAs[String]("dst")))
}

object Inputs {
  private val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))
  private val QSchema = StructType(Seq(
    StructField("seq", LongType), StructField("label", StringType),
    StructField("ft", StringType), StructField("shape", StringType),
    StructField("keywords", StringType)))
  private val PairSchema = StructType(Seq(
    StructField("pair", LongType), StructField("src", StringType),
    StructField("dst", StringType)))
}
