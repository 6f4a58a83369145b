package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
  ShortType, StructType, TimestampNTZType, TimestampType}

/** Typed readers over the driver-generated parquet tables.
  *
  * Column pruning + filter pushdown happen automatically because every
  * operator builds a declarative plan on top of these scans; verify with
  * `.explain("formatted")` (ReadSchema / PushedFilters).
  */
object Tables {
  /** Read `$dir/$name.parquet` with its schema resolved once per table
    * version. Parquet schema inference is a Spark job (a footer read
    * per file), and a chat question reads documents/embeddings about a
    * dozen times — so the inferred schema is memoized per path under
    * a version key: the leaf files (name, length, modification time)
    * plus the session's parquet-reading confs. An unchanged table reads
    * with `.schema(cached)` and fires no job; a rewrite or a conf
    * toggle changes the key and Spark infers again, exactly as an
    * unmemoized read would. A path that cannot be listed bypasses the
    * memo so Spark raises its usual error.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = tableVersion(spark, path)
    Option(schemas.get(path)).filter(e => key.contains(e._1)) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemas.put(path, (k, df.schema)))
        df
    }
  }

  /** A version of some files under some session confs: (path, length,
    * modification time) of every file, sorted, and the selected confs.
    */
  private[graft] type VersionKey = (Seq[(String, Long, Long)], Map[String, String])

  /** path → (version key, schema inferred under it); one entry per path. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (VersionKey, StructType)]()

  /** Session confs that can change what parquet schema inference returns. */
  private val SchemaConfPrefixes =
    Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.files.",
      "spark.sql.caseSensitive")

  /** The version of `files` under the session confs whose names
    * `conf` accepts. Shared by the schema memo here and the edge-list
    * memo of `graph.Loops`.
    */
  private[graft] def versionKey(spark: SparkSession, files: Seq[FileStatus],
      conf: String => Boolean): VersionKey =
    (files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toVector.sorted,
      spark.conf.getAll.filter { case (k, _) => conf(k) })

  /** The version of the parquet table at `path`: every file under it
    * and the parquet-reading confs; None when it cannot be listed.
    */
  private def tableVersion(spark: SparkSession, path: String): Option[VersionKey] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try Some(versionKey(spark, leafFiles(fs, p), k => SchemaConfPrefixes.exists(k.startsWith)))
    catch {
      case _: java.io.IOException => None
    }
  }

  /** The files under `p` by a `listStatus` walk. `listFiles` would build
    * a `LocatedFileStatus` per file, which on a local file system
    * without native Hadoop loads the file's permission by forking
    * `ls -ld`; a plain status loads it only when asked.
    */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s))

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events reader with a STABLE `ts` contract: epoch-nanos BIGINT,
    * whatever the parquet encoding of the generated file happens to be.
    * The driver has regenerated events.parquet across rounds with `ts`
    * as parquet TIMESTAMP(NANOS) (read as long via nanosAsLong) and as
    * native timestamp[us] (read as TIMESTAMP_NTZ); every downstream
    * operator computes `ts div 1000` on a long, so the encoding is
    * adapted HERE, once, instead of in 12 operator sites.
    *
    * The nanosAsLong flag is a session conf (no per-read parquet
    * option exists for it), set once at session construction in every
    * graft entrypoint (Verify/Bench/TestSpark builders). The set here
    * is a belt-and-braces for EXTERNAL sessions (the driver builds its
    * own); it is process-global for nanos parquet, which this corpus's
    * single nanos table tolerates.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, dir, "events"))
  }

  /** Normalize a `ts` column to epoch-nanos BIGINT across encodings:
    * already-long (TIMESTAMP(NANOS) under nanosAsLong, or plain INT64)
    * passes through; timestamp / timestamp_ntz converts via
    * unix_micros × 1000. The NTZ→timestamp cast is wall-clock identity
    * because every graft session pins spark.sql.session.timeZone=UTC
    * (build.sbt javaOptions + each builder). Narrow projection — scan
    * pruning/pushdown on the other columns is unaffected.
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case TimestampType | TimestampNTZType =>
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    case other =>
      throw new IllegalStateException(s"unsupported events.ts encoding: $other")
  }
  /** Widen integral id/measure columns to BIGINT IF a regeneration
    * narrowed them (the events.ts lesson, applied to the other
    * driver-generated tables: operators do integral arithmetic like
    * `n_chars div 256` and specs read long ids, so the contract is
    * pinned here once). A no-op on the current files — no cast node
    * exists in the plan, so filter pushdown is untouched; the cast
    * only appears the day the encoding drifts.
    */
  private def normalizeIntegral(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case LongType => d
        case IntegerType | ShortType | ByteType =>
          d.withColumn(c, col(c).cast(LongType))
        case other =>
          throw new IllegalStateException(s"unsupported $c encoding: $other")
      }
    }

  def documents(spark: SparkSession, dir: String): DataFrame =
    normalizeIntegral(table(spark, dir, "documents"), Seq("doc_id", "n_chars"))
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    normalizeIntegral(table(spark, dir, "embeddings"), Seq("vec_id"))
}
