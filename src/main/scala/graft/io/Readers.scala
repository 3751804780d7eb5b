package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source operators (SURVEY.md §2.1, S1-S4/S6).
  *
  * Explicit-schema reads return exactly the declared schema: a field the
  * files omit, top-level or nested, comes back null (the DynamicFrame-
  * tolerance contract of SURVEY.md §1.3). Spark's JSON/CSV sources are
  * codec-aware, so `.gz` inputs (reference `enqueue.py:40-43`) need no
  * special handling (S6).
  */
object Readers {

  /** Add any column of `expected` missing from `df` as a typed null, then
    * project to the expected column set in the expected order. Nested
    * struct fields are backfilled recursively, and a null struct comes
    * back as a struct of nulls. An explicit-schema read ([[jsonl]])
    * already returns its declared schema, so no sync path calls this;
    * its remaining non-test caller is the benchmark's staged pass
    * (`perfbench/`), which compiles against it.
    */
  def withBackfill(df: DataFrame, expected: StructType): DataFrame = {
    def align(actual: Option[DataType], exp: DataType, path: String)
        : org.apache.spark.sql.Column = (actual, exp) match {
      case (None, t) => lit(null).cast(t)
      case (Some(a: StructType), e: StructType) =>
        struct(e.fields.map { f =>
          val sub = a.find(_.name == f.name).map(_.dataType)
          align(sub, f.dataType, s"$path.${f.name}").as(f.name)
        }.toIndexedSeq: _*)
      case (Some(_), t) => col(path).cast(t)
    }
    val actualFields = df.schema.map(f => f.name -> f.dataType).toMap
    val cols = expected.fields.map { f =>
      align(actualFields.get(f.name), f.dataType, f.name).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** S1/S3/S4: JSON Lines scan with explicit schema and recursive listing
    * (reference reads whole S3 prefixes, `related_items_etl.py:99-107`).
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("recursiveFileLookup", "true")
      .schema(schema)
      .json(path)

  /** S2: CSV scan with header, recursive listing and explicit schema
    * (reference `related_items_etl.py:141-155`; Glue's
    * `optimizePerformance` vectorized reader maps to Spark's default
    * vectorized CSV parser; its default quote and separator are the
    * reference's).
    */
  def csv(spark: SparkSession, path: String, schema: StructType)
      : DataFrame =
    spark.read
      .option("header", "true")
      .option("recursiveFileLookup", "true")
      .schema(schema)
      .csv(path)

  /** S3-prefix existence check (reference `related_items_etl.py:40-53`
    * via boto3 `list_objects_v2`; here Hadoop FileSystem so the same code
    * serves local, HDFS and object stores).
    */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && (fs.getFileStatus(p).isFile ||
      fs.listStatus(p).nonEmpty)
  }

  /** S3: existence-gated JSONL read with inferred schema — item metadata
    * is optional (reference `related_items_etl.py:175-189`), and its
    * field set is config/data-driven (reference infers via DynamicFrame).
    * Ragged corpora — the same field typed differently across files (Glue's
    * "choice type", `related_items_etl.py:175-189`) — are handled by
    * Spark's inference unioning conflicting scalar types up to string, so
    * every file's value survives; IoSpec pins this behavior. A prefix that
    * exists but holds no records (say `_SUCCESS` and one empty part file)
    * infers no columns and counts as absent.
    */
  def jsonlInferIfExists(spark: SparkSession, path: String)
      : Option[DataFrame] =
    Option.when(pathExists(spark, path))(
      spark.read.option("recursiveFileLookup", "true").json(path))
      .filter(_.columns.nonEmpty)
}
