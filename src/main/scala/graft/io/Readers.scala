package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source operators (SURVEY.md §2.1, S1-S4/S6).
  *
  * All readers take an EXPLICIT schema and backfill columns missing from
  * the files as typed nulls — the DynamicFrame-tolerance contract of
  * SURVEY.md §1.3. Spark's JSON/CSV sources are codec-aware, so `.gz`
  * inputs (reference `enqueue.py:40-43`) need no special handling (S6).
  */
object Readers {

  /** Add any column of `expected` missing from `df` as a typed null, then
    * project to the expected column set in the expected order. Nested
    * struct fields are backfilled recursively, so a JSONL corpus where no
    * line carries `error` (or where `output.recommendedItems` is absent)
    * still supports `WHERE error IS NULL` (SURVEY.md §1.3; the reference
    * relies on Glue DynamicFrame choice types for this).
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

  /** S1/S3/S4: JSON Lines scan with explicit schema, recursive listing
    * (reference reads whole S3 prefixes, `related_items_etl.py:99-107`)
    * and missing-column backfill.
    *
    * @param multiLine accept pretty-printed (multi-line) JSON documents —
    *   the reference's one reader hint, `format_options={"multiline":
    *   True}` at `related_items_etl.py:100`. Off by default: line-delimited
    *   files split per-line across tasks, whereas a multiLine document is
    *   one record and parses whole-file per task — keep batch-inference
    *   output line-delimited at scale.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType,
      multiLine: Boolean = false): DataFrame =
    withBackfill(
      spark.read
        .option("recursiveFileLookup", "true")
        .option("multiLine", multiLine.toString)
        // Schema is explicit, but pass it as a *hint* via a permissive
        // read: columns absent in data come back null, extra columns in
        // data are dropped by the backfill projection.
        .schema(schema)
        .option("mode", "PERMISSIVE")
        .json(path),
      schema)

  /** S2: CSV scan with header, quote handling, recursive listing and
    * explicit schema (reference `related_items_etl.py:141-155`; Glue's
    * `optimizePerformance` vectorized reader maps to Spark's default
    * vectorized CSV parser).
    */
  def csv(spark: SparkSession, path: String, schema: StructType)
      : DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("sep", ",")
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
    * every file's value survives; IoSpec pins this behavior.
    */
  def jsonlInferIfExists(spark: SparkSession, path: String)
      : Option[DataFrame] =
    if (pathExists(spark, path))
      Some(spark.read.option("recursiveFileLookup", "true").json(path))
    else None
}
