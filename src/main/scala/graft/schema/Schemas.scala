package graft.schema

import org.apache.spark.sql.types._

/** Explicit schema contracts at module boundaries.
  *
  * The reference never declares a schema (Glue DynamicFrame infers per record;
  * see reference `src/glue/related_items_etl.py:99-107`). We invert that:
  * every source has an explicit [[StructType]], and reading with it
  * ([[graft.io.Readers.jsonl]]) yields nulls for the fields the files
  * happen to omit — the one DynamicFrame behaviour an inferred
  * `spark.read.json` lacks (an input set where no line carries `error`
  * must still support `WHERE error IS NULL`).
  */
object Schemas {

  /** Personalize batch-inference output line for related-items jobs:
    * `{"input":{"itemId":"1"},"output":{"recommendedItems":[...]},"error":null}`
    * (reference `README.md:170-172`).
    */
  val relatedItemsBatchInference: StructType = StructType(Seq(
    StructField("input", StructType(Seq(
      StructField("itemId", StringType)
    ))),
    StructField("output", StructType(Seq(
      StructField("recommendedItems", ArrayType(StringType))
    ))),
    StructField("error", StringType)
  ))

  /** Batch-inference line for user-personalization jobs: keyed by
    * `input.userId` (reference `src/glue/user_personalization_etl.py:167`).
    */
  val userPersonalizationBatchInference: StructType = StructType(Seq(
    StructField("input", StructType(Seq(
      StructField("userId", StringType)
    ))),
    StructField("output", StructType(Seq(
      StructField("recommendedItems", ArrayType(StringType))
    ))),
    StructField("error", StringType)
  ))

  /** User-item mapping CSV: `USER_ID,ITEM_ID`, both strings even when
    * numeric (reference `README.md:182-187`, read at
    * `related_items_etl.py:141-155`).
    */
  val userItemMapping: StructType = StructType(Seq(
    StructField("USER_ID", StringType, nullable = false),
    StructField("ITEM_ID", StringType, nullable = false)
  ))
}
