package graft.config

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-connector configuration (reference `sample/config.json:6-13`,
  * consumed at `related_items_etl.py:197,243,273-274`).
  *
  * @param itemMetadataFields metadata fields to keep when building each
  *   recommended-item struct; empty means "all fields" (the reference's
  *   star-expansion branch at `related_items_etl.py:195-200`)
  * @param attributePrefix prefix applied to pivoted attribute keys by the
  *   dequeue pivot (reference `braze_dequeue_function/main.py:80`,
  *   default "recommendation_" at `:18`)
  * @param otherAttributes free-form constants merged into syncDirectives
  *   (reference `related_items_etl.py:287`)
  * @param performDeltaCheck connector-level override; the reference reads
  *   ONLY this scope (`related_items_etl.py:243`) while its sample config
  *   sets the flag at top level — we accept both, connector wins
  *   (SURVEY.md §2.13#3)
  */
final case class ConnectorConfig(
    itemMetadataFields: Seq[String] = Nil,
    attributePrefix: String = "recommendation_",
    otherAttributes: Map[String, String] = Map.empty,
    performDeltaCheck: Option[Boolean] = None
)

/** Job configuration (reference `sample/config.json:1-14`, read driver-side
  * at `related_items_etl.py:72-88`).
  *
  * @param stateFormat where sync state is stored, nothing else: the delta
  *   (`Ops.keyedChanges`) and the rows sent are the same in both.
  *   `"snapshot"` rewrites a full JSONL snapshot per sync (the reference's
  *   declared write-back); `"keyed"` appends the changed rows and
  *   tombstones to a versioned `io.StateTable`, O(delta) per sync
  */
final case class JobConfig(
    batchInferencePath: String,
    performDeltaCheck: Boolean = false,
    saveBatchInferenceErrors: Boolean = true,
    writeStateAfterSync: Boolean = true,
    stateFormat: String = "snapshot",
    connectors: Map[String, ConnectorConfig] = Map.empty
) {
  // Fail fast: a missing input path would only surface when Spark reads
  // "", and a typo ("Keyed", "key") must not silently fall back to
  // snapshot semantics and write state in the wrong place/format.
  require(batchInferencePath.nonEmpty, "batchInferencePath is required")
  require(JobConfig.StateFormats(stateFormat),
    s"stateFormat must be one of ${JobConfig.StateFormats.mkString("/")}, " +
      s"got '$stateFormat'")

  /** Effective delta-check flag for a connector: connector scope overrides
    * top level (fixes reference quirk SURVEY.md §2.13#3).
    */
  def deltaCheckFor(connector: String): Boolean =
    connectors.get(connector).flatMap(_.performDeltaCheck)
      .getOrElse(performDeltaCheck)
}

object JobConfig {

  /** Closed set of valid [[JobConfig.stateFormat]] values. */
  val StateFormats: Set[String] = Set("snapshot", "keyed")

  /** Parse a config JSON document (driver-side, mirrors the single S3 GET +
    * `json.loads` at reference `related_items_etl.py:72-88`). Tolerates
    * missing optional fields; unknown fields are ignored.
    */
  def parse(json: String): JobConfig = {
    val root = JsonMethods.parse(json)
    def str(v: JValue): Option[String] = v match {
      case JString(s) => Some(s)
      case _          => None
    }
    def bool(v: JValue): Option[Boolean] = v match {
      case JBool(b) => Some(b)
      case _        => None
    }
    def strMap(v: JValue): Map[String, String] = v match {
      case JObject(fields) =>
        fields.collect {
          case JField(k, JString(s)) => k -> s
          case JField(k, JInt(i))    => k -> i.toString
          case JField(k, JDouble(d)) => k -> d.toString
          case JField(k, JBool(b))   => k -> b.toString
        }.toMap
      case _ => Map.empty
    }
    def strSeq(v: JValue): Seq[String] = v match {
      case JArray(items) => items.flatMap(str)
      case _             => Nil
    }
    val connectors = root \ "connectors" match {
      case JObject(fields) =>
        fields.map { case JField(name, cfg) =>
          name -> ConnectorConfig(
            itemMetadataFields = strSeq(cfg \ "itemMetadataFields"),
            attributePrefix = str(cfg \ "attributePrefix")
              .getOrElse("recommendation_"),
            otherAttributes = strMap(cfg \ "otherAttributes"),
            performDeltaCheck = bool(cfg \ "performDeltaCheck")
          )
        }.toMap
      case _ => Map.empty[String, ConnectorConfig]
    }
    JobConfig(
      batchInferencePath = str(root \ "batchInferencePath").getOrElse(""),
      performDeltaCheck = bool(root \ "performDeltaCheck").getOrElse(false),
      saveBatchInferenceErrors =
        bool(root \ "saveBatchInferenceErrors").getOrElse(true),
      writeStateAfterSync =
        bool(root \ "writeStateAfterSync").getOrElse(true),
      stateFormat = str(root \ "stateFormat").getOrElse("snapshot"),
      connectors = connectors
    )
  }
}
