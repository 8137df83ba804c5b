package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming maintenance of an attribute sidecar
  * ([[graft.llm.Attributes]]): every micro-batch of new documents is
  * tagged ONCE (map-only — the expensive signals run exactly when the
  * text first arrives) and appended as an idempotent partition of the
  * [[StoreLayout]] contract,
  * `StoreLayout.append(sidecarDir, runTag)(Attributes.tag(_, idCol, attrs))`.
  * Curation recipes then [[graft.llm.Attributes.mix]] the committed
  * sidecar with the corpus at any time — no tagger ever re-runs over old
  * text, which is the entire point of the sidecar model at 100 TB.
  * Compaction and right-to-be-forgotten are [[StoreLayout]]'s.
  */
object AttributeStream {

  /** All committed attribute rows — feed to [[graft.llm.Attributes.mix]].
    * None until a first batch commits (the schema lives in the data).
    */
  def loadSidecar(spark: SparkSession, sidecarDir: String): Option[DataFrame] =
    StoreLayout.load(spark, sidecarDir)
}
