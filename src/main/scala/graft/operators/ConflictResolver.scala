package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conflict-resolution application (SURVEY.md §2.8 U4/U5).
  *
  * Resolved conflicts drive the load
  * (`table-loader/services/fragment_resolution.py:125-174`,
  * `conflict_resolver.py:30-133`, `loader.py:124-145`):
  * `keep_existing` skips the incoming rows, `use_incoming` deletes the
  * existing rows and loads the incoming ones, `delete_both` drops
  * both; `merge` is unimplemented in the reference and `pending`
  * conflicts stay unapplied — both behave as "hold the incoming row".
  * All applications are key-set joins — no row loops.
  */
object ConflictResolver {

  /** Actions that exclude the incoming row from the load. */
  val ExcludeIncomingActions: Seq[String] = Seq("keep_existing", "delete_both", "pending", "merge")

  private def keys(resolutions: DataFrame, actions: Seq[String]) =
    resolutions.filter(col("resolution_action").isin(actions.map(lit): _*))
      .select("local_subject_id", "identifier_type").distinct()

  /** P7/U4: anti-join incoming rows whose key was resolved away. */
  def applyToIncoming(incoming: DataFrame, resolutions: DataFrame): DataFrame =
    incoming.join(keys(resolutions, ExcludeIncomingActions),
      Seq("local_subject_id", "identifier_type"), "left_anti")

  /** U5: cascade `use_incoming` center resolutions onto subjects — the
    * reference's guarded UPDATE (`fragment_resolution.py:389-565`):
    * only rows still at the old center move, and the change is noted.
    */
  def cascadeCenterUpdates(subjects: DataFrame, resolutions: DataFrame): DataFrame = {
    val updates = resolutions
      .filter(col("resolution_action") === "use_incoming" &&
        col("conflict_type") === "center_mismatch")
      .select(col("existing_gsid").as("global_subject_id"),
        col("existing_center_id").as("_old_center"),
        col("incoming_center_id").as("_new_center"))
      .dropDuplicates("global_subject_id", "_old_center", "_new_center")
    subjects.join(updates, Seq("global_subject_id"), "left")
      .withColumn("_apply", col("_new_center").isNotNull && col("center_id") === col("_old_center"))
      .withColumn("center_id",
        when(col("_apply"), col("_new_center")).otherwise(col("center_id")))
      .withColumn("center_updated", coalesce(col("_apply"), lit(false)))
      .drop("_old_center", "_new_center", "_apply")
  }
}
