package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The dedup stages `CorpusPipeline.prepare` composes, one call each,
  * so a benchmark can time them as plan prefixes. They are
  * `private[ext]`, hence this shim in the engine's package; each
  * method makes the same call, with the same arguments, as `prepare`.
  */
object PrepareStages {

  /** Exact dedup: one shingle set per distinct text, kept by its
    * minimum id (cached, as in `prepare`), with `carry` columns.
    */
  def exactReps(kept: DataFrame, idCol: String, textCol: String,
      carry: Seq[String]): DataFrame =
    Dedup.collapsedShingleSets(kept, idCol, textCol, HashDefs.ShingleN,
      Dedup.CollapseMode.Always, carry = carry).repSets

  /** Near-dup survivors among those representatives: MinHash pairs,
    * then the minimum id of each cluster.
    */
  def nearDupReps(repSets: DataFrame): DataFrame = {
    val pairs = Dedup.minhashRepPairs(repSets, minJaccard = 0.5).select("id_a", "id_b")
    Dedup.nearDupClusters(repSets.select(col("id")), pairs)
      .filter(col("id") === col("cluster"))
      .select("id")
  }
}
