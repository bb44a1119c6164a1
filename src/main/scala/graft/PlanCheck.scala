package graft

/** Dev aid: dump `explain("formatted")` for selected queries so plan
  * regressions (lost pushdown, surprise shuffles, broadcast-turned-
  * sort-merge, codegen gaps) are visible. `runMain graft.PlanCheck
  * [sfDir] [query...]` — no args prints a headline subset.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q_filter_ops", "q_join_agg", "q_category_pivot",
        "q_customer360", "q_most_searched", "q_dedup_minhash", "q_ann_topk",
        "q_ann_ivf", "q_trending_fused", "q_dedup_clusters", "q_containment",
        "q_dedup_incremental", "q_embed_neardup_lsh", "q_tfidf",
        "q_heavy_hitters", "q_pack")
    // the engine's own session profile, so the printed plans are the
    // ones the engine runs (broadcast threshold, bucketed-scan ordering)
    val spark = GraftSession.local(8, "graft-plancheck")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          fn(spark, sfDir).explain("formatted")
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
