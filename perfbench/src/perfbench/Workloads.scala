package perfbench

/** A batch workload: `SparkEntry.queries` names by family. `scaling` is
  * the subset timed again at local[1] in the traced run. */
final case class BatchSpec(families: Seq[(String, String)], scaling: Seq[String]) {
  val queries: Seq[String] = families.map(_._2)
  val familyOf: Map[String, String] = families.map(_.swap).toMap
}

object Workloads {
  /** One query per family: the Milan operator families (map .. program)
    * and the LLM-data families (curate .. multimodal). A fresh JVM runs a
    * query about twice as slowly the first time as the second, and every
    * run starts cold, so each query added costs set-up time in every run.
    * The trigram scorer stands for the LM family because it is the order-3
    * path apart from the generic n-gram engine. */
  val milanBatch = BatchSpec(
    Seq(
      "map" -> "q_flatmap_nested",
      "scan" -> "q_sumby",
      "window" -> "q_session_window",
      "join" -> "q_join3",
      "asof" -> "q_asof_join",
      "cycle" -> "q_cycle_delta",
      "program" -> "q_program_agg",
      "curate" -> "q_minhash_dedup",
      "tokenize" -> "q_unigram_encode",
      "lm" -> "q_lm3_score",
      "retrieval" -> "q_bm25",
      "multimodal" -> "q_frames_video"),
    scaling = Seq("q_sumby", "q_join3", "q_minhash_dedup"))
}
