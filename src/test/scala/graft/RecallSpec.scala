package graft

/** ANN recall floors at the fixture: recall@k of the declared ANN entries
  * against exact brute force over every other vector
  * (`Scale.recallOf`). The property specs check each entry only over its
  * own probed cells; this is the check that sees neighbors a plan change
  * gives up. Each floor is the exact hits/(k·queries) fraction the
  * entry's current geometry reads at sf0.001 (167 stride-sampled queries
  * at k = 3 for the kNN graphs, 32 queries at k = 3 for PQ). */
class RecallSpec extends SparkSpec {

  Seq(
    "q_llm_knn_graph_trained" -> 341.0 / 501,
    "q_llm_knn_graph" -> 266.0 / 501,
    "q_llm_simsearch_pq" -> 95.0 / 96
  ).foreach { case (name, floor) =>
    test(f"$name recall@k against brute force is at least $floor%.4f") {
      val (nq, r) = Scale.recallOf(spark, sf, name)
      assert(nq > 0, s"$name: empty query set")
      assert(r >= floor - 1e-12, f"$name recall $r%.4f below the $floor%.4f floor")
    }
  }
}
