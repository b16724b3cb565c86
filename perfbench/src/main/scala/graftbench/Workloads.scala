package graftbench

/** The benchmark's workloads: named, fixed lists of registered queries.
  * A run executes its workload's list once per pass, in an order drawn
  * from the run's seed.
  */
object Workloads {
  final case class Workload(name: String, queries: Seq[String])

  /** Measured passes a run makes at least, whatever its `seconds`. */
  val MinPasses = 2

  /** The MLlib gate queries (`graft.pipeline` and `graft.model`). They
    * have no oracle, so their output is checked on schema and row count
    * only.
    */
  val gates: Set[String] = Set(
    "house_pipeline_gate", "sol2_pipeline_gate", "cv_random_search",
    "model_comparison", "rf_train_eval", "l1_feature_selection")

  /** A run has to fit its set-up, a warm-up pass and two measured passes
    * into 45 to 75 s on a 4-core box, so each workload is a slice of its
    * query family. Outside the queries named for a layer, the slice
    * was drawn by stratified random search over a traced pass of the
    * whole family: the subset within the pass budget whose time shares
    * (Catalyst, codegen, driver gap between jobs, executor CPU per core)
    * come closest to the family's.
    */
  val all: Seq[Workload] = Seq(
    // The per-query floor of SQL, stats and profiling plans over
    // lineitem/orders/customer (Catalyst, codegen, job scheduling), one
    // drawn from each of CoreQueries, JoinWindowQueries, StatsQueries and
    // ProfilingQueries. Beside them, the house-price pipeline gate: a
    // 2000-row pipeline of some 60 small jobs around a level-wise
    // decision tree (graft.pipeline, graft.tree).
    Workload("sql_core", Seq(
      "q14_promo_revenue_monthly", "pivot_priority_status",
      "crosstab_flag_status", "join_size_profile", "house_pipeline_gate")),
    // Document dedup: the memoized, localCheckpointed slice10 chain
    // shared by three siblings (storage), a streaming dedup (state store,
    // offset and commit logs) and its batch twin exact_dedup_prefix, and
    // an n-gram Jaccard scan drawn from DocQueries.
    Workload("doc_dedup", Seq(
      "dedup_components_slice10", "dedup_drop_components_slice10",
      "dedup_keep_best_components_slice10", "dedup_distinct_stream",
      "exact_dedup_prefix", "ngram_jaccard_slice")))

  def byName(name: String): Option[Workload] = all.find(_.name == name)
}
