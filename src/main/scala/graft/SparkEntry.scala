package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Extensions, Inventory, Oracles}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Every implemented operator from SURVEY.md §2 has a `queries` entry;
  * SQL-expressible ones have a DuckDB oracle twin in `oracleSql`.
  */
object SparkEntry {

  /** The session every graft main runs in: `local[SPARK_GRAFT_CPUS]`
    * (default: the JVM's processors) with one shuffle partition per core,
    * UTC, [[graft.functions.GraftExtensions]], no UI, and the TPC-H RI
    * contracts of `sfDir` declared before any query is planned. */
  private[graft] def localSession(sfDir: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // ContextCleaner only reclaims broadcasts/accumulators when the
      // DRIVER GCs; the default 30 min periodic GC never fires inside a
      // ~10 min suite, so late queries inherit ~10k queries' worth of
      // uncollected driver state (the round-11 residual in-suite tax on
      // the serial q5x family after the block sweep landed).
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The superstep driver's releases of superseded state
    // (Supersteps.rounds / closure) and Bench's and Verify's per-query
    // sweep unpersist locally-checkpointed
    // RDDs — Spark warns once per block that the truncated lineage cannot
    // recompute, which is exactly the intended contract (the new state
    // is already materialized). Thousands of those lines would bury
    // the log tail, so the RDD logger goes to ERROR for the mains only;
    // the library never touches log config.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // RI contracts declared before ANY query is planned or timed — q01
    // would otherwise mutate optimizer state mid-session, making later
    // plans depend on whether q01 ran first.
    graft.sources.GraphLoader.declareTpchRi(spark, sfDir)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Inventory.q02_two_hop_fuse(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_one_hop" -> (Inventory.q01_one_hop _),
    "q02_two_hop_fuse" -> (Inventory.q02_two_hop_fuse _),
    "q03_intersect" -> (Inventory.q03_intersect _),
    "q04_subtract" -> (Inventory.q04_subtract _),
    "q05_edge_filter" -> (Inventory.q05_edge_filter _),
    "q06_hydrate" -> (Inventory.q06_hydrate _),
    "q07_distinct_reach" -> (Inventory.q07_distinct_reach _),
    "q08_degree" -> (Inventory.q08_degree _),
    "q09_topk" -> (Inventory.q09_topk _),
    "q10_point_lookup" -> (Inventory.q10_point_lookup _),
    "q11_both_direction" -> (Inventory.q11_both_direction _),
    "q12_multi_label" -> (Inventory.q12_multi_label _),
    "q13_path_multiplicity" -> (Inventory.q13_path_multiplicity _),
    "q14_bulk_load" -> (Inventory.q14_bulk_load _),
    "q15_pricing_summary" -> (Inventory.q15_pricing_summary _),
    "q16_dsl_chain" -> (Inventory.q16_dsl_chain _),
    "q17_rollup" -> (Inventory.q17_rollup _),
    "q18_unified_ids" -> (Inventory.q18_unified_ids _),
    "q19_connected_components" -> (Inventory.q19_connected_components _),
    "q20_shortest_path" -> (Inventory.q20_shortest_path _),
    "q21_edge_list_order" -> (Inventory.q21_edge_list_order _),
    "q22_branch_coalesce" -> (Inventory.q22_branch_coalesce _),
    "q23_repeat_emit" -> (Inventory.q23_repeat_emit _),
    "q24_snb_composite" -> (Inventory.q24_snb_composite _),
    "q25_snb_fof" -> (Inventory.q25_snb_fof _),
    "q26_snb_path" -> (Inventory.q26_snb_path _),
    "q27_bothe" -> (Inventory.q27_bothe _),
    "q28_until" -> (Inventory.q28_until _),
    "q29_snb_posts" -> (Inventory.q29_snb_posts _),
    "q30_not_step" -> (Inventory.q30_not_step _),
    "q31_choose" -> (Inventory.q31_choose _),
    "q32_range" -> (Inventory.q32_range _),
    "q33_snb_thread" -> (Inventory.q33_snb_thread _),
    "q34_project" -> (Inventory.q34_project _),
    "q35_where_step" -> (Inventory.q35_where_step _),
    "q36_snb_replies" -> (Inventory.q36_snb_replies _),
    "q37_sack" -> (Inventory.q37_sack _),
    "q38_match" -> (Inventory.q38_match _),
    "q39_aggregate" -> (Inventory.q39_aggregate _),
    "q40_subgraph" -> (Inventory.q40_subgraph _),
    "q41_snb_allpaths" -> (Inventory.q41_snb_allpaths _),
    "q42_snb_components" -> (Inventory.q42_snb_components _),
    "q43_snb_weighted" -> (Inventory.q43_snb_weighted _),
    "q44_snb_triangles" -> (Inventory.q44_snb_triangles _),
    "q45_snb_communities" -> (Inventory.q45_snb_communities _),
    "q46_snb_kcore" -> (Inventory.q46_snb_kcore _),
    "q47_snb_closeness" -> (Inventory.q47_snb_closeness _),
    "q48_snb_stress" -> (Inventory.q48_snb_stress _),
    "q49_snb_components_inc" -> (Inventory.q49_snb_components_inc _),
    "q50_snb_pagerank" -> (Inventory.q50_snb_pagerank _),
    "q51_snb_hits" -> (Inventory.q51_snb_hits _),
    "q52_snb_ppr" -> (Inventory.q52_snb_ppr _),
    "q53_snb_walks" -> (Inventory.q53_snb_walks _),
    "q54_snb_scc" -> (Inventory.q54_snb_scc _),
    "q55_snb_node2vec" -> (Inventory.q55_snb_node2vec _),
    "q56_snb_mis" -> (Inventory.q56_snb_mis _),
    "q57_snb_linkpred" -> (Inventory.q57_snb_linkpred _),
    "q58_snb_clustering" -> (Inventory.q58_snb_clustering _),
    "q59_snb_condensation" -> (Inventory.q59_snb_condensation _),
    "q60_snb_layers" -> (Inventory.q60_snb_layers _),
    "q61_snb_reachability" -> (Inventory.q61_snb_reachability _)) ++ Extensions.all

  /** DuckDB oracle SQL per query (same columns, same total order). */
  def oracleSql: Map[String, String] = Oracles.all ++ Extensions.oracles
}
