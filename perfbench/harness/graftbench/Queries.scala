package graftbench

/** The fixed query lists of the two query workloads. */
object Queries {
  /** The base tables of a scale-factor directory. */
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** query_mix: stateless registry queries covering every family, chosen
    * from the sub-second tail where driver-side work (table resolution,
    * DataFrame construction, Catalyst, job submission) dominates. */
  val mix: Seq[String] = Seq(
    "q_threshold_wet_days", // climate indicator over the shared `dailyTotals` view
    "q_huglin", // climate indicator over the shared `climateDaily` view
    "q_zones_totalprice", // star-schema relational
    "q_dedup_exact", // text / LLM-pipeline operator over `documents`
    "q_cosine_to_query", // embedding operator over `embeddings`
    "q_zarr_datetime", // Zarr reader
    "q_hdf5_nbit") // HDF5 reader

  /** scan_heavy: queries whose time goes to Spark tasks, shuffles and
    * kernels, on the 10x replica of sf0.1: percentile bootstrap, a
    * percentile-threshold indicator, substring dedup. Each spent at most
    * 5% of its time between jobs on the driver there; winsorize (28%) and
    * the nation revenue join (17-20%) did not qualify. */
  val heavy: Seq[String] = Seq("q_bootstrap_percentile", "q_tx90p", "q_substring_dedup")
}
