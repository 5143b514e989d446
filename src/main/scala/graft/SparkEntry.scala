package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * each with a DuckDB-equivalent oracle in [[SparkEntry.oracleSql]].
  *
  * Parity conventions (so results hash-match the DuckDB oracle):
  *  - every computed column is aliased identically on both sides;
  *  - double aggregations go through explicit DECIMAL casts (FP summation
  *    order differs between engines; decimals are exact and associative);
  *  - raw (non-aggregated) doubles pass through untouched — both engines
  *    read the same parquet bits;
  *  - every result carries a deterministic total ORDER BY.
  */object SparkEntry
    extends EntrySupport
    with RelationalQueries with SourcesQueries with TextQueries with DedupQueries with EventsQueries with StatsQueries with RankStatsQueries with TimeseriesStatsQueries with CausalStatsQueries with GraphQueries with TemporalQueries with StreamingQueries {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q92CurationPipeline(spark, "/root/testdata/sf0.001")

  // ------------------------------------------------------------------

  /** Shared per-session artifacts in dependency order (labels reads
    * pairs). Bench pre-materializes these before its timed query loop
    * and bills each as its own `artifact_*` entry, so the one-time
    * generation cost stops landing on whichever consumer query happens
    * to run first (q104 absorbed the whole PPJoin pass in round 7) and
    * per-query numbers stay attributable round over round. Forcing one
    * is just invoking the memoized builder — consumers then read
    * parquet.
    */
  def artifacts: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "artifact_pairs" -> ((s, d) => { dedupPairs(s, d); () }),
    "artifact_labels" -> ((s, d) => { dedupLabels(s, d); () }),
    "artifact_epairs" -> ((s, d) => { embedPairs(s, d); () }),
    "artifact_edges" -> ((s, d) => { copurchasePairs(s, d); () }),
    // reads edges — keep after artifact_edges so its entry bills the
    // wedge enumeration alone, not the co-purchase pair build
    "artifact_tris" -> ((s, d) => { triangleList(s, d); () }),
    // the 5-round LPA labeling shared by q134 (communities) and q306
    // (modularity); also after artifact_edges for the same reason
    "artifact_lpa" -> ((s, d) => { lpaLabels(s, d); () }))

  /** One entry per implemented operator from SURVEY.md §2 — assembled
    * from the per-family trait maps (round-11 split of the 9.5k-line
    * monolith; each family file carries its queries AND their oracle
    * SQL side by side).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesRelational ++
    queriesSources ++
    queriesText ++
    queriesDedup ++
    queriesEvents ++
    queriesStats ++
    queriesStatsRank ++
    queriesStatsTs ++
    queriesStatsCausal ++
    queriesGraph ++
    queriesTemporal ++
    queriesStreaming

  /** DuckDB-runnable oracle SQL per query, assembled like [[queries]]. */
  def oracleSql: Map[String, String] =
    oracleSqlRelational ++
    oracleSqlSources ++
    oracleSqlText ++
    oracleSqlDedup ++
    oracleSqlEvents ++
    oracleSqlStats ++
    oracleSqlStatsRank ++
    oracleSqlStatsTs ++
    oracleSqlStatsCausal ++
    oracleSqlGraph ++
    oracleSqlTemporal ++
    oracleSqlStreaming

  /** The per-family maps by name, for the disjointness gate
    * (EntryMapsSpec): `++` silently shadows a duplicated qNNN key
    * across two family files, shrinking the suite with no test
    * failing — the spec proves the family key sets are pairwise
    * disjoint for BOTH maps.
    */
  private[graft] def queryFamilies
      : Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("relational" -> queriesRelational, "sources" -> queriesSources,
      "text" -> queriesText, "dedup" -> queriesDedup,
      "events" -> queriesEvents, "stats" -> queriesStats,
      "stats-rank" -> queriesStatsRank, "stats-ts" -> queriesStatsTs,
      "stats-causal" -> queriesStatsCausal, "graph" -> queriesGraph, "temporal" -> queriesTemporal,
      "streaming" -> queriesStreaming)

  private[graft] def oracleFamilies: Seq[(String, Map[String, String])] =
    Seq("relational" -> oracleSqlRelational,
      "sources" -> oracleSqlSources, "text" -> oracleSqlText,
      "dedup" -> oracleSqlDedup, "events" -> oracleSqlEvents,
      "stats" -> oracleSqlStats, "stats-rank" -> oracleSqlStatsRank,
      "stats-ts" -> oracleSqlStatsTs, "stats-causal" -> oracleSqlStatsCausal, "graph" -> oracleSqlGraph,
      "temporal" -> oracleSqlTemporal, "streaming" -> oracleSqlStreaming)
}
