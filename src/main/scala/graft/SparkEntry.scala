package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.tables.Tables
import graft.operators._
import graft.lake.{DeleteVectors, FileModel, Layout, Manifest, Snapshots}
import graft.lake.iceberg
import graft.events.Events
import graft.text.TextAnalysis
import graft.dedup.{Components, Dedup}
import graft.similarity.Ann
import graft.multimodal.Multimodal

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator inventory.
  * Every `queries` key has a matching DuckDB `oracleSql` entry with identical
  * column names, deterministic ordering and rounding (SURVEY.md §5).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    Relational.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))
  }

  private def q(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => { GraftSession.tune(s); f(s, dir) }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> q((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "q2_filter_project" -> q((s, d) => Relational.filterProject(Tables.lineitem(s, d))),
    "q3_shipping_priority" -> q((s, d) =>
      Relational.shippingPriority(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q4_broadcast_join" -> q((s, d) => Relational.brandRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q5_local_supplier" -> q((s, d) =>
      Relational.localSupplierVolume(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.supplier(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q6_forecast_revenue" -> q((s, d) => Relational.forecastRevenue(Tables.lineitem(s, d))),
    "q7_window_topk" -> q((s, d) => TopK.topOrdersPerCustomer(Tables.orders(s, d))),
    "q8_window_running" -> q((s, d) => Relational.customerRunningSpend(Tables.orders(s, d))),
    "q9_rollup" -> q((s, d) => Relational.returnsRollup(Tables.lineitem(s, d))),
    "q10_cube" -> q((s, d) => Relational.priorityCube(Tables.orders(s, d))),
    "q11_semi_join" -> q((s, d) => Relational.customersWithOpenOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q12_anti_join" -> q((s, d) => Relational.partsNeverShipped(Tables.part(s, d), Tables.lineitem(s, d))),
    "q13_scalar_subquery" -> q((s, d) => Relational.aboveAvgLineitems(Tables.lineitem(s, d))),
    "q14_conditional_agg" -> q((s, d) => Relational.priorityShipmentStats(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q15_distinct_agg" -> q((s, d) =>
      Relational.segmentDistinctParts(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q16_union_set" -> q((s, d) => Relational.highValueAccounts(Tables.customer(s, d), Tables.supplier(s, d))),
    "q17_sort_limit" -> q((s, d) => TopK.globalTopLineitems(Tables.lineitem(s, d))),
    "q18_asof_join" -> q((s, d) => AsofJoin.purchaseAfterSignup(Tables.events(s, d))),
    "q19_range_join" -> q((s, d) => RangeJoin.priceBands(s, Tables.lineitem(s, d))),
    "q20_approx_quantiles" -> q((s, d) => Relational.priceQuantiles(Tables.lineitem(s, d))),
    "lake_manifest_stats" -> q((s, d) => Manifest.fileStats(Tables.lineitem(s, d))),
    "lake_prune_files" -> q((s, d) => Manifest.pruneForPredicate(Tables.lineitem(s, d), "1997-01-01", "1997-03-31")),
    "lake_skip_rate" -> q((s, d) => Layout.skipRateReport(Tables.lineitem(s, d), "1997-01-01", "1997-03-31")),
    "lake_dv_apply" -> q((s, d) => DeleteVectors.applyDeletes(Tables.lineitem(s, d))),
    "lake_dv_fold" -> q((s, d) => DeleteVectors.foldManifests(Tables.lineitem(s, d))),
    "lake_dv_density" -> q((s, d) => DeleteVectors.densityPolicy(Tables.lineitem(s, d))),
    "lake_dv_roaring" -> q((s, d) => DeleteVectors.roaringDvModel(Tables.lineitem(s, d))),
    "iceberg_roundtrip" -> q((s, d) => iceberg.IcebergOps.roundtripScan(s, Tables.lineitem(s, d))),
    "iceberg_snapshots" -> q((s, d) => iceberg.IcebergOps.snapshotLog(s, Tables.lineitem(s, d))),
    "iceberg_mor_read" -> q((s, d) => iceberg.IcebergOps.morRead(s, Tables.lineitem(s, d))),
    "iceberg_compact" -> q((s, d) => iceberg.IcebergOps.compactionSummary(s, Tables.lineitem(s, d))),
    "iceberg_expire" -> q((s, d) => iceberg.IcebergOps.expirySummary(s, Tables.lineitem(s, d))),
    "iceberg_stats_prune" -> q((s, d) => iceberg.IcebergOps.statsPruneScan(s, Tables.lineitem(s, d))),
    "iceberg_partition_evolution" -> q((s, d) => iceberg.IcebergOps.partitionEvolution(s, Tables.lineitem(s, d))),
    "iceberg_refs" -> q((s, d) => iceberg.IcebergOps.refsSummary(s, Tables.lineitem(s, d))),
    "iceberg_schema_evolution" -> q((s, d) => iceberg.IcebergOps.schemaEvolution(s, Tables.lineitem(s, d))),
    "iceberg_wap" -> q((s, d) => iceberg.IcebergOps.wapSummary(s, Tables.lineitem(s, d))),
    "iceberg_pos_dv" -> q((s, d) => iceberg.IcebergOps.posDvRead(s, Tables.lineitem(s, d))),
    "iceberg_catalog" -> q((s, d) => iceberg.IcebergOps.catalogSummary(s, Tables.lineitem(s, d))),
    "iceberg_incremental" -> q((s, d) => iceberg.IcebergOps.incrementalRead(s, Tables.lineitem(s, d))),
    "iceberg_puffin" -> q((s, d) => iceberg.IcebergOps.puffinNdv(s, Tables.lineitem(s, d))),
    "iceberg_sort_skipping" -> q((s, d) => iceberg.IcebergOps.sortSkipping(s, Tables.lineitem(s, d))),
    "iceberg_mixed_deletes" -> q((s, d) => iceberg.IcebergOps.mixedDeletesRead(s, Tables.lineitem(s, d))),
    "iceberg_meta_tables" -> q((s, d) => iceberg.IcebergOps.partitionsMeta(s, Tables.lineitem(s, d))),
    "iceberg_files_meta" -> q((s, d) => iceberg.IcebergOps.filesMeta(s, Tables.lineitem(s, d))),
    "iceberg_entries_meta" -> q((s, d) => iceberg.IcebergOps.entriesMeta(s, Tables.lineitem(s, d))),
    "iceberg_manifests_meta" -> q((s, d) => iceberg.IcebergOps.manifestsMeta(s, Tables.lineitem(s, d))),
    "iceberg_history_meta" -> q((s, d) => iceberg.IcebergOps.historyMeta(s, Tables.lineitem(s, d))),
    "iceberg_dv_puffin" -> q((s, d) => iceberg.IcebergOps.dvPuffinRead(s, Tables.lineitem(s, d))),
    "iceberg_manifest_tree" -> q((s, d) => iceberg.IcebergOps.manifestTreePlan(s, Tables.lineitem(s, d))),
    "iceberg_tree3" -> q((s, d) => iceberg.IcebergOps.tree3Plan(s, Tables.lineitem(s, d))),
    "iceberg_delete_storm" -> q((s, d) => iceberg.IcebergOps.dvDeleteStorm(s, Tables.lineitem(s, d))),
    "iceberg_gc_cliff" -> q((s, d) => iceberg.IcebergOps.gcCliff(s, Tables.lineitem(s, d))),
    "iceberg_row_lineage" -> q((s, d) => iceberg.IcebergOps.rowLineage(s, Tables.lineitem(s, d))),
    "iceberg_orphan_scan" -> q((s, d) => iceberg.IcebergOps.orphanScan(s, Tables.lineitem(s, d))),
    "iceberg_rewrite_manifests" -> q((s, d) => iceberg.IcebergOps.rewriteManifestsSummary(s, Tables.lineitem(s, d))),
    "iceberg_commit_series" -> q((s, d) => iceberg.IcebergOps.commitSeries(s, Tables.lineitem(s, d))),
    "iceberg_wide_prune" -> q((s, d) => iceberg.IcebergOps.widePruneReal(s, Tables.lineitem(s, d))),
    "iceberg_zorder_rewrite" -> q((s, d) => iceberg.IcebergOps.zorderRewrite(s, Tables.lineitem(s, d))),
    "iceberg_changelog" -> q((s, d) => iceberg.IcebergOps.changelogScan(s, Tables.lineitem(s, d))),
    "iceberg_changelog_resume" -> q((s, d) => iceberg.IcebergOps.changelogResume(s, Tables.lineitem(s, d))),
    "iceberg_changelog_mixed" -> q((s, d) => iceberg.IcebergOps.changelogMixed(s, Tables.lineitem(s, d))),
    "iceberg_bucket_prune" -> q((s, d) => iceberg.IcebergOps.bucketPointLookup(s, Tables.lineitem(s, d))),
    "iceberg_bucket_evolution" -> q((s, d) => iceberg.IcebergOps.bucketEvolution(s, Tables.lineitem(s, d))),
    "iceberg_bucket_mor" -> q((s, d) => iceberg.IcebergOps.bucketMorLookup(s, Tables.lineitem(s, d))),
    "iceberg_dv_compact" -> q((s, d) => iceberg.IcebergOps.dvCompactSummary(s, Tables.lineitem(s, d))),
    "iceberg_rewrite_deletes" -> q((s, d) => iceberg.IcebergOps.rewriteDeletesSummary(s, Tables.lineitem(s, d))),
    "iceberg_rewrite_dv_only" -> q((s, d) => iceberg.IcebergOps.rewriteDvOnlySummary(s, Tables.lineitem(s, d))),
    "iceberg_rewrite_pos_only" -> q((s, d) => iceberg.IcebergOps.rewritePosOnlySummary(s, Tables.lineitem(s, d))),
    "iceberg_update_mor" -> q((s, d) => iceberg.IcebergOps.updateMorSummary(s, Tables.lineitem(s, d))),
    "iceberg_rollback" -> q((s, d) => iceberg.IcebergOps.rollbackSummary(s, Tables.lineitem(s, d))),
    "iceberg_cherry_pick" -> q((s, d) => iceberg.IcebergOps.cherryPickSummary(s, Tables.lineitem(s, d))),
    "iceberg_sql_select" -> q((s, d) => iceberg.IcebergOps.sqlSelect(s, Tables.lineitem(s, d))),
    "iceberg_sql_time_travel" -> q((s, d) => iceberg.IcebergOps.sqlTimeTravel(s, Tables.lineitem(s, d))),
    "iceberg_sql_mor" -> q((s, d) => iceberg.IcebergOps.sqlMorSelect(s, Tables.lineitem(s, d))),
    "iceberg_sql_insert" -> q((s, d) => iceberg.IcebergOps.sqlInsert(s, Tables.lineitem(s, d))),
    "iceberg_sql_create" -> q((s, d) => iceberg.IcebergOps.sqlCreate(s, Tables.lineitem(s, d))),
    "iceberg_sql_delete" -> q((s, d) => iceberg.IcebergOps.sqlDelete(s, Tables.lineitem(s, d))),
    "iceberg_manifest_merge" -> q((s, d) => iceberg.IcebergOps.manifestMergeSeries(s, Tables.lineitem(s, d))),
    "iceberg_sql_update" -> q((s, d) => iceberg.IcebergOps.sqlUpdate(s, Tables.lineitem(s, d))),
    "iceberg_sql_metacols" -> q((s, d) => iceberg.IcebergOps.sqlMetaColumns(s, Tables.lineitem(s, d))),
    "iceberg_sql_merge" -> q((s, d) => iceberg.IcebergOps.sqlMerge(s, Tables.lineitem(s, d))),
    "iceberg_sql_alter" -> q((s, d) => iceberg.IcebergOps.sqlAlter(s, Tables.lineitem(s, d))),
    "iceberg_sql_overwrite" -> q((s, d) => iceberg.IcebergOps.sqlOverwrite(s, Tables.lineitem(s, d))),
    "iceberg_sql_alter_drop" -> q((s, d) => iceberg.IcebergOps.sqlAlterDropRename(s, Tables.lineitem(s, d))),
    "iceberg_sql_merge2" -> q((s, d) => iceberg.IcebergOps.sqlMerge2(s, Tables.lineitem(s, d))),
    "iceberg_sql_files_meta" -> q((s, d) => iceberg.IcebergOps.sqlFilesMeta(s, Tables.lineitem(s, d))),
    "iceberg_stream_ingest" -> q((s, d) => iceberg.IcebergOps.streamIngest(s, Tables.lineitem(s, d))),
    "iceberg_sql_call" -> q((s, d) => iceberg.IcebergOps.sqlCall(s, Tables.lineitem(s, d))),
    "iceberg_sql_branch_read" -> q((s, d) => iceberg.IcebergOps.sqlRefRead(s, Tables.lineitem(s, d))),
    "iceberg_sql_alter_widen" -> q((s, d) => iceberg.IcebergOps.sqlAlterWiden(s, Tables.lineitem(s, d))),
    "iceberg_sql_properties" -> q((s, d) => iceberg.IcebergOps.sqlProperties(s, Tables.lineitem(s, d))),
    "iceberg_sql_call2" -> q((s, d) => iceberg.IcebergOps.sqlCall2(s, Tables.lineitem(s, d))),
    "iceberg_sql_replace" -> q((s, d) => iceberg.IcebergOps.sqlReplace(s, Tables.lineitem(s, d))),
    "iceberg_sql_branch_write" -> q((s, d) => iceberg.IcebergOps.sqlBranchWrite(s, Tables.lineitem(s, d))),
    "iceberg_sql_truncate" -> q((s, d) => iceberg.IcebergOps.sqlTruncate(s, Tables.lineitem(s, d))),
    "iceberg_sql_ancestors" -> q((s, d) => iceberg.IcebergOps.sqlAncestors(s, Tables.lineitem(s, d))),
    // byte totals are writer-version facts, not SQL-replayable — the
    // oracle-hashed projection keeps the counts and the pinned ordering
    // booleans; the raw bytes stay inspectable via the API + spec
    "lake_column_update_exec" -> q((s, d) =>
      iceberg.IcebergOps.columnUpdateExec(s, Tables.lineitem(s, d))
        .drop("cow_bytes", "repl_bytes", "col_bytes")),
    "lake_manifest_prune" -> q((s, d) => Manifest.partitionManifest(Tables.lineitem(s, d), "1997-03")),
    "lake_commit_log" -> q((s, d) => Snapshots.commitLog(Tables.orders(s, d))),
    "lake_compaction_plan" -> q((s, d) => Snapshots.compactionPlan(Tables.lineitem(s, d))),
    "lake_snapshot_diff" -> q((s, d) => Snapshots.snapshotDiff(Tables.orders(s, d), "1999-01-01", "2000-01-01")),
    "lake_orphan_files" -> q((s, d) => Snapshots.orphanFiles(s, Tables.lineitem(s, d))),
    "lake_concurrent_commits" -> q((s, d) => Snapshots.concurrentCommitStats(s)),
    "ev_sessionize" -> q((s, d) => Events.sessionize(Tables.events(s, d))),
    "ev_tumbling" -> q((s, d) => Events.tumblingCounts(Tables.events(s, d))),
    "ev_funnel" -> q((s, d) => Events.funnel(Tables.events(s, d))),
    "ev_retention" -> q((s, d) => Events.retention(Tables.events(s, d))),
    "ev_json_extract" -> q((s, d) => Events.propStats(Tables.events(s, d))),
    "text_stats" -> q((s, d) => TextAnalysis.tokenStats(Tables.documents(s, d))),
    "text_quality" -> q((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "text_langid" -> q((s, d) => TextAnalysis.languageId(Tables.documents(s, d))),
    "text_fingerprint" -> q((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "text_top_ngrams" -> q((s, d) => TextAnalysis.topBigrams(Tables.documents(s, d))),
    "dedup_exact" -> q((s, d) => Dedup.exact(Tables.documents(s, d))),
    "dedup_ngram_jaccard" -> q((s, d) => Dedup.ngramJaccardPairs(Tables.documents(s, d))),
    "dedup_minhash" -> q((s, d) => Dedup.minhashLsh(Tables.documents(s, d))),
    "dedup_simhash" -> q((s, d) => Dedup.simhash(Tables.documents(s, d))),
    "dedup_embedding" -> q((s, d) => Dedup.embeddingNearDup(Tables.embeddings(s, d))),
    "knn_brute" -> q((s, d) => Ann.bruteForceTopK(Tables.embeddings(s, d))),
    "knn_lsh" -> q((s, d) => Ann.lshTopK(Tables.embeddings(s, d))),
    "knn_centroid" -> q((s, d) => Ann.centroidAssign(Tables.embeddings(s, d))),
    "mm_features" -> q((s, d) => Multimodal.extractFeatures(Tables.documents(s, d))),
    "mm_payload_entropy" -> q((s, d) => Multimodal.payloadEntropy(Tables.documents(s, d))),
    "q21_pivot" -> q((s, d) => Relational.returnStatusPivot(Tables.lineitem(s, d))),
    "q22_correlated" -> q((s, d) => Relational.cheapestLinePerPart(Tables.lineitem(s, d))),
    "q23_sql_interface" -> q((s, d) => Relational.sqlNationYearRevenue(s, d)),
    "lake_manifest_tree" -> q((s, d) => Manifest.treePlanning(Tables.lineitem(s, d), "1997-01", "1997-06")),
    "text_normalize" -> q((s, d) => TextAnalysis.normalize(Tables.documents(s, d))),
    "text_tfidf" -> q((s, d) => TextAnalysis.tfidf(Tables.documents(s, d))),
    "ev_anomaly" -> q((s, d) => Events.anomalies(Tables.events(s, d))),
    "ev_top_sessions" -> q((s, d) => Events.topSessions(Tables.events(s, d))),
    "dedup_components" -> q((s, d) => Components.minhashComponents(Tables.documents(s, d))),
    "q24_salted_agg" -> q((s, d) => SkewSafe.saltedFlagRevenue(Tables.lineitem(s, d))),
    "q25_grouping_sets" -> q((s, d) => Relational.flagStatusGroupingSets(Tables.lineitem(s, d))),
    "q26_ntile" -> q((s, d) => Relational.priorityPriceDistribution(Tables.orders(s, d))),
    "q27_set_ops" -> q((s, d) => Relational.customerYearSets(Tables.orders(s, d))),
    "q28_window_endpoints" -> q((s, d) => Relational.customerOrderEndpoints(Tables.orders(s, d))),
    "ev_hopping" -> q((s, d) => Events.hoppingCounts(Tables.events(s, d))),
    "ev_cohort_ltv" -> q((s, d) => Events.cohortLtv(Tables.events(s, d))),
    "text_stopword_filter" -> q((s, d) => TextAnalysis.stopwordFilter(Tables.documents(s, d))),
    "text_bigram_lm" -> q((s, d) => TextAnalysis.bigramLmScore(Tables.documents(s, d))),
    "lake_time_travel" -> q((s, d) => Snapshots.timeTravel(Tables.orders(s, d))),
    "lake_expiry_plan" -> q((s, d) => Snapshots.expiryPlan(Tables.orders(s, d))),
    "lake_cdc_changelog" -> q((s, d) => Snapshots.cdcChangelog(Tables.orders(s, d), "1998-01-01", "1999-01-01")),
    "lake_merge_upsert" -> q((s, d) => Snapshots.mergeUpsert(Tables.customer(s, d), Tables.orders(s, d))),
    "lake_row_lineage" -> q((s, d) => Snapshots.rowLineage(Tables.orders(s, d))),
    "lake_file_histogram" -> q((s, d) => Manifest.fileSizeHistogram(Tables.lineitem(s, d))),
    "lake_zorder" -> q((s, d) => Layout.zorderReport(Tables.lineitem(s, d))),
    "lake_equality_deletes" -> q((s, d) => DeleteVectors.equalityDeletes(Tables.lineitem(s, d))),
    "knn_multiprobe" -> q((s, d) => Ann.multiProbeTopK(Tables.embeddings(s, d))),
    "lake_fetch_plan" -> q((s, d) => Manifest.fetchPlanning(Tables.lineitem(s, d), "1997-01", "1997-06")),
    "lake_partition_evolution" -> q((s, d) =>
      Manifest.partitionEvolution(Tables.lineitem(s, d), "1997-02-01", "1997-02-21")),
    "q29_nested_agg" -> q((s, d) => Relational.customerYearArrays(Tables.orders(s, d))),
    "mm_frame_sample" -> q((s, d) => Multimodal.frameSample(Tables.documents(s, d))),
    // Sketch-based operators: approximate by design but built on
    // plans.CrossSketch's cross-engine DETERMINISTIC sketches, so the
    // DuckDB oracle recomputes the estimates bit-for-bit; verify = true
    // adds exact anchors + error-envelope proof columns (also checked).
    "ev_approx_users" -> q((s, d) => Events.approxDailyUsers(Tables.events(s, d), verify = true)),
    "q30_approx_quantiles_sketch" -> q((s, d) => Relational.approxPriceQuantiles(Tables.lineitem(s, d))),
    "q31_range_frame" -> q((s, d) => Relational.trailingSpend(Tables.orders(s, d))),
    "ev_transitions" -> q((s, d) => Events.transitionMatrix(Tables.events(s, d))),
    "lake_snapshot_lineage" -> q((s, d) => Snapshots.snapshotLineage(Tables.orders(s, d))),
    "lake_bloom_pruning" -> q((s, d) => Manifest.bloomPruning(Tables.lineitem(s, d))),
    "lake_wide_prune" -> q((s, d) => Manifest.widePrune(Tables.lineitem(s, d))),
    "lake_delete_storm" -> q((s, d) => DeleteVectors.deleteStorm(Tables.lineitem(s, d))),
    "knn_recall" -> q((s, d) => Ann.lshRecall(Tables.embeddings(s, d))),
    "text_repetition" -> q((s, d) => TextAnalysis.repetition(Tables.documents(s, d))),
    "text_contamination" -> q((s, d) => TextAnalysis.contamination(Tables.documents(s, d))),
    "text_decontaminate" -> q((s, d) => TextAnalysis.decontaminate(Tables.documents(s, d))),
    "dedup_keep_best" -> q((s, d) => Components.keepBest(Tables.documents(s, d))),
    // Full minhash→components→keep-best chain over a deterministic 1/20
    // subsample: thin enough that the recursive-CTE oracle stays feasible at
    // sf0.1 — the ONE dedup-family key whose DuckDB hash evidence runs at
    // two SFs (SURVEY §5; the full-corpus variants saturate the oracle at
    // sf0.1 on this near-dup-dense synthetic corpus).
    "dedup_sampled_verify" -> q((s, d) => Components.keepBest(
      Tables.documents(s, d).filter(org.apache.spark.sql.functions.col("doc_id") % 20 === 0))),
    "q32_stats_agg" -> q((s, d) => Relational.priceStatistics(Tables.lineitem(s, d))),
    "q33_fuzzy_join" -> q((s, d) => Relational.fuzzyNameMatch(Tables.part(s, d))),
    "q34_lateral_explode" -> q((s, d) => Relational.tokenPositionStats(Tables.documents(s, d))),
    "q35_ratio_report" -> q((s, d) =>
      Relational.nationRevenueShare(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "lake_clustering_depth" -> q((s, d) => Layout.clusteringDepth(Tables.lineitem(s, d))),
    "lake_compaction_execute" -> q((s, d) => Snapshots.compactionExecute(Tables.lineitem(s, d))),
    "lake_rollback_plan" -> q((s, d) => Snapshots.rollbackPlan(Tables.orders(s, d))),
    "knn_kmeans" -> q((s, d) => Ann.kmeansCells(Tables.embeddings(s, d))),
    "q36_listagg" -> q((s, d) => Relational.segmentTopNames(Tables.customer(s, d))),
    "q37_islands" -> q((s, d) => Relational.activityStreaks(Tables.events(s, d))),
    "q38_histogram" -> q((s, d) => Relational.priceHistogram(Tables.orders(s, d))),
    "q39_mom_growth" -> q((s, d) => Relational.monthlyGrowth(Tables.orders(s, d))),
    "q40_date_spine" -> q((s, d) =>
      Relational.nationMonthSpine(Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "q41_weighted_agg" -> q((s, d) => Relational.brandWeightedPrice(Tables.lineitem(s, d), Tables.part(s, d))),
    "q42_regex_extract" -> q((s, d) => Relational.partNameComponents(Tables.part(s, d))),
    "q43_mode" -> q((s, d) => Relational.priorityModes(Tables.orders(s, d))),
    "q44_two_level_share" -> q((s, d) => Relational.regionNationShare(
      Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d), Tables.region(s, d))),
    "q45_rank_ties" -> q((s, d) => Relational.busiestMonthsWithTies(Tables.orders(s, d))),
    "q46_filtered_distinct" -> q((s, d) => Relational.yearlyDistinctCustomers(Tables.orders(s, d))),
    "lake_pos_runs" -> q((s, d) => DeleteVectors.survivorRuns(Tables.lineitem(s, d))),
    "lake_sort_evolution" -> q((s, d) => Layout.sortOrderEvolution(Tables.lineitem(s, d))),
    "ev_path_trigrams" -> q((s, d) => Events.pathTrigrams(Tables.events(s, d))),
    "mm_batch_plan" -> q((s, d) => Multimodal.batchPlan(Tables.documents(s, d))),
    "text_zipf" -> q((s, d) => TextAnalysis.zipfSlope(Tables.documents(s, d))),
    "text_novelty" -> q((s, d) => TextAnalysis.bigramNovelty(Tables.documents(s, d))),
    "dedup_containment" -> q((s, d) => Dedup.containmentPairs(Tables.documents(s, d))),
    "knn_range_search" -> q((s, d) => Ann.rangeSearch(Tables.embeddings(s, d))),
    "knn_pq" -> q((s, d) => Ann.pqQuantize(Tables.embeddings(s, d))),
    "lake_stats_truncation" -> q((s, d) => Manifest.statsTruncation(Tables.part(s, d))),
    "lake_small_files" -> q((s, d) => Manifest.smallFilesReport(Tables.lineitem(s, d))),
    "lake_scan_cost" -> q((s, d) => Manifest.scanCostModel(Tables.lineitem(s, d))),
    "lake_branch_tags" -> q((s, d) => Snapshots.branchTags(Tables.orders(s, d))),
    "lake_wap_audit" -> q((s, d) => Snapshots.wapAudit(Tables.orders(s, d))),
    "ev_rfm" -> q((s, d) => Events.rfmSegments(Tables.events(s, d))),
    "ev_attribution" -> q((s, d) => Events.lastTouchAttribution(Tables.events(s, d))),
    "ev_dwell" -> q((s, d) => Events.dwellTimes(Tables.events(s, d))),
    "q47_hash_sample" -> q((s, d) => Relational.hashSample(Tables.orders(s, d))),
    "q48_skyline" -> q((s, d) => Relational.priceSizeSkyline(Tables.part(s, d))),
    "q49_spearman" -> q((s, d) => Relational.spearmanPriceQty(Tables.lineitem(s, d))),
    "q50_chi_square" -> q((s, d) => Relational.flagStatusChiSq(Tables.lineitem(s, d))),
    "q51_strict_funnel" -> q((s, d) => Relational.strictFunnel(Tables.events(s, d))),
    "q52_interval_concurrency" -> q((s, d) => Relational.orderConcurrency(Tables.orders(s, d))),
    "text_entropy" -> q((s, d) => TextAnalysis.tokenEntropy(Tables.documents(s, d))),
    "text_pmi" -> q((s, d) => TextAnalysis.bigramPmi(Tables.documents(s, d))),
    "text_diversity" -> q((s, d) => TextAnalysis.lexicalDiversity(Tables.documents(s, d))),
    "text_filter_cascade" -> q((s, d) => TextAnalysis.filterCascade(Tables.documents(s, d))),
    "text_heaps" -> q((s, d) => TextAnalysis.heapsLaw(Tables.documents(s, d))),
    "ev_decay_score" -> q((s, d) => Events.decayScore(Tables.events(s, d))),
    "ev_seasonality" -> q((s, d) => Events.seasonality(Tables.events(s, d))),
    "ev_conversion_time" -> q((s, d) => Events.conversionTime(Tables.events(s, d))),
    "ev_power_users" -> q((s, d) => Events.powerUsers(Tables.events(s, d))),
    "ev_lifecycle" -> q((s, d) => Events.lifecycle(Tables.events(s, d))),
    "lake_partition_stats" -> q((s, d) => Manifest.partitionStats(Tables.lineitem(s, d))),
    "lake_column_ndv" -> q((s, d) => Manifest.columnNdv(Tables.lineitem(s, d))),
    "lake_puffin_ndv" -> q((s, d) => Manifest.puffinNdv(Tables.lineitem(s, d), verify = true)),
    "lake_mor_cost" -> q((s, d) => DeleteVectors.morCostModel(Tables.lineitem(s, d))),
    "lake_writer_contention" -> q((s, d) => Snapshots.writerContention(Tables.lineitem(s, d))),
    "dedup_prefix" -> q((s, d) => Dedup.prefixDup(Tables.documents(s, d))),
    "text_boilerplate" -> q((s, d) => TextAnalysis.boilerplate(Tables.documents(s, d))),
    "knn_sq8" -> q((s, d) => Ann.sq8Quantize(Tables.embeddings(s, d))),
    "mm_dedup" -> q((s, d) => Multimodal.payloadDedup(Tables.documents(s, d))),
    "q53_unpivot" -> q((s, d) => Relational.yearStatusUnpivot(Tables.orders(s, d))),
    "text_chunking" -> q((s, d) => TextAnalysis.chunkPlan(Tables.documents(s, d))),
    "knn_matryoshka" -> q((s, d) => Ann.matryoshkaRecall(Tables.embeddings(s, d))),
    "knn_rerank" -> q((s, d) => Ann.rerankTopK(Tables.embeddings(s, d))),
    "q54_scd2_join" -> q((s, d) => Relational.scd2SupplierJoin(Tables.lineitem(s, d), Tables.supplier(s, d))),
    "ev_rolling_active" -> q((s, d) => Events.rollingActiveUsers(Tables.events(s, d))),
    "text_vocab_coverage" -> q((s, d) => TextAnalysis.vocabCoverage(Tables.documents(s, d))),
    "q55_market_basket" -> q((s, d) => Relational.marketBasket(Tables.lineitem(s, d), Tables.part(s, d))),
    "q56_mad_outliers" -> q((s, d) => Relational.madOutliers(Tables.lineitem(s, d))),
    "lake_retention_ladder" -> q((s, d) => Snapshots.retentionLadder(Tables.orders(s, d))),
    "q57_native_topk" -> q((s, d) => TopK.nativeTopOrdersPerCustomer(Tables.orders(s, d))),
    "ev_ab_test" -> q((s, d) => Events.abTest(Tables.events(s, d))),
    "lake_stats_freshness" -> q((s, d) => Manifest.statsFreshness(Tables.orders(s, d))),
    "text_char_langid" -> q((s, d) => TextAnalysis.charTrigramLangId(Tables.documents(s, d))),
    "q58_percentile_disc" -> q((s, d) => Relational.quantityDiscQuartiles(Tables.lineitem(s, d))),
    "q59_customer_growth" -> q((s, d) => Relational.customerGrowth(Tables.orders(s, d))),
    "q60_feature_scaling" -> q((s, d) => Relational.featureScaling(Tables.orders(s, d))),
    "ev_forecast_backtest" -> q((s, d) => Events.forecastBacktest(Tables.events(s, d))),
    "dedup_lsh_tuning" -> q((s, d) => Dedup.lshTuning(Tables.documents(s, d))),
    "text_drift" -> q((s, d) => TextAnalysis.corpusDrift(Tables.documents(s, d))),
    "q61_equiheight_histogram" -> q((s, d) => Relational.priceEquiHeightHistogram(Tables.orders(s, d))),
    "q62_skew_diagnosis" -> q((s, d) => Relational.joinSkewReport(Tables.lineitem(s, d))),
    "ev_path_entropy" -> q((s, d) => Events.pathEntropy(Tables.events(s, d))),
    "ev_new_vs_returning" -> q((s, d) => Events.newVsReturning(Tables.events(s, d))),
    "lake_commit_cadence" -> q((s, d) => Snapshots.commitCadence(Tables.orders(s, d))),
    "lake_rowgroup_prune" -> q((s, d) => Layout.rowGroupPrune(Tables.lineitem(s, d))),
    "q63_pareto" -> q((s, d) => Relational.paretoRevenue(Tables.lineitem(s, d))),
    "knn_ivfpq" -> q((s, d) => Ann.ivfPq(Tables.embeddings(s, d))),
    "q64_benford" -> q((s, d) => Relational.benfordScreen(Tables.orders(s, d))),
    "q65_gini" -> q((s, d) => Relational.giniRevenue(Tables.orders(s, d))),
    "ev_burstiness" -> q((s, d) => Events.burstiness(Tables.events(s, d))),
    "ev_audience_overlap" -> q((s, d) => Events.audienceOverlap(Tables.events(s, d))),
    "ev_churn_hazard" -> q((s, d) => Events.churnHazard(Tables.events(s, d))),
    "ev_survival" -> q((s, d) => Events.survivalCurve(Tables.events(s, d))),
    "ev_feature_lags" -> q((s, d) => Events.featureLags(Tables.events(s, d))),
    "mm_magic_bytes" -> q((s, d) => Multimodal.magicBytes(Tables.documents(s, d))),
    "dedup_blocks" -> q((s, d) => Dedup.blockDedup(Tables.documents(s, d))),
    "knn_mmr" -> q((s, d) => Ann.mmrTopK(Tables.embeddings(s, d))),
    "knn_coreset" -> q((s, d) => Ann.kCenterCoreset(Tables.embeddings(s, d))),
    "dedup_cdc" -> q((s, d) => Dedup.cdcDedup(Tables.documents(s, d))),
    "text_pii_scan" -> q((s, d) => TextAnalysis.piiScan(Tables.documents(s, d))),
    "knn_ivf_balance" -> q((s, d) => Ann.ivfBalance(Tables.embeddings(s, d))),
    "ev_approx_overlap" -> q((s, d) =>
      Events.approxAudienceOverlap(Tables.events(s, d), verify = true)),
    "q70_countmin" -> q((s, d) => Relational.countMinTopK(Tables.lineitem(s, d))),
    "q71_bloom_join" -> q((s, d) =>
      Relational.bloomJoinStats(Tables.orders(s, d), Tables.lineitem(s, d))),
    "lake_incremental_agg" -> q((s, d) => Snapshots.incrementalAgg(Tables.orders(s, d))),
    "ev_next_event" -> q((s, d) => Events.nextEventEval(Tables.events(s, d))),
    "dedup_soft" -> q((s, d) => Components.softDedupWeights(Tables.documents(s, d))),
    "text_lm_backoff" -> q((s, d) => TextAnalysis.lmBackoffScore(Tables.documents(s, d))),
    "text_kneser_ney" -> q((s, d) => TextAnalysis.kneserNeyScore(Tables.documents(s, d))),
    "q69_weighted_quantiles" -> q((s, d) => Relational.weightedQuantiles(Tables.lineitem(s, d))),
    "text_readability" -> q((s, d) => TextAnalysis.readability(Tables.documents(s, d))),
    "lake_bucket_pruning" -> q((s, d) => Layout.bucketPruning(Tables.lineitem(s, d))),
    "lake_partition_skew" -> q((s, d) => Layout.partitionSkew(Tables.lineitem(s, d))),
    "knn_filtered" -> q((s, d) => Ann.filteredTopK(Tables.embeddings(s, d))),
    "mm_source_mix" -> q((s, d) => Multimodal.sourceMix(Tables.documents(s, d))),
    "q66_decile_lift" -> q((s, d) => Relational.decileLift(Tables.orders(s, d))),
    "ev_markov_steady" -> q((s, d) => Events.markovSteady(Tables.events(s, d))),
    "dedup_semantic" -> q((s, d) => Components.semanticClusters(Tables.embeddings(s, d))),
    "knn_probe_sweep" -> q((s, d) => Ann.probeSweep(Tables.embeddings(s, d))),
    "mm_frame_dedup" -> q((s, d) => Multimodal.frameDedup(Tables.documents(s, d))),
    "mm_scene_cut" -> q((s, d) => Multimodal.sceneCut(Tables.documents(s, d))),
    "dedup_incremental" -> q((s, d) => Dedup.incrementalScreen(Tables.documents(s, d))),
    "lake_sort_key_choice" -> q((s, d) => Layout.sortKeyChoice(Tables.lineitem(s, d))),
    "ev_behavior_knn" -> q((s, d) => Events.behaviorKnn(Tables.events(s, d))),
    "ev_seasonal_anomaly" -> q((s, d) => Events.seasonalAnomaly(Tables.events(s, d))),
    "q67_reorder_cadence" -> q((s, d) => Relational.reorderCadence(Tables.customer(s, d), Tables.orders(s, d))),
    "knn_threshold_sweep" -> q((s, d) => Dedup.embeddingThresholdSweep(Tables.embeddings(s, d))),
    "mm_chunk_align" -> q((s, d) => Multimodal.chunkAlign(Tables.documents(s, d))),
    "text_weighted_sample" -> q((s, d) => TextAnalysis.weightedSample(Tables.documents(s, d))),
    "ev_cohort_retention" -> q((s, d) => Events.cohortRetention(Tables.events(s, d))),
    "q68_revenue_bridge" -> q((s, d) => Relational.revenueBridge(Tables.orders(s, d))),
    "lake_column_update_cost" -> q((s, d) => DeleteVectors.columnUpdateCost(Tables.lineitem(s, d))),
    "lake_fetch_latency" -> q((s, d) => Manifest.fetchLatency(Tables.lineitem(s, d))),
    "lake_inline_budget" -> q((s, d) => Manifest.inlineBudget(Tables.lineitem(s, d))),
    "lake_health_report" -> q((s, d) => graft.lake.Health.healthReport(Tables.lineitem(s, d))),
    "lake_eq_write_cost" -> q((s, d) => DeleteVectors.eqWriteCost(Tables.lineitem(s, d))),
    "lake_dv_strategies" -> q((s, d) => DeleteVectors.dvStrategies(Tables.lineitem(s, d))),
    "knn_mutual" -> q((s, d) => Ann.mutualTopK(Tables.embeddings(s, d))),
    "text_packing" -> q((s, d) => TextAnalysis.packPlan(Tables.documents(s, d))),
    "text_shard_plan" -> q((s, d) => TextAnalysis.shardPlan(Tables.documents(s, d))),
    "text_mix_plan" -> q((s, d) => TextAnalysis.mixPlan(Tables.documents(s, d))),
    "text_quality_budget" -> q((s, d) => TextAnalysis.qualityBudget(Tables.documents(s, d))),
    "text_pipeline_funnel" -> q((s, d) => TextAnalysis.pipelineFunnel(Tables.documents(s, d))),
    "dedup_split_leakage" -> q((s, d) => Components.splitLeakage(Tables.documents(s, d))),
    "dedup_jaccard_sweep" -> q((s, d) => Dedup.jaccardSweep(Tables.documents(s, d))),
    "dedup_substring" -> q((s, d) => Dedup.substringDup(Tables.documents(s, d))),
    "dedup_onion" -> q((s, d) => Dedup.onionCoverage(Tables.documents(s, d))),
    "dedup_minhash_calibration" -> q((s, d) => Dedup.minhashCalibration(Tables.documents(s, d))),
    "dedup_bloom" -> q((s, d) => Dedup.bloomScreen(Tables.documents(s, d))),
    "text_perplexity" -> q((s, d) => TextAnalysis.perplexityBuckets(Tables.documents(s, d))),
    "text_dsir" -> q((s, d) => TextAnalysis.dsirWeights(Tables.documents(s, d))),
    "mm_phash" -> q((s, d) => Multimodal.payloadPhash(Tables.documents(s, d))),
    "mm_crossmodal" -> q((s, d) => Multimodal.crossModalCoherence(Tables.documents(s, d), Tables.embeddings(s, d))),
    "mm_token_budget" -> q((s, d) => Multimodal.tokenBudget(Tables.documents(s, d))),
    "mm_quality_gate" -> q((s, d) => Multimodal.qualityGate(Tables.documents(s, d))),
  )

  /** Shipped-shape overrides for the approximate sketch queries: the
    * `queries` entries run `verify = true` so the correctness artifact
    * carries exact anchors + `within_bound` proof columns (all
    * oracle-checked — the CrossSketch estimates are cross-engine
    * deterministic), but that verification pass buffers exact anchors
    * (O(distinct users) state / a second scan) that a production run would
    * drop. Bench and Audit measure THESE sketch-only variants instead, so
    * recorded time and audited plan shape describe the query a user
    * actually ships. Keys not present here fall through to `queries`
    * (q30's histogram sketch has no exact anchor, so its shipped shape IS
    * its checked shape). */
  def benchVariants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_approx_users" -> q((s, d) => Events.approxDailyUsers(Tables.events(s, d))),
    "lake_puffin_ndv" -> q((s, d) => Manifest.puffinNdv(Tables.lineitem(s, d))),
    "ev_approx_overlap" -> q((s, d) => Events.approxAudienceOverlap(Tables.events(s, d))),
  )

  /** One representative query per MEMOIZED shared fixture (the iceberg
    * physical-table builders and the dedup/LSH family pipelines —
    * everything `plans.Memo` serves): the bench runs these once in a
    * RECORDED `setup` phase before the timed suite, so per-query times
    * measure the QUERY (scan/plan/agg) instead of whichever family member
    * happened to run first paying the one-time fixture build (the r11/r12
    * verdicts traced every spurious >2×-baseline row to exactly that
    * attribution). Keep in sync with the `Memo.memoize` call sites. */
  val benchSetupQueries: Seq[String] = Seq(
    "iceberg_roundtrip",           // iceberg.table
    "iceberg_mor_read",            // iceberg.table.mor
    "iceberg_compact",             // iceberg.table.compact
    "iceberg_expire",              // iceberg.table.expire
    "iceberg_wap",                 // iceberg.table.wap
    "iceberg_refs",                // iceberg.table.refs
    "iceberg_schema_evolution",    // iceberg.table.schema
    "iceberg_partition_evolution", // iceberg.table.evo
    "iceberg_pos_dv",              // iceberg.table.posdv
    "iceberg_mixed_deletes",       // iceberg.table.mixed
    "iceberg_dv_puffin",           // iceberg.table.dvpuffin
    "iceberg_manifest_tree",       // iceberg.table.tree
    "iceberg_tree3",               // iceberg.table.tree3
    "iceberg_delete_storm",        // iceberg.table.storm
    "iceberg_gc_cliff",            // iceberg.table.cliff
    "iceberg_row_lineage",         // iceberg.table.rowlineage
    "iceberg_orphan_scan",         // iceberg.table.orphan
    "iceberg_bucket_prune",        // iceberg.table.bucket
    "iceberg_bucket_evolution",    // iceberg.table.bucketevo
    "iceberg_bucket_mor",          // iceberg.table.bucketmor
    "iceberg_rewrite_manifests",   // iceberg.table.rewrite
    "iceberg_commit_series",       // iceberg.table.series
    "iceberg_manifest_merge",      // iceberg.table.mergepolicy
    "iceberg_zorder_rewrite",      // iceberg.table.zorder
    "iceberg_dv_compact",          // iceberg.table.dvcompact
    "iceberg_rewrite_deletes",     // iceberg.table.rewritedel
    "iceberg_rewrite_dv_only",     // iceberg.table.rwdvonly
    "iceberg_rewrite_pos_only",    // iceberg.table.rwposonly
    "iceberg_update_mor",          // iceberg.table.update
    "iceberg_rollback",            // iceberg.table.rollback
    "iceberg_cherry_pick",         // iceberg.table.cherrypick
    "iceberg_sql_select",          // iceberg.sqlcat (warehouse + both tables)
    "iceberg_sql_update",          // iceberg.sqlrl (row-level-verb warehouse)
    "iceberg_sql_merge2",          // iceberg.sqlr18 (drop/rename/merge2/stream warehouse)
    "iceberg_sql_alter_widen",     // iceberg.sqlwiden (type-promotion warehouse)
    "iceberg_sql_properties",      // iceberg.sqlprops (properties warehouse)
    "iceberg_sql_call2",           // iceberg.sqlcall2 (maintenance-procs warehouse)
    "iceberg_sql_replace",         // iceberg.sqlreplace (RTAS warehouse)
    "iceberg_sql_call",            // iceberg.sqlcall (procedures warehouse)
    "iceberg_sql_branch_write",    // iceberg.sqlbw (branch-write warehouse)
    "iceberg_sql_truncate",        // iceberg.sqltrunc (truncate/purge warehouse)
    "lake_column_update_exec",     // iceberg.table.update.exec (CoW/colfile arms)
    "iceberg_catalog",             // iceberg.catalog
    "iceberg_puffin",              // iceberg.puffin
    "iceberg_sort_skipping",       // the two sort-layout tables
    "dedup_minhash",               // dedup.tokids + the MinHash bundle
    "dedup_embedding",             // dedup.embpairs banded cosine pairs
    "dedup_ngram_jaccard",         // dedup.shinglePairs
    "dedup_substring",             // dedup.substr.runs
    "dedup_components")            // dedup.components

  /** Shared oracle fragments (documents tokenizer + embedding prep). */
  private val tokSql = """string_split_regex(trim(text), '\s+')"""
  /** Exact-substring screen CTE chain ending in
    * `r2(doc_a, doc_b, diag, sa, sb, run_len)` (the maximal ≥16-token
    * cross-doc runs) and `dl(doc_id, n_tok)` — mirrors
    * [[graft.dedup.Dedup.substrRuns]]; shared by the dedup_substring and
    * dedup_onion oracles. Constants (8-token anchors, occurrence cap 100,
    * min run 16) mirror SubstrAnchorLen/SubstrMaxAnchorOcc/minRun. */
  private val substrCtes =
    s"""t AS (SELECT doc_id, $tokSql AS tk FROM documents),
      | dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM t),
      | a AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
      |    tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS sh
      |   FROM t, unnest(range(1, len(tk) - 6)) AS u(i)),
      | keep AS (SELECT sh FROM a GROUP BY sh HAVING count(*) <= 100),
      | af AS (SELECT a.* FROM a JOIN keep USING (sh)),
      | m AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, x.pos AS pa,
      |    x.pos - y.pos AS diag
      |   FROM af x JOIN af y USING (sh) WHERE x.doc_id < y.doc_id),
      | runs AS (SELECT doc_a, doc_b, diag, min(pa) AS sa,
      |    count(*) + 7 AS run_len
      |   FROM (SELECT doc_a, doc_b, diag, pa,
      |      pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
      |     FROM m)
      |   GROUP BY doc_a, doc_b, diag, grp HAVING count(*) + 7 >= 16),
      | r2 AS (SELECT doc_a, doc_b, diag, sa, run_len, sa - diag AS sb FROM runs)""".stripMargin
  private val embPrepSql =
    """b AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      | n AS (SELECT vec_id, label, v,
      |   sqrt(list_reduce(list_transform(v, x -> x * x), (a, c) -> a + c)) AS nrm FROM b)""".stripMargin
  /** LSH-banded embedding near-dup candidate CTEs ending in
    * p(vec_a, vec_b, cos) — shared by the dedup_embedding and
    * dedup_semantic oracles. The banding is CORPUS-ADAPTIVE
    * ([[Dedup.embBandParams]]): rows-per-band from an integer-exact
    * power-of-two ladder over ceil(n/64), band count from the inlined
    * B(r) table — both reproduce the Scala values bit-for-bit with no
    * float log/pow in either engine. Plane weights are the same integer
    * formula the Scala side inlines as literals, here computed per
    * (plane, dim) inside list_transform (1-based i matches p1). */
  private val embBandPairCtes: String = {
    val rLadder = (0 to 40).map(k => s"WHEN m <= ${1L << k} THEN $k").mkString(" ")
    val bTable = Dedup.embBandsForTable.mkString("[", ", ", "]")
    s""" nv AS (SELECT greatest(1, (count(*) + 63) // 64) AS m FROM n),
       | rsel AS (SELECT greatest(${Dedup.EmbBandRows}, CASE $rLadder END) AS r FROM nv),
       | bsel AS (SELECT r, ($bTable)[CAST(least(r, 40) AS INT) + 1] AS nb FROM rsel),
       | pl AS (SELECT gb.band AS band, gr.rk AS rk, gb.band * b.r + gr.rk AS j
       |   FROM bsel b, generate_series(0, 4095) gb(band), generate_series(0, 40) gr(rk)
       |   WHERE gb.band < b.nb AND gr.rk < b.r),
       | proj AS (SELECT n.vec_id, pl.band, pl.rk,
       |   list_reduce(list_transform(n.v,
       |     (x, i) -> x * ((((pl.j * 73856093 + i * 19349663) % 1000003) % 21) - 10)),
       |     (a, c) -> a + c) AS p
       |  FROM n, pl),
       | bands AS (SELECT vec_id, band,
       |   CAST(sum(CASE WHEN p > 0 THEN (1 << rk) ELSE 0 END) AS BIGINT) AS bkey
       |  FROM proj GROUP BY vec_id, band),
       | cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
       | p AS (SELECT vec_a, vec_b,
       |   round(list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), (x, y) -> x + y)
       |         / (a.nrm * b.nrm), 6) AS cos
       |  FROM cand JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b)""".stripMargin
  }

  /** Adaptive-LSH bucket CTEs ending in g(vec_id, v, nrm, bucket), with
    * pj(j) = the selected plane ids (multi-probe flips one per plane) —
    * mirrors [[graft.similarity.Ann.lshPlanes]] / `lshPlaneWeight`
    * bit-for-bit: the plane count comes from the same integer power-of-two
    * ladder over ceil(n/64) (no float log in either engine) and the plane
    * weights from the same large-prime double-mod inlined as literals
    * (1-based list_transform index i matches the Scala side's p1). */
  private val lshBucketCtes: String = {
    val ladder = (0 to 48).map(k => s"WHEN m <= ${1L << k} THEN $k").mkString(" ")
    s""" nv AS (SELECT greatest(1, (count(*) + 63) // 64) AS m FROM n),
       | psel AS (SELECT least(48, greatest(3, CASE $ladder ELSE 49 END)) AS np FROM nv),
       | pj AS (SELECT gj.j AS j FROM psel p, generate_series(0, 47) gj(j) WHERE gj.j < p.np),
       | proj AS (SELECT n.vec_id, pj.j,
       |   list_reduce(list_transform(n.v,
       |     (x, i) -> x * ((((pj.j * 15485863 + i * 32452843) % 1000003) % 21) - 10)),
       |     (a, c) -> a + c) AS p
       |  FROM n, pj),
       | gb AS (SELECT vec_id,
       |   CAST(sum(CASE WHEN p > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM proj GROUP BY vec_id),
       | g AS (SELECT n.vec_id, n.v, n.nrm, gb.bucket FROM n JOIN gb USING (vec_id))""".stripMargin
  }

  private val minhashSigSql: String =
    (0 until Dedup.MinhashK)
      .map(k => s"min((tid * ${Dedup.hashA(k)} + ${Dedup.hashB(k)}) % ${Dedup.MinhashP}) AS m$k")
      .mkString(", ")

  /** MinHash CTE chain ending in mh_pairs(doc_a, doc_b, est) — shared by the
    * dedup_minhash and dedup_components oracles; `base` lets the funnel
    * oracle run the identical chain over a survivor CTE (the vocabulary is
    * rebuilt from the base corpus on both engines, keeping ids in lockstep). */
  private def minhashCtesOver(base: String): String =
    s"""tok AS (SELECT DISTINCT doc_id, unnest($tokSql) AS token FROM $base),
      | vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
      |           FROM (SELECT DISTINCT token FROM tok)),
      | tt AS (SELECT doc_id, tid FROM tok JOIN vocab USING (token)),
      | sig AS (SELECT doc_id, $minhashSigSql FROM tt GROUP BY doc_id),
      | sa AS (SELECT *, ${(0 until Dedup.MinhashK).map(k => s"m$k").mkString("[", ", ", "]")} AS sg FROM sig),
      | bands AS (
      |   SELECT doc_id, sg, 0 AS band, concat_ws(',', m0, m1, m2, m3) AS bkey FROM sa
      |   UNION ALL SELECT doc_id, sg, 1, concat_ws(',', m4, m5, m6, m7) FROM sa
      |   UNION ALL SELECT doc_id, sg, 2, concat_ws(',', m8, m9, m10, m11) FROM sa
      |   UNION ALL SELECT doc_id, sg, 3, concat_ws(',', m12, m13, m14, m15) FROM sa),
      | cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.sg AS sga, y.sg AS sgb
      |   FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      | mh_pairs AS (SELECT doc_a, doc_b,
      |   len(list_filter(list_zip(sga, sgb), p -> p[1] = p[2])) / 16.0 AS e FROM cand)""".stripMargin

  private val minhashCtes: String = minhashCtesOver("documents")

  /** Shingle candidate-pair CTE chain ending in j(doc_a, doc_b, common,
    * jaccard) — shared by the dedup_ngram_jaccard and dedup_jaccard_sweep
    * oracles (mirror of the memoized Spark-side `Dedup.shinglePairCommon`). */
  private val shinglePairCtes: String =
    s"""t AS (SELECT doc_id, $tokSql AS tk FROM documents),
      | sh0 AS (SELECT DISTINCT doc_id, unnest(list_filter(
      |   list_transform(tk, (x, i) -> CASE WHEN i + 2 <= len(tk) THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] END),
      |   y -> y IS NOT NULL)) AS sh FROM t),
      | keep AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM sh0 GROUP BY 1)
      |          WHERE df <= ${Dedup.ShingleMaxDf}),
      | sh AS (SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN keep USING (sh)),
      | sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      | pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |   FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2),
      | j AS (SELECT doc_a, doc_b, common,
      |   round(common * 1.0 / (na.n_sh + nb.n_sh - common), 6) AS jaccard
      |  FROM pairs JOIN sz na ON na.doc_id = doc_a JOIN sz nb ON nb.doc_id = doc_b)""".stripMargin

  /** Sessionization CTE chain ending in sess(...) — shared by ev_sessionize
    * and ev_top_sessions oracles. */
  private val sessionizeCtes: String =
    """e AS (SELECT user_id, event_id, ts, value,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |        OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_sess
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      | s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq FROM e),
      | sess AS (SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq, count(*) AS n_events,
      |   min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms,
      |   round(sum(value), 4) AS session_value,
      |   max(epoch_ms(ts)) - min(epoch_ms(ts)) AS duration_ms
      |  FROM s GROUP BY user_id, session_seq)""".stripMargin

  /** Quality-score CTE chain ending in qual(doc_id, stop_ratio, punct_ratio,
    * quality) — shared by the text_quality and dedup_keep_best oracles. */
  /** `base` lets the sampled-verify oracle run the identical chain over a
    * subsample CTE (same pattern as [[minhashCtesOver]]). */
  private def qualityCtesOver(base: String): String =
    s"""tq AS (SELECT doc_id, text, $tokSql AS tk FROM $base),
      | q0 AS (SELECT doc_id,
      |  len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is','on','for','with'))) * 1.0 / len(tk) AS stop_ratio,
      |  (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) * 1.0 / length(text) AS punct_ratio,
      |  len(tk) AS n_tokens
      | FROM tq),
      | qual AS (SELECT doc_id, round(stop_ratio, 6) AS stop_ratio, round(punct_ratio, 6) AS punct_ratio,
      |  round(0.5 * stop_ratio + 0.3 * least(n_tokens / 50.0, 1.0) + 0.2 * (1.0 - punct_ratio), 6) AS quality
      | FROM q0)""".stripMargin

  private val qualityCtes: String = qualityCtesOver("documents")

  /** Shared SQL fragment: the deterministic (file_id, pos) data-file model.
    * Single definition lives in graft.lake.FileModel next to the Scala one. */
  private val fileModelSql: String = FileModel.sqlModel(40)

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),4) AS sum_qty,
        | round(sum(l_extendedprice),4) AS sum_base_price,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS sum_disc_price,
        | round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)),4) AS sum_charge,
        | round(avg(l_quantity),6) AS avg_qty,
        | round(avg(l_extendedprice),6) AS avg_price,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2001-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-02-01'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | o_orderpriority,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q4_broadcast_join" ->
      """SELECT p_brand,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue,
        | count(*) AS line_count
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT round(sum(l_extendedprice*l_discount),4) AS revenue, count(*) AS line_count
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,

    "q7_window_topk" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice,2) AS o_totalprice, rk FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q8_window_running" ->
      """SELECT o_custkey, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | round(o_totalprice,2) AS o_totalprice,
        | round(sum(o_totalprice) OVER w_run, 4) AS running_spend,
        | round(avg(o_totalprice) OVER w_tr3, 6) AS moving_avg3,
        | round(coalesce(lag(o_totalprice,1) OVER w_ord, 0.0), 2) AS prev_price
        |FROM orders WHERE o_custkey < 200
        |WINDOW
        | w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        | w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        | w_tr3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q9_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_extendedprice),4) AS sum_price,
        | round(sum(l_quantity),4) AS sum_qty,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q10_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        | round(sum(o_totalprice),4) AS sum_price, count(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q11_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "q12_anti_join" ->
      """SELECT p_partkey, p_name, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey AND l_shipdate >= TIMESTAMP '2001-01-01')
        |ORDER BY p_partkey""".stripMargin,

    "q13_scalar_subquery" ->
      """SELECT l_returnflag, count(*) AS n, round(avg(l_quantity),6) AS avg_qty
        |FROM lineitem
        |WHERE l_quantity > (SELECT avg(l_quantity) FROM lineitem)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_conditional_agg" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count,
        | round(sum(l_extendedprice),4) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= o_orderdate
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q15_distinct_agg" ->
      """SELECT c_mktsegment,
        | count(DISTINCT l_partkey) AS distinct_parts,
        | count(DISTINCT o_orderkey) AS distinct_orders,
        | count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q16_union_set" ->
      """SELECT 'customer' AS kind, c_custkey AS acct_key, round(c_acctbal,2) AS acctbal
        |FROM customer WHERE c_acctbal > 9000
        |UNION ALL
        |SELECT 'supplier' AS kind, s_suppkey AS acct_key, round(s_acctbal,2) AS acctbal
        |FROM supplier WHERE s_acctbal > 9000
        |ORDER BY kind, acct_key""".stripMargin,

    "q17_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice,2) AS l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,

    "q18_asof_join" ->
      """SELECT p.event_id AS event_id, p.user_id AS user_id,
        | s.event_id AS signup_event_id,
        | epoch_ms(p.ts) - epoch_ms(s.ts) AS wait_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'signup') s
        | ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY p.event_id""".stripMargin,

    "q19_range_join" ->
      """SELECT band, count(*) AS n,
        | round(sum(l_extendedprice),4) AS sum_price,
        | round(avg(l_discount),6) AS avg_disc
        |FROM lineitem
        |JOIN (SELECT 'B' || CASE WHEN i < 10 THEN '0' || i ELSE CAST(i AS VARCHAR) END AS band,
        |             i * 10000.0 AS lo, (i + 1) * 10000.0 AS hi
        |      FROM (SELECT unnest(range(0, 11)) AS i)) bands
        | ON l_extendedprice >= lo AND l_extendedprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q20_approx_quantiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.25),4) AS p25,
        | round(quantile_cont(l_extendedprice, 0.5),4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.75),4) AS p75,
        | round(quantile_cont(l_extendedprice, 0.99),4) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "lake_manifest_stats" ->
      """SELECT file_id, count(*) AS record_count,
        | strftime(min(l_shipdate),'%Y-%m-%d') AS min_shipdate,
        | strftime(max(l_shipdate),'%Y-%m-%d') AS max_shipdate,
        | round(min(l_extendedprice),2) AS min_price,
        | round(max(l_extendedprice),2) AS max_price,
        | count(DISTINCT l_partkey) AS distinct_parts
        |FROM (SELECT *, l_orderkey % 40 AS file_id FROM lineitem) f
        |GROUP BY file_id ORDER BY file_id""".stripMargin,

    "lake_prune_files" ->
      """SELECT file_id, min_shipdate, max_shipdate,
        | (max_shipdate >= '1997-01-01' AND min_shipdate <= '1997-03-31') AS keep
        |FROM (SELECT file_id,
        |  strftime(min(l_shipdate),'%Y-%m-%d') AS min_shipdate,
        |  strftime(max(l_shipdate),'%Y-%m-%d') AS max_shipdate
        | FROM (SELECT *, l_orderkey % 40 AS file_id FROM lineitem) f
        | GROUP BY file_id) s
        |ORDER BY file_id""".stripMargin,

    "lake_skip_rate" ->
      """WITH g AS (SELECT min(l_shipdate) AS gmin, max(l_shipdate) AS gmax FROM lineitem),
        | u AS (
        |  SELECT 'unsorted' AS layout, l_orderkey % 40 AS file_id, l_shipdate FROM lineitem
        |  UNION ALL
        |  SELECT 'sorted' AS layout,
        |   least(CAST(floor(date_diff('day', CAST(gmin AS DATE), CAST(l_shipdate AS DATE)) * 40.0
        |     / (date_diff('day', CAST(gmin AS DATE), CAST(gmax AS DATE)) + 1)) AS BIGINT), 39) AS file_id,
        |   l_shipdate
        |  FROM lineitem, g),
        | f AS (SELECT layout, file_id, min(l_shipdate) AS fmin, max(l_shipdate) AS fmax
        |       FROM u GROUP BY layout, file_id)
        |SELECT layout, count(*) AS files_total,
        | CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
        | round(sum(CASE WHEN skipped THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS skip_rate_pct,
        | round(avg(span_pct), 4) AS avg_span_pct
        |FROM (
        | SELECT layout, file_id,
        |  CAST(date_diff('day', CAST(fmin AS DATE), CAST(fmax AS DATE)) AS DOUBLE)
        |    / date_diff('day', CAST(gmin AS DATE), CAST(gmax AS DATE)) * 100.0 AS span_pct,
        |  (fmax < TIMESTAMP '1997-01-01' OR fmin > TIMESTAMP '1997-03-31') AS skipped
        | FROM f, g) t
        |GROUP BY layout ORDER BY layout""".stripMargin,

    "knn_ivfpq" ->
      s"""WITH $embPrepSql,
        | ex AS (SELECT vec_id, label, unnest(list_transform(v, (x, i) -> {'pos': i, 'x': x})) AS px FROM b),
        | ce AS (SELECT label AS clabel, px.pos AS pos, round(avg(px.x), 9) AS c FROM ex GROUP BY 1, 2),
        | cv AS (SELECT clabel, list(c ORDER BY pos) AS cvec FROM ce GROUP BY 1),
        | cn2 AS (SELECT clabel, cvec,
        |   sqrt(list_reduce(list_transform(cvec, x -> x * x), (a, c2) -> a + c2)) AS cn FROM cv),
        | sc AS (SELECT n.vec_id, n.label, cn2.clabel, cn2.cvec, n.v,
        |   round(list_reduce(list_transform(list_zip(n.v, cn2.cvec), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (n.nrm * cn2.cn), 6) AS cos
        |  FROM n, cn2),
        | pr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rk FROM sc),
        | asg AS (SELECT vec_id, label, clabel AS cell,
        |   list_transform(list_zip(v, cvec), z -> z[1] - z[2]) AS res FROM pr WHERE rk = 1),
        | subs AS (SELECT vec_id, label, cell, sub_id,
        |   list_slice(res, sub_id * 8 + 1, sub_id * 8 + 8) AS sv
        |  FROM asg, range(8) AS r(sub_id)),
        | ex2 AS (SELECT sub_id, label AS code,
        |   unnest(list_transform(sv, (x, i) -> {'pos': i, 'x': x})) AS px FROM subs),
        | ce2 AS (SELECT sub_id, code, px.pos AS pos, round(avg(px.x), 9) AS c FROM ex2 GROUP BY 1, 2, 3),
        | cb AS (SELECT sub_id, code, list(c ORDER BY pos) AS cbv FROM ce2 GROUP BY 1, 2),
        | d AS (SELECT vec_id, cell, s.sub_id AS sub_id, code,
        |   round(list_reduce(list_transform(sv, x -> x * x), (a, b2) -> a + b2), 9) AS res_sq,
        |   round(list_reduce(list_transform(list_zip(sv, cbv), z -> (z[1] - z[2]) * (z[1] - z[2])),
        |     (a, b2) -> a + b2), 9) AS sq_err
        |  FROM subs s JOIN cb ON s.sub_id = cb.sub_id),
        | p AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY sq_err, code) AS rk FROM d),
        | pv AS (SELECT vec_id, cell, round(sum(res_sq), 9) AS res_energy, round(sum(sq_err), 9) AS pq_err
        |  FROM p WHERE rk = 1 GROUP BY 1, 2)
        |SELECT cell, count(*) AS n_vectors,
        | round(sum(CAST(round(res_energy * 1000000000) AS BIGINT)) / (count(*) * 1000000000.0), 6) AS avg_res_energy,
        | round(sum(CAST(round(pq_err * 1000000000) AS BIGINT)) / (count(*) * 1000000000.0), 6) AS avg_pq_err
        |FROM pv GROUP BY 1 ORDER BY 1""".stripMargin,

    "q63_pareto" ->
      """WITH rev AS (SELECT l_partkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem GROUP BY 1),
        | c AS (SELECT rev_c, sum(rev_c) OVER (ORDER BY -rev_c
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c FROM rev),
        | t AS (SELECT CAST(unnest([50, 80, 90, 95]) AS BIGINT) AS threshold),
        | tot AS (SELECT sum(rev_c) AS tot_c, count(*) AS npt FROM rev)
        |SELECT threshold,
        | CAST(sum(CASE WHEN cum_c * 100 < threshold * tot_c THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_parts,
        | CAST(max(npt) AS BIGINT) AS n_parts_total,
        | round(min(CASE WHEN cum_c * 100 >= threshold * tot_c THEN cum_c END) * 100.0 / max(tot_c), 4) AS covered_pct,
        | round((sum(CASE WHEN cum_c * 100 < threshold * tot_c THEN 1 ELSE 0 END) + 1) * 100.0 / max(npt), 4) AS pct_of_parts
        |FROM c, t, tot GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_rowgroup_prune" ->
      """WITH g AS (SELECT CAST(min(l_shipdate) AS DATE) AS gmind, CAST(max(l_shipdate) AS DATE) AS gmaxd
        |  FROM lineitem),
        | u AS (
        |  SELECT 'unsorted' AS layout, l_orderkey % 20 AS file_id, (l_orderkey // 20) % 4 AS rg_id,
        |   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'sorted', fine // 4, fine % 4, d FROM (
        |   SELECT least(CAST(floor(date_diff('day', gmind, CAST(l_shipdate AS DATE)) * 80.0
        |     / (date_diff('day', gmind, gmaxd) + 1)) AS BIGINT), 79) AS fine,
        |    date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d
        |   FROM lineitem, g)),
        | rg AS (SELECT layout, file_id, rg_id, min(d) AS rmin, max(d) AS rmax FROM u GROUP BY 1, 2, 3),
        | fr AS (SELECT *, min(rmin) OVER (PARTITION BY layout, file_id) AS fmin,
        |   max(rmax) OVER (PARTITION BY layout, file_id) AS fmax FROM rg),
        | fl AS (SELECT layout, file_id,
        |   (rmax < date_diff('day', DATE '1970-01-01', DATE '1997-01-01')
        |    OR rmin > date_diff('day', DATE '1970-01-01', DATE '1997-03-31')) AS rg_skip,
        |   (fmax < date_diff('day', DATE '1970-01-01', DATE '1997-01-01')
        |    OR fmin > date_diff('day', DATE '1970-01-01', DATE '1997-03-31')) AS file_skip
        |  FROM fr)
        |SELECT layout, count(DISTINCT file_id) AS files_total,
        | count(DISTINCT CASE WHEN file_skip THEN file_id END) AS files_skipped,
        | count(*) AS rowgroups_total,
        | CAST(sum(CASE WHEN rg_skip THEN 1 ELSE 0 END) AS BIGINT) AS rowgroups_skipped,
        | CAST(sum(CASE WHEN rg_skip AND NOT file_skip THEN 1 ELSE 0 END) AS BIGINT) AS rg_extra_skipped,
        | round(count(DISTINCT CASE WHEN file_skip THEN file_id END) * 100.0 / count(DISTINCT file_id), 4) AS file_skip_pct,
        | round(sum(CASE WHEN rg_skip THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS rg_skip_pct
        |FROM fl GROUP BY layout ORDER BY layout""".stripMargin,

    "lake_dv_apply" ->
      s"""WITH d AS ($fileModelSql),
        | dv AS (SELECT file_id, pos FROM d WHERE (l_orderkey*31 + l_linenumber) % 10 = 3)
        |SELECT l_returnflag, count(*) AS live_rows, round(sum(l_quantity),4) AS live_qty
        |FROM d WHERE NOT EXISTS (SELECT 1 FROM dv WHERE dv.file_id = d.file_id AND dv.pos = d.pos)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "lake_dv_fold" ->
      s"""WITH d AS ($fileModelSql),
        | m AS (SELECT file_id, pos, 1 AS seq FROM d WHERE pos % 7 = 1
        |       UNION ALL
        |       SELECT file_id, pos, 2 AS seq FROM d WHERE pos % 5 = 2 AND file_id % 4 = 0),
        | fold AS (SELECT file_id, pos, max(seq) AS winning_seq FROM m GROUP BY file_id, pos)
        |SELECT file_id, count(*) AS n_deletes,
        | CAST(sum(CASE WHEN winning_seq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS from_seq2
        |FROM fold GROUP BY file_id ORDER BY file_id""".stripMargin,

    "lake_dv_density" ->
      """WITH pf AS (
        | SELECT l_orderkey % 40 AS file_id, count(*) AS record_count,
        |  CAST(sum(CASE WHEN (l_orderkey*31 + l_linenumber) % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS deleted
        | FROM lineitem GROUP BY 1)
        |SELECT file_id, record_count, deleted,
        | round(CAST(deleted AS DOUBLE) / record_count, 6) AS density,
        | CASE WHEN deleted * 4 <= CAST(ceil(record_count / 8.0) AS BIGINT) THEN 'positions' ELSE 'bitmap' END AS encoding,
        | least(deleted * 4, CAST(ceil(record_count / 8.0) AS BIGINT)) AS dv_bytes,
        | CASE WHEN least(deleted * 4, CAST(ceil(record_count / 8.0) AS BIGINT)) <= 4096 THEN 'inline'
        |      WHEN least(deleted * 4, CAST(ceil(record_count / 8.0) AS BIGINT)) <= 10485760 THEN 'external'
        |      ELSE 'partitioned' END AS storage
        |FROM pf ORDER BY file_id""".stripMargin,

    "lake_dv_roaring" ->
      s"""WITH fm AS ($fileModelSql),
        | d AS (SELECT file_id, pos FROM fm WHERE (l_orderkey * 31 + l_linenumber) % 10 = 3),
        | rc AS (SELECT file_id, count(*) AS record_count FROM fm GROUP BY 1),
        | c AS (SELECT file_id, pos // 65536 AS hi, pos FROM d),
        | i AS (SELECT file_id, hi, pos,
        |   pos - row_number() OVER (PARTITION BY file_id, hi ORDER BY pos) AS grp FROM c),
        | cont AS (SELECT file_id, hi, count(*) AS card, count(DISTINCT grp) AS n_runs
        |   FROM i GROUP BY 1, 2),
        | e AS (SELECT file_id, card, n_runs,
        |   CASE WHEN n_runs * 4 + 2 < least(card * 2, 8192) THEN 'run'
        |        WHEN card < 4096 THEN 'array' ELSE 'bitmap' END AS ctype FROM cont),
        | e2 AS (SELECT *, CASE ctype WHEN 'run' THEN n_runs * 4 + 2
        |                             WHEN 'array' THEN card * 2 ELSE 8192 END AS cbytes FROM e),
        | f AS (SELECT file_id, CAST(sum(card) AS BIGINT) AS deleted,
        |   count(*) AS n_containers,
        |   CAST(sum(CASE WHEN ctype = 'array' THEN 1 ELSE 0 END) AS BIGINT) AS n_array,
        |   CAST(sum(CASE WHEN ctype = 'bitmap' THEN 1 ELSE 0 END) AS BIGINT) AS n_bitmap,
        |   CAST(sum(CASE WHEN ctype = 'run' THEN 1 ELSE 0 END) AS BIGINT) AS n_run,
        |   CAST(sum(cbytes) AS BIGINT) AS container_bytes FROM e2 GROUP BY 1),
        | g AS (SELECT f.file_id, deleted, n_containers, n_array, n_bitmap, n_run,
        |   CAST(8 + ceil(n_containers / 8.0) + n_containers * 4 + container_bytes AS BIGINT) AS roaring_bytes,
        |   CAST(least(deleted * 4, CAST(ceil(record_count / 8.0) AS BIGINT)) AS BIGINT) AS naive_bytes
        |  FROM f JOIN rc ON f.file_id = rc.file_id)
        |SELECT file_id, deleted, n_containers, n_array, n_bitmap, n_run,
        | roaring_bytes, naive_bytes,
        | round(naive_bytes * 1.0 / roaring_bytes, 4) AS compression_x,
        | CASE WHEN roaring_bytes <= 4096 THEN 'inline' ELSE 'external' END AS storage
        |FROM g ORDER BY file_id""".stripMargin,

    // The iceberg_* oracles check the REAL IcebergTable metadata layer:
    // the table layout is a deterministic function of lineitem (one file
    // per month per snapshot, one manifest per snapshot, split at
    // SnapshotCut), so DuckDB can recompute every census number the
    // metadata tree reports without reading any Avro.
    "iceberg_roundtrip" ->
      s"""WITH mt AS (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS files_total
        |   FROM lineitem),
        | sc AS (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS files_scanned
        |   FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03')
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | mt.files_total, sc.files_scanned,
        | CAST(2 AS BIGINT) AS manifests_total, CAST(1 AS BIGINT) AS manifests_read,
        | CAST(2 AS BIGINT) AS n_snapshots
        |FROM lineitem, mt, sc
        |WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'
        |GROUP BY 1, mt.files_total, sc.files_scanned ORDER BY 1""".stripMargin,

    "iceberg_snapshots" ->
      s"""WITH b AS (SELECT CASE WHEN l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |     THEN 1 ELSE 2 END AS sid,
        |   strftime(l_shipdate, '%Y-%m') AS m FROM lineitem),
        | p AS (SELECT sid, CAST(count(*) AS BIGINT) AS added_rows,
        |   CAST(count(DISTINCT m) AS BIGINT) AS added_files FROM b GROUP BY 1)
        |SELECT CAST(sid AS BIGINT) AS snapshot_id, CAST(sid AS BIGINT) AS sequence_number,
        | 'append' AS operation, CAST(sid AS BIGINT) AS n_manifests,
        | added_files, added_rows,
        | CAST(sum(added_rows) OVER (ORDER BY sid) AS BIGINT) AS total_rows
        |FROM p ORDER BY snapshot_id""".stripMargin,

    "iceberg_mor_read" ->
      s"""WITH sc AS (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT)
        |     AS data_files_scanned
        |   FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'),
        | dk AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS deleted_keys
        |   FROM lineitem WHERE l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} = 3)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | sc.data_files_scanned, CAST(1 AS BIGINT) AS delete_files, dk.deleted_keys,
        | CAST(3 AS BIGINT) AS n_snapshots
        |FROM lineitem, sc, dk
        |WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'
        |  AND l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} <> 3
        |GROUP BY 1, sc.data_files_scanned, dk.deleted_keys ORDER BY 1""".stripMargin,

    // Position deletes: the deleted POSITIONS were picked by predicate over
    // the immutable files, so the survivors are exactly the predicate's
    // complement and the delete file's cardinality is the predicate's count.
    "iceberg_pos_dv" ->
      s"""WITH sc AS (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT)
        |     AS data_files_scanned
        |   FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'),
        | dp AS (SELECT CAST(count(*) AS BIGINT) AS deleted_positions
        |   FROM lineitem WHERE l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} = ${iceberg.IcebergOps.PosDeleteResidue})
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | sc.data_files_scanned, CAST(1 AS BIGINT) AS pos_delete_files, dp.deleted_positions,
        | CAST(3 AS BIGINT) AS n_snapshots
        |FROM lineitem, sc, dp
        |WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'
        |  AND l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} <> ${iceberg.IcebergOps.PosDeleteResidue}
        |GROUP BY 1, sc.data_files_scanned, dp.deleted_positions ORDER BY 1""".stripMargin,

    // Catalog census: two committed tables (pre/post-cut halves) under one
    // namespace; the dropped scratch table must leave no trace.
    "iceberg_catalog" ->
      s"""WITH pre AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS f
        |   FROM lineitem WHERE l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'),
        | post AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS f
        |   FROM lineitem WHERE l_shipdate >= TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}')
        |SELECT 'li_post' AS table_name, CAST(1 AS BIGINT) AS n_snapshots,
        |   post.f AS n_files, post.n AS n_rows, CAST(2 AS BIGINT) AS n_tables FROM post
        |UNION ALL
        |SELECT 'li_pre', CAST(1 AS BIGINT), pre.f, pre.n, CAST(2 AS BIGINT) FROM pre
        |ORDER BY table_name""".stripMargin,

    // Real Puffin statistics file: the KMV hash is plain integer SQL, so
    // DuckDB recomputes each column's k-th minimum distinct hash and lands
    // on the identical NDV estimate; blob lengths/offsets follow from the
    // per-column distinct-hash counts (8 bytes per retained min, blobs
    // packed after the 4-byte magic in column order).
    "iceberg_puffin" -> {
      val k = iceberg.IcebergOps.PuffinK
      val mult = iceberg.Puffin.KmvHashMult
      val mod = iceberg.Puffin.KmvHashMod
      val cols = iceberg.IcebergOps.PuffinColumns
      val hCtes = cols.zipWithIndex.map { case (c, i) =>
        s"h$i AS (SELECT DISTINCT ($c * $mult) % $mod AS h FROM lineitem)"
      }.mkString(",\n ")
      val sCtes = cols.indices.map { i =>
        s"""s$i AS (SELECT count(*) AS n,
           |  (SELECT h FROM h$i ORDER BY h LIMIT 1 OFFSET ${k - 1}) AS hk FROM h$i)""".stripMargin
      }.mkString(",\n ")
      val eRows = cols.zipWithIndex.map { case (c, i) =>
        s"SELECT ${i + 1} AS ord, '$c' AS column_name, n, hk, " +
          s"(SELECT count(DISTINCT $c) FROM lineitem) AS ndv_exact FROM s$i"
      }.mkString("\n UNION ALL ")
      s"""WITH $hCtes,
        | $sCtes,
        | e AS ($eRows),
        | x AS (SELECT ord, column_name,
        |   CAST(LEAST(n, $k) AS BIGINT) AS n_mins,
        |   CAST(8 * LEAST(n, $k) AS BIGINT) AS blob_length,
        |   CASE WHEN n < $k THEN CAST(n AS DOUBLE)
        |        ELSE ${k - 1} * $mod.0 / hk END AS est,
        |   CAST(ndv_exact AS BIGINT) AS ndv_exact
        |  FROM e)
        |SELECT column_name, CAST($k AS BIGINT) AS k, n_mins, blob_length,
        | CAST(4 + sum(blob_length) OVER (ORDER BY ord) - blob_length AS BIGINT)
        |   AS blob_offset,
        | ndv_exact, round(abs(est - ndv_exact) / ndv_exact, 6) AS rel_err,
        | round(est, 4) AS ndv_est, CAST(${cols.size} AS BIGINT) AS n_blobs
        |FROM x ORDER BY column_name""".stripMargin
    },

    // Sort-order skipping: both layouts are deterministic functions of
    // lineitem — clustered files are ship-date rank blocks of
    // ceil(cnt/FPM) rows per month, hashed files are orderkey%FPM groups —
    // so DuckDB re-derives every file's bounds and replays the
    // bounds-overlap planning rule.
    "iceberg_sort_skipping" -> {
      val fpm = iceberg.IcebergOps.ClusterFilesPerMonth
      val lo = iceberg.IcebergOps.SkipDateLo
      val hi = iceberg.IcebergOps.SkipDateHi
      s"""WITH t AS (SELECT l_orderkey, l_linenumber, l_shipdate,
        |    strftime(l_shipdate, '%Y-%m') AS m FROM lineitem),
        | c AS (SELECT m, count(*) AS cnt FROM t GROUP BY m),
        | rk AS (SELECT t.m, t.l_shipdate,
        |    CAST(floor((row_number() OVER (PARTITION BY t.m
        |      ORDER BY t.l_shipdate, t.l_orderkey, t.l_linenumber) - 1)
        |      / ceil(c.cnt / $fpm.0)) AS INT) AS fid
        |   FROM t JOIN c ON t.m = c.m),
        | fs AS (SELECT m, fid, count(*) AS cnt,
        |    strftime(min(l_shipdate), '%Y-%m-%d') AS lo,
        |    strftime(max(l_shipdate), '%Y-%m-%d') AS hi
        |   FROM rk GROUP BY m, fid),
        | fh AS (SELECT m, l_orderkey % $fpm AS fid, count(*) AS cnt,
        |    strftime(min(l_shipdate), '%Y-%m-%d') AS lo,
        |    strftime(max(l_shipdate), '%Y-%m-%d') AS hi
        |   FROM t GROUP BY m, fid),
        | mt AS (SELECT CAST(count(*) AS BIGINT) AS rows_matching FROM t
        |   WHERE strftime(l_shipdate, '%Y-%m-%d') BETWEEN '$lo' AND '$hi')
        |SELECT 'clustered' AS layout, CAST(count(*) AS BIGINT) AS files_total,
        |  CAST(count(*) FILTER (WHERE hi >= '$lo' AND lo <= '$hi') AS BIGINT)
        |    AS files_scanned,
        |  CAST(coalesce(sum(cnt) FILTER (WHERE hi >= '$lo' AND lo <= '$hi'), 0) AS BIGINT)
        |    AS rows_planned,
        |  mt.rows_matching
        |FROM fs, mt GROUP BY mt.rows_matching
        |UNION ALL
        |SELECT 'hashed', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE hi >= '$lo' AND lo <= '$hi') AS BIGINT),
        |  CAST(coalesce(sum(cnt) FILTER (WHERE hi >= '$lo' AND lo <= '$hi'), 0) AS BIGINT),
        |  mt.rows_matching
        |FROM fh, mt GROUP BY mt.rows_matching
        |ORDER BY layout""".stripMargin
    },

    // Z-order rewrite census: both layouts are deterministic functions of
    // lineitem (hashed fid = orderkey mod fpm; z fid = Morton slice of the
    // within-month day × quantity bucket), so DuckDB re-derives every
    // file's date/quantity bounds and the conjunctive-probe verdicts.
    "iceberg_zorder_rewrite" -> {
      val fpm = iceberg.IcebergOps.ZFilesPerMonth
      val lo = iceberg.IcebergOps.ZDateLo
      val hi = iceberg.IcebergOps.ZDateHi
      val qhi = iceberg.IcebergOps.ZQtyHi
      val zexpr = (0 until 8).map(i =>
        s"(((zx >> $i) & 1) << ${2 * i}) + (((zy >> $i) & 1) << ${2 * i + 1})").mkString(" + ")
      s"""WITH t AS (SELECT l_orderkey, l_shipdate,
        |    strftime(l_shipdate, '%Y-%m') AS m,
        |    CAST(round(l_quantity) AS BIGINT) AS q,
        |    (CAST(extract(day FROM l_shipdate) AS BIGINT) - 1) * 8 AS zx,
        |    least((CAST(round(l_quantity) AS BIGINT) - 1) * 5, 255) AS zy
        |  FROM lineitem),
        | z AS (SELECT m, q, l_shipdate, $zexpr AS zv FROM t),
        | fz AS (SELECT m, CAST(zv * $fpm // 65536 AS INT) AS fid, count(*) AS cnt,
        |    strftime(min(l_shipdate), '%Y-%m-%d') AS flo,
        |    strftime(max(l_shipdate), '%Y-%m-%d') AS fhi, min(q) AS qlo
        |   FROM z GROUP BY 1, 2),
        | fh AS (SELECT m, l_orderkey % $fpm AS fid, count(*) AS cnt,
        |    strftime(min(l_shipdate), '%Y-%m-%d') AS flo,
        |    strftime(max(l_shipdate), '%Y-%m-%d') AS fhi, min(q) AS qlo
        |   FROM t GROUP BY 1, 2),
        | mt AS (SELECT CAST(count(*) AS BIGINT) AS rows_matching FROM t
        |   WHERE strftime(l_shipdate, '%Y-%m-%d') BETWEEN '$lo' AND '$hi' AND q <= $qhi)
        |SELECT '1_hashed' AS layout, CAST(count(*) AS BIGINT) AS files_total,
        |  CAST(count(*) FILTER (WHERE fhi >= '$lo' AND flo <= '$hi' AND qlo <= $qhi) AS BIGINT)
        |    AS files_scanned,
        |  CAST(coalesce(sum(cnt) FILTER (WHERE fhi >= '$lo' AND flo <= '$hi' AND qlo <= $qhi), 0) AS BIGINT)
        |    AS rows_planned,
        |  mt.rows_matching
        |FROM fh, mt GROUP BY mt.rows_matching
        |UNION ALL
        |SELECT '2_zorder', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (WHERE fhi >= '$lo' AND flo <= '$hi' AND qlo <= $qhi) AS BIGINT),
        |  CAST(coalesce(sum(cnt) FILTER (WHERE fhi >= '$lo' AND flo <= '$hi' AND qlo <= $qhi), 0) AS BIGINT),
        |  mt.rows_matching
        |FROM fz, mt GROUP BY mt.rows_matching
        |ORDER BY layout""".stripMargin
    },

    // DV-compaction census: file counts are month arithmetic, DV blob
    // counts are (month x residue) existence, live rows the residue
    // complement — the oracle-pinned regression for the DV-resurrection
    // compaction bug (a partial-reader rewrite would re-live every
    // deleted row and fail the live_rows compare).
    "iceberg_dv_compact" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rs = iceberg.IcebergOps.StormResidues.mkString(", ")
      val nSnaps = 3 + iceberg.IcebergOps.StormResidues.size
      s"""WITH t AS (SELECT l_orderkey, strftime(l_shipdate, '%Y-%m') AS m FROM lineitem),
        | months AS (SELECT CAST(count(DISTINCT m) AS BIGINT) AS nm FROM t),
        | blobs AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM (
        |    SELECT DISTINCT m, l_orderkey % $mod AS r FROM t
        |    WHERE l_orderkey % $mod IN ($rs))),
        | pos AS (SELECT CAST(count(*) AS BIGINT) AS np FROM t
        |   WHERE l_orderkey % $mod IN ($rs)),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
        |SELECT nm AS data_files_before, nb AS dv_blobs_before, np AS dv_positions,
        | nm AS data_files_after, CAST(0 AS BIGINT) AS dv_blobs_after,
        | n - np AS live_rows, CAST($nSnaps AS BIGINT) AS n_snapshots
        |FROM months, blobs, pos, tot""".stripMargin
    },

    // rewrite_position_deletes: three positional waves (two v2 pos-parquet
    // files — the mod-5 wave overlapping the mod-10 one — plus a DV wave)
    // consolidate into one DV per data file; data files are one per month,
    // so blob counts are DISTINCT-month census and the union dedup is the
    // residue arithmetic DuckDB replays.
    "iceberg_rewrite_deletes" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val r1 = iceberg.IcebergOps.PosDeleteResidue
      val rdv = iceberg.IcebergOps.DvDeleteResidue
      val mod2 = iceberg.IcebergOps.PosDeleteMod2
      val r2 = iceberg.IcebergOps.PosDeleteResidue2
      s"""WITH t AS (SELECT l_orderkey, l_returnflag, l_quantity,
        |   strftime(l_shipdate, '%Y-%m') AS m,
        |   (l_orderkey % $mod = $r1 OR l_orderkey % $mod = $rdv
        |    OR l_orderkey % $mod2 = $r2) AS del FROM lineitem),
        | pre AS (SELECT CAST(count(*) FILTER (WHERE l_orderkey % $mod = $r1) AS BIGINT)
        |     + CAST(count(*) FILTER (WHERE l_orderkey % $mod = $rdv) AS BIGINT)
        |     + CAST(count(*) FILTER (WHERE l_orderkey % $mod2 = $r2) AS BIGINT) AS pre_sum,
        |   CAST(count(*) FILTER (WHERE del) AS BIGINT) AS post_union,
        |   CAST(count(DISTINCT m) FILTER (WHERE l_orderkey % $mod = $rdv) AS BIGINT) AS nb_pre,
        |   CAST(count(DISTINCT m) FILTER (WHERE del) AS BIGINT) AS nb_post FROM t)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | CAST(2 AS BIGINT) AS pos_files_replaced, pre.nb_pre AS dv_blobs_replaced,
        | pre.nb_post AS dv_blobs_post, pre.pre_sum AS positions_pre_sum,
        | pre.post_union AS positions_post, CAST(6 AS BIGINT) AS n_snapshots
        |FROM t, pre
        |WHERE m BETWEEN '1996-11' AND '1997-02' AND NOT del
        |GROUP BY 1, pre.nb_pre, pre.nb_post, pre.pre_sum, pre.post_union
        |ORDER BY 1""".stripMargin
    },

    // DV-only rewrite: two OVERLAPPING DV waves (≡6 mod 10 ⊂ ≡1 mod 5)
    // consolidate to one DV per month-file; the union is exactly the mod-5
    // class, per-file preserved sequence is 3 everywhere (wave 2's class
    // covers wave 1's) — all residue arithmetic.
    "iceberg_rewrite_dv_only" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rdv = iceberg.IcebergOps.DvDeleteResidue
      val mod2 = iceberg.IcebergOps.DvOnlyMod2
      val r2 = iceberg.IcebergOps.DvOnlyRes2
      s"""WITH t AS (SELECT l_orderkey, l_returnflag, l_quantity,
        |   strftime(l_shipdate, '%Y-%m') AS m,
        |   (l_orderkey % $mod2 = $r2) AS del,
        |   (l_orderkey % $mod = $rdv) AS w1 FROM lineitem),
        | pre AS (SELECT
        |   CAST(count(DISTINCT m) FILTER (WHERE w1) AS BIGINT)
        |     + CAST(count(DISTINCT m) FILTER (WHERE del) AS BIGINT) AS nb_pre,
        |   CAST(count(DISTINCT m) FILTER (WHERE del) AS BIGINT) AS nb_post,
        |   CAST(count(*) FILTER (WHERE w1) AS BIGINT)
        |     + CAST(count(*) FILTER (WHERE del) AS BIGINT) AS pre_sum,
        |   CAST(count(*) FILTER (WHERE del) AS BIGINT) AS post_union FROM t)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | pre.nb_pre AS dv_blobs_pre, pre.nb_post AS dv_blobs_post,
        | pre.pre_sum AS positions_pre_sum, pre.post_union AS positions_post,
        | CAST(3 AS BIGINT) AS seq_post_lo, CAST(3 AS BIGINT) AS seq_post_hi,
        | CAST(4 AS BIGINT) AS n_snapshots
        |FROM t, pre
        |WHERE m BETWEEN '1996-11' AND '1997-02' AND NOT del
        |GROUP BY 1, pre.nb_pre, pre.nb_post, pre.pre_sum, pre.post_union
        |ORDER BY 1""".stripMargin
    },

    // Pos-parquet-only rewrite (pure v2 → v3 migration): two DISJOINT
    // waves (≡4, ≡9 mod 10) become one DV per touched month-file with
    // exact disjoint-union cardinality; per-file sequences split 2/3 by
    // whether the ≡9 wave touched the file.
    "iceberg_rewrite_pos_only" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val r1 = iceberg.IcebergOps.PosOnlyRes1
      val r2 = iceberg.IcebergOps.PosOnlyRes2
      s"""WITH t AS (SELECT l_orderkey, l_returnflag, l_quantity,
        |   strftime(l_shipdate, '%Y-%m') AS m,
        |   (l_orderkey % $mod = $r1) AS w4,
        |   (l_orderkey % $mod = $r2) AS w9 FROM lineitem),
        | pre AS (SELECT
        |   CAST(count(*) FILTER (WHERE w4) AS BIGINT)
        |     + CAST(count(*) FILTER (WHERE w9) AS BIGINT) AS pre_sum,
        |   CAST(count(*) FILTER (WHERE w4 OR w9) AS BIGINT) AS post_union,
        |   CAST(count(DISTINCT m) FILTER (WHERE w4 OR w9) AS BIGINT) AS nb_post,
        |   CAST(count(DISTINCT m) FILTER (WHERE w9) AS BIGINT) AS seq3 FROM t)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | CAST(2 AS BIGINT) AS pos_files_replaced,
        | pre.nb_post AS dv_blobs_post,
        | pre.pre_sum AS positions_pre_sum, pre.post_union AS positions_post,
        | pre.nb_post - pre.seq3 AS files_seq2, pre.seq3 AS files_seq3,
        | CAST(4 AS BIGINT) AS n_snapshots
        |FROM t, pre
        |WHERE m BETWEEN '1996-11' AND '1997-02' AND NOT (w4 OR w9)
        |GROUP BY 1, pre.pre_sum, pre.post_union, pre.nb_post, pre.seq3
        |ORDER BY 1""".stripMargin
    },

    // Real-format MOR UPDATE: one "overwrite" snapshot = DV on the old
    // positions + replacement files with l_quantity+100 for keys ≡ 5
    // (mod 10). Row count unchanged, _row_id preserved (distinct ids ==
    // total rows), _last_updated_sequence_number = 3 exactly on the
    // updated rows (1/2 = the append eras elsewhere) — era/residue
    // arithmetic throughout.
    "iceberg_update_mor" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val ru = iceberg.IcebergOps.UpdateResidue
      val dq = iceberg.IcebergOps.UpdateQtyDelta
      s"""WITH t AS (SELECT l_orderkey, l_returnflag, l_quantity,
        |   strftime(l_shipdate, '%Y-%m') AS m,
        |   l_shipdate < TIMESTAMP '$cut' AS pre,
        |   l_orderkey % $mod = $ru AS upd FROM lineitem),
        | g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(*) FILTER (WHERE upd) AS BIGINT) AS nu,
        |   CAST(count(*) FILTER (WHERE pre AND NOT upd) AS BIGINT) AS e1,
        |   CAST(count(*) FILTER (WHERE NOT pre AND NOT upd) AS BIGINT) AS e2,
        |   CAST(count(DISTINCT m) FILTER (WHERE upd) AS BIGINT) AS nb FROM t)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity + CASE WHEN upd THEN $dq ELSE 0 END), 4) AS sum_qty,
        | CAST(count(*) FILTER (WHERE upd) AS BIGINT) AS n_updated_in_window,
        | g.n AS n_rows_total, g.n AS n_rowids_distinct, g.nu AS n_updated,
        | g.e1 AS n_last_seq1, g.e2 AS n_last_seq2,
        | g.nb AS dv_blobs, g.nu AS deleted_positions,
        | CAST(3 AS BIGINT) AS n_snapshots
        |FROM t, g WHERE m BETWEEN '1997-01' AND '1997-03'
        |GROUP BY 1, g.n, g.nu, g.e1, g.e2, g.nb
        |ORDER BY 1""".stripMargin
    },

    // rollback_to_snapshot: the duplicate-append head (snapshot 3) is
    // undone metadata-only; main/current read 2, the clean row set plans
    // from stats, and the bad head stays time-travelable.
    "iceberg_rollback" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rd = iceberg.IcebergOps.RollbackDupResidue
      s"""WITH g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(*) FILTER (WHERE l_orderkey % $mod = $rd) AS BIGINT) AS dup
        |   FROM lineitem)
        |SELECT CAST(2 AS BIGINT) AS current_snapshot_id,
        | CAST(2 AS BIGINT) AS main_snapshot_id,
        | CAST(3 AS BIGINT) AS n_snapshots,
        | g.n AS rows_after_rollback, g.n + g.dup AS rows_bad_head,
        | CAST(3 AS BIGINT) AS max_snapshot_id
        |FROM g""".stripMargin
    },

    // cherry-pick: a staged post-cut append replayed onto a head that
    // advanced past its base (a ≡0-residue duplicate append landed in
    // between) — picked rows enter incremental scans at the NEW id.
    "iceberg_cherry_pick" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rd = iceberg.IcebergOps.RollbackDupResidue
      s"""WITH g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '$cut') AS BIGINT) AS e1,
        |   CAST(count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '$cut') AS BIGINT) AS e2,
        |   CAST(count(*) FILTER (WHERE l_orderkey % $mod = $rd) AS BIGINT) AS dup
        |   FROM lineitem)
        |SELECT CAST(4 AS BIGINT) AS current_snapshot_id,
        | CAST(4 AS BIGINT) AS n_snapshots,
        | g.e1 + g.dup AS rows_before_pick, g.e2 AS staged_rows,
        | g.n + g.dup AS rows_after_pick, g.e2 AS picked_incremental_rows,
        | CAST(1 AS BIGINT) AS n_refs
        |FROM g""".stripMargin
    },

    // DSv2 SQL front door: Q1-1997 window over <cat>.lake.lineitem — the
    // data agg is plain SQL; files_total/files_scanned replay from
    // per-month min/max date bounds (the same stats the manifests carry),
    // cols_read pins the 3-column parquet projection.
    "iceberg_sql_select" ->
      s"""WITH t AS (SELECT l_returnflag, l_quantity,
        |   strftime(l_shipdate, '%Y-%m-%d') AS d,
        |   strftime(l_shipdate, '%Y-%m') AS m FROM lineitem),
        | f AS (SELECT m, min(d) AS lo, max(d) AS hi FROM t GROUP BY 1),
        | c AS (SELECT CAST(count(*) AS BIGINT) AS ft,
        |   CAST(count(*) FILTER (WHERE hi >= '1997-01-01' AND lo <= '1997-04-01') AS BIGINT) AS fs
        |   FROM f)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | c.ft AS files_total, c.fs AS files_scanned,
        | CAST(3 AS BIGINT) AS cols_read
        |FROM t, c
        |WHERE d >= '1997-01-01' AND d < '1997-04-01'
        |GROUP BY 1, c.ft, c.fs
        |ORDER BY 1""".stripMargin,

    // SQL time travel: VERSION AS OF 1 = the pre-cut era; the default
    // read = both eras; four committed tables in the namespace (the two
    // library-built ones plus the SQL-inserted and CTAS-born tables).
    "iceberg_sql_time_travel" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""SELECT
        | CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '$cut') AS BIGINT) AS rows_v1,
        | CAST(count(*) AS BIGINT) AS rows_head,
        | CAST(2 AS BIGINT) AS n_snapshots,
        | CAST(5 AS BIGINT) AS n_tables,
        | 'lineitem,lineitem_ctas,lineitem_del,lineitem_ins,lineitem_mor' AS tables
        |FROM lineitem""".stripMargin
    },

    // CREATE TABLE AS SELECT, entirely in SQL: a one-snapshot committed
    // table holding exactly the post-cut era, listed beside the others.
    "iceberg_sql_create" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | CAST(1 AS BIGINT) AS n_snapshots, CAST(5 AS BIGINT) AS n_tables
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '$cut'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    },

    // SQL DELETE (the retention pass) committed as one v3 DV snapshot:
    // survivors are the at-or-after-cut rows; one DV blob per pre-cut
    // month file; positions = the pre-cut row count.
    "iceberg_sql_delete" -> {
      val rc = iceberg.IcebergOps.SqlRetentionCut
      s"""WITH t AS (SELECT l_returnflag, l_quantity,
        |   strftime(l_shipdate, '%Y-%m') AS m,
        |   l_shipdate < TIMESTAMP '$rc' AS del FROM lineitem),
        | g AS (SELECT CAST(count(DISTINCT m) FILTER (WHERE del) AS BIGINT) AS nb,
        |   CAST(count(*) FILTER (WHERE del) AS BIGINT) AS np FROM t)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | g.nb AS dv_blobs, g.np AS deleted_positions,
        | CAST(2 AS BIGINT) AS n_snapshots
        |FROM t, g WHERE NOT del
        |GROUP BY 1, g.nb, g.np
        |ORDER BY 1""".stripMargin
    },

    // SQL over the MOR table: the DSv2 reader applies the equality wave
    // (≡3 mod 10) and the DV wave (≡6 mod 10); survivors are the
    // two-residue complement.
    "iceberg_sql_mor" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rdv = iceberg.IcebergOps.DvDeleteResidue
      s"""WITH t AS (SELECT l_orderkey, l_returnflag, l_quantity,
        |   l_orderkey % $mod = 3 AS eqd,
        |   l_orderkey % $mod = $rdv AS dvd FROM lineitem),
        | g AS (SELECT CAST(count(DISTINCT l_orderkey) FILTER (WHERE eqd) AS BIGINT) AS keys,
        |   CAST(count(*) FILTER (WHERE dvd) AS BIGINT) AS dvp FROM t)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | g.keys AS eq_keys, g.dvp AS dv_positions,
        | CAST(4 AS BIGINT) AS n_snapshots
        |FROM t, g WHERE NOT eqd AND NOT dvd
        |GROUP BY 1, g.keys, g.dvp
        |ORDER BY 1""".stripMargin
    },

    // SQL INSERT INTO through the committing append: the table ends at
    // 2 snapshots holding the full row set, with the inserted era's rows
    // planned incrementally at (1, 2].
    "iceberg_sql_insert" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""WITH g AS (SELECT
        |   CAST(count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '$cut') AS BIGINT) AS e2
        |   FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | CAST(2 AS BIGINT) AS n_snapshots, g.e2 AS inserted_rows
        |FROM lineitem, g
        |GROUP BY 1, g.e2
        |ORDER BY 1""".stripMargin
    },

    // Manifest merge-on-commit (the adaptive flush/split policy): the
    // list length follows a threshold-bounded sawtooth — the recursive
    // CTE replays the recurrence (flat = prev+1; > K → year-bins + 1),
    // the probe's entries_parsed jumps to the bin-1 population at each
    // merge and holds between merges.
    "iceberg_manifest_merge" -> {
      val n = iceberg.IcebergOps.MergeSeriesMonths
      val k = iceberg.IcebergOps.MergeMinCount
      val g = iceberg.IcebergOps.MergeGroupMonths
      s"""WITH RECURSIVE m AS (SELECT pm,
        |   CAST(row_number() OVER (ORDER BY pm) AS BIGINT) AS k,
        |   (CAST(substr(pm, 1, 4) AS INT) * 12 +
        |    CAST(substr(pm, 6, 2) AS INT) - 1) // $g AS grp
        |  FROM (SELECT DISTINCT strftime(l_shipdate, '%Y-%m') AS pm FROM lineitem)),
        | mm AS (SELECT * FROM m WHERE k <= $n),
        | bins AS (SELECT a.k, CAST(count(DISTINCT b.grp) AS BIGINT) AS nb,
        |   CAST(count(*) FILTER (WHERE b.grp =
        |     (SELECT grp FROM mm WHERE k = 1)) AS BIGINT) AS cum1
        |  FROM mm a JOIN mm b ON b.k <= a.k GROUP BY a.k),
        | rec(k, c, pe) AS (
        |  SELECT CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |  UNION ALL
        |  SELECT r.k + 1,
        |   CASE WHEN r.c + 1 > $k THEN b.nb + 1 ELSE r.c + 1 END,
        |   CASE WHEN r.c + 1 > $k THEN b.cum1 ELSE r.pe END
        |  FROM rec r JOIN bins b ON b.k = r.k
        |  WHERE r.k < $n)
        |SELECT printf('c%02d', rec.k) AS state, rec.c AS manifests_total,
        | COALESCE(rec.c <> lag(rec.c) OVER (ORDER BY rec.k) + 1, FALSE) AS merged,
        | CAST(1 AS BIGINT) AS manifests_read, rec.pe AS entries_parsed,
        | rec.k AS files_total, CAST(1 AS BIGINT) AS files_selected
        |FROM rec
        |ORDER BY state""".stripMargin
    },

    // SQL UPDATE (SupportsRowLevelOperations → delta): +100 quantity on
    // keys ≡ 7 (mod 100); DV cardinality = the victim count; one
    // overwrite snapshot on top of the append.
    "iceberg_sql_update" -> {
      val r = iceberg.IcebergOps.SqlUpdResidue
      s"""WITH g AS (SELECT CAST(count(*) FILTER (WHERE l_orderkey % 100 = $r) AS BIGINT) AS nu
        |   FROM lineitem)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity + CASE WHEN l_orderkey % 100 = $r THEN 100 ELSE 0 END), 4) AS sum_qty,
        | g.nu AS updated_rows, CAST(2 AS BIGINT) AS n_snapshots
        |FROM lineitem, g
        |GROUP BY 1, g.nu
        |ORDER BY 1""".stripMargin
    },

    // Metadata columns through plain SQL: one data file per month, and
    // positions dense 0..n-1 within each file — max = n-1, sum = n(n-1)/2.
    "iceberg_sql_metacols" ->
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS month,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(1 AS BIGINT) AS n_files,
        | CAST(count(*) - 1 AS BIGINT) AS max_pos,
        | CAST((count(*) * (count(*) - 1)) // 2 AS BIGINT) AS sum_pos
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    // SQL MERGE INTO: pair-unique keys ≡ 11 (mod 100) update (+1000),
    // keys ≡ 13 (mod 1000) re-keyed insert; DuckDB replays both arms
    // (the pair-uniqueness join mirrors the fixture's window filter).
    "iceberg_sql_merge" -> {
      val rm = iceberg.IcebergOps.SqlMergeMatchResidue
      val ri = iceberg.IcebergOps.SqlMergeInsResidue
      s"""WITH uniq AS (SELECT l_orderkey, l_linenumber, count(*) AS c
        |   FROM lineitem GROUP BY 1, 2),
        | base AS (SELECT l.l_returnflag,
        |   l.l_quantity + CASE WHEN l.l_orderkey % 100 = $rm AND u.c = 1
        |     THEN 1000 ELSE 0 END AS q,
        |   l.l_orderkey % 100 = $rm AND u.c = 1 AS upd
        |   FROM lineitem l JOIN uniq u USING (l_orderkey, l_linenumber)),
        | ins AS (SELECT l_returnflag, l_quantity AS q FROM lineitem
        |   WHERE l_orderkey % 1000 = $ri),
        | g AS (SELECT CAST(count(*) FILTER (WHERE upd) AS BIGINT) AS nu,
        |   (SELECT CAST(count(*) AS BIGINT) FROM ins) AS ni FROM base),
        | allrows AS (SELECT l_returnflag, q FROM base
        |   UNION ALL SELECT l_returnflag, q FROM ins)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(q), 4) AS sum_qty,
        | g.nu AS updated_rows, g.ni AS inserted_rows,
        | CAST(2 AS BIGINT) AS n_snapshots
        |FROM allrows, g
        |GROUP BY 1, g.nu, g.ni
        |ORDER BY 1""".stripMargin
    },

    // SQL ALTER TABLE ADD COLUMN: pre-cut era null-fills `note`, the
    // post-cut insert carries it; 2 schema eras, 2 snapshots.
    "iceberg_sql_alter" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '$cut') AS BIGINT) AS rows_with_note,
        | CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '$cut') AS BIGINT) AS rows_null_note,
        | CAST(2 AS BIGINT) AS n_schema_eras, CAST(2 AS BIGINT) AS n_snapshots,
        | TRUE AS note_in_schema
        |FROM lineitem""".stripMargin
    },

    // Dynamic INSERT OVERWRITE: exactly one month replaced (quantities
    // doubled there), every other month untouched, snapshot 1 fully
    // time-travelable.
    "iceberg_sql_overwrite" -> {
      val lo = iceberg.IcebergOps.SqlOverwriteMonthLo
      val hi = iceberg.IcebergOps.SqlOverwriteMonthHi
      s"""WITH t AS (SELECT l_returnflag,
        |   CASE WHEN l_shipdate >= TIMESTAMP '$lo' AND l_shipdate < TIMESTAMP '$hi'
        |     THEN l_quantity * 2 ELSE l_quantity END AS q,
        |   strftime(l_shipdate, '%Y-%m') AS m FROM lineitem),
        | g AS (SELECT CAST(count(DISTINCT m) AS BIGINT) AS nm,
        |   CAST(count(*) AS BIGINT) AS n FROM t)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(q), 4) AS sum_qty,
        | CAST(1 AS BIGINT) AS months_replaced, g.nm - 1 AS months_kept,
        | g.n AS rows_v1, CAST(2 AS BIGINT) AS n_snapshots
        |FROM t, g
        |GROUP BY 1, g.nm, g.n
        |ORDER BY 1""".stripMargin
    },

    // SQL ALTER TABLE DROP/RENAME COLUMN: the dropped column is hidden
    // NOW but fully served via VERSION AS OF 2 time travel (the pre-drop
    // snapshot's own schema); the renamed column stitches era-1 files (old
    // physical name, via its field id's name history) with era-2 files
    // (new name) — sums must cover both.
    "iceberg_sql_alter_drop" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | FALSE AS dropped_visible_now,
        | CAST(10 AS BIGINT) AS n_cols_now,
        | CAST(count(*) AS BIGINT) AS tt_rows_with_price,
        | CAST(count(*) AS BIGINT) AS ren_rows,
        | round(sum(l_quantity), 4) AS ren_sum_qty,
        | round(sum(CASE WHEN l_shipdate < TIMESTAMP '$cut' THEN l_quantity END), 4)
        |   AS ren_sum_qty_era1
        |FROM lineitem""".stripMargin
    },

    // Clause-general MERGE: four arms partition the table by disjoint
    // residue classes — matched-update (+10000), matched-delete,
    // not-matched insert (re-keyed), not-matched-by-source update
    // (+50000) — and the duplicate-source cardinality probe must be
    // rejected with the probe table untouched.
    "iceberg_sql_merge2" -> {
      val ru = iceberg.IcebergOps.SqlM2UpdResidue
      val rd = iceberg.IcebergOps.SqlM2DelResidue
      val ri = iceberg.IcebergOps.SqlM2InsResidue
      val rn = iceberg.IcebergOps.SqlM2NmbsResidue
      s"""WITH uniq AS (SELECT l_orderkey, l_linenumber, count(*) AS c
        |   FROM lineitem GROUP BY 1, 2),
        | base AS (SELECT l.l_quantity, l.l_orderkey,
        |   l.l_orderkey % 100 = $ru AND u.c = 1 AS is_upd,
        |   l.l_orderkey % 100 = $rd AND u.c = 1 AS is_del,
        |   l.l_orderkey % 1000 = $rn AS is_nmbs
        |   FROM lineitem l JOIN uniq u USING (l_orderkey, l_linenumber)),
        | kept AS (SELECT l_quantity
        |     + CASE WHEN is_upd THEN 10000 ELSE 0 END
        |     + CASE WHEN is_nmbs THEN 50000 ELSE 0 END AS q,
        |   is_upd, is_nmbs, FALSE AS is_ins
        |   FROM base WHERE NOT is_del),
        | ins AS (SELECT l_quantity AS q, FALSE AS is_upd, FALSE AS is_nmbs,
        |   TRUE AS is_ins FROM lineitem WHERE l_orderkey % 1000 = $ri),
        | allrows AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
        | dels AS (SELECT CAST(count(*) FILTER (WHERE is_del) AS BIGINT) AS nd,
        |   CAST(count(*) FILTER (WHERE is_upd) AS BIGINT) AS nu,
        |   CAST(count(*) FILTER (WHERE is_nmbs AND NOT is_del) AS BIGINT) AS nn
        |   FROM base)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(q), 4) AS sum_qty,
        | CAST(count(*) FILTER (WHERE is_upd) AS BIGINT) AS upd_rows,
        | CAST(count(*) FILTER (WHERE is_nmbs) AS BIGINT) AS nmbs_rows,
        | CAST(count(*) FILTER (WHERE is_ins) AS BIGINT) AS ins_rows,
        | d.nu + d.nd + d.nn AS dv_rows,
        | CAST(2 AS BIGINT) AS n_snapshots,
        | TRUE AS dup_source_rejected, TRUE AS bad_table_unchanged
        |FROM allrows, dels d
        |GROUP BY d.nu, d.nd, d.nn""".stripMargin
    },

    // Metadata tables via plain SQL (<cat>.<ns>.<t>.files/snapshots/
    // manifests): one data file per (month, era), era = sequence; the
    // two-append fixture has 2 snapshots and 2 manifests.
    "iceberg_sql_files_meta" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS p_month,
        | CAST(1 AS BIGINT) AS n_files,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | strftime(min(l_shipdate), '%Y-%m-%d') AS lo_shipdate,
        | strftime(max(l_shipdate), '%Y-%m-%d') AS hi_shipdate,
        | CAST(CASE WHEN min(l_shipdate) < TIMESTAMP '$cut'
        |   THEN 1 ELSE 2 END AS BIGINT) AS sequence_number,
        | CAST(2 AS BIGINT) AS n_snapshots,
        | CAST(2 AS BIGINT) AS n_manifests
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // Ref-name time travel: the tag pins era 1, the branch eras 1-2,
    // main all three; the refs meta table lists audit/dev/main.
    "iceberg_sql_branch_read" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val cut3 = iceberg.IcebergOps.SqlCallEra3Cut
      s"""SELECT
        | CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '$cut') AS BIGINT) AS rows_tag,
        | CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '$cut3 00:00:00') AS BIGINT) AS rows_branch,
        | CAST(count(*) AS BIGINT) AS rows_head,
        | CAST(3 AS BIGINT) AS n_refs,
        | 'audit:tag:1,dev:branch:2,main:branch:3' AS refs
        |FROM lineitem""".stripMargin
    },

    // SQL ALTER COLUMN … TYPE (the spec's legal promotions): era-1 files
    // stay physically narrow (INT32/FLOAT/DECIMAL(9,2)) and upcast in the
    // reader; era-2 values NEED the wide types (qty past Int.MaxValue,
    // amt past precision 9). The oracle replays both eras' derivations in
    // engine-exact arithmetic.
    "iceberg_sql_alter_widen" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val qb = iceberg.IcebergOps.SqlWidenQtyBase
      val ab = iceberg.IcebergOps.SqlWidenAmtBase
      s"""WITH e1 AS (
        |  SELECT CAST(l_quantity AS INT) AS qty,
        |    CAST(l_quantity / 4 AS REAL) AS price,
        |    CAST(l_orderkey % 10000 AS DECIMAL(9,2)) + l_linenumber * 0.01 AS amt
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '$cut'),
        | e2 AS (
        |  SELECT l_orderkey + $qb AS qty,
        |    CAST(l_orderkey AS DOUBLE) / 8 AS price,
        |    CAST(l_orderkey + $ab AS DECIMAL(18,2)) + l_linenumber * 0.01 AS amt
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '$cut'),
        | u AS (
        |  SELECT qty, price, CAST(amt AS DECIMAL(18,2)) AS amt, TRUE AS is_e1 FROM e1
        |  UNION ALL
        |  SELECT qty, price, CAST(amt AS DECIMAL(18,2)) AS amt, FALSE AS is_e1 FROM e2)
        |SELECT 'BIGINT' AS qty_type, 'DOUBLE' AS price_type,
        | 'DECIMAL(18,2)' AS amt_type,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(qty) AS BIGINT) AS sum_qty,
        | CAST(sum(CASE WHEN is_e1 THEN qty END) AS BIGINT) AS sum_qty_e1,
        | CAST(max(qty) AS BIGINT) AS max_qty,
        | round(sum(price), 4) AS sum_price,
        | CAST(CAST(sum(amt) AS DECIMAL(38,2)) AS VARCHAR) AS sum_amt,
        | CAST(CAST(max(amt) AS DECIMAL(18,2)) AS VARCHAR) AS max_amt
        |FROM u""".stripMargin
    },

    // SET/UNSET TBLPROPERTIES: the final map is (CREATE-clause note,
    // era marker's LAST value); the unset write.target-records-per-file
    // drove the era-1 insert's file split — ceil(rows/target) l_orderkey
    // buckets per month (exactly count(DISTINCT key % k) files) — while
    // the era-2 insert is back to one file per month.
    "iceberg_sql_properties" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val tgt = iceberg.IcebergOps.SqlPropsTarget
      s"""WITH e1 AS (SELECT strftime(l_shipdate, '%Y-%m') AS mo, l_orderkey
        |   FROM lineitem WHERE l_shipdate < TIMESTAMP '$cut'),
        | k AS (SELECT mo, greatest(1, CAST(ceil(count(*) / $tgt.0) AS BIGINT)) AS k
        |   FROM e1 GROUP BY mo),
        | f1 AS (SELECT e1.mo, count(DISTINCT e1.l_orderkey % k.k) AS nf
        |   FROM e1 JOIN k USING (mo) GROUP BY e1.mo)
        |SELECT 'graft.era=two,graft.note=created' AS props,
        | CAST(2 AS BIGINT) AS n_props,
        | (SELECT CAST(sum(nf) AS BIGINT) FROM f1) AS files_era1,
        | (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT)
        |   FROM lineitem WHERE l_shipdate >= TIMESTAMP '$cut') AS files_era2,
        | CAST(count(*) AS BIGINT) AS n_rows
        |FROM lineitem""".stripMargin
    },

    // Branch write + fast-forward publish (WAP): era 3 lands on the dev
    // branch only — main readers stay at eras 1+2 until the fast-forward
    // re-points main 2 → 3.
    "iceberg_sql_branch_write" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val cut3 = iceberg.IcebergOps.SqlCallEra3Cut
      s"""SELECT
        | CAST(count(CASE WHEN l_shipdate < TIMESTAMP '$cut3 00:00:00'
        |   THEN 1 END) AS BIGINT) AS rows_main_prepublish,
        | CAST(count(*) AS BIGINT) AS rows_dev,
        | CAST(count(*) AS BIGINT) AS rows_branch_ident,
        | CAST(2 AS BIGINT) AS head_prepublish,
        | CAST(3 AS BIGINT) AS dev_snapshot,
        | CAST(2 AS BIGINT) AS ff_previous_ref,
        | CAST(3 AS BIGINT) AS ff_updated_ref,
        | CAST(count(*) AS BIGINT) AS rows_final,
        | round(sum(l_quantity), 4) AS sum_qty_final
        |FROM lineitem""".stripMargin
    },

    // Parent-snapshot-id lineage: the branch append's parent is the
    // branch head it extended (3<-2 via dev), and the chain walks to the
    // root; rows at each ancestor are the era prefixes.
    "iceberg_sql_ancestors" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val cut3 = iceberg.IcebergOps.SqlCallEra3Cut
      s"""SELECT '3<-2,2<-1,1<--1' AS ancestors,
        | CAST(3 AS BIGINT) AS n_ancestors,
        | '1:-1,2:1,3:2' AS snapshot_parents,
        | CAST(count(*) AS BIGINT) AS rows_head,
        | CAST(count(CASE WHEN l_shipdate < TIMESTAMP '$cut3 00:00:00'
        |   THEN 1 END) AS BIGINT) AS rows_parent,
        | CAST(count(CASE WHEN l_shipdate < TIMESTAMP '$cut'
        |   THEN 1 END) AS BIGINT) AS rows_root
        |FROM lineitem""".stripMargin
    },

    // TRUNCATE + PURGE: truncate is one empty replace snapshot (zero rows
    // at head, VERSION AS OF 2 serves everything), purge removes the
    // scratch table from catalog and disk.
    "iceberg_sql_truncate" ->
      s"""SELECT CAST(0 AS BIGINT) AS rows_now,
        | CAST(count(*) AS BIGINT) AS tt_rows,
        | round(sum(l_quantity), 4) AS tt_sum_qty,
        | CAST(3 AS BIGINT) AS n_snapshots,
        | 'replace' AS head_op,
        | TRUE AS scratch_purged
        |FROM lineitem""".stripMargin,

    // Atomic CREATE OR REPLACE (RTAS): the replace is ONE snapshot —
    // history survives (VERSION AS OF 2 serves the old schema's full
    // rows), the new schema (qty2, evens doubled) and generation-two
    // properties supersede the old configuration.
    "iceberg_sql_replace" -> {
      s"""SELECT
        | CAST(count(CASE WHEN l_orderkey % 2 = 0 THEN 1 END) AS BIGINT) AS n_rows,
        | round(sum(CASE WHEN l_orderkey % 2 = 0 THEN l_quantity * 2 END), 4)
        |   AS sum_qty2,
        | TRUE AS has_qty2, FALSE AS has_old_col,
        | CAST(count(*) AS BIGINT) AS tt_rows,
        | round(sum(l_quantity), 4) AS tt_sum_qty,
        | 'graft.gen=two' AS props,
        | CAST(3 AS BIGINT) AS n_snapshots,
        | 'replace' AS head_op
        |FROM lineitem""".stripMargin
    },

    // Maintenance procedures round 2: the two planted orphans deleted,
    // 3-files-per-month compacted to 1 with the DV applied (snapshot 5),
    // Puffin stats bound to the head, then head re-points by id (back to
    // 3, pre-delete rows) and by time (forward to 5000ms = snapshot 5).
    "iceberg_sql_call2" -> {
      val b = iceberg.IcebergOps.SqlCall2DeleteBound
      s"""WITH fb AS (SELECT count(*) AS n3 FROM (SELECT DISTINCT
        |   l_orderkey % 3, strftime(l_shipdate, '%Y-%m') FROM lineitem)),
        | fa AS (SELECT count(*) AS nf FROM (SELECT DISTINCT
        |   strftime(l_shipdate, '%Y-%m') FROM lineitem WHERE l_orderkey >= $b)),
        | d AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(CASE WHEN l_orderkey < $b THEN 1 END) AS BIGINT) AS ndel,
        |   round(sum(CASE WHEN l_orderkey >= $b THEN l_quantity END), 4) AS sq
        |   FROM lineitem)
        |SELECT CAST(1 AS BIGINT) AS orphan_data_deleted,
        | CAST(1 AS BIGINT) AS orphan_meta_deleted,
        | CAST(5 AS BIGINT) AS compact_snapshot_id,
        | CAST(fb.n3 AS BIGINT) AS files_before,
        | CAST(fa.nf AS BIGINT) AS files_after,
        | CAST(3 AS BIGINT) AS stats_blobs, CAST(5 AS BIGINT) AS stats_snapshot,
        | CAST(5 AS BIGINT) AS set_prev_head, CAST(3 AS BIGINT) AS set_new_head,
        | d.n AS rows_at_snapshot3,
        | CAST(3 AS BIGINT) AS ts_prev_head, CAST(5 AS BIGINT) AS ts_new_head,
        | d.n - d.ndel AS rows_final, d.sq AS sum_qty_final
        |FROM fb, fa, d""".stripMargin
    },

    // CALL procedures: rollback to snapshot 2, expire snapshot 1 (its
    // manifest survives via snapshot 2's reuse — zero files deleted),
    // regroup the head's 2 era manifests into year branches (snapshot 4).
    "iceberg_sql_call" -> {
      val cut3 = iceberg.IcebergOps.SqlCallEra3Cut
      s"""SELECT CAST(3 AS BIGINT) AS prev_snapshot_id,
        | CAST(2 AS BIGINT) AS rolled_to,
        | CAST(1 AS BIGINT) AS snapshots_removed,
        | CAST(1 AS BIGINT) AS manifest_lists_deleted,
        | CAST(0 AS BIGINT) AS manifests_deleted,
        | CAST(0 AS BIGINT) AS data_files_deleted,
        | CAST(4 AS BIGINT) AS rewrite_snapshot_id,
        | CAST(2 AS BIGINT) AS manifests_before,
        | CAST(count(DISTINCT strftime(l_shipdate, '%Y')) AS BIGINT) AS manifests_after,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(3 AS BIGINT) AS n_snapshots
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '$cut3 00:00:00'""".stripMargin
    },

    // Streaming ingest (writeStream.toTable): three bucket epochs cover
    // the whole table, one append snapshot each; the replayed last epoch
    // is a no-op (exactly-once).
    "iceberg_stream_ingest" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | CAST(3 AS BIGINT) AS n_snapshots,
        | CAST(3 AS BIGINT) AS n_stream_commits,
        | CAST(2 AS BIGINT) AS last_epoch,
        | TRUE AS replay_noop
        |FROM lineitem""".stripMargin,

    // Column-file update EXECUTED: row/file counts are residue/month
    // arithmetic; the real-byte comparison rides as pinned ordering
    // booleans (sidecar < replacement < full rewrite).
    "lake_column_update_exec" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val ru = iceberg.IcebergOps.UpdateResidue
      s"""WITH t AS (SELECT l_orderkey, strftime(l_shipdate, '%Y-%m') AS m FROM lineitem),
        | g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |   CAST(count(*) FILTER (WHERE l_orderkey % $mod = $ru) AS BIGINT) AS nu,
        |   CAST(count(DISTINCT m) AS BIGINT) AS nm,
        |   CAST(count(DISTINCT m) FILTER (WHERE l_orderkey % $mod = $ru) AS BIGINT) AS nt
        |   FROM t)
        |SELECT g.nu AS updated_rows, g.nt AS files_touched, g.n AS cow_rows,
        | g.nu AS repl_rows, g.nm AS cow_files, CAST(1 AS BIGINT) AS col_files,
        | TRUE AS col_lt_repl, TRUE AS repl_lt_cow
        |FROM g""".stripMargin
    },

    // CDC changelog over the storm table's history: two append eras split
    // at SnapshotCut, four disjoint-residue DV waves, then the fold that
    // re-asserts the union but must emit ZERO net deletes — all counts
    // are wave arithmetic DuckDB replays exactly.
    "iceberg_changelog" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rs = iceberg.IcebergOps.StormResidues
      val wCols = rs.map(r =>
        s"CAST(count(*) FILTER (WHERE l_orderkey % $mod = $r) AS BIGINT) AS w$r").mkString(", ")
      val waveRows = rs.zipWithIndex.map { case (r, i) =>
        val cum = rs.take(i + 1).map(x => s"w$x").mkString(" - ")
        s"UNION ALL SELECT '${i + 3}_delete', 0, w$r, w$r, tot - $cum FROM era, w"
      }.mkString("\n|")
      val allW = rs.map(x => s"w$x").mkString(" + ")
      val allWSub = rs.map(x => s"w$x").mkString(" - ")
      s"""WITH era AS (SELECT
        |   CAST(count(*) FILTER (WHERE strftime(l_shipdate, '%Y-%m-%d') < '$cut') AS BIGINT) AS e1,
        |   CAST(count(*) FILTER (WHERE strftime(l_shipdate, '%Y-%m-%d') >= '$cut') AS BIGINT) AS e2,
        |   CAST(count(*) AS BIGINT) AS tot FROM lineitem),
        | w AS (SELECT $wCols FROM lineitem)
        |SELECT '1_append' AS step, e1 AS n_inserts,
        |  CAST(0 AS BIGINT) AS n_deletes_asserted, CAST(0 AS BIGINT) AS n_deletes_net,
        |  e1 AS live_rows FROM era
        |UNION ALL SELECT '2_append', e2, 0, 0, e1 + e2 FROM era
        |$waveRows
        |UNION ALL SELECT '${rs.size + 3}_delete', 0, $allW, 0, tot - $allWSub FROM era, w
        |ORDER BY step""".stripMargin
    },

    // The resume range (era2, head]: exactly the delete-storm tail of the
    // full changelog above — same step labels, same running live counts.
    "iceberg_changelog_resume" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rs = iceberg.IcebergOps.StormResidues
      val wCols = rs.map(r =>
        s"CAST(count(*) FILTER (WHERE l_orderkey % $mod = $r) AS BIGINT) AS w$r").mkString(", ")
      val allW = rs.map(x => s"w$x").mkString(" + ")
      val allWSub = rs.map(x => s"w$x").mkString(" - ")
      val waveRows = rs.zipWithIndex.map { case (r, i) =>
        val cum = rs.take(i + 1).map(x => s"w$x").mkString(" - ")
        s"""SELECT '${i + 3}_delete' AS step, CAST(0 AS BIGINT) AS n_inserts,
           | w$r AS n_deletes_asserted, w$r AS n_deletes_net,
           | tot - $cum AS live_rows FROM era, w""".stripMargin
      } :+
        s"""SELECT '${rs.size + 3}_delete', CAST(0 AS BIGINT), $allW,
           | CAST(0 AS BIGINT), tot - $allWSub FROM era, w""".stripMargin
      s"""WITH era AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM lineitem),
        | w AS (SELECT $wCols FROM lineitem)
        |${waveRows.mkString("\nUNION ALL ")}
        |ORDER BY step""".stripMargin
    },

    // General MOR: equality (keys ≡ 3 mod 10) AND positional (keys ≡ 7
    // mod 10) deletes on one table; survivors are the complement of both.
    // Changelog over the mixed-delete-form history: append pre/post eras,
    // then an equality-delete commit (keys ≡ 3 mod 10 — asserted = distinct
    // keys, net = matching rows) and a positional-parquet delete commit
    // (keys ≡ 7 — asserted = net = victim positions). Residue classes are
    // disjoint, so running live counts are pure arithmetic.
    "iceberg_changelog_mixed" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val pos = iceberg.IcebergOps.PosDeleteResidue
      s"""WITH era AS (SELECT
        |   CAST(count(*) FILTER (WHERE strftime(l_shipdate, '%Y-%m-%d') < '$cut') AS BIGINT) AS e1,
        |   CAST(count(*) FILTER (WHERE strftime(l_shipdate, '%Y-%m-%d') >= '$cut') AS BIGINT) AS e2,
        |   CAST(count(*) AS BIGINT) AS tot FROM lineitem),
        | d AS (SELECT
        |   CAST(count(DISTINCT l_orderkey) FILTER (WHERE l_orderkey % $mod = 3) AS BIGINT) AS k3,
        |   CAST(count(*) FILTER (WHERE l_orderkey % $mod = 3) AS BIGINT) AS r3,
        |   CAST(count(*) FILTER (WHERE l_orderkey % $mod = $pos) AS BIGINT) AS r7 FROM lineitem)
        |SELECT '1_append' AS step, e1 AS n_inserts,
        |  CAST(0 AS BIGINT) AS n_deletes_asserted, CAST(0 AS BIGINT) AS n_deletes_net,
        |  e1 AS live_rows FROM era
        |UNION ALL SELECT '2_append', e2, 0, 0, e1 + e2 FROM era
        |UNION ALL SELECT '3_delete', 0, k3, r3, tot - r3 FROM era, d
        |UNION ALL SELECT '4_delete', 0, r7, r7, tot - r3 - r7 FROM era, d
        |ORDER BY step""".stripMargin
    },

    "iceberg_mixed_deletes" ->
      s"""WITH sc AS (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT)
        |     AS data_files_scanned
        |   FROM lineitem WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'),
        | dk AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS deleted_keys
        |   FROM lineitem WHERE l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} = 3),
        | dp AS (SELECT CAST(count(*) AS BIGINT) AS deleted_positions
        |   FROM lineitem WHERE l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} = ${iceberg.IcebergOps.PosDeleteResidue})
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_live_rows,
        | round(sum(l_quantity), 4) AS sum_qty,
        | sc.data_files_scanned, CAST(1 AS BIGINT) AS eq_delete_files,
        | CAST(1 AS BIGINT) AS pos_delete_files, dk.deleted_keys, dp.deleted_positions,
        | CAST(4 AS BIGINT) AS n_snapshots
        |FROM lineitem, sc, dk, dp
        |WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '1997-01' AND '1997-03'
        |  AND l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} <> 3
        |  AND l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} <> ${iceberg.IcebergOps.PosDeleteResidue}
        |GROUP BY 1, sc.data_files_scanned, dk.deleted_keys, dp.deleted_positions
        |ORDER BY 1""".stripMargin,

    // Iceberg v3 deletion vectors: the DV fixture's sorted writes pin every
    // row's in-file POSITION to its (l_orderkey, l_linenumber) rank within
    // the (era, month) file, so DuckDB re-derives the victim position sets
    // and replays the RoaringFormatSpec arithmetic — container typing by
    // the runOptimize rule, standard-format framing, the deletion-vector-v1
    // blob envelope (+24 bytes: length word, magic, one-key portable64
    // wrapper, CRC) and the cumulative blob offsets inside the Puffin file.
    "iceberg_dv_puffin" ->
      s"""WITH base AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |   strftime(l_shipdate, '%Y-%m') AS p_month,
        |   CASE WHEN l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |        THEN 1 ELSE 2 END AS era
        |   FROM lineitem),
        | pos AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_month
        |     ORDER BY l_orderkey, l_linenumber) - 1 AS pos FROM base),
        | vict AS (SELECT p_month, pos FROM pos
        |   WHERE l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} = ${iceberg.IcebergOps.DvDeleteResidue}),
        | runs AS (SELECT p_month, pos // 65536 AS hi, pos,
        |   pos - ROW_NUMBER() OVER (PARTITION BY p_month, pos // 65536 ORDER BY pos) AS grp
        |   FROM vict),
        | cont AS (SELECT p_month, hi, count(*) AS card, count(DISTINCT grp) AS n_runs
        |   FROM runs GROUP BY 1, 2),
        | typed AS (SELECT p_month, card,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 'run'
        |        WHEN card <= 4096 THEN 'array' ELSE 'bitmap' END AS ctype,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 2 + 4*n_runs
        |        WHEN card <= 4096 THEN 2*card ELSE 8192 END AS cbytes
        |   FROM cont),
        | perdv AS (SELECT p_month, CAST(sum(card) AS BIGINT) AS dv_cardinality,
        |   CAST(count(*) AS BIGINT) AS n_containers,
        |   CAST(sum(CASE WHEN ctype = 'array' THEN 1 ELSE 0 END) AS BIGINT) AS n_array,
        |   CAST(sum(CASE WHEN ctype = 'bitmap' THEN 1 ELSE 0 END) AS BIGINT) AS n_bitmap,
        |   CAST(sum(CASE WHEN ctype = 'run' THEN 1 ELSE 0 END) AS BIGINT) AS n_run,
        |   sum(cbytes) AS cont_bytes,
        |   max(CASE WHEN ctype = 'run' THEN 1 ELSE 0 END) AS has_run
        |   FROM typed GROUP BY 1),
        | sized AS (SELECT *, CAST(24 + CASE WHEN has_run = 1
        |     THEN 4 + (n_containers + 7) // 8 + 4*n_containers +
        |          CASE WHEN n_containers >= 4 THEN 4*n_containers ELSE 0 END
        |     ELSE 8 + 8*n_containers END + cont_bytes AS BIGINT) AS dv_blob_bytes
        |   FROM perdv),
        | offs AS (SELECT *, CAST(4 + COALESCE(sum(dv_blob_bytes) OVER (ORDER BY p_month
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS content_offset
        |   FROM sized),
        | files AS (SELECT p_month, CAST(max(era) AS BIGINT) AS era,
        |   CAST(count(*) AS BIGINT) AS file_rows,
        |   CAST(sum(CASE WHEN l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod}
        |     <> ${iceberg.IcebergOps.DvDeleteResidue} THEN 1 ELSE 0 END) AS BIGINT) AS live_rows,
        |   round(sum(CASE WHEN l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod}
        |     <> ${iceberg.IcebergOps.DvDeleteResidue} THEN l_quantity END), 4) AS sum_qty_live
        |   FROM base GROUP BY 1)
        |SELECT f.p_month, f.era, f.file_rows,
        | COALESCE(o.dv_cardinality, 0) AS dv_cardinality, f.live_rows, f.sum_qty_live,
        | COALESCE(o.n_containers, 0) AS n_containers, COALESCE(o.n_array, 0) AS n_array,
        | COALESCE(o.n_bitmap, 0) AS n_bitmap, COALESCE(o.n_run, 0) AS n_run,
        | COALESCE(o.dv_blob_bytes, 0) AS dv_blob_bytes,
        | COALESCE(o.content_offset, -1) AS content_offset,
        | TRUE AS footer_consistent, CAST(3 AS BIGINT) AS n_snapshots
        |FROM files f LEFT JOIN offs o ON o.p_month = f.p_month
        |ORDER BY f.p_month""".stripMargin,

    // 2-level manifest tree: data files are one-per-month, branch manifests
    // group TreeGroupMonths consecutive months; the grouped layout's planner
    // opens only the branches whose bounds overlap the target month, the
    // flat layout parses every entry of its single manifest.
    "iceberg_manifest_tree" -> {
      val t = iceberg.IcebergOps.TreeTargetMonth
      val g = iceberg.IcebergOps.TreeGroupMonths
      s"""WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS pm,
        |   CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
        | mg AS (SELECT pm, cnt, (CAST(substr(pm, 1, 4) AS INT) * 12 +
        |     CAST(substr(pm, 6, 2) AS INT) - 1) // $g AS grp FROM m),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS files_total FROM m),
        | grps AS (SELECT grp, CAST(count(*) AS BIGINT) AS files,
        |     min(pm) AS lo, max(pm) AS hi FROM mg GROUP BY 1),
        | ng AS (SELECT CAST(count(*) AS BIGINT) AS n_groups FROM grps),
        | op AS (SELECT CAST(count(*) AS BIGINT) AS manifests_read,
        |     CAST(coalesce(sum(files), 0) AS BIGINT) AS entries
        |   FROM grps WHERE lo <= '$t' AND hi >= '$t'),
        | tgt AS (SELECT CAST(count(*) AS BIGINT) AS files_sel,
        |     CAST(coalesce(sum(cnt), 0) AS BIGINT) AS rows_planned
        |   FROM m WHERE pm = '$t')
        |SELECT '1_flat' AS layout, CAST(1 AS BIGINT) AS manifests_total,
        | CAST(1 AS BIGINT) AS manifests_read, tot.files_total,
        | tot.files_total AS entries_parsed, tgt.files_sel AS files_selected,
        | tgt.rows_planned
        |FROM tot, tgt
        |UNION ALL
        |SELECT '2_grouped', ng.n_groups, op.manifests_read, tot.files_total,
        | op.entries, tgt.files_sel, tgt.rows_planned
        |FROM tot, ng, op, tgt
        |ORDER BY layout""".stripMargin
    },

    // The full adaptive-tree ladder: flat / 2-level year branches /
    // 3-level (index -> year sub-lists -> quarter leaves). Planner IO
    // (entries parsed) decreases with depth; lists_read pays one extra
    // KB-grain file per level; planned files and rows are identical.
    "iceberg_tree3" -> {
      val t = iceberg.IcebergOps.TreeTargetMonth
      val g = iceberg.IcebergOps.TreeGroupMonths
      val lf = iceberg.IcebergOps.TreeLeafMonths
      s"""WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS pm,
        |   CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
        | em AS (SELECT pm, cnt, CAST(substr(pm, 1, 4) AS INT) * 12 +
        |     CAST(substr(pm, 6, 2) AS INT) - 1 AS e FROM m),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS files_total FROM m),
        | g12 AS (SELECT e // $g AS grp, CAST(count(*) AS BIGINT) AS files,
        |     min(pm) AS lo, max(pm) AS hi FROM em GROUP BY 1),
        | g3 AS (SELECT e // $lf AS grp, CAST(count(*) AS BIGINT) AS files,
        |     min(pm) AS lo, max(pm) AS hi FROM em GROUP BY 1),
        | ng12 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g12),
        | ng3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g3),
        | op12 AS (SELECT CAST(count(*) AS BIGINT) AS mr,
        |     CAST(coalesce(sum(files), 0) AS BIGINT) AS entries
        |   FROM g12 WHERE lo <= '$t' AND hi >= '$t'),
        | op3 AS (SELECT CAST(count(*) AS BIGINT) AS mr,
        |     CAST(coalesce(sum(files), 0) AS BIGINT) AS entries
        |   FROM g3 WHERE lo <= '$t' AND hi >= '$t'),
        | tgt AS (SELECT CAST(count(*) AS BIGINT) AS files_sel,
        |     CAST(coalesce(sum(cnt), 0) AS BIGINT) AS rows_planned
        |   FROM m WHERE pm = '$t')
        |SELECT '1_flat' AS layout, CAST(1 AS BIGINT) AS lists_read,
        | CAST(1 AS BIGINT) AS manifests_total, CAST(1 AS BIGINT) AS manifests_read,
        | tot.files_total, tot.files_total AS entries_parsed,
        | tgt.files_sel AS files_selected, tgt.rows_planned
        |FROM tot, tgt
        |UNION ALL
        |SELECT '2_grouped', 1, ng12.n, op12.mr, tot.files_total, op12.entries,
        | tgt.files_sel, tgt.rows_planned
        |FROM tot, ng12, op12, tgt
        |UNION ALL
        |SELECT '3_tree3', 1 + op12.mr, ng3.n, op3.mr, tot.files_total, op3.entries,
        | tgt.files_sel, tgt.rows_planned
        |FROM tot, ng3, op3, op12, tgt
        |ORDER BY layout""".stripMargin
    },

    // rewrite_manifests: before = the flat append's single manifest, after
    // = the metadata-only regroup into year branches; same planned files
    // and rows at both snapshots, different planner IO.
    "iceberg_rewrite_manifests" -> {
      val t = iceberg.IcebergOps.TreeTargetMonth
      val g = iceberg.IcebergOps.TreeGroupMonths
      s"""WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS pm,
        |   CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
        | mg AS (SELECT pm, cnt, (CAST(substr(pm, 1, 4) AS INT) * 12 +
        |     CAST(substr(pm, 6, 2) AS INT) - 1) // $g AS grp FROM m),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS files_total FROM m),
        | grps AS (SELECT grp, CAST(count(*) AS BIGINT) AS files,
        |     min(pm) AS lo, max(pm) AS hi FROM mg GROUP BY 1),
        | ng AS (SELECT CAST(count(*) AS BIGINT) AS n_groups FROM grps),
        | op AS (SELECT CAST(count(*) AS BIGINT) AS manifests_read,
        |     CAST(coalesce(sum(files), 0) AS BIGINT) AS entries
        |   FROM grps WHERE lo <= '$t' AND hi >= '$t'),
        | tgt AS (SELECT CAST(count(*) AS BIGINT) AS files_sel,
        |     CAST(coalesce(sum(cnt), 0) AS BIGINT) AS rows_planned
        |   FROM m WHERE pm = '$t')
        |SELECT '1_before' AS state, CAST(1 AS BIGINT) AS manifests_total,
        | CAST(1 AS BIGINT) AS manifests_read, tot.files_total,
        | tot.files_total AS entries_parsed, tgt.files_sel AS files_selected,
        | tgt.rows_planned, TRUE AS files_identical
        |FROM tot, tgt
        |UNION ALL
        |SELECT '2_after', ng.n_groups, op.manifests_read, tot.files_total,
        | op.entries, tgt.files_sel, tgt.rows_planned, TRUE
        |FROM tot, ng, op, tgt
        |ORDER BY state""".stripMargin
    },

    // wide_prune: per-(month, snapshot) file bounds — including the wide
    // integer-canonical stats — are deterministic aggregates of lineitem,
    // so the 3-conjunct overlap bits recompute exactly.
    "iceberg_wide_prune" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""WITH f AS (SELECT strftime(l_shipdate, '%Y-%m') AS p_month,
        |   CASE WHEN l_shipdate < TIMESTAMP '$cut' THEN 1 ELSE 2 END AS seq,
        |   CAST(count(*) AS BIGINT) AS record_count,
        |   min(strftime(l_shipdate, '%Y-%m-%d')) AS lo_ship,
        |   max(strftime(l_shipdate, '%Y-%m-%d')) AS hi_ship,
        |   min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS lo_price,
        |   min(CAST(round(l_quantity) AS BIGINT)) AS lo_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_month, CAST(seq AS BIGINT) AS seq, record_count,
        | (hi_ship >= '${iceberg.IcebergOps.WideShipLo}'
        |    AND lo_ship <= '${iceberg.IcebergOps.WideShipHi}') AS ship_overlap,
        | lo_price <= ${iceberg.IcebergOps.WidePriceHiCents} AS price_overlap,
        | lo_qty <= ${iceberg.IcebergOps.WideQtyHi} AS qty_overlap,
        | (ship_overlap AND price_overlap AND qty_overlap) AS keep
        |FROM f ORDER BY p_month, seq""".stripMargin
    },

    // commit_series: 24 single-month commits — the manifest list grows
    // linearly (manifests_total = files_total = k), the range-pruned
    // probe always opens ONE 1-entry manifest; the fold re-bins into
    // year groups (n_groups manifests, probe parses its group's entries).
    "iceberg_commit_series" -> {
      val n = iceberg.IcebergOps.SeriesMonths
      val g = iceberg.IcebergOps.SeriesGroupMonths
      s"""WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS pm,
        |   CAST(count(*) AS BIGINT) AS cnt FROM lineitem GROUP BY 1),
        | r AS (SELECT pm, cnt, CAST(row_number() OVER (ORDER BY pm) AS BIGINT) AS k FROM m),
        | probe AS (SELECT cnt AS rows_planned FROM r WHERE k = 1),
        | ser AS (SELECT k FROM r WHERE k <= $n),
        | grp AS (SELECT (CAST(substr(pm, 1, 4) AS INT) * 12 +
        |     CAST(substr(pm, 6, 2) AS INT) - 1) // $g AS grp FROM r WHERE k <= $n),
        | ng AS (SELECT CAST(count(DISTINCT grp) AS BIGINT) AS n_groups FROM grp),
        | fg AS (SELECT CAST(count(*) AS BIGINT) AS probe_group_files FROM grp
        |   WHERE grp = (SELECT min(grp) FROM grp))
        |SELECT printf('c%02d', k) AS state, k AS manifests_total,
        | CAST(1 AS BIGINT) AS manifests_read, k AS files_total,
        | CAST(1 AS BIGINT) AS entries_parsed, CAST(1 AS BIGINT) AS files_selected,
        | probe.rows_planned
        |FROM ser, probe
        |UNION ALL
        |SELECT 'fold', ng.n_groups, CAST(1 AS BIGINT), CAST($n AS BIGINT),
        | fg.probe_group_files, CAST(1 AS BIGINT), probe.rows_planned
        |FROM ng, fg, probe
        |ORDER BY state""".stripMargin
    },

    // Real DV delete storm: per-wave fragment growth + REAL Puffin blob
    // bytes (the same RoaringFormatSpec arithmetic as iceberg_dv_puffin,
    // replayed per wave residue), the 4 KB inline cliff, and the fold
    // step's byte amplification over the union of every wave.
    "iceberg_delete_storm" -> {
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rs = iceberg.IcebergOps.StormResidues
      val inline = iceberg.IcebergOps.StormInlineBytes
      val waveVals = rs.zipWithIndex.map { case (r, i) => s"(${i + 1}, $r)" }.mkString(", ")
      val foldStep = s"${rs.size + 1}_fold"
      s"""WITH waves(w, r) AS (VALUES $waveVals),
        | base AS (SELECT l_orderkey, l_linenumber,
        |   strftime(l_shipdate, '%Y-%m') AS p_month FROM lineitem),
        | pos AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_month
        |     ORDER BY l_orderkey, l_linenumber) - 1 AS pos FROM base),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS total_rows FROM base),
        | vict AS (SELECT w.w AS w, p.p_month, p.pos FROM pos p
        |   JOIN waves w ON p.l_orderkey % $mod = w.r),
        | runs AS (SELECT w, p_month, pos // 65536 AS hi, pos,
        |   pos - ROW_NUMBER() OVER (PARTITION BY w, p_month, pos // 65536
        |     ORDER BY pos) AS grp FROM vict),
        | cont AS (SELECT w, p_month, hi, count(*) AS card,
        |   count(DISTINCT grp) AS n_runs FROM runs GROUP BY 1, 2, 3),
        | typed AS (SELECT w, p_month, card,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 2 + 4*n_runs
        |        WHEN card <= 4096 THEN 2*card ELSE 8192 END AS cbytes,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 1 ELSE 0 END AS is_run
        |   FROM cont),
        | perdv AS (SELECT w, p_month, sum(card) AS card, count(*) AS n_containers,
        |   sum(cbytes) AS cont_bytes, max(is_run) AS has_run FROM typed GROUP BY 1, 2),
        | sized AS (SELECT w, p_month, card, CAST(24 + CASE WHEN has_run = 1
        |     THEN 4 + (n_containers + 7) // 8 + 4*n_containers +
        |          CASE WHEN n_containers >= 4 THEN 4*n_containers ELSE 0 END
        |     ELSE 8 + 8*n_containers END + cont_bytes AS BIGINT) AS bytes FROM perdv),
        | perw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_dv_blobs,
        |   CAST(sum(card) AS BIGINT) AS dv_cardinality,
        |   CAST(sum(bytes) AS BIGINT) AS blob_bytes,
        |   CAST(count(*) FILTER (WHERE bytes <= $inline) AS BIGINT) AS n_inline
        |   FROM sized GROUP BY 1),
        | fr AS (SELECT w1.w AS w, s.p_month, CAST(count(*) AS BIGINT) AS frags
        |   FROM (SELECT DISTINCT w FROM waves) w1 JOIN sized s ON s.w <= w1.w
        |   GROUP BY 1, 2),
        | frm AS (SELECT w, max(frags) AS max_frag FROM fr GROUP BY 1),
        | cum AS (SELECT w, sum(blob_bytes) OVER (ORDER BY w) AS cum_bytes,
        |   sum(dv_cardinality) OVER (ORDER BY w) AS cum_card FROM perw),
        | fvict AS (SELECT p_month, pos FROM pos
        |   WHERE l_orderkey % $mod IN (${rs.mkString(", ")})),
        | fruns AS (SELECT p_month, pos // 65536 AS hi, pos,
        |   pos - ROW_NUMBER() OVER (PARTITION BY p_month, pos // 65536
        |     ORDER BY pos) AS grp FROM fvict),
        | fcont AS (SELECT p_month, hi, count(*) AS card,
        |   count(DISTINCT grp) AS n_runs FROM fruns GROUP BY 1, 2),
        | ftyped AS (SELECT p_month, card,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 2 + 4*n_runs
        |        WHEN card <= 4096 THEN 2*card ELSE 8192 END AS cbytes,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 1 ELSE 0 END AS is_run
        |   FROM fcont),
        | fperdv AS (SELECT p_month, sum(card) AS card, count(*) AS n_containers,
        |   sum(cbytes) AS cont_bytes, max(is_run) AS has_run FROM ftyped GROUP BY 1),
        | fsized AS (SELECT p_month, card, CAST(24 + CASE WHEN has_run = 1
        |     THEN 4 + (n_containers + 7) // 8 + 4*n_containers +
        |          CASE WHEN n_containers >= 4 THEN 4*n_containers ELSE 0 END
        |     ELSE 8 + 8*n_containers END + cont_bytes AS BIGINT) AS bytes FROM fperdv),
        | fperw AS (SELECT CAST(count(*) AS BIGINT) AS n_dv_blobs,
        |   CAST(sum(card) AS BIGINT) AS dv_cardinality,
        |   CAST(sum(bytes) AS BIGINT) AS blob_bytes,
        |   CAST(count(*) FILTER (WHERE bytes <= $inline) AS BIGINT) AS n_inline
        |   FROM fsized)
        |SELECT CAST(p.w AS VARCHAR) || '_wave' AS step, p.n_dv_blobs,
        | p.dv_cardinality, frm.max_frag AS max_frag_per_file, p.blob_bytes,
        | CAST(c.cum_bytes AS BIGINT) AS cum_wave_bytes, p.n_inline AS n_inline_4kb,
        | tot.total_rows - CAST(c.cum_card AS BIGINT) AS live_rows,
        | CAST(NULL AS DOUBLE) AS amplification_x
        |FROM perw p JOIN frm ON frm.w = p.w JOIN cum c ON c.w = p.w, tot
        |UNION ALL
        |SELECT '$foldStep', f.n_dv_blobs, f.dv_cardinality, CAST(1 AS BIGINT),
        | f.blob_bytes, (SELECT CAST(max(cum_bytes) AS BIGINT) FROM cum),
        | f.n_inline, tot.total_rows - f.dv_cardinality,
        | round((SELECT max(cum_bytes) FROM cum) * 1.0 / f.blob_bytes, 4)
        |FROM fperw f, tot
        |ORDER BY step""".stripMargin
    },

    // GC cliff ladder on real DV bytes: one sorted append, three waves
    // (sparse residue / ~3% hashed / 50% hashed), per-blob 4KB/64KB/10MB
    // verdicts + per-wave payload storage class; the 4_all row's union
    // cardinality deduplicates the overlapping waves.
    "iceberg_gc_cliff" -> {
      val mul = iceberg.IcebergOps.CliffHashMul
      val (sm, sr) = (iceberg.IcebergOps.CliffSparseMod, iceberg.IcebergOps.CliffSparseRes)
      val (pm, pr) = (iceberg.IcebergOps.CliffPageMod, iceberg.IcebergOps.CliffPageRes)
      val (dm, dl) = (iceberg.IcebergOps.CliffDenseMod, iceberg.IcebergOps.CliffDenseLt)
      val Seq((l1, t1), (l2, t2), (l3, t3)) = iceberg.IcebergOps.CliffLadder
      val cls = (b: String) =>
        s"""CASE WHEN $b <= $t1 THEN '$l1' WHEN $b <= $t2 THEN '$l2'
           |      WHEN $b <= $t3 THEN '$l3' ELSE 'humongous' END""".stripMargin
      s"""WITH base AS (SELECT l_orderkey, l_linenumber,
        |   strftime(l_shipdate, '%Y-%m') AS p_month FROM lineitem),
        | pos AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_month
        |     ORDER BY l_orderkey, l_linenumber) - 1 AS pos FROM base),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS total_rows FROM base),
        | vict AS (
        |   SELECT 1 AS w, p_month, pos FROM pos WHERE l_orderkey % $sm = $sr
        |   UNION ALL SELECT 2, p_month, pos FROM pos
        |     WHERE ((l_orderkey & ${iceberg.IcebergOps.CliffKeyMask}) * $mul) % $pm = $pr
        |   UNION ALL SELECT 3, p_month, pos FROM pos
        |     WHERE ((l_orderkey & ${iceberg.IcebergOps.CliffKeyMask}) * $mul) % $dm < $dl),
        | runs AS (SELECT w, p_month, pos // 65536 AS hi, pos,
        |   pos - ROW_NUMBER() OVER (PARTITION BY w, p_month, pos // 65536
        |     ORDER BY pos) AS grp FROM vict),
        | cont AS (SELECT w, p_month, hi, count(*) AS card,
        |   count(DISTINCT grp) AS n_runs FROM runs GROUP BY 1, 2, 3),
        | typed AS (SELECT w, p_month, card,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 2 + 4*n_runs
        |        WHEN card <= 4096 THEN 2*card ELSE 8192 END AS cbytes,
        |   CASE WHEN 2 + 4*n_runs < LEAST(2*card, 8192) THEN 1 ELSE 0 END AS is_run
        |   FROM cont),
        | perdv AS (SELECT w, p_month, sum(card) AS card, count(*) AS n_containers,
        |   sum(cbytes) AS cont_bytes, max(is_run) AS has_run FROM typed GROUP BY 1, 2),
        | sized AS (SELECT w, p_month, card, CAST(24 + CASE WHEN has_run = 1
        |     THEN 4 + (n_containers + 7) // 8 + 4*n_containers +
        |          CASE WHEN n_containers >= 4 THEN 4*n_containers ELSE 0 END
        |     ELSE 8 + 8*n_containers END + cont_bytes AS BIGINT) AS bytes FROM perdv),
        | names(w, nm) AS (VALUES (1, '1_sparse'), (2, '2_page'), (3, '3_dense')),
        | perw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_dv_blobs,
        |   CAST(sum(card) AS BIGINT) AS dv_cardinality,
        |   CAST(max(bytes) AS BIGINT) AS max_blob_bytes,
        |   CAST(sum(bytes) AS BIGINT) AS payload_bytes,
        |   CAST(count(*) FILTER (WHERE bytes <= $t1) AS BIGINT) AS n_le_4kb,
        |   CAST(count(*) FILTER (WHERE bytes <= $t2) AS BIGINT) AS n_le_64kb,
        |   CAST(count(*) FILTER (WHERE bytes <= $t3) AS BIGINT) AS n_le_10mb
        |   FROM sized GROUP BY 1),
        | un AS (SELECT CAST(count(*) AS BIGINT) AS u
        |   FROM (SELECT DISTINCT p_month, pos FROM vict)),
        | allr AS (SELECT CAST(count(*) AS BIGINT) AS n_dv_blobs,
        |   CAST(max(bytes) AS BIGINT) AS max_blob_bytes,
        |   CAST(sum(bytes) AS BIGINT) AS payload_bytes,
        |   CAST(count(*) FILTER (WHERE bytes <= $t1) AS BIGINT) AS n_le_4kb,
        |   CAST(count(*) FILTER (WHERE bytes <= $t2) AS BIGINT) AS n_le_64kb,
        |   CAST(count(*) FILTER (WHERE bytes <= $t3) AS BIGINT) AS n_le_10mb
        |   FROM sized)
        |SELECT names.nm AS step, p.n_dv_blobs, p.dv_cardinality,
        | p.max_blob_bytes, p.payload_bytes, p.n_le_4kb, p.n_le_64kb, p.n_le_10mb,
        | ${cls("p.payload_bytes")} AS payload_class,
        | CAST(NULL AS BIGINT) AS live_rows
        |FROM perw p JOIN names ON names.w = p.w
        |UNION ALL
        |SELECT '4_all', a.n_dv_blobs, un.u, a.max_blob_bytes, a.payload_bytes,
        | a.n_le_4kb, a.n_le_64kb, a.n_le_10mb, ${cls("a.payload_bytes")},
        | tot.total_rows - un.u
        |FROM allr a, un, tot
        |ORDER BY step""".stripMargin
    },

    // Orphan scan: the crashed writer's slice is era 1, so its orphan
    // file count is era 1's month census; the 2-commit metadata tree is
    // fully referenced (2 manifests, 2 lists, 2 metadata versions).
    "iceberg_orphan_scan" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      s"""WITH m1 AS (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS n
        |   FROM lineitem WHERE l_shipdate < TIMESTAMP '$cut'),
        | m2 AS (SELECT CAST(count(DISTINCT strftime(l_shipdate, '%Y-%m')) AS BIGINT) AS n
        |   FROM lineitem WHERE l_shipdate >= TIMESTAMP '$cut')
        |SELECT '1_data_file' AS category, 2 * m1.n + m2.n AS n_on_disk,
        |  m1.n + m2.n AS n_referenced, m1.n AS n_orphans FROM m1, m2
        |UNION ALL SELECT '2_manifest', 2, 2, 0
        |UNION ALL SELECT '3_manifest_list', 2, 2, 0
        |UNION ALL SELECT '4_metadata_json', 2, 2, 0
        |ORDER BY category""".stripMargin
    },

    // v3 row lineage: sorted writes pin every position, so each implicit
    // _row_id = base(month) + rank, where base is the running total over
    // files in assignment order (era, then month). Survivor min/max/SUM
    // replay the preserved ids; next_row_id = tot (appends) + live
    // (the compaction's fresh file assignments).
    "iceberg_row_lineage" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val res = iceberg.IcebergOps.LineageDeleteResidue
      s"""WITH base AS (SELECT l_orderkey, l_linenumber,
        |   strftime(l_shipdate, '%Y-%m') AS pm,
        |   CASE WHEN l_shipdate < TIMESTAMP '$cut' THEN 1 ELSE 2 END AS era
        |   FROM lineitem),
        | mstats AS (SELECT pm, era, CAST(count(*) AS BIGINT) AS n
        |   FROM base GROUP BY 1, 2),
        | ordered AS (SELECT pm, era, n,
        |   CAST(coalesce(sum(n) OVER (ORDER BY era, pm
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |     AS first_row_id
        |   FROM mstats),
        | pos AS (SELECT b.*, ROW_NUMBER() OVER (PARTITION BY b.pm
        |     ORDER BY l_orderkey, l_linenumber) - 1 AS p FROM base b),
        | ids AS (SELECT pos.pm, o.first_row_id + pos.p AS rid, pos.l_orderkey
        |   FROM pos JOIN ordered o ON o.pm = pos.pm),
        | surv AS (SELECT pm, CAST(count(*) AS BIGINT) AS survivor_rows,
        |   CAST(min(rid) AS BIGINT) AS survivor_id_min,
        |   CAST(max(rid) AS BIGINT) AS survivor_id_max,
        |   CAST(sum(rid) AS BIGINT) AS survivor_id_sum
        |   FROM ids WHERE l_orderkey % $mod <> $res GROUP BY 1),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM base),
        | liv AS (SELECT CAST(count(*) AS BIGINT) AS l FROM base
        |   WHERE l_orderkey % $mod <> $res)
        |SELECT o.pm AS p_month, CAST(o.era AS BIGINT) AS era, o.first_row_id,
        | o.n AS n_rows, s.survivor_rows, s.survivor_id_min, s.survivor_id_max,
        | s.survivor_id_sum, tot.t + liv.l AS next_row_id
        |FROM ordered o JOIN surv s ON s.pm = o.pm, tot, liv
        |ORDER BY p_month""".stripMargin
    },

    // Incremental append scan: snapshot 2 is by construction the post-cut
    // half, and each post-cut month is one added file; snapshot 1's
    // manifest is skipped by lineage (manifests_read 1 of 2).
    "iceberg_incremental" ->
      s"""WITH inc AS (SELECT strftime(l_shipdate, '%Y-%m') AS m, l_quantity
        |   FROM lineitem WHERE l_shipdate >= TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'),
        | c AS (SELECT CAST(count(DISTINCT m) AS BIGINT) AS files_added FROM inc)
        |SELECT m AS ship_month, CAST(count(*) AS BIGINT) AS n_rows,
        | round(sum(l_quantity), 4) AS sum_qty, c.files_added,
        | CAST(2 AS BIGINT) AS manifests_total, CAST(1 AS BIGINT) AS manifests_read
        |FROM inc, c GROUP BY 1, c.files_added ORDER BY 1""".stripMargin,

    // `partitions` metadata table: the cut is a month boundary, so each
    // month lives entirely in one snapshot = one file; bounds are the
    // month's min/max ship dates.
    "iceberg_meta_tables" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS p_month,
        | CAST(1 AS BIGINT) AS n_files, CAST(count(*) AS BIGINT) AS n_rows,
        | strftime(min(l_shipdate), '%Y-%m-%d') AS lo_shipdate,
        | strftime(max(l_shipdate), '%Y-%m-%d') AS hi_shipdate,
        | CAST(2 AS BIGINT) AS n_manifests, CAST(2 AS BIGINT) AS n_snapshots
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // Real bucket[16](l_orderkey) partition spec: point lookups plan 1 of
    // 4 branch manifests and 1 of 16 files; the replayable multiplicative
    // bucket hash lets DuckDB re-derive every bucket population.
    "iceberg_bucket_prune" -> {
      val mult = iceberg.Puffin.KmvHashMult
      val mask = iceberg.IcebergTable.BucketKeyMask
      val mod = iceberg.Puffin.KmvHashMod
      val n = iceberg.IcebergTable.BucketN
      s"""WITH b AS (SELECT l_orderkey, l_quantity,
        |   CAST((((l_orderkey & $mask) * $mult) % $mod) % $n AS BIGINT) AS bkt FROM lineitem),
        | tot AS (SELECT CAST(count(DISTINCT bkt) AS BIGINT) AS files_total,
        |   CAST(count(DISTINCT bkt // 4) AS BIGINT) AS manifests_total FROM b),
        | pr AS (SELECT 'kmax' AS probe, CAST(max(l_orderkey) AS BIGINT) AS key FROM b
        |   UNION ALL SELECT 'kmin', CAST(min(l_orderkey) AS BIGINT) FROM b)
        |SELECT pr.probe,
        | 'b' || lpad(CAST((((pr.key & $mask) * $mult) % $mod) % $n AS VARCHAR), 2, '0') AS bucket,
        | tot.manifests_total, CAST(1 AS BIGINT) AS manifests_read,
        | tot.files_total, CAST(1 AS BIGINT) AS files_scanned,
        | (SELECT CAST(count(*) AS BIGINT) FROM b
        |   WHERE b.bkt = (((pr.key & $mask) * $mult) % $mod) % $n) AS bucket_rows,
        | (SELECT CAST(count(*) AS BIGINT) FROM b WHERE b.l_orderkey = pr.key) AS key_rows,
        | (SELECT round(sum(l_quantity), 4) FROM b WHERE b.l_orderkey = pr.key) AS sum_qty
        |FROM pr, tot
        |ORDER BY probe""".stripMargin
    },

    // Partition evolution across transform families: month era + bucket
    // era; a point lookup prunes the bucket era to one file but scans every
    // month-era file, a Q1-1997 range probe skips the month era at manifest
    // level while every hash-scattered bucket file overlaps.
    "iceberg_bucket_evolution" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val mult = iceberg.Puffin.KmvHashMult
      val mask = iceberg.IcebergTable.BucketKeyMask
      val mod = iceberg.Puffin.KmvHashMod
      val n = iceberg.IcebergTable.BucketN
      s"""WITH base AS (SELECT l_orderkey, strftime(l_shipdate, '%Y-%m') AS m,
        |   l_shipdate < TIMESTAMP '$cut' AS pre,
        |   CAST((((l_orderkey & $mask) * $mult) % $mod) % $n AS BIGINT) AS bkt FROM lineitem),
        | k AS (SELECT CAST(max(l_orderkey) AS BIGINT) AS kmax FROM base),
        | kb AS (SELECT CAST((((kmax & $mask) * $mult) % $mod) % $n AS BIGINT) AS kbkt FROM k),
        | era AS (SELECT CAST(count(DISTINCT m) FILTER (WHERE pre) AS BIGINT) AS f0,
        |   CAST(count(DISTINCT bkt) FILTER (WHERE NOT pre) AS BIGINT) AS f2,
        |   CAST(count(*) FILTER (WHERE pre) AS BIGINT) AS rows0 FROM base),
        | pt AS (SELECT
        |   CAST(count(*) FILTER (WHERE NOT pre AND bkt = kbkt) AS BIGINT) AS bucket_rows,
        |   CAST(count(*) FILTER (WHERE pre AND l_orderkey = kmax) AS BIGINT) AS key_pre,
        |   CAST(count(*) FILTER (WHERE NOT pre AND l_orderkey = kmax) AS BIGINT) AS key_post
        |   FROM base, k, kb),
        | rg AS (SELECT CAST(count(*) AS BIGINT) AS fscan,
        |   CAST(coalesce(sum(nn), 0) AS BIGINT) AS nsel
        |   FROM (SELECT bkt, count(*) AS nn FROM base WHERE NOT pre GROUP BY bkt
        |         HAVING min(m) <= '1997-03' AND max(m) >= '1997-01')),
        | rr AS (SELECT CAST(count(*) FILTER (
        |     WHERE NOT pre AND m BETWEEN '1997-01' AND '1997-03') AS BIGINT) AS range_rows
        |   FROM base)
        |SELECT '1_point_month_era' AS step, era.f0 AS era_files, era.f0 AS files_scanned,
        |  era.rows0 AS rows_in_scanned, pt.key_pre AS check_rows FROM era, pt
        |UNION ALL SELECT '2_point_bucket_era', f2,
        |  CAST(CASE WHEN bucket_rows > 0 THEN 1 ELSE 0 END AS BIGINT), bucket_rows, key_post
        |  FROM era, pt
        |UNION ALL SELECT '3_range_month_era', f0, 0, 0, 0 FROM era
        |UNION ALL SELECT '4_range_bucket_era', f2, rg.fscan, rg.nsel, rr.range_rows
        |  FROM era, rg, rr
        |ORDER BY step""".stripMargin
    },

    // Point lookup under MOR on a bucket table: one file planned per key,
    // that file's DV blob (keys ≡ 6 mod 10) applied on position before the
    // key filter — a deleted key returns zero rows from a one-file scan.
    "iceberg_bucket_mor" -> {
      val mult = iceberg.Puffin.KmvHashMult
      val mask = iceberg.IcebergTable.BucketKeyMask
      val mod = iceberg.Puffin.KmvHashMod
      val n = iceberg.IcebergTable.BucketN
      val dmod = iceberg.IcebergOps.DeleteKeyMod
      val res = iceberg.IcebergOps.BucketMorResidue
      s"""WITH b AS (SELECT l_orderkey, l_quantity,
        |   CAST((((l_orderkey & $mask) * $mult) % $mod) % $n AS BIGINT) AS bkt,
        |   l_orderkey % $dmod = $res AS dead FROM lineitem),
        | pr AS (SELECT 'kmax' AS probe, CAST(max(l_orderkey) AS BIGINT) AS key FROM b
        |   UNION ALL SELECT 'kmin', CAST(min(l_orderkey) AS BIGINT) FROM b)
        |SELECT pr.probe,
        | 'b' || lpad(CAST((((pr.key & $mask) * $mult) % $mod) % $n AS VARCHAR), 2, '0') AS bucket,
        | CAST(1 AS BIGINT) AS files_scanned,
        | (SELECT CAST(CASE WHEN count(*) FILTER (WHERE dead) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |   FROM b WHERE b.bkt = (((pr.key & $mask) * $mult) % $mod) % $n) AS dv_blobs,
        | (SELECT CAST(count(*) FILTER (WHERE dead) AS BIGINT)
        |   FROM b WHERE b.bkt = (((pr.key & $mask) * $mult) % $mod) % $n) AS deleted_in_file,
        | (SELECT CAST(count(*) AS BIGINT) FROM b
        |   WHERE b.l_orderkey = pr.key AND NOT dead) AS live_key_rows,
        | (SELECT coalesce(round(sum(l_quantity), 4), 0.0) FROM b
        |   WHERE b.l_orderkey = pr.key AND NOT dead) AS sum_qty
        |FROM pr
        |ORDER BY probe""".stripMargin
    },

    // `files` metadata table: one row per live data file — the fixture is
    // one file per (era, month), so per-month row stats plus the era as
    // the adding snapshot / sequence number.
    "iceberg_files_meta" ->
      s"""SELECT strftime(l_shipdate, '%Y-%m') AS p_month,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | strftime(min(l_shipdate), '%Y-%m-%d') AS lo_shipdate,
        | strftime(max(l_shipdate), '%Y-%m-%d') AS hi_shipdate,
        | CAST(CASE WHEN min(l_shipdate) < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |      THEN 1 ELSE 2 END AS BIGINT) AS added_snapshot_id,
        | CAST(CASE WHEN min(l_shipdate) < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |      THEN 1 ELSE 2 END AS BIGINT) AS sequence_number
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // `entries` metadata table over the mixed-form fixture: data entries
    // per month keyed to their commit era, plus the equality- and
    // positional-delete entries with their scoping coordinates — the
    // delete-file inspection surface `files` lacks. Paths are projected
    // out (tmp dirs); every remaining column is residue/era arithmetic.
    "iceberg_entries_meta" -> {
      val cut = iceberg.IcebergOps.SnapshotCut
      val mod = iceberg.IcebergOps.DeleteKeyMod
      val rp = iceberg.IcebergOps.PosDeleteResidue
      s"""SELECT 'data' AS content_type, strftime(l_shipdate, '%Y-%m') AS p_month,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(CASE WHEN min(l_shipdate) < TIMESTAMP '$cut' THEN 1 ELSE 2 END AS BIGINT)
        |   AS sequence_number,
        | CAST(CASE WHEN min(l_shipdate) < TIMESTAMP '$cut' THEN 1 ELSE 2 END AS BIGINT)
        |   AS added_snapshot_id
        |FROM lineitem GROUP BY 2
        |UNION ALL SELECT 'equality_deletes', '',
        | CAST(count(DISTINCT l_orderkey) AS BIGINT), 3, 3
        |FROM lineitem WHERE l_orderkey % $mod = 3
        |UNION ALL SELECT 'position_deletes', '',
        | CAST(count(*) AS BIGINT), 4, 4
        |FROM lineitem WHERE l_orderkey % $mod = $rp
        |ORDER BY 1, 2, 4""".stripMargin
    },

    // `manifests` metadata table: one manifest per commit era, with its
    // added file/row counts and partition-summary bounds.
    "iceberg_manifests_meta" ->
      s"""SELECT CAST(era AS BIGINT) AS added_snapshot_id,
        | CAST(count(DISTINCT m) AS BIGINT) AS n_added_files,
        | CAST(count(*) AS BIGINT) AS n_added_rows,
        | min(m) AS p_month_lo, max(m) AS p_month_hi
        |FROM (SELECT strftime(l_shipdate, '%Y-%m') AS m,
        |   CASE WHEN l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |        THEN 1 ELSE 2 END AS era FROM lineitem)
        |GROUP BY era ORDER BY 1""".stripMargin,

    // `history` metadata table: two append snapshots; the second carries
    // both manifests and all rows, and is the current head.
    "iceberg_history_meta" ->
      s"""WITH era AS (SELECT
        |   CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}') AS BIGINT) AS e1,
        |   CAST(count(*) AS BIGINT) AS tot FROM lineitem)
        |SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(1 AS BIGINT) AS sequence_number,
        |  'append' AS operation, FALSE AS is_current,
        |  CAST(1 AS BIGINT) AS n_manifests, e1 AS live_data_rows FROM era
        |UNION ALL SELECT 2, 2, 'append', TRUE, 2, tot FROM era
        |ORDER BY snapshot_id""".stripMargin,

    "iceberg_compact" ->
      s"""WITH t AS (SELECT strftime(l_shipdate, '%Y-%m') AS m,
        |   l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} AS k FROM lineitem)
        |SELECT CAST((SELECT count(DISTINCT m) FROM t) AS BIGINT) AS data_files_before,
        | CAST(1 AS BIGINT) AS delete_files_before,
        | CAST((SELECT count(DISTINCT m) FROM t WHERE k <> 3) AS BIGINT) AS data_files_after,
        | CAST(0 AS BIGINT) AS delete_files_after,
        | CAST((SELECT count(*) FROM t WHERE k <> 3) AS BIGINT) AS live_rows,
        | CAST(4 AS BIGINT) AS n_snapshots""".stripMargin,

    "iceberg_expire" ->
      s"""WITH t AS (SELECT strftime(l_shipdate, '%Y-%m') AS m,
        |   l_orderkey % ${iceberg.IcebergOps.DeleteKeyMod} AS k FROM lineitem)
        |SELECT CAST(3 AS BIGINT) AS snapshots_removed,
        | CAST(3 AS BIGINT) AS manifest_lists_deleted,
        | CAST(3 AS BIGINT) AS manifests_deleted,
        | CAST((SELECT count(DISTINCT m) FROM t) AS BIGINT) AS data_files_deleted,
        | CAST(1 AS BIGINT) AS delete_files_deleted,
        | CAST((SELECT count(*) FROM t WHERE k <> 3) AS BIGINT) AS live_rows_after""".stripMargin,

    "iceberg_stats_prune" ->
      s"""WITH fs AS (SELECT strftime(l_shipdate, '%Y-%m') AS m,
        |   strftime(min(l_shipdate), '%Y-%m-%d') AS fmin,
        |   strftime(max(l_shipdate), '%Y-%m-%d') AS fmax
        |  FROM lineitem GROUP BY 1),
        | ft AS (SELECT CAST(count(*) AS BIGINT) AS files_total FROM fs),
        | sc AS (SELECT CAST(count(*) AS BIGINT) AS files_scanned FROM fs
        |        WHERE fmin <= '1997-02-15' AND fmax >= '1997-02-05')
        |SELECT CAST(count(*) AS BIGINT) AS n_rows, round(sum(l_quantity), 4) AS sum_qty,
        | ft.files_total, sc.files_scanned
        |FROM lineitem, ft, sc
        |WHERE strftime(l_shipdate, '%Y-%m-%d') BETWEEN '1997-02-05' AND '1997-02-15'
        |GROUP BY ft.files_total, sc.files_scanned""".stripMargin,

    "iceberg_partition_evolution" ->
      s"""WITH mo AS (SELECT strftime(l_shipdate, '%Y-%m') AS p,
        |   strftime(min(l_shipdate), '%Y-%m-%d') AS fmin,
        |   strftime(max(l_shipdate), '%Y-%m-%d') AS fmax
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}' GROUP BY 1),
        | wk AS (SELECT strftime(date_trunc('week', l_shipdate), '%Y-%m-%d') AS p,
        |   strftime(min(l_shipdate), '%Y-%m-%d') AS fmin,
        |   strftime(max(l_shipdate), '%Y-%m-%d') AS fmax
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}' GROUP BY 1),
        | m AS (SELECT CAST(0 AS BIGINT) AS spec_id, 'monthly' AS era,
        |   CAST((SELECT count(*) FROM mo) AS BIGINT) AS files_total,
        |   CAST((SELECT count(*) FROM mo WHERE fmin <= '1996-06-15' AND fmax >= '1996-06-05')
        |     AS BIGINT) AS files_scanned,
        |   (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE strftime(l_shipdate, '%Y-%m-%d') BETWEEN '1996-06-05' AND '1996-06-15') AS n_rows),
        | w AS (SELECT CAST(1 AS BIGINT) AS spec_id, 'weekly' AS era,
        |   CAST((SELECT count(*) FROM wk) AS BIGINT) AS files_total,
        |   CAST((SELECT count(*) FROM wk WHERE fmin <= '1997-02-15' AND fmax >= '1997-02-05')
        |     AS BIGINT) AS files_scanned,
        |   (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        |    WHERE strftime(l_shipdate, '%Y-%m-%d') BETWEEN '1997-02-05' AND '1997-02-15') AS n_rows)
        |SELECT era, spec_id, files_total, files_scanned, n_rows FROM m
        |UNION ALL SELECT era, spec_id, files_total, files_scanned, n_rows FROM w
        |ORDER BY era""".stripMargin,

    "iceberg_refs" ->
      s"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS total,
        |   CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |     THEN 1 ELSE 0 END) AS BIGINT) AS pre FROM lineitem)
        |SELECT 'main' AS ref, 'branch' AS ref_type, CAST(2 AS BIGINT) AS snapshot_id,
        | total AS n_rows FROM c
        |UNION ALL
        |SELECT 'v1', 'tag', CAST(1 AS BIGINT), pre FROM c
        |ORDER BY ref""".stripMargin,

    "iceberg_schema_evolution" ->
      s"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS total,
        |   CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |     THEN 1 ELSE 0 END) AS BIGINT) AS wd,
        |   round(sum(CASE WHEN l_shipdate >= TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |     THEN l_discount ELSE 0 END), 4) AS sd FROM lineitem)
        |SELECT total AS n_rows, wd AS rows_with_discount, total - wd AS rows_null_discount,
        | sd AS sum_discount, CAST(2 AS BIGINT) AS n_schemas,
        | CAST(1 AS BIGINT) AS current_schema_id FROM c""".stripMargin,

    "iceberg_wap" ->
      s"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS total,
        |   CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '${iceberg.IcebergOps.SnapshotCut}'
        |     THEN 1 ELSE 0 END) AS BIGINT) AS pre FROM lineitem)
        |SELECT CAST(2 AS BIGINT) AS staged_snapshot_id, pre AS main_rows_before,
        | total AS staged_rows, total AS main_rows_after FROM c""".stripMargin,

    "lake_manifest_prune" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS partition_key, l_orderkey % 40 AS file_id,
        | count(*) AS record_count, round(sum(l_extendedprice),4) AS bytes_proxy
        |FROM lineitem
        |GROUP BY partition_key, file_id
        |HAVING partition_key = '1997-03'
        |ORDER BY partition_key, file_id""".stripMargin,

    "lake_commit_log" ->
      """WITH c AS (SELECT o_orderkey // 100 AS commit_id, count(*) AS files_added,
        |  round(sum(o_totalprice),4) AS bytes_added FROM orders GROUP BY 1)
        |SELECT commit_id, files_added, bytes_added,
        | CAST(sum(files_added) OVER (ORDER BY commit_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS total_files,
        | CAST(sum(files_added) OVER (ORDER BY commit_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS manifest_entries
        |FROM c ORDER BY commit_id""".stripMargin,

    "lake_compaction_plan" ->
      """WITH f AS (SELECT l_orderkey % 40 AS file_id, count(*) * 100 AS file_bytes
        |           FROM lineitem GROUP BY 1),
        | b AS (SELECT file_id, CAST(file_bytes AS BIGINT) AS file_bytes,
        |  CAST(coalesce(sum(file_bytes) OVER (ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bytes_before
        |  FROM f)
        |SELECT file_id, file_bytes, bytes_before // 400000 AS group_id
        |FROM b ORDER BY file_id""".stripMargin,

    "lake_snapshot_diff" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS added_rows,
        | round(sum(o_totalprice),4) AS added_bytes
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1999-01-01' AND o_orderdate < TIMESTAMP '2000-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_orphan_files" ->
      """SELECT r.range AS file_id,
        | 'data/file_' || printf('%05d', r.range) || '.parquet' AS path
        |FROM range(50) r
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey % 40 = r.range)
        |ORDER BY file_id""".stripMargin,

    "lake_concurrent_commits" ->
      """WITH a AS (SELECT range % 8 AS writer_id, range AS commit_order FROM range(40)),
        | r AS (SELECT writer_id, commit_order,
        |  coalesce(lag(commit_order) OVER (PARTITION BY writer_id ORDER BY commit_order), -1) AS prev_order
        |  FROM a)
        |SELECT writer_id, count(*) AS commits,
        | CAST(sum(commit_order - prev_order - 1) AS BIGINT) AS total_retries,
        | round(avg(commit_order - prev_order - 1), 6) AS avg_retries
        |FROM r GROUP BY writer_id ORDER BY writer_id""".stripMargin,

    "ev_sessionize" ->
      s"""WITH $sessionizeCtes
        |SELECT * FROM sess ORDER BY user_id, session_seq""".stripMargin,

    "ev_top_sessions" ->
      s"""WITH $sessionizeCtes
        |SELECT * FROM sess ORDER BY session_value DESC, user_id, session_seq LIMIT 10""".stripMargin,

    "ev_anomaly" ->
      """WITH s AS (SELECT event_type AS et, avg(value) AS mean_v, stddev_samp(value) AS sd_v
        |           FROM events GROUP BY 1)
        |SELECT event_id, event_type, round(value, 2) AS value,
        | round((value - mean_v) / sd_v, 4) AS z
        |FROM events JOIN s ON event_type = et
        |WHERE value > mean_v + 2.0 * sd_v
        |ORDER BY event_id""".stripMargin,

    "ev_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
        | count(*) AS n, round(sum(value), 4) AS sum_value, count(DISTINCT user_id) AS users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_funnel" ->
      """WITH su AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        | conv AS (SELECT e.user_id, su.signup_ts, min(e.ts) AS first_purchase
        |   FROM events e JOIN su ON e.user_id = su.user_id
        |   WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
        |   GROUP BY e.user_id, su.signup_ts)
        |SELECT (SELECT count(*) FROM su) AS signup_users,
        | count(*) AS converted_users,
        | round(count(*) * 100.0 / (SELECT count(*) FROM su), 4) AS conversion_pct,
        | round(avg((epoch_ms(first_purchase) - epoch_ms(signup_ts)) / 3600000.0), 6) AS avg_hours_to_convert
        |FROM conv""".stripMargin,

    "ev_retention" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
        |SELECT strftime(a.day, '%Y-%m-%d') AS day, count(*) AS active_users,
        | CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS retained_next_day,
        | round(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS retention_pct
        |FROM du a LEFT JOIN du b ON b.user_id = a.user_id AND b.day = a.day + 1
        |GROUP BY a.day ORDER BY day""".stripMargin,

    "ev_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_stats" ->
      s"""WITH t AS (SELECT doc_id, lang, text, $tokSql AS tk FROM documents)
        |SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, ' ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\p{L}\\p{N} ]+')) AS BIGINT)
        |   AS n_subtokens,
        | CAST(length(text) AS BIGINT) AS text_len,
        | round(length(replace(text, ' ', '')) * 1.0 / len(tk), 6) AS avg_token_len
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH $qualityCtes
        |SELECT doc_id, stop_ratio, punct_ratio, quality FROM qual ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest($tokSql) AS token FROM documents),
        | prof AS (SELECT lang AS plang, token FROM (
        |   SELECT lang, token, count(*) AS c,
        |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rk
        |   FROM tok GROUP BY lang, token) p WHERE rk <= 20),
        | dt AS (SELECT DISTINCT doc_id, lang, token FROM tok),
        | m AS (SELECT doc_id, lang, plang, count(*) AS mt FROM dt JOIN prof USING (token) GROUP BY 1, 2, 3),
        | pred AS (SELECT doc_id, lang, plang FROM (
        |   SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY mt DESC, plang) AS rk FROM m) x
        |  WHERE rk = 1)
        |SELECT lang AS true_lang, plang AS pred_lang, count(*) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id,
        |   unnest(list_transform($tokSql, (x, i) -> {'token': x, 'pos': i})) AS tp FROM documents),
        | t2 AS (SELECT doc_id, tp.token AS token, CAST(tp.pos AS BIGINT) AS pos FROM tok),
        | vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
        |           FROM (SELECT DISTINCT token FROM t2))
        |SELECT doc_id, count(*) AS n_tokens, bit_xor(tid * pos) AS fingerprint
        |FROM t2 JOIN vocab USING (token) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_top_ngrams" ->
      s"""WITH t AS (SELECT $tokSql AS tk FROM documents),
        | bg AS (SELECT unnest(list_filter(
        |   list_transform(tk, (x, i) -> CASE WHEN i < len(tk) THEN x || ' ' || tk[i+1] END),
        |   y -> y IS NOT NULL)) AS bigram FROM t)
        |SELECT bigram, count(*) AS n FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 15""".stripMargin,

    "text_pii_scan" -> {
      // Patterns spliced from the shared TextAnalysis.PiiClasses vals so the
      // oracle cannot silently diverge from the operator's regex set.
      val cols = TextAnalysis.PiiClasses
        .map { case (nm, re) => s"len(regexp_extract_all(text, '$re')) AS $nm" }
        .mkString(", ")
      val cases = TextAnalysis.PiiClasses
        .map { case (nm, _) => s"WHEN '$nm' THEN $nm" }.mkString(" ")
      val vals = TextAnalysis.PiiClasses.map(c => s"('${c._1}')").mkString(", ")
      s"""WITH c AS (SELECT source, $cols FROM documents),
        | s AS (SELECT source, cls AS pii_class, CASE cls $cases END AS hits
        |  FROM c, (VALUES $vals) v(cls))
        |SELECT source, pii_class,
        | CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
        | CAST(sum(hits) AS BIGINT) AS n_hits
        |FROM s GROUP BY 1, 2 ORDER BY source, pii_class""".stripMargin
    },

    "dedup_cdc" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS t FROM documents),
        | tk AS (SELECT doc_id, pos, t[CAST(pos AS INT)] AS token FROM
        |   (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM d)),
        | h AS (SELECT doc_id, pos, token,
        |   CAST(('0x' || substring(md5(token), 1, 8)) AS BIGINT) % 16 = 0 AS bnd FROM tk),
        | c AS (SELECT doc_id, pos, token,
        |   coalesce(sum(CASE WHEN bnd THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk FROM h),
        | ch AS (SELECT doc_id, chunk, CAST(count(*) AS BIGINT) AS n_tok,
        |   md5(string_agg(token, ' ' ORDER BY pos)) AS sig FROM c GROUP BY 1, 2),
        | ds AS (SELECT sig, count(DISTINCT doc_id) AS n_docs FROM ch GROUP BY 1),
        | r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |   CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        |   CAST(sum(CASE WHEN n_docs > 1 THEN n_tok ELSE 0 END) AS BIGINT) AS dup_tokens
        |  FROM ch JOIN ds USING (sig) GROUP BY 1)
        |SELECT doc_id, n_chunks, n_tokens, dup_chunks, dup_tokens,
        | round(dup_tokens * 1.0 / n_tokens, 6) AS dup_frac
        |FROM r ORDER BY doc_id""".stripMargin,

    "dedup_blocks" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS t FROM documents),
        | n AS (SELECT doc_id, t, CAST(ceil(len(t) / 20.0) AS BIGINT) AS nb FROM d),
        | e AS (SELECT doc_id, t, unnest(range(0, nb)) AS b FROM n WHERE nb > 0),
        | bl AS (SELECT doc_id,
        |   md5(array_to_string(t[CAST(b * 20 + 1 AS INT):CAST(b * 20 + 20 AS INT)], ' ')) AS sig
        |  FROM e),
        | ds AS (SELECT sig, count(DISTINCT doc_id) AS n_docs FROM bl GROUP BY 1),
        | r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |   CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_blocks
        |  FROM bl JOIN ds USING (sig) GROUP BY 1)
        |SELECT doc_id, n_blocks, dup_blocks,
        | round(dup_blocks * 1.0 / n_blocks, 6) AS dup_frac,
        | round(dup_blocks * 1.0 / n_blocks, 6) >= 0.8 AS drop_doc
        |FROM r ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      s"""WITH s AS (SELECT doc_id,
        |   array_to_string(list_sort(list_distinct($tokSql)), ' ') AS sig FROM documents)
        |SELECT doc_id, count(*) OVER (PARTITION BY sig) AS group_size,
        | doc_id = min(doc_id) OVER (PARTITION BY sig) AS keep
        |FROM s ORDER BY doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $shinglePairCtes
        |SELECT doc_a, doc_b, common, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_jaccard_sweep" ->
      s"""WITH $shinglePairCtes,
        | th AS (SELECT CAST(unnest([0.3, 0.5, 0.7, 0.9]) AS DOUBLE) AS threshold),
        | f AS (SELECT threshold, doc_a, doc_b FROM j CROSS JOIN th WHERE jaccard >= threshold),
        | np AS (SELECT threshold, count(*) AS n_pairs FROM f GROUP BY 1),
        | nd AS (SELECT threshold, CAST(count(DISTINCT vid) AS BIGINT) AS n_docs_linked FROM (
        |   SELECT threshold, doc_a AS vid FROM f UNION ALL SELECT threshold, doc_b FROM f)
        |  GROUP BY 1),
        | tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT threshold, coalesce(n_pairs, 0) AS n_pairs,
        | coalesce(n_docs_linked, 0) AS n_docs_linked,
        | round(coalesce(n_docs_linked, 0) * 100.0 / n_docs, 4) AS pct_linked
        |FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold) CROSS JOIN tot
        |ORDER BY threshold""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $minhashCtes
        |SELECT doc_a, doc_b, round(e, 6) AS est_sim FROM mh_pairs WHERE e >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Exact-substring dedup: positional 8-gram anchors (1-based here,
    // 0-based in Spark — all outputs are lengths/counts, base-invariant),
    // occurrence-capped, diagonal islands → maximal runs ≥ 16, then an
    // interval-union pass per pair/side so duplicated tokens count once.
    "dedup_substring" ->
      s"""WITH $substrCtes,
        | ia AS (SELECT doc_a, doc_b, isl, max(e) - min(s) AS cov FROM (
        |   SELECT doc_a, doc_b, s, e,
        |     sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |       OVER (PARTITION BY doc_a, doc_b ORDER BY s, e, diag ROWS UNBOUNDED PRECEDING) AS isl
        |   FROM (SELECT doc_a, doc_b, diag, sa AS s, sa + run_len AS e,
        |      max(sa + run_len) OVER (PARTITION BY doc_a, doc_b
        |        ORDER BY sa, sa + run_len, diag
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |     FROM r2)) GROUP BY doc_a, doc_b, isl),
        | ca AS (SELECT doc_a, doc_b, CAST(sum(cov) AS BIGINT) AS dup_tokens_a
        |   FROM ia GROUP BY doc_a, doc_b),
        | ib AS (SELECT doc_a, doc_b, isl, max(e) - min(s) AS cov FROM (
        |   SELECT doc_a, doc_b, s, e,
        |     sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |       OVER (PARTITION BY doc_a, doc_b ORDER BY s, e, diag ROWS UNBOUNDED PRECEDING) AS isl
        |   FROM (SELECT doc_a, doc_b, diag, sb AS s, sb + run_len AS e,
        |      max(sb + run_len) OVER (PARTITION BY doc_a, doc_b
        |        ORDER BY sb, sb + run_len, diag
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |     FROM r2)) GROUP BY doc_a, doc_b, isl),
        | cb AS (SELECT doc_a, doc_b, CAST(sum(cov) AS BIGINT) AS dup_tokens_b
        |   FROM ib GROUP BY doc_a, doc_b),
        | pr AS (SELECT doc_a, doc_b, count(*) AS n_runs, max(run_len) AS max_run
        |   FROM r2 GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, CAST(n_runs AS BIGINT) AS n_runs,
        | CAST(max_run AS BIGINT) AS max_run, dup_tokens_a, dup_tokens_b,
        | round(dup_tokens_a * 1.0 / la.n_tok, 6) AS dup_frac_a,
        | round(dup_tokens_b * 1.0 / lb.n_tok, 6) AS dup_frac_b
        |FROM pr JOIN ca USING (doc_a, doc_b) JOIN cb USING (doc_a, doc_b)
        | JOIN dl la ON la.doc_id = pr.doc_a JOIN dl lb ON lb.doc_id = pr.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Per-doc onion coverage: every run interval lands on BOTH endpoint
    // docs, per-doc union via the same running-max islands, zero-coverage
    // docs kept by the doc-length left join.
    "dedup_onion" ->
      s"""WITH $substrCtes,
        | sides AS (SELECT doc_a AS doc_id, doc_b AS other, diag,
        |    sa AS s, sa + run_len AS e FROM r2
        |   UNION ALL SELECT doc_b, doc_a, diag, sb, sb + run_len FROM r2),
        | u AS (SELECT doc_id, isl, max(e) - min(s) AS cov FROM (
        |   SELECT doc_id, s, e,
        |     sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |       OVER (PARTITION BY doc_id ORDER BY s, e, other, diag ROWS UNBOUNDED PRECEDING) AS isl
        |   FROM (SELECT doc_id, other, diag, s, e,
        |      max(e) OVER (PARTITION BY doc_id ORDER BY s, e, other, diag
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |     FROM sides)) GROUP BY doc_id, isl),
        | cv AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS dup_tokens FROM u GROUP BY 1),
        | pt AS (SELECT doc_id, CAST(count(DISTINCT other) AS BIGINT) AS n_partners
        |   FROM sides GROUP BY 1)
        |SELECT dl.doc_id, dl.n_tok,
        | CAST(coalesce(pt.n_partners, 0) AS BIGINT) AS n_partners,
        | CAST(coalesce(cv.dup_tokens, 0) AS BIGINT) AS dup_tokens,
        | round(coalesce(cv.dup_tokens, 0) * 1.0 / dl.n_tok, 6) AS dup_frac,
        | round(coalesce(cv.dup_tokens, 0) * 1.0 / dl.n_tok, 6) >= 0.5 AS drop_doc
        |FROM dl LEFT JOIN cv USING (doc_id) LEFT JOIN pt USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Estimator calibration on the LSH candidate set: est deciles vs exact
    // distinct-token-set Jaccard (computed only for candidates). Estimates
    // are k/16 dyadic rationals → decile/threshold edges engine-invariant.
    "dedup_minhash_calibration" ->
      s"""WITH $minhashCtes,
        | cp AS (SELECT doc_a, doc_b, e FROM mh_pairs
        |   WHERE e >= 0.5 AND ((doc_a % 1000003) * 31 + doc_b) % 20 = 0),
        | sz AS (SELECT doc_id, count(*) AS ntok FROM tok GROUP BY 1),
        | iv AS (SELECT cp.doc_a, cp.doc_b, count(*) AS inter
        |   FROM cp JOIN tok ta ON ta.doc_id = cp.doc_a
        |   JOIN tok tb ON tb.doc_id = cp.doc_b AND tb.token = ta.token
        |   GROUP BY 1, 2),
        | x AS (SELECT cp.doc_a, cp.doc_b, e, coalesce(iv.inter, 0) AS inter,
        |    na.ntok AS na, nb.ntok AS nb
        |   FROM cp LEFT JOIN iv USING (doc_a, doc_b)
        |   JOIN sz na ON na.doc_id = cp.doc_a JOIN sz nb ON nb.doc_id = cp.doc_b),
        | y AS (SELECT CAST(floor(e * 10) AS BIGINT) AS bucket, e,
        |    inter * 1.0 / (na + nb - inter) AS exact_j FROM x)
        |SELECT bucket, count(*) AS n_pairs,
        | round(avg(e), 6) + 0 AS mean_est,
        | round(avg(exact_j), 6) + 0 AS mean_exact,
        | round(avg(abs(e - exact_j)), 6) + 0 AS mean_abs_err,
        | round(sum(CASE WHEN exact_j >= 0.7 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
        |   AS true_dup_rate
        |FROM y GROUP BY bucket ORDER BY bucket""".stripMargin,

    "dedup_bloom" ->
      s"""WITH tok AS (SELECT doc_id,
        |   unnest(list_transform($tokSql, (x, i) -> {'token': x, 'pos': i})) AS tp FROM documents),
        | t2 AS (SELECT doc_id, tp.token AS token, CAST(tp.pos AS BIGINT) AS pos FROM tok),
        | vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
        |           FROM (SELECT DISTINCT token FROM t2)),
        | fp AS (SELECT doc_id, count(*) AS n_tokens, bit_xor(tid * pos) AS fingerprint
        |        FROM t2 JOIN vocab USING (token) GROUP BY doc_id),
        | f2 AS (SELECT doc_id, n_tokens, fingerprint, doc_id % ${Dedup.BloomBatchMod} = 0 AS is_batch,
        |     ((((fingerprint % 1000003) + 1000003) % 1000003) * 31 + n_tokens) % 1000003 AS key
        |   FROM fp),
        | ks AS (SELECT unnest([${(0 until Dedup.BloomK).mkString(", ")}]) AS i),
        | posx AS (SELECT doc_id, is_batch,
        |     (key * (((i + 1) * 2654435761) % 1000003) + (i * 40503 + 7919)) % 1000003 % ${Dedup.BloomMBits} AS pos
        |   FROM f2 CROSS JOIN ks),
        | bits AS (SELECT DISTINCT pos FROM posx WHERE NOT is_batch),
        | scr AS (SELECT p.doc_id, count(DISTINCT p.pos) AS n_pos, count(DISTINCT b.pos) AS n_hit
        |   FROM posx p LEFT JOIN bits b ON b.pos = p.pos WHERE p.is_batch GROUP BY 1),
        | corp AS (SELECT DISTINCT fingerprint, n_tokens FROM f2 WHERE NOT is_batch),
        | tr AS (SELECT f2.doc_id, (c.fingerprint IS NOT NULL) AS is_dup
        |   FROM f2 LEFT JOIN corp c ON c.fingerprint = f2.fingerprint AND c.n_tokens = f2.n_tokens
        |   WHERE f2.is_batch),
        | fill AS (SELECT CAST(count(*) AS BIGINT) AS bits_set,
        |          round(count(*) * 100.0 / ${Dedup.BloomMBits}, 4) AS fill_pct FROM bits)
        |SELECT (n_hit = n_pos) AS maybe_dup, is_dup, count(*) AS n_docs, bits_set, fill_pct
        |FROM scr JOIN tr USING (doc_id) CROSS JOIN fill
        |GROUP BY 1, 2, bits_set, fill_pct ORDER BY maybe_dup, is_dup""".stripMargin,

    "text_kneser_ney" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS t FROM documents),
        | tk0 AS (SELECT doc_id, pos, t[CAST(pos AS INT)] AS token FROM
        |   (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM d)),
        | tk AS (SELECT doc_id, pos, token,
        |   lag(token, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS u FROM tk0),
        | tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0 AND u IS NOT NULL),
        | c2 AS (SELECT u, token, CAST(count(*) AS BIGINT) AS c2 FROM tr GROUP BY 1, 2),
        | c1 AS (SELECT u, CAST(sum(c2) AS BIGINT) AS c1,
        |   CAST(count(*) AS BIGINT) AS n1p_right FROM c2 GROUP BY 1),
        | cont AS (SELECT token, CAST(count(*) AS BIGINT) AS n1p_left FROM c2 GROUP BY 1),
        | tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM c2),
        | ev AS (SELECT e.doc_id,
        |   CASE WHEN c1.c1 IS NOT NULL THEN
        |     greatest(coalesce(c2.c2, 0) - 0.75, 0.0) / c1.c1 +
        |       0.75 * c1.n1p_right / c1.c1 * (coalesce(cont.n1p_left, 1) * 1.0 / tt.t_types)
        |   ELSE coalesce(cont.n1p_left, 1) * 1.0 / tt.t_types END AS score
        |  FROM tk e
        |  LEFT JOIN c2 ON c2.u = e.u AND c2.token = e.token
        |  LEFT JOIN c1 ON c1.u = e.u
        |  LEFT JOIN cont ON cont.token = e.token
        |  CROSS JOIN tt
        |  WHERE e.doc_id % 2 = 1 AND e.u IS NOT NULL)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        | round(avg(round(log10(score), 12)), 6) AS avg_log10
        |FROM ev GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "text_lm_backoff" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS t FROM documents),
        | tk0 AS (SELECT doc_id, pos, t[CAST(pos AS INT)] AS token FROM
        |   (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM d)),
        | tk AS (SELECT doc_id, pos, token,
        |   lag(token, 1) OVER dw AS w2, lag(token, 2) OVER dw AS w1
        |  FROM tk0 WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
        | tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
        | c3 AS (SELECT w1, w2, token, CAST(count(*) AS BIGINT) AS c3 FROM tr
        |  WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
        | c2 AS (SELECT w2 AS b1, token AS b2, CAST(count(*) AS BIGINT) AS c2 FROM tr
        |  WHERE w2 IS NOT NULL GROUP BY 1, 2),
        | c1 AS (SELECT token AS u, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
        | nt AS (SELECT CAST(count(*) AS BIGINT) AS n_train FROM tr),
        | ev AS (SELECT e.doc_id,
        |   CASE WHEN c3.c3 IS NOT NULL THEN c3.c3 * 1.0 / cx.c2
        |        WHEN cb.c2 IS NOT NULL THEN 0.4 * cb.c2 / u2.c1
        |        WHEN uw.c1 IS NOT NULL THEN 0.16 * uw.c1 / nt.n_train
        |        ELSE 0.16 / nt.n_train END AS score
        |  FROM tk e
        |  LEFT JOIN c3 ON c3.w1 = e.w1 AND c3.w2 = e.w2 AND c3.token = e.token
        |  LEFT JOIN c2 cx ON cx.b1 = e.w1 AND cx.b2 = e.w2
        |  LEFT JOIN c2 cb ON cb.b1 = e.w2 AND cb.b2 = e.token
        |  LEFT JOIN c1 u2 ON u2.u = e.w2
        |  LEFT JOIN c1 uw ON uw.u = e.token
        |  CROSS JOIN nt
        |  WHERE e.doc_id % 2 = 1 AND e.w1 IS NOT NULL)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
        | round(avg(round(log10(score), 12)), 6) AS avg_log10
        |FROM ev GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "dedup_soft" ->
      s"""WITH RECURSIVE $minhashCtes,
        | hits AS (SELECT doc_a, doc_b FROM mh_pairs WHERE e >= 0.9),
        | edges AS (SELECT doc_a AS src, doc_b AS dst FROM hits
        |           UNION ALL SELECT doc_b, doc_a FROM hits),
        | reach(id, r) AS (
        |   SELECT doc_id, doc_id FROM documents
        |   UNION
        |   SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        | comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
        | cs AS (SELECT comp, CAST(count(*) AS BIGINT) AS comp_size FROM comp GROUP BY 1),
        | tl AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS n_tokens FROM documents)
        |SELECT c.doc_id, c.comp, s.comp_size,
        | round(1.0 / s.comp_size, 6) AS weight, t.n_tokens,
        | round(t.n_tokens * 1.0 / s.comp_size, 6) AS eff_tokens
        |FROM comp c JOIN cs s ON c.comp = s.comp JOIN tl t ON c.doc_id = t.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    "dedup_components" ->
      s"""WITH RECURSIVE $minhashCtes,
        | hits AS (SELECT doc_a, doc_b FROM mh_pairs WHERE e >= 0.9),
        | edges AS (SELECT doc_a AS src, doc_b AS dst FROM hits
        |           UNION ALL SELECT doc_b, doc_a FROM hits),
        | reach(id, r) AS (
        |   SELECT doc_id, doc_id FROM documents
        |   UNION
        |   SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest($tokSql) AS token FROM documents),
        | vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
        |           FROM (SELECT DISTINCT token FROM tok)),
        | bits AS (SELECT doc_id, j,
        |   sum(CASE WHEN (tid * 2654435761 + j * 40503) % 65536 > 32767 THEN 1 ELSE -1 END) AS bitsum
        |  FROM (SELECT doc_id, tid FROM tok JOIN vocab USING (token)) t,
        |       (SELECT unnest(range(0, 32)) AS j) js
        |  GROUP BY doc_id, j)
        |SELECT doc_id,
        | CAST(sum(CASE WHEN bitsum > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_embedding" ->
      s"""WITH $embPrepSql,
        |$embBandPairCtes
        |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.45 ORDER BY vec_a, vec_b""".stripMargin,

    "dedup_semantic" ->
      s"""WITH RECURSIVE $embPrepSql,
        |$embBandPairCtes,
        | hits AS (SELECT vec_a, vec_b FROM p WHERE cos >= 0.45),
        | edges AS (SELECT vec_a AS src, vec_b AS dst FROM hits
        |           UNION ALL SELECT vec_b, vec_a FROM hits),
        | reach(id, r) AS (
        |   SELECT vec_id, vec_id FROM embeddings
        |   UNION
        |   SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS vec_id, min(r) AS comp, (id = min(r)) AS is_rep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,

    // Greedy k-center (farthest-point) coreset: the oracle unrolls the k
    // argmax rounds as a CTE chain over the same rounded cosine distances
    // and vec_id tie-breaks, replaying the greedy trajectory exactly.
    "knn_coreset" -> {
      val k = 6
      def dot(a: String, b: String) =
        s"list_reduce(list_transform(list_zip($a, $b), z -> z[1] * z[2]), (x, y) -> x + y)"
      val steps = (2 to k).map { i =>
        s""" m$i AS (SELECT m.vec_id, m.label, m.v, m.nrm,
           |   least(m.mind, round(1 - ${dot("m.v", "t.v")} / (m.nrm * t.nrm), 6)) AS mind
           |   FROM m${i - 1} m, t${i - 1} t),
           | x$i AS (SELECT vec_id FROM x${i - 1} UNION ALL SELECT vec_id FROM t${i - 1}),
           | t$i AS (SELECT vec_id, label, v, nrm, mind FROM m$i
           |   WHERE vec_id NOT IN (SELECT vec_id FROM x$i)
           |   ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n|")
      val rows = (2 to k).map(i =>
        s"UNION ALL SELECT ${i}, t${i - 1}.vec_id, t${i - 1}.label, t${i - 1}.mind, t$i.mind FROM t${i - 1}, t$i")
        .mkString("\n|")
      s"""WITH $embPrepSql,
        | c1 AS (SELECT vec_id, label, v, nrm FROM n ORDER BY vec_id LIMIT 1),
        | m1 AS (SELECT n.vec_id, n.label, n.v, n.nrm,
        |   round(1 - ${dot("n.v", "c.v")} / (n.nrm * c.nrm), 6) AS mind FROM n, c1 c),
        | x1 AS (SELECT vec_id FROM c1),
        | t1 AS (SELECT vec_id, label, v, nrm, mind FROM m1
        |   WHERE vec_id NOT IN (SELECT vec_id FROM x1)
        |   ORDER BY mind DESC, vec_id LIMIT 1),
        |$steps
        |SELECT CAST(1 AS BIGINT) AS sel_order, c1.vec_id AS center_id, c1.label,
        | CAST(NULL AS DOUBLE) AS dist_when_chosen, t1.mind AS coverage_after
        |FROM c1, t1
        |$rows
        |ORDER BY sel_order""".stripMargin
    },

    "knn_mmr" -> {
      val stages = (2 to 5).map { i =>
        val prevSel = (1 until i).map(j => s"SELECT q_id, vec_id FROM p$j").mkString(" UNION ALL ")
        s""" sel$i AS ($prevSel),
           | pen$i AS (SELECT s.q_id, s.d_id, max(s.sim_u) AS maxsim_u
           |  FROM sims s JOIN sel$i t ON s.q_id = t.q_id AND s.s_id = t.vec_id
           |  GROUP BY 1, 2),
           | p$i AS (SELECT c.q_id, c.vec_id, c.rel_u * 7 - m.maxsim_u * 3 AS score_u
           |  FROM cand c JOIN pen$i m ON c.q_id = m.q_id AND c.vec_id = m.d_id
           |  WHERE NOT EXISTS (SELECT 1 FROM sel$i t
           |    WHERE t.q_id = c.q_id AND t.vec_id = c.vec_id)
           |  QUALIFY row_number() OVER (PARTITION BY c.q_id
           |    ORDER BY c.rel_u * 7 - m.maxsim_u * 3 DESC, c.vec_id) = 1)""".stripMargin
      }.mkString(",\n")
      val picks = (1 to 5)
        .map(i => s"SELECT q_id, vec_id, CAST($i AS BIGINT) AS pick, score_u FROM p$i")
        .mkString(" UNION ALL ")
      s"""WITH $embPrepSql,
        | q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        | r0 AS (SELECT q_id, vec_id, v, nrm,
        |   CAST(round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm) * 1e6, 0) AS BIGINT) AS rel_u
        |  FROM n JOIN q ON vec_id <> q_id),
        | cand AS (SELECT q_id, vec_id, v, nrm, rel_u FROM (
        |   SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel_u DESC, vec_id) AS rk FROM r0)
        |  WHERE rk <= 20),
        | sims AS (SELECT a.q_id AS q_id, a.vec_id AS d_id, b.vec_id AS s_id,
        |   CAST(round(list_reduce(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (a.nrm * b.nrm) * 1e6, 0) AS BIGINT) AS sim_u
        |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
        | p1 AS (SELECT q_id, vec_id, rel_u * 7 AS score_u FROM cand
        |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY rel_u * 7 DESC, vec_id) = 1),
        |$stages
        |SELECT q_id, vec_id, pick, CAST(score_u AS DOUBLE) / 10000000 AS score
        |FROM ($picks) ORDER BY q_id, pick""".stripMargin
    },

    "knn_brute" ->
      s"""WITH $embPrepSql,
        | q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        | s AS (SELECT q_id, vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM n JOIN q ON vec_id <> q_id),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk FROM s)
        |SELECT q_id, neighbor_id, rk, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "knn_lsh" ->
      s"""WITH $embPrepSql,
        |$lshBucketCtes,
        | q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM g WHERE vec_id < 10),
        | s AS (SELECT q_id, g.bucket AS bucket, g.vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, g.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * g.nrm), 6) AS cos
        |  FROM g JOIN q USING (bucket) WHERE g.vec_id <> q.q_id),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk FROM s)
        |SELECT q_id, bucket, neighbor_id, rk, cos FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    "knn_centroid" ->
      s"""WITH $embPrepSql,
        | ex AS (SELECT vec_id, label, unnest(list_transform(v, (x, i) -> {'pos': i, 'x': x})) AS px FROM b),
        | ce AS (SELECT label AS clabel, px.pos AS pos, round(avg(px.x), 9) AS c FROM ex GROUP BY 1, 2),
        | cv AS (SELECT clabel, list(c ORDER BY pos) AS cvec FROM ce GROUP BY 1),
        | cn AS (SELECT clabel, cvec,
        |   sqrt(list_reduce(list_transform(cvec, x -> x * x), (a, c2) -> a + c2)) AS cn FROM cv),
        | sc AS (SELECT n.vec_id, n.label, cn.clabel,
        |   round(list_reduce(list_transform(list_zip(n.v, cn.cvec), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (n.nrm * cn.cn), 6) AS cos
        |  FROM n, cn),
        | pr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rk FROM sc)
        |SELECT label, clabel AS assigned, count(*) AS n FROM pr WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_next_event" ->
      """WITH p AS (SELECT user_id, event_type AS prev_type,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        | pr AS (SELECT * FROM p WHERE next_type IS NOT NULL),
        | tr AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |  FROM pr WHERE user_id % 2 = 0 GROUP BY 1, 2),
        | model AS (SELECT prev_type, next_type AS predicted_next, n AS n_top FROM (
        |   SELECT *, row_number() OVER (PARTITION BY prev_type ORDER BY n DESC, next_type) AS rk
        |   FROM tr) WHERE rk = 1),
        | tt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_train FROM tr GROUP BY 1),
        | ev AS (SELECT pr.prev_type, m.predicted_next,
        |   CAST(count(*) AS BIGINT) AS n_eval,
        |   CAST(sum(CASE WHEN pr.next_type = m.predicted_next THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |  FROM pr JOIN model m ON pr.prev_type = m.prev_type
        |  WHERE pr.user_id % 2 = 1 GROUP BY 1, 2)
        |SELECT e.prev_type, e.predicted_next, t.n_train, e.n_eval, e.n_correct,
        | round(e.n_correct * 1.0 / e.n_eval, 6) AS accuracy
        |FROM ev e JOIN tt t ON e.prev_type = t.prev_type
        |ORDER BY e.prev_type""".stripMargin,

    "lake_incremental_agg" ->
      """WITH snap AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_c,
        |   min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS min_c,
        |   max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS max_c
        |  FROM orders WHERE o_orderdate < '1997-01-01' GROUP BY 1),
        | delta AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_c,
        |   min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS min_c,
        |   max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS max_c
        |  FROM orders WHERE o_orderdate >= '1997-01-01' GROUP BY 1),
        | u AS (SELECT * FROM snap UNION ALL SELECT * FROM delta),
        | merged AS (SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS merged_n,
        |   CAST(sum(sum_c) AS BIGINT) AS merged_sum_c,
        |   min(min_c) AS merged_min_c, max(max_c) AS merged_max_c
        |  FROM u GROUP BY 1),
        | test AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS full_n,
        |   CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS full_sum_c,
        |   min(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS full_min_c,
        |   max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS full_max_c
        |  FROM orders GROUP BY 1)
        |SELECT m.o_orderpriority, coalesce(s.n, 0) AS snap_n, coalesce(d.n, 0) AS delta_n,
        | m.merged_n, m.merged_sum_c, m.merged_min_c, m.merged_max_c,
        | (m.merged_n = t.full_n AND m.merged_sum_c = t.full_sum_c
        |  AND m.merged_min_c = t.full_min_c AND m.merged_max_c = t.full_max_c) AS consistent
        |FROM merged m
        |LEFT JOIN snap s ON m.o_orderpriority = s.o_orderpriority
        |LEFT JOIN delta d ON m.o_orderpriority = d.o_orderpriority
        |JOIN test t ON m.o_orderpriority = t.o_orderpriority
        |ORDER BY m.o_orderpriority""".stripMargin,

    "q71_bloom_join" -> {
      val P = 1000003L
      val m = 1L << 18
      def posSql(keyExpr: String) = (0 until 4).map { i =>
        val a = ((i + 1).toLong * 2654435761L) % P
        val b = i.toLong * 40503L + 7919L
        s"((($keyExpr) % $P) * $a + $b) % $P % $m"
      }
      s"""WITH build AS (SELECT DISTINCT o_orderkey AS key FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        | bits AS (${posSql("key").map(p => s"SELECT DISTINCT $p AS pos FROM build")
          .mkString(" UNION ")}),
        | kc AS (SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS rows_n
        |  FROM lineitem GROUP BY 1),
        | dec AS (SELECT kc.key, kc.rows_n,
        |   ${posSql("kc.key").zipWithIndex.map { case (p, i) =>
             s"(CASE WHEN EXISTS (SELECT 1 FROM bits WHERE pos = $p) THEN 0 ELSE 1 END)" }
            .mkString(" + ")} AS n_miss,
        |   EXISTS (SELECT 1 FROM build b WHERE b.key = kc.key) AS matched
        |  FROM kc),
        | g AS (SELECT CAST(sum(rows_n) AS BIGINT) AS probe_rows,
        |   CAST(sum(CASE WHEN n_miss = 0 THEN rows_n ELSE 0 END) AS BIGINT) AS bloom_pass_rows,
        |   CAST(sum(CASE WHEN matched THEN rows_n ELSE 0 END) AS BIGINT) AS matched_rows
        |  FROM dec),
        | nb AS (SELECT CAST(count(*) AS BIGINT) AS build_keys FROM build)
        |SELECT probe_rows, build_keys, bloom_pass_rows, matched_rows,
        | bloom_pass_rows - matched_rows AS fp_rows,
        | round((probe_rows - bloom_pass_rows) * 100.0 / probe_rows, 6) AS shuffle_reduction_pct,
        | round((bloom_pass_rows - matched_rows) * 100.0 / (probe_rows - matched_rows), 6) AS fp_pass_pct
        |FROM g CROSS JOIN nb""".stripMargin
    },

    "q70_countmin" -> {
      // Hash rows spliced from Relational.CmHashes so the two engines build
      // the identical sketch (the dedup_bloom shared-constant pattern).
      val hv = Relational.CmHashes
        .map { case (j, a, b) => s"($j, CAST($a AS BIGINT), CAST($b AS BIGINT))" }
        .mkString(", ")
      s"""WITH h(j, a, b) AS (VALUES $hv),
        | ctr AS (SELECT j, ((l_partkey * a + b) % ${Relational.CmP}) % 1024 AS bucket,
        |   CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem CROSS JOIN h GROUP BY 1, 2),
        | ex AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_n FROM lineitem
        |  GROUP BY 1 ORDER BY exact_n DESC, l_partkey LIMIT 20),
        | es AS (SELECT ex.l_partkey, ex.exact_n, min(ctr.c) AS est_n
        |  FROM ex CROSS JOIN h
        |  JOIN ctr ON ctr.j = h.j
        |   AND ctr.bucket = ((ex.l_partkey * h.a + h.b) % ${Relational.CmP}) % 1024
        |  GROUP BY 1, 2),
        | t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM lineitem)
        |SELECT l_partkey, exact_n, est_n, est_n - exact_n AS overcount,
        | CAST(ceil(2.718281828459045 * n_total / 1024) AS BIGINT) AS eps_bound,
        | est_n - exact_n <= CAST(ceil(2.718281828459045 * n_total / 1024) AS BIGINT) AS within_eps
        |FROM es CROSS JOIN t ORDER BY exact_n DESC, l_partkey""".stripMargin
    },

    "knn_ivf_balance" ->
      s"""WITH $embPrepSql,
        | ex AS (SELECT vec_id, label, unnest(list_transform(v, (x, i) -> {'pos': i, 'x': x})) AS px FROM b),
        | ce AS (SELECT label AS clabel, px.pos AS pos, round(avg(px.x), 9) AS c FROM ex GROUP BY 1, 2),
        | cv AS (SELECT clabel, list(c ORDER BY pos) AS cvec FROM ce GROUP BY 1),
        | cn AS (SELECT clabel, cvec,
        |   sqrt(list_reduce(list_transform(cvec, x -> x * x), (a, c2) -> a + c2)) AS cn FROM cv),
        | sc AS (SELECT n.vec_id, cn.clabel,
        |   round(list_reduce(list_transform(list_zip(n.v, cn.cvec), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (n.nrm * cn.cn), 6) AS cos
        |  FROM n, cn),
        | pr AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rk FROM sc),
        | li AS (SELECT clabel AS assigned, CAST(count(*) AS BIGINT) AS n_vecs
        |  FROM pr WHERE rk = 1 GROUP BY 1),
        | g AS (SELECT CAST(count(*) AS BIGINT) AS k_lists, CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |   CAST(max(n_vecs) AS BIGINT) AS max_list,
        |   CAST(sum(n_vecs * n_vecs) AS BIGINT) AS sum_sq FROM li)
        |SELECT assigned, n_vecs,
        | round(n_vecs * 100.0 / n_total, 6) AS pct,
        | round(max_list * k_lists * 1.0 / n_total, 6) AS imbalance_x,
        | round(sum_sq * 1.0 / n_total, 4) AS exp_probe_cost
        |FROM li, g ORDER BY assigned""".stripMargin,

    "mm_features" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT) AS checksum
        | FROM documents)
        |SELECT doc_id, byte_len, checksum, checksum % 16 AS feature_bucket
        |FROM f ORDER BY doc_id""".stripMargin,

    // Byte-histogram Shannon entropy triage; thresholds on the rounded
    // bits so both engines classify identically.
    "mm_magic_bytes" ->
      """WITH h AS (SELECT source, CAST(strlen(text) AS BIGINT) AS blen,
        |   hex(substring(text, 1, 4)) AS h8, substring(text, 1, 32) AS p32,
        |   length(regexp_replace(substring(text, 1, 32), '[^ -~]', '', 'g')) AS printable
        |  FROM documents),
        | c AS (SELECT source, blen,
        |   CASE WHEN blen = 0 THEN 'empty'
        |        WHEN h8 = '89504E47' THEN 'png'
        |        WHEN substring(h8, 1, 6) = 'FFD8FF' THEN 'jpeg'
        |        WHEN h8 = '47494638' THEN 'gif'
        |        WHEN h8 = '25504446' THEN 'pdf'
        |        WHEN h8 = '52494646' THEN 'riff'
        |        WHEN h8 = '504B0304' THEN 'zip'
        |        WHEN substring(h8, 1, 4) = '1F8B' THEN 'gzip'
        |        WHEN printable * 100 >= length(p32) * 95 THEN 'text_ascii'
        |        ELSE 'binary_other' END AS format_class FROM h),
        | g AS (SELECT source, format_class, count(*) AS n_payloads,
        |   round(avg(blen), 2) AS avg_bytes FROM c GROUP BY 1, 2),
        | spine AS (SELECT DISTINCT source, cls AS format_class FROM documents,
        |   (VALUES ('binary_other'),('empty'),('gif'),('gzip'),('jpeg'),('pdf'),
        |           ('png'),('riff'),('text_ascii'),('zip')) v(cls))
        |SELECT s.source, s.format_class,
        | coalesce(g.n_payloads, 0) AS n_payloads, g.avg_bytes
        |FROM spine s LEFT JOIN g ON s.source = g.source AND s.format_class = g.format_class
        |ORDER BY s.source, s.format_class""".stripMargin,

    "mm_payload_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |   FROM documents WHERE length(text) > 0),
        | h AS (SELECT doc_id, ascii(ch) AS bv, count(*) AS c
        |   FROM t WHERE length(ch) > 0 GROUP BY 1, 2),
        | e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS byte_len,
        |   CAST(count(*) AS BIGINT) AS n_distinct_bytes,
        |   round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2), 6) AS entropy_bits
        |  FROM h GROUP BY 1)
        |SELECT doc_id, byte_len, n_distinct_bytes, entropy_bits,
        | CASE WHEN entropy_bits >= 4.15 THEN '3_high_entropy'
        |      WHEN entropy_bits < 4.0 THEN '1_low_entropy'
        |      ELSE '2_mid_entropy' END AS triage
        |FROM e ORDER BY doc_id""".stripMargin,

    // Perceptual-hash near-dup: the banding ladder is spliced from
    // Multimodal.phashBandParams (integer-exact, no float log) and the
    // pairing runs at DISTINCT-hash grain — identical to the Scala plan.
    "mm_phash" -> {
      val rLadder = (0 to 40).map(k => s"WHEN m <= ${1L << k} THEN $k").mkString(" ")
      s"""WITH d AS (SELECT doc_id, text,
        |   CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames
        |  FROM documents WHERE length(text) > 0),
        | nv AS (SELECT greatest(1, (count(*) + ${Multimodal.PhashOccupancy - 1}) // ${Multimodal.PhashOccupancy}) AS m FROM d),
        | rsel AS (SELECT greatest(${Multimodal.PhashMinBandBits}, least(16, CASE $rLadder END)) AS r FROM nv),
        | bsel AS (SELECT r, 32 // r AS nb FROM rsel),
        | f AS (SELECT doc_id,
        |   CAST(list_sum(list_transform(string_split(
        |     substring(text, CAST(frame_idx * 16 + 1 AS INT), 16), ''), c -> ascii(c))) AS BIGINT) AS chk
        |  FROM (SELECT doc_id, text, unnest(range(0, n_frames)) AS frame_idx FROM d)),
        | bits AS (SELECT doc_id, j,
        |   sum(CASE WHEN ((chk % 1000003) * 2654435761 + j * 40503) % 65536 > 32767 THEN 1 ELSE -1 END) AS bitsum
        |  FROM f, (SELECT unnest(range(0, 32)) AS j) js GROUP BY doc_id, j),
        | h AS (SELECT doc_id,
        |   CAST(sum(CASE WHEN bitsum > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS phash
        |  FROM bits GROUP BY doc_id),
        | g AS (SELECT phash, count(*) AS n_docs, min(doc_id) AS min_doc FROM h GROUP BY 1),
        | allbands AS (SELECT gb.band AS band,
        |    (g.phash >> CAST(gb.band * r.r AS INT)) % (CAST(1 AS BIGINT) << CAST(r.r AS INT)) AS bkey,
        |    g.phash, g.n_docs, g.min_doc
        |   FROM g, bsel b, rsel r, generate_series(0, 3) gb(band) WHERE gb.band < b.nb),
        | okb AS (SELECT band, bkey FROM allbands GROUP BY 1, 2
        |   HAVING count(*) <= ${Multimodal.PhashBandMaxOcc}),
        | bands AS (SELECT ab.* FROM allbands ab JOIN okb USING (band, bkey)),
        | p AS (SELECT DISTINCT a.phash AS phash_a, b.phash AS phash_b,
        |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming,
        |    a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
        |    a.min_doc AS min_doc_a, b.min_doc AS min_doc_b
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.phash < b.phash
        |   WHERE bit_count(xor(a.phash, b.phash)) <= 6)
        |SELECT phash_a, phash_b, hamming, n_docs_a, n_docs_b, min_doc_a, min_doc_b
        |FROM p ORDER BY phash_a, phash_b""".stripMargin
    },

    // Cross-modal coherence: centroid avg rounded to 9, cosine to 6 (the
    // knn_centroid determinism convention); dot products are sequential
    // folds on both engines.
    "mm_crossmodal" ->
      """WITH b AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | n AS (SELECT vec_id, v, sqrt(list_reduce(list_transform(v, x -> x * x), (a, c) -> a + c)) AS nrm FROM b),
        | j AS (SELECT d.source, n.vec_id, n.v, n.nrm FROM documents d JOIN n ON d.doc_id = n.vec_id),
        | ex AS (SELECT source, unnest(list_transform(v, (x, i) -> {'pos': i, 'x': x})) AS px FROM j),
        | ce AS (SELECT source, px.pos AS pos, round(avg(px.x), 9) AS c FROM ex GROUP BY 1, 2),
        | cv AS (SELECT source, list(c ORDER BY pos) AS cv FROM ce GROUP BY 1),
        | cn AS (SELECT source, cv, sqrt(list_reduce(list_transform(cv, x -> x * x), (a, c2) -> a + c2)) AS cn FROM cv),
        | sc AS (SELECT j.source,
        |   round(list_reduce(list_transform(list_zip(j.v, cn.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (j.nrm * cn.cn), 6) AS cos
        |  FROM j JOIN cn USING (source))
        |SELECT source, count(*) AS n_pairs, round(avg(cos), 4) AS avg_cos, min(cos) AS min_cos,
        | CAST(sum(CASE WHEN cos < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        | round(sum(CASE WHEN cos < 0.0 THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS low_pct
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,

    // Multimodal token budget: every derived number is exact integer math
    // (basis points via div), so no rounding convention is needed at all.
    "mm_token_budget" ->
      s"""WITH t AS (SELECT source,
        |   CASE WHEN trim(text) = '' THEN 0 ELSE len($tokSql) END AS n_tok,
        |   CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames
        |  FROM documents),
        | a AS (SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS text_tokens,
        |   CAST(sum(n_frames) AS BIGINT) AS n_frames, CAST(sum(n_frames) * 4 AS BIGINT) AS vision_tokens
        |  FROM t GROUP BY 1),
        | s AS (SELECT *, CASE WHEN text_tokens + vision_tokens = 0 THEN 0
        |     ELSE vision_tokens * 10000 // (text_tokens + vision_tokens) END AS share_bp,
        |   CASE WHEN vision_tokens * 100 <= (text_tokens + vision_tokens) * 30 THEN 10000
        |     ELSE (text_tokens * 30 * 10000) // (vision_tokens * 70) END AS media_keep_bp FROM a),
        | k AS (SELECT *, vision_tokens * media_keep_bp // 10000 AS kept_vision_tokens FROM s)
        |SELECT source, n_docs, text_tokens, vision_tokens, CAST(share_bp AS BIGINT) AS share_bp,
        | CAST(media_keep_bp AS BIGINT) AS media_keep_bp,
        | CAST(kept_vision_tokens AS BIGINT) AS kept_vision_tokens,
        | CAST(CASE WHEN text_tokens + kept_vision_tokens = 0 THEN 0
        |   ELSE kept_vision_tokens * 10000 // (text_tokens + kept_vision_tokens) END AS BIGINT) AS new_share_bp
        |FROM k ORDER BY source""".stripMargin,

    // Payload quality gate: entropy reuses the mm_payload_entropy formula
    // (rounded bits), dup-group min computed over ALL sized payloads.
    "mm_quality_gate" ->
      """WITH base AS (SELECT doc_id, source,
        |   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |   CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT) AS checksum
        |  FROM documents),
        | t AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents WHERE length(text) > 0),
        | hh AS (SELECT doc_id, ascii(ch) AS bv, count(*) AS c FROM t WHERE length(ch) > 0 GROUP BY 1, 2),
        | e AS (SELECT doc_id, round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2), 6) AS entropy_bits
        |  FROM hh GROUP BY 1),
        | keeper AS (SELECT checksum, byte_len, min(doc_id) AS keep_doc FROM base GROUP BY 1, 2),
        | ruled AS (SELECT b.source, b.byte_len,
        |   CASE WHEN b.byte_len = 0 THEN '1_empty'
        |        WHEN b.byte_len < 100 THEN '2_too_small'
        |        WHEN b.byte_len > 480 THEN '3_too_large'
        |        WHEN e.entropy_bits < 3.9 OR e.entropy_bits >= 4.2 THEN '4_entropy_band'
        |        WHEN b.doc_id <> k.keep_doc THEN '5_exact_dup'
        |        ELSE '6_kept' END AS rule
        |  FROM base b LEFT JOIN e USING (doc_id)
        |   JOIN keeper k ON b.checksum = k.checksum AND b.byte_len = k.byte_len),
        | counts AS (SELECT source, rule, count(*) AS n_docs, sum(byte_len) AS n_bytes
        |  FROM ruled GROUP BY 1, 2),
        | tot AS (SELECT source, count(*) AS src_docs FROM base GROUP BY 1),
        | spine AS (SELECT DISTINCT source, r AS rule FROM documents,
        |   (VALUES ('1_empty'),('2_too_small'),('3_too_large'),('4_entropy_band'),
        |           ('5_exact_dup'),('6_kept')) v(r))
        |SELECT s.source, s.rule, coalesce(c.n_docs, 0) AS n_docs,
        | CAST(coalesce(c.n_bytes, 0) AS BIGINT) AS n_bytes,
        | round(coalesce(c.n_docs, 0) * 100.0 / t.src_docs, 4) AS pct
        |FROM spine s LEFT JOIN counts c ON s.source = c.source AND s.rule = c.rule
        |JOIN tot t ON s.source = t.source
        |ORDER BY s.source, s.rule""".stripMargin,

    "q21_pivot" ->
      """SELECT l_returnflag,
        | round(sum(l_extendedprice * (1.0 - l_discount)) FILTER (l_linestatus = 'F'), 4) AS F,
        | round(sum(l_extendedprice * (1.0 - l_discount)) FILTER (l_linestatus = 'O'), 4) AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q22_correlated" ->
      """SELECT l_partkey, l_suppkey, l_orderkey, round(l_extendedprice, 2) AS l_extendedprice
        |FROM lineitem l
        |WHERE l_extendedprice = (SELECT min(l_extendedprice) FROM lineitem l2
        |                         WHERE l2.l_partkey = l.l_partkey)
        |ORDER BY l_partkey, l_suppkey, l_orderkey""".stripMargin,

    "q23_sql_interface" ->
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr,
        | count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY n_name, yr""".stripMargin,

    "lake_manifest_tree" ->
      """WITH e AS (SELECT strftime(l_shipdate, '%Y-%m') AS part_month, l_orderkey % 40 AS file_id,
        |            count(*) AS record_count FROM lineitem GROUP BY 1, 2),
        | s AS (SELECT count(*) AS total_entries,
        |   CAST(sum(CASE WHEN part_month BETWEEN '1997-01' AND '1997-06' THEN 1 ELSE 0 END) AS BIGINT) AS matched_entries,
        |   count(DISTINCT CASE WHEN part_month BETWEEN '1997-01' AND '1997-06' THEN part_month END) AS matched_months,
        |   count(DISTINCT CASE WHEN part_month BETWEEN '1997-01' AND '1997-06' THEN substring(part_month, 1, 4) END) AS matched_years
        |  FROM e)
        |SELECT 'flat' AS structure, CAST(1 AS BIGINT) AS index_reads,
        |       total_entries AS entries_scanned, matched_entries AS files_matched FROM s
        |UNION ALL SELECT 'three_level', 1 + matched_years + matched_months, matched_entries, matched_entries FROM s
        |UNION ALL SELECT 'two_level', 1 + matched_months, matched_entries, matched_entries FROM s
        |ORDER BY structure""".stripMargin,

    "text_normalize" ->
      """WITH t AS (SELECT doc_id, text,
        |  trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'), '\s+', ' ', 'g')) AS norm_text
        | FROM documents)
        |SELECT doc_id, CAST(length(norm_text) AS BIGINT) AS norm_len,
        | CAST(len(string_split(norm_text, ' ')) AS BIGINT) AS n_tokens,
        | (norm_text <> text) AS changed
        |FROM t ORDER BY doc_id""".stripMargin,

    "text_tfidf" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
        | tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        | df AS (SELECT token, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
        | sc AS (SELECT doc_id, token, tf, df,
        |   round(tf * ln(((SELECT count(*) FROM documents) + 1.0) / (df + 1.0)), 6) AS score
        |  FROM tf JOIN df USING (token)),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS BIGINT) AS rk FROM sc)
        |SELECT doc_id, token, tf, df, score, rk FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "q24_salted_agg" ->
      """SELECT l_returnflag,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q25_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(2 * grouping(l_returnflag) + grouping(l_linestatus) AS BIGINT) AS gid,
        | round(sum(l_extendedprice), 4) AS sum_price, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q26_ntile" ->
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | round(cume_dist() OVER w, 6) AS cume
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q27_set_ops" ->
      """WITH y1 AS (SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
        | y2 AS (SELECT o_custkey FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT 'retained' AS cohort, o_custkey FROM (SELECT o_custkey FROM y1 INTERSECT SELECT o_custkey FROM y2)
        |UNION ALL
        |SELECT 'churned' AS cohort, o_custkey FROM (SELECT o_custkey FROM y1 EXCEPT SELECT o_custkey FROM y2)
        |ORDER BY cohort, o_custkey""".stripMargin,

    "q28_window_endpoints" ->
      """SELECT o_custkey, o_orderkey,
        | round(first_value(o_totalprice) OVER w, 2) AS first_price,
        | round(last_value(o_totalprice) OVER w, 2) AS last_price,
        | round(nth_value(o_totalprice, 2) OVER w, 2) AS second_price
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "ev_hopping" ->
      """WITH e AS (SELECT event_type, value, (epoch_ms(ts) // 1800000) * 1800000 AS t30 FROM events),
        | x AS (SELECT event_type, value, unnest([t30, t30 - 1800000]) AS ws FROM e)
        |SELECT strftime(make_timestamp(ws * 1000), '%Y-%m-%d %H:%M') AS win_start, event_type,
        | count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_cohort_ltv" ->
      """WITH su AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        | p AS (SELECT e.user_id, e.value, e.ts, su.signup_ts
        |   FROM events e JOIN su ON e.user_id = su.user_id
        |   WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts)
        |SELECT strftime(date_trunc('week', signup_ts), '%Y-%m-%d') AS cohort_week,
        | CAST(floor(date_diff('day', CAST(signup_ts AS DATE), CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week_n,
        | count(DISTINCT user_id) AS buyers, round(sum(value), 4) AS ltv
        |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "text_stopword_filter" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
        | f AS (SELECT doc_id, tk,
        |   list_filter(tk, x -> x NOT IN ('the','a','of','and','to','in','is','on','for','with')) AS kept
        |  FROM t)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, CAST(len(kept) AS BIGINT) AS n_kept,
        | round(len(kept) * 1.0 / len(tk), 6) AS keep_ratio,
        | CAST(length(array_to_string(kept, ' ')) AS BIGINT) AS filtered_len
        |FROM f ORDER BY doc_id""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
        | bg AS (SELECT doc_id, unnest(list_filter(
        |   list_transform(tk, (x, i) -> CASE WHEN i < len(tk) THEN {'w1': x, 'w2': tk[i+1]} END),
        |   y -> y IS NOT NULL)) AS b FROM t),
        | b2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        | cb AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY 1, 2),
        | cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM cb GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(-ln(cb * 1.0 / cw)), 6) AS avg_nll
        |FROM b2 JOIN cb USING (w1, w2) JOIN cw USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_perplexity" ->
      s"""WITH t AS (SELECT doc_id, lang, $tokSql AS tk FROM documents),
        | bg AS (SELECT doc_id, lang, unnest(list_filter(
        |   list_transform(tk, (x, i) -> CASE WHEN i < len(tk) THEN {'w1': x, 'w2': tk[i+1]} END),
        |   y -> y IS NOT NULL)) AS b FROM t),
        | b2 AS (SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM bg),
        | cb AS (SELECT w1, w2, count(*) AS cb FROM b2 GROUP BY 1, 2),
        | cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM cb GROUP BY 1),
        | pd AS (SELECT doc_id, lang, count(*) AS n_bigrams,
        |     round(avg(-ln(cb * 1.0 / cw)), 6) AS h
        |   FROM b2 JOIN cb USING (w1, w2) JOIN cw USING (w1) GROUP BY doc_id, lang),
        | bn AS (SELECT doc_id, lang, n_bigrams, h, CAST(floor(h * 64) AS BIGINT) AS bin FROM pd),
        | bc AS (SELECT lang, bin, count(*) AS n FROM bn GROUP BY 1, 2),
        | cum AS (SELECT lang, bin, sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum FROM bc),
        | tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS tot FROM bc GROUP BY 1),
        | bk AS (SELECT lang, bin, CASE WHEN cum * 3 <= tot THEN 'head'
        |     WHEN cum * 3 <= tot * 2 THEN 'middle' ELSE 'tail' END AS bucket
        |   FROM cum JOIN tot USING (lang))
        |SELECT lang, bucket, count(*) AS n_docs, CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
        | (CAST(sum(CAST(round(h * 1e6, 0) AS BIGINT)) AS BIGINT) // count(*)) / 1000000.0
        |   AS mean_nll,
        | round(min(h), 6) + 0 AS min_nll, round(max(h), 6) + 0 AS max_nll
        |FROM bn JOIN bk USING (lang, bin) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "lake_time_travel" ->
      """SELECT o_orderstatus, count(*) AS n_rows, round(sum(o_totalprice), 4) AS total_price
        |FROM orders WHERE o_orderkey // 100 <= 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_expiry_plan" ->
      """WITH v AS (SELECT o_orderkey // 100 AS commit_id, o_orderkey % 40 AS file_id,
        |   round(sum(o_totalprice), 4) AS version_bytes FROM orders GROUP BY 1, 2),
        | g AS (SELECT max(commit_id) AS max_commit FROM v),
        | l AS (SELECT *, max(commit_id) OVER (PARTITION BY file_id) AS latest_commit FROM v)
        |SELECT commit_id, count(*) AS versions_removable,
        | round(sum(version_bytes), 4) AS bytes_reclaimed
        |FROM l, g WHERE commit_id < latest_commit AND commit_id <= max_commit - 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_cdc_changelog" ->
      """WITH before AS (SELECT DISTINCT o_custkey FROM orders
        |                WHERE o_orderdate < TIMESTAMP '1998-01-01'),
        | w AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, o_custkey, count(*) AS n_orders
        |   FROM orders
        |   WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01'
        |   GROUP BY 1, 2)
        |SELECT month,
        | CAST(sum(CASE WHEN b.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS insert_keys,
        | CAST(sum(CASE WHEN b.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS update_keys,
        | CAST(sum(n_orders) AS BIGINT) AS changed_rows
        |FROM w LEFT JOIN before b ON w.o_custkey = b.o_custkey
        |GROUP BY month ORDER BY month""".stripMargin,

    "lake_merge_upsert" ->
      """WITH t AS (SELECT c_custkey AS key, c_acctbal AS balance FROM customer WHERE c_custkey < 500),
        | s AS (SELECT o_custkey AS key, sum(o_totalprice) * 0.1 AS delta FROM orders
        |       WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
        |       GROUP BY 1),
        | m AS (SELECT coalesce(t.balance, 0.0) + coalesce(s.delta, 0.0) AS new_balance,
        |   CASE WHEN t.key IS NOT NULL AND s.key IS NOT NULL THEN 'update'
        |        WHEN t.key IS NULL THEN 'insert' ELSE 'keep' END AS action
        |  FROM t FULL OUTER JOIN s ON t.key = s.key)
        |SELECT action, count(*) AS n_keys, round(sum(new_balance), 4) AS sum_balance
        |FROM m GROUP BY action ORDER BY action""".stripMargin,

    "lake_row_lineage" ->
      """WITH rws AS (SELECT o_custkey,
        |   min((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1) AS first_seq,
        |   max((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1) AS last_seq
        |  FROM orders GROUP BY 1),
        | added AS (SELECT first_seq AS seq, count(*) AS rows_added FROM rws GROUP BY 1),
        | upd AS (SELECT last_seq AS seq, count(*) AS rows_last_updated,
        |    CAST(sum(last_seq - first_seq) AS BIGINT) AS age_sum
        |   FROM rws WHERE last_seq > first_seq GROUP BY 1),
        | spine AS (SELECT unnest(generate_series(0, (SELECT max(last_seq) FROM rws))) AS seq)
        |SELECT seq, CAST(coalesce(rows_added, 0) AS BIGINT) AS rows_added,
        | CAST(coalesce(rows_last_updated, 0) AS BIGINT) AS rows_last_updated,
        | CAST(coalesce(age_sum, 0) AS BIGINT) AS age_sum,
        | CAST(sum(coalesce(rows_added, 0)) OVER (ORDER BY seq) AS BIGINT) AS live_rows
        |FROM spine LEFT JOIN added USING (seq) LEFT JOIN upd USING (seq)
        |ORDER BY seq""".stripMargin,

    "lake_file_histogram" ->
      """WITH b AS (SELECT l_orderkey % 40 AS file_id, count(*) * 100 AS file_bytes
        |           FROM lineitem GROUP BY 1)
        |SELECT CASE WHEN file_bytes < 1024 THEN '0_lt_1k' WHEN file_bytes < 4096 THEN '1_lt_4k'
        | WHEN file_bytes < 16384 THEN '2_lt_16k' WHEN file_bytes < 65536 THEN '3_lt_64k'
        | WHEN file_bytes < 262144 THEN '4_lt_256k' WHEN file_bytes < 1048576 THEN '5_lt_1m'
        | WHEN file_bytes < 4194304 THEN '6_lt_4m' ELSE '7_ge_4m' END AS size_bucket,
        | count(*) AS n_files, CAST(sum(file_bytes) AS BIGINT) AS total_bytes,
        | CAST(min(file_bytes) AS BIGINT) AS min_bytes, CAST(max(file_bytes) AS BIGINT) AS max_bytes
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_zorder" -> {
      val interleave = (0 until 8)
        .map(i => s"(((x >> $i) & 1) << ${2 * i}) + (((y >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""WITH g AS (SELECT min(CAST(l_shipdate AS DATE)) AS gmin, max(CAST(l_shipdate AS DATE)) AS gmax FROM lineitem),
        | c AS (SELECT least(CAST(floor(date_diff('day', gmin, CAST(l_shipdate AS DATE)) * 256
        |     / (date_diff('day', gmin, gmax) + 1)) AS BIGINT), 255) AS x,
        |   l_partkey % 256 AS y
        |  FROM lineitem, g),
        | z AS (SELECT x, y, ($interleave) AS z FROM c),
        | l AS (SELECT 'linear' AS layout, x * 40 // 256 AS file_id, x, y FROM z
        |       UNION ALL SELECT 'zorder', z * 40 // 65536, x, y FROM z),
        | f AS (SELECT layout, file_id, min(x) AS fxmin, max(x) AS fxmax,
        |              min(y) AS fymin, max(y) AS fymax
        |       FROM l GROUP BY 1, 2)
        |SELECT layout, count(*) AS files_total,
        | round(avg((fxmax - fxmin) * 100.0 / 255.0), 4) AS avg_span_x_pct,
        | round(avg((fymax - fymin) * 100.0 / 255.0), 4) AS avg_span_y_pct,
        | CAST(sum(CASE WHEN fxmax < 100 OR fxmin > 131 OR fymin > 63 THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
        | round(sum(CASE WHEN fxmax < 100 OR fxmin > 131 OR fymin > 63 THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS skip_rate_pct
        |FROM f GROUP BY layout ORDER BY layout""".stripMargin
    },

    "lake_equality_deletes" ->
      """SELECT l_orderkey % 40 AS file_id, count(*) AS record_count,
        | CAST(sum(CASE WHEN l_partkey % 50 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS eq_deleted,
        | CAST(sum(CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS pos_deleted,
        | CAST(sum(CASE WHEN l_partkey % 50 = 7 AND (l_orderkey * 31 + l_linenumber) % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS both_deleted,
        | CAST(16 AS BIGINT) AS eq_bytes,
        | CAST(sum(CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 = 3 THEN 1 ELSE 0 END) * 4 AS BIGINT) AS pos_bytes
        |FROM lineitem GROUP BY 1 ORDER BY file_id""".stripMargin,

    "knn_multiprobe" ->
      s"""WITH $embPrepSql,
        |$lshBucketCtes,
        | q0 AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM g WHERE vec_id < 10),
        | q AS (SELECT q_id, qv, qn, bucket FROM q0
        |       UNION ALL
        |       SELECT q_id, qv, qn, xor(bucket, (CAST(1 AS BIGINT) << j)) FROM q0, pj),
        | s AS (SELECT q_id, g.vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, g.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * g.nrm), 6) AS cos
        |  FROM g JOIN q USING (bucket) WHERE g.vec_id <> q.q_id),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk FROM s)
        |SELECT q_id, neighbor_id, rk, cos FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    "lake_fetch_plan" ->
      """WITH m AS (SELECT strftime(l_shipdate, '%Y-%m') AS part_month, l_orderkey % 40 AS file_id,
        |            count(*) AS record_count
        |           FROM lineitem GROUP BY 1, 2
        |           HAVING part_month BETWEEN '1997-01' AND '1997-06'),
        | n AS (SELECT count(*) AS n_objects FROM m),
        | p AS (SELECT n_objects, unnest([1, 4, 16, 64]) AS parallelism FROM n)
        |SELECT CAST(parallelism AS BIGINT) AS parallelism, n_objects,
        | CAST(ceil(n_objects * 1.0 / parallelism) AS BIGINT) AS fetch_rounds,
        | round(n_objects * 1.0 / CAST(ceil(n_objects * 1.0 / parallelism) AS BIGINT), 4) AS speedup
        |FROM p ORDER BY parallelism""".stripMargin,

    "lake_partition_evolution" ->
      """WITH k AS (
        |  SELECT 'monthly' AS spec, strftime(l_shipdate, '%Y-%m') AS pkey, l_shipdate FROM lineitem
        |  UNION ALL
        |  SELECT 'weekly', strftime(date_trunc('week', l_shipdate), '%Y-%m-%d'), l_shipdate FROM lineitem),
        | p AS (SELECT spec, pkey, count(*) AS n_rows,
        |   max(l_shipdate >= TIMESTAMP '1997-02-01' AND l_shipdate < TIMESTAMP '1997-02-21') AS matched
        |  FROM k GROUP BY 1, 2)
        |SELECT spec, count(*) AS n_partitions,
        | CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS matched_partitions,
        | CAST(sum(CASE WHEN matched THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
        | CAST(sum(n_rows) AS BIGINT) AS total_rows,
        | round(sum(CASE WHEN matched THEN n_rows ELSE 0 END) * 100.0 / sum(n_rows), 4) AS scan_pct
        |FROM p GROUP BY spec ORDER BY spec""".stripMargin,

    "q29_nested_agg" ->
      """SELECT o_custkey,
        | array_to_string(list_sort(list_distinct(list(CAST(year(o_orderdate) AS BIGINT)))), ',') AS years,
        | count(DISTINCT year(o_orderdate)) AS n_years,
        | count(*) AS n_orders
        |FROM orders WHERE o_custkey < 200
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // Scene cuts: per-frame mean byte value (length-normalized, exact
    // integer div), cut when the frame-to-frame delta exceeds 140, scenes
    // by gaps-and-islands running cut count.
    "mm_scene_cut" ->
      """WITH d AS (SELECT doc_id, text,
        |   CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id < 100 AND length(text) > 0),
        | f AS (SELECT doc_id, text, unnest(range(0, n_frames)) AS frame_idx FROM d),
        | s AS (SELECT doc_id, frame_idx,
        |   substring(text, CAST(frame_idx * 16 + 1 AS INT), 16) AS frame FROM f),
        | v AS (SELECT doc_id, frame_idx, CAST(length(frame) AS BIGINT) AS flen,
        |   CAST(list_sum(list_transform(string_split(frame, ''), c -> ascii(c))) AS BIGINT) AS fsum
        |  FROM s),
        | m AS (SELECT doc_id, frame_idx, flen, (fsum * 16) // flen AS mval FROM v),
        | c AS (SELECT *, CASE WHEN lag(mval) OVER w IS NULL
        |     OR abs(mval - lag(mval) OVER w) > 140 THEN 1 ELSE 0 END AS cut
        |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)),
        | g AS (SELECT *, sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id FROM c)
        |SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
        | CAST(count(*) AS BIGINT) AS n_frames,
        | CAST(min(frame_idx) AS BIGINT) AS first_frame,
        | CAST(max(frame_idx) AS BIGINT) AS last_frame,
        | CAST(sum(flen) AS BIGINT) AS scene_bytes,
        | round(avg(mval), 4) AS mean_frame_val
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "mm_frame_sample" ->
      """WITH d AS (SELECT doc_id, text,
        |   CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id < 50 AND length(text) > 0),
        | f AS (SELECT doc_id, text, unnest(range(0, n_frames)) AS frame_idx FROM d),
        | s AS (SELECT doc_id, frame_idx,
        |   substring(text, CAST(frame_idx * 16 + 1 AS INT), 16) AS frame
        |  FROM f WHERE frame_idx % 4 = 0)
        |SELECT doc_id, frame_idx, CAST(length(frame) AS BIGINT) AS frame_len,
        | CAST(list_sum(list_transform(string_split(frame, ''), c -> ascii(c))) AS BIGINT) AS frame_checksum
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    "q31_range_frame" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        | round(sum(o_totalprice) OVER w, 4) AS trailing_spend,
        | count(*) OVER w AS orders_in_window
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "ev_transitions" ->
      """WITH t AS (SELECT event_type,
        |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type AS next_type, count(*) AS n
        |FROM t WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY n DESC, prev_type, next_type LIMIT 20""".stripMargin,

    "lake_snapshot_lineage" ->
      """WITH c AS (SELECT o_orderkey // 100 AS commit_id, count(*) AS files_added
        |           FROM orders GROUP BY 1),
        | l AS (SELECT commit_id, files_added,
        |   lag(commit_id) OVER (ORDER BY commit_id) AS parent_id,
        |   (commit_id % 10 = 5) AS is_rewrite FROM c),
        | r AS (SELECT *, max(CASE WHEN is_rewrite THEN commit_id END)
        |   OVER (ORDER BY commit_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_rewrite
        |  FROM l)
        |SELECT commit_id, parent_id, is_rewrite,
        | commit_id - coalesce(last_rewrite, 0) AS lineage_depth, files_added
        |FROM r ORDER BY commit_id""".stripMargin,

    "lake_bloom_pruning" ->
      """WITH f AS (SELECT l_orderkey % 40 AS file_id,
        |   max(l_partkey = 77) AS contains_key,
        |   max((l_partkey * 31 + 7) % 1024 = (77 * 31 + 7) % 1024) AS bit1_set,
        |   max((l_partkey * 131 + 3) % 1024 = (77 * 131 + 3) % 1024) AS bit2_set
        |  FROM lineitem GROUP BY 1)
        |SELECT file_id, contains_key, (bit1_set AND bit2_set) AS bloom_pass,
        | CASE WHEN contains_key THEN 'hit'
        |      WHEN bit1_set AND bit2_set THEN 'false_positive'
        |      ELSE 'skipped' END AS class
        |FROM f ORDER BY file_id""".stripMargin,

    "lake_wide_prune" ->
      """WITH s AS (SELECT l_orderkey % 40 AS file_id,
        |   strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
        |   strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
        |   min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
        |   min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT file_id,
        | (max_ship >= '1997-01-01' AND min_ship <= '1997-06-30') AS ship_overlap,
        | (max_price >= 50000.0 AND min_price <= 90000.0) AS price_overlap,
        | (max_qty >= 30.0 AND min_qty <= 50.0) AS qty_overlap,
        | ((max_ship >= '1997-01-01' AND min_ship <= '1997-06-30')
        |  AND (max_price >= 50000.0 AND min_price <= 90000.0)
        |  AND (max_qty >= 30.0 AND min_qty <= 50.0)) AS keep
        |FROM s ORDER BY file_id""".stripMargin,

    "lake_delete_storm" ->
      s"""WITH d AS ($fileModelSql),
        | frags AS (SELECT file_id, pos % 97 AS wave, count(*) AS n_deletes
        |   FROM d WHERE pos % 97 < 5 GROUP BY 1, 2),
        | f AS (SELECT file_id, count(*) AS n_fragments,
        |   CAST(sum(n_deletes) AS BIGINT) AS total_deletes,
        |   CAST(sum(n_deletes * 4 + 100) AS BIGINT) AS fragmented_bytes
        |  FROM frags GROUP BY 1)
        |SELECT file_id, n_fragments, total_deletes, fragmented_bytes,
        | total_deletes * 4 + 100 AS folded_bytes,
        | round(fragmented_bytes * 1.0 / (total_deletes * 4 + 100), 6) AS amplification
        |FROM f ORDER BY file_id""".stripMargin,

    "knn_recall" ->
      s"""WITH $embPrepSql,
        |$lshBucketCtes,
        | q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM g WHERE vec_id < 10),
        | sl AS (SELECT q_id, g.vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, g.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * g.nrm), 6) AS cos
        |  FROM g JOIN q USING (bucket) WHERE g.vec_id <> q.q_id),
        | rl AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk FROM sl),
        | lsh AS (SELECT q_id, neighbor_id FROM rl WHERE rk <= 3),
        | sb AS (SELECT q_id, vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM n, q WHERE vec_id <> q_id),
        | rb AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk FROM sb),
        | ex AS (SELECT q_id, neighbor_id FROM rb WHERE rk <= 3)
        |SELECT ex.q_id AS q_id, count(*) AS k,
        | CAST(sum(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS recovered,
        | round(sum(CASE WHEN lsh.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recall
        |FROM ex LEFT JOIN lsh ON ex.q_id = lsh.q_id AND ex.neighbor_id = lsh.neighbor_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
        | b AS (SELECT doc_id, tk, list_filter(
        |   list_transform(tk, (x, i) -> CASE WHEN i < len(tk) THEN x || ' ' || tk[i+1] END),
        |   y -> y IS NOT NULL) AS bg FROM t),
        | r AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, CAST(len(bg) AS BIGINT) AS n_bigrams,
        |   round(1.0 - len(list_distinct(bg)) * 1.0 / len(bg), 6) AS dup_bigram_ratio,
        |   round(list_max(list_transform(list_distinct(tk), x -> len(list_filter(tk, y -> y = x)))) * 1.0 / len(tk), 6) AS top_token_ratio
        |  FROM b)
        |SELECT doc_id, n_tokens, n_bigrams, dup_bigram_ratio, top_token_ratio,
        | (dup_bigram_ratio > 0.2 OR top_token_ratio > 0.2) AS flagged
        |FROM r ORDER BY doc_id""".stripMargin,

    "text_contamination" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
        | sh AS (SELECT DISTINCT doc_id, unnest(list_filter(
        |   list_transform(tk, (x, i) -> CASE WHEN i + 4 <= len(tk)
        |     THEN x || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] END),
        |   y -> y IS NOT NULL)) AS sh FROM t),
        | bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
        | corpus AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
        | sz AS (SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY 1),
        | h AS (SELECT doc_id, count(*) AS n_hits FROM corpus JOIN bench USING (sh) GROUP BY 1)
        |SELECT doc_id, n_shingles, coalesce(n_hits, 0) AS n_hits,
        | round(coalesce(n_hits, 0) * 1.0 / n_shingles, 6) AS contamination
        |FROM sz LEFT JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Decontamination splice: 5-gram hit positions (1-based here, 0-based
    // in Spark — all outputs are lengths/counts, base-invariant) expand by
    // ±3 tokens, merge by interval union, and the clean segments re-chunk
    // at 32 tokens with no chunk straddling a removed span.
    "text_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
        | dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM t
        |   WHERE doc_id % 50 <> 0),
        | a AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, CAST(len(tk) AS BIGINT) AS n,
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS sh
        |   FROM t, unnest(range(1, len(tk) - 3)) AS u(i)),
        | bench AS (SELECT DISTINCT sh FROM a WHERE doc_id % 50 = 0),
        | spans AS (SELECT doc_id, n,
        |    greatest(pos - 3, 1) AS s, least(pos + 8, n + 1) AS e
        |   FROM a JOIN bench USING (sh) WHERE doc_id % 50 <> 0),
        | mk AS (SELECT doc_id, n, s, e,
        |    sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS isl
        |   FROM (SELECT doc_id, n, s, e,
        |      max(e) OVER (PARTITION BY doc_id ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |     FROM spans)),
        | merged AS (SELECT doc_id, isl, any_value(n) AS n, min(s) AS ss, max(e) AS ee,
        |    count(*) AS hits FROM mk GROUP BY doc_id, isl),
        | segs AS (SELECT doc_id, n, ss, ee, hits,
        |    ss - coalesce(lag(ee) OVER (PARTITION BY doc_id ORDER BY ss), 1) AS seg_before
        |   FROM merged),
        | dirty AS (SELECT doc_id,
        |    CAST(sum(hits) AS BIGINT) AS n_hits,
        |    count(*) AS n_spans,
        |    CAST(sum(ee - ss) AS BIGINT) AS tokens_removed,
        |    CAST(sum(CASE WHEN seg_before > 0 THEN (seg_before + 31) // 32 ELSE 0 END)
        |      + (CASE WHEN any_value(n) + 1 - max(ee) > 0
        |         THEN (any_value(n) + 1 - max(ee) + 31) // 32 ELSE 0 END) AS BIGINT)
        |      AS survivor_chunks
        |   FROM segs GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        | coalesce(n_hits, 0) AS n_hits,
        | coalesce(n_spans, 0) AS n_spans,
        | coalesce(tokens_removed, 0) AS tokens_removed,
        | n_tokens - coalesce(tokens_removed, 0) AS tokens_kept,
        | coalesce(survivor_chunks, (n_tokens + 31) // 32) AS survivor_chunks,
        | n_hits IS NOT NULL AS cleaned
        |FROM dl LEFT JOIN dirty USING (doc_id) ORDER BY doc_id""".stripMargin,

    "dedup_sampled_verify" ->
      s"""WITH RECURSIVE sdocs AS (SELECT * FROM documents WHERE doc_id % 20 = 0),
        | ${minhashCtesOver("sdocs")},
        | hits AS (SELECT doc_a, doc_b FROM mh_pairs WHERE e >= 0.9),
        | edges AS (SELECT doc_a AS src, doc_b AS dst FROM hits
        |           UNION ALL SELECT doc_b, doc_a FROM hits),
        | reach(id, r) AS (
        |   SELECT doc_id, doc_id FROM sdocs
        |   UNION
        |   SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        | comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
        | ${qualityCtesOver("sdocs")},
        | rkd AS (SELECT comp.comp, comp.doc_id, qual.quality,
        |   row_number() OVER (PARTITION BY comp.comp ORDER BY qual.quality DESC, comp.doc_id) AS rk
        |  FROM comp JOIN qual USING (doc_id))
        |SELECT comp, count(*) AS cluster_size,
        | min(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
        | min(CASE WHEN rk = 1 THEN quality END) AS kept_quality,
        | count(*) - 1 AS n_removed
        |FROM rkd GROUP BY comp ORDER BY comp""".stripMargin,

    "dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashCtes,
        | hits AS (SELECT doc_a, doc_b FROM mh_pairs WHERE e >= 0.9),
        | edges AS (SELECT doc_a AS src, doc_b AS dst FROM hits
        |           UNION ALL SELECT doc_b, doc_a FROM hits),
        | reach(id, r) AS (
        |   SELECT doc_id, doc_id FROM documents
        |   UNION
        |   SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        | comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
        | $qualityCtes,
        | rkd AS (SELECT comp.comp, comp.doc_id, qual.quality,
        |   row_number() OVER (PARTITION BY comp.comp ORDER BY qual.quality DESC, comp.doc_id) AS rk
        |  FROM comp JOIN qual USING (doc_id))
        |SELECT comp, count(*) AS cluster_size,
        | min(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc,
        | min(CASE WHEN rk = 1 THEN quality END) AS kept_quality,
        | count(*) - 1 AS n_removed
        |FROM rkd GROUP BY comp ORDER BY comp""".stripMargin,

    "q32_stats_agg" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 6) + 0 AS qty_price_corr,
        | round(covar_samp(l_quantity, l_extendedprice), 4) + 0 AS qty_price_covar,
        | round(stddev_samp(l_extendedprice), 4) AS price_stddev,
        | round(var_samp(l_discount), 6) AS disc_var,
        | round(median(l_quantity), 4) AS median_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q33_fuzzy_join" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,

    "q34_lateral_explode" ->
      s"""WITH tok AS (SELECT unnest(list_transform($tokSql, (x, i) -> {'token': x, 'pos': i})) AS tp
        |   FROM documents),
        | t2 AS (SELECT tp.token AS token, CAST(tp.pos AS BIGINT) AS pos FROM tok WHERE tp.pos <= 10),
        | c AS (SELECT pos, token, count(*) AS c FROM t2 GROUP BY 1, 2),
        | r AS (SELECT *, row_number() OVER (PARTITION BY pos ORDER BY c DESC, token) AS rk FROM c)
        |SELECT pos, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        | min(CASE WHEN rk = 1 THEN token END) AS top_token,
        | min(CASE WHEN rk = 1 THEN c END) AS top_n
        |FROM r GROUP BY pos ORDER BY pos""".stripMargin,

    "q35_ratio_report" ->
      """WITH rev AS (SELECT n_name, sum(o_totalprice) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |   JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, round(rev, 4) AS revenue,
        | round(rev * 100.0 / sum(rev) OVER (), 6) AS share_pct,
        | CAST(rank() OVER (ORDER BY rev DESC, n_name) AS BIGINT) AS rk
        |FROM rev ORDER BY rk, n_name""".stripMargin,

    "lake_clustering_depth" ->
      """WITH g AS (SELECT min(CAST(l_shipdate AS DATE)) AS gmind, max(CAST(l_shipdate AS DATE)) AS gmaxd FROM lineitem),
        | u AS (
        |  SELECT 'unsorted' AS layout, l_orderkey % 40 AS file_id, CAST(l_shipdate AS DATE) AS d FROM lineitem
        |  UNION ALL
        |  SELECT 'sorted',
        |   least(CAST(floor(date_diff('day', gmind, CAST(l_shipdate AS DATE)) * 40.0
        |     / (date_diff('day', gmind, gmaxd) + 1)) AS BIGINT), 39),
        |   CAST(l_shipdate AS DATE)
        |  FROM lineitem, g),
        | f AS (SELECT layout, file_id,
        |   date_diff('day', DATE '1970-01-01', min(d)) AS dmin,
        |   date_diff('day', DATE '1970-01-01', max(d)) AS dmax
        |  FROM u GROUP BY 1, 2),
        | ev AS (SELECT layout, day, CAST(sum(delta) AS BIGINT) AS net FROM (
        |   SELECT layout, dmin AS day, 1 AS delta FROM f
        |   UNION ALL SELECT layout, dmax + 1, -1 FROM f) GROUP BY 1, 2),
        | d AS (SELECT layout, day, net,
        |   CAST(sum(net) OVER (PARTITION BY layout ORDER BY day
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS depth,
        |   lead(day) OVER (PARTITION BY layout ORDER BY day) - day AS width
        |  FROM ev)
        |SELECT layout, count(*) AS n_intervals, max(depth) AS max_depth,
        | round(sum(depth * width) * 1.0 / sum(width), 4) AS avg_depth
        |FROM d WHERE width IS NOT NULL AND depth > 0
        |GROUP BY layout ORDER BY layout""".stripMargin,

    "lake_compaction_execute" ->
      """WITH f AS (SELECT l_orderkey % 40 AS file_id, count(*) * 100 AS file_bytes,
        |   count(*) AS file_rows, min(l_shipdate) AS fmin, max(l_shipdate) AS fmax
        |  FROM lineitem GROUP BY 1),
        | b AS (SELECT *, CAST(coalesce(sum(file_bytes) OVER (ORDER BY file_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bytes_before FROM f)
        |SELECT bytes_before // 400000 AS group_id, count(*) AS n_files,
        | CAST(sum(file_rows) AS BIGINT) AS group_rows,
        | CAST(sum(file_bytes) AS BIGINT) AS group_bytes,
        | strftime(min(fmin), '%Y-%m-%d') AS min_ship,
        | strftime(max(fmax), '%Y-%m-%d') AS max_ship
        |FROM b GROUP BY 1 ORDER BY group_id""".stripMargin,

    "lake_rollback_plan" ->
      """SELECT o_orderkey // 100 AS commit_id,
        | count(DISTINCT o_orderkey % 40) AS files_touched,
        | count(*) AS rows_to_remove,
        | round(sum(o_totalprice), 4) AS bytes_to_remove
        |FROM orders WHERE o_orderkey // 100 > 120
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "knn_kmeans" ->
      s"""WITH $embPrepSql,
        | c0 AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM n WHERE vec_id < 4),
        | a1 AS (SELECT n.vec_id, n.label, n.v, n.nrm, c0.cell,
        |   round(list_reduce(list_transform(list_zip(n.v, c0.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (n.nrm * c0.cn), 6) AS cos
        |  FROM n, c0),
        | p1 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rk FROM a1),
        | m1 AS (SELECT vec_id, label, v, nrm, cell FROM p1 WHERE rk = 1),
        | ex AS (SELECT cell, unnest(list_transform(v, (x, i) -> {'pos': i, 'x': x})) AS px FROM m1),
        | ce AS (SELECT cell, px.pos AS pos, round(avg(px.x), 9) AS c FROM ex GROUP BY 1, 2),
        | cv1 AS (SELECT cell, list(c ORDER BY pos) AS cv FROM ce GROUP BY 1),
        | c1 AS (SELECT cell, cv,
        |   sqrt(list_reduce(list_transform(cv, x -> x * x), (a, b2) -> a + b2)) AS cn FROM cv1),
        | a2 AS (SELECT n.vec_id, n.label, c1.cell,
        |   round(list_reduce(list_transform(list_zip(n.v, c1.cv), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (n.nrm * c1.cn), 6) AS cos
        |  FROM n, c1),
        | p2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rk FROM a2)
        |SELECT cell, label, count(*) AS n,
        | round(sum(CAST(round(cos * 1000000) AS BIGINT)) / (count(*) * 1000000.0), 6) AS avg_cos
        |FROM p2 WHERE rk = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q43_mode" ->
      """WITH mm AS (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS mode_month,
        |   count(*) AS c FROM orders GROUP BY 1, 2),
        | m1 AS (SELECT o_orderpriority, mode_month, c AS mode_month_n,
        |   row_number() OVER (PARTITION BY o_orderpriority ORDER BY c DESC, mode_month) AS rk FROM mm),
        | ss AS (SELECT o_orderpriority, o_orderstatus AS mode_status, count(*) AS c
        |  FROM orders GROUP BY 1, 2),
        | s1 AS (SELECT o_orderpriority, mode_status, c AS mode_status_n,
        |   row_number() OVER (PARTITION BY o_orderpriority ORDER BY c DESC, mode_status) AS rk FROM ss)
        |SELECT m1.o_orderpriority, mode_month, mode_month_n, mode_status, mode_status_n
        |FROM m1 JOIN s1 ON m1.o_orderpriority = s1.o_orderpriority
        |WHERE m1.rk = 1 AND s1.rk = 1
        |ORDER BY m1.o_orderpriority""".stripMargin,

    "q44_two_level_share" ->
      """WITH rev AS (SELECT r_name, n_name, sum(o_totalprice) AS rev
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |   JOIN nation ON c_nationkey = n_nationkey
        |   JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name, round(rev, 4) AS revenue,
        | round(rev * 100.0 / sum(rev) OVER (PARTITION BY r_name), 6) AS pct_of_region,
        | round(sum(rev) OVER (PARTITION BY r_name) * 100.0 / sum(rev) OVER (), 6) AS region_pct_of_total
        |FROM rev ORDER BY r_name, n_name""".stripMargin,

    "q45_rank_ties" ->
      """WITH c AS (SELECT o_orderpriority, strftime(o_orderdate, '%Y-%m') AS month,
        |   count(*) AS n FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, month, n,
        | rank() OVER (PARTITION BY o_orderpriority ORDER BY n DESC) AS rk
        |FROM c QUALIFY rk <= 3
        |ORDER BY o_orderpriority, rk, month""".stripMargin,

    "q46_filtered_distinct" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        | count(DISTINCT o_custkey) AS customers,
        | count(DISTINCT CASE WHEN o_orderpriority = '1-URGENT' THEN o_custkey END) AS urgent_customers,
        | count(DISTINCT CASE WHEN o_orderstatus = 'F' THEN o_custkey END) AS finished_customers,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin,

    "lake_pos_runs" ->
      s"""WITH fm AS ($fileModelSql),
        | s AS (SELECT file_id, pos FROM fm WHERE (l_orderkey * 31 + l_linenumber) % 10 <> 3),
        | i AS (SELECT file_id, pos,
        |   pos - row_number() OVER (PARTITION BY file_id ORDER BY pos) AS grp FROM s),
        | runs AS (SELECT file_id, grp, count(*) AS run_len FROM i GROUP BY 1, 2)
        |SELECT file_id, count(*) AS n_runs, CAST(sum(run_len) AS BIGINT) AS survivors,
        | max(run_len) AS longest_run, round(avg(run_len), 4) AS avg_run_len
        |FROM runs GROUP BY 1 ORDER BY file_id""".stripMargin,

    "lake_sort_evolution" ->
      """WITH dd AS (SELECT l_orderkey,
        |   date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d FROM lineitem),
        | g AS (SELECT min(d) AS gmin, max(d) AS gmax FROM dd),
        | e AS (SELECT d, gmin, gmax,
        |   CASE WHEN l_orderkey % 2 = 0 THEN 'v1_unsorted' ELSE 'v2_clustered' END AS era,
        |   CASE WHEN l_orderkey % 2 = 0 THEN (l_orderkey // 2) % 20
        |     ELSE least(CAST(floor((d - gmin) * 20.0 / (gmax - gmin + 1)) AS BIGINT), 19) END AS file_id
        |  FROM dd, g),
        | f AS (SELECT era, file_id, min(d) AS fmin, max(d) AS fmax,
        |   min(gmin) AS gmin, min(gmax) AS gmax
        |  FROM e GROUP BY 1, 2),
        | k AS (SELECT era,
        |   round((fmax - fmin) * 100.0 / (gmax - gmin), 4) AS span_pct,
        |   (fmax < date_diff('day', DATE '1970-01-01', DATE '1997-01-01')
        |    OR fmin > date_diff('day', DATE '1970-01-01', DATE '1997-03-31')) AS skipped
        |  FROM f)
        |SELECT era, count(*) AS files_total,
        | CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
        | round(sum(CASE WHEN skipped THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS skip_rate_pct,
        | round(avg(span_pct), 4) AS avg_span_pct
        |FROM k GROUP BY era ORDER BY era""".stripMargin,

    "ev_path_trigrams" ->
      """WITH t AS (SELECT event_type AS e3,
        |  lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
        |  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
        | FROM events)
        |SELECT e1, e2, e3, count(*) AS n FROM t WHERE e1 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,

    "mm_batch_plan" ->
      """WITH p AS (SELECT source, doc_id,
        |   CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS payload_bytes FROM documents),
        | b AS (SELECT *, CAST(coalesce(sum(payload_bytes) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS bytes_before FROM p),
        | c AS (SELECT *, bytes_before // 4096 AS batch_id FROM b)
        |SELECT source, batch_id, count(*) AS n_docs,
        | CAST(sum(payload_bytes) AS BIGINT) AS batch_bytes,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, batch_id""".stripMargin,

    "text_zipf" ->
      s"""WITH f AS (SELECT unnest($tokSql) AS token FROM documents),
        | fr AS (SELECT token, count(*) AS freq FROM f GROUP BY 1),
        | r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rk FROM fr)
        |SELECT count(*) AS n_ranks,
        | round(regr_slope(ln(freq), ln(rk)), 6) + 0 AS zipf_slope,
        | round(regr_intercept(ln(freq), ln(rk)), 6) + 0 AS zipf_intercept,
        | round(regr_r2(ln(freq), ln(rk)), 6) AS fit_r2
        |FROM r WHERE rk <= 100""".stripMargin,

    "text_novelty" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
        | bg AS (SELECT DISTINCT doc_id, unnest(list_filter(
        |   list_transform(tk, (x, i) -> CASE WHEN i + 1 <= len(tk) THEN x || ' ' || tk[i+1] END),
        |   y -> y IS NOT NULL)) AS bg FROM t),
        | df AS (SELECT bg, count(*) AS df FROM bg GROUP BY 1),
        | n AS (SELECT doc_id, count(*) AS n_bigrams,
        |   CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM bg JOIN df USING (bg) GROUP BY 1)
        |SELECT doc_id, n_bigrams, n_novel,
        | round(n_novel * 1.0 / n_bigrams, 6) AS novelty
        |FROM n ORDER BY doc_id""".stripMargin,

    "dedup_containment" ->
      s"""WITH $shinglePairCtes,
        | c AS (SELECT doc_a, doc_b, common,
        |   round(common * 1.0 / na.n_sh, 6) AS cont_a,
        |   round(common * 1.0 / nb.n_sh, 6) AS cont_b
        |  FROM pairs JOIN sz na ON na.doc_id = doc_a JOIN sz nb ON nb.doc_id = doc_b)
        |SELECT doc_a, doc_b, common, cont_a, cont_b
        |FROM c WHERE greatest(cont_a, cont_b) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,

    "knn_range_search" ->
      s"""WITH $embPrepSql,
        | q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 20),
        | s AS (SELECT q_id, vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM q JOIN n ON vec_id <> q_id)
        |SELECT q_id, neighbor_id, cos FROM s WHERE cos >= 0.35
        |ORDER BY q_id, neighbor_id""".stripMargin,

    "knn_pq" ->
      s"""WITH $embPrepSql,
        | subs AS (SELECT vec_id, label, sub_id,
        |   list_slice(v, sub_id * 8 + 1, sub_id * 8 + 8) AS sv
        |  FROM n, range(8) AS r(sub_id)),
        | ex AS (SELECT sub_id, label AS code,
        |   unnest(list_transform(sv, (x, i) -> {'pos': i, 'x': x})) AS px FROM subs),
        | ce AS (SELECT sub_id, code, px.pos AS pos, round(avg(px.x), 9) AS c
        |  FROM ex GROUP BY 1, 2, 3),
        | cb AS (SELECT sub_id, code, list(c ORDER BY pos) AS cv FROM ce GROUP BY 1, 2),
        | d AS (SELECT vec_id, s.sub_id AS sub_id, code,
        |   round(list_reduce(list_transform(list_zip(sv, cv), z -> (z[1] - z[2]) * (z[1] - z[2])),
        |     (a, b2) -> a + b2), 9) AS sq_err
        |  FROM subs s JOIN cb ON s.sub_id = cb.sub_id),
        | p AS (SELECT *, row_number() OVER (PARTITION BY vec_id, sub_id ORDER BY sq_err, code) AS rk FROM d)
        |SELECT sub_id, count(*) AS n_vectors, count(DISTINCT code) AS codes_used,
        | round(sum(CAST(round(sq_err * 1000000000) AS BIGINT)) / (count(*) * 1000000000.0), 6) AS avg_sq_err,
        | round(max(sq_err), 6) AS max_sq_err
        |FROM p WHERE rk = 1 GROUP BY 1 ORDER BY sub_id""".stripMargin,

    "lake_stats_truncation" ->
      """WITH f AS (SELECT p_partkey % 20 AS file_id,
        |  min(p_name) AS min_name, max(p_name) AS max_name
        | FROM part GROUP BY 1),
        | t AS (SELECT file_id, min_name, max_name,
        |   substring(min_name, 1, 4) AS trunc_min,
        |   CASE WHEN length(max_name) <= 4 THEN max_name
        |        ELSE substring(max_name, 1, 3) || chr(ascii(substring(max_name, 4, 1)) + 1)
        |   END AS trunc_max FROM f)
        |SELECT file_id, min_name, max_name, trunc_min, trunc_max,
        | ('small gizmo' >= min_name AND 'small gizmo' <= max_name) AS keep_full,
        | ('small gizmo' >= trunc_min AND 'small gizmo' <= trunc_max) AS keep_trunc,
        | (('small gizmo' >= trunc_min AND 'small gizmo' <= trunc_max)
        |   AND NOT ('small gizmo' >= min_name AND 'small gizmo' <= max_name)) AS false_keep
        |FROM t ORDER BY file_id""".stripMargin,

    "lake_small_files" ->
      """WITH frag AS (SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
        |   l_orderkey % 40 AS file_id, count(*) * 100 AS frag_bytes
        |  FROM lineitem GROUP BY 1, 2),
        | s AS (SELECT part_month, frag_bytes,
        |   frag_bytes * 2.0 < avg(frag_bytes) OVER (PARTITION BY part_month) AS small
        |  FROM frag)
        |SELECT part_month, count(*) AS n_files,
        | CAST(sum(frag_bytes) AS BIGINT) AS partition_bytes,
        | CAST(sum(CASE WHEN small THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
        | round(sum(CASE WHEN small THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS small_pct,
        | sum(CASE WHEN small THEN 1 ELSE 0 END) * 2 > count(*) AS should_compact
        |FROM s GROUP BY part_month ORDER BY part_month""".stripMargin,

    "lake_scan_cost" ->
      """WITH f AS (SELECT l_orderkey % 40 AS file_id, count(*) AS rows_,
        |   CAST(sum(length(l_returnflag) + length(l_linestatus)) AS BIGINT) AS str_bytes,
        |   strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
        |   strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship
        |  FROM lineitem GROUP BY 1),
        | k AS (SELECT *, (max_ship >= '1997-01-01' AND min_ship <= '1997-03-31') AS kept FROM f),
        | a AS (SELECT count(*) AS all_files, CAST(sum(rows_) AS BIGINT) AS all_rows,
        |   CAST(sum(rows_ * 68 + str_bytes) AS BIGINT) AS full_bytes,
        |   CAST(sum(rows_ * 24) AS BIGINT) AS proj_bytes,
        |   CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_files,
        |   CAST(sum(CASE WHEN kept THEN rows_ ELSE 0 END) AS BIGINT) AS kept_rows
        |  FROM k)
        |SELECT '0_full_scan' AS variant, all_files AS files_read, all_rows AS rows_scanned,
        |  full_bytes AS bytes_read FROM a
        |UNION ALL SELECT '1_column_pruned', all_files, all_rows, proj_bytes FROM a
        |UNION ALL SELECT '2_column_file_pruned', kept_files, kept_rows, kept_rows * 24 FROM a
        |ORDER BY variant""".stripMargin,

    "lake_branch_tags" ->
      """WITH c AS (SELECT o_orderkey // 100 AS commit_id, count(*) AS rows_added,
        |   sum(o_totalprice) AS bytes_added
        |  FROM orders GROUP BY 1),
        | mx AS (SELECT max(commit_id) AS maxc FROM c),
        | refs AS (
        |  SELECT 'main' AS ref_name, 'branch' AS ref_type, maxc AS head_commit FROM mx
        |  UNION ALL SELECT 'staging', 'branch', (maxc * 6) // 10 FROM mx
        |  UNION ALL SELECT 'v1.0', 'tag', (maxc * 3) // 10 FROM mx)
        |SELECT ref_name, ref_type, head_commit,
        | count(*) AS commits_visible,
        | CAST(sum(rows_added) AS BIGINT) AS rows_visible,
        | round(sum(bytes_added), 4) AS bytes_visible
        |FROM refs JOIN c ON commit_id <= head_commit
        |GROUP BY 1, 2, 3 ORDER BY ref_name""".stripMargin,

    "lake_wap_audit" ->
      """WITH wc AS (SELECT o_orderkey // 100 AS commit_id, o_totalprice FROM orders),
        | mx AS (SELECT max(commit_id) AS maxc FROM wc)
        |SELECT commit_id, count(*) AS n_rows,
        | CAST(sum(CASE WHEN o_totalprice < 30000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        | round(sum(CASE WHEN o_totalprice < 30000.0 THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS bad_pct,
        | CASE WHEN sum(CASE WHEN o_totalprice < 30000.0 THEN 1 ELSE 0 END) * 100.0 / count(*) <= 5.0
        |   THEN 'publish' ELSE 'reject' END AS decision
        |FROM wc, mx WHERE commit_id > maxc - 10
        |GROUP BY commit_id ORDER BY commit_id""".stripMargin,

    "q36_listagg" ->
      """WITH r AS (SELECT c_mktsegment, c_name, c_acctbal, c_custkey,
        |  row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk
        | FROM customer)
        |SELECT c_mktsegment,
        | string_agg(c_name, ',' ORDER BY rk) AS top_names,
        | round(sum(c_acctbal), 4) AS top_bal
        |FROM r WHERE rk <= 3
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q37_islands" ->
      """WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | i AS (SELECT user_id, day,
        |   date_diff('day', DATE '1970-01-01', day)
        |     - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM daily),
        | s AS (SELECT user_id, grp, count(*) AS streak_days, min(day) AS start_day
        |  FROM i GROUP BY 1, 2),
        | b AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |   ORDER BY streak_days DESC, start_day) AS rk FROM s)
        |SELECT user_id, streak_days AS best_streak, strftime(start_day, '%Y-%m-%d') AS streak_start
        |FROM b WHERE rk = 1 ORDER BY user_id""".stripMargin,

    "q38_histogram" ->
      """SELECT CAST(floor(o_totalprice / 20000.0) * 20000 AS BIGINT) AS bin_lo,
        | count(*) AS n_orders,
        | round(avg(o_totalprice), 4) AS avg_price,
        | round(sum(o_totalprice), 4) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY bin_lo""".stripMargin,

    "q39_mom_growth" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, sum(o_totalprice) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT month, round(rev, 4) AS revenue,
        | round(rev - lag(rev) OVER (ORDER BY month), 4) AS delta,
        | round((rev / lag(rev) OVER (ORDER BY month) - 1.0) * 100.0, 6) AS growth_pct
        |FROM m ORDER BY month""".stripMargin,

    "q40_date_spine" ->
      """WITH rev AS (SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
        |   sum(o_totalprice) AS rev, count(*) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |   JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        | b AS (SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |   date_trunc('month', max(o_orderdate)) AS hi FROM orders),
        | months AS (SELECT strftime(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)), '%Y-%m') AS month FROM b),
        | spine AS (SELECT n_name, month FROM nation, months)
        |SELECT n_name, month,
        | round(coalesce(rev, 0.0), 4) AS revenue,
        | CAST(coalesce(n, 0) AS BIGINT) AS n_orders
        |FROM spine LEFT JOIN rev USING (n_name, month)
        |ORDER BY n_name, month""".stripMargin,

    "q41_weighted_agg" ->
      """SELECT p_brand,
        | round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 6) AS wavg_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)) / sum(l_extendedprice), 6) AS eff_price_ratio,
        | round(sum(l_quantity), 4) AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q42_regex_extract" ->
      """WITH p AS (SELECT regexp_extract(p_name, '^(\w+) (\w+)$', 1) AS adjective,
        |  regexp_extract(p_name, '^(\w+) (\w+)$', 2) AS noun, p_retailprice FROM part)
        |SELECT noun, count(*) AS n_parts,
        | count(DISTINCT adjective) AS n_adjectives,
        | round(avg(p_retailprice), 6) AS avg_retail
        |FROM p WHERE noun <> ''
        |GROUP BY noun ORDER BY noun""".stripMargin,

    "ev_rfm" ->
      """WITH p AS (SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
        |   count(*) AS freq, sum(value) AS monetary,
        |   sum(CAST(round(value * 100) AS BIGINT)) AS monetary_c
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        | mx AS (SELECT max(CAST(ts AS DATE)) AS corpus_max_day
        |  FROM events WHERE event_type = 'purchase'),
        | s AS (SELECT user_id, date_diff('day', last_day, corpus_max_day) AS recency_days,
        |   freq, monetary, monetary_c FROM p, mx),
        | rf AS (SELECT recency_days AS v, count(*) AS cnt FROM s GROUP BY 1),
        | rc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS tot FROM rf),
        | rt AS (SELECT min(CASE WHEN cum >= tot*0.25 THEN v END) AS r25,
        |   min(CASE WHEN cum >= tot*0.50 THEN v END) AS r50,
        |   min(CASE WHEN cum >= tot*0.75 THEN v END) AS r75 FROM rc),
        | ff AS (SELECT freq AS v, count(*) AS cnt FROM s GROUP BY 1),
        | fc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS tot FROM ff),
        | ft AS (SELECT min(CASE WHEN cum >= tot*0.25 THEN v END) AS f25,
        |   min(CASE WHEN cum >= tot*0.50 THEN v END) AS f50,
        |   min(CASE WHEN cum >= tot*0.75 THEN v END) AS f75 FROM fc),
        | mf AS (SELECT monetary_c AS v, count(*) AS cnt FROM s GROUP BY 1),
        | mc AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS tot FROM mf),
        | mt AS (SELECT min(CASE WHEN cum >= tot*0.25 THEN v END) AS m25,
        |   min(CASE WHEN cum >= tot*0.50 THEN v END) AS m50,
        |   min(CASE WHEN cum >= tot*0.75 THEN v END) AS m75 FROM mc),
        | b AS (SELECT recency_days, monetary,
        |   CAST(1 + CAST(recency_days > r25 AS INT) + CAST(recency_days > r50 AS INT)
        |     + CAST(recency_days > r75 AS INT) AS BIGINT) AS r_q,
        |   CAST(1 + CAST(freq < f75 AS INT) + CAST(freq < f50 AS INT)
        |     + CAST(freq < f25 AS INT) AS BIGINT) AS f_q,
        |   CAST(1 + CAST(monetary_c < m75 AS INT) + CAST(monetary_c < m50 AS INT)
        |     + CAST(monetary_c < m25 AS INT) AS BIGINT) AS m_q
        |  FROM s, rt, ft, mt)
        |SELECT r_q, f_q, m_q, count(*) AS users,
        | round(avg(monetary), 6) AS avg_monetary,
        | round(avg(recency_days), 6) AS avg_recency_days
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "ev_attribution" ->
      """WITH t AS (SELECT event_type, value,
        |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        | FROM events)
        |SELECT coalesce(touch, 'none') AS touch_type, count(*) AS purchases,
        | round(sum(value), 4) AS attributed_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch_type""".stripMargin,

    "ev_dwell" ->
      """WITH g AS (SELECT event_type,
        |  epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
        | FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        | round(sum(gap_ms) / (count(*) * 60000.0), 6) AS avg_gap_min,
        | round(quantile_cont(gap_ms, 0.5) / 60000.0, 6) AS median_gap_min,
        | round(max(gap_ms) / 60000.0, 6) AS max_gap_min
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q47_hash_sample" ->
      """WITH b AS (SELECT o_orderpriority, o_totalprice,
        |  (o_orderkey % 1000003) * 2654435761 % 1000 AS bucket FROM orders)
        |SELECT o_orderpriority, count(*) AS n_pop,
        | CAST(sum(CASE WHEN bucket < 125 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
        | round(avg(o_totalprice), 4) AS pop_avg_price,
        | round(avg(CASE WHEN bucket < 125 THEN o_totalprice END), 4) AS sample_avg_price,
        | round(sum(CASE WHEN bucket < 125 THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS sample_pct
        |FROM b GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q48_skyline" ->
      """WITH per AS (SELECT p_size, min(p_retailprice) AS min_price FROM part GROUP BY 1),
        | s AS (SELECT p_size, min_price,
        |   min(min_price) OVER (ORDER BY p_size DESC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_larger FROM per)
        |SELECT p_size, round(min_price, 4) AS skyline_price FROM s
        |WHERE best_larger IS NULL OR min_price < best_larger
        |ORDER BY p_size""".stripMargin,

    "q49_spearman" ->
      """WITH r AS (SELECT l_returnflag,
        |  CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS DOUBLE) AS rp,
        |  CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS DOUBLE) AS rq
        | FROM lineitem)
        |SELECT l_returnflag, count(*) AS n, round(corr(rp, rq), 6) + 0 AS spearman_rho
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q50_chi_square" ->
      """WITH obs AS (SELECT l_returnflag, l_linestatus, count(*) AS o
        |  FROM lineitem GROUP BY 1, 2),
        | e AS (SELECT l_returnflag, l_linestatus, o,
        |   sum(o) OVER (PARTITION BY l_returnflag) AS row_tot,
        |   sum(o) OVER (PARTITION BY l_linestatus) AS col_tot,
        |   sum(o) OVER () AS n FROM obs)
        |SELECT CAST(max(n) AS BIGINT) AS n, count(*) AS cells,
        | CAST((count(DISTINCT l_returnflag) - 1) * (count(DISTINCT l_linestatus) - 1) AS BIGINT) AS dof,
        | round(sum((o - row_tot * col_tot / n) * (o - row_tot * col_tot / n)
        |           / (row_tot * col_tot / n)), 6) AS chi2
        |FROM e""".stripMargin,

    "q51_strict_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'signup' GROUP BY 1),
        | s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |        WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        | s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
        |        WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT '1_signup' AS stage, count(*) AS users FROM s1
        |UNION ALL SELECT '2_click_after', count(*) FROM s2
        |UNION ALL SELECT '3_purchase_after', count(*) FROM s3
        |ORDER BY stage""".stripMargin,

    "q52_interval_concurrency" ->
      """WITH d AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS delta FROM orders
        |  UNION ALL
        |  SELECT CAST(o_orderdate AS DATE) + 7, -1 FROM orders),
        | daily AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net FROM d GROUP BY day),
        | run AS (SELECT day, sum(net) OVER (ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS active FROM daily)
        |SELECT strftime(day, '%Y-%m') AS month,
        | CAST(max(active) AS BIGINT) AS peak_active,
        | round(avg(active), 4) AS avg_active
        |FROM run GROUP BY 1 ORDER BY month""".stripMargin,

    "text_entropy" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
        | tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        | round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "text_pmi" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
        | uni AS (SELECT token AS w, count(*) AS cw FROM tok GROUP BY 1),
        | ut AS (SELECT sum(cw) AS n_uni FROM uni),
        | t2 AS (SELECT $tokSql AS t FROM documents),
        | bgl AS (SELECT unnest(list_filter(
        |     list_transform(t, (x, i) -> CASE WHEN i < len(t) THEN x || ' ' || t[i+1] END),
        |     y -> y IS NOT NULL)) AS b FROM t2),
        | bg AS (SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2, count(*) AS cb
        |        FROM bgl GROUP BY 1, 2),
        | bt AS (SELECT sum(cb) AS n_bg FROM bg)
        |SELECT w1, w2, cb,
        | round(ln((cb / n_bg) / ((u1.cw / n_uni) * (u2.cw / n_uni))), 6) AS pmi
        |FROM bg JOIN uni u1 ON bg.w1 = u1.w JOIN uni u2 ON bg.w2 = u2.w, bt, ut
        |WHERE cb >= 20
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    "text_diversity" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
        | tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        | d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM tc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types, n_hapax,
        | round(n_types * 1.0 / n_tokens, 6) AS ttr,
        | round(n_hapax * 1.0 / n_types, 6) AS hapax_ratio
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_filter_cascade" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
        | tc AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        | d AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types, max(c) AS top_c
        |  FROM tc GROUP BY doc_id),
        | r AS (SELECT doc_id, n_tokens,
        |   CASE WHEN n_tokens < 20 THEN '1_too_short'
        |        WHEN n_tokens > 500 THEN '2_too_long'
        |        WHEN n_types * 1.0 / n_tokens < 0.2 THEN '3_low_diversity'
        |        WHEN top_c * 1.0 / n_tokens > 0.2 THEN '4_top_token_dominates'
        |        ELSE '5_kept' END AS rule FROM d)
        |SELECT rule, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM r GROUP BY rule ORDER BY rule""".stripMargin,

    "text_heaps" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
        | perdoc AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1),
        | firstdoc AS (SELECT token, min(doc_id) AS first_doc FROM tok GROUP BY 1),
        | mx AS (SELECT max(doc_id) AS maxdoc FROM documents),
        | cp AS (SELECT DISTINCT CAST(floor(i * maxdoc / 32.0) AS BIGINT) AS cp
        |        FROM generate_series(1, 32) t(i), mx),
        | ct AS (SELECT cp, sum(n_tok) AS cum_tokens FROM perdoc, cp WHERE doc_id <= cp GROUP BY cp),
        | cv AS (SELECT cp, count(*) AS cum_vocab FROM firstdoc, cp WHERE first_doc <= cp GROUP BY cp)
        |SELECT count(*) AS n_points,
        | CAST(max(cum_tokens) AS BIGINT) AS corpus_tokens,
        | CAST(max(cum_vocab) AS BIGINT) AS corpus_vocab,
        | round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 6) + 0 AS heaps_beta,
        | round(exp(regr_intercept(ln(cum_vocab), ln(cum_tokens))), 6) AS heaps_k
        |FROM ct JOIN cv USING (cp)""".stripMargin,

    "ev_decay_score" ->
      """WITH a AS (SELECT max(epoch_ms(ts)) AS t_end FROM events)
        |SELECT user_id, count(*) AS n_events,
        | round(sum(value), 4) AS raw_value,
        | round(sum(value * exp(-0.1 * ((t_end - epoch_ms(ts)) / 86400000.0))), 4) AS decayed_score
        |FROM events, a GROUP BY user_id ORDER BY user_id""".stripMargin,

    "ev_seasonality" ->
      """WITH g AS (SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        |   CAST(hour(ts) AS BIGINT) AS hod, count(*) AS n_events,
        |   round(avg(value), 6) AS avg_value
        |  FROM events GROUP BY 1, 2)
        |SELECT dow, hod, n_events, avg_value,
        | round(n_events * 100.0 / sum(n_events) OVER (), 4) AS share_pct
        |FROM g ORDER BY dow, hod""".stripMargin,

    "ev_conversion_time" ->
      """WITH s AS (SELECT user_id, min(ts) AS t_signup FROM events
        |           WHERE event_type = 'signup' GROUP BY 1),
        | p AS (SELECT user_id, min(ts) AS t_purchase FROM events
        |       WHERE event_type = 'purchase' GROUP BY 1),
        | j AS (SELECT strftime(t_signup, '%Y-%m-%d') AS signup_day,
        |   epoch_ms(t_purchase) - epoch_ms(t_signup) AS lat_ms
        |  FROM s JOIN p USING (user_id) WHERE t_purchase > t_signup)
        |SELECT signup_day, count(*) AS n_converted,
        | round(quantile_cont(lat_ms, 0.25) / 3600000.0, 6) AS p25_hours,
        | round(quantile_cont(lat_ms, 0.5) / 3600000.0, 6) AS p50_hours,
        | round(quantile_cont(lat_ms, 0.75) / 3600000.0, 6) AS p75_hours
        |FROM j GROUP BY signup_day ORDER BY signup_day""".stripMargin,

    "ev_power_users" ->
      """WITH pu AS (SELECT user_id, count(*) AS n_events, sum(value) AS user_value
        |  FROM events GROUP BY 1),
        | d AS (SELECT *, CAST(ntile(10) OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS decile FROM pu),
        | g AS (SELECT decile, count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events,
        |   round(sum(user_value), 4) AS total_value
        |  FROM d GROUP BY decile)
        |SELECT decile, n_users, n_events, total_value,
        | round(n_events * 100.0 / sum(n_events) OVER (), 4) AS event_share_pct
        |FROM g ORDER BY decile""".stripMargin,

    "ev_lifecycle" ->
      """WITH pu AS (SELECT user_id, count(*) AS n_events,
        |   count(DISTINCT CAST(ts AS DATE)) AS active_days,
        |   CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS BIGINT) AS lifespan_days
        |  FROM events GROUP BY 1),
        | c AS (SELECT *,
        |   CASE WHEN active_days < 26 THEN '1_light'
        |        WHEN active_days < 29 THEN '2_regular'
        |        ELSE '3_power' END AS status FROM pu)
        |SELECT status, count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events,
        | round(avg(active_days), 6) AS avg_active_days,
        | round(avg(lifespan_days), 6) AS avg_lifespan_days
        |FROM c GROUP BY status ORDER BY status""".stripMargin,

    "lake_partition_stats" ->
      """WITH f AS (SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
        |   l_orderkey % 40 AS file_id, count(*) AS rows_,
        |   strftime(min(l_shipdate), '%Y-%m-%d') AS f_min,
        |   strftime(max(l_shipdate), '%Y-%m-%d') AS f_max
        |  FROM lineitem GROUP BY 1, 2),
        | p AS (SELECT part_month, count(*) AS n_files, CAST(sum(rows_) AS BIGINT) AS n_rows,
        |   min(f_min) AS min_ship, max(f_max) AS max_ship
        |  FROM f GROUP BY part_month)
        |SELECT part_month, n_files, n_rows, min_ship, max_ship,
        | (max_ship >= '1997-01-01' AND min_ship <= '1997-03-31') AS matches_window
        |FROM p ORDER BY part_month""".stripMargin,

    "lake_column_ndv" ->
      """SELECT l_orderkey % 40 AS file_id, count(*) AS rows,
        | count(DISTINCT l_partkey) AS ndv_partkey,
        | count(DISTINCT l_suppkey) AS ndv_suppkey,
        | round(count(DISTINCT l_partkey) * 1.0 / count(*), 6) AS partkey_ratio,
        | round(count(DISTINCT l_suppkey) * 1.0 / count(*), 6) AS suppkey_ratio
        |FROM lineitem GROUP BY 1 ORDER BY file_id""".stripMargin,

    "lake_mor_cost" ->
      """WITH f AS (SELECT l_orderkey % 40 AS file_id, count(*) AS rows_,
        |   CAST(sum(CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS del_rows
        |  FROM lineitem GROUP BY 1),
        | t AS (SELECT
        |   CAST(sum((rows_ - del_rows) * 100) AS BIGINT) AS cow_read,
        |   CAST(sum(CASE WHEN del_rows > 0 THEN rows_ * 100 ELSE 0 END) AS BIGINT) AS cow_write,
        |   CAST(sum(CASE WHEN del_rows > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
        |   CAST(sum(rows_ * 100 + del_rows * 8) AS BIGINT) AS pos_read,
        |   CAST(sum(del_rows * 8) AS BIGINT) AS pos_write,
        |   CAST(sum(rows_ * 100 + del_rows * 16) AS BIGINT) AS eq_read,
        |   CAST(sum(del_rows * 16) AS BIGINT) AS eq_write
        |  FROM f)
        |SELECT '1_copy_on_write' AS strategy, cow_read AS read_bytes, cow_write AS write_bytes, files_touched FROM t
        |UNION ALL SELECT '2_mor_positional', pos_read, pos_write, files_touched FROM t
        |UNION ALL SELECT '3_mor_equality', eq_read, eq_write, files_touched FROM t
        |ORDER BY strategy""".stripMargin,

    "lake_writer_contention" ->
      """WITH touched AS (SELECT DISTINCT l_suppkey % 6 AS writer, l_orderkey % 40 AS file_id
        |  FROM lineitem),
        | fp AS (SELECT writer, count(*) AS files_touched FROM touched GROUP BY 1)
        |SELECT a.writer AS writer_a, b.writer AS writer_b,
        | count(*) AS shared_files, CAST(max(fp.files_touched) AS BIGINT) AS files_a,
        | round(count(*) * 100.0 / max(fp.files_touched), 4) AS overlap_pct
        |FROM touched a JOIN touched b ON a.file_id = b.file_id AND a.writer < b.writer
        |JOIN fp ON fp.writer = a.writer
        |GROUP BY a.writer, b.writer ORDER BY writer_a, writer_b""".stripMargin,

    "dedup_prefix" ->
      s"""WITH s AS (SELECT doc_id, $tokSql AS t FROM documents),
        | p AS (SELECT doc_id, array_to_string(t[1:8], ' ') AS psig FROM s WHERE len(t) >= 8),
        | g AS (SELECT doc_id,
        |   count(*) OVER (PARTITION BY psig) AS group_size,
        |   doc_id = min(doc_id) OVER (PARTITION BY psig) AS keep
        |  FROM p)
        |SELECT doc_id, group_size, keep FROM g WHERE group_size > 1
        |ORDER BY doc_id""".stripMargin,

    "text_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, $tokSql AS tk FROM documents),
        | sh AS (SELECT doc_id, unnest(list_filter(
        |   list_transform(tk, (x, i) -> CASE WHEN i + 4 <= len(tk)
        |     THEN concat(x, ' ', tk[i+1], ' ', tk[i+2], ' ', tk[i+3], ' ', tk[i+4]) END),
        |   y -> y IS NOT NULL)) AS phrase FROM t),
        | df AS (SELECT phrase, count(*) AS df FROM (SELECT DISTINCT doc_id, phrase FROM sh) GROUP BY 1),
        | oc AS (SELECT phrase, count(*) AS occurrences FROM sh GROUP BY 1)
        |SELECT phrase, df, occurrences FROM df JOIN oc USING (phrase)
        |WHERE df >= 2 ORDER BY df DESC, phrase LIMIT 20""".stripMargin,

    "knn_sq8" ->
      """WITH b AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        | d0 AS (SELECT vec_id, label,
        |   unnest(list_transform(v, (x, i) -> {'pos': i, 'x': x})) AS px FROM b),
        | d AS (SELECT vec_id, label, px.pos AS pos, px.x AS x FROM d0),
        | r AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM d GROUP BY 1),
        | q AS (SELECT vec_id, label,
        |   CASE WHEN hi = lo THEN 0 ELSE CAST(least(floor((x - lo) * 255.0 / (hi - lo)), 255.0) AS BIGINT) END AS code,
        |   x, lo, hi FROM d JOIN r USING (pos)),
        | e AS (SELECT vec_id, label, code,
        |   round((x - (lo + code * (hi - lo) / 255.0)) * (x - (lo + code * (hi - lo) / 255.0)), 9) AS sq
        |  FROM q),
        | pv AS (SELECT vec_id, label, round(avg(sq), 9) AS mse, count(DISTINCT code) AS codes_used
        |  FROM e GROUP BY 1, 2)
        |SELECT label, count(*) AS n_vectors,
        | round(sum(CAST(round(mse * 1000000000) AS BIGINT)) / (count(*) * 1000000000.0), 6) AS avg_mse,
        | round(max(mse), 6) AS max_mse,
        | round(avg(codes_used), 6) AS avg_codes_used
        |FROM pv GROUP BY label ORDER BY label""".stripMargin,

    "mm_dedup" ->
      """WITH f AS (SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT) AS checksum
        | FROM documents)
        |SELECT doc_id, byte_len, checksum,
        | count(*) OVER (PARTITION BY checksum, byte_len) AS group_size,
        | doc_id = min(doc_id) OVER (PARTITION BY checksum, byte_len) AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "q53_unpivot" ->
      """WITH w AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 4) AS rev_f,
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS rev_o,
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 4) AS rev_p
        | FROM orders GROUP BY 1),
        | u AS (
        |  SELECT order_year, 'F' AS o_orderstatus, rev_f AS revenue FROM w
        |  UNION ALL SELECT order_year, 'O', rev_o FROM w
        |  UNION ALL SELECT order_year, 'P', rev_p FROM w)
        |SELECT order_year, o_orderstatus, revenue FROM u
        |WHERE revenue IS NOT NULL
        |ORDER BY order_year, o_orderstatus""".stripMargin,

    "text_chunking" ->
      s"""WITH d AS (SELECT doc_id, CAST(len($tokSql) AS BIGINT) AS n_tok FROM documents),
        | st AS (SELECT doc_id, n_tok, unnest(generate_series(1, greatest(n_tok - 32 + 24, 1), 24)) AS start
        |  FROM d),
        | c AS (SELECT doc_id, n_tok, least(32, n_tok - start + 1) AS chunk_len
        |  FROM st WHERE n_tok - start + 1 > 0)
        |SELECT doc_id, n_tok, count(*) AS n_chunks,
        | CAST(sum(chunk_len) AS BIGINT) AS chunked_tokens,
        | CAST(min(chunk_len) AS BIGINT) AS min_chunk_len,
        | CAST(sum(chunk_len) - n_tok AS BIGINT) AS overlap_tokens
        |FROM c GROUP BY doc_id, n_tok ORDER BY doc_id""".stripMargin,

    "knn_matryoshka" ->
      s"""WITH $embPrepSql,
        | q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        | sf AS (SELECT q_id, vec_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM n JOIN q ON vec_id <> q_id),
        | rf AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM sf),
        | tfull AS (SELECT q_id, vec_id FROM rf WHERE rk <= 5),
        | nt AS (SELECT vec_id, list_slice(v, 1, 16) AS v,
        |   sqrt(list_reduce(list_transform(list_slice(v, 1, 16), x -> x * x), (a, c) -> a + c)) AS nrm FROM n),
        | qt AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nt WHERE vec_id < 10),
        | stv AS (SELECT q_id, vec_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM nt JOIN qt ON vec_id <> q_id),
        | rt AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM stv),
        | ttr AS (SELECT q_id, vec_id FROM rt WHERE rk <= 5),
        | h AS (SELECT f.q_id, count(*) AS hits FROM tfull f
        |       JOIN ttr t ON f.q_id = t.q_id AND f.vec_id = t.vec_id GROUP BY 1)
        |SELECT q.q_id, coalesce(h.hits, 0) AS hits,
        | round(coalesce(h.hits, 0) * 1.0 / 5, 6) AS recall_at_k
        |FROM (SELECT DISTINCT q_id FROM tfull) q LEFT JOIN h USING (q_id)
        |ORDER BY q_id""".stripMargin,

    // Two-stage retrieve-then-rerank: coarse = prefix-8-dim cosine top-50,
    // rerank = exact cosine over those 20; both scored against the exact
    // full-scan top-5 ground truth.
    "knn_rerank" ->
      s"""WITH $embPrepSql,
        | nn AS (SELECT vec_id, list_slice(v, 1, 8) AS v8,
        |   sqrt(list_reduce(list_transform(list_slice(v, 1, 8), x -> x * x), (a, c) -> a + c)) AS n8 FROM n),
        | qc AS (SELECT vec_id AS q_id, v8 AS qv8, n8 AS qn8 FROM nn WHERE vec_id < 10),
        | sc AS (SELECT q_id, vec_id,
        |   round(list_reduce(list_transform(list_zip(qv8, v8), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn8 * n8), 6) AS ccos
        |  FROM nn JOIN qc ON vec_id <> q_id),
        | rc AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY ccos DESC, vec_id) AS crk FROM sc),
        | cand AS (SELECT q_id, vec_id, crk FROM rc WHERE crk <= 50),
        | qf AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        | rr AS (SELECT cand.q_id, cand.vec_id,
        |    round(list_reduce(list_transform(list_zip(qf.qv, n.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |          / (qf.qn * n.nrm), 6) AS cos
        |   FROM cand JOIN n ON cand.vec_id = n.vec_id JOIN qf ON cand.q_id = qf.q_id),
        | rrk AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM rr),
        | rtop AS (SELECT q_id, vec_id FROM rrk WHERE rk <= 5),
        | ctop AS (SELECT q_id, vec_id FROM cand WHERE crk <= 5),
        | se AS (SELECT q_id, vec_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM n JOIN qf ON vec_id <> q_id),
        | rex AS (SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk FROM se),
        | ex AS (SELECT q_id, vec_id FROM rex WHERE rk <= 5),
        | hc AS (SELECT q_id, count(*) AS hits_coarse FROM ex JOIN ctop USING (q_id, vec_id) GROUP BY 1),
        | hr AS (SELECT q_id, count(*) AS hits_rerank FROM ex JOIN rtop USING (q_id, vec_id) GROUP BY 1)
        |SELECT q.q_id,
        | CAST(coalesce(hc.hits_coarse, 0) AS BIGINT) AS hits_coarse,
        | round(coalesce(hc.hits_coarse, 0) * 1.0 / 5, 6) AS recall_coarse,
        | CAST(coalesce(hr.hits_rerank, 0) AS BIGINT) AS hits_rerank,
        | round(coalesce(hr.hits_rerank, 0) * 1.0 / 5, 6) AS recall_rerank
        |FROM (SELECT DISTINCT q_id FROM ex) q
        | LEFT JOIN hc USING (q_id) LEFT JOIN hr USING (q_id)
        |ORDER BY q_id""".stripMargin,

    "q54_scd2_join" ->
      """WITH v AS (
        |  SELECT s_suppkey, '1_era95' AS era, TIMESTAMP '1995-01-01' AS vfrom, TIMESTAMP '1997-01-01' AS vto FROM supplier
        |  UNION ALL SELECT s_suppkey, '2_era97', TIMESTAMP '1997-01-01', TIMESTAMP '1999-01-01' FROM supplier
        |  UNION ALL SELECT s_suppkey, '3_era99', TIMESTAMP '1999-01-01', TIMESTAMP '9999-12-31' FROM supplier),
        | vr AS (SELECT *, (s_suppkey * 7 + CAST(substring(era, 1, 1) AS BIGINT)) % 5 + 1 AS rate FROM v)
        |SELECT era, count(*) AS n_rows,
        | count(DISTINCT s_suppkey) AS n_suppliers,
        | round(sum(l_extendedprice * rate / 100.0), 4) AS rated_revenue
        |FROM lineitem JOIN vr ON l_suppkey = s_suppkey
        |  AND l_shipdate >= vfrom AND l_shipdate < vto
        |GROUP BY era ORDER BY era""".stripMargin,

    "ev_rolling_active" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        | sp AS (SELECT DISTINCT day AS anchor FROM du)
        |SELECT strftime(anchor, '%Y-%m-%d') AS anchor,
        | count(DISTINCT user_id) AS wau,
        | count(DISTINCT CASE WHEN day = anchor THEN user_id END) AS dau,
        | round(count(DISTINCT CASE WHEN day = anchor THEN user_id END) * 1.0
        |       / count(DISTINCT user_id), 6) AS stickiness
        |FROM du JOIN sp ON day <= anchor AND day > anchor - 7
        |GROUP BY anchor ORDER BY anchor""".stripMargin,

    "text_vocab_coverage" ->
      s"""WITH freq AS (SELECT token, count(*) AS freq
        |  FROM (SELECT unnest($tokSql) AS token FROM documents) GROUP BY 1),
        | r AS (SELECT token, freq,
        |   CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rk,
        |   sum(freq) OVER (ORDER BY freq DESC, token
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM freq),
        | t AS (SELECT sum(freq) AS total FROM freq),
        | ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 24, 31]) AS BIGINT) AS k)
        |SELECT k, count(*) AS vocab_used, CAST(max(cum) AS BIGINT) AS covered,
        | round(max(cum) * 100.0 / (SELECT total FROM t), 4) AS coverage_pct
        |FROM r JOIN ks ON rk <= k
        |GROUP BY k ORDER BY k""".stripMargin,

    "q55_market_basket" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        | no AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob),
        | bc AS (SELECT p_brand, count(*) AS n_b FROM ob GROUP BY 1),
        | pr AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_co
        |  FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT brand_a, brand_b, n_co,
        | round(n_co * 100.0 / n_orders, 4) AS support_pct,
        | round(n_co * n_orders * 1.0 / (ba.n_b * bb.n_b), 6) AS lift
        |FROM pr JOIN bc ba ON pr.brand_a = ba.p_brand
        |        JOIN bc bb ON pr.brand_b = bb.p_brand, no
        |ORDER BY lift DESC, brand_a, brand_b LIMIT 20""".stripMargin,

    "q56_mad_outliers" ->
      """WITH base AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem),
        | pf AS (SELECT l_returnflag, pc, count(*) AS cnt FROM base GROUP BY 1, 2),
        | pcum AS (SELECT l_returnflag, pc,
        |   sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY pc) AS cum,
        |   sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM pf),
        | m AS (SELECT l_returnflag,
        |   min(CASE WHEN cum >= (tot + 1) // 2 THEN pc END)
        |   + min(CASE WHEN cum >= (tot + 2) // 2 THEN pc END) AS med2
        |  FROM pcum GROUP BY 1),
        | d AS (SELECT b.l_returnflag, abs(b.pc * 2 - med2) AS dev2
        |  FROM base b JOIN m USING (l_returnflag)),
        | df AS (SELECT l_returnflag, dev2, count(*) AS cnt FROM d GROUP BY 1, 2),
        | dcum AS (SELECT l_returnflag, dev2,
        |   sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY dev2) AS cum,
        |   sum(cnt) OVER (PARTITION BY l_returnflag) AS tot FROM df),
        | md AS (SELECT l_returnflag,
        |   min(CASE WHEN cum >= (tot + 1) // 2 THEN dev2 END)
        |   + min(CASE WHEN cum >= (tot + 2) // 2 THEN dev2 END) AS mad4
        |  FROM dcum GROUP BY 1)
        |SELECT df.l_returnflag, CAST(sum(cnt) AS BIGINT) AS n,
        | round(max(med2) / 200.0, 4) AS median_price,
        | round(max(mad4) / 400.0, 4) AS mad,
        | CAST(sum(CASE WHEN dev2 * 2 > 3 * 1.4826 * mad4 THEN cnt ELSE 0 END) AS BIGINT) AS n_outliers,
        | round(sum(CASE WHEN dev2 * 2 > 3 * 1.4826 * mad4 THEN cnt ELSE 0 END) * 100.0 / sum(cnt), 4) AS outlier_pct
        |FROM df JOIN md USING (l_returnflag) JOIN m USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "lake_retention_ladder" ->
      """WITH c AS (SELECT o_orderkey // 100 AS commit_id,
        |   max(CAST(o_orderdate AS DATE)) AS commit_day
        |  FROM orders GROUP BY 1),
        | h AS (SELECT max(commit_id) AS head_id, max(commit_day) AS head_day FROM c),
        | e AS (SELECT commit_id, commit_day,
        |   CAST(date_diff('day', commit_day, head_day) AS BIGINT) AS age_days,
        |   commit_id = max(commit_id) OVER (PARTITION BY commit_day) AS last_of_day,
        |   commit_id = max(commit_id) OVER (PARTITION BY date_trunc('week', commit_day)) AS last_of_week,
        |   head_id FROM c, h)
        |SELECT commit_id, strftime(commit_day, '%Y-%m-%d') AS commit_day, age_days,
        | CASE WHEN commit_id > head_id - 20 THEN '1_keep_recent'
        |      WHEN age_days <= 30 AND last_of_day THEN '2_keep_daily'
        |      WHEN age_days > 30 AND last_of_week THEN '3_keep_weekly'
        |      ELSE '4_expire' END AS decision
        |FROM e ORDER BY commit_id""".stripMargin,

    "q57_native_topk" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rk
        | FROM orders)
        |SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM r WHERE rk <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,

    "ev_ab_test" ->
      """WITH pu AS (SELECT user_id, user_id % 2 AS variant,
        |   CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
        |        THEN 1 ELSE 0 END AS converted
        |  FROM events GROUP BY 1),
        | v AS (SELECT variant, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
        |  FROM pu GROUP BY 1),
        | w AS (SELECT
        |   max(CASE WHEN variant = 0 THEN n END) AS n_a,
        |   max(CASE WHEN variant = 0 THEN conv END) AS conv_a,
        |   max(CASE WHEN variant = 1 THEN n END) AS n_b,
        |   max(CASE WHEN variant = 1 THEN conv END) AS conv_b FROM v),
        | s AS (SELECT *, conv_a * 1.0 / n_a AS ra, conv_b * 1.0 / n_b AS rb,
        |   (conv_a + conv_b) * 1.0 / (n_a + n_b) AS pooled FROM w)
        |SELECT n_a, conv_a, n_b, conv_b,
        | round(ra, 6) AS rate_a, round(rb, 6) AS rate_b,
        | CASE WHEN pooled > 0.0 AND pooled < 1.0
        |   THEN round((ra - rb) / sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b)), 6)
        | END AS z_stat,
        | CASE WHEN pooled > 0.0 AND pooled < 1.0
        |   THEN abs(round((ra - rb) / sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b)), 6)) > 1.96
        | END AS significant_95
        |FROM s""".stripMargin,

    "lake_stats_freshness" ->
      """WITH wc AS (SELECT o_orderkey // 100 AS commit_id, o_orderdate FROM orders),
        | pin AS (SELECT max(commit_id) - 30 AS stats_commit FROM wc)
        |SELECT strftime(o_orderdate, '%Y-%m') AS part_month,
        | count(*) AS rows_total,
        | CAST(sum(CASE WHEN commit_id > stats_commit THEN 1 ELSE 0 END) AS BIGINT) AS rows_since_stats,
        | round(sum(CASE WHEN commit_id > stats_commit THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS stale_pct,
        | sum(CASE WHEN commit_id > stats_commit THEN 1 ELSE 0 END) * 100.0 / count(*) > 20.0 AS needs_analyze
        |FROM wc, pin GROUP BY part_month ORDER BY part_month""".stripMargin,

    "text_char_langid" ->
      s"""WITH tok AS (SELECT doc_id, lang, unnest($tokSql) AS token FROM documents),
        | tc0 AS (SELECT doc_id, lang, token, count(*) AS c FROM tok GROUP BY 1, 2, 3),
        | vt AS (SELECT token,
        |   unnest(list_transform(generate_series(1, length(token) - 2), i -> substring(token, CAST(i AS INT), 3))) AS tri
        |  FROM (SELECT DISTINCT token FROM tok) WHERE length(token) >= 3),
        | dtc AS (SELECT doc_id, lang, tri, sum(c) AS tc FROM tc0 JOIN vt USING (token) GROUP BY 1, 2, 3),
        | prof AS (SELECT lang AS plang, tri FROM (
        |   SELECT lang, tri, CAST(sum(tc) AS BIGINT) AS c,
        |    row_number() OVER (PARTITION BY lang ORDER BY CAST(sum(tc) AS BIGINT) DESC, tri) AS rk
        |   FROM dtc GROUP BY lang, tri) p WHERE rk <= 20),
        | m AS (SELECT doc_id, lang, plang, count(*) AS mt FROM dtc JOIN prof USING (tri) GROUP BY 1, 2, 3),
        | pred AS (SELECT doc_id, lang, plang FROM (
        |   SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY mt DESC, plang) AS rk FROM m) x
        |  WHERE rk = 1)
        |SELECT lang AS true_lang, plang AS pred_lang, count(*) AS n
        |FROM pred GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q58_percentile_disc" ->
      """WITH f AS (SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        | w AS (SELECT l_returnflag, l_quantity,
        |   sum(c) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   sum(c) OVER (PARTITION BY l_returnflag) AS tot FROM f)
        |SELECT l_returnflag,
        | min(CASE WHEN cum >= tot * 0.25 THEN l_quantity END) AS p25_disc,
        | min(CASE WHEN cum >= tot * 0.5 THEN l_quantity END) AS p50_disc,
        | min(CASE WHEN cum >= tot * 0.75 THEN l_quantity END) AS p75_disc,
        | CAST(max(tot) AS BIGINT) AS n
        |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q59_customer_growth" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        | fm AS (SELECT month, count(*) AS new_customers FROM (
        |   SELECT o_custkey, min(strftime(o_orderdate, '%Y-%m')) AS month
        |   FROM orders GROUP BY 1) GROUP BY month),
        | j AS (SELECT m.month, m.n_orders, coalesce(fm.new_customers, 0) AS new_customers
        |  FROM m LEFT JOIN fm USING (month))
        |SELECT month, n_orders, CAST(new_customers AS BIGINT) AS new_customers,
        | CAST(sum(new_customers) OVER (ORDER BY month
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_customers
        |FROM j ORDER BY month""".stripMargin,

    "q60_feature_scaling" ->
      """WITH s AS (SELECT o_orderpriority, min(o_totalprice) AS lo, max(o_totalprice) AS hi,
        |   avg(o_totalprice) AS mu, stddev_pop(o_totalprice) AS sigma
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o.o_orderpriority, round(o_totalprice, 2) AS o_totalprice,
        | CASE WHEN hi > lo THEN round((o_totalprice - lo) / (hi - lo), 6) END AS minmax,
        | CASE WHEN sigma > 0.0 THEN round((o_totalprice - mu) / sigma, 6) END AS zscore
        |FROM orders o JOIN s ON o.o_orderpriority = s.o_orderpriority
        |ORDER BY o_orderkey""".stripMargin,

    "ev_forecast_backtest" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
        | d2 AS (SELECT day, n, CAST(isodow(day) - 1 AS BIGINT) AS dow FROM daily),
        | sp AS (SELECT max(day) - 7 AS cutoff FROM daily),
        | model AS (SELECT dow, avg(n) AS predicted FROM d2, sp WHERE day <= cutoff GROUP BY 1)
        |SELECT dow, count(*) AS n_days,
        | round(avg(predicted), 6) AS predicted,
        | round(avg(n), 6) AS actual,
        | round(avg(abs(n - predicted)), 6) AS mae,
        | round(avg(abs(n - predicted) / n * 100.0), 6) AS mape_pct
        |FROM d2 JOIN model USING (dow), sp WHERE day > cutoff
        |GROUP BY dow ORDER BY dow""".stripMargin,

    "dedup_lsh_tuning" -> {
      val mcols = (0 until Dedup.MinhashK).map(k => s"m$k").mkString(", ")
      val configs = Seq(2, 4, 8)
      val perConfig = configs.map { r =>
        val b = Dedup.MinhashK / r
        val bandUnion = (0 until b).map { bi =>
          val keyCols = (bi * r until (bi + 1) * r).map(k => s"m$k").mkString(", ")
          s"SELECT sigkey, gn, $bi AS band, concat_ws(',', $keyCols) AS bkey FROM g2"
        }.mkString("\n   UNION ALL ")
        s""" bands_$r AS (
           |  $bandUnion),
           | cand_$r AS (SELECT DISTINCT x.sigkey AS sa, y.sigkey AS sb, x.gn AS ga, y.gn AS gb
           |  FROM bands_$r x JOIN bands_$r y
           |    ON x.band = y.band AND x.bkey = y.bkey AND x.sigkey < y.sigkey),
           | res_$r AS (SELECT CAST($r AS BIGINT) AS band_rows, CAST($b AS BIGINT) AS n_bands,
           |   round(power(1.0 / $b, 1.0 / $r), 6) AS s_curve_threshold,
           |   (SELECT count(*) FROM cand_$r) AS cross_groups,
           |   CAST((SELECT coalesce(sum(ga * gb), 0) FROM cand_$r) + intra_docs AS BIGINT) AS candidate_doc_pairs
           |  FROM i)""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS (SELECT DISTINCT doc_id, unnest($tokSql) AS token FROM documents),
        | vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS tid
        |           FROM (SELECT DISTINCT token FROM tok)),
        | tt AS (SELECT doc_id, tid FROM tok JOIN vocab USING (token)),
        | sig AS (SELECT doc_id, $minhashSigSql FROM tt GROUP BY doc_id),
        | g AS (SELECT $mcols, count(*) AS gn FROM sig GROUP BY $mcols),
        | g2 AS (SELECT *, concat_ws(',', $mcols) AS sigkey FROM g),
        | i AS (SELECT CAST(sum(gn * (gn - 1)) / 2 AS BIGINT) AS intra_docs FROM g),
        |$perConfig
        |SELECT * FROM res_2 UNION ALL SELECT * FROM res_4 UNION ALL SELECT * FROM res_8
        |ORDER BY band_rows""".stripMargin
    },

    "text_drift" ->
      s"""WITH tok AS (SELECT doc_id % 2 = 0 AS side_a, unnest($tokSql) AS token FROM documents),
        | c AS (SELECT token,
        |   CAST(sum(CASE WHEN side_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |   CAST(sum(CASE WHEN NOT side_a THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM tok GROUP BY 1),
        | t AS (SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |   count(*) AS v FROM c),
        | p AS (SELECT (ca + 1.0) / (na + v) AS pa, (cb + 1.0) / (nb + v) AS pb,
        |   ((ca + 1.0) / (na + v) + (cb + 1.0) / (nb + v)) / 2.0 AS pm, na, nb, v FROM c, t)
        |SELECT max(v) AS vocab, max(na) AS tokens_a, max(nb) AS tokens_b,
        | round(sum(pa * ln(pa / pb)), 6) AS kl_ab,
        | round(sum(pb * ln(pb / pa)), 6) AS kl_ba,
        | round(sum(pa * ln(pa / pm) / 2.0 + pb * ln(pb / pm) / 2.0), 6) AS js_divergence
        |FROM p""".stripMargin,

    "q61_equiheight_histogram" ->
      """WITH e AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
        |   quantile_cont(o_totalprice, 0.5) AS q2,
        |   quantile_cont(o_totalprice, 0.75) AS q3 FROM orders)
        |SELECT CASE WHEN o_totalprice <= q1 THEN 1
        |            WHEN o_totalprice <= q2 THEN 2
        |            WHEN o_totalprice <= q3 THEN 3 ELSE 4 END AS bucket,
        | count(*) AS n_rows,
        | round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi
        |FROM orders, e GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q62_skew_diagnosis" ->
      """WITH ok AS (SELECT count(*) AS ndv, CAST(sum(f) AS BIGINT) AS n_rows, CAST(max(f) AS BIGINT) AS max_freq
        |  FROM (SELECT l_orderkey, count(*) AS f FROM lineitem GROUP BY 1)),
        | pk AS (SELECT count(*) AS ndv, CAST(sum(f) AS BIGINT) AS n_rows, CAST(max(f) AS BIGINT) AS max_freq
        |  FROM (SELECT l_partkey, count(*) AS f FROM lineitem GROUP BY 1)),
        | sk AS (SELECT count(*) AS ndv, CAST(sum(f) AS BIGINT) AS n_rows, CAST(max(f) AS BIGINT) AS max_freq
        |  FROM (SELECT l_suppkey, count(*) AS f FROM lineitem GROUP BY 1)),
        | u AS (
        |  SELECT 'l_orderkey' AS join_key, ndv, n_rows, max_freq FROM ok
        |  UNION ALL SELECT 'l_partkey', ndv, n_rows, max_freq FROM pk
        |  UNION ALL SELECT 'l_suppkey', ndv, n_rows, max_freq FROM sk)
        |SELECT join_key, ndv, n_rows, max_freq,
        | round(max_freq * 100.0 / n_rows, 6) AS top_key_pct,
        | round(max_freq * ndv * 1.0 / n_rows, 6) AS skew_factor
        |FROM u ORDER BY join_key""".stripMargin,

    "ev_path_entropy" ->
      """WITH p AS (SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        | FROM events),
        | c AS (SELECT event_type, next_type, count(*) AS c FROM p
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(c) AS BIGINT) AS n_transitions,
        | count(*) AS n_successors,
        | round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS next_entropy
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev_new_vs_returning" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        | fd AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY 1),
        | j AS (SELECT du.day, du.user_id, fd.first_day FROM du JOIN fd USING (user_id))
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        | count(*) AS active_users,
        | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        | CAST(count(*) - sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users,
        | round(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS new_pct
        |FROM j GROUP BY day ORDER BY day""".stripMargin,

    "lake_commit_cadence" ->
      """WITH c AS (SELECT o_orderkey // 100 AS commit_id,
        |   max(CAST(o_orderdate AS DATE)) AS commit_day
        |  FROM orders GROUP BY 1),
        | g AS (SELECT commit_day,
        |   CAST(date_diff('day', lag(commit_day) OVER (ORDER BY commit_id), commit_day) AS DOUBLE) AS gap_days
        |  FROM c)
        |SELECT CAST(year(commit_day) AS BIGINT) AS commit_year,
        | count(*) AS n_gaps,
        | round(avg(abs(gap_days)), 6) AS mean_abs_gap,
        | round(quantile_cont(abs(gap_days), 0.5), 6) AS median_abs_gap,
        | round(quantile_cont(abs(gap_days), 0.95), 6) AS p95_abs_gap
        |FROM g WHERE gap_days IS NOT NULL
        |GROUP BY 1 ORDER BY commit_year""".stripMargin,

    "q64_benford" -> {
      // Expected percentages injected from the same Scala constants the
      // DataFrame uses — no engine-side log10 whose last ulp could differ.
      val vals = (1 to 9)
        .map(dd => s"($dd, ${math.log10(1.0 + 1.0 / dd) * 100.0})").mkString(", ")
      s"""WITH b AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        | c AS (SELECT digit, count(*) AS n_orders FROM b GROUP BY 1),
        | t AS (SELECT sum(n_orders) AS n_total FROM c),
        | e AS (SELECT CAST(digit AS BIGINT) AS digit, round(expv, 4) AS exp_pct
        |  FROM (VALUES $vals) AS v(digit, expv)),
        | o AS (SELECT c.digit AS digit, n_orders,
        |   round(n_orders * 100.0 / n_total, 4) AS obs_pct, exp_pct
        |  FROM c CROSS JOIN t JOIN e ON c.digit = e.digit)
        |SELECT digit, n_orders, obs_pct, exp_pct,
        | round(obs_pct - exp_pct, 4) AS deviation,
        | round(pow(obs_pct - exp_pct, 2) / exp_pct, 6) AS chi2_contrib
        |FROM o ORDER BY digit""".stripMargin
    },

    "q65_gini" ->
      """WITH rev AS (SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
        |  FROM orders GROUP BY 1),
        | r AS (SELECT rev_c, CAST(row_number() OVER (ORDER BY rev_c) AS BIGINT) AS rk FROM rev),
        | t AS (SELECT count(*) AS n, sum(rev_c) AS tot_c FROM rev)
        |SELECT CAST(max(n) AS BIGINT) AS n_customers,
        | round(sum(rk * rev_c) * 2.0 / (max(n) * 1.0 * max(tot_c)) - (max(n) + 1.0) / max(n), 6) AS gini,
        | round(sum(CASE WHEN rk > n - n // 100 THEN rev_c ELSE 0 END) * 100.0 / max(tot_c), 4) AS top1_share_pct,
        | round(sum(CASE WHEN rk > n - n // 10 THEN rev_c ELSE 0 END) * 100.0 / max(tot_c), 4) AS top10_share_pct
        |FROM r CROSS JOIN t""".stripMargin,

    "ev_feature_lags" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        | w AS (SELECT event_id, user_id,
        |   CAST(row_number() OVER uw AS BIGINT) AS purchase_idx,
        |   round(value, 4) AS value,
        |   round(lag(value, 1) OVER uw, 4) AS lag1_value,
        |   round(lag(value, 2) OVER uw, 4) AS lag2_value,
        |   round(sum(value) OVER (uw ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
        |     / count(*) OVER (uw ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS prev3_mean,
        |   (epoch_us(ts) - lag(epoch_us(ts), 1) OVER uw) // 1000000 AS gap_s
        |  FROM p WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id, purchase_idx, value, lag1_value, lag2_value, prev3_mean, gap_s
        |FROM w ORDER BY user_id, purchase_idx""".stripMargin,

    "q69_weighted_quantiles" ->
      """WITH f AS (SELECT l_returnflag, l_quantity,
        |   sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        | c AS (SELECT l_returnflag, l_quantity,
        |   sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |   sum(w) OVER (PARTITION BY l_returnflag) AS tot FROM f)
        |SELECT l_returnflag,
        | min(CASE WHEN cum * 100 >= tot * 25 THEN l_quantity END) AS wp25,
        | min(CASE WHEN cum * 100 >= tot * 50 THEN l_quantity END) AS wp50,
        | min(CASE WHEN cum * 100 >= tot * 75 THEN l_quantity END) AS wp75,
        | round(max(tot) / 100.0, 2) AS total_weight
        |FROM c GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "ev_burstiness" ->
      """WITH g AS (SELECT user_id,
        |  (epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000 AS gap_s
        | FROM events),
        | a AS (SELECT user_id, count(*) AS n_gaps, sum(gap_s) AS sg, sum(gap_s * gap_s) AS sg2
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1
        |  HAVING count(*) >= 2 AND sum(gap_s) > 0),
        | s AS (SELECT user_id, n_gaps, sg * 1.0 / n_gaps AS mean_gap_s,
        |   sqrt(greatest((sg2 - sg * sg / CAST(n_gaps AS DOUBLE)) / (n_gaps - 1.0), 0.0)) AS std_gap_s
        |  FROM a)
        |SELECT user_id, n_gaps, round(mean_gap_s, 4) AS mean_gap_s, round(std_gap_s, 4) AS std_gap_s,
        | round((std_gap_s - mean_gap_s) / (std_gap_s + mean_gap_s), 6) AS burstiness
        |FROM s ORDER BY user_id""".stripMargin,

    "ev_audience_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        | sz AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        | i AS (SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        | round(n_both * 1.0 / (sa.n + sb.n - n_both), 6) AS jaccard
        |FROM i JOIN sz sa ON i.type_a = sa.event_type JOIN sz sb ON i.type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    "ev_churn_hazard" ->
      """WITH t AS (SELECT user_id,
        |   date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) // 7 AS tenure_wk
        |  FROM events GROUP BY 1),
        | h AS (SELECT tenure_wk, count(*) AS n_churned FROM t GROUP BY 1),
        | c AS (SELECT tenure_wk, n_churned, sum(n_churned) OVER (ORDER BY tenure_wk DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk FROM h)
        |SELECT CAST(tenure_wk AS BIGINT) AS tenure_wk, n_churned,
        | CAST(n_at_risk AS BIGINT) AS n_at_risk,
        | round(n_churned * 1.0 / n_at_risk, 6) AS hazard
        |FROM c ORDER BY tenure_wk""".stripMargin,

    "text_readability" ->
      // 4-dp rounding via the exact integer-scaled rational (see
      // TextAnalysis.readability): decimal-half scores are engine-ambiguous
      // under double round, exact integer division is not.
      s"""WITH r AS (SELECT doc_id,
        |  CAST(len($tokSql) AS BIGINT) AS n_words,
        |  greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1) AS n_sentences,
        |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        | FROM documents),
        | n AS (SELECT *, n_sentences * n_words AS den,
        |   2068350 * n_sentences * n_words - 10150 * n_words * n_words
        |     - 846000 * n_syllables * n_sentences AS fe_num,
        |   3900 * n_words * n_words + 118000 * n_syllables * n_sentences
        |     - 155900 * n_sentences * n_words AS fk_num
        |  FROM r WHERE n_words > 0)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        | CAST(CASE WHEN fe_num >= 0 THEN (2 * fe_num + den) // (2 * den)
        |   ELSE -((2 * -fe_num + den) // (2 * den)) END AS BIGINT) / 10000.0 AS flesch_ease,
        | CAST(CASE WHEN fk_num >= 0 THEN (2 * fk_num + den) // (2 * den)
        |   ELSE -((2 * -fk_num + den) // (2 * den)) END AS BIGINT) / 10000.0 AS fk_grade
        |FROM n ORDER BY doc_id""".stripMargin,

    "text_weighted_sample" ->
      """WITH s AS (SELECT doc_id, n_chars,
        |   ((doc_id % 1000003) * 2654435761 % 10000 + 0.5) / 10000.0 AS u
        |  FROM documents),
        | t AS (SELECT doc_id, n_chars, round(ln(u) / n_chars, 12) AS ares_key FROM s),
        | r AS (SELECT *, CAST(row_number() OVER (ORDER BY ares_key DESC, doc_id) AS BIGINT) AS rk FROM t)
        |SELECT rk, doc_id, n_chars, ares_key FROM r WHERE rk <= 50 ORDER BY rk""".stripMargin,

    // Kaplan–Meier time-to-conversion (signup → first later purchase),
    // hour grain by exact integer epoch-µs division; unconverted users
    // censored at the horizon. S(t) = exp(cumsum of 12dp-rounded log
    // terms), zero-survival latch for the everyone-converts rung.
    "ev_survival" ->
      """WITH mx AS (SELECT max(ts) AS max_ts FROM events),
        | st AS (SELECT user_id, min(ts) AS s_ts FROM events
        |   WHERE event_type = 'signup' GROUP BY 1),
        | cv AS (SELECT st.user_id, min(e.ts) AS c_ts
        |   FROM st JOIN events e ON e.user_id = st.user_id
        |     AND e.event_type = 'purchase' AND e.ts > st.s_ts GROUP BY 1),
        | uu AS (SELECT st.user_id, cv.c_ts IS NOT NULL AS converted,
        |   (epoch_us(coalesce(cv.c_ts, mx.max_ts)) - epoch_us(st.s_ts)) // 3600000000 AS t_hours
        |  FROM st LEFT JOIN cv USING (user_id), mx),
        | h AS (SELECT CAST(t_hours AS BIGINT) AS t_hours, count(*) AS n_total,
        |   CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS n_events
        |  FROM uu GROUP BY 1),
        | r AS (SELECT t_hours, n_total, n_events, n_total - n_events AS n_censored,
        |   sum(n_total) OVER (ORDER BY t_hours DESC
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_at_risk FROM h),
        | s AS (SELECT *, CASE WHEN n_events > 0 AND n_events < n_at_risk
        |     THEN round(ln((n_at_risk - n_events) * 1.0 / n_at_risk), 12)
        |     ELSE 0.0 END AS term,
        |   max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
        |     OVER (ORDER BY t_hours ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM r)
        |SELECT t_hours, CAST(n_at_risk AS BIGINT) AS n_at_risk, n_events,
        | CAST(n_censored AS BIGINT) AS n_censored,
        | CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(sum(term)
        |   OVER (ORDER BY t_hours ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) END AS survival
        |FROM s ORDER BY t_hours""".stripMargin,

    // DSIR importance weights: rank-derived token ids mod 256 buckets,
    // Laplace-smoothed target(en)-vs-raw log ratios (12dp) summed per doc.
    "text_dsir" ->
      s"""WITH t0 AS (SELECT doc_id, lang, unnest($tokSql) AS token FROM documents),
        | v AS (SELECT token,
        |   CAST(row_number() OVER (ORDER BY token) AS BIGINT) % 256 AS bucket
        |  FROM (SELECT DISTINCT token FROM t0)),
        | tc AS (SELECT doc_id, lang, bucket, count(*) AS c
        |  FROM t0 JOIN v USING (token) GROUP BY 1, 2, 3),
        | raw AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cr FROM tc GROUP BY 1),
        | tgt AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS ct FROM tc WHERE lang = 'en' GROUP BY 1),
        | nr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM raw),
        | nt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM tgt),
        | d AS (SELECT raw.bucket,
        |    round(ln((coalesce(tgt.ct, 0) + 1.0) / (nt.nt + 256))
        |        - ln((raw.cr + 1.0) / (nr.nr + 256)), 12) AS delta
        |   FROM raw LEFT JOIN tgt USING (bucket), nr, nt)
        |SELECT tc.doc_id, tc.lang AS lang, CAST(sum(tc.c) AS BIGINT) AS n_tokens,
        | round(sum(tc.c * d.delta), 6) AS log_weight,
        | round(sum(tc.c * d.delta), 6) > 0.0 AS selected
        |FROM tc JOIN d USING (bucket)
        |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    "ev_cohort_retention" ->
      """WITH fw AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort_wk FROM events GROUP BY 1),
        | aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS activity_wk FROM events),
        | sz AS (SELECT cohort_wk, count(*) AS cohort_size FROM fw GROUP BY 1),
        | m AS (SELECT f.cohort_wk AS cwk,
        |   date_diff('day', CAST(f.cohort_wk AS DATE), CAST(a.activity_wk AS DATE)) // 7 AS week_n,
        |   a.user_id AS uid
        |  FROM aw a JOIN fw f USING (user_id))
        |SELECT strftime(cwk, '%Y-%m-%d') AS cohort_wk, CAST(week_n AS BIGINT) AS week_n,
        | sz.cohort_size AS cohort_size, CAST(count(DISTINCT uid) AS BIGINT) AS n_active,
        | round(count(DISTINCT uid) * 100.0 / sz.cohort_size, 4) AS retention_pct
        |FROM m JOIN sz ON m.cwk = sz.cohort_wk
        |GROUP BY cwk, week_n, sz.cohort_size ORDER BY cohort_wk, week_n""".stripMargin,

    "q68_revenue_bridge" ->
      """WITH cm AS (SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS month,
        |   sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
        |  FROM orders GROUP BY 1, 2),
        | pv AS (SELECT o_custkey AS p_custkey,
        |   strftime(CAST(month || '-01' AS DATE) + INTERVAL 1 MONTH, '%Y-%m') AS p_next,
        |   rev_c AS prev_rev_c FROM cm),
        | j AS (SELECT * FROM cm FULL OUTER JOIN pv
        |   ON o_custkey = p_custkey AND month = p_next)
        |SELECT coalesce(month, p_next) AS bridge_month,
        | CAST(sum(CASE WHEN prev_rev_c IS NULL THEN coalesce(rev_c, 0) ELSE 0 END) AS BIGINT) AS new_c,
        | CAST(sum(CASE WHEN rev_c IS NULL THEN coalesce(prev_rev_c, 0) ELSE 0 END) AS BIGINT) AS churned_c,
        | CAST(sum(CASE WHEN rev_c IS NOT NULL AND prev_rev_c IS NOT NULL AND rev_c > prev_rev_c
        |   THEN rev_c - prev_rev_c ELSE 0 END) AS BIGINT) AS expansion_c,
        | CAST(sum(CASE WHEN rev_c IS NOT NULL AND prev_rev_c IS NOT NULL AND rev_c < prev_rev_c
        |   THEN prev_rev_c - rev_c ELSE 0 END) AS BIGINT) AS contraction_c,
        | CAST(sum(CASE WHEN prev_rev_c IS NULL THEN coalesce(rev_c, 0) ELSE 0 END)
        |   - sum(CASE WHEN rev_c IS NULL THEN coalesce(prev_rev_c, 0) ELSE 0 END)
        |   + sum(CASE WHEN rev_c IS NOT NULL AND prev_rev_c IS NOT NULL AND rev_c > prev_rev_c
        |       THEN rev_c - prev_rev_c ELSE 0 END)
        |   - sum(CASE WHEN rev_c IS NOT NULL AND prev_rev_c IS NOT NULL AND rev_c < prev_rev_c
        |       THEN prev_rev_c - rev_c ELSE 0 END) AS BIGINT) AS net_change_c
        |FROM j GROUP BY 1 ORDER BY bridge_month""".stripMargin,

    "lake_column_update_cost" ->
      """WITH pf AS (SELECT l_orderkey % 40 AS file_id,
        |   CAST(sum(68 + length(l_returnflag) + length(l_linestatus)) AS BIGINT) AS bytes,
        |   CAST(sum(CASE WHEN l_orderkey % 100 < 1 THEN 1 ELSE 0 END) AS BIGINT) AS upd1,
        |   CAST(sum(CASE WHEN l_orderkey % 100 < 10 THEN 1 ELSE 0 END) AS BIGINT) AS upd10,
        |   CAST(count(*) AS BIGINT) AS upd100
        |  FROM lineitem GROUP BY 1),
        | b AS (SELECT CAST(sum(bytes) AS BIGINT) AS table_bytes,
        |   CAST(sum(upd1) AS BIGINT) AS upd_rows_1,
        |   CAST(sum(CASE WHEN upd1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS touched_1,
        |   CAST(sum(upd10) AS BIGINT) AS upd_rows_10,
        |   CAST(sum(CASE WHEN upd10 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS touched_10,
        |   CAST(sum(upd100) AS BIGINT) AS upd_rows_100,
        |   CAST(sum(CASE WHEN upd100 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS touched_100
        |  FROM pf),
        | pm AS (SELECT l_orderkey % 100 AS file_id,
        |   CAST(sum(68 + length(l_returnflag) + length(l_linestatus)) AS BIGINT) AS bytes,
        |   CAST(sum(CASE WHEN l_orderkey % 100 < 5 THEN 1 ELSE 0 END) AS BIGINT) AS upd5
        |  FROM lineitem GROUP BY 1),
        | m AS (SELECT CAST(sum(bytes) AS BIGINT) AS m_table_bytes,
        |   CAST(sum(upd5) AS BIGINT) AS m_upd_rows_5,
        |   CAST(sum(CASE WHEN upd5 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS m_touched_5
        |  FROM pm),
        | s AS (
        |  SELECT 'A_small_update_1pct' AS scenario, CAST(40 AS BIGINT) AS num_files,
        |   CAST(1.0 AS DOUBLE) AS update_pct, upd_rows_1 AS updated_rows,
        |   touched_1 AS files_touched, table_bytes AS full_rewrite_bytes FROM b
        |  UNION ALL SELECT 'B_partial_update_10pct', 40, CAST(10.0 AS DOUBLE),
        |   upd_rows_10, touched_10, table_bytes FROM b
        |  UNION ALL SELECT 'C_full_table_100pct', 40, CAST(100.0 AS DOUBLE),
        |   upd_rows_100, touched_100, table_bytes FROM b
        |  UNION ALL SELECT 'D_medium_table_5pct', 100, CAST(5.0 AS DOUBLE),
        |   m_upd_rows_5, m_touched_5, m_table_bytes FROM m)
        |SELECT scenario, num_files, update_pct, updated_rows, files_touched,
        | full_rewrite_bytes, CAST(2 AS BIGINT) AS full_rewrite_io_ops,
        | CAST(updated_rows * 8 + 200 AS BIGINT) AS column_update_bytes,
        | CAST(3 AS BIGINT) AS column_update_io_ops,
        | round((full_rewrite_bytes + 2 * 4096) * 1.0
        |   / (updated_rows * 8 + 200 + 3 * 4096), 4) AS speedup_model,
        | round((full_rewrite_bytes - (updated_rows * 8 + 200)) * 100.0
        |   / full_rewrite_bytes, 4) AS bytes_saved_pct,
        | CAST(-50.0 AS DOUBLE) AS io_reduction_pct
        |FROM s ORDER BY scenario""".stripMargin,

    "lake_fetch_latency" ->
      """WITH f AS (SELECT l_orderkey % 40 AS file_id,
        |   row_number() OVER (PARTITION BY l_orderkey % 40
        |                      ORDER BY l_orderkey, l_linenumber) - 1 AS pos
        |  FROM lineitem),
        | fr AS (SELECT file_id, pos % 97 AS wave, count(*) AS n_deletes
        |  FROM f WHERE pos % 97 < 5 GROUP BY 1, 2),
        | c AS (SELECT CAST(count(*) AS BIGINT) AS n_objects,
        |   CAST(coalesce(sum(n_deletes * 4 + 100), 0) AS BIGINT) AS dv_bytes FROM fr),
        | l AS (SELECT unnest([1, 10, 25, 50, 100]) AS threads)
        |SELECT CAST(threads AS BIGINT) AS threads, n_objects, dv_bytes,
        | CAST(ceil(n_objects * 1.0 / threads) AS BIGINT) AS fetch_rounds,
        | CAST(ceil(n_objects * 1.0 / threads) AS BIGINT) * 55 AS fetch_ms,
        | CASE WHEN n_objects > 0
        |   THEN round((n_objects - CAST(ceil(n_objects * 1.0 / threads) AS BIGINT))
        |     * 100.0 / n_objects, 4)
        |   ELSE CAST(0.0 AS DOUBLE) END AS reduction_vs_sequential_pct,
        | round(CAST(ceil(n_objects * 1.0 / threads) AS BIGINT) * 55 / 55.0, 4)
        |   AS speedup_vs_inline_x
        |FROM l, c ORDER BY threads""".stripMargin,

    "lake_inline_budget" ->
      """WITH pf AS (SELECT l_orderkey % 40 AS file_id,
        |   CAST(count(*) * 4 + 100 AS BIGINT) AS blob_bytes
        |  FROM lineitem WHERE (l_orderkey * 31 + l_linenumber) % 10 = 3 GROUP BY 1),
        | c AS (SELECT file_id, CAST(sum(blob_bytes) OVER (ORDER BY file_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes
        |  FROM pf),
        | t AS (SELECT * FROM (VALUES ('1_inline_4kb', 4096), ('2_page_64kb', 65536),
        |   ('3_region_half_1mb', 1048576), ('4_external_10mb', 10485760))
        |   AS v(threshold_label, threshold_bytes))
        |SELECT threshold_label, CAST(threshold_bytes AS BIGINT) AS threshold_bytes,
        | CAST(sum(CASE WHEN cum_bytes <= threshold_bytes THEN 1 ELSE 0 END) AS BIGINT)
        |   AS files_within_budget,
        | CAST(coalesce(min(CASE WHEN cum_bytes > threshold_bytes THEN file_id END), -1)
        |   AS BIGINT) AS crossing_file_id,
        | CAST(coalesce(min(CASE WHEN cum_bytes > threshold_bytes THEN cum_bytes END), 0)
        |   AS BIGINT) AS cum_bytes_at_crossing,
        | coalesce(min(CASE WHEN cum_bytes > threshold_bytes THEN file_id END), -1) >= 0
        |   AS crossed
        |FROM c CROSS JOIN t
        |GROUP BY 1, 2 ORDER BY threshold_label""".stripMargin,

    "lake_health_report" ->
      s"""WITH d AS ($fileModelSql),
        | frags AS (SELECT file_id, pos % 97 AS wave, count(*) AS n_deletes
        |   FROM d WHERE pos % 97 < 5 GROUP BY 1, 2),
        | sf AS (SELECT file_id, count(*) AS n_fragments,
        |    CAST(sum(n_deletes) AS BIGINT) AS total_deletes,
        |    CAST(sum(n_deletes * 4 + 100) AS BIGINT) AS fragmented_bytes
        |   FROM frags GROUP BY 1),
        | storm AS (SELECT CAST(count(*) AS DOUBLE) AS files_hit,
        |    CAST(sum(n_fragments) AS DOUBLE) AS total_fragments,
        |    CAST(max(round(fragmented_bytes * 1.0 / (total_deletes * 4 + 100), 6)) AS DOUBLE)
        |      AS max_amplification
        |   FROM sf),
        | pf AS (SELECT l_orderkey % 40 AS file_id, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 = 3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS pos_del
        |   FROM lineitem GROUP BY 1),
        | cum AS (SELECT file_id, CAST(sum(pos_del * 4 + 100) OVER (ORDER BY file_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_bytes
        |   FROM pf WHERE pos_del > 0),
        | gc AS (SELECT CAST((CASE WHEN max(cum_bytes) > 4096 THEN 1 ELSE 0 END)
        |     + (CASE WHEN max(cum_bytes) > 65536 THEN 1 ELSE 0 END)
        |     + (CASE WHEN max(cum_bytes) > 1048576 THEN 1 ELSE 0 END)
        |     + (CASE WHEN max(cum_bytes) > 10485760 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS thresholds_crossed,
        |    CAST(sum(CASE WHEN cum_bytes <= 4096 THEN 1 ELSE 0 END) AS DOUBLE)
        |      AS files_within_4kb
        |   FROM cum),
        | dens AS (SELECT CAST(count(*) AS DOUBLE) AS total_mdvs,
        |    CAST(sum(CASE WHEN dvb <= 4096 THEN 1 ELSE 0 END) AS DOUBLE) AS inlined_count,
        |    CAST(sum(CASE WHEN dvb > 4096 THEN 1 ELSE 0 END) AS DOUBLE) AS spilled_count,
        |    CAST(sum(dvb) AS DOUBLE) AS total_mdv_bytes
        |   FROM (SELECT least(pos_del * 4, CAST(ceil(n_rows / 8.0) AS BIGINT)) AS dvb FROM pf)),
        | dvres AS (SELECT CAST(count(*) * 16 AS DOUBLE) AS eq_bytes,
        |    CAST(sum(pos_del) * 4 AS DOUBLE) AS pos_bytes FROM pf)
        |SELECT 'delete_storm' AS benchmark, 'completed' AS status,
        |  'files_hit' AS metric, files_hit AS value FROM storm
        |UNION ALL SELECT 'delete_storm', 'completed', 'total_fragments', total_fragments FROM storm
        |UNION ALL SELECT 'delete_storm', 'completed', 'max_amplification', max_amplification FROM storm
        |UNION ALL SELECT 'gc_cliff', 'completed', 'thresholds_crossed', thresholds_crossed FROM gc
        |UNION ALL SELECT 'gc_cliff', 'completed', 'files_within_4kb', files_within_4kb FROM gc
        |UNION ALL SELECT 'density_adaptive_policy', 'completed', 'total_mdvs', total_mdvs FROM dens
        |UNION ALL SELECT 'density_adaptive_policy', 'completed', 'inlined_count', inlined_count FROM dens
        |UNION ALL SELECT 'density_adaptive_policy', 'completed', 'spilled_count', spilled_count FROM dens
        |UNION ALL SELECT 'density_adaptive_policy', 'completed', 'total_mdv_bytes', total_mdv_bytes FROM dens
        |UNION ALL SELECT 'dv_resolution', 'completed', 'eq_bytes', eq_bytes FROM dvres
        |UNION ALL SELECT 'dv_resolution', 'completed', 'pos_bytes', pos_bytes FROM dvres
        |UNION ALL SELECT 'dv_resolution', 'completed', 'memory_reduction_pct',
        |  round((pos_bytes - eq_bytes) * 100.0 / pos_bytes, 4) FROM dvres
        |ORDER BY benchmark, metric""".stripMargin,

    "lake_eq_write_cost" ->
      """WITH pf AS (SELECT l_orderkey % 40 AS file_id, count(*) AS n_rows,
        |    CAST(sum(CASE WHEN l_partkey % 50 = 7 THEN 1 ELSE 0 END) AS BIGINT) AS del_rows
        |   FROM lineitem GROUP BY 1),
        | s AS (SELECT
        |    CAST(sum(CASE WHEN del_rows > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_touched,
        |    CAST(sum(CASE WHEN del_rows > 0 THEN n_rows * 100 ELSE 0 END) AS BIGINT) AS touched_bytes,
        |    CAST(sum(CASE WHEN del_rows > 0 THEN (n_rows - del_rows) * 100 ELSE 0 END) AS BIGINT)
        |      AS survivor_bytes,
        |    CAST(sum(del_rows * 8) AS BIGINT) AS pos_dv_bytes,
        |    CAST(sum(del_rows * 100) AS BIGINT) AS deleted_bytes
        |   FROM pf),
        | k AS (SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys
        |   FROM lineitem WHERE l_partkey % 50 = 7),
        | u AS (
        |  SELECT '1_copy_on_write' AS strategy, files_touched AS files_read,
        |    touched_bytes AS bytes_read, files_touched AS files_written,
        |    survivor_bytes AS bytes_written, files_touched * 2 AS io_ops, deleted_bytes
        |   FROM s, k
        |  UNION ALL
        |  SELECT '2_mor_positional', files_touched, touched_bytes, files_touched,
        |    pos_dv_bytes, files_touched * 2, deleted_bytes FROM s, k
        |  UNION ALL
        |  SELECT '3_mor_equality', 0, 0, 1, n_keys * 16, 1, deleted_bytes FROM s, k)
        |SELECT strategy, CAST(files_read AS BIGINT) AS files_read,
        | CAST(bytes_read AS BIGINT) AS bytes_read,
        | CAST(files_written AS BIGINT) AS files_written,
        | CAST(bytes_written AS BIGINT) AS bytes_written,
        | CAST(io_ops AS BIGINT) AS io_ops,
        | round(bytes_written * 1.0 / deleted_bytes, 6) AS write_amp
        |FROM u ORDER BY strategy""".stripMargin,

    "lake_dv_strategies" ->
      """WITH r AS (SELECT CAST(nf AS BIGINT) AS num_files
        |   FROM (VALUES (40), (100), (200), (400)) AS v(nf)),
        | pf AS (SELECT num_files, l_orderkey % num_files AS file_id,
        |    CAST(sum(CASE WHEN (l_orderkey * 31 + l_linenumber) % 10 = 3
        |      THEN 1 ELSE 0 END) AS BIGINT) AS del_rows
        |   FROM lineitem CROSS JOIN r GROUP BY 1, 2),
        | s AS (SELECT num_files, count(*) AS files_present,
        |    CAST(sum(CASE WHEN file_id % 10 < 3 THEN 1 ELSE 0 END) AS BIGINT) AS dv_files,
        |    CAST(sum(CASE WHEN file_id % 10 < 3 THEN del_rows ELSE 0 END) AS BIGINT)
        |      AS dv_positions
        |   FROM pf GROUP BY 1)
        |SELECT num_files, CAST(files_present AS BIGINT) AS files_present,
        | dv_files, dv_positions,
        | dv_files * 200 AS hash_mem_bytes,
        | files_present * 8 AS pos_mem_bytes,
        | CASE WHEN dv_files > 0 THEN
        |   round((dv_files * 200 - files_present * 8) * 100.0 / (dv_files * 200), 4)
        |  END AS memory_reduction_pct,
        | files_present * 200 + dv_files * 150 AS manifest_bytes,
        | CAST(2 AS BIGINT) AS separate_requests,
        | CAST(1 AS BIGINT) AS folded_requests,
        | CAST(50.0 AS DOUBLE) AS io_reduction_pct,
        | CAST(files_present AS BIGINT) AS ordered_entries,
        | dv_files AS unordered_entries,
        | files_present - dv_files AS null_entries,
        | CASE WHEN dv_files > 0 THEN
        |   round((files_present - dv_files) * 100.0 / dv_files, 4)
        |  END AS write_overhead_pct
        |FROM s ORDER BY num_files""".stripMargin,

    "lake_bucket_pruning" ->
      """WITH bs AS (SELECT l_partkey % 16 AS bucket_id, count(*) AS bucket_rows
        |  FROM lineitem GROUP BY 1),
        | t AS (SELECT count(*) AS total_rows FROM lineitem),
        | p AS (SELECT l_partkey AS probe_key, count(*) AS match_rows,
        |   CAST(count(DISTINCT l_orderkey % 16) AS BIGINT) AS unbucketed_files_w_key
        |  FROM lineitem WHERE l_partkey <= 10 GROUP BY 1)
        |SELECT probe_key, probe_key % 16 AS bucket_id, match_rows,
        | CAST(1 AS BIGINT) AS bucketed_files_scanned,
        | bucket_rows AS bucketed_rows_scanned,
        | CAST(16 AS BIGINT) AS unbucketed_files_scanned,
        | total_rows AS unbucketed_rows_scanned,
        | unbucketed_files_w_key,
        | round(bucket_rows * 1.0 / match_rows, 4) AS bucketed_amplification,
        | round(total_rows * 1.0 / match_rows, 4) AS unbucketed_amplification
        |FROM p JOIN bs ON p.probe_key % 16 = bs.bucket_id CROSS JOIN t
        |ORDER BY probe_key""".stripMargin,

    "lake_partition_skew" ->
      """WITH p AS (SELECT strftime(l_shipdate, '%Y-%m') AS part_month,
        |   count(*) * 100 AS part_bytes FROM lineitem GROUP BY 1),
        | s AS (SELECT sum(part_bytes) AS tot_bytes, count(*) AS n_parts,
        |   max(part_bytes) AS max_bytes FROM p)
        |SELECT part_month, CAST(part_bytes AS BIGINT) AS part_bytes,
        | round(part_bytes * 100.0 / tot_bytes, 4) AS pct_of_total,
        | round(part_bytes * n_parts * 1.0 / tot_bytes, 4) AS ratio_to_avg,
        | part_bytes * 2 > max_bytes AS near_hottest,
        | part_bytes * n_parts > tot_bytes * 2 AS is_hot
        |FROM p CROSS JOIN s ORDER BY part_month""".stripMargin,

    "knn_filtered" ->
      s"""WITH $embPrepSql,
        | q AS (SELECT vec_id AS q_id, label, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        | s AS (SELECT q_id, CAST(label AS BIGINT) AS label, vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM n JOIN q USING (label) WHERE vec_id <> q_id),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk FROM s)
        |SELECT q_id, label, neighbor_id, rk, cos FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin,

    "mm_source_mix" ->
      """WITH s AS (SELECT source, count(*) AS n_docs, sum(n_chars) AS src_bytes
        |  FROM documents GROUP BY 1),
        | m AS (SELECT min(src_bytes) AS min_bytes FROM s),
        | r AS (SELECT source, least(100, (min_bytes * 100) // src_bytes) AS rate_pct
        |  FROM s CROSS JOIN m),
        | k AS (SELECT d.source, d.n_chars, rate_pct,
        |   ((d.doc_id % 1000003) * 2654435761 % 100 < rate_pct) AS kept
        |  FROM documents d JOIN r USING (source))
        |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS src_bytes,
        | CAST(max(rate_pct) AS BIGINT) AS rate_pct,
        | CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
        | CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_bytes,
        | round(sum(CASE WHEN kept THEN n_chars ELSE 0 END) * 100.0 / sum(n_chars), 4) AS achieved_pct
        |FROM k GROUP BY source ORDER BY source""".stripMargin,

    "q66_decile_lift" ->
      """WITH rev AS (SELECT o_custkey, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_c
        |  FROM orders GROUP BY 1),
        | r AS (SELECT rev_c, CAST(row_number() OVER (ORDER BY -rev_c) AS BIGINT) AS rk FROM rev),
        | t AS (SELECT count(*) AS n, sum(rev_c) AS tot_c FROM rev),
        | d AS (SELECT ((rk - 1) * 10) // n + 1 AS decile, count(*) AS n_customers,
        |   sum(rev_c) AS decile_rev_c, max(tot_c) AS tot_c, max(n) AS n_total
        |  FROM r CROSS JOIN t GROUP BY 1),
        | c AS (SELECT *, sum(decile_rev_c) OVER (ORDER BY decile
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_c FROM d)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        | round(decile_rev_c * 100.0 / tot_c, 4) AS share_pct,
        | round(cum_rev_c * 100.0 / tot_c, 4) AS cum_share_pct,
        | round(decile_rev_c * n_total * 1.0 / (tot_c * n_customers), 4) AS lift
        |FROM c ORDER BY decile""".stripMargin,

    "ev_markov_steady" -> {
      // Generated from the same alphabet/constants as Events.markovSteady —
      // fixed-order weighted sums so both engines run identical double ops.
      val types = Events.EventTypes
      val inList = types.map(t => s"'$t'").mkString(", ")
      val cellSums = (for { i <- types; j <- types } yield
        s"CAST(sum(CASE WHEN event_type = '$i' AND nxt = '$j' THEN 1 ELSE 0 END) AS BIGINT) AS n_${i}_$j")
        .mkString(", ")
      val rowSums = types
        .map(i => s"CAST(sum(CASE WHEN event_type = '$i' THEN 1 ELSE 0 END) AS BIGINT) AS n_$i")
        .mkString(", ")
      val p0 = types.map(t => s"${1.0 / types.size} AS p0_$t").mkString(", ")
      val iters = (1 to 8).map { k =>
        val ps = types.map { j =>
          types.map(i =>
            s"(CASE WHEN n_$i > 0 THEN p${k - 1}_$i * n_${i}_$j / n_$i ELSE ${if (i == j) s"p${k - 1}_$i" else "0.0"} END)")
            .mkString(" + ") + s" AS p${k}_$j"
        }.mkString(", ")
        s"it$k AS (SELECT *, $ps FROM it${k - 1})"
      }.mkString(",\n ")
      val finalRows = types.map(t =>
        s"SELECT '$t' AS event_type, n_$t AS n_out, round(p8_$t * 100, 6) AS steady_pct FROM it8")
        .mkString("\n UNION ALL ")
      s"""WITH pr AS (SELECT event_type,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        | pp AS (SELECT * FROM pr WHERE nxt IS NOT NULL
        |   AND event_type IN ($inList) AND nxt IN ($inList)),
        | mtx AS (SELECT $cellSums, $rowSums FROM pp),
        | it0 AS (SELECT *, $p0 FROM mtx),
        | $iters
        |$finalRows
        |ORDER BY event_type""".stripMargin
    },

    "knn_probe_sweep" ->
      s"""WITH $embPrepSql,
        | ex0 AS (SELECT vec_id, label, unnest(list_transform(v, (x, i) -> {'pos': i, 'x': x})) AS px FROM b),
        | ce AS (SELECT label AS cell, px.pos AS pos, round(avg(px.x), 9) AS c FROM ex0 GROUP BY 1, 2),
        | cvt AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM ce GROUP BY 1),
        | cnn AS (SELECT cell, cvec,
        |   sqrt(list_reduce(list_transform(cvec, x -> x * x), (a, c2) -> a + c2)) AS cn FROM cvt),
        | asg AS (SELECT vec_id, v, nrm, cell,
        |   row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell) AS rk FROM (
        |   SELECT n.vec_id, n.v, n.nrm, cnn.cell,
        |     round(list_reduce(list_transform(list_zip(n.v, cnn.cvec), z -> z[1] * z[2]), (x, y) -> x + y)
        |           / (n.nrm * cnn.cn), 6) AS cos
        |   FROM n, cnn)),
        | cells AS (SELECT vec_id, v, nrm, cell FROM asg WHERE rk = 1),
        | q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
        | qc AS (SELECT q_id, qv, qn, cell,
        |   row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, cell) AS crk FROM (
        |   SELECT q.q_id, q.qv, q.qn, cnn.cell,
        |     round(list_reduce(list_transform(list_zip(q.qv, cnn.cvec), z -> z[1] * z[2]), (x, y) -> x + y)
        |           / (q.qn * cnn.cn), 6) AS qcos
        |   FROM q, cnn)),
        | prb AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS nprobe),
        | probes AS (SELECT nprobe, q_id, qv, qn, cell FROM qc CROSS JOIN prb WHERE crk <= nprobe),
        | ap AS (SELECT nprobe, q_id, vec_id AS neighbor_id,
        |   row_number() OVER (PARTITION BY nprobe, q_id ORDER BY cos DESC, vec_id) AS rk FROM (
        |   SELECT p2.nprobe, p2.q_id, c2.vec_id,
        |     round(list_reduce(list_transform(list_zip(p2.qv, c2.v), z -> z[1] * z[2]), (x, y) -> x + y)
        |           / (p2.qn * c2.nrm), 6) AS cos
        |   FROM probes p2 JOIN cells c2 USING (cell) WHERE c2.vec_id <> p2.q_id)),
        | apx AS (SELECT nprobe, q_id, neighbor_id FROM ap WHERE rk <= 5),
        | sb AS (SELECT q_id, vec_id AS neighbor_id,
        |   round(list_reduce(list_transform(list_zip(qv, v), z -> z[1] * z[2]), (x, y) -> x + y)
        |         / (qn * nrm), 6) AS cos
        |  FROM n, q WHERE vec_id <> q_id),
        | rb AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neighbor_id) AS rk FROM sb),
        | ex AS (SELECT q_id, neighbor_id FROM rb WHERE rk <= 5),
        | exn AS (SELECT nprobe, q_id, neighbor_id FROM ex CROSS JOIN prb)
        |SELECT exn.nprobe AS nprobe, count(DISTINCT exn.q_id) AS n_queries, count(*) AS expected,
        | CAST(sum(CASE WHEN apx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS recovered,
        | round(sum(CASE WHEN apx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS recall_pct
        |FROM exn LEFT JOIN apx ON exn.nprobe = apx.nprobe AND exn.q_id = apx.q_id
        |  AND exn.neighbor_id = apx.neighbor_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "mm_frame_dedup" ->
      """WITH d AS (SELECT doc_id, text,
        |   CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames
        |  FROM documents WHERE doc_id < 100 AND length(text) > 0),
        | f AS (SELECT doc_id, substring(text, CAST(frame_idx * 16 + 1 AS INT), 16) AS frame
        |  FROM (SELECT doc_id, text, unnest(range(0, n_frames)) AS frame_idx FROM d)),
        | g AS (SELECT frame, count(*) AS n_frames, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |   min(doc_id) AS first_doc, max(doc_id) AS last_doc FROM f GROUP BY 1)
        |SELECT frame, CAST(length(frame) AS BIGINT) AS frame_len,
        | CAST(list_sum(list_transform(string_split(frame, ''), c -> ascii(c))) AS BIGINT) AS checksum,
        | n_frames, n_docs, first_doc, last_doc
        |FROM g WHERE n_frames > 1 ORDER BY frame""".stripMargin,

    "dedup_incremental" ->
      s"""WITH $minhashCtes,
        | hits0 AS (SELECT doc_a, doc_b, round(e, 6) AS est FROM mh_pairs WHERE e >= 0.9),
        | inc AS (SELECT CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_id, est
        |  FROM hits0 WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)),
        | agg AS (SELECT doc_id, count(*) AS nm, max(est) AS be FROM inc GROUP BY 1)
        |SELECT d.doc_id AS doc_id, coalesce(nm, 0) AS n_matches,
        | coalesce(be, 0.0) AS best_est, (nm IS NOT NULL) AS is_dup
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
        |LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY doc_id""".stripMargin,

    "lake_sort_key_choice" ->
      """WITH g AS (SELECT
        |   date_diff('day', DATE '1970-01-01', CAST(min(l_shipdate) AS DATE)) AS dmin,
        |   date_diff('day', DATE '1970-01-01', CAST(max(l_shipdate) AS DATE)) AS dmax,
        |   min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |   min(l_orderkey) AS omin, max(l_orderkey) AS omax
        |  FROM lineitem),
        | rows0 AS (SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
        |   l_partkey, l_orderkey FROM lineitem),
        | fl AS (
        |  SELECT '1_shipdate' AS sort_key,
        |   least(CAST(floor((d - dmin) * 40.0 / (dmax - dmin + 1)) AS BIGINT), 39) AS file_id, d
        |  FROM rows0, g
        |  UNION ALL SELECT '2_orderkey',
        |   least(CAST(floor((l_orderkey - omin) * 40.0 / (omax - omin + 1)) AS BIGINT), 39), d
        |  FROM rows0, g
        |  UNION ALL SELECT '3_partkey',
        |   least(CAST(floor((l_partkey - pmin) * 40.0 / (pmax - pmin + 1)) AS BIGINT), 39), d
        |  FROM rows0, g),
        | f AS (SELECT sort_key, file_id, min(d) AS fmin, max(d) AS fmax FROM fl GROUP BY 1, 2),
        | k AS (SELECT sort_key,
        |   (fmax < date_diff('day', DATE '1970-01-01', DATE '1997-01-01')
        |    OR fmin > date_diff('day', DATE '1970-01-01', DATE '1997-03-31')) AS skipped,
        |   fmax - fmin AS span_days, g.dmax - g.dmin AS dom_days
        |  FROM f, g)
        |SELECT sort_key, count(*) AS files_total,
        | CAST(sum(CASE WHEN skipped THEN 1 ELSE 0 END) AS BIGINT) AS files_skipped,
        | round(sum(CASE WHEN skipped THEN 1 ELSE 0 END) * 100.0 / count(*), 4) AS skip_rate_pct,
        | round(sum(span_days) * 100.0 / (count(*) * max(dom_days)), 4) AS avg_span_pct
        |FROM k GROUP BY sort_key ORDER BY sort_key""".stripMargin,

    "ev_behavior_knn" -> {
      val types = Events.EventTypes
      val counts = types
        .map(t => s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS c_$t")
        .mkString(", ")
      def dotStr(a: String, b: String) = types.map(t => s"${a}_$t * ${b}_$t").mkString(" + ")
      s"""WITH p AS (SELECT user_id, $counts FROM events GROUP BY 1),
        | q AS (SELECT user_id AS q_user,
        |   ${types.map(t => s"c_$t AS q_$t").mkString(", ")} FROM p WHERE user_id < 10),
        | s AS (SELECT q_user, p.user_id AS neighbor_user,
        |   round((${dotStr("c", "q")}) /
        |     (sqrt(${dotStr("c", "c")}) * sqrt(${dotStr("q", "q")})), 6) AS cos
        |  FROM p CROSS JOIN q WHERE p.user_id <> q.q_user),
        | r AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_user ORDER BY cos DESC, neighbor_user) AS BIGINT) AS rk FROM s)
        |SELECT q_user, neighbor_user, rk, cos FROM r WHERE rk <= 3
        |ORDER BY q_user, rk""".stripMargin
    },

    "ev_seasonal_anomaly" ->
      """WITH h AS (SELECT date_trunc('hour', ts) AS slot, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        | hh AS (SELECT *, dayofweek(slot) AS dow, CAST(hour(slot) AS BIGINT) AS hod FROM h),
        | b AS (SELECT event_type AS et, dow AS bdow, hod AS bhod,
        |   count(*) AS cnt, sum(n) AS sn, sum(n * n) AS sn2
        |  FROM hh GROUP BY 1, 2, 3
        |  HAVING count(*) >= 3 AND count(*) * sum(n * n) > sum(n) * sum(n)),
        | j AS (SELECT hh.slot, hh.event_type, hh.n,
        |   sn * 1.0 / cnt AS mean_n,
        |   (hh.n - sn * 1.0 / cnt) /
        |     sqrt((sn2 - sn * sn / CAST(cnt AS DOUBLE)) / (cnt - 1.0)) AS z
        |  FROM hh JOIN b ON hh.event_type = b.et AND hh.dow = b.bdow AND hh.hod = b.bhod)
        |SELECT strftime(slot, '%Y-%m-%d %H:%M') AS slot, event_type, n,
        | round(mean_n, 4) AS baseline_mean, round(z, 4) AS z
        |FROM j WHERE abs(z) > 2.0
        |ORDER BY slot, event_type""".stripMargin,

    "q67_reorder_cadence" ->
      """WITH g AS (SELECT o_custkey,
        |   date_diff('day', lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey), CAST(o_orderdate AS DATE)) AS gap_days
        |  FROM orders),
        | gg AS (SELECT * FROM g WHERE gap_days IS NOT NULL)
        |SELECT c_mktsegment,
        | CAST(count(DISTINCT o_custkey) AS BIGINT) AS repeat_customers,
        | count(*) AS n_gaps,
        | CAST(min(gap_days) AS BIGINT) AS min_gap_days,
        | CAST(max(gap_days) AS BIGINT) AS max_gap_days,
        | round(avg(gap_days), 4) AS avg_gap_days
        |FROM gg JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "knn_threshold_sweep" ->
      s"""WITH $embPrepSql,
        |$embBandPairCtes,
        | th AS (SELECT CAST(unnest([0.4, 0.45, 0.5, 0.55]) AS DOUBLE) AS threshold),
        | f AS (SELECT threshold, vec_a, vec_b FROM p CROSS JOIN th WHERE cos >= threshold),
        | np AS (SELECT threshold, count(*) AS n_pairs FROM f GROUP BY 1),
        | nd AS (SELECT threshold, CAST(count(DISTINCT vid) AS BIGINT) AS n_docs_linked FROM (
        |   SELECT threshold, vec_a AS vid FROM f UNION ALL SELECT threshold, vec_b FROM f)
        |  GROUP BY 1),
        | tot AS (SELECT count(*) AS n_vecs FROM embeddings)
        |SELECT threshold, coalesce(n_pairs, 0) AS n_pairs,
        | coalesce(n_docs_linked, 0) AS n_docs_linked,
        | round(coalesce(n_docs_linked, 0) * 100.0 / n_vecs, 4) AS pct_linked
        |FROM th LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold) CROSS JOIN tot
        |ORDER BY threshold""".stripMargin,

    "knn_mutual" ->
      s"""WITH $embPrepSql,
        |$embBandPairCtes,
        | hits AS (SELECT vec_a, vec_b, cos FROM p WHERE cos >= ${Dedup.EmbPairFloor}),
        | dir AS (SELECT vec_a AS src, vec_b AS dst, cos FROM hits
        |         UNION ALL SELECT vec_b, vec_a, cos FROM hits),
        | r AS (SELECT src, dst, cos,
        |   CAST(row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS BIGINT) AS rk FROM dir),
        | tk AS (SELECT * FROM r WHERE rk <= 3)
        |SELECT a.src AS vec_a, a.dst AS vec_b, a.cos AS cos, a.rk AS rk_a, b.rk AS rk_b
        |FROM tk a JOIN tk b ON a.src = b.dst AND a.dst = b.src
        |WHERE a.src < a.dst
        |ORDER BY vec_a, vec_b""".stripMargin,

    "text_packing" ->
      """WITH d AS (SELECT doc_id,
        |   CASE WHEN trim(text) = '' THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        | nz AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok FROM d WHERE n_tok > 0),
        | c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id) AS cum FROM nz),
        | s AS (SELECT doc_id, n_tok, CAST(cum - n_tok AS BIGINT) AS st,
        |   CAST(cum - 1 AS BIGINT) AS en FROM c),
        | x AS (SELECT doc_id, st, en, unnest(range(st // 512, en // 512 + 1)) AS seq_id FROM s),
        | t AS (SELECT seq_id,
        |   least(en, (seq_id + 1) * 512 - 1) - greatest(st, seq_id * 512) + 1 AS tok_in_seq,
        |   (st < seq_id * 512 OR en > (seq_id + 1) * 512 - 1) AS split_doc FROM x)
        |SELECT CAST(seq_id AS BIGINT) AS seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(tok_in_seq) AS BIGINT) AS seq_tokens,
        | CAST(sum(CASE WHEN split_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
        | CAST(max(tok_in_seq) AS BIGINT) AS max_doc_tokens
        |FROM t GROUP BY seq_id ORDER BY seq_id""".stripMargin,

    "text_shard_plan" ->
      """WITH d AS (SELECT doc_id,
        |   CASE WHEN trim(text) = '' THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        | e AS (SELECT unnest(range(0, 3)) AS epoch),
        | sh AS (SELECT unnest(range(0, 8)) AS shard),
        | a AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, epoch,
        |   (((doc_id % 1000003) * 2654435761 + epoch * 40503) % 1000003) % 8 AS shard
        |  FROM d CROSS JOIN e),
        | p AS (SELECT doc_id, epoch + 1 AS epoch, shard AS pshard FROM a),
        | j AS (SELECT a.*, p.pshard FROM a
        |   LEFT JOIN p ON a.doc_id = p.doc_id AND a.epoch = p.epoch),
        | cells AS (SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n_docs,
        |   CAST(sum(n_tok) AS BIGINT) AS tokens,
        |   CAST(sum(CASE WHEN pshard = shard THEN 1 END) AS BIGINT) AS stayed_docs
        |  FROM j GROUP BY 1, 2),
        | tot AS (SELECT epoch, CAST(sum(tokens) AS BIGINT) AS etotal FROM cells GROUP BY 1),
        | spine AS (SELECT epoch, shard FROM e CROSS JOIN sh)
        |SELECT CAST(spine.epoch AS BIGINT) AS epoch, CAST(spine.shard AS BIGINT) AS shard,
        | coalesce(n_docs, 0) AS n_docs, coalesce(tokens, 0) AS tokens, stayed_docs,
        | round((CAST(coalesce(tokens, 0) AS DOUBLE) * 8 / etotal - 1.0) * 100.0, 4) AS dev_pct
        |FROM spine LEFT JOIN cells ON spine.epoch = cells.epoch AND spine.shard = cells.shard
        | JOIN tot ON tot.epoch = spine.epoch
        |ORDER BY epoch, shard""".stripMargin,

    "text_mix_plan" ->
      """WITH d AS (SELECT lang,
        |   CASE WHEN trim(text) = '' THEN 0
        |        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
        |  FROM documents),
        | n AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d GROUP BY 1),
        | al AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 1.0]) AS DOUBLE) AS alpha),
        | s AS (SELECT alpha, lang, n_tokens,
        |   CASE WHEN alpha = 1.0 THEN CAST(n_tokens AS DOUBLE)
        |        WHEN alpha = 0.75 THEN sqrt(CAST(n_tokens AS DOUBLE)) * sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
        |        WHEN alpha = 0.5 THEN sqrt(CAST(n_tokens AS DOUBLE))
        |        ELSE sqrt(sqrt(CAST(n_tokens AS DOUBLE))) END AS sv
        |  FROM n CROSS JOIN al),
        | m AS (SELECT alpha, max(sv) AS s_max FROM s GROUP BY 1),
        | qt AS (SELECT s.alpha AS alpha, lang, n_tokens,
        |   CAST(round(sv / s_max * 1e9, 0) AS BIGINT) AS s_q
        |  FROM s JOIN m ON s.alpha = m.alpha),
        | tot AS (SELECT alpha, CAST(sum(s_q) AS BIGINT) AS s_tot,
        |   CAST(sum(n_tokens) AS BIGINT) AS n_tot FROM qt GROUP BY 1)
        |SELECT qt.alpha AS alpha, lang, n_tokens,
        | round(s_q * 100.0 / s_tot, 6) AS weight_pct,
        | round((CAST(s_q AS DOUBLE) / s_tot) * (CAST(n_tot AS DOUBLE) / n_tokens), 6) AS boost_x
        |FROM qt JOIN tot ON qt.alpha = tot.alpha
        |ORDER BY alpha, lang""".stripMargin,

    "text_quality_budget" ->
      s"""WITH $qualityCtes,
        | nt AS (SELECT doc_id,
        |   CASE WHEN trim(text) = '' THEN 0
        |        ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
        |  FROM documents),
        | dd AS (SELECT q.doc_id AS doc_id, CAST(round(quality * 1e6, 0) AS BIGINT) AS qi,
        |   CAST(n_tok AS BIGINT) AS n_tok
        |  FROM qual q JOIN nt ON q.doc_id = nt.doc_id),
        | hist AS (SELECT qi, CAST(count(*) AS BIGINT) AS n, CAST(sum(n_tok) AS BIGINT) AS tok
        |  FROM dd GROUP BY 1),
        | cum AS (SELECT qi, CAST(sum(n) OVER w AS BIGINT) AS cum_docs,
        |   CAST(sum(tok) OVER w AS BIGINT) AS cum_tok
        |  FROM hist WINDOW w AS (ORDER BY qi DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_toks FROM dd),
        | spine AS (SELECT CAST(unnest([10, 25, 50, 75, 90]) AS BIGINT) AS keep_pct),
        | tg AS (SELECT keep_pct, (n_docs * keep_pct + 99) // 100 AS target, n_toks
        |  FROM spine CROSS JOIN tot),
        | pick AS (SELECT keep_pct, target, n_toks, max(qi) AS qi_cut
        |  FROM tg JOIN cum ON cum_docs >= target GROUP BY 1, 2, 3)
        |SELECT keep_pct, round(qi_cut / 1e6, 6) AS cutoff_quality,
        | cum_docs AS docs_kept, target AS docs_target, cum_tok AS tokens_kept,
        | round(cum_tok * 100.0 / n_toks, 4) AS tokens_pct
        |FROM pick JOIN cum ON cum.qi = pick.qi_cut
        |ORDER BY keep_pct""".stripMargin,

    "text_pipeline_funnel" ->
      s"""WITH RECURSIVE tc AS (SELECT doc_id, token, count(*) AS c
        |  FROM (SELECT doc_id, unnest($tokSql) AS token FROM documents) GROUP BY 1, 2),
        | stats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |   CAST(count(*) AS BIGINT) AS n_types, CAST(max(c) AS BIGINT) AS top_c
        |  FROM tc GROUP BY 1),
        | k1 AS (SELECT doc_id, n_tokens FROM stats
        |  WHERE n_tokens >= 20 AND n_tokens <= 500
        |    AND n_types * 1.0 / n_tokens >= 0.2 AND top_c * 1.0 / n_tokens <= 0.2),
        | d1 AS (SELECT d.doc_id AS doc_id, d.text AS text
        |  FROM documents d JOIN k1 ON d.doc_id = k1.doc_id),
        | sg2 AS (SELECT doc_id, array_to_string(list_sort(list_distinct($tokSql)), ' ') AS sig2 FROM d1),
        | k2 AS (SELECT min(doc_id) AS doc_id FROM sg2 GROUP BY sig2),
        | d2 AS (SELECT d1.doc_id AS doc_id, d1.text AS text FROM d1 JOIN k2 ON d1.doc_id = k2.doc_id),
        |${minhashCtesOver("d2")},
        | hits AS (SELECT doc_a, doc_b FROM mh_pairs WHERE e >= 0.9),
        | edges AS (SELECT doc_a AS src, doc_b AS dst FROM hits
        |           UNION ALL SELECT doc_b, doc_a FROM hits),
        | reach(id, r) AS (
        |   SELECT doc_id, doc_id FROM d2
        |   UNION
        |   SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        | comp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
        | k3 AS (SELECT doc_id FROM comp WHERE doc_id = comp),
        | tot AS (SELECT CAST(count(*) AS BIGINT) AS raw_docs,
        |   CAST(sum(n_tokens) AS BIGINT) AS raw_tokens FROM stats),
        | st AS (
        |   SELECT '0_raw' AS stage, count(*) AS n_docs, sum(n_tokens) AS n_tokens FROM stats
        |   UNION ALL SELECT '1_quality', count(*), sum(n_tokens) FROM k1
        |   UNION ALL SELECT '2_exact_dedup', count(*), sum(n_tokens)
        |     FROM k2 JOIN stats USING (doc_id)
        |   UNION ALL SELECT '3_near_dedup', count(*), sum(n_tokens)
        |     FROM k3 JOIN stats USING (doc_id))
        |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
        | CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
        | round(CAST(n_docs AS BIGINT) * 100.0 / raw_docs, 4) AS pct_docs,
        | round(CAST(coalesce(n_tokens, 0) AS BIGINT) * 100.0 / raw_tokens, 4) AS pct_tokens
        |FROM st CROSS JOIN tot ORDER BY stage""".stripMargin,

    "dedup_split_leakage" ->
      s"""WITH RECURSIVE $minhashCtes,
        | hits AS (SELECT doc_a, doc_b FROM mh_pairs WHERE e >= 0.9),
        | edges AS (SELECT doc_a AS src, doc_b AS dst FROM hits
        |           UNION ALL SELECT doc_b, doc_a FROM hits),
        | reach(id, r) AS (
        |   SELECT doc_id, doc_id FROM documents
        |   UNION
        |   SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        | cmp AS (SELECT id AS doc_id, min(r) AS comp FROM reach GROUP BY id),
        | a AS (SELECT doc_id, comp,
        |   CASE WHEN ((doc_id % 1000003) * 2654435761 % 1000003) % 100 < 90 THEN 'train'
        |        WHEN ((doc_id % 1000003) * 2654435761 % 1000003) % 100 < 95 THEN 'val'
        |        ELSE 'test' END AS split
        |  FROM cmp),
        | cs AS (SELECT comp, CAST(count(DISTINCT split) AS BIGINT) AS n_splits
        |  FROM a GROUP BY 1)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leaky_docs,
        | round(CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT) * 100.0 / count(*), 4) AS leaky_pct
        |FROM a JOIN cs USING (comp) GROUP BY split ORDER BY split""".stripMargin,

    "mm_chunk_align" ->
      """WITH d AS (SELECT doc_id, text,
        |   CAST(ceil(length(text) / 16.0) AS BIGINT) AS n_frames,
        |   CAST(ceil(len(string_split_regex(trim(text), '\s+')) / 20.0) AS BIGINT) AS n_chunks
        |  FROM documents WHERE doc_id < 50 AND length(text) > 0),
        | f AS (SELECT doc_id, n_frames, n_chunks, unnest(range(0, n_frames)) AS frame_idx, text FROM d),
        | a AS (SELECT doc_id, n_frames, n_chunks, frame_idx,
        |   (frame_idx * n_chunks) // n_frames AS chunk_id,
        |   CAST(length(substring(text, CAST(frame_idx * 16 + 1 AS INT), 16)) AS BIGINT) AS frame_len
        |  FROM f)
        |SELECT doc_id, chunk_id, max(n_frames) AS n_frames, max(n_chunks) AS n_chunks,
        | count(*) AS frames_in_chunk,
        | min(frame_idx) AS first_frame, max(frame_idx) AS last_frame,
        | CAST(sum(frame_len) AS BIGINT) AS chunk_bytes
        |FROM a GROUP BY 1, 2 ORDER BY doc_id, chunk_id""".stripMargin,

    // ----- plans.CrossSketch deterministic sketches: the oracle recomputes
    // the REGISTERS and the ESTIMATE bit-for-bit (hash = integer LCG+xorshift
    // in the mod-2^31 domain, rank via bin(), exact dyadic register sums,
    // ln verified identical between the JVM and DuckDB for every possible
    // zero count) — approximate queries with fully hash-checked results.

    "ev_approx_users" -> {
      import graft.plans.CrossSketch._
      val h = hash31Sql("user_id")
      s"""WITH hx AS (SELECT strftime(ts, '%Y-%m-%d') AS day, $h AS h FROM events),
        | reg AS (SELECT day, ${hllBucketSql("h")} AS bucket,
        |     max(${hllRankSql("h")}) AS r FROM hx GROUP BY 1, 2),
        | agg AS (SELECT day, $hllSumSql AS s, $hllZerosSql AS v FROM reg GROUP BY 1),
        | ex AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |     CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |     CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1)
        |SELECT day, ${hllEstimateSql("s", "v")} AS approx_users,
        | exact_users, n_events,
        | round(abs(${hllEstimateSql("s", "v")} - exact_users) * 1.0 / exact_users, 6) AS rel_err,
        | rel_err <= $HllErrBound AS within_bound
        |FROM agg JOIN ex USING (day) ORDER BY day""".stripMargin
    },

    "ev_approx_overlap" -> {
      import graft.plans.CrossSketch._
      val h = hash31Sql("user_id")
      val est = hllEstimateSql("s", "v")
      s"""WITH hx AS (SELECT event_type, $h AS h FROM events),
        | reg AS (SELECT event_type, ${hllBucketSql("h")} AS bucket,
        |     max(${hllRankSql("h")}) AS r FROM hx GROUP BY 1, 2),
        | t AS (SELECT event_type, $est AS est FROM
        |   (SELECT event_type, $hllSumSql AS s, $hllZerosSql AS v FROM reg GROUP BY 1)),
        | p AS (SELECT a.event_type AS type_a, b.event_type AS type_b
        |   FROM t a JOIN t b ON a.event_type < b.event_type),
        | ur AS (SELECT p.type_a, p.type_b, r.bucket, max(r.r) AS r
        |   FROM p JOIN reg r ON r.event_type = p.type_a OR r.event_type = p.type_b
        |   GROUP BY 1, 2, 3),
        | ua AS (SELECT type_a, type_b, $est AS est_union FROM
        |   (SELECT type_a, type_b, $hllSumSql AS s, $hllZerosSql AS v FROM ur GROUP BY 1, 2)),
        | ut AS (SELECT DISTINCT user_id, event_type FROM events),
        | exn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM ut GROUP BY 1),
        | exi AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |     CAST(count(*) AS BIGINT) AS exact_inter
        |   FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
        |   GROUP BY 1, 2)
        |SELECT ua.type_a, ua.type_b, ta.est AS est_a, tb.est AS est_b, ua.est_union,
        | greatest(ta.est + tb.est - ua.est_union, 0) AS est_inter,
        | round(greatest(ta.est + tb.est - ua.est_union, 0) * 1.0 / ua.est_union, 6) AS jaccard_est,
        | na.n_exact AS exact_a, nb.n_exact AS exact_b,
        | coalesce(exi.exact_inter, 0) AS exact_inter,
        | na.n_exact + nb.n_exact - coalesce(exi.exact_inter, 0) AS exact_union,
        | abs(greatest(ta.est + tb.est - ua.est_union, 0) - coalesce(exi.exact_inter, 0)) AS abs_err,
        | abs_err <= $HllErrBound * (exact_a + exact_b + exact_union) AS within_bound
        |FROM ua JOIN t ta ON ta.event_type = ua.type_a
        | JOIN t tb ON tb.event_type = ua.type_b
        | JOIN exn na ON na.event_type = ua.type_a
        | JOIN exn nb ON nb.event_type = ua.type_b
        | LEFT JOIN exi ON exi.type_a = ua.type_a AND exi.type_b = ua.type_b
        |ORDER BY 1, 2""".stripMargin
    },

    "lake_puffin_ndv" -> {
      import graft.plans.CrossSketch._
      def one(c: String): String = {
        val h = hash31Sql(c)
        s"""SELECT '$c' AS "column", cen.n_files, cen.table_rows, e.est_ndv,
          |  cen.n_files * $HllM AS sketch_bytes,
          |  round(cen.n_files * $HllM * 1.0 / cen.n_files, 2) AS bytes_per_file,
          |  x.exact_ndv,
          |  round(abs(e.est_ndv - x.exact_ndv) * 1.0 / x.exact_ndv, 6) AS rel_err,
          |  rel_err <= $HllErrBound AS within_bound
          |FROM
          | (SELECT CAST(count(DISTINCT l_orderkey % 40) AS BIGINT) AS n_files,
          |    CAST(count(*) AS BIGINT) AS table_rows FROM lineitem) cen,
          | (SELECT ${hllEstimateSql("s", "v")} AS est_ndv FROM
          |   (SELECT $hllSumSql AS s, $hllZerosSql AS v FROM
          |     (SELECT bucket, max(r) AS r FROM
          |       (SELECT l_orderkey % 40 AS file_id, ${hllBucketSql("h")} AS bucket,
          |          max(${hllRankSql("h")}) AS r FROM
          |         (SELECT l_orderkey, $h AS h FROM lineitem) GROUP BY 1, 2)
          |      GROUP BY 1))) e,
          | (SELECT CAST(count(DISTINCT $c) AS BIGINT) AS exact_ndv FROM lineitem) x""".stripMargin
      }
      s"""${one("l_orderkey")}
        |UNION ALL
        |${one("l_suppkey")}
        |ORDER BY "column"""".stripMargin
    },

    "q30_approx_quantiles_sketch" -> {
      import graft.plans.CrossSketch.{SubBucketBits, SubBuckets}
      val ps = Seq(("p25", 25), ("p50", 50), ("p75", 75), ("p99", 99))
      def at(num: Int) = s"cum >= (($num * n + 99) // 100)"
      val qCols = ps.map { case (nm, num) =>
        s"round(min(CASE WHEN ${at(num)} THEN mid END), 4) AS $nm"
      }.mkString(",\n | ")
      val relW = ps.map { case (_, num) =>
        s"""((min(CASE WHEN ${at(num)} THEN hi END) - min(CASE WHEN ${at(num)} THEN lo END)) * 1.0 /
           |   (min(CASE WHEN ${at(num)} THEN hi END) + min(CASE WHEN ${at(num)} THEN lo END)))""".stripMargin
      }.mkString("greatest(", ",\n ", ")")
      // per-quantile regime-aware bound: log-linear bucket meets
      // 1/(2*SubBuckets), a unit bucket (hi-lo=1) is exact to half a cent
      val ok = ps.map { case (_, num) =>
        s"""(((min(CASE WHEN ${at(num)} THEN hi END) - min(CASE WHEN ${at(num)} THEN lo END)) * 1.0 /
           |    (min(CASE WHEN ${at(num)} THEN hi END) + min(CASE WHEN ${at(num)} THEN lo END)))
           |      <= ${1.0 / (2 * SubBuckets)}
           |  OR (min(CASE WHEN ${at(num)} THEN hi END) - min(CASE WHEN ${at(num)} THEN lo END)) = 1)""".stripMargin
      }.mkString("(", " AND\n ", ")")
      s"""WITH c AS (SELECT l_returnflag,
        |     CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem),
        | b AS (SELECT l_returnflag, cents, length(bin(cents)) - 1 AS oct FROM c),
        | b2 AS (SELECT l_returnflag, cents, oct,
        |     greatest(oct - $SubBucketBits, 0) AS sh FROM b),
        | g AS (SELECT l_returnflag, oct, sh, cents >> sh AS idx,
        |     count(*) AS cnt FROM b2 GROUP BY 1, 2, 3, 4),
        | w AS (SELECT l_returnflag, oct, idx, cnt,
        |     sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY oct, idx) AS cum,
        |     sum(cnt) OVER (PARTITION BY l_returnflag) AS n,
        |     ((2 * idx + 1) << sh) / 200.0 AS mid,
        |     (idx << sh) AS lo,
        |     ((idx + 1) << sh) AS hi
        |   FROM g)
        |SELECT l_returnflag,
        | $qCols,
        | round($relW, 6) AS max_rel_halfwidth,
        | $ok AS within_bound
        |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },
  )
}
