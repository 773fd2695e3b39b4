package graft.tools

import java.nio.file.{Files, Paths}

/** Dev utility: dump formatted physical plans of representative queries to
  * docs/PLANS.md — the `.explain("formatted")` audit trail for the SURVEY §5
  * design rules (pushdown, pruning, exchange counts, join strategies).
  *
  * The output is normalized so that a regeneration differs only where a plan
  * does: expression, RDD and `plan_id` ids, lambda and object hashes, and the
  * per-run parts of `graft-*` store paths (temp root, run hash, uuids,
  * version numbers) are replaced by fixed tokens. Broadcast size estimates
  * scale with the driver heap, so run it with a 4 GB heap:
  * `SPARK_DRIVER_MEM=4g sbt "runMain graft.tools.PlanDump"`. */
object PlanDump {
  /** Replaces the run-dependent tokens of an explain string. */
  def normalize(plan: String): String = Seq(
    """file:[^\s,\]]*/(graft-[a-z-]+?)-[0-9a-f]{12}""" -> "file:<tmp>/$1",
    """[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""" -> "<uuid>",
    """(<tmp>/graft-[^\s,\]]*?\b(?:v|gen|w))=\d+""" -> "$1=N",
    """#\d+""" -> "#N",
    """plan_id=\d+""" -> "plan_id=N",
    """RDD\[\d+\]""" -> "RDD[N]",
    """\$\$Lambda\$?[0-9]*/0x[0-9a-f]+@[0-9a-f]+""" -> "\\$\\$Lambda",
    """@[0-9a-f]{6,8}\b""" -> "@hash"
  ).foldLeft(plan) { case (s, (re, to)) => s.replaceAll(re, to) }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 4 partitions: the committed plans are read against the spec suite's session
    val spark = graft.Session.local(4)
    val picks = Seq(
      "bars_daily" -> "one hash aggregation, pruned scan (no props/event_type)",
      "feat_sma" -> "whole windowed ladder: one exchange + sort after the bars agg, every aggregate in one Window (OBV's running sum in a second)",
      "feat_ema" -> "recursive scan: MapGroups requiring symbol clustering + (symbol, date) order, so the planner adds the one exchange + sort",
      "sig_ema_crossover" -> "signals: the rule evaluator over the (cached) feature table: keep flag, one ignore-nulls lag Window, explode + filter",
      "fund_balance_sheet" ->
        "window ladder over a scan of the truncated line-item base: one pass per partitioning, unread windows pruned",
      "dedup_minhash" -> "map-side signatures over the cached shingle sets, banded bucket equi-join, exact verify by set intersection: no shingle shuffle, no cartesian",
      "dedup_embedding_lsh" -> "cell-routed (low threshold): k-means cell equi-join + exact cosine re-score, no nested loop",
      "dedup_embedding_lsh_hi" -> "sign-LSH regime: hyperplane bucket join + exact cosine re-score, no nested loop",
      "ann_topk" -> "broadcast query side + codegen graft_dot, top-k window",
      "fund_quality_scores" ->
        "scan of the truncated score frame; its build prunes the unread statement windows and plans no single-partition window",
      "watermark_incremental_features" -> "stale-symbol semi-join gates the event scan",
      "trades_fundamentals_join" -> "broadcast as-of range join + keep-latest window",
      "corpus_pack" -> "deterministic bucketed global-offset cumsum, no single-partition window",
      "decontaminate" -> "broadcast holdout shingle set, map-side scoring + per-doc rollup",
      "dedup_incremental" -> "increment-bounded inverted-index join",
      "candlestick_prep" -> "date-range predicate pushed to the events scan",
      "table_profile" -> "one-scan multi-column profile (exact mode: second melt+distinct scan)",
      "bucketed_symbol_stats" -> "bucketed read: symbol join + aggs with no exchange",
      "corpus_sample_mix" -> "epoch sampling: one scan + explode, zero exchange",
      "stream_join_attribution" -> "interval join: equi-join on user_id, time bound as residual filter",
      "text_dup_spans" -> "gram-keyed df join reuses the window-count partitioning",
      "text_keywords" -> "tf/df from one explode, corpus-size scalar broadcast",
      "text_perplexity" -> "bigram model tables shuffled once; 1-row vocab scalar broadcast",
      "corpus_dsir_weights" -> "bucket-bounded ratio table broadcast, map-side feature scoring",
      "corpus_shuffle" -> "global permutation via 256-bucket offsets, no single-partition window",
      "embedding_domain_classify" -> "metadata-sized centroid fit broadcast + map-side argmax scan",
      "dedup_semantic" -> "cell-keyed pair join (never corpus x corpus) + star-contraction groups",
      "corpus_curation_report" -> "six doc_id-keyed signals composed as hash joins, signals computed once",
      "dedup_canonical" -> "per-cluster quality argmax: one window over small near-dup clusters",
      "corpus_chunk_overlap" -> "per-doc sliding windows: narrow explode, zero exchange",
      "corpus_stats_by_source" -> "map-side partial agg to a source-cardinality shuffle",
      "text_pii_redact" -> "codegen regexp chain, pure per-row projection",
      "embedding_project" -> "broadcast sign-matrix join + map-side-combined (vec, dim) agg",
      "ann_hard_negatives" -> "broadcast query side + label residual filter + top-k window",
      "sketch_token_freq_cms" -> "depth-fanout explode into a fixed-width cell aggregation",
      "corpus_bpe_encode" -> "distinct-word segmentation + word equi-join rollup",
      "text_bm25" -> "inverted-index token join, maxQueryTerms-gated broadcast query terms, corpus scalars broadcast",
      "retrieval_rrf" -> "rank-list fusion: full-outer join + per-query window over metadata-sized top-k lists",
      "stream_neardup" -> "batch half of the stream-detects/store-verifies split: exact verify by intersecting the cached shingle sets (the streaming stage ran before this plan)",
      "table_contracts" -> "per-table single-scan PK check: key-columns-only distinct shuffle",
      "ann_ivf" -> "stored-index probe: probed cells' files only + broadcast centroid probe",
      "dedup_simhash" -> "codegen graft_simhash64 fingerprints + 16-bit band bucket self-join",
      "watermark_roundtrip" -> "versioned-store re-read: stale filter over the committed parquet state",
      "trades_filter_model" -> "fitted-GBT scoring as pure codegen CASE expressions (no MLlib transform UDF) + decimal-exact rollup",
      "ann_ivf_incremental" -> "incremental index probe: the head manifest's file list for the probed cells of the append-maintained versions",
      "events_compaction" -> "bin-packed generation read: per-day rollup + broadcast file-count join",
      "cdc_apply_snapshot" -> "changelog latest-wins merge: one key-partitioned window, no snapshot join",
      "ann_pq" -> "PQ ADC: codegen encode pass, broadcast LUT join, map-side-combined exact sums, bounded exact re-rank",
      "ann_ivfpq" -> "IVF+PQ: probed-cell equi-join gates the ADC; broadcast LUT + centroids; no unprobed-cell scan",
      "ann_ivfpq_incremental" -> "IVFPQ incremental probe: the head manifest's code-file list for the probed cells, appended increments included",
      "mv_incremental_refresh" -> "MV read-back: finalized algebraic columns over the head manifest's per-bucket file list (explicit schema, no inference job)",
      "events_skipping_scan" -> "manifest-pruned scan: file-list read of intersecting z-order boxes + residual filter",
      "events_point_lookup" -> "bloom-pruned point read: surviving files only + exact equality residual",
      "table_fk_contracts" -> "per-edge LEFT ANTI orphan join against distinct parent keys (dimension side broadcasts)",
      "events_maintenance_cycle" -> "maintained-generation read: manifest-pruned box scan through the committed pointer",
      "pipeline_daily_run" -> "orchestrated per-stage counts over memoized stage checkpoints",
      "mm_audio_features" -> "binary WAV decode: per-partition batched codec pass, payload never exploded",
      "retrieval_eval" -> "metrics over metadata-sized top-k lists: query-keyed joins + broadcast gain tables",
      "training_triplets" -> "in-list positive/negative picks: two windows over the memoized ANN top-k",
      "events_schema_evolution" -> "mergeSchema union read over mixed-generation files, null-accounted rollup",
      "corpus_curriculum" -> "exact-quantile tier bounds as literals + md5 order keys, no single-partition sort",
      "sketch_event_stats" -> "KMV bottom-k sketches: one ObjectHashAggregate pass (partial+final), no Expand, no exact-distinct shuffle",
      "table_profile_approx" -> "single-scan profile with per-column KMV distinct sketches (vs the exact twin's second melt pass)",
      "ann_index_health" -> "drift rollup: the head manifest's code-file list + driver-side quantizer tables broadcast with the increment, 16-row output",
      "ann_index_autorefit" -> "probe over the auto-REFIT store (thresholds pulled the rebuild lever): the refit version's file list for the probed cells",
      "stream_ann_ingest" -> "probe AFTER streamed foreachBatch appends: same manifest file-list read of the probed cells as the batch-incremental store",
      "sql_extensions_simhash" -> "plain-SQL text through the injected graft_simhash64 (extensions session): same codegen fingerprint plan as the Scala route",
      "events_forget" -> "tombstone-masked read (broadcast anti-join) unioned with the post-purge physical read — masking never shuffles the data side",
      "mv_delete_refresh" -> "MV read-back after retraction: the head lists the touched buckets' rewritten files beside the untouched buckets' old ones",
      "ann_forget" -> "probe AFTER index-level deletes: the head manifest lists only the rewritten cells' survivor files, quantizer carried by reference",
      "corpus_version_diff" -> "release diff: per-side fingerprint at the scan, full-outer join moves 16-byte hashes not documents",
      "forget_cascade" -> "one takedown request audited on BOTH surfaces: purged base-store scan unioned with the retracted MV's head-manifest file list",
      "text_dup_span_rewrite" -> "exact-substring removal: one gram-keyed rank shuffle, position anti-join, per-doc bounded reassembly sort",
      "stream_mv_retraction" -> "MV read-back after a streamed CDC delete: per-batch exactly-once cell rewrites, read through the head manifest's file list",
      "events_metadata_count" -> "metadata-only COUNT: interior files answered from footer row counts, boundary sliver scanned with the exact predicate",
      "sketch_store_rollup" -> "sketch-state store reaggregation: rollups merge persisted bottom-k states (array algebra), the data is never rescanned")
    val sb = new StringBuilder
    sb.append("# Physical-plan audit (generated by graft.tools.PlanDump at sf0.001)\n\n")
    sb.append("Each section is `df.explain(\"formatted\")` output for a representative\n")
    sb.append("registered query, with the design intent it demonstrates. Run-dependent\n")
    sb.append("ids, hashes and store paths are normalized; generated with a ")
    sb.append(s"${Runtime.getRuntime.maxMemory / (1L << 30)} GiB driver heap.\n")
    picks.foreach { case (name, why) =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)))
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${picks.size} plans)")
    spark.stop()
  }
}
