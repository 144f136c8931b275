"""Empty-input robustness: every query must DEGRADE to an empty (or
identity) result on zero-row tables, never crash.

An empty partition is a routine production state — a scheduled
pipeline's first run of the day, a fully-filtered branch, a
just-created table — and this class of failure is invisible to the
oracle differential (which always runs on populated fixtures). The
round-8 sweep of the full registry against a zero-row fixture found 21
crashers in 7 distinct classes; each class's fix and the queries that
pin it:

- NULL scalar watermark (`lit(None) - INTERVAL` analysis error):
  reference_ops.silver_watermark epoch fallback — price_latest.
- numpy kernels seeded from an empty collect (IndexError):
  early-return typed-empty — semdedup_clustered, semdedup_hierarchical,
  contamination_semantic, int8_quantization_error.
- driver division by zero node/row counts: early-return typed-empty —
  pagerank_iterated, pagerank_converged.
- zero-file PARTITIONED parquet write then read
  (UNABLE_TO_INFER_SCHEMA — a partitioned write of 0 rows emits no
  files at all): LakehouseTable schema sidecar / VersionedTable
  manifest table_schema / ArrowParquetWriter empty part file, the
  Delta log-schema analog — medallion_gold_ohlcv, merge_upsert_result,
  merge_delete_result, streaming_merge_upsert, stream_ingest_bronze,
  python_datasource_write_roundtrip, versioned_delete_result,
  versioned_update_result (also ValueError: empty snapshot),
  zorder_clustered_scan (also MIN/MAX-of-nothing floats).
- approxQuantile on an empty relation returns [] (IndexError):
  file_stream.stage_time_chunks stages every chunk empty —
  streaming_watermarked_counts, streaming_session_window,
  streaming_stream_stream_left_join.
- memory-sink drain comparing SUM-over-no-rows (NULL) to 0 (hang then
  TimeoutError): NULL coalesced in file_stream.drain_until —
  python_datasource_stream_agg, versioned_table_stream_agg.
- version-chain assumptions (manifest vN expected but the empty
  MERGE/DELETE skipped its commit): walk t.versions() —
  cdf_incremental_view_maintenance.
"""

from __future__ import annotations

import pytest

from crypto_lakehouse_spark import queries as qmod
from crypto_lakehouse_spark.queries.registry import REGISTRY

qmod.load_all()

# The 21 round-8 crashers plus one always-green control per family
# style (exact dedup / TPC-H agg) to prove the fixture itself works.
EMPTY_SAFE_QUERIES = [
    "q1_pricing_summary",
    "doc_exact_dedup",
    "price_latest",
    "semdedup_clustered",
    "semdedup_hierarchical",
    "contamination_semantic",
    "int8_quantization_error",
    "pagerank_iterated",
    "pagerank_converged",
    "medallion_gold_ohlcv",
    "merge_upsert_result",
    "merge_delete_result",
    "streaming_merge_upsert",
    "stream_ingest_bronze",
    "python_datasource_write_roundtrip",
    "python_datasource_stream_agg",
    "versioned_table_stream_agg",
    "versioned_delete_result",
    "versioned_update_result",
    "zorder_clustered_scan",
    "streaming_watermarked_counts",
    "streaming_session_window",
    "streaming_stream_stream_left_join",
    "cdf_incremental_view_maintenance",
    # round-12 additions — swept before listing; coreset_kcenter_greedy
    # originally CRASHED here (empty corpus -> None seed interpolated
    # into SQL) and now early-returns an empty typed frame, matching
    # the oracle's empty result
    "compression_bpb_census",
    "robots_license_gating",
    "doremi_one_step",
    "encoding_hygiene_census",
    "bpe_fertility_census",
    "coreset_kcenter_greedy",
    "kmeans_simplified_silhouette",
    "rho_excess_loss_selection",
    "temperature_mixture_weights",
]


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory) -> str:
    """Zero-row copies of every driver table, schemas preserved."""
    import duckdb

    out = tmp_path_factory.mktemp("sf_empty")
    con = duckdb.connect()
    src = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{src}/{t}.parquet') "
            f"LIMIT 0) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    return str(out)


@pytest.mark.parametrize("name", EMPTY_SAFE_QUERIES)
def test_query_degrades_on_empty_input(spark, empty_sf_dir, name):
    rows = REGISTRY[name].spark_fn(spark, empty_sf_dir).collect()
    # Aggregations without GROUP BY legally return one all-NULL/zero
    # row (q1 does not; q6-style would); everything else must be empty.
    assert len(rows) <= 1


def test_lakehouse_table_empty_partitioned_write_reads_typed(spark, tmp_path):
    """A PARTITIONED write of 0 rows emits no data files; read() must
    come back as an empty TYPED frame via the schema sidecar."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.tables import LakehouseTable

    df = spark.range(0).select(
        F.col("id").alias("k"),
        F.lit("x").alias("v"),
        F.lit("p0").alias("part"),
    )
    t = LakehouseTable(spark, str(tmp_path / "t"), partition_by=["part"])
    t.overwrite(df)
    back = t.read()
    assert back.count() == 0
    assert set(back.columns) == {"k", "v", "part"}


def test_versioned_table_empty_snapshot_reads_typed(spark, tmp_path):
    """VersionedTable: empty first commit AND all-rows-deleted snapshot
    both read back as empty typed frames (manifest-recorded schema —
    the Delta log-schema analog)."""
    from pyspark.sql import functions as F

    from crypto_lakehouse_spark.pipeline.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"))
    t.overwrite(
        spark.range(0).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    )
    assert t.read().count() == 0
    assert set(t.read().columns) == {"k", "v"}

    t2 = VersionedTable(spark, str(tmp_path / "vt2"))
    t2.overwrite(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    )
    t2.delete("k >= 0")  # removes every row -> zero-file snapshot
    back = t2.read()
    assert back.count() == 0
    assert set(back.columns) == {"k", "v"}


# Round-10-continuation additions: all 28 new operators probed green
# against the zero-row fixture on landing; pinned here so the property
# cannot regress. kcore_peel_bounded legally emits its full
# (rounds+1)-row shrink curve of zeros (the curve IS the result shape,
# like a global aggregate); the 1-row global aggregates
# (degree_assortativity, nn_descent_round_recall) emit their all-NULL/
# zero summary row.
ROUND10B_EMPTY_SAFE = [
    ("stochastic_oscillator_14", 0),
    ("beta_vs_market", 0),
    ("spearman_returns_corr", 0),
    ("chi_square_type_weekday", 0),
    ("pmi_bigram_collocations", 0),
    ("degree_assortativity", 1),
    ("kcore_peel_bounded", 7),
    ("theil_sen_trend_daily", 0),
    ("kendall_tau_daily", 0),
    ("cusum_mean_shift_daily", 0),
    ("rfm_user_segments", 0),
    ("mann_whitney_u_doc_lengths", 0),
    ("hilbert_curve_cells", 0),
    ("poisson_bootstrap_ci_doclen", 0),
    ("multimodal_wav_roundtrip", 0),
    ("nn_descent_round_recall", 1),
    ("langid_confusion_eval", 0),
    ("bbit_minhash_estimate_error", 0),
    ("purged_time_split", 0),
    ("score_calibration_bins", 0),
    ("bigram_conditional_entropy", 0),
    ("event_volume_mad_outliers", 0),
    ("bigram_overlap_precision_by_source", 0),
    ("curve_locality_eval", 0),
    ("runs_test_daily_returns", 0),
    ("anova_value_by_weekday", 1),
    ("multimodal_y4m_roundtrip", 0),
    ("streaming_cusum_alarms", 0),
    # round-11 additions (swept green before listing, same protocol)
    ("kmeans_converged", 0),
    ("nn_descent_converged", 1),
    ("bpe_train_iterated", 0),
    ("url_canonical_dedup", 0),
    ("host_dup_census", 0),
    ("pii_regex_census", 0),
    ("pii_redact_stats", 0),
    ("countmin_sketch_error", 0),
    ("jl_projection_distortion", 0),
    ("stratified_kfold_assignment", 0),
    ("contrastive_negatives_mine", 0),
    ("html_strip_extract", 0),
]


@pytest.mark.parametrize("name,max_rows", ROUND10B_EMPTY_SAFE)
def test_round10b_query_degrades_on_empty_input(
    spark, empty_sf_dir, name, max_rows
):
    rows = REGISTRY[name].spark_fn(spark, empty_sf_dir).collect()
    assert len(rows) <= max_rows
