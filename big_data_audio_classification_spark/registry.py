"""Query registry — the single source of truth for the driver contract.

Every implemented operator registers an exemplar query here via the
``@query`` decorator. ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry: each entry pairs a Spark DataFrame
builder ``(spark, sf_dir) -> DataFrame`` with (when SQL-expressible) an
equivalent ANSI-SQL string the DuckDB oracle can run on the same parquet
tables. Non-SQL-expressible operators (LSH, MLlib fits, streaming state)
register with ``oracle=None`` → the driver records a rows-only check.

Column-name parity rule: the driver sorts columns by name before value
hashing, so every computed column is aliased identically in the Spark
code and the oracle SQL (see SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class EngineQuery:
    name: str
    fn: QueryFn
    oracle: str | None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, EngineQuery] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register an exemplar query under ``name``.

    ``oracle`` is DuckDB-flavored ANSI SQL over the pre-registered views
    (region nation customer supplier part orders lineitem events
    documents embeddings), or None for rows-only checks.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = EngineQuery(
            name=name, fn=fn, oracle=oracle, tags=tuple(tags), doc=fn.__doc__ or ""
        )
        return fn

    return deco


# The driver's CORRECTNESS gate records the FIRST 50 queries in
# registration order. This window is curated so those 50 rows sample
# every operator family (tests/test_registry.py enforces the tag
# cover) rather than the import-order prefix, and is ROTATED each
# round so never-driver-checked queries get certified: everything
# displaced from an earlier window stays registered and tri-SF green
# in the local gate (scripts/check_oracle.py).
#
# Round-10 rotation: round 9 came back 50/50 GREEN (CORRECTNESS_r09 —
# third consecutive clean round; zero retries needed). 49 slots are
# FIRST-TIME entries from the never-certified backlog (197 SQL-oracled
# queries at r10 open); slot 1 is the judge-directed RE-certification
# of stats_jackknife_ratio — the only query whose code changed after
# its last green driver row (r08 green; its fold was rewritten in r09
# commit e5ccecd to fix the sf0.1 catastrophic-cancellation ULP flip),
# re-entering under the standing dirty-since-certification rule
# (RECERTIFY below; enforced by scripts/check_dirty.py +
# tests/test_registry.py against cert_fingerprints.json).
# Must-enters per the r09 verdict: (a) the five carriers fixed by the
# r09 second round-close review pass, whose fixed forms no driver has
# seen (text_lm_heldout_perplexity, agg_pandas_udaf_quartile_skew,
# analytics_hod_effect_profile, join_range_overlap_days,
# mm_payload_fletcher16); (b) the r09 rows-only conversion's contract
# face (ml_pca_variance_contract); (c) the restocked lm/mapInPandas
# carriers, all four additionally hardened by the r09 ADVICE items
# this round — log-zero guards, decimal accumulators, localCheckpoint
# (text_lm_witten_bell, text_lm_stupid_backoff, mm_payload_rle_runs,
# mm_payload_bit_density); (d) the four r09 bench flagships
# (dedup_lsh_bucket_entropy, dedup_simhash_multiprobe16,
# ml_point_biserial_selection, text_topk_salient_terms); plus the
# remaining ADVICE-hardened carrier ml_quadratic_normal_equations —
# then a greedy tag cover so the window samples every
# REQUIRED_FAMILY_TAG, and fills that drain abundant-tag stock
# (events/stats/aggregate) while keeping family tags >= 2-deep in
# never-certified spares (the two tags the musts drained to 0 — lm,
# mapInPandas — are restocked by operators/stock_r10.py). Every entry
# passed the tri-SF BIT-EXACT local gate (scripts/check_oracle.py),
# the scripts/check_dtypes.py typed-hash gate, and the two-config
# partition-robustness gate before rotation.
# 400 distinct queries came back GREEN across r01-r09 (400 entered,
# zero outstanding red rows).
# r10-continuation amendment (pre-driver-run): slot 50 swapped from
# the events_sequence_pattern fill to the RE-certification of
# analytics_abc_pareto, whose r08-certified float-sum form flipped a
# ULP under load in this session's full sf0.1 sweep and was rewritten
# to exact centi-cent integers (see RECERTIFY below).
# Round-11 rotation (second OPTIMIZATION round): round 10 came back
# 50/50 GREEN (CORRECTNESS_r10), certifying all nine r10 rewrites.
# This window = (a) the eight r11 RECERTIFY entries (dirty-since-
# certification rule: the two scale-qualified r10 rewrites fixed per
# the r10 verdict item 1 — jaccard broadcast-hint drop, conformal
# two-phase bucketed rank — plus the r11 plan-surgery/window-kill
# edits to theta/amp-curve/hodges/both pageranks and the
# prefix-filter docstring sync); (b) the four touched-but-never-
# certified global-rank conversions (quantile_binning, session
# deciles, gini, segment migration — r10 verdict item 3); (c) the
# four never-certified r10 bench flagships (r10 verdict item 5);
# (d) 34 first-time fills from the 218-query never-certified backlog
# under the standing greedy family-tag cover (tests/test_registry.py).
# Every entry passed the tri-SF bit-exact local gate before rotation.
# Amendment (schema-memo change): mm_wav_resample_sink re-enters as a
# RECERTIFY entry (its sink read-back now passes the written schema
# instead of inferring it); it takes the slot of the first-time fill
# mm_metadata_stats, whose one family tag (multimodal) it also carries.
DRIVER_WINDOW: tuple[str, ...] = (
    "dedup_minhash_jaccard_estimate",
    "ml_conformal_interval",
    "dedup_prefix_filter_join",
    "agg_theta_sketch_setops",
    "dedup_lsh_amplification_curve",
    "stats_hodges_lehmann",
    "graph_pagerank_knn",
    "graph_pagerank_oracle",
    "mm_wav_resample_sink",
    "ml_quantile_binning",
    "events_session_duration_deciles",
    "skew_key_gini_imbalance",
    "analytics_segment_migration",
    "udtf_session_paths",
    "text_lm_bigram_oov_rate",
    "dedup_cc_bounded_histogram",
    "sketch_countmin_heavy_hitters",
    "sql_parameterized_identifier",
    "ml_rowid_positional_join",
    "join_asof_cross_table",
    "agg_cube_as_grouping_sets",
    "text_tfidf_pivoted_norm",
    "scalar_try_functions",
    "scalar_string_edit_distance",
    "scalar_math_integer_bits",
    "scalar_json_array_arith",
    "scalar_variant_mixed_scalars",
    "array_running_extrema",
    "scalar_map_filter_concat",
    "dedup_simhash_weighted",
    "text_tfidf_rarity_profile",
    "ml_kfold_regression_cv",
    "subquery_correlated_above_avg",
    "sim_ivf_second_choice_margin",
    "ml_fisher_score_selection",
    "ml_hashing_trick_encoding",
    "ref_filter_scalar_max",
    "join_range_point_in_interval",
    "audio_phase_energy_ratio",
    "mm_payload_shannon_entropy",
    "events_tumbling_window_fn",
    "agg_pandas_udaf_midhinge",
    "agg_pandas_udaf_winsorized_mean",
    "sink_orc_roundtrip",
    "sink_csv_escape_roundtrip",
    "sql_named_window_clause",
    "window_rolling_median_mad",
    "analytics_dow_additive_profile",
    "stats_iv_wald_estimator",
    "stats_welch_ttest",
)

# Standing dirty-since-certification rule (r09 verdict item 1): any
# query whose Spark fn source or oracle SQL changes after its last
# green driver row goes back into the NEXT window. Mechanism:
# cert_fingerprints.json snapshots sha256(fn source + oracle) for
# every driver-certified query as of the code the driver last ran;
# scripts/check_dirty.py (also run by tests/test_registry.py)
# recomputes fingerprints and fails unless every drifted certified
# query is listed here AND present in DRIVER_WINDOW. Docstring-only
# edits count as drift — conservatively re-certify.
RECERTIFY: tuple[str, ...] = (
    # r11 optimization-round drift: the two r10-verdict item-1 fixes
    # (jaccard verify joins lose the corpus-fraction F.broadcast hints;
    # conformal qhat moves from the data-sized TakeOrdered limit to the
    # two-phase bucketed rank), the r11 plan-surgery edits (theta
    # fk/uk/un persisted; hodges daily spine persisted; both pageranks
    # stop re-running knn_edges per round), the r10-verdict item-7
    # diagnostic re-pricing (AMP_SAMPLE_MOD 5 -> 10 — result set
    # changes BY DESIGN, oracle restates the same constant), and the
    # prefix-filter docstring sync (docstring-only, conservatively
    # re-certified). The nine r10 RECERTIFY entries all came back
    # green in CORRECTNESS_r10; the five of them untouched in r11 had
    # their fingerprints re-snapshotted to the driver-certified code
    # (standing round-close procedure).
    "dedup_minhash_jaccard_estimate",
    "ml_conformal_interval",
    "dedup_prefix_filter_join",
    "agg_theta_sketch_setops",
    "dedup_lsh_amplification_curve",
    "stats_hodges_lehmann",
    "graph_pagerank_knn",
    "graph_pagerank_oracle",
    # The parquet sink read-back reads with the schema it just wrote
    # instead of inferring it from the footer (one Spark job fewer per
    # run); same rows, same schema.
    "mm_wav_resample_sink",
)


def all_queries() -> dict[str, EngineQuery]:
    # Import side-effect modules exactly once; each registers its queries.
    import big_data_audio_classification_spark.queries  # noqa: F401

    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise ValueError(f"DRIVER_WINDOW names unregistered queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


def spark_queries() -> dict[str, QueryFn]:
    return {n: q.fn for n, q in all_queries().items()}


def oracle_sqls() -> dict[str, str]:
    return {n: q.oracle for n, q in all_queries().items() if q.oracle is not None}
