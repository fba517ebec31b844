"""Global plan lint: NO registered query may plan a CartesianProduct,
and BroadcastNestedLoopJoin is allowed only where a side is a scalar
(1-row) broadcast or a deliberately tiny band dimension — the two
shapes that stay O(n) at 100 TB. Every new query automatically comes
under this guard; an unexpected nested loop is a plan regression the
per-query tests might not be watching for. The same one build per
query also checks each result schema against its oracle's, and each
plan's node counts against docs/plan_fingerprints.json."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.001"

# BroadcastNestedLoopJoin allowlist — every entry must name the tiny
# side that keeps the loop O(n·k) with k O(1):
BNL_ALLOWED = {
    "q39_brp_lsh_simjoin": "three 1-row audit aggregates (ref count x hit count x lsh stats) crossed",
    "q59_range_band_join": "broadcast band dimension (handful of rows) — the documented design",
    "q61_rich_inactive_customers": "1-row scalar-subquery threshold broadcast",
    "q100_revenue_share_threshold": "1-row global-total broadcast (Q11 shape)",
    "q124_binned_quantiles": "1-row bin-bounds broadcast",
    "q134_rolling_wau": "1-row date-bounds broadcast for the day spine",
    "q148_leakage_safe_split": "1-row leak-audit broadcast onto 3 split rows",
    "q151_temperature_mixture": "1-row mixture-normalizer broadcast",
    "q157_pps_sample": "1-row total-weight broadcast onto the grid arithmetic",
    "q163_kmv_overlap": "two 1-row frames (overlap stats x exact intersection) crossed",
    "q164_chi_square": "1-row grand-total broadcast onto the cell frame",
    "q166_lm_quality": "1-row token-total broadcast onto the scored stream",
    "q171_benford_audit": "1-row digit-total broadcast onto the 9-digit frame",
    "q174_naive_bayes": "#classes-row (tiny) prior frame crossed onto the token stream",
    "q176_interpolated_gaps": "hour spine x #event-types frame (both metadata-sized) crossed",
    "q180_kwic": "1-row keyword frame crossed onto the token arrays",
    "q181_backtest_mape": "hour spine x #event-types frame (both metadata-sized) crossed",
    "q186_bigram_nll": "1-row bigram-vocab broadcast onto the scored stream",
    "q189_dsir_importance": "1-row model-totals broadcast onto the feature stream",
    "q190_hits": "1-row initial-mass (node count) broadcast + per-half-step 1-row quotient broadcasts (integer normalization)",
    "q193_corpus_gates": "1-row token-total broadcast inside the unigram-NLL gate (the q166 shape)",
    "q195_bm25_rrf_fusion": "1-row corpus-stats broadcast (BM25 N / avg doc length)",
    "q201_sq8_quantization_recall": "1-row per-dimension min/max scales broadcast (SQ8 quantizer metadata)",
    "q204_hard_negatives": "n_anchors-row anchor-batch broadcast (bounded query set, label-mismatch non-equi join)",
    "q215_survival_curve": "1-row corpus-max-bucket broadcast onto the per-entity frame",
    "q217_pmi_collocations": "two 1-row totals (token count x bigram count) crossed onto the scored pairs",
    "q222_conformal_intervals": "hour spine x #event-types frame (both metadata-sized) crossed — the q181 shape",
    "q224_psi_drift": "1-row median-boundary broadcast onto the value stream + 9-row decile-fraction frame crossed onto the per-group distinct-value histogram (discrete cut rank selection)",
    "q225_lang_id_kappa": "1-row kappa-totals broadcast onto the #classes-row confusion frame",
    "q227_calibration_brier": "1-row Brier/ECE-totals broadcast onto the #bins-row frame",
    "q228_ks_two_sample": "1-row sample-size broadcast onto the distinct-value ECDF frame",
    "q230_ri_audit": "per-edge 1-row stats x 1-row orphan-counts crossed (8 edges)",
    "q232_seasonal_decompose": "hour spine x #event-types frame (both metadata-sized) crossed — the q181 shape",
    "q240_woe_iv": "1-row decile-cuts broadcast onto the value stream + 9-row fraction frame crossed onto the distinct-value histogram (the q224 discrete-cut shape)",
    "q311_hill_tail_index": "1-row tail-threshold broadcast onto the 100-row top-frequency frame (both metadata-sized)",
    "q312_jackknife_shard_variance": "1-row corpus-totals broadcast onto the 16-row shard frame (the q100 shape)",
    "q250_jl_recall": "1-row projected-probe broadcast onto the corpus rankings",
    "q254_k_anonymity": "1-row row-total broadcast onto the class-size histogram (the q100 shape)",
    "q255_association_rules": "1-row basket-count broadcast onto the rule frame (the q100 shape)",
    "q273_decayed_topk": "1-row data-derived reference-timestamp broadcast onto the event stream (the q166 shape)",
    "q275_js_divergence": "1-row vocabulary-total broadcast onto the (source, term) frame (the q164 grand-total shape)",
    "q282_fightin_words": "1-row vocabulary-total broadcast onto the (source, term) frame (the q275 shape)",
    "q283_embedding_isotropy": "two 1-row frames crossed (row stats x sum-vector norm) — the q163 shape",
    "q284_graph_modularity": "1-row edge-count broadcast onto the #communities frame (the q100 shape)",
    "q285_jm_surprise": "1-row token-total broadcast onto the scored bigram stream (the q186 shape)",
    "q286_eb_shrinkage": "1-row MoM-prior (alpha, beta) broadcast onto the entity frame",
    "q287_entropy_rate": "two 1-row frames crossed (pi stats x entropy sum); q267's fixpoint is in-row since r13 so no other cross shapes remain",
    "q288_did_estimator": "1-row window-bounds broadcast onto the event stream (the q134 shape)",
    "q289_cuped": "1-row window-bounds broadcast onto the event stream (the q288 shape) + 1-row pooled-theta broadcast onto the 2-arm frame",
    "q291_skipgram_negatives": "1-row corpus-token-total broadcast onto the pair stream (the q166 shape)",
    "q293_clustering_depth": "64-row probe frame broadcast onto the #files metadata frame (containment non-equi join, both sides bounded)",
    "q294_mutual_information": "four 1-row frames crossed (total x three entropy scalars) — the q163 shape",
    "q295_good_turing": "1-row corpus-gram-total broadcast onto the count-of-counts frame (the q166 shape)",
    "q297_oof_target_encoding": "1-row grand-total broadcast onto the (key x fold) cells frame (the q100 shape)",
    "q299_tail_dependence": "3-row quantile frame broadcast onto the rank stream (bounded probe set, the q134 shape)",
    "q303_simpsons_reversal": "1-row pooled-counts broadcast onto the #segments-row frame (the q100 shape)",
    "q304_t_closeness": "#classes-row x #domain-values-row grid cross (both metadata-sized — the kendall grid rule) + 1-row global-total broadcast",
}


@pytest.fixture(scope="module")
def built(spark):
    """Every registered query built once: name -> (executed plan text,
    result schema), shared by the lint tests below."""
    import __spark_entry__ as entry
    from nyc_taxi_data_prediction_pyspark_spark.plans.explain import physical_plan

    out = {}
    for name, fn in entry.queries().items():
        df = fn(spark, SF)
        out[name] = (physical_plan(df), df.schema)
    return out


def test_no_unexpected_cross_or_nested_loop_joins(built):
    flagged = {}
    for name, (plan, _) in built.items():
        assert "CartesianProduct" not in plan, f"{name} plans a CartesianProduct"
        if "BroadcastNestedLoop" in plan and name not in BNL_ALLOWED:
            flagged[name] = "unexpected BroadcastNestedLoopJoin"
    assert not flagged, flagged


def test_bnl_allowlist_is_not_stale(built):
    """Every allowlisted query must still actually plan a BNL — a
    stale entry means the plan changed and the justification with it."""
    stale = [name for name in BNL_ALLOWED if "BroadcastNestedLoop" not in built[name][0]]
    assert not stale, f"allowlist entries no longer planning BNL: {stale}"


def test_result_types_match_oracle(built):
    """Every query's Spark schema has the oracle's column names, and no
    column carries a type hazard (tools/type_probe.classify): a value
    that compares equal as text but is a DECIMAL on one engine and an
    integer or double on the other."""
    import __spark_entry__ as entry

    sys.path.insert(0, str(ROOT / "tools"))
    import type_probe

    bad = {}
    with type_probe.connect(SF) as con:
        for name, sql in entry.oracle_sql().items():
            schema = built[name][1]
            oschema = type_probe.oracle_schema(con, sql)
            if schema.names != oschema.names:
                bad[name] = (schema.names, oschema.names)
            elif diffs := type_probe.hazards(schema, oschema):
                bad[name] = diffs
    assert not bad, bad


def test_plan_fingerprints_match(built):
    """docs/plan_fingerprints.json is the committed plan evidence: per
    query, the Exchange / broadcast-hash / sort-merge / nested-loop join
    and Python-eval node counts of its executed plan at sf0.001.  A plan
    change must show up in the diff of that file, never silently."""
    from nyc_taxi_data_prediction_pyspark_spark.plans.explain import plan_fingerprint

    want = json.loads((ROOT / "docs" / "plan_fingerprints.json").read_text())
    got = {name: plan_fingerprint(plan) for name, (plan, _) in built.items()}
    diff = [
        f"{name}: committed {want.get(name)}, built {got.get(name)}"
        for name in sorted(want.keys() | got.keys())
        if want.get(name) != got.get(name)
    ]
    assert not diff, (
        "plan fingerprints differ; if the plan change is intended, "
        "regenerate with `python tools/dump_plans.py`:\n" + "\n".join(diff)
    )
