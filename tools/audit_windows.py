"""Global-window boundedness audit (VERDICT r4 item 6).

Enumerates every unpartitioned `Window.orderBy(...)` site in the package and
classifies each by the bounded frame it ranks. FAILS (exit 1) if a site's
enclosing function has no classification — so any new global window must be
classified here (or repartitioned) before it can land.

Categories (what the window actually sorts — never the raw corpus unless
marked row-scale):

  calendar   gap-filled date/hour/week histogram — cardinality is elapsed
             time (the synthetic corpus spans ~1 month; production spans a
             retention window), independent of corpus row count.
  vocab      term-dictionary / n-gram / token-type tables — bounded by
             vocabulary size (closed 31-token vocab here; ~1e6 terms in
             production), not document count.
  k-page     post-top-k result pages, k*block-width child sets, shard-local
             top-k unions — bounded by the query's k. ranked_topk()
             (parity.py:48) is the canonical safe pattern: orderBy().limit(k)
             compiles to TakeOrderedAndProject, window ranks only survivors.
  group-stat small aggregated panels — nations, A/B arms, deciles, bins,
             p-value families, files/segments/buckets in layout plans.
  value-grid distinct-(group, value) count tables used by rank tests
             (Mann-Whitney/Wilcoxon/KS/AUC ...) — bounded by the value
             domain; the count table IS the sufficient statistic, so the
             sort never touches raw rows.
  entity     per-entity aggregate tables (users, customers, parts,
             suppliers, graph nodes) — grows with scale but is the
             aggregated dimension (orders of magnitude below corpus rows);
             diagnostics only, not on build/serve hot paths.
  row-scale  genuinely corpus-row-proportional global sorts. ZERO remain
             as of round 6: every former site was promoted to the
             distributed rank/ntile/running-aggregate helpers
             (parity.distributed_row_number / distributed_ntile /
             distributed_running — range-repartition + per-partition
             offsets, bit-identical on the total orders every caller
             passes). Any new row-scale window must be promoted the same
             way before it can land.

Usage: python tools/audit_windows.py   (prints the table; exit 1 on
unclassified sites or a non-empty row-scale class)
"""
from __future__ import annotations

import ast
import collections
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "lucene_mapreduce_spark")

# enclosing function -> category (see header). Reviewed per-site 2026-08-20
# (round 5): every site's ranked input was read in context. Round 6: all 13
# former row-scale functions promoted to the distributed helpers — the
# class is now empty and must stay empty.
CLASS: dict[str, str] = {
    # --- fulltext.py
    "search_collapse": "group-stat",      # rank over per-group leaders
    "search_grouped_topn": "group-stat",  # lang leaders
    "to_child_block_join": "k-page",      # k parents x block width (inline note)
    "stopword_pruning_plan": "vocab",
    "shard_score_merge_audit": "k-page",  # shards x local-k union
    "maxscore_term_partition": "vocab",   # query/corpus term stats
    "lfu_cache_hit_curve": "vocab",
    "alpha_ndcg_diversity": "k-page",
    # --- similarity.py
    "covariance_topk_dims": "group-stat",  # embedding dims (fixed width)
    # --- textstats.py
    "fighting_words_log_odds": "vocab",
    "gini_coefficient": "vocab",  # ranks the term-frequency table,
    "good_turing_counts": "vocab",
    "hits_authority_3iter": "entity",
    "neyman_allocation_plan": "group-stat",
    "sampled_topk_fidelity": "k-page",
    "stopword_coverage": "vocab",
    "term_dict_frontcoding_report": "vocab",
    "textrank_keywords": "vocab",
    "umass_topic_coherence": "vocab",
    "variable_width_histogram_agg": "value-grid",
    "vocab_coverage_curve": "vocab",
    "zipf_fit": "vocab",
    # --- relational.py
    "abc_classification": "entity",
    "delta_varint_audit": "group-stat",
    "dpp_benefit_audit": "group-stat",
    "extremal_index_runs": "calendar",     # daily-grid exceedances
    "file_overlap_depth": "group-stat",
    "file_skipping_audit": "group-stat",
    "hilbert_layout_plan": "group-stat",
    "histogram_quantile_audit": "value-grid",
    "katz_index_pairs": "entity",
    "link_prediction_scores": "entity",
    "min_cost_supplier": "entity",
    "part_affinity_lift": "entity",
    "part_pagerank_3iter": "entity",
    "personalized_pagerank": "entity",
    "returned_item_customers": "entity",
    "rfm_segments": "entity",
    "rle_encodability_audit": "group-stat",
    "salt_factor_plan": "group-stat",
    "shipping_priority_topk": "k-page",    # limit(k) before the window (fixed r5)
    "waiting_orders_suppliers": "entity",
    "zorder_layout_plan": "group-stat",
    # --- parity.py (pipeline/stat families)
    "_daily_rank2": "calendar",
    "activity_h_index": "entity",
    "ansari_bradley_scale_test": "value-grid",
    "arch_lm_test": "calendar",
    "auc_hanley_mcneil_ci": "value-grid",
    "autocorrelation_daily": "calendar",
    "bass_diffusion_fit": "calendar",
    "bh_fdr_procedure": "group-stat",
    "binseg_changepoint": "calendar",
    "bollinger_bands_daily": "calendar",
    "brunner_munzel_arms": "value-grid",
    "bucket_count_ks_test": "group-stat",
    "bucket_sort_pipeline": "group-stat",
    "cliffs_delta_effect": "value-grid",
    "competing_risks_cif": "calendar",
    "conformal_interval_calibration": "calendar",  # windows over the day histogram,
    "cumulative_cardinality_pipeline": "calendar",
    "cumulative_gains_deciles": "group-stat",  # deciles via distributed_ntile (r6); cum window over BRIER_BINS rows
    "cumulative_sum_pipeline": "calendar",
    "dense_rank_ties_page": "k-page",
    "derivative_pipeline": "calendar",
    "dp_exponential_mechanism": "group-stat",
    "durbin_watson_daily": "calendar",
    "energy_distance_values": "value-grid",
    "fdr_bh_nation_uniformity": "group-stat",
    "forecast_baseline_backtest": "calendar",
    "gesd_outliers_3round": "calendar",
    "grubbs_outlier_day": "calendar",
    "hill_tail_index": "k-page",  # limit(k+1) before the window (fixed r5),
    "holm_bonferroni_gate": "group-stat",
    "hurst_exponent_daily": "calendar",
    "index_rollover_plan": "group-stat",
    "isotonic_calibration_bins": "group-stat",
    "kaplan_meier_survival": "calendar",
    "km_greenwood_ci": "calendar",
    "kruskal_wallis_h": "value-grid",
    "ks_two_sample": "value-grid",
    "ljung_box_q": "calendar",
    "mann_whitney_u": "value-grid",
    "mase_backtest": "calendar",
    "moving_avg_pipeline": "calendar",
    "moving_fn_pipeline": "calendar",
    "moving_median_pipeline": "calendar",
    "nelson_aalen_hazard": "calendar",
    "newest_k_generations": "group-stat",  # <=6 generations
    "page_hinkley_drift": "calendar",
    "pareto_share_curve": "entity",
    "pinball_loss_backtest": "calendar",
    "price_ending_audit": "group-stat",
    "qini_uplift_deciles": "group-stat",  # deciles via distributed_ntile (r6); cum window over 10 rows
    "quade_test_months": "group-stat",
    "quantile_disc_cont_audit": "value-grid",
    "randomized_response_debias": "group-stat",
    "range_rows_frame_gate": "calendar",
    "ranked_topk": "k-page",  # limit(k) BEFORE the window — canonical pattern
    "ratio_to_ma_seasonal_indices": "calendar",
    "records_test_daily": "calendar",
    "rmst_survival": "calendar",
    "runs_test_daily": "calendar",
    "runs_updown_test": "calendar",
    "serial_diff_pipeline": "calendar",
    "sharpe_sortino_daily": "calendar",
    "slo_burn_alerts": "calendar",
    "sprt_daily_llr": "calendar",
    "storey_qvalue_panel": "group-stat",
    "tenure_hazard_table": "calendar",
    "theil_u2_forecast": "calendar",
    "theta_forecast_backtest": "calendar",
    "trimmed_winsorized_means": "value-grid",
    "turning_point_test": "calendar",
    "variance_ratio_test": "calendar",
    "weekly_periodogram_power": "calendar",
    "western_electric_rules": "calendar",
    "wilcoxon_signed_rank": "value-grid",
    "window_rank_functions": "k-page",
    "youden_j_threshold": "value-grid",
}


def enumerate_sites() -> list[tuple[str, int, str]]:
    sites = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, REPO)
            # a site is attributed to its INNERMOST ENCLOSING def, resolved
            # from the AST (ADVICE r5: the previous column-0 re.match
            # classified sites inside nested helpers under the outer
            # top-level name; indent heuristics break on multiline
            # signatures) — smallest enclosing span wins
            src = open(path).read()
            funcs = [
                (node.lineno, node.end_lineno, node.name)
                for node in ast.walk(ast.parse(src))
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for i, ln in enumerate(src.splitlines(), 1):
                if ln.lstrip().startswith("#"):
                    continue
                if re.search(r"Window\.orderBy|Window\(\)\.orderBy", ln):
                    cur, span = "<module>", None
                    for s, e, nm in funcs:
                        if s <= i <= e and (span is None or e - s < span):
                            cur, span = nm, e - s
                    sites.append((rel, i, cur))
    return sites


def main() -> int:
    sites = enumerate_sites()
    by_cat: dict[str, list] = collections.defaultdict(list)
    missing = []
    for rel, line, fn in sites:
        cat = CLASS.get(fn)
        if cat is None:
            missing.append((rel, line, fn))
        else:
            by_cat[cat].append((rel, line, fn))

    total = len(sites)
    print(f"{total} unpartitioned Window.orderBy sites "
          f"in {len({f for _, _, f in sites})} functions\n")
    for cat in ("calendar", "vocab", "k-page", "group-stat", "value-grid",
                "entity", "row-scale"):
        rows = by_cat.get(cat, [])
        fns = sorted({f for _, _, f in rows})
        print(f"{cat:10s} {len(rows):3d} sites / {len(fns):3d} functions")
        if cat == "row-scale":
            for f in fns:
                where = [f"{r}:{ln}" for r, ln, fx in rows if fx == f]
                print(f"            - {f} ({', '.join(where)})")
    if missing:
        print("\nUNCLASSIFIED (add to CLASS or repartition):")
        for rel, line, fn in missing:
            print(f"  {rel}:{line}  in {fn}")
        return 1
    if by_cat.get("row-scale"):
        print("\nrow-scale must stay empty: promote these sites to the "
              "distributed rank/ntile/running helpers")
        return 1
    print("\nall sites classified")
    return 0


if __name__ == "__main__":
    sys.exit(main())
