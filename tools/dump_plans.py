"""Dump explain("formatted") physical plans of the declared queries.

Run: python tools/dump_plans.py [sf_dir]   (default /root/testdata/sf0.01)

With no query names it regenerates PLANS.md for the headline queries
below. Each section: the query's docstring (which carries its scale
rationale) followed by its explain output, so plan shape claims in the
docstrings are checkable against the actual Catalyst output.

With ``--out OUT_DIR --suffix S q_name [...]`` it writes
OUT_DIR/<q_name>_<S>.txt per named query instead — plan evidence files
such as plans/rNN/<query>_before.txt / _after.txt. The plan captured is
the returned DataFrame's physical plan (for engine-lifecycle queries that
is the READ path; the fixture build is job-level work that a single plan
cannot show).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

PREAMBLE = (
    "Measured perf investigations (regressions, variance, fixes) live in "
    "`PERF_NOTES.md` — this file is regenerated wholesale and holds only "
    "plan shapes.\n"
)

HEADLINE = [
    "q_join_inner",        # broadcast + single shuffle join
    "q_agg_basic",         # partial+final hash agg
    "q_join_range",        # bucketed band join (no theta join)
    "q_join_asof",         # window instead of range join
    "q_range_scan",        # pushdown + dedup
    "q_dedup_content",     # hash groupBy dedup
    "q_dedup_ngram_prefix",  # prefix-filtered similarity join
    "q_near_dedup",        # banded MinHash-LSH
    "q_sim_search",        # brute-force cosine top-k
    "q_sim_search_lsh",    # bucketed ANN
    "q_text_fingerprint",  # shuffle-free narrow plan
    "q_mergetree_engine",  # engine lifecycle query
    "q_sim_search_ivf",    # IVF ANN: broadcast assignment + probe prune
    "q_pipeline_prep",     # fused filters + one dedup shuffle
    "q_join_salted",       # skew-spreading (key, salt) join
    "q_sql_tpch_q1",       # full-scan agg: map-side combine, 4 groups
    "q_sql_tpch_q6",       # pushdown filter-scan, 1-row reduce
    "q_window_sessionize",  # one exchange reused by 2 windows + rollup
    "q_text_bigram_pmi",   # linear collocation: 2 count shuffles, bcast joins
    "q_embed_quantize",    # row-local lambdas, zero shuffles
    "q_projection_agg",    # projection-routed read: partials only, no raw scan
    "q_token_search",      # token-bloom pruned scan + exact predicate
    "q_limit_by",          # rank window + filter (top-N per group)
    "q_agg_if",            # N conditional metrics in one partial agg pass
    "q_sql_tpch_q4",       # EXISTS decorrelated to left-semi join
    "q_boilerplate_lines",  # corpus-global line election + join-back
    "q_embed_cluster",     # broadcast-centroid assignment, no corpus shuffle
    "q_with_fill",         # per-key distributed axis fill
    "q_pii_scrub",         # zero-shuffle codegen regex map stage
    "q_token_pack",        # per-shard running-sum window (no global state)
    "q_with_fill_interpolate",  # one Window op for 4 IGNORE NULLS anchors
    "q_limit_ties",        # WITH TIES via Partial->Final WindowGroupLimit
    "q_agg_histogram",     # bin-key partial agg: bins cross shuffle, not rows
    "q_fn_array_advanced",  # row-local HOF folds, zero shuffles
    "q_sample_by",         # sample filter below the dedup shuffle
    "q_dict_get",          # dictionary lookups: zero-join plan
    "q_join_any",          # collapse-before-join ANY semantics
    "q_set_skip",          # set(N) manifest pruning + pushed IN filter
    "q_late_materialize",  # 2-col narrow top-k scan + broadcast join-back
    "q_sharded_join",      # GLOBAL JOIN: per-shard broadcast, no fact shuffle
    "q_agg_foreach",       # element-wise array agg via exploded partials
    "q_text_perplexity",   # bigram LM: 2 count aggs + 2 equi-joins
    "q_moving_agg",        # 3 frame aggs on one window sort
    "q_bpe_pairs",         # vocab-collapse then pair expansion (r7)
    "q_bitmap_segments",   # membership dedup + user-key self-equi-join
    "q_embed_covariance",  # row-local pair gen, (i,j)-keyed reduce only
    "q_path_flow",         # lead window + (src,dst) agg, no self-join
    "q_ip_cidr",           # broadcast CIDR dim + per-ip plen election
    "q_semdedup",          # r10: within-cluster-only pairs, equi-join on cell
    "q_agg_topk",          # r10: bounded-key count agg + rank window
    "q_join_asof_tolerance",  # r10: one user sort-shuffle, row-local filter
    "q_dedup_normalized",  # r10: codegen normalize + one sha2-key agg
    "q_stat_rankcorr",     # r10: 2 windows in one group shuffle + moment agg
    "q_interval_length_sum",  # r10: sweep-line window, int64-exact agg
    "q_dsir_weights",      # r10: 64-key model agg + bcast join + sorted fold
    "q_embed_drift",       # r10: (label,dim) agg + 64-row bcast + folds
    "q_ch_dialect_modifiers",  # r10: star-modifier expansion -> plain agg
]


def explain(df) -> str:
    """``df.explain("formatted")`` output as text."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def _pop_option(flag: str) -> str | None:
    """Remove ``flag VALUE`` from sys.argv and return VALUE (None if
    absent), leaving the optional sf_dir as sys.argv[1]."""
    if flag not in sys.argv:
        return None
    i = sys.argv.index(flag)
    value = sys.argv[i + 1]
    del sys.argv[i:i + 2]
    return value


def main() -> None:
    out_dir, suffix = _pop_option("--out"), _pop_option("--suffix")
    names = [a for a in sys.argv[1:] if a.startswith("q_")]
    sys.argv[1:] = [a for a in sys.argv[1:] if a not in names]
    if (out_dir is None) != (suffix is None) or (names and out_dir is None):
        sys.exit(__doc__)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from clickhouse_mergetree_spark.registry import all_queries
    from clickhouse_mergetree_spark.session import get_spark

    qs = all_queries()
    if out_dir is not None:
        spark = get_spark("dump-query-plans")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(explain(qs[name].fn(spark, sf_dir)) + "\n")
            print(f"wrote {path}", file=sys.stderr, flush=True)
        spark.stop()
        return
    spark = get_spark("plans", cpus=8)
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` "
        "(regenerate after changing any of these queries).",
        "Each docstring states the intended plan shape; the explain output "
        "below it is the proof.",
        PREAMBLE,
        "",
    ]
    for name in HEADLINE:
        q = qs[name]
        out += [f"## {name}", "", q.doc, "", "```",
                explain(q.fn(spark, sf_dir)), "```", ""]
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
