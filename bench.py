"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS].  Prints ONE COMPACT JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {slowest 10},
 "sf": ..., "n_queries": N, "load": 1-min loadavg, "detail": path}
The FULL per-query map goes to BENCH_local.json (stdout tail-capture
windows truncated the 4.6 KB full line in rounds 4-6 -> parsed:null).

Second lane: SPARK_GRAFT_BENCH_ALL=1 times EVERY catalog query (the 86
that the headline set never covered, plus the stream family) once at
$SPARK_GRAFT_SF_DIR and merges them into BENCH_local.json under
"queries_all" so tools/bench_compare.py can flag regressions anywhere in
the registry, not just the headline set.

Both lanes SELF-STABILIZE (r8): the headline lane medians >=3 timed reps
per query, and any query whose fresh reading exceeds 1.5x its committed
BENCH_local.json value is re-timed median-of-3 in the same run with the
min kept — contention and JIT only ever ADD time, so the artifact is
quiet-host-quality regardless of who runs it ("restabilized" lists the
re-timed queries).

Write contract (r9, r8 verdict item 4): the committed BENCH_local.json
is only touched when SPARK_GRAFT_BENCH_WRITE=1 (the builder's quiet-host
ritual) or SPARK_GRAFT_BENCH_OUT names it explicitly; any other run —
the driver's per-round invocation in particular — writes the full map to
/tmp scratch and leaves the worktree clean.  Restabilized queries keep
their raw pre-restabilization median beside the kept min
("restabilized_raw" / "restabilized_only_raw*"; r8 ADVICE #4), and
session-cached artifact builds that land in the untimed warm rep are
surfaced as "session_build_secs" (r8 ADVICE #3).

ONLY-mode cold-JIT guard (r8, learned on supplier_bt): a 1-2 query
session leaves Spark's scheduler/JIT so cold that ITERATIVE queries
(driver loops issuing 10+ small jobs) read ~2x high even on a quiet
host — supplier_bt read 6.9-7.8s alone but 3.27s after iterative
companions.  Every ONLY session therefore drives two iterative warm-up
queries UNTIMED before timing the targets (verified: bare
ONLY=supplier_bt reads 3.69s with the guard); the min-merge keeps the
lowest honest reading either way.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mcpvectordb_spark.catalog import QUERIES
from mcpvectordb_spark.session import get_spark

# Headline set: scan-heavy agg, join pipeline, vector search (point + batch),
# FTS + hybrid, dedup at corpus scale, event-stream analytics, curation stats.
BENCH_QUERIES = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "top_orders_per_priority",
    "knn_topk",
    "knn_batch",
    "ivf_topk",
    "knn_sq8_topk",
    "bm25_topk",
    "hybrid_rrf",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "text_quality",
    "text_fingerprint",
    "events_hourly",
    "events_sessions",
    "events_json",
    "events_asof_join",
    "events_interval_join",
    "events_running",
    "events_distinct_rollup",
    "orders_rollup",
    "pack_sequences",
    "ingest_chunks",   # write path: chunk → embed → dedup gate → partitioned write
    # round-2 additions
    "text_keywords",         # corpus-wide TF-IDF + per-doc window
    "text_logprob",          # unigram log-prob quality scoring
    "events_heavy_hitters",  # MG candidates + exact recount
    "knn_matryoshka",        # truncated-dim coarse scan + exact refine
    "doc_embeddings",        # chunk→doc mean-pool + doc-level KNN
    "weighted_sample",       # A-ES top-n over hash uniforms
    "decontaminate_bloom",   # broadcast-Bloom pre-prune + exact verify
    # round-3 additions
    "decontaminate_bloom_persisted",  # probe-only cost: bloom built+saved on warm run
    "semdedup",              # k-means cells as candidate buckets + within-cell cosine
    "bpe_train",             # distributed word histogram + incremental merge loop
    "nb_lang_classify",      # NB train+classify as pure aggregation
    "events_overlap_join",   # interval x interval, report-once bins
    "dedup_clusters_twostar",# large/small-star contraction CC
    "pack_bins",             # FFD no-split packing + padding stats
    "bm25_fuzzy",            # Levenshtein query expansion + BM25
    "dedup_lines",           # C4-style line-level corpus dedup
    "dedup_spans",           # span-level cross-doc dup fraction
    "events_funnel",         # ordered funnel (chained keyed aggs)
    "events_cohorts",        # day-cohort retention
    "events_quantile_sketch",# mergeable histogram quantiles + exact gate
    "hybrid_weighted",       # min-max blend fusion
    "knn_pq_topk",           # PQ codes ADC coarse scan + exact refine
    "knn_pca",               # PCA projection coarse scan + exact refine
    "text_ngram_lm",         # trigram-LM corpus self-scoring
    "events_cms",            # Count-Min sketch build + probe + exact gate
    "orders_bloom_join",     # bloom semi-join reduction vs plain join
    "dedup_span_removal",    # destructive cross-doc span rewrite
    "multimodal_image_neardup",  # pixel decode + dHash + Hamming-block join
    # session-3 additions
    "lm_dirichlet",          # Dirichlet QL scoring over the shared posting list
    "rm3_expansion",         # two-pass feedback retrieval
    "tfidf_simjoin",         # sparse-vector cosine all-pairs via inverted index
    "assoc_rules",           # basket-pair support/confidence/lift
    "parts_pagerank",        # 10-iteration weighted power iteration
    "knn_mmr",               # greedy diversity rerank over a top-100 pool
    "bpe_encode",            # trained-merge application kernel
    # session-4 additions
    "dsir_select",           # hashed-ngram importance weights + Gumbel-top-k
    "url_normalize",         # canonical URLs + registered domains (pure projection)
    "text_compression",      # zlib deflate-ratio Arrow kernel
    "blocklist_filter",      # C4 badwords array-intersection gate
    "ccnet_buckets",         # unigram-logprob tercile split
    "web_pipeline",          # fused 4-gate web-filtering funnel, one scan
    "chat_stats",            # JSON conversation validation + flattening
    "train_split",           # group-coherent hash split + coherence audit
    # round-4 additions
    "events_gapfill",        # per-key grid resample + linear interpolation
    "customers_scd2",        # SCD2 interval build (2 windows)
    "winnowing_fp",          # MOSS winnowing via windowed argmin
    "events_attribution",    # last-touch window attribution
    "copurchase_triangles",  # degree-ordered exact triangle census
    "lr_quality",            # 10-iteration distributed logistic GD
    "w2v_search",            # SPPMI-SVD word-vector train + doc embed + knn
    "audio_fingerprint",     # spectral constellation landmarks + offset voting
    "events_ab_test",        # two-proportion z-test over hash variants
    "events_mad_outliers",   # median/MAD modified z-score outliers
    "entity_match",          # blocked Levenshtein entity resolution
    "pii_luhn",              # Luhn-validated card scrubbing
    "target_encoding",       # leave-one-out target encoding
    "woe_binning",           # equal-frequency WOE/IV binning
    "mixture_temperature",   # temperature-scaled mixture weights
    "dq_audit",              # one-scan Deequ-style constraint report
    "events_cusum",          # CUSUM change-point chart (running-max identity)
    "orders_benford",        # Benford first-digit audit + chi-square
    "events_seqmine",        # gapped sequential-pattern support
    "lineitem_corr",         # one-pass correlation matrix
    "rag_context",           # top-k retrieval packed under a token budget
    "search_eval",           # batch BM25 + MRR/hits@10/nDCG harness
    "ssjoin_jaccard",        # AllPairs prefix-filtered exact Jaccard join
    "textrank_summary",      # per-doc sentence TextRank (5 power iters)
    "item_recs",             # item-item CF top-5 recommendations
    "part_skyline",          # sort-scan 2-D Pareto frontier
    "graph_bfs",             # multi-source BFS depth-3 hop distances
    "events_ewma",           # trailing-window EWMA smoothing + deviations
    "events_markov",         # transition-chain stationary distribution
    "key_skew_report",       # heavy-key shares + Gini skew diagnostics
    "parts_zorder",          # Morton-key bit interleave (codegen fold)
    "parts_hits",            # HITS hubs/authorities, 4 L1-normalized iters
    "parts_communities",     # deterministic sync label propagation
    "events_theilsen",       # robust median-slope trend per type
    "orders_ivm",            # O(delta) join-view maintenance
    "events_ewma_recursive", # O(L) stateful fold vs O(L^2) oracle
    "parts_ppr",             # random walk with restart from seed suppliers
    "orders_agg_ivm",        # signed-delta aggregate-view refresh
    "parts_kcore",           # 4-round k-core peeling
    "events_winsorize",      # winsorize + median/IQR robust scaling
    "events_survival",       # Kaplan-Meier conversion curve w/ censoring
    "parts_linkpred",        # Adamic-Adar wedge join + broadcast degrees
    "events_mannwhitney",    # rank-sum test over distinct-value midranks
    "orders_kmv",            # KMV sketch intersection, TakeOrdered top-k
    "events_stl",            # STL-lite decomposition on daily aggregate
    "events_holt",           # Holt level+trend fold, 3-day forecast
    "events_changepoint",    # closed-form binary-segmentation split
    "events_acf",            # lag-joined ACF over the densified hourly grid
    "parts_ols",             # one-pass Gram-matrix OLS, Cramer closed form
    "events_xcorr",          # pairwise lead-lag xcorr on the shared grid
    "events_catassoc",       # chi2/MI/Cramer's V off one contingency pass
    "customers_gini",        # Gini + top-share concentration via value blocks
    "phrase_search",         # positional-index exact phrase query
    "lr_isotonic",           # minimax-identity PAVA over calibration blocks
    "supplier_bt",           # Bradley-Terry MM over head-to-head games
    "events_hw",             # Holt-Winters seasonal fold, 7-day forecast
    "events_pacf",           # Durbin-Levinson recursion off the rounded ACF
    "near_search",           # NEAR/k proximity over positional postings
    "parts_conformal",       # split-conformal radius off block quantiles
    "vocab_zipf",            # Zipf slope over rank-frequency vocabulary
    "orders_fd",             # FD discovery over all column pairs
    "events_quantile_norm",  # rank map onto the pooled distribution
    "mix_raking",            # IPF toward dual marginal targets
    "events_dispersion",     # Fano/CV2/dispersion-test moments
    "events_sprt",           # sequential LLR walk + first crossing
    "events_ddsketch",       # log-bucket quantiles + in-plan bound gate
    "search_clarity",        # KL(feedback RM || collection LM) QPP
    "search_rbo",            # top-weighted ranker-agreement RBO@10
    "embedding_isotropy",    # eigen-free PR + exact mean pairwise cosine
    "events_mase",           # HW-vs-seasonal-naive forecast skill
    "events_attribution_ushaped",  # 40/20/40 multi-touch credits
    "events_periodogram",    # direct DFT power at candidate periods
    "events_ks",             # exact block-CDF two-sample KS test
    "customers_eb_rates",    # beta-binomial shrinkage of noisy rates
    "events_entropy_rate",   # next-event conditional entropy + MI
    "vocab_burstiness",      # Church-Gale adaptation over the vocabulary
    "events_did",            # DiD four-cell estimate + A/A placebo
    "minhash_calibration",   # agreement-vs-exact-Jaccard estimator audit
    "lineitem_spearman",     # exact midrank-block Spearman matrix
    "events_logrank",        # Mantel-Cox O-E survival test, A/A gate
    "events_coxph",          # Cox PH Newton fit on risk-set counts
    "events_interarrival",   # Goh-Barabasi gap burstiness + memory
    "events_bootstrap",      # Poisson bootstrap: 100 replicas, one scan
    "hard_negatives",        # DPR-style negatives off the BM25 ranker
    "events_psi",            # decile-bin PSI drift between stream halves
    "parts_graph_metrics",   # modularity + assortativity + transitivity
    "embedding_drift",       # per-label centroid cosine/shift monitor
    "customers_kanon",       # k-anonymity / l-diversity release audit
    "lr_eval",               # midrank AUC/Brier/logloss/ECE over prob blocks
    "events_attribution_markov",  # removal-effect chains via 6 matrix squarings
    "feature_auc",           # univariate AUC screening, feature-partitioned ranks
    "lr_pr_curve",           # average precision + 11-point interpolated PR curve
    "events_cuped",          # CUPED variance-reduced A/B readout, A/A gate
    "events_synthctrl",      # synthetic-control donor fit + placebo gap
    "documents_heaps",       # Heaps-law vocabulary growth over shingles
    "events_bh_fdr",         # BH-FDR across per-type A/B Welch z-tests
    "events_anova",          # one-way ANOVA F / eta^2 across event types
    "lineitem_kendall",      # exact Kendall tau-b via 2-D value blocks
    "customers_rfm",         # RFM quartile segmentation, block-based boundaries
    "events_mann_kendall",   # per-type MK trend test, day-panel pair join
    "documents_lexdiv",      # TTR / hapax / Simpson per source
    "events_shapley",        # exact Shapley credit over coalition blocks
    "documents_stump",       # CART Gini stump over feature value blocks
    "text_chi2_terms",       # chi-square term selection per language
    "embeddings_kmeans",     # replayable 2-iter Lloyd, broadcast assignment
    "embeddings_silhouette", # O(n*k) simplified silhouette on the same fit
    "events_power_mde",      # per-type MDE from exact pooled moments
    "sources_overlap",       # source-pair shingle Jaccard on the shared index
    "parts_abc",             # Pareto revenue classes via bucketed cumsum
    # round-8 additions
    "tokenizer_fertility",   # per-lang subword fertility, one-scan lang agg
    "doc_novelty",           # corpus-unique shingle share on the shared index
    "dataset_datasheet",     # per-source datasheet rollup (3 keyed aggs)
    "source_leakage",        # cross-source near-dup matrix on the 0.02 pairs
    # round-9 additions
    "dup_cluster_sizes",     # exact-dup cluster histogram (2 digest aggs)
    "dedup_survivors",       # keep-one per-source savings + cross-source loss
    "ngram_coverage",        # top-100 shingle concentration curve
    "near_dup_rate_by_source",  # per-source exposure on the shared pair table
    "contamination_by_source",  # decontaminate gate rolled up per source
    "lang_confusion",        # NB label-noise confusion matrix
    "length_profile_by_source", # per-source p10/p50/p90 + short-doc share
    "pair_jaccard_histogram",   # pair-similarity deciles on the shared pairs
    # (stream_* queries stay out of bench by policy: they time Structured
    # Streaming harness startup, not operator cost)
]

# Sub-2s queries whose round-over-round deltas were noise-sized (r03 verdict
# item 5): time 5 runs and report the median so a single GC pause or host
# blip can't read as a regression.
REPS = {
    "hybrid_rrf": 5,
    "hybrid_weighted": 5,
    "bm25_topk": 5,
    "bm25_fuzzy": 5,
    "dedup_minhash_lsh": 5,
    "events_cohorts": 5,
    # r4 verdict's only >1.4x round-over-round reads were these two at
    # n=1 — both run-to-run noise, not regressions; median-of-5 them
    "dedup_clusters_twostar": 5,
    "knn_batch": 5,
    # round-6 second batch: all sub-2s once their session-shared state is
    # warm — median-of-5 so host blips don't read as regressions
    "documents_stump": 5,
    "embeddings_kmeans": 5,
    "embeddings_silhouette": 5,
    "events_power_mde": 5,
    "events_shapley": 5,
    # r7: the single >1.5x read of the round (1.47->3.26s) collapsed to a
    # ~1.9s steady state on a quiet host after the first timed run — the
    # first post-warm execution still pays lingering JIT; median-of-5
    # absorbs it
    "events_quantile_sketch": 5,
}


def resolve_out_path(repo_bench: str, env=None) -> str:
    """Where the full per-query map goes (r8 verdict item 4): the repo's
    committed BENCH_local.json is opt-in via SPARK_GRAFT_BENCH_WRITE=1
    (the builder's quiet-host ritual) or an explicit
    SPARK_GRAFT_BENCH_OUT; every other invocation — the driver's
    per-round run in particular — writes to a /tmp scratch path so the
    worktree the driver snapshots stays clean and nobody diffs its
    contended-host numbers as phantom regressions."""
    env = os.environ if env is None else env
    if env.get("SPARK_GRAFT_BENCH_OUT"):
        return env["SPARK_GRAFT_BENCH_OUT"]
    if env.get("SPARK_GRAFT_BENCH_WRITE"):
        return repo_bench
    return "/tmp/spark_graft_BENCH_local.json"


def update_doc(
    doc: dict,
    timings: dict[str, float],
    restabilized: list[str],
    raw_medians: dict[str, float],
    *,
    bench_all: bool,
    only: bool,
    sf: float,
    load: float,
    total: float,
) -> dict:
    """Fold one run's results into the artifact doc (pure; unit-tested).

    Three shapes: a full headline lane, a full registry lane
    (``bench_all``), or an ONLY-mode re-measure merged into either.  The
    ONLY path min-merges against the committed values (contention and
    short-session JIT only ever ADD time) but — r8 ADVICE #4 — now also
    persists its audit trail: the fresh post-restabilization medians
    (``fresh_only*``), which queries were restabilized in-run
    (``restabilized_only*``), and their raw pre-restabilization medians
    (``restabilized_only_raw*``), so a slowdown that recurs across
    re-measure sessions is distinguishable from one-off host noise."""
    qkey = "queries_all" if bench_all else "queries"
    lane = "_all" if bench_all else ""
    if only:
        merged = dict(doc.get(qkey) or {})
        for name, t in timings.items():
            merged[name] = min(t, merged.get(name, t))
        doc[qkey] = merged
        doc["load_remeasure" if bench_all else "load"] = load
        # keep the lane total in sync with its merged map (r7 ADVICE: the
        # ALL+ONLY path used to update queries_all but leave value_all stale)
        doc["value_all" if bench_all else "value"] = round(
            sum(merged.values()), 3
        )
        doc[f"fresh_only{lane}"] = {
            **(doc.get(f"fresh_only{lane}") or {}), **timings
        }
        doc[f"restabilized_only{lane}"] = sorted(
            set(doc.get(f"restabilized_only{lane}") or []) | set(restabilized)
        )
        doc[f"restabilized_only_raw{lane}"] = {
            **(doc.get(f"restabilized_only_raw{lane}") or {}), **raw_medians
        }
    elif bench_all:
        doc.update(
            {"queries_all": timings, "sf_all": sf, "load_all": load,
             "value_all": total, "restabilized_all": restabilized,
             "restabilized_all_raw": raw_medians}
        )
        # a full-lane run supersedes any prior ONLY-session audit trail
        for k in ("fresh_only_all", "restabilized_only_all",
                  "restabilized_only_raw_all"):
            doc.pop(k, None)
    else:
        doc.update(
            {"metric": "headline_queries_total", "value": total,
             "unit": "sec", "queries": timings, "sf": sf, "load": load,
             "n_trials": 3, "restabilized": restabilized,
             "restabilized_raw": raw_medians}
        )
        for k in ("fresh_only", "restabilized_only", "restabilized_only_raw"):
            doc.pop(k, None)
    return doc


def main() -> None:
    bench_all = bool(os.environ.get("SPARK_GRAFT_BENCH_ALL"))
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.01" if bench_all else "/root/testdata/sf0.1",
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # 1-min loadavg BEFORE Spark starts: background contention is what the
    # quiet-host rule cares about — sampling at the end would just read
    # this bench's own local[32] usage (~20+) every time.
    load = round(os.getloadavg()[0], 2)
    spark = get_spark("bench")
    # The driver's capture window mixes stderr into its tail: round-8's
    # BENCH artifact tail was 100% `WARN WindowExec` spam (the allowlisted
    # k-bounded global windows fire one line per execution) and the JSON
    # stdout line risks being pushed out.  Benches run at ERROR; the WARN
    # surface stays on everywhere else (tests, parity, ad-hoc sessions).
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths and materialize tables distributed across
    # all cores (the single-row-group testdata files are unsplittable — a
    # real cluster's data arrives pre-distributed; see io.enable_table_cache).
    from mcpvectordb_spark.io import enable_table_cache

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    enable_table_cache(
        spark, sf_dir,
        ["lineitem", "orders", "customer", "supplier", "nation", "region",
         "documents", "embeddings", "events"],
    )

    # Steady-state timing: every query runs twice — the first run pays
    # one-time plan analysis + whole-stage codegen compilation (a cost a
    # long-lived engine amortizes to zero), the second run is timed.
    # Materialization is a `noop`-format write: a bare .count() would let
    # Catalyst PRUNE the projections/aggregate expressions being measured
    # (verified: the optimized plan of select(md5(x)).count() has no md5).
    names = list(QUERIES) if bench_all else BENCH_QUERIES
    # Quiet-host re-measure protocol (r6 verdict item 4): re-time just the
    # named queries and MERGE them into the existing map, so a >1.5x
    # regression can be re-baselined on a quiet host without a full run.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only_names = [s for s in only.split(",") if s]
    if only_names:
        unknown = set(only_names) - set(QUERIES)
        if unknown:
            raise SystemExit(f"unknown bench queries: {sorted(unknown)}")
        names = only_names
        # Cold-JIT guard (r8, learned on supplier_bt): a 1-2 query
        # session reads ~2x high on ITERATIVE queries, so every ONLY
        # session first drives two iterative warm-up queries UNTIMED —
        # the operator no longer has to remember to add companions.
        # r9, learned on stream_dedup (3.3s warm, 7.4-10.5s in a cold
        # session): the iterative warm-ups do NOT warm Structured
        # Streaming's machinery (state store, micro-batch scheduler), so
        # a stream_* target additionally drives one streaming warm-up.
        warmups = ["parts_pagerank", "events_holt"]
        if any(n.startswith("stream_") for n in only_names):
            warmups.append("stream_hourly")
        for wname in warmups:
            if wname in QUERIES and wname not in only_names:
                QUERIES[wname](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
    # Committed per-query reference for the SELF-STABILIZING lane (r8
    # verdict item 2): when a fresh reading exceeds 1.5x the committed
    # value on unchanged code it is almost always host contention or
    # lingering JIT, not a regression — re-time median-of-3 and keep the
    # min, so the artifact is quiet-host-quality regardless of who runs
    # it.  Only applicable when this run's sf matches the committed
    # lane's sf (a different scale legitimately changes every number).
    repo_bench = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"
    )
    committed: dict[str, float] = {}
    try:
        with open(repo_bench) as fh:
            cdoc = json.loads(fh.read())
        csf = cdoc.get("sf_all" if bench_all else "sf")
        if csf is not None and abs(csf - sf) < 1e-9:
            committed = dict(
                cdoc.get("queries_all" if bench_all else "queries") or {}
            )
    except (OSError, ValueError):
        pass

    def _time_reps(fn, reps: int) -> list[float]:
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return runs

    timings: dict[str, float] = {}
    restabilized: list[str] = []
    # r8 ADVICE #4: the raw PRE-restabilization median of every
    # restabilized query is persisted beside the kept min, so a slowdown
    # that re-appears across rounds (flaky-real, e.g. contention-
    # sensitive) is distinguishable from one-off host noise in the
    # artifact history instead of being silently smoothed away.
    raw_medians: dict[str, float] = {}
    for name in names:
        fn = QUERIES[name]
        n = fn(spark, sf_dir).count()  # warm: codegen + page cache + row count
        # ONLY mode (re-measure) always medians >=5 runs: a 2-query session
        # leaves the JIT colder than the 179-query run whose value is being
        # re-checked, and a single timed rep reads ~1.5x high on sub-2s
        # queries (observed on mixture_temperature/events_seqmine, r7).
        # The headline lane medians >=3 runs (r8 verdict item 3) so
        # cross-round totals stop drifting on one-rep host blips.
        reps = 1 if bench_all else (
            max(REPS.get(name, 1), 5) if only_names else
            max(REPS.get(name, 1), 3)
        )
        runs = _time_reps(fn, reps)
        est = sorted(runs)[len(runs) // 2]  # median
        ref = committed.get(name)
        if ref and est > 1.5 * ref:
            raw_medians[name] = round(est, 3)
            extra = _time_reps(fn, 3)
            est = min(est, sorted(extra)[1])
            reps += 3
            restabilized.append(name)
        timings[name] = round(est, 3)
        print(f"# {name}: {timings[name]:.3f}s rows={n} (n={reps})", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # r8 verdict item 4: scratch path unless the builder opted in — the
    # stdout line the driver records is identical either way.
    out_path = resolve_out_path(repo_bench)
    # The FULL per-query map lives in the file; rounds 4-6 proved that any
    # stdout line carrying all ~265 entries outgrows the driver's
    # tail-capture window and ships as parsed:null.  Merge the two lanes so
    # one file carries both the sf0.1 headline map ("queries") and the
    # sf0.01 full-registry map ("queries_all").
    # Seed the output doc from the COMMITTED artifact when writing to a
    # scratch path (a stale /tmp file from an earlier run must not leak
    # into this one); from the file itself when updating it in place.
    seed_path = (
        out_path
        if os.path.abspath(out_path) == os.path.abspath(repo_bench)
        else repo_bench
    )
    try:
        with open(seed_path) as fh:
            doc = json.loads(fh.read())
    except (OSError, ValueError):
        doc = {}
    doc = update_doc(
        doc, timings, restabilized, raw_medians,
        bench_all=bench_all, only=bool(only_names), sf=sf, load=load,
        total=total,
    )
    # One-off session build costs that the warm rep absorbs (r8 ADVICE
    # #3: the knn_pq_refined codebook train moved into the UNTIMED warm
    # rep when it became session-cached, so its 4-6s appeared in no
    # number at all).  Every session-cached artifact records its build
    # seconds at miss time; surfacing them here keeps the ledger honest.
    from mcpvectordb_spark.catalog._common import SESSION_BUILD_SECONDS

    if SESSION_BUILD_SECONDS:
        doc["session_build_secs" + ("_all" if bench_all else "")] = {
            k: round(v, 3) for k, v in sorted(SESSION_BUILD_SECONDS.items())
        }
    with open(out_path, "w") as fh:
        fh.write(json.dumps(doc) + "\n")

    # Stdout gets a COMPACT line that always fits the capture window:
    # totals + the 10 slowest queries + a pointer to the full map.
    slow10 = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    print(
        json.dumps(
            {
                "metric": ("all_queries_total" if bench_all
                           else "headline_queries_total"),
                "value": total,
                "unit": "sec",
                "queries": slow10,
                "sf": sf,
                "n_queries": len(timings),
                "n_trials": 1 if bench_all else 3,
                "n_restabilized": len(restabilized),
                # untimed session-cache build cost (codebooks, BM25 index
                # ...) — kept visible so cached-artifact queries can't
                # hide their one-off training in the warm rep (r8 ADVICE)
                "build_secs": round(sum(SESSION_BUILD_SECONDS.values()), 2),
                "load": load,
                "detail": os.path.basename(out_path),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
