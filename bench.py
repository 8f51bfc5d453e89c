"""Headline-query benchmark — the driver's per-round perf probe.

Runs a fixed set of representative queries from the registry at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints EXACTLY ONE JSON line to stdout:

    {"metric": "headline_wall_sec", "value": <total>, "unit": "sec",
     "queries": {"q30": 0.71, ...}, "sf": 0.1}

Everything else (Spark logs) goes to stderr. Each query is fully executed
through Spark's `noop` benchmark sink: every operator (scan, shuffle,
sort, agg) runs to completion, but result rows are not shipped to the
Python driver — so the timing measures engine throughput, not Py4J row
conversion of 600k-row ORDER BY outputs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


# Representative of every operator family that exists in the registry;
# unknown names are skipped so bench never breaks when run against an
# older checkout.
HEADLINE = [
    "q01",  # scan count
    "q02",  # pruned scan + global sort
    "q10",  # projection arithmetic
    "q20",  # shuffle equi join
    "q27",  # range self-join
    "q28",  # as-of join emulation
    "q30",  # TPC-H Q1 agg
    "q33",  # rollup over 3-table join
    "q39",  # 4-table join + agg
    "q41",  # window rank
    "q44",  # moving avg (range frame)
    "q52",  # top-k per group
    "q55",  # set ops
    "q63",  # scalar: boundary math
    "q68",  # scalar: JSON rebuild
    "q70",  # tumbling-window batch equivalent
    "q90",  # exact dedup
    "q91",  # MinHash/LSH near-dup (banded + exact verify)
    "q92",  # cosine top-k
    "q93",  # stopword word count
    "q94",  # bigram counts
    "q97",  # SimHash signatures
    "q118",  # near-dup connected components (runs after q91: shares its persisted shingles)
    "q122",  # end-to-end training-corpus pipeline (flagship composition)
    "q123",  # exact k-NN join (tiled block matmul, no driver collect)
    "q129",  # strict-order funnel (behavioral-analytics staple)
    "q130",  # weekly retention cohorts (behavioral-analytics staple)
    "q132",  # exact n-gram-Jaccard join via prefix filtering
    "q133",  # regression/correlation from decimal sufficient stats
    "q134",  # TPC-H Q21 shape (aggregation rewrite)
    "q135",  # sessionization with materialized session ids
    "q136",  # SCD Type-2 dimension build
    "q137",  # chunk-level corpus dedup + reassembly
    "q138",  # TPC-H Q2 shape (decorrelated min-cost supplier)
    "q139",  # market-basket co-occurrence pairs
    "q141",  # bloom-filter pre-shuffle join pruning
    "q142",  # rolling z-score anomaly detection
    "q143",  # salted two-phase aggregation
    "q144",  # TPC-H Q17 shape (decorrelated correlated-AVG)
    "q145",  # event-type trigram sequence mining
    "q146",  # partition-pruned date-partitioned scan
    "q148",  # range-band lookup (join compiled away)
    "q149",  # importance-weighted deterministic sampling
    "q151",  # TPC-H Q3 shape (filter->join->agg->top-k)
    "q152",  # TPC-H Q5 shape (snowflake join, broadcast dims)
    "q153",  # TPC-H Q9 shape (part-filtered profit rollup)
    "q156",  # PageRank 3 unrolled supersteps
    "q158",  # new-vs-returning daily active users
    "q160",  # per-day OHLC downsample (min_by/max_by one-pass)
    "q161",  # embedding cluster-cohesion audit (explode + co-partitioned reduce)
    "q163",  # blocked edit-distance fuzzy join (sound length bands)
    "q164",  # rolling 7-day active users (bounded explode)
    "q165",  # boilerplate-chunk removal (DF threshold + reassembly)
    "q166",  # temperature-resampled language mixture
    "q167",  # Pareto/ABC classification (distributed prefix sum)
    "q170",  # deterministic per-stratum fixed-size sample
    "q172",  # TPC-H Q4 shape (semi join with cross-side residual)
    "q173",  # gaps-and-islands longest streak
    "q174",  # activity bitmap (bit_or/bit_count sketch)
    "q175",  # mergeable histogram quantiles
    "q176",  # TPC-H Q16 shape (exclusion + distinct count)
    "q177",  # TPC-H Q22 shape (scalar threshold + anti join)
    "q178",  # batch logistic scoring over embeddings
    "q180",  # time-bounded conversion funnel
    "q181",  # fulfillment latency bands
    "q182",  # weighted reservoir sample (A-ES)
    "q184",  # session entry->exit path pairs
    "q186",  # cogrouped-pandas as-of merge
    "q187",  # keyset pagination
    "q188",  # mapInArrow columnar transform
    "q192",  # TPC-H Q7 shape (volume shipping)
    "q193",  # TPC-H Q8 shape (market share)
    "q194",  # TPC-H Q10 shape (returned items)
    "q195",  # TPC-H Q13 shape (customer distribution)
    "q196",  # TPC-H Q14 shape (promo effect)
    "q197",  # TPC-H Q15 shape (top supplier)
    "q198",  # TPC-H Q18 shape (large-volume customers)
    "q199",  # TPC-H Q19 shape (disjunctive predicate)
    "q200",  # INTERSECT ALL / EXCEPT ALL (bag semantics)
    "q204",  # interval sweep line (peak concurrency)
    "q205",  # sparse TF-IDF cosine similarity join
    "q206",  # bigram LM scoring
    "q209",  # point-in-time SCD2 join
    "q213",  # TPC-H Q6 shape (pushdown microbenchmark)
    "q214",  # association rules (confidence + lift)
    "q215",  # triangle count (degree-ordered)
    "q216",  # last-touch attribution
    "q218",  # discrete percentiles
    "q220",  # BFS hop distances
    "q222",  # period-over-period report
    "q227",  # nested array<struct> HOF processing
    "q233",  # grid-bucketed spatial distance join
    "q240",  # cohort LTV curve
    "q244",  # interval merging / coverage
    "q246",  # MAD robust outliers
    "q250",  # TPC-H Q12 shape (late-shipment conditional counts)
    "q251",  # TPC-H Q20 shape (dominant-supplier nested IN)
    "q252",  # daily-revenue autocorrelation (ACF lags 1-3)
    "q254",  # two-sample Kolmogorov-Smirnov test
    "q255",  # Gini coefficient (bucketed global rank)
    "q257",  # Markov transition matrix
    "q259",  # RFM quintile segmentation
    "q260",  # truncated-EMA revenue smoothing
    "q261",  # HHI market concentration
    "q262",  # duplicate-payment detection
    "q263",  # join-key skew diagnosis
    "q264",  # event-bigram PMI
    "q265",  # Kaplan-Meier survival curve
    "q266",  # lexical-diversity audit (TTR/hapax)
    "q267",  # containment near-dup pairs
    "q268",  # time-decay attribution
    "q269",  # ingestion-freshness audit
    "q270",  # Theil-Sen robust trend
    "q271",  # winsorized/trimmed mean
    "q272",  # local-peak detection
    "q274",  # monthly growth accounting
    "q276",  # price/volume/mix revenue bridge
    "q277",  # model-calibration deciles
    "q278",  # seasonal decomposition
    "q279",  # VaR + expected shortfall
    "q285",  # index-of-dispersion (basket sizes)
    "q286",  # seasonally-adjusted anomalies
    "q288",  # multi-timeband single-scan report
    "q289",  # time-interval RANGE window frame
    "q290",  # fixed-edge histogram (width_bucket)
    "q291",  # next-best-offer recommendation
    "q292",  # CUPED A/B readout
    "q293",  # time-to-convert cohort latency
    "q294",  # SCD2 temporal diff
    "q295",  # median with distribution-free CI
    "q296",  # inter-centroid cosine matrix
    "q297",  # weighted median
    "q298",  # inter-event burstiness
    "q299",  # 7-day revenue forecast
    "q300",  # executive KPI one-pager
    "q301",  # forecast backtest (MAPE/bias)
    "q302",  # PSI drift detector
    "q303",  # dead-stock report
    "q304",  # Welch two-sample t
    "q305",  # Spearman rank correlation (two-phase ranks)
    "q306",  # Mann-Whitney U (tie-corrected)
    "q307",  # one-way ANOVA
    "q308",  # two-feature OLS per group
    "q309",  # EWMA control chart
    "q310",  # Kendall tau-b (monthly triangular)
    "q311",  # Cramér's V (densified contingency)
    "q313",  # tokenizer OOV audit
    "q314",  # BPE merge induction (5 iterative rounds)
    "q315",  # Zipf exponent fit
    "q316",  # price elasticity per brand
    "q317",  # cohort LTV curves
    "q318",  # token-budget corpus selection
    "q319",  # SLA attainment + Wilson CI
    "q320",  # safety stock / reorder point
    "q321",  # one-pass correlation matrix
    "q322",  # order-to-ship latency percentiles
    "q323",  # event-mix entropy per weekday
    "q324",  # distinct-free rolling WAU (gap-bounded expansion)
    "q325",  # DAU/MAU stickiness
    "q326",  # BPE encode + compression report
    "q328",  # embedding-quality audit
    "q329",  # weekly n-gram novelty rate
    "q330",  # capacity-runway forecast
    "q331",  # A/A null-experiment audit
    "q332",  # churn-feature materialization
    "q333",  # point-in-time feature join
    "q334",  # leave-one-out target encoding
    "q335",  # corpus datasheet one-pager
    "q336",  # expanding-window CV folds
    "q337",  # exact ROC-AUC (rank-sum)
    "q338",  # Brier + Murphy decomposition
    "q339",  # group-leakage split audit
    "q340",  # split-conformal interval + coverage
    "q341",  # degree assortativity
    "q342",  # order-backlog flow balance
    "q343",  # XmR individuals control chart
    "q344",  # Wald-Wolfowitz runs test
    "q345",  # Theil index + decomposition
    "q346",  # Lorenz curve deciles
    "q347",  # log-rank survival test
    "q348",  # Benjamini-Hochberg FDR
    "q349",  # Markov stationary + entropy rate
    "q350",  # Poisson-bootstrap CI
    "q351",  # Chao1 + Good-Turing richness
    "q352",  # pairwise Jensen-Shannon matrix
    "q353",  # recommender temporal backtest
    "q354",  # int8 quantization audit
    "q355",  # post-stratified treatment effect
    "q356",  # dedup-threshold sweep histogram
    "q357",  # Huber one-step robust trend
    "q358",  # negative-sampling triplets
    "q359",  # ABC-XYZ inventory matrix
    "q360",  # forecast bake-off
    "q361",  # per-source perplexity audit
    "q362",  # k-core peeling trace
    "q363",  # Hurst exponent (R/S)
    "q364",  # difference-in-differences
    "q365",  # precision/recall operating points
    "q366",  # IPW treatment effect
    "q367",  # distinctive keywords (log-odds z)
    "q368",  # windowed funnel with timeout
    "q369",  # Kruskal-Wallis H test
    "q370",  # extreme-value return levels
    "q371",  # seasonal/trend strength
    "q372",  # retention half-life
    "q373",  # word burstiness
    "q374",  # Hill tail index
    "q375",  # PCA leading component
    "q376",  # Q-Q decile table
    "q377",  # dedup canonical selection
    "q378",  # Cramer-von Mises two-sample
    "q379",  # BTYD P(alive) grid
    "q380",  # uncertainty-sampling selection
    "q381",  # supply-concentration risk
    "q382",  # duplication attribution by source
    "q383",  # cross-correlation lead-lag (CCF)
    "q384",  # ANN recall/cost frontier (IVF sweep)
    "q385",  # A/B power / MDE planning table
    "q386",  # log-normal fit + KS GOF
    "q387",  # Markov next-event backtest
    "q388",  # error-budget burn rate
    "q389",  # James-Stein shrinkage
    "q390",  # farthest-point k-center seeding
    "q391",  # delta-method ratio A/B
    "q392",  # peeking-bias inflation audit
    "q393",  # paired pre/post t-test
    "q394",  # Poisson rate-ratio test
    "q395",  # capture-recapture estimate
    "q396",  # Neyman allocation plan
    "q397",  # co-purchase brand modularity
    "q398",  # Markov removal-effect attribution
    "q399",  # price-index chaining
    "q400",  # LSH banding parameter planner
    "q401",  # column-profile drift audit
    "q402",  # group-sequential OBF readout
    "q403",  # rec coverage/diversity audit
    "q404",  # log-bucket quantile sketch audit
    "q405",  # embedding label-noise audit
    "q406",  # weekly motif + discord
    "q407",  # top-movers rank-change report
    "q408",  # semi-Markov dwell-time profile
    "q409",  # feature-importance screen
    "q410",  # temporal scan statistic
    "q411",  # Kish effective sample size
    "q412",  # incremental dedup audit
    "q413",  # Bayesian A/B readout
    "q414",  # autocorr-adjusted mean CI
    "q415",  # Heaps-law 10x extrapolation
    "q416",  # hierarchical rollup top-k
    "q417",  # sequential-pattern support
    "q418",  # zone-map skipping audit
    "q419",  # per-source KS drift + BH
    "q420",  # Tukey median polish
    "q421",  # indirect standardization (SMR)
    "q422",  # raking / IPF reweighting
    "q423",  # Wasserstein-1 drift distance
    "q424",  # quantile treatment effects
    "q425",  # pass@k estimator
    "q426",  # join-cardinality estimator audit
    "q427",  # BM25 lexical retrieval
    "q428",  # hybrid retrieval (RRF fusion)
    "q429",  # MMR diversified re-rank
    "q430",  # retrieval-quality evaluation
    "q431",  # RM3 pseudo-relevance feedback
    "q432",  # revenue-decile mobility matrix
    "q433",  # price-dispersion audit
    "q434",  # Cohen's kappa agreement
    "q435",  # decision-stump induction
    "q436",  # gradient-boosting step
    "q437",  # learning curve
    "q438",  # power sensitivity curve
    "q439",  # exact Shapley attribution
    "q440",  # sessionization sensitivity sweep
    "q441",  # rank-stability series (Spearman MoM)
    "q442",  # Wilson-lower-bound leaderboard
    "q443",  # LSH recall/cost frontier (Hamming-radius sweep)
    "q444",  # PQ/ADC recall vs re-rank-depth frontier
]


# The r2 recorded BASELINE.md subset (22 queries) — the stable cross-round
# perf comparator. Emitted as its own field (subset22_wall_sec) so the
# gate check vs BASELINE.md's 14.5 s needs no recomputation while the
# full headline keeps growing.
SUBSET22 = [
    "q01", "q02", "q10", "q20", "q27", "q28", "q30", "q33", "q39",
    "q41", "q44", "q52", "q55", "q63", "q68", "q70", "q90", "q91",
    "q92", "q93", "q94", "q97",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from hive_hw_spark.queries import all_queries
    from hive_hw_spark.session import get_spark

    spark = get_spark(app_name="hive_hw_bench")

    registry = all_queries()

    def run(name: str) -> None:
        registry[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Warm the OS page cache over every input file before the timed
    # loop: a fresh-boot bench otherwise charges the first queries for
    # cold parquet page-ins (r13 probe: a cold-boot run read subset22
    # at 45.9 s with q01/q02/q68 at 5-11x their committed numbers; the
    # same HEAD re-ran at 25.0 s warm). Reading the raw bytes through
    # Python touches every page without executing any query plan —
    # input warmup only, no result or plan is cached.
    for _root, _dirs, _files in os.walk(sf_dir):
        for _fname in _files:
            try:
                with open(os.path.join(_root, _fname), "rb") as _fh:
                    while _fh.read(1 << 22):
                        pass
            except OSError:
                pass

    # CPU anchor (r13 verdict item: make the record self-adjudicating).
    # Same fixed single-thread CPython loop as scripts/cpu_anchor.py —
    # immune to Spark/JIT/page-cache state — sampled right before the
    # timed loop so a cross-round bench delta can be read against the
    # host's deliverable CPU speed from the artifact alone (this epoch
    # class swings ~3x invisibly to loadavg). Additive field only; the
    # timed loop and methodology are untouched this round.
    def _cpu_anchor() -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            x = 0
            for i in range(20_000_000):
                x += i * i
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    cpu_anchor = _cpu_anchor()

    # Warm the JVM/scheduler so q01 doesn't pay session startup.
    run("q01")

    def load1() -> float | None:
        try:
            return round(os.getloadavg()[0], 2)
        except OSError:
            return None

    # Three runs per query, report the min (BENCH_r06 lesson: the shared
    # host throws multi-second load transients that made two untouched
    # trivial queries read as 12-30x regressions — min-of-3 plus a
    # per-query 1-min load sample makes a spike self-diagnosing in the
    # record instead of a round-long adjudication). The first run also
    # pays one-off whole-stage-codegen compilation (~0.3-0.5 s/query),
    # which would be amortized over minutes of work at real scale.
    timings: dict[str, float] = {}
    per_query_load: dict[str, float | None] = {}

    # r14 (verdict item 7): per-query build-vs-reuse attribution for the
    # shared _managed_persist helper families (_exploded_embeddings,
    # _bm25_scores, ...). Whichever family member runs first pays the
    # one-time materialization inside its timed region; the rest read it
    # warm — the headline total is honest but per-query numbers in a
    # family are not independent. The detail record now says which is
    # which. Additive detail-file fields only; the timed loop and the
    # stdout gate line are untouched.
    from hive_hw_spark.queries import llm_ops as _llm_ops

    persist_built: dict[str, list[str]] = {}
    persist_reused: dict[str, list[str]] = {}

    for name in HEADLINE:
        if name not in registry:
            continue
        _llm_ops.PERSIST_EVENTS.clear()
        reps: list[float] = []
        for _ in range(3):
            t0 = time.perf_counter()
            run(name)
            reps.append(time.perf_counter() - t0)
        best = min(reps)
        ld = load1()
        # r8 hygiene rule: a committed record must not carry a number
        # taken entirely under a load transient (q165 shipped 7.43 s at
        # load 4.81 in r8 — 0.87 s clean). When the 1-min load at sample
        # time exceeds 3, take up to 2 extra reps so the min has a shot
        # at a calmer window, and record the FINAL load sample.
        # r13 extension: hypervisor contention can halve CPU delivery
        # while the runqueue stays empty (probed: a single-thread
        # CPython loop swung 2.5-3.9 s at load < 2), so low load alone
        # does not prove a calm window. Disagreement between the warm
        # reps (rep 1 legitimately pays whole-stage-codegen compilation
        # and is excluded) is the direct symptom — treat >30% spread
        # between reps 2 and 3 as the same take-extra-reps signal.
        _warm_lo = min(reps[1:])
        _dispersed = (
            _warm_lo > 0 and (max(reps[1:]) - _warm_lo) / _warm_lo > 0.30
        )
        if (ld is not None and ld > 3.0) or _dispersed:
            for _ in range(2):
                t0 = time.perf_counter()
                run(name)
                best = min(best, time.perf_counter() - t0)
            ld = load1()
        timings[name] = round(best, 3)
        per_query_load[name] = ld
        # Persist entries (slot@plan digest) this query MATERIALIZED
        # during its reps vs entries it only read warm (built earlier by
        # another family member). An entry built on rep 1 and reused on
        # reps 2-3 counts as built here.
        _built = sorted({k for k, b in _llm_ops.PERSIST_EVENTS if b})
        _warm = sorted(
            {k for k, b in _llm_ops.PERSIST_EVENTS if not b}
            - set(_built)
        )
        if _built:
            persist_built[name] = _built
        if _warm:
            persist_reused[name] = _warm

    # 1/5/15-min load averages from the shared host — bench numbers swing
    # ±30% with machine load, so the reader needs this to adjudicate noise.
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = None

    # BENCH_r08 lesson: the single stdout line grew past the driver's
    # capture window (188-entry queries map + 188-entry load map) and the
    # official record landed as `"parsed": null` with only the line's tail
    # retained. Two fixes: (1) gate fields lead the object, so even a
    # truncated capture keeps the cross-round comparator; (2) the stdout
    # line carries only the 22-query baseline-gate timings (~0.5 KB) and
    # the FULL per-query timing + load maps go to a side file committed
    # alongside the round's local records.
    # Gate integrity (r8 advice): subset22_wall_sec silently deflating
    # when a member is missing from the registry would pass the 14.5 s
    # BASELINE gate spuriously — emit null instead so the comparator
    # reads as broken, not fast.
    subset_missing = [q for q in SUBSET22 if q not in timings]
    subset22 = (
        None
        if subset_missing
        else round(sum(timings[q] for q in SUBSET22), 3)
    )

    detail_file = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_detail_local.json"
    )
    try:
        with open(detail_file, "w") as fh:
            json.dump(
                {
                    "queries": timings,
                    "query_load1": per_query_load,
                    "load": load,
                    "sf": _sf_from_dir(sf_dir),
                    "n_queries": len(timings),
                    "cpu_anchor_sec": cpu_anchor,
                    "page_cache_warmed": True,
                    "persist_built": persist_built,
                    "persist_reused": persist_reused,
                },
                fh,
                indent=1,
            )
    except OSError as exc:
        # Surface the failure in the stdout record: a missing detail file
        # must be distinguishable from an intentional omission, or the
        # round loses its only full per-query timing map silently.
        detail_file = None
        detail_error = str(exc)
    else:
        detail_error = None

    out = {
        "metric": "headline_wall_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "subset22_wall_sec": subset22,
        "subset22_missing": subset_missing,
        "sf": _sf_from_dir(sf_dir),
        "load": load,
        "n_queries": len(timings),
        "queries": {q: timings[q] for q in SUBSET22 if q in timings},
        "detail_file": detail_file,
        "cpu_anchor_sec": cpu_anchor,
        "page_cache_warmed": True,
    }
    if detail_error is not None:
        out["detail_error"] = detail_error
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
