"""Randomized adversarial replay of the Spark-vs-DuckDB twin contract.

tools/check_oracle.py replays the driver gate on the FIXED testdata; this
harness re-runs the events-only exact twins on a seeded random corpus
BUILT to hit the failure modes the fixed corpus may miss — a 4-dp
rounding lattice (values k·0.0025, the class of input that exposed the
round-5 winsorized_stats half-way tie), duplicated timestamps (window
peer / pair-orientation semantics), constant series, singleton users,
and same-second collisions. Any Spark/DuckDB divergence on ANY seed is a
real twin bug by construction (both sides claim exact semantics)."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

QUERIES = [
    # every oracle-checked query whose only input table is `events`
    "rolling_mean", "rolling_std", "sliding_window_counts",
    "user_sessions", "bucket_quantiles", "ewma_score", "cusum_detect",
    "robust_zscore", "holt_smooth", "acf_lags", "counter_rate",
    "trend_slope", "pettitt_change", "seasonality_strength",
    "winsorized_stats", "corr_to_global", "concurrency_sweep",
    "rate_limit_flags", "type_transitions", "burstiness",
    "hampel_filter", "seasonal_naive_error", "mann_kendall",
    "hjorth_params", "activity_gini", "gap_profile",
    "pivot_type_by_hour", "seasonal_profile", "time_weighted_avg",
    "m4_downsample", "iqr_outliers", "cascade_hour", "json_extract",
    "detector_ensemble", "shesd_outliers", "sax_motifs",
    "lead_lag_ccf", "median_decompose", "funnel_steps", "cohort_retention",
    "map_props", "first_digit_profile", "event_pairs_within_minute",
    "psi_drift", "ks_drift", "profile_columns", "interval_overlap_pairs",
    "chi2_type_hour", "pot_exceedances", "anomaly_contribution",
    "sax_discords", "seasonal_anomaly", "melt_type_stats",
    "exp_gap_fit", "type_trigrams", "latest_state", "user_features",
    "markov_entropy", "session_type_lift", "permutation_entropy",
    "runs_test", "corr_pairs", "ljung_box", "rolling_skew",
    "hill_tail_index", "gpd_fit", "extremal_index", "flatline_runs",
    "variance_ratio", "hurst_rs", "fano_factor", "record_stats",
    "xcorr_pairs", "spearman_to_global", "ar1_halflife",
    "weekend_shift", "error_burn", "value_volume_corr",
    "dow_hod_profile", "clock_alignment", "retry_storms",
    "type_corr_pairs",
]

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _norm_cell(x):
    if x is None:
        return None
    if isinstance(x, bool):
        return bool(x)
    if isinstance(x, float):
        return "NaN" if math.isnan(x) else float(x)
    if isinstance(x, int):
        return float(x) if abs(x) < 2**52 else x
    return str(x)


def _norm_rows(rows):
    return sorted(
        [tuple(_norm_cell(c) for c in row) for row in rows],
        key=lambda r: tuple((v is None, str(type(v)), str(v)) for v in r),
    )


def _build_events(seed: int) -> "pd.DataFrame":
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    t0 = np.datetime64("2024-03-01T00:00:00", "us")
    for uid in range(40):
        if uid == 0:
            n = 1  # singleton series
        elif uid == 1:
            n = 40  # constant values
        elif uid == 2:
            n = 30  # all events at the SAME microsecond
        else:
            n = int(rng.integers(2, 90))
        for i in range(n):
            if uid == 2:
                ts = t0 + np.timedelta64(3600_000_000, "us")
            else:
                # 3-day span, second resolution, frequent same-second hits
                ts = t0 + np.timedelta64(
                    int(rng.integers(0, 3 * 86400)) * 1_000_000, "us"
                )
            if uid == 1:
                v = 7.25
            else:
                # 4-dp lattice: k * 0.0025 -> cents land on x.25/x.5/x.75
                # boundaries, maximizing round-tie exposure
                v = float(rng.integers(-2000, 20000)) * 0.0025
            rows.append(
                (
                    eid,
                    ts,
                    uid,
                    EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
                    v,
                    "{}",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    # testdata parquet stores MICROSECOND timestamps; nanos would be an
    # illegal parquet type for Spark's reader
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


# deepen the fuzz without editing code: SPARK_GRAFT_ADV_SEEDS=1,2,3
# rotates the events corpus; SPARK_GRAFT_ADV_SEEDS_{DOC,EMB,REL} rotate the
# other three (defaults = every seed that has caught a real bug so far)
def _seeds(env: str, default: str) -> list[int]:
    return [int(x) for x in os.environ.get(env, default).split(",")]


# 6202 caught the signed-zero class: DuckDB round(DOUBLE) preserves -0.0
# where Spark's round emits +0.0 (burstiness B in (-5e-5, 0)); fixed
# mechanically for ALL oracles by _squash_signed_zero in __spark_entry__
_ADV_SEEDS = _seeds("SPARK_GRAFT_ADV_SEEDS", "101,202,2026,6202")


@pytest.mark.parametrize("seed", _ADV_SEEDS)
def test_twins_agree_on_adversarial_random_corpus(spark, tmp_path, seed):
    import duckdb

    import __spark_entry__ as entrymod

    pdf = _build_events(seed)
    sf = str(tmp_path / f"rnd{seed}")
    os.makedirs(sf)
    path = os.path.join(sf, "events.parquet")
    pdf.to_parquet(path, index=False)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name in QUERIES:
        sdf = queries[name](spark, sf)
        cols = sorted(sdf.columns)
        got = _norm_rows(
            [tuple(r) for r in sdf.select(*cols).collect()]
        )
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        order = [ocols.index(c) for c in sorted(ocols)]
        assert sorted(ocols) == cols, (name, cols, sorted(ocols))
        want = _norm_rows(
            [tuple(row[i] for i in order) for row in cur.fetchall()]
        )
        if got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
            failures.append((name, len(got), len(want), diff))
    assert not failures, failures


def _welch_z_4dp(wkd: list[int], wke: list[int]) -> float:
    """Exact floor(z * 10^4 + 0.5) / 10^4 of Welch's z for cent values,
    z = (m1 - m2) / sqrt(v1/n1 + v2/n2) in Fractions (m1 >= m2): with
    X = z * 10^4, floor(X + 1/2) = (isqrt(floor(4 X^2)) + 1) // 2."""
    from fractions import Fraction
    from math import isqrt

    def mean_var(c):
        n, s, q = len(c), sum(c), sum(x * x for x in c)
        return Fraction(s, n), Fraction(n * q - s * s, n * (n - 1))

    (m1, v1), (m2, v2) = mean_var(wkd), mean_var(wke)
    assert m1 >= m2
    x2 = (m1 - m2) ** 2 * 10**8 / (v1 / len(wkd) + v2 / len(wke))
    four_x2 = 4 * x2
    return ((isqrt(four_x2.numerator // four_x2.denominator) + 1) // 2) / 10**4


def test_weekend_shift_welch_z_exact(spark, tmp_path):
    """weekend_shift's welch_z on Spark and in its DuckDB oracle equals the
    exact Welch z of one user's cent values (means and variances in the
    same unit), and its means are reported in dollars."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod

    wkd = [1025, 1310, 990, 1505, 1200, 1130]  # Fri 1 / Mon 4 March 2024
    wke = [700, 845, 610, 905, 760]  # Sat 2 / Sun 3 March 2024
    days = [1, 4, 1, 4, 1, 4] + [2, 3, 2, 3, 2]
    rows = [
        (i, pd.Timestamp(f"2024-03-0{d} 12:00:{i:02d}"), 7, "view", c / 100, "{}")
        for i, (d, c) in enumerate(zip(days, wkd + wke))
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sf = str(tmp_path / "wknd")
    os.makedirs(sf)
    path = os.path.join(sf, "events.parquet")
    pdf.to_parquet(path, index=False)

    want = _welch_z_4dp(wkd, wke)
    got = entrymod.queries()["weekend_shift"](spark, sf).collect()
    assert [(r["n_weekday"], r["n_weekend"]) for r in got] == [(6, 5)]
    assert got[0]["welch_z"] == want
    assert got[0]["mean_weekday"] == 11.9333

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    cur = con.execute(entrymod.oracle_sql()["weekend_shift"])
    cols = [d[0] for d in cur.description]
    (orow,) = [dict(zip(cols, r)) for r in cur.fetchall()]
    assert orow["welch_z"] == want and orow["mean_weekday"] == 11.9333


DOC_QUERIES = [
    "chunk_documents", "winnow_fingerprints", "winnow_pairs",
    "scalar_funcs", "udaf_weighted_chars", "doc_fingerprint",
    "stratified_sample", "tfidf_top_terms", "token_count",
    "quality_score", "dedup_keep", "simhash", "salted_source_stats",
    "lang_source_cube", "lang_id", "unigram_logprob", "word_entropy",
    "gopher_repetition", "minhash_signatures", "lsh_candidates",
    "ngram_jaccard", "dedup_clusters", "top_ngrams", "bigram_logprob",
    "pack_sequences", "pack_efficiency", "vocab_coverage",
    "pii_scan", "pii_redact", "kfold_assign", "bm25_topk",
    "vocab_typo_pairs", "token_budget_sample", "source_mix_rebalance",
    # heavy_hitters: the 300+-word corpus vocabulary exceeds HH_K=200,
    # so the bounded Misra-Gries candidate path actually decrements here
    "heavy_hitters", "pmi_collocations", "triangle_count",
    "source_dup_matrix", "chunk_dup_groups", "zipf_fit",
    "gopher_quality_filter", "ngram_novelty", "source_js_divergence",
    "source_length_profile", "kfold_leakage", "bpe_merge_candidates",
    "boilerplate_prefixes", "containment_pairs", "heaps_fit",
    "dedup_cluster_sizes", "zipf_deviants",
]


def _build_documents(seed: int) -> "pd.DataFrame":
    import pandas as pd

    rng = np.random.default_rng(seed)
    vocab = [f"tok{i}" for i in range(300)]  # small vocab -> heavy reuse
    langs = ["en", "de", "fr", "es"]
    # srcN is the real documents.source domain (numeric suffix drives
    # the stratified-sample rate); one off-domain value stays in to pin
    # the try_cast fallback path
    sources = ["src0", "src3", "src7", "src12", "weird-src"]

    def rand_text(n):
        return " ".join(str(rng.choice(vocab)) for _ in range(n))

    rows = []
    did = 0

    def add(text, lang=None, source=None):
        nonlocal did
        rows.append(
            (
                did,
                text,
                lang or str(rng.choice(langs)),
                source or str(rng.choice(sources)),
                len(text),
            )
        )
        did += 1

    # ratio-tie sizes: powers of two make count ratios land on 4-dp
    # boundaries (1/32 = 0.03125, 3/64, ...)
    for n in (8, 16, 32, 64):
        for _ in range(3):
            add(rand_text(n))
    # exact duplicate pair + triple
    d = rand_text(40)
    add(d); add(d)
    t = rand_text(25)
    add(t); add(t); add(t)
    # near-dup pairs (one word changed) for minhash/LSH/jaccard/clusters
    base = rand_text(50).split(" ")
    for k in range(3):
        v = list(base)
        v[10 + k] = "mut" + str(k)
        add(" ".join(v))
    # shared-span pair (winnowing) without being near-dups
    span = rand_text(12)
    add(rand_text(30) + " " + span)
    add(span + " " + rand_text(35))
    # degenerate docs: single word, all-identical words, stopword-heavy
    add("solo")
    add(" ".join(["same"] * 32))
    add("the and of " * 8 + "the", lang="en")
    add("der und die " * 6, lang="de")
    # gopher-rule support: symbol-heavy words ('#', '...'), a numeric
    # (non-alpha) doc, and one 60-word doc that PASSES all five rules
    add("# " * 10 + "see... more... " + rand_text(20))
    add(" ".join(str(int(x)) for x in rng.integers(0, 99, 40)))
    add(
        "the data and table be good to scan of rows and that have "
        "with speed " + rand_text(46),
        lang="en",
    )
    # bulk randoms
    for _ in range(30):
        add(rand_text(int(rng.integers(5, 80))))
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


@pytest.mark.parametrize("seed", _seeds("SPARK_GRAFT_ADV_SEEDS_DOC", "303,1717"))
def test_document_twins_agree_on_adversarial_corpus(spark, tmp_path, seed):
    import duckdb

    import __spark_entry__ as entrymod

    pdf = _build_documents(seed)
    sf = str(tmp_path / f"doc{seed}")
    os.makedirs(sf)
    path = os.path.join(sf, "documents.parquet")
    pdf.to_parquet(path, index=False)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name in DOC_QUERIES:
        sdf = queries[name](spark, sf)
        cols = sorted(sdf.columns)
        got = _norm_rows([tuple(r) for r in sdf.select(*cols).collect()])
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        order = [ocols.index(c) for c in sorted(ocols)]
        assert sorted(ocols) == cols, (name, cols, sorted(ocols))
        want = _norm_rows(
            [tuple(row[i] for i in order) for row in cur.fetchall()]
        )
        if got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
            failures.append((name, len(got), len(want), diff))
    assert not failures, failures


EMB_QUERIES = [
    "embedding_norms", "embedding_topk", "label_centroids",
    "label_centroid_dists", "embedding_outliers",
]


def _build_embeddings(seed: int) -> "pd.DataFrame":
    import pandas as pd

    rng = np.random.default_rng(seed)
    rows = []
    dim = 64
    q = rng.normal(size=dim).astype(np.float32)
    rows.append((0, q, 0))  # the top-k query vector
    for vid in range(1, 120):
        if vid == 1:
            v = np.zeros(dim, dtype=np.float32)  # zero vector: |v| = 0
        elif vid == 2:
            v = q.copy()  # exact duplicate of the query (cos = 1)
        elif vid == 3:
            v = (-2.0 * q).astype(np.float32)  # antipodal (cos = -1)
        elif vid == 4:
            v = np.full(dim, 0.25, dtype=np.float32)  # exact-lattice comps
        else:
            v = rng.normal(size=dim).astype(np.float32)
        rows.append((vid, v, int(rng.integers(0, 7))))
    return pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])


@pytest.mark.parametrize("seed", _seeds("SPARK_GRAFT_ADV_SEEDS_EMB", "404,2026"))
def test_embedding_twins_agree_on_adversarial_corpus(spark, tmp_path, seed):
    import duckdb

    import __spark_entry__ as entrymod

    pdf = _build_embeddings(seed)
    sf = str(tmp_path / f"emb{seed}")
    os.makedirs(sf)
    path = os.path.join(sf, "embeddings.parquet")
    pdf.to_parquet(path, index=False)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name in EMB_QUERIES:
        sdf = queries[name](spark, sf)
        cols = sorted(sdf.columns)
        got = _norm_rows([tuple(r) for r in sdf.select(*cols).collect()])
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        order = [ocols.index(c) for c in sorted(ocols)]
        assert sorted(ocols) == cols, (name, cols, sorted(ocols))
        want = _norm_rows(
            [tuple(row[i] for i in order) for row in cur.fetchall()]
        )
        if got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
            failures.append((name, len(got), len(want), diff))
    assert not failures, failures


REL_QUERIES = [
    "pricing_summary", "top_customers", "region_nation_rollup",
    "customers_without_orders", "orders_with_big_lineitem", "rank_orders",
    "order_gaps", "nations_intersect", "nations_except", "distinct_aggs",
    "orders_customers_merge",
]


def _build_tpch(seed: int) -> dict:
    import pandas as pd

    rng = np.random.default_rng(seed)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")

    def lat():  # 2-dp money lattice (the TPC-H domain): pure sums stay
        # 2-dp-exact, but AVERAGES become bounded-denominator rationals,
        # so rounding half-ties are reachable in-domain
        return float(rng.integers(1, 9999)) * 0.01

    region = pd.DataFrame(
        [(i, f"R{i}") for i in range(3)], columns=["r_regionkey", "r_name"]
    )
    nation = pd.DataFrame(
        [(i, f"N{i}", i % 3) for i in range(6)],
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    customer = pd.DataFrame(
        [
            (
                c,
                f"Customer#{c:03d}",
                int(rng.integers(0, 6)),
                lat() if c % 5 else -lat(),  # negative balances too
                ["BUILDING", "AUTOMOBILE", "MACHINERY"][c % 3],
            )
            for c in range(25)
        ],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"],
    )
    supplier = pd.DataFrame(
        [
            (s, f"Supplier#{s:03d}", int(rng.integers(3, 6)), lat())
            for s in range(8)
        ],
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    part = pd.DataFrame(
        [
            (p, f"part {p}", f"Brand#{p % 4}", f"TYPE {p % 3}",
             int(rng.integers(1, 50)), lat())
            for p in range(12)
        ],
        columns=["p_partkey", "p_name", "p_brand", "p_type", "p_size",
                 "p_retailprice"],
    )
    dup_price = lat()
    dup_date = t0 + np.timedelta64(40 * 86400_000_000, "us")
    orders_rows = []
    for o in range(70):
        cust = int(rng.integers(0, 20))  # custkeys 20-24 have NO orders
        # duplicate totalprice AND orderdate inside a custkey: rank/gap
        # tie-break determinism is exactly what this probes
        price = dup_price if o % 7 == 0 else lat()
        date = (
            dup_date
            if o % 9 == 0
            else t0 + np.timedelta64(int(rng.integers(0, 90)) * 86400_000_000, "us")
        )
        orders_rows.append(
            (o, cust, ["O", "F", "P"][o % 3], price, date,
             f"{1 + o % 5}-PRIO")
        )
    orders = pd.DataFrame(
        orders_rows,
        columns=["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    # pricing_summary filters l_shipdate <= 1998-09-02: shipdates must
    # live in the TPC-H era or the whole query is vacuous on the fixture
    s0 = np.datetime64("1995-06-01T00:00:00", "us")
    li_rows = []
    for i in range(170):
        ok = int(rng.integers(0, 60))  # orderkeys 60-69 have NO lineitems
        li_rows.append(
            (
                ok, int(rng.integers(0, 12)), int(rng.integers(0, 8)),
                i % 7 + 1, float(rng.integers(1, 50)), lat(),
                float(rng.integers(0, 11)) * 0.01,  # 2-dp discount domain
                float(rng.integers(0, 9)) * 0.01,
                ["A", "N", "R"][i % 3], ["O", "F"][i % 2],
                s0 + np.timedelta64(int(rng.integers(0, 100)) * 86400_000_000, "us"),
            )
        )
    # deterministic IN-DOMAIN tie probes for pricing_summary:
    #  - group ('Z','O'): one row with price 0.10, disc 0.05 ->
    #    sum_disc_price = 0.0950 exactly, a 2-dp rounding half-tie
    #  - group ('Z','F'): 8 rows, one 1% discount -> avg_disc = 0.00125,
    #    a 4-dp rounding half-tie
    li_rows.append((0, 0, 0, 1, 1.0, 0.10, 0.05, 0.0, "Z", "O", s0))
    for j in range(8):
        li_rows.append(
            (0, 0, 0, 2 + j, 1.0, 1.00, 0.01 if j == 0 else 0.0, 0.0,
             "Z", "F", s0)
        )
    lineitem = pd.DataFrame(
        li_rows,
        columns=["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"],
    )
    lineitem["l_shipdate"] = lineitem["l_shipdate"].astype("datetime64[us]")
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


@pytest.mark.parametrize("seed", _seeds("SPARK_GRAFT_ADV_SEEDS_REL", "505,2026"))
def test_relational_twins_agree_on_adversarial_corpus(spark, tmp_path, seed):
    import duckdb

    import __spark_entry__ as entrymod

    tables = _build_tpch(seed)
    sf = str(tmp_path / f"tpch{seed}")
    os.makedirs(sf)
    con = duckdb.connect()
    for t, pdf in tables.items():
        path = os.path.join(sf, f"{t}.parquet")
        pdf.to_parquet(path, index=False)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name in REL_QUERIES:
        sdf = queries[name](spark, sf)
        cols = sorted(sdf.columns)
        got = _norm_rows([tuple(r) for r in sdf.select(*cols).collect()])
        cur = con.execute(oracles[name])
        ocols = [d[0] for d in cur.description]
        order = [ocols.index(c) for c in sorted(ocols)]
        assert sorted(ocols) == cols, (name, cols, sorted(ocols))
        want = _norm_rows(
            [tuple(row[i] for i in order) for row in cur.fetchall()]
        )
        if got != want:
            diff = [(g, w) for g, w in zip(got, want) if g != w][:3]
            failures.append((name, len(got), len(want), diff))
    assert not failures, failures


@pytest.mark.parametrize(
    "dseed,eseed",
    [(int(a), int(b)) for a, b in zip(
        _seeds("SPARK_GRAFT_ADV_SEEDS_DOC", "303,1717"),
        _seeds("SPARK_GRAFT_ADV_SEEDS_EMB", "404,2026"),
    )],
)
def test_hybrid_rrf_twin_on_adversarial_corpora(spark, tmp_path, dseed, eseed):
    """hybrid_rrf spans BOTH tables, so neither single-table harness can
    exercise it — this one registers an adversarial document corpus and
    an adversarial embedding corpus together. The fixtures create exactly
    its failure modes: duplicate/antipodal/zero vectors (inner-product
    ties and extremes), lattice components, and doc/vec id sets that only
    partially overlap (one-sided RRF terms)."""
    import duckdb

    import __spark_entry__ as entrymod

    sf = str(tmp_path / f"rrf{dseed}_{eseed}")
    os.makedirs(sf)
    _build_documents(dseed).to_parquet(
        os.path.join(sf, "documents.parquet"), index=False
    )
    _build_embeddings(eseed).to_parquet(
        os.path.join(sf, "embeddings.parquet"), index=False
    )

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf, t)}.parquet'"
        )

    sdf = entrymod.queries()["hybrid_rrf"](spark, sf)
    cols = sorted(sdf.columns)
    got = _norm_rows([tuple(r) for r in sdf.select(*cols).collect()])
    cur = con.execute(entrymod.oracle_sql()["hybrid_rrf"])
    ocols = [d[0] for d in cur.description]
    order = [ocols.index(c) for c in sorted(ocols)]
    assert sorted(ocols) == cols, (cols, sorted(ocols))
    want = _norm_rows([tuple(row[i] for i in order) for row in cur.fetchall()])
    assert got == want, (got[:3], want[:3])
