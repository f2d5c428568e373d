"""Physical-plan assertions (SURVEY.md §4): pushdown reaches the scan,
dims broadcast, the fused 1m stage is narrow and sized by its input, and
the read path stays UDF-free."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    from engine.io import synth_tokens

    p = str(tmp_path_factory.mktemp("plans") / "tokens")
    synth_tokens(spark, 50, n_tok=256).write.parquet(p)
    return p


def test_filter_pushdown_reaches_parquet(spark, tokens_path):
    from engine.io import scan_tokens

    df = scan_tokens(spark, tokens_path).where(F.col("source") == "cc")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "source" in plan.split("PushedFilters")[1][:120], plan


def test_column_pruning_reaches_parquet(spark, tokens_path):
    from engine.io import scan_tokens

    df = scan_tokens(spark, tokens_path).select("doc_id", "n_tok")
    read_schema = _plan(df).split("ReadSchema:")[1][:200]
    assert "tokens" not in read_schema, read_schema


def test_dim_join_broadcasts(spark):
    import __spark_entry__ as e

    plan = _plan(e.q_top_customers(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_read_path_udf_free(spark, tokens_path, tmp_path):
    from engine.io import ParquetManifestFormat, scan_tokens
    from engine.query import downsample
    from jobs.rollup import run_rollup

    wh = str(tmp_path / "wh")
    run_rollup(spark, scan_tokens(spark, tokens_path), wh, epoch=1, compress=False)
    fmt = ParquetManifestFormat(spark, wh)
    df = downsample(spark, fmt, 1, t0=0, t1=120, resolution_seconds=60)
    plan = _plan(df)
    assert "EvalPython" not in plan  # no BatchEvalPython / ArrowEvalPython


def test_serve_raw_points_single_arrow_pass(spark, tokens_path, tmp_path):
    """Q5 decodes each payload once: one Python node (MapInArrow) behind a
    REBALANCE exchange, no ArrowEvalPython (arrays_zip + explode made
    Catalyst copy the decode UDFs below the generator), and the bucket
    and doc_id filters pushed into the scan."""
    from engine.io import ParquetManifestFormat, scan_tokens
    from engine.query import serve_raw_points
    from jobs.rollup import run_rollup

    wh = str(tmp_path / "wh")
    run_rollup(spark, scan_tokens(spark, tokens_path), wh, epoch=1)
    df = serve_raw_points(
        ParquetManifestFormat(spark, wh).read("rollup_1m"), t0=60, t1=180,
        doc_ids=["doc_00000001", "doc_00000002"],
    )
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "1000")  # PushedFilters is cut at 100 chars
    try:
        plan = _plan(df)
    finally:
        spark.conf.set(key, old)
    assert plan.count("MapInArrow") == 1 and "EvalPython" not in plan, plan
    assert "REBALANCE_PARTITIONS" in plan, plan
    pushed = plan.split("PushedFilters: [")[1].split("], ")[0]
    assert "GreaterThanOrEqual(bucket,1)" in pushed, pushed
    assert "LessThanOrEqual(bucket,2)" in pushed, pushed
    assert "In(doc_id," in pushed, pushed
    assert df.count() > 0


def test_tier_reads_run_no_inference_job(spark, tokens_path, tmp_path):
    """Planning tier reads launches no Spark job: the manifest's recorded
    schema replaces parquet footer inference. A 2-doc downsample scans
    exactly those docs' hash buckets (part_hash_col of each doc id),
    folded into a literal partition filter."""
    import re

    from engine.io import ParquetManifestFormat, scan_tokens
    from engine.query import downsample
    from engine.skew import part_hash_col
    from jobs.rollup import run_rollup

    wh = str(tmp_path / "wh")
    run_rollup(spark, scan_tokens(spark, tokens_path), wh, epoch=1, compress=False)
    fmt = ParquetManifestFormat(spark, wh)
    docs = ["doc_00000001", "doc_00000002"]
    sc = spark.sparkContext
    group = "plan-tier-reads"
    sc.setJobGroup(group, "plan tier reads")
    try:
        fmt.read("rollup_1h")
        df = downsample(spark, fmt, 1, docs, resolution_seconds=3600)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == [], jobs

    want = {
        r[0] for r in spark.createDataFrame([(d,) for d in docs], "doc_id string")
        .select(part_hash_col()).collect()
    }
    plan = _plan(df)
    filters = re.findall(r"PartitionFilters: \[(.*?)\], PushedFilters", plan)
    assert filters, plan
    for f in filters:
        lists = re.findall(r"part_hash#\d+L IN \(([\d,]+)\)", f)
        assert [{int(x) for x in lst.split(",")} for lst in lists] == [want], f
    assert {r["doc_id"] for r in df.collect()} == set(docs)


# Gateway commands to plan the fallback read below, measured with PySpark
# 4.1: 607 when every read resolved its scans again, one path per
# part_hash dir, and predicates and the cascade were Column trees; 81 with
# memoized scans and SQL-text predicates. The bound leaves ~50 % headroom.
FALLBACK_PLAN_COMMANDS = 120


def test_fallback_read_plans_in_few_gateway_commands(spark, tokens_path, tmp_path):
    """Planning a read costs the driver a bounded number of JVM calls,
    independent of the partitions, docs and snap dirs it covers. The read
    is a 2-doc 1d downsample that cascades from 1h (1d is uncommitted)
    over a snapshot spanning two snap dirs, planned once before counting
    so its scans are resolved."""
    from engine.io import ParquetManifestFormat, scan_tokens
    from engine.query import downsample
    from jobs.rollup import run_rollup
    from tests.conftest import gateway_commands

    wh = str(tmp_path / "wh")
    toks = scan_tokens(spark, tokens_path)
    run_rollup(spark, toks, wh, epoch=1, tiers=["1m", "1h"], compress=False)
    few = ["doc_00000001", "doc_00000002", "doc_00000003"]
    run_rollup(spark, toks.where(F.col("doc_id").isin(few)), wh, epoch=2,
               tiers=["1m", "1h"], compress=False)
    fmt = ParquetManifestFormat(spark, wh)
    assert len(fmt.snapshot_dirs("rollup_1h")) == 2
    docs = ["doc_00000001", "doc_00000004"]
    downsample(spark, fmt, 2, docs, resolution_seconds=86400)
    with gateway_commands(spark) as sent:
        df = downsample(spark, fmt, 2, docs, resolution_seconds=86400)
    assert len(sent) <= FALLBACK_PLAN_COMMANDS, len(sent)
    assert {r["doc_id"] for r in df.collect()} == set(docs)


def _fused_stage(spark, path):
    """The fused frame of every tier run_rollup builds over the parquet
    input at *path*: (plan, planned Python tasks, the frame's partitions,
    the scan's splits). The session confs _build_tiers sets are
    restored."""
    from engine.io import scan_tokens
    from engine.schema import TIER_ORDER
    from jobs.rollup import _build_tiers, _planned_partitions

    keys = [
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.execution.arrow.maxBytesPerBatch",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    toks = scan_tokens(spark, path)
    try:
        df, py_tasks = _build_tiers(spark, toks, TIER_ORDER, 30, 3.0, "ffill",
                                    True)
        return _plan(df), py_tasks, _planned_partitions(df), _planned_partitions(toks)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rollup_epoch_is_one_write(spark, tokens_path, tmp_path, monkeypatch):
    """A fresh three-tier run_rollup lands every tier in ONE write: the
    frame it writes has one MapInArrow and no aggregate over rollup rows
    (the kernel emits the 1h/1d rows itself), and the whole epoch runs at
    most 3 Spark jobs (the write's stages). It ran 9 when each coarse tier
    was a cascade pass of its own."""
    from engine.io import ParquetManifestFormat, scan_tokens
    from jobs.rollup import run_rollup

    plans = []
    orig = ParquetManifestFormat.overwrite_partitions

    def spy(self, df, *a, **kw):
        plans.append(_plan(df))
        return orig(self, df, *a, **kw)

    monkeypatch.setattr(ParquetManifestFormat, "overwrite_partitions", spy)
    toks = scan_tokens(spark, tokens_path)
    sc = spark.sparkContext
    group = "rollup-epoch"
    sc.setJobGroup(group, "one rollup epoch")
    try:
        m = run_rollup(spark, toks, str(tmp_path / "wh"), epoch=1)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [t for t, x in m.items() if not x["skipped"]] == ["1m", "1h", "1d"]
    assert len(plans) == 1, len(plans)
    assert plans[0].count("MapInArrow") == 1, plans[0]
    assert "Aggregate" not in plans[0], plans[0]
    assert len(jobs) <= 3, jobs


def test_rollup_epoch_on_cached_input_runs_no_sizing_job(spark, tmp_path):
    """A cached input reads no files, and sizing the fused stage costs no
    job: Spark cuts its Arrow batches by bytes, so the epoch runs only
    the write's 2 jobs (a max(n_tok) aggregate to size them would add 2:
    the aggregate and its exchange)."""
    from engine.io import synth_tokens
    from jobs.rollup import run_rollup

    toks = synth_tokens(spark, 8, n_tok=512, seed=9).cache()
    toks.count()
    sc = spark.sparkContext
    group = "rollup-cached"
    sc.setJobGroup(group, "one rollup epoch over a cached input")
    try:
        m = run_rollup(spark, toks, str(tmp_path / "wh"), epoch=1)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        toks.unpersist()
    assert [t for t, x in m.items() if not x["skipped"]] == ["1m", "1h", "1d"]
    assert m["1m"]["py_tasks"] is None
    assert len(jobs) <= 2, jobs


def test_fused_stage_one_task_per_4mb(spark, tmp_path):
    """A ~1 MB, 8-file input scans as one split per core, but its fused
    stage plans as ONE Python task: a narrow Coalesce, no exchange before
    the MapInArrow."""
    from engine.io import synth_tokens

    p = str(tmp_path / "tokens")
    synth_tokens(spark, 32, n_tok=8192).repartition(8).write.parquet(p)
    plan, py_tasks, parts, splits = _fused_stage(spark, p)
    assert splits > 1, splits
    assert py_tasks == parts == 1, (py_tasks, parts)
    assert "Coalesce 1" in plan and plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan


def test_fused_stage_keeps_splits_above_4mb_each(spark, tmp_path):
    """An input with more than 4 MB per scan split plans exactly as
    before: no Coalesce, one Python task per split."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.rollup import _FUSED_TASK_BYTES

    rng = np.random.default_rng(0)
    p = tmp_path / "tokens"
    p.mkdir()
    n_docs, n_tok = 3, 500_000  # ~6 MB of incompressible int32 per file
    for i in range(4):
        t = pa.table({
            "doc_id": [f"doc_{i}_{j}" for j in range(n_docs)],
            "tokens": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n_docs * n_tok + 1, n_tok, dtype=np.int32)),
                pa.array(rng.integers(0, 1 << 30, n_docs * n_tok, dtype=np.int32)),
            ),
            "n_tok": pa.array([n_tok] * n_docs, pa.int32()),
            "source": ["cc"] * n_docs,
        })
        pq.write_table(t, str(p / f"part-{i}.parquet"), compression="none")
    input_bytes = sum(f.stat().st_size for f in p.iterdir())
    plan, py_tasks, parts, splits = _fused_stage(spark, str(p))
    assert input_bytes > splits * _FUSED_TASK_BYTES, (input_bytes, splits)
    assert "Coalesce" not in plan, plan
    assert py_tasks == parts == splits, (py_tasks, parts, splits)


def test_asof_join_is_union_and_sort(spark):
    """X4 as-of (round-2 rewrite): no broadcast of the orders fact table, no
    nested-loop theta join, no join at all — one user-partitioned window
    over the union."""
    import __spark_entry__ as e

    plan = _plan(e.q_asof_order_before_event(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "Join" not in plan, plan[:1500]  # union + window only
    assert "Window [" in plan and "Union" in plan


def test_ngram_jaccard_no_raw_shingle_selfjoin(spark):
    """The exact-Jaccard verifier must run only over LSH candidate pairs.
    The round-1 anti-pattern was a self-join keyed on `shingle` ALONE
    (quadratic in hot-shingle document frequency); the rewrite's only
    shingle join is compound-keyed (d2, shingle), bounded by the candidate
    set. Cross joins in the plan are the deliberate 4-row band-replication
    broadcasts, so we assert on the join KEYS, not the join strategy."""
    import re

    import __spark_entry__ as e

    plan = _plan(e.q_ngram_jaccard(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert not re.search(r"Join \[shingle#\d+\], \[shingle#\d+\]", plan), (
        "raw shingle-keyed self-join found:\n" + plan[:1500]
    )


def test_event_pairs_equi_join(spark):
    """Range self-join is keyed on (user_id, minute bucket): the executed
    join must be hash/merge (equi keys), not nested-loop."""
    import __spark_entry__ as e

    plan = _plan(e.q_event_pairs_within_minute(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan[:1500]


def test_dedup_keep_is_broadcast_anti_join(spark):
    """dedup_keep's corpus filter must be a broadcast hash LEFT ANTI join —
    the full documents scan streams through it with no corpus shuffle (the
    100 TB shape; the drop set is tiny relative to the corpus)."""
    import __spark_entry__ as E

    df = E.q_dedup_keep(spark, "/root/testdata/sf0.01")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:1500]


def test_sessionization_and_quantiles_pure_catalyst(spark):
    """The round-5 queries stay JVM-side: session_window and the exact
    percentile aggregate must plan with no Python evaluation, and each
    needs exactly ONE hashpartitioning exchange for its aggregation (plus
    the rangepartitioning of the final presentation orderBy)."""
    import __spark_entry__ as E

    for q in (E.q_user_sessions, E.q_bucket_quantiles):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in plan, plan[:1500]
        n_hash = plan.count("Exchange hashpartitioning")
        assert n_hash == 1, f"{q.__name__}: {n_hash} hash exchanges\n{plan[:2000]}"


def test_cusum_and_robust_zscore_single_shuffle(spark):
    """The round-5 sequential detectors (CUSUM via the Lindley identity,
    median/MAD modified z-score) are layered windows ALL partitioned on
    user_id: Catalyst must reuse ONE hash exchange across every layer, and
    nothing may fall out of codegen into Python."""
    import __spark_entry__ as E

    for q in (
        E.q_cusum_detect,
        E.q_robust_zscore,
        E.q_holt_smooth,
        E.q_acf_lags,
    ):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in plan, plan[:1500]
        n_hash = plan.count("Exchange hashpartitioning")
        assert n_hash == 1, f"{q.__name__}: {n_hash} hash exchanges\n{plan[:2000]}"


def test_counter_rate_and_seasonal_profile_plans(spark):
    """counter_rate: the lag window (user_id) and the (user_id, bucket)
    groupBy must share ONE hash exchange — HashPartitioning(user_id)
    satisfies ClusteredDistribution(user_id, bucket), so Catalyst may not
    reshuffle. seasonal_profile: one corpus exchange for the profile
    aggregate, and the profile returns via BroadcastHashJoin — the corpus
    is never shuffled for the join."""
    import __spark_entry__ as E

    plan = _plan(E.q_counter_rate(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"counter_rate: {n} hash exchanges\n{plan[:2000]}"

    plan = _plan(E.q_seasonal_profile(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"seasonal_profile: {n} hash exchanges\n{plan[:2000]}"


def test_ivf_assignment_is_map_side(spark):
    """IVF cell assignment must never shuffle the corpus: the centroid set
    arrives as a broadcast single-row array and the argmax folds per row.
    The only joins are broadcasts (1-row cross joins + the leftsemi probe
    filter); zero hashpartitioning exchanges touch the vector scan."""
    import __spark_entry__ as E

    plan = _plan(E.q_ann_ivf_topk(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    assert plan.count("Exchange hashpartitioning") == 0, plan[:2000]
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The train shingle stream must hit the eval set through a broadcast
    hash join (no corpus shuffle for the membership test), same discipline
    as dedup_keep; and both round-5 pipeline ops stay UDF-free."""
    import __spark_entry__ as E

    plan = _plan(E.q_decontaminate(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan and "EvalPython" not in plan, plan[:1500]
    plan2 = _plan(E.q_stratified_sample(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan2
    # stateless map-side filter: no aggregation exchange at all (the only
    # exchange is the presentation orderBy's rangepartitioning)
    assert plan2.count("Exchange hashpartitioning") == 0, plan2[:1500]


def test_twa_m4_iqr_plans(spark):
    """Round-5 serving-layer aggregates: time_weighted_avg's lead window,
    segment explode, and (user, bucket) groupBy must share ONE user_id
    exchange (Generate preserves the child's partitioning);
    m4_downsample's two window sorts and groupBy share ONE
    (user, bucket)-compatible exchange; iqr_outliers shuffles only for the
    rank window and returns the per-user fences via BroadcastHashJoin —
    the event scan is never reshuffled for the fence test. All UDF-free."""
    import __spark_entry__ as E

    for q, n_want in ((E.q_time_weighted_avg, 1), (E.q_m4_downsample, 1)):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in plan, plan[:1500]
        n = plan.count("Exchange hashpartitioning")
        assert n == n_want, f"{q.__name__}: {n} hash exchanges\n{plan[:2000]}"

    plan = _plan(E.q_iqr_outliers(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"iqr_outliers: {n} hash exchanges\n{plan[:2000]}"


def test_gopher_and_bigram_lm_plans(spark):
    """gopher_repetition: the bigram relation is pre-partitioned ONCE on
    doc_id and both groupBys (by (doc, w1, w2), then by doc) reuse that
    exchange — exactly 1 hashpartitioning in the whole plan, stats return
    via broadcast. bigram_logprob: the two model counts and the per-doc
    regroup are the only exchanges (3); the vocab-sized model tables come
    back onto the token stream as BroadcastHashJoins, never reshuffling
    it. Both UDF-free."""
    import __spark_entry__ as E

    plan = _plan(E.q_gopher_repetition(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    # Round 7: up to 2 exchanges, BOTH the _spread text-row repartitions
    # (REPARTITION_BY_NUM) — one per branch; every groupBy still reuses
    # its branch's partition point, so nothing exploded ever reshuffles.
    assert n <= 2, f"gopher_repetition: {n} hash exchanges\n{plan[:2000]}"
    assert n == plan.count("REPARTITION_BY_NUM"), plan[:2000]

    plan = _plan(E.q_bigram_logprob(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    # round 7: the 3 working exchanges (pair count, prefix count, per-doc
    # regroup) plus one _spread text-row repartition per _doc_bigrams
    # branch; the model tables still return as broadcasts (asserted), so
    # the token stream itself never reshuffles.
    assert n == 3 + plan.count("REPARTITION_BY_NUM"), (
        f"bigram_logprob: {n} hash exchanges\n{plan[:2000]}"
    )
    assert plan.count("BroadcastHashJoin") == 2, plan[:2000]


def test_trend_psi_entropy_plans(spark):
    """trend_slope: the min-over-partition window and the sufficient-
    statistics groupBy share ONE user_id hash exchange; one scan; UDF-free
    closed form. word_entropy: the exploded tokens are pre-partitioned
    once on doc_id and both groupBys reuse it (the gopher shape) — exactly
    1 hashpartitioning, 1 scan. psi_drift: the corpus is scanned exactly
    TWICE (global min/max probe + binned partial-agg count) and never
    joined to itself — the dense grid is derived from the per-type count
    MAP, so there is no replicated count subtree (the naive grid-join form
    measured 10 scans); every exchange after the (type,bin) count moves
    dimension-sized rows only."""
    import __spark_entry__ as E

    plan = _plan(E.q_trend_slope(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"trend_slope: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]

    plan = _plan(E.q_anomaly_runs(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"anomaly_runs: {n} hash exchanges\n{plan[:2000]}"

    plan = _plan(E.q_word_entropy(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"word_entropy: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]

    for q in (E.q_psi_drift, E.q_ks_drift):
        plan = _plan(q(spark, "/root/testdata/sf0.001"))
        assert "EvalPython" not in plan, plan[:1500]
        assert "SortMergeJoin" not in plan, plan[:2000]
        scans = plan.count("Scan parquet")
        assert scans == 2, f"{q.__name__}: {scans} corpus scans\n{plan[:2500]}"
        n = plan.count("Exchange hashpartitioning")
        assert n <= 4, f"{q.__name__}: {n} hash exchanges\n{plan[:2500]}"


def test_round5c_query_plans(spark):
    """Round-5c plan shapes. Single-exchange family: pettitt_change (all
    three windows partition on user_id; the tie count rides the value
    sort via a RANGE CURRENT ROW peers frame), winsorized_stats (the
    percentile windows + final groupBy), rate_limit_flags (one RANGE
    window), burstiness (lag + agg). corr_to_global / seasonality_
    strength / first_digit_profile: the small side must come back
    broadcast, never sort-merge. concurrency_sweep: exactly ONE
    deliberate SinglePartition exchange (the days-sized offset window)
    and no second session-agg subtree (the explode form). Everything
    Python-free."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    for q in (
        E.q_pettitt_change,
        E.q_winsorized_stats,
        E.q_rate_limit_flags,
        E.q_burstiness,
    ):
        plan = _plan(q(spark, sf))
        assert "EvalPython" not in plan, plan[:1500]
        n = plan.count("Exchange hashpartitioning")
        assert n == 1, f"{q.__name__}: {n} hash exchanges\n{plan[:2000]}"

    for q in (
        E.q_corr_to_global,
        E.q_seasonality_strength,
        E.q_first_digit_profile,
    ):
        plan = _plan(q(spark, sf))
        assert "EvalPython" not in plan, plan[:1500]
        assert "BroadcastHashJoin" in plan, (q.__name__, plan[:2000])
        assert "SortMergeJoin" not in plan, (q.__name__, plan[:2000])

    df = E.q_concurrency_sweep(spark, sf)
    plan = _plan(df)
    assert "EvalPython" not in plan, plan[:1500]
    n_single = plan.count("Exchange SinglePartition")
    assert n_single == 1, f"sweep: {n_single} single-partition exchanges"
    # the running-sum branch and the day-total branch both hang off the
    # same hashpartitioning(_day) exchange: AQE must REUSE it at runtime
    # so the scan -> session agg -> net pipeline executes once, not twice
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert final.count("ReusedExchange") >= 1, final[:3000]

    for q in (E.q_type_transitions, E.q_tfidf_top_terms):
        plan = _plan(q(spark, sf))
        assert "EvalPython" not in plan, plan[:1500]


def test_round5d_query_plans(spark):
    """Round-5d plan shapes. hampel_filter: ONE user_id exchange feeds
    both order-statistic windows (median and MAD ride the same
    collect_list), one corpus scan, Python-free. seasonal_naive_error:
    exactly TWO exchanges by design — the (user, second) collapse gets
    its map-side partial aggregate BEFORE the shuffle (the 100 TB
    requirement: raw simultaneous samples never cross the wire), then
    the already-collapsed rows re-key to user_id for the RANGE window +
    final agg, which share that second exchange."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    plan = _plan(E.q_hampel_filter(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"hampel_filter: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]

    plan = _plan(E.q_seasonal_naive_error(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 2, f"seasonal_naive_error: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]
    # the (user,sec) collapse must partial-aggregate BELOW its shuffle:
    # plans print top-down, so the map-side HashAggregate sits after the
    # LAST (lowest) exchange in the string, adjacent to the scan
    assert "HashAggregate" in plan[plan.rindex("Exchange hashpartitioning"):], (
        plan[:2500]
    )

    plan = _plan(E.q_mann_kendall(spark, sf))
    assert "FlatMapGroupsInPandas" in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"mann_kendall: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]

    # chunk_documents: pure map-side (split/sequence/posexplode/slice are
    # all Catalyst Generate/Project) — ZERO exchanges of any kind except
    # the presentation sort
    plan = _plan(E.q_chunk_documents(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 0, f"chunk_documents: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert plan.count("Generate") == 1, plan[:2000]

    # approx_quantiles: GK sketches merge map-side (ObjectHashAggregate
    # partial before the single exchange) — sketches shuffle, rows don't
    plan = _plan(E.q_approx_quantiles(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    # two ObjectHashAggregate nodes = partial (map-side, pre-shuffle)
    # + final; the plan prints top-down so index ordering proves nothing
    assert plan.count("ObjectHashAggregate") == 2, plan[:2000]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"approx_quantiles: {n} hash exchanges\n{plan[:2000]}"

    # winnow_fingerprints: map-side array HOFs + one Generate (explode);
    # round 7 allows exactly the _spread text-row repartition
    # (REPARTITION_BY_NUM) so the HOF chain runs on every core when the
    # local scan is a single split — no other hashpartitioning exchange.
    plan = _plan(E.q_winnow_fingerprints(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"winnow_fingerprints: {n} hash exchanges\n{plan[:2000]}"
    assert n == plan.count("REPARTITION_BY_NUM"), plan[:2000]
    assert plan.count("Scan parquet") == 1, plan[:2000]

    # hjorth_params: two stacked lag windows + the aggregate all share
    # ONE user_id exchange
    plan = _plan(E.q_hjorth_params(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"hjorth_params: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]

    # fft_top_periods: TWO exchanges by design — raw events combine
    # map-side on (user, minute) BEFORE the first shuffle (partial agg
    # below the lowest exchange), then only the minute grid reshuffles
    # to the per-user FFT kernel
    plan = _plan(E.q_fft_top_periods(spark, sf))
    assert "FlatMapGroupsInPandas" in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 2, f"fft_top_periods: {n} hash exchanges\n{plan[:2000]}"
    assert "HashAggregate" in plan[plan.rindex("Exchange hashpartitioning"):], (
        plan[:2500]
    )

    # winnow_pairs: fp-keyed equi-join only (never cartesian), hot
    # fingerprints dropped before the join
    plan = _plan(E.q_winnow_pairs(spark, sf))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan[:1500]

    # activity_gini: the only SinglePartition exchange runs over the
    # n-users aggregate, never the corpus (partial agg below the lowest
    # hash exchange)
    plan = _plan(E.q_activity_gini(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "HashAggregate" in plan[plan.rindex("Exchange hashpartitioning"):]

    # label_centroids: posexplode feeds ONE (label, dim) exchange with
    # the partial aggregate below it (explode volume collapses to
    # labels x dims rows map-side before the wire)
    plan = _plan(E.q_label_centroids(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"label_centroids: {n} hash exchanges\n{plan[:2000]}"
    assert "HashAggregate" in plan[plan.rindex("Exchange hashpartitioning"):]

    # gap_profile: minute collapse partial-aggregates map-side; the lag
    # window + final agg reuse the user partitioning (2 exchanges total)
    plan = _plan(E.q_gap_profile(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 2, f"gap_profile: {n} hash exchanges\n{plan[:2000]}"
    assert "HashAggregate" in plan[plan.rindex("Exchange hashpartitioning"):]

    # pivot_type_by_hour: explicit pivot values -> no plan-time distinct
    # scan; pivot's canonical TWO-aggregate plan (count on (hour, type),
    # pivotfirst on hour), both with map-side partials
    plan = _plan(E.q_pivot_type_by_hour(spark, sf))
    assert "EvalPython" not in plan, plan[:1500]
    n = plan.count("Exchange hashpartitioning")
    assert n == 2, f"pivot: {n} hash exchanges\n{plan[:2000]}"
    assert plan.count("Scan parquet") == 1, plan[:2000]
    assert "pivotfirst" in plan, plan[:2000]
    assert "HashAggregate" in plan[plan.rindex("Exchange hashpartitioning"):]


def test_ivf_lloyd_assignment_is_map_side(spark):
    """The Lloyd-refined IVF keeps both assignment passes map-side: every
    hash exchange in the plan is on the K*dim training grid (cell / cell,
    dim keys) — the corpus rows (vec_id) are NEVER shuffled; joins are
    broadcasts only."""
    import re

    import __spark_entry__ as E

    plan = _plan(E.q_ann_ivf_lloyd_topk(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    keys = [
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    ]
    assert keys, "expected the Lloyd training-grid exchanges"
    for k in keys:
        assert "vec_id" not in k and "cell" in k, (k, plan[:2000])


def test_pack_sequences_decomposed_prefix_sum(spark):
    """pack_sequences needs a global prefix sum; the plan must be the
    DECOMPOSED concurrency_sweep shape: per-group running sums under _g
    hash exchanges, and the ONE SinglePartition exchange feeds only the
    groups-sized offset aggregate (HashAggregate directly beneath it),
    never corpus rows."""
    import re

    import __spark_entry__ as E

    plan = _plan(E.q_pack_sequences(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange SinglePartition") == 1, plan[:2000]
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "_g" in m.group(1), (m.group(1), plan[:2000])
    # the single-partition window's child is the group-total aggregate
    seg = plan.split("Exchange SinglePartition", 1)[1]
    assert "HashAggregate" in seg.split("Exchange", 1)[0] or \
           "HashAggregate" in seg[:600], seg[:800]


def test_detector_ensemble_single_user_exchange(spark):
    """All four detector flags (z-score w30, Hampel w15, modified
    z-score, IQR fences) must come out of ONE user_id hash exchange —
    the ordered frames share a sort and the whole-partition percentile
    windows reuse the partitioning. No Python, no SinglePartition."""
    import __spark_entry__ as E

    plan = _plan(E.q_detector_ensemble(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, (n, plan[:2000])
    assert "user_id" in plan.split("Exchange hashpartitioning", 1)[1][:80]


def test_pack_efficiency_bounded_fanout_shape(spark):
    """pack_efficiency reuses the decomposed prefix sum (one
    SinglePartition exchange feeding only the groups-sized offset
    aggregate) and adds one hash exchange for the per-window groupBy;
    the explode fan-out stays below the aggregate (no Python)."""
    import __spark_entry__ as E

    plan = _plan(E.q_pack_efficiency(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan
    assert plan.count("Exchange SinglePartition") == 1, plan[:2000]
    assert "Generate explode" in plan or "Generate" in plan


def test_vocab_coverage_broadcast_vocab(spark):
    """The top-K vocabulary must come back as a BROADCAST onto the
    (doc, word) grid — never a shuffled join of the corpus against a
    16-row relation — and the top-K itself must be a TakeOrdered, not a
    global sort."""
    import __spark_entry__ as E

    plan = _plan(E.q_vocab_coverage(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_shesd_two_working_exchanges(spark):
    """S-H-ESD must stage exactly: one (user, slot) hash exchange for the
    seasonal-median window, one user exchange for the ESD kernel, plus
    the presentation orderBy's range exchange — and the scan must prune
    to the four used columns (no event_type/props)."""
    import __spark_entry__ as E

    plan = _plan(E.q_shesd_outliers(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 3, plan[:2500]
    assert "FlatMapGroupsInPandas" in plan
    read_schema = plan.split("ReadSchema:")[1][:200]
    assert "props" not in read_schema and "event_type" not in read_schema


def test_sax_motifs_single_user_exchange(spark):
    """Both SAX windows (value-rank ntile, time-order leads) AND the
    (user, word) groupBy must share ONE user_id hash exchange — the
    groupBy's clustered distribution on (user, word) is satisfied by
    hashpartitioning(user_id), so only the presentation sort adds an
    exchange. No Python anywhere."""
    import __spark_entry__ as E

    plan = _plan(E.q_sax_motifs(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 2, plan[:2500]
    assert "EvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_lead_lag_ccf_broadcast_global(spark):
    """The lag-shifted global series must come back via BROADCAST onto
    the exploded (user, minute, lag) grid — a shuffled join of the grid
    against a minutes-sized relation would put the corpus-scale side
    through an avoidable exchange. No Python."""
    import __spark_entry__ as E

    plan = _plan(E.q_lead_lag_ccf(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "EvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_median_decompose_single_working_exchange(spark):
    """Both decomposition windows — the per-user 15-event trend median
    and the (user, hod) seasonal median — must share ONE user_id hash
    exchange (hashpartitioning(user) satisfies the (user, hod) clustered
    distribution), leaving only the presentation sort. No Python."""
    import __spark_entry__ as E

    plan = _plan(E.q_median_decompose(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 2, plan[:2500]
    assert "EvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_hybrid_rrf_pools_via_takeordered(spark):
    """Each retriever's top-100 pool and the final top-10 must reduce via
    TakeOrderedAndProject (distributed partial top-k) — never a global
    sort of the corpus-side relation; the only unpartitioned windows rank
    the two 100-row pools. No Python."""
    import __spark_entry__ as E

    plan = _plan(E.q_hybrid_rrf(spark, "/root/testdata/sf0.001"))
    assert plan.count("TakeOrderedAndProject") >= 3, plan[:2500]
    assert "EvalPython" not in plan and "FlatMapGroupsInPandas" not in plan


def test_funnel_and_cohort_plans(spark):
    """funnel_steps: three layered conditional-min windows + the final
    groupBy all on ONE user exchange (plus the presentation sort).
    cohort_retention: exactly four exchanges — the map-side-combined
    distinct grid, the grid-sized user re-exchange for the cohort
    window, the partial-agg'd (cohort, offset) re-agg, and the
    presentation sort; raw events must never shuffle (partial agg
    below the first exchange). No Python in either."""
    import __spark_entry__ as E

    plan = _plan(E.q_funnel_steps(spark, "/root/testdata/sf0.001"))
    assert plan.count("Exchange") == 2, plan[:2500]
    assert "EvalPython" not in plan and "FlatMapGroupsInPandas" not in plan

    plan2 = _plan(E.q_cohort_retention(spark, "/root/testdata/sf0.001"))
    assert plan2.count("Exchange") == 4, plan2[:2500]
    assert "partial_merge" in plan2 or "partial" in plan2.lower(), plan2[:1500]
    assert "EvalPython" not in plan2


def test_pii_kfold_profile_plans(spark):
    """Round-6 session-2 surface. pii_scan / pii_redact: pure map-side
    regex chains — zero hashpartitioning exchanges (only the presentation
    orderBy's rangepartitioning), no Python. kfold_assign: stateless
    map-side fold hash, then ONE partial-agg'd (fold, source) exchange.
    profile_columns: the exact multi-distinct profile — Expand feeds a
    partial agg BELOW its exchanges (raw rows shuffle only post-expand
    partials), no Python anywhere."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    for q in (E.q_pii_scan, E.q_pii_redact):
        plan = _plan(q(spark, sf))
        # round 7: the only allowed hash exchange is the _spread text-row
        # repartition (REPARTITION_BY_NUM) that parallelizes the regex
        # chain over a single-split local scan
        n = plan.count("Exchange hashpartitioning")
        assert n <= 1, plan[:2000]
        assert n == plan.count("REPARTITION_BY_NUM"), plan[:2000]
        assert "EvalPython" not in plan

    plan = _plan(E.q_kfold_assign(spark, sf))
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "partial" in plan.lower(), plan[:1500]
    assert "EvalPython" not in plan

    plan = _plan(E.q_profile_columns(spark, sf))
    assert "Expand" in plan, plan[:1500]
    assert "partial" in plan.lower(), plan[:1500]
    assert "EvalPython" not in plan


def test_bm25_broadcasts_and_takeordered(spark):
    """bm25_topk: the query-term filter, df table, and corpus stats all
    reach the tf grid as broadcasts; the top-k is TakeOrdered (never a
    global sort of the scored corpus); no Python."""
    import __spark_entry__ as E

    plan = _plan(E.q_bm25_topk(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_interval_overlap_is_bucketed_equi_join(spark):
    """The interval-overlap self-join must execute as a (user, bucket)
    EQUI-join over the exploded minute buckets — never the per-user theta
    join (quadratic in a hot user's events). The oracle runs the direct
    theta join; Spark must not."""
    import __spark_entry__ as E

    plan = _plan(E.q_interval_overlap_pairs(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or \
        "BroadcastHashJoin" in plan, plan[:2000]
    assert "EvalPython" not in plan


def test_typo_join_and_chi2_plans(spark):
    """vocab_typo_pairs: the FastSS deletion-neighborhood join must be an
    EQUI-join on the variant key — never the quadratic vocab theta join.
    chi2_type_hour: margins re-aggregate the cell GRID and return as
    broadcasts (one corpus exchange total)."""
    import __spark_entry__ as E

    plan = _plan(E.q_vocab_typo_pairs(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "EvalPython" not in plan

    plan2 = _plan(E.q_chi2_type_hour(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan2, plan2[:2000]
    assert "EvalPython" not in plan2


def test_round6_session3_shapes(spark):
    """Scale shapes of the session-3 round-6 ops.

    token_budget_sample: stateless filter on the decomposed prefix sum —
    no UDF, no cartesian. source_mix_rebalance: the corpus-side join to
    the rates table must be a BROADCAST hash join (never a shuffled
    corpus join). pot_exceedances: the decluster windows share ONE
    user_id exchange; the threshold comes from the histogram, not a
    corpus sort. anomaly_contribution: no UDF; the dense grid join is
    an equi-join. sax_discords: same one-user-exchange family as
    sax_motifs."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    p = _plan(E.q_token_budget_sample(spark, sf))
    assert "EvalPython" not in p and "CartesianProduct" not in p, p[:2000]

    p = _plan(E.q_source_mix_rebalance(spark, sf))
    assert "BroadcastHashJoin" in p, p[:2000]
    assert "EvalPython" not in p and "CartesianProduct" not in p, p[:2000]

    p = _plan(E.q_pot_exceedances(spark, sf))
    assert "EvalPython" not in p and "CartesianProduct" not in p, p[:2000]
    # decluster path: lag + running-sum + final agg all hash on user_id
    assert p.count("Exchange hashpartitioning(user_id") <= 1, p[:3000]

    p = _plan(E.q_anomaly_contribution(spark, sf))
    assert "EvalPython" not in p and "CartesianProduct" not in p, p[:2000]

    p = _plan(E.q_sax_discords(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert p.count("Exchange hashpartitioning(user_id") <= 1, p[:3000]


def test_round6_session4_shapes(spark):
    """Scale shapes of the session-4 round-6 ops.

    heavy_hitters: the candidate pass is the ONLY Python (one
    Arrow-batched MapInPandas), the exact recount joins the broadcast
    candidate set (never a shuffled corpus join), and the full
    vocabulary never hits an exchange — the only hash exchanges are the
    candidate distinct and the candidate-restricted recount.
    pmi_collocations / chi2_type_hour / vocab_coverage / tfidf: the
    branching grid is persist()ed so margin/head branches read the
    cache instead of re-scanning the corpus (per-branch pruning defeats
    ReuseExchange). seasonal_anomaly: seasonal_profile's plan — one
    corpus exchange to the cell grid, cells return via broadcast.
    melt_type_stats: the unpivot is a map-side Expand above the one
    stats exchange. triangle_count: wedge closure is broadcast equi-
    joins, never cartesian."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    p = _plan(E.q_heavy_hitters(spark, sf))
    assert "MapInPandas" in p, p[:2000]
    assert "BroadcastHashJoin" in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 2, f"heavy_hitters: {n} hash exchanges\n{p[:3000]}"

    p = _plan(E.q_pmi_collocations(spark, sf))
    assert "EvalPython" not in p and "CartesianProduct" not in p, p[:2000]
    assert "InMemoryTableScan" in p, p[:2000]
    assert p.count("BroadcastHashJoin") == 2, p[:2000]

    p = _plan(E.q_seasonal_anomaly(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"seasonal_anomaly: {n} hash exchanges\n{p[:3000]}"
    assert "BroadcastHashJoin" in p, p[:2000]

    p = _plan(E.q_melt_type_stats(spark, sf))
    assert "Expand" in p, p[:2000]
    assert "EvalPython" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"melt_type_stats: {n} hash exchanges\n{p[:3000]}"

    p = _plan(E.q_triangle_count(spark, sf))
    assert "CartesianProduct" not in p, p[:2000]
    assert "InMemoryTableScan" in p, p[:2000]


def test_branching_grids_read_cache_not_corpus(spark):
    """The round-6 plan audit found Catalyst replicates a branching
    grid subtree (ReuseExchange is defeated by per-branch column
    pruning), so every 'margins re-agg the grid' query was physically
    re-scanning the corpus once per branch. The fix is persist() on the
    grid; this pins it: after materialization the FINAL adaptive plan
    reads InMemoryTableScan in ALL branches — exactly one corpus-table
    scan subtree survives per query."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    for fn, n_branches in [
        (E.q_chi2_type_hour, 4),  # cells + row margin + col margin + n
        (E.q_pmi_collocations, 4),  # grid + left + right + n
        (E.q_vocab_coverage, 2),  # vocab head + coverage join
        (E.q_tfidf_top_terms, 2),  # scored join + df re-agg
    ]:
        fn(spark, sf).collect()  # materialize the persisted grid
        # a fresh identical query resolves against the now-hot cache at
        # PLANNING time (CacheManager matches canonicalized plans); every
        # grid consumer must read InMemoryTableScan, not the corpus.
        # (Scan-parquet strings can't be counted here: InMemoryRelation
        # PRINTS its cached child plan, scans included, without running
        # it.)
        p = _plan(fn(spark, sf))
        got = p.count("InMemoryTableScan")
        assert got >= n_branches, (fn.__name__, got, p[:3000])


def test_round6_session4b_shapes(spark):
    """exp_gap_fit: lag, census, rank windows and the final reduce all
    partition on user_id — ONE corpus exchange, UDF-free.
    source_dup_matrix: the edge-keyed relation broadcasts into the
    (doc_id, source) projection at both endpoint lookups — the corpus
    columns are never hash-shuffled for the join (the only
    hashpartitioning exchanges belong to the upstream LSH pipeline and
    the final pair-grid agg, both bounded). type_trigrams: both lead
    windows and the grid partial-agg share one user_id exchange."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    p = _plan(E.q_exp_gap_fit(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning(user_id")
    assert n == 1, f"exp_gap_fit: {n} user exchanges\n{p[:3000]}"

    p = _plan(E.q_type_trigrams(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning(user_id")
    assert n == 1, f"type_trigrams: {n} user exchanges\n{p[:3000]}"
    assert "TakeOrderedAndProject" in p, p[:2000]

    p = _plan(E.q_source_dup_matrix(spark, sf))
    assert "CartesianProduct" not in p, p[:2000]
    # both endpoint lookups are broadcast joins on top of whatever the
    # LSH pipeline does internally
    assert p.count("BroadcastHashJoin") >= 2, p[:3000]


def test_chunk_dup_and_zipf_shapes(spark):
    """chunk_dup_groups: chunking stays map-side; the census is one
    chunk_md5 exchange, UDF-free. zipf_fit: one exchange to word counts;
    the rank window runs on the vocab relation (the documented bounded
    single-partition exception), and the whole plan stays JVM-side."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    p = _plan(E.q_chunk_dup_groups(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    # 2 = Spark's standard two-phase distinct-agg rewrite: partial agg on
    # (chunk_md5, doc_id), re-agg on chunk_md5 — both exchanges move
    # chunk-census rows, never raw text
    assert n == 2, f"chunk_dup_groups: {n} hash exchanges\n{p[:3000]}"

    p = _plan(E.q_zipf_fit(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"zipf_fit: {n} hash exchanges\n{p[:3000]}"


def test_latest_state_and_user_features_shapes(spark):
    """latest_state: one user exchange, first-row window, UDF-free.
    user_features: the grid and the user reduce share the user-prefix
    partitioning — exactly one hash exchange end to end (the modal type
    is a struct-min INSIDE the reduce, not a second grid branch)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    p = _plan(E.q_latest_state(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"latest_state: {n} hash exchanges\n{p[:3000]}"

    p = _plan(E.q_user_features(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"user_features: {n} hash exchanges\n{p[:3000]}"


def test_round6_session5_shapes(spark):
    """permutation_entropy / runs_test: lag + grid + reduce (resp. two
    order-statistic windows + reduce) on ONE user exchange, join-free.
    gopher_quality_filter: pure map-side — ZERO exchanges, zero joins.
    corr_pairs: the corpus is scanned into a PERSISTED grid (every
    downstream branch reads cache, never parquet twice at runtime), the
    pair joins broadcast, and nothing is a cartesian product."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    for name in ("permutation_entropy", "runs_test"):
        p = _plan(E.queries()[name](spark, sf))
        assert "EvalPython" not in p, (name, p[:2000])
        assert "Join" not in p, (name, p[:2000])
        n = p.count("Exchange hashpartitioning")
        assert n == 1, f"{name}: {n} hash exchanges\n{p[:3000]}"

    p = _plan(E.q_gopher_quality_filter(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "Join" not in p, p[:2000]
    # round 7: only the _spread text-row repartition may appear
    n = p.count("Exchange hashpartitioning")
    assert n <= 1, p[:3000]
    assert n == p.count("REPARTITION_BY_NUM"), p[:3000]

    p = _plan(E.q_corr_pairs(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "InMemoryTableScan" in p, p[:3000]
    assert "TakeOrderedAndProject" in p, p[:3000]

    # ljung_box: the three lag windows + reduce share one user exchange
    p = _plan(E.q_ljung_box(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"ljung_box: {n} hash exchanges\n{p[:3000]}"

    # ngram_novelty: first-seer is a WINDOW, never an agg+self-join or a
    # shingle broadcast — one corpus scan, no join node
    p = _plan(E.q_ngram_novelty(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    assert p.count("Scan parquet") == 1, p[:3000]

    # label_centroid_dists: persisted 4-dp centroid grid feeds the
    # broadcast pair join and the norms — cache reads, no SMJ/cartesian
    p = _plan(E.q_label_centroid_dists(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "InMemoryTableScan" in p, p[:3000]

    # rolling_skew: all three moment window sums share ONE user exchange
    p = _plan(E.q_rolling_skew(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"rolling_skew: {n} hash exchanges\n{p[:3000]}"

    # spectral_entropy: minute-mean grid reduced BELOW the single series
    # exchange; the only Python is the Arrow-batched kernel
    p = _plan(E.q_spectral_entropy(spark, sf))
    assert "BatchEvalPython" not in p, p[:2000]
    assert "FlatMapGroupsInPandas" in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n <= 2, f"spectral_entropy: {n} hash exchanges\n{p[:3000]}"

    # hill_tail_index: the global rank runs over the SALTED survivor set
    # (two-phase distributed top-k) — the corpus-wide window must sit on
    # (type, salt), never on type alone, and every join broadcasts
    p = _plan(E.q_hill_tail_index(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "_salt" in p, p[:3000]

    # gpd_fit: histogram threshold (cumsum + total share ONE type
    # exchange) broadcast into a map-side-combined moment aggregate —
    # no window over the exceedance stream, 2 scans / 3 exchanges
    p = _plan(E.q_gpd_fit(spark, sf))
    assert "EvalPython" not in p and "SortMergeJoin" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n <= 3, f"gpd_fit: {n} hash exchanges\n{p[:3000]}"
    assert p.count("Scan parquet") == 2, p[:3000]

    # extremal_index: gap sums decomposed by day — the exceedance-stream
    # windows sit on (type, day), never on the 5-key type alone; the
    # only type-ordered window runs over the days-sized aggregate
    p = _plan(E.q_extremal_index(spark, sf))
    assert "EvalPython" not in p and "SortMergeJoin" not in p, p[:2000]
    assert "_day" in p, p[:3000]
    n = p.count("Exchange hashpartitioning")
    assert n <= 4, f"extremal_index: {n} hash exchanges\n{p[:3000]}"

    # flatline_runs: gaps-and-islands — lag, run-id sum, and both
    # groupBys (runs key is a prefix refinement) share ONE user exchange
    p = _plan(E.q_flatline_runs(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"flatline_runs: {n} hash exchanges\n{p[:3000]}"

    # source_js_divergence: corpus reduces map-side to the (source,
    # word) grid; the pair join shuffles on word once, totals broadcast
    p = _plan(E.q_source_js_divergence(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert p.count("BroadcastHashJoin") >= 2, p[:3000]

    # variance_ratio / hurst_rs: join-free, single corpus scan, ONE
    # user exchange — every window/groupBy is a prefix refinement
    for name in ("variance_ratio", "hurst_rs"):
        p = _plan(E.queries()[name](spark, sf))
        assert "EvalPython" not in p and "Join" not in p, (name, p[:2000])
        n = p.count("Exchange hashpartitioning")
        assert n == 1, f"{name}: {n} hash exchanges\n{p[:3000]}"
        assert p.count("Scan parquet") == 1, (name, p[:3000])

    # record_stats: running-max lag window + reduce on ONE user exchange
    p = _plan(E.q_record_stats(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"record_stats: {n} hash exchanges\n{p[:3000]}"

    # fano_factor: map-side (user, minute) partials, one user reduce,
    # 1-row span census broadcast (deliberate BNLJ)
    p = _plan(E.q_fano_factor(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p[:2500]

    # bocpd: the only Python is the Arrow-grouped kernel on ONE exchange
    p = _plan(E.q_bocpd(spark, sf))
    assert "BatchEvalPython" not in p, p[:2000]
    assert "FlatMapGroupsInPandas" in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"bocpd: {n} hash exchanges\n{p[:3000]}"

    # source_length_profile: one exchange on source, group-bounded
    # percentile, join-free
    p = _plan(E.q_source_length_profile(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"source_length_profile: {n} hash exchanges\n{p[:3000]}"

    # kfold_leakage: the edge relation broadcasts into the fold
    # projection at both endpoint lookups — corpus never shuffled for
    # the join (source_dup_matrix's plan)
    p = _plan(E.q_kfold_leakage(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]


def test_round6_session6_shapes(spark):
    """xcorr_pairs: corpus scanned once into the PERSISTED grid (span,
    top-K, trimmed moments, and the lag-shifted Σab all read cache);
    every join broadcasts (pair frame, lag equi-join, 1-row span);
    top-K via TakeOrdered; no cartesian, no SMJ/SHJ, no Python.
    spearman_to_global: corr_to_global's exact census — the four rank
    windows and the count window all partition by user_id alone, so
    they share ONE grid-sized exchange with the per-user reduce (4
    hash exchanges total: grid, gm re-agg, broadcast build side's
    grid, window+reduce)."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"

    p = _plan(E.q_xcorr_pairs(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "InMemoryTableScan" in p, p[:3000]
    assert "TakeOrderedAndProject" in p, p[:3000]

    p = _plan(E.q_spearman_to_global(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "BroadcastNestedLoopJoin" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n <= 4, f"spearman_to_global: {n} hash exchanges\n{p[:3000]}"

    # bpe_merge_candidates: word census then the char-pair explode on
    # the VOCAB relation (vocab-sized, never token-sized) — two hash
    # exchanges (word, pair), join-free, TakeOrdered top-20
    p = _plan(E.q_bpe_merge_candidates(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    # round 7: +1 allowed for the _spread text-row repartition
    n = p.count("Exchange hashpartitioning")
    assert n <= 2 + p.count("REPARTITION_BY_NUM"), (
        f"bpe_merge_candidates: {n} hash exchanges\n{p[:3000]}"
    )
    assert "TakeOrderedAndProject" in p, p[:3000]

    # boilerplate_prefixes: map-side prefix extraction, one (source,
    # prefix) census exchange, per-source totals re-agg'd from the
    # census and broadcast back — no UDF, no SMJ, no cartesian
    p = _plan(E.q_boilerplate_prefixes(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "BroadcastHashJoin" in p, p[:3000]

    # ar1_halflife: ljung_box's shape — lag window + reduce on ONE
    # user exchange, join-free
    p = _plan(E.q_ar1_halflife(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"ar1_halflife: {n} hash exchanges\n{p[:3000]}"

    # containment_pairs: persisted capped-shingle relation; the bounded
    # pair relation broadcasts INTO the size projection at both
    # endpoints (kfold_leakage's plan) — no SMJ/SHJ, no cartesian
    p = _plan(E.q_containment_pairs(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "InMemoryTableScan" in p, p[:3000]

    # embedding_outliers: persisted centroid grid broadcast back onto
    # the exploded corpus; all joins broadcast; rank window per label
    p = _plan(E.q_embedding_outliers(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "InMemoryTableScan" in p, p[:3000]

    # weekend_shift: map-side conditional partials, ONE user exchange,
    # join-free (the epoch-integer dow needs no calendar join)
    p = _plan(E.q_weekend_shift(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"weekend_shift: {n} hash exchanges\n{p[:3000]}"

    # heaps_fit: word exchange to per-source (N, V), ln-ln OLS on the
    # sources-sized relation — no corpus re-scan, join-free
    p = _plan(E.q_heaps_fit(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    assert p.count("Scan parquet") == 1, p[:3000]

    # error_burn: 1-row anchor broadcast + ONE user exchange of
    # conditional partials; no SMJ/cartesian/python
    p = _plan(E.q_error_burn(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "CartesianProduct" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n <= 1, f"error_burn: {n} hash exchanges\n{p[:3000]}"

    # value_volume_corr: both series from the SAME grid row — grid
    # exchange + per-user re-agg, JOIN-FREE (unlike corr_to_global)
    p = _plan(E.q_value_volume_corr(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 2, f"value_volume_corr: {n} hash exchanges\n{p[:3000]}"

    # dow_hod_profile: one exchange on the ≤|types|·168 cell space,
    # totals re-agg'd from the census and broadcast back
    p = _plan(E.q_dow_hod_profile(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]

    # clock_alignment: map-side integer predicates, ONE type exchange,
    # join-free
    p = _plan(E.q_clock_alignment(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"clock_alignment: {n} hash exchanges\n{p[:3000]}"

    # retry_storms: lag window + reduce on ONE (user, type) exchange,
    # join-free
    p = _plan(E.q_retry_storms(spark, sf))
    assert "EvalPython" not in p and "Join" not in p, p[:2000]
    n = p.count("Exchange hashpartitioning")
    assert n == 1, f"retry_storms: {n} hash exchanges\n{p[:3000]}"

    # type_corr_pairs: corr_pairs' census shape at type level —
    # persisted grid, all joins broadcast, 1-row span BNLJ only
    p = _plan(E.q_type_corr_pairs(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "InMemoryTableScan" in p, p[:3000]

    # zipf_deviants: persisted ranked vocab feeds the sums and the
    # residual scan; 1-row fit broadcast; TakeOrdered top-15
    p = _plan(E.q_zipf_deviants(spark, sf))
    assert "EvalPython" not in p, p[:2000]
    assert "CartesianProduct" not in p, p[:2000]
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p[:3000]
    assert "InMemoryTableScan" in p, p[:3000]
    assert "TakeOrderedAndProject" in p, p[:3000]


def test_whole_surface_plan_census(spark):
    """Global plan invariants over EVERY queries() entry (the automated
    complement to the per-query asserts above, via tools/plan_audit.py):
    no CartesianProduct anywhere, no row-wise BatchEvalPython anywhere,
    Arrow kernels only in the documented ALLOWED_ARROW set, and
    BroadcastNestedLoopJoin only at documented tiny-side cross joins."""
    import __spark_entry__ as E
    from tools.plan_audit import ALLOWED_ARROW, ALLOWED_BNLJ, census

    sf = "/root/testdata/sf0.001"
    bad = []
    for name, fn in E.queries().items():
        c = census(_plan(fn(spark, sf)))
        if c["cartesian"]:
            bad.append((name, "cartesian"))
        if c["row_python"]:
            bad.append((name, "row_python"))
        if c["arrow_python"] and name not in ALLOWED_ARROW:
            bad.append((name, "arrow"))
        if c["bnlj"] and name not in ALLOWED_BNLJ:
            bad.append((name, "bnlj"))
    assert not bad, bad
