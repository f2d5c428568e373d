"""Shared fixtures: one SparkSession per test run + deterministic token fixtures."""

from __future__ import annotations

import math
import random
import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from engine.schema import DEFAULT_WINDOW, TOKENS_SCHEMA  # noqa: E402
from engine.session import get_spark  # noqa: E402

W = DEFAULT_WINDOW  # 30

AGG_COLS = [
    "doc_id", "bucket", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
    "vmean", "anom_cnt", "first_v", "last_v",
]
_INT_COLS = {"bucket", "cnt", "vmin", "vmax", "vsum", "anom_cnt", "first_v", "last_v"}


def rollup_rows(df, cols=AGG_COLS) -> list[tuple]:
    """Sorted row tuples of a Spark rollup frame; bucket_ts as epoch
    seconds, payloads as bytes."""
    from pyspark.sql import functions as F

    sel = [F.unix_seconds("bucket_ts").alias(c) if c == "bucket_ts" else c
           for c in cols]
    return sorted(
        tuple(bytes(x) if isinstance(x, (bytearray, bytes)) else x for x in r)
        for r in df.select(sel).collect()
    )


def oracle_rollup_rows(frame) -> list[tuple]:
    """The oracle's rollup frame in rollup_rows' form (NaN -> None, ints as
    int). Tuple equality compares vmean bit-exact: 0 ulp, no tolerance."""
    out = []
    for r in frame.to_dict("records"):
        row = []
        for c in AGG_COLS:
            x = r[c]
            if c == "bucket_ts":
                x = x.value // 10**9
            elif x is None or (isinstance(x, float) and math.isnan(x)):
                x = None
            elif c in _INT_COLS:
                x = int(x)
            row.append(x)
        out.append(tuple(row))
    return sorted(out)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", master="local[4]", shuffle_partitions=4)
    yield s


def _random_doc(rng: random.Random, i: int, length: int) -> dict:
    tokens = []
    for t in range(length):
        if rng.random() < 0.05:
            tokens.append(None)  # gap
        else:
            v = rng.randrange(50000)
            if rng.random() < 0.01:
                v += 144340  # +10 sigma spike
            tokens.append(v)
    return {
        "doc_id": f"doc_{i:08d}",
        "tokens": tokens,
        "n_tok": length,
        "source": rng.choices(
            ["cc", "wiki", "books", "code", "news"], weights=[70, 10, 8, 7, 5]
        )[0],
    }


def _big_doc() -> list:
    """400 points alternating near +-2e8, one gap and three 2e9 spikes
    (the only anomalies). At w=30 the window's num = w*s2 - s1^2 is
    ~1e20: it does not fit int64, so int64 arithmetic gets sd wrong."""
    tokens = [(200_000_000 + (t * 7919) % 50000) * (1 if t % 2 else -1)
              for t in range(400)]
    for t in (100, 250, 371):
        tokens[t] = 2_000_000_000
    tokens[50] = None
    return tokens


def make_token_rows(n_random: int = 50, seed: int = 42) -> list[dict]:
    """Deterministic fixture table: named edge-case docs (FIXTURES.md F1)
    plus n_random mixed-length random docs. Pure-Python generation so the
    pandas oracle and Spark consume byte-identical input."""
    rng = random.Random(seed)
    rows = [
        {"doc_id": "doc_allgaps", "tokens": [None] * 40, "n_tok": 40, "source": "cc"},
        {"doc_id": "doc_const", "tokens": [7] * 80, "n_tok": 80, "source": "cc"},
        {
            "doc_id": "doc_short",  # n_tok = w-1 -> every stat NULL
            "tokens": list(range(W - 1)),
            "n_tok": W - 1,
            "source": "wiki",
        },
        {"doc_id": "doc_single", "tokens": [123], "n_tok": 1, "source": "code"},
        {"doc_id": "doc_empty", "tokens": [], "n_tok": 0, "source": "news"},
        {
            "doc_id": "doc_negmax",
            "tokens": [-(2**31), 2**31 - 1, -1, 0, None, 2**31 - 1, -(2**31)] * 10,
            "n_tok": 70,
            "source": "books",
        },
        {
            "doc_id": "doc_leadgap",  # leading gap stays null under ffill
            "tokens": [None, None, None] + [int(x) for x in range(100, 160)],
            "n_tok": 63,
            "source": "cc",
        },
        {"doc_id": "doc_big", "tokens": _big_doc(), "n_tok": 400, "source": "news"},
    ]
    lengths = [1, W - 1, W, W + 1, 97, 200, 512]
    for i in range(n_random):
        rows.append(_random_doc(rng, i, lengths[i % len(lengths)]))
    return rows


@pytest.fixture(scope="session")
def token_rows():
    return make_token_rows()


@pytest.fixture(scope="session")
def tokens_df(spark, token_rows):
    return spark.createDataFrame(token_rows, TOKENS_SCHEMA).cache()


@pytest.fixture(scope="session")
def ora(token_rows):
    from engine import oracle

    return oracle.pipeline_oracle(token_rows)


@contextmanager
def gateway_commands(spark):
    """Collect the py4j commands the driver sends to the JVM inside the
    block, memory release (``m\\nd``, sent when a Python proxy of a JVM
    object is garbage-collected) left out."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent: list[str] = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = send
