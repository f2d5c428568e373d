"""Golden-file guard (FIXTURES.md F4): any drift in the pinned semantics is
loud. Pure oracle check (no Spark) — the production path (the fused 1m
kernel and the cascade) is pinned to the oracle by test_parity.py, so
oracle==golden and engine==oracle closes the loop."""

from __future__ import annotations

import json
import math
from pathlib import Path

import pytest

from engine import oracle
from tests.conftest import make_token_rows

GOLDEN_DIR = Path(__file__).parent / "golden"
GOLDENS = sorted(GOLDEN_DIR.glob("*.json"))


def _clean(x):
    if isinstance(x, float) and math.isnan(x):
        return None
    return x


@pytest.mark.parametrize("path", GOLDENS, ids=[p.stem for p in GOLDENS])
def test_golden(path):
    golden = json.loads(path.read_text())
    rows = {r["doc_id"]: r for r in make_token_rows()}
    row = rows[golden["doc_id"]]
    assert row["tokens"] == golden["tokens"], "fixture drifted from golden input"
    filled = oracle.gap_fill_series(row["tokens"], golden["pinned"]["policy"])
    assert filled == golden["filled"]
    st = oracle.rolling_stats_series(
        filled, golden["pinned"]["w"], golden["pinned"]["k"]
    )
    for col in ("ma", "sd", "score"):
        got = [_clean(v) for v in st[col].tolist()]
        assert got == golden[col], f"{golden['doc_id']}.{col} drifted"
    assert st["is_anom"].tolist() == golden["is_anom"]
    assert st.loc[st["is_anom"], "t"].astype(int).tolist() == golden["detect"]


def test_goldens_exist():
    assert len(GOLDENS) >= 9
    spiked = [p for p in GOLDENS if json.loads(p.read_text())["detect"]]
    assert spiked, "at least one golden doc must contain detected anomalies"
