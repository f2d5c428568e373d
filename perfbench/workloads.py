"""The benchmark's workloads. Each is mostly carried by a different layer.

- ``bulk_ingest``: one fresh epoch of the raw -> 1m -> 1h -> 1d rollup with
  compression, over long uniform docs (the job the system exists for):
  the fused kernel, the encoders and the tier writes; lineage and the
  manifest see three commits.
- ``serve_reads``: one client issues a seeded mix of ``downsample`` reads
  (through ``tier_fallback``) at a merged micro-batch epoch, and
  ``serve_raw_points`` and 1h reads of the current view that one
  maintenance cycle left (``ServeReads.prepare``): lineage reads,
  ``read_at`` union fan-out, scan pruning and the vectorized decoders,
  with no kernel and no write. Maintenance is timed once, before the
  measured reads.

Every workload makes its inputs with ``engine.io.synth_tokens(seed=...)``
and writes them during set-up to a multi-file parquet table in its own
work dir. Every operation's result is checked (``Harness.check``).
"""

from __future__ import annotations

import os
import random
import shutil
import time

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from engine.io import ParquetManifestFormat, scan_tokens, synth_tokens
from engine.query import downsample, range_filter, serve_raw_points
from engine.schema import TIER_ORDER, TIER_SECONDS
from jobs.compact import compact_tier
from jobs.retention import run_retention, run_snapshot_expiry
from jobs.rollup import run_rollup

SETUP_REPEATS = 5


# ---------------------------------------------------------------------------
# inputs and expected values
# ---------------------------------------------------------------------------


def write_tokens(spark, path: str, n_docs: int, n_tok: int, seed: int,
                 files: int, batch_of=None) -> None:
    """Write the seeded token table as *files* parquet files (per batch).

    ``batch_of`` maps the doc index column to a batch number; the table is
    then partitioned by ``batch`` so each micro-batch reads as a token
    table of its own (``<path>/batch=<k>``)."""
    df = synth_tokens(spark, n_docs, seed=seed, n_tok=n_tok)
    if batch_of is None:
        df.repartition(files).write.mode("overwrite").parquet(path)
        return
    idx = F.substring("doc_id", 5, 8).cast("int")
    (df.withColumn("batch", batch_of(idx)).repartition(files)
       .write.mode("overwrite").partitionBy("batch").parquet(path))


class Series:
    """The input's series as the engine keeps them: gap-filled forward
    (the default ``ffill`` policy), from each doc's first non-null token
    on. ``first[d]`` is that position (-1 for an all-gap doc)."""

    def __init__(self, path: str):
        t = pq.read_table(path, columns=["doc_id", "tokens"])
        toks = t.column("tokens").combine_chunks()
        offs = toks.offsets.to_numpy()
        vals = toks.values.to_numpy(zero_copy_only=False).astype(np.float64)
        self.raw_non_null = int((~np.isnan(vals)).sum())
        self.filled: dict[str, np.ndarray] = {}
        self.first: dict[str, int] = {}
        for j, doc in enumerate(t.column("doc_id").to_pylist()):
            v = vals[offs[j]:offs[j + 1]]
            ok = ~np.isnan(v)
            if not ok.any():
                self.first[doc] = -1
                self.filled[doc] = v
                continue
            idx = np.maximum.accumulate(np.where(ok, np.arange(v.size), 0))
            self.first[doc] = int(np.argmax(ok))
            self.filled[doc] = v[idx]
        self.docs = sorted(self.filled)

    def kept(self, docs=None, lo: int = 0, hi: int | None = None) -> int:
        """Points the engine keeps for *docs* (default all) in [lo, hi)."""
        total = 0
        for d in self.docs if docs is None else docs:
            if self.first[d] < 0:
                continue
            n = self.filled[d].size
            total += max(0, (n if hi is None else min(hi, n)) - max(self.first[d], lo))
        return total

    def points(self, docs, lo: int, hi: int) -> list[tuple[str, int, int]]:
        """The sorted (doc_id, t, v) points serve_raw_points must return."""
        out = []
        for d in docs:
            if self.first[d] < 0:
                continue
            v = self.filled[d]
            ts = range(max(self.first[d], lo), min(hi, v.size))
            out.extend((d, t, int(v[t])) for t in ts)
        return sorted(out)


def lineage_in_rows(warehouse: str, epoch: int) -> dict[str, int]:
    """tier -> sum of lineage in_rows for one epoch, read with pyarrow so
    the check adds no span and no Spark job."""
    d = os.path.join(warehouse, "lineage")
    out = dict.fromkeys(TIER_ORDER, 0)
    for name in os.listdir(d):
        if not name.startswith("commit-"):
            continue
        t = pq.read_table(os.path.join(d, name),
                          columns=["tier", "checkpoint_epoch", "in_rows"])
        for tier, ep, n in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            if ep == epoch and tier in out:
                out[tier] += n
    return out


def snapshot_files(fmt, tier: str) -> list[str]:
    """The data files a tier's current snapshot references."""
    table = f"rollup_{tier}"
    if fmt.current_snapshot(table) == 0:
        return []
    out = []
    for d, parts in fmt.snapshot_dirs(table).items():
        for h in parts:
            pdir = os.path.join(d, f"part_hash={h}")
            out += [os.path.join(pdir, f) for f in sorted(os.listdir(pdir))
                    if f.endswith(".parquet")]
    return out


def tier_totals(fmt, tier: str) -> tuple[int, int]:
    """(rows, sum of cnt) of a tier's current snapshot, read straight from
    its files with pyarrow (no Spark job between timed operations)."""
    rows = cnt = 0
    for path in snapshot_files(fmt, tier):
        t = pq.read_table(path, columns=["cnt"])
        rows += t.num_rows
        cnt += int(pc.sum(t["cnt"]).as_py() or 0)
    return rows, cnt


def warehouse_files(fmt) -> tuple[int, int]:
    """(data files, bytes) every tier's current snapshot references."""
    files = [p for t in TIER_ORDER for p in snapshot_files(fmt, t)]
    return len(files), sum(os.path.getsize(p) for p in files)


def scanned_dirs(df) -> int:
    """Distinct ``snap-N`` data dirs a planned read scans (one ``read_at``
    union branch each)."""
    return len({os.path.dirname(os.path.dirname(p)) for p in df.inputFiles()})


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """Set-up, warm-up, one measured step, and end-of-run checks."""

    name = ""
    op_kinds: tuple[str, ...] = ()  # the kinds whose latency is op latency
    round_ops = 1  # a run measures whole rounds of this many operations

    def __init__(self, spark, harness, tracer, work: str, seed: int):
        self.spark = spark
        self.h = harness
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.tokens_done = 0  # raw points the measured ops covered
        self.rollup_metrics: list[dict] = []  # run_rollup's returned dicts

    def setup_once(self) -> None:
        """Write the seeded inputs from scratch."""
        raise NotImplementedError

    def setup(self) -> list[float]:
        """Set up SETUP_REPEATS times; returns each pass's seconds. The
        first pass also pays the fresh JVM's class loading and JIT of the
        write path, which the median leaves out."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.monotonic()
            self.setup_once()
            times.append(time.monotonic() - t0)
        return times

    def prepare(self) -> None:
        """Untimed: derive expected values, warm the measured path."""

    def step(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> dict:
        """End-of-run checks; returns facts for the record."""
        return {}

    def ingest_input(self):
        """A token table for the fused-kernel probe (None: no ingest)."""
        return None

    def warehouse(self) -> str:
        raise NotImplementedError

    def snap_dirs(self) -> float:
        """snap-N data dirs a measured operation touches."""
        raise NotImplementedError


class BulkIngest(Workload):
    name = "bulk_ingest"
    op_kinds = ("ingest_epoch",)
    # the first two epochs of a fresh JVM run up to twice as slow (JIT of
    # the rollup and codec paths), so WARM_EPOCHS untimed epochs run first;
    # a run measures whole rounds of four epochs, one round at this host's
    # usual speed, so every run's median is over as many epochs
    round_ops = 4
    DOCS, TOKENS, FILES, WARM_EPOCHS = 32, 8192, 8, 2

    def setup_once(self):
        self.input = os.path.join(self.work, "input")
        write_tokens(self.spark, self.input, self.DOCS, self.TOKENS,
                     self.seed, self.FILES)

    def prepare(self):
        self.series = Series(self.input)
        self.kept = self.series.kept()
        for i in range(self.WARM_EPOCHS):
            wh = os.path.join(self.work, f"wh-warm{i}")
            run_rollup(self.spark, scan_tokens(self.spark, self.input), wh, epoch=1,
                       compress=True)
            shutil.rmtree(wh)
        self.wh = None

    def step(self, i):
        if self.wh:
            shutil.rmtree(self.wh)
        self.wh = os.path.join(self.work, f"wh-{i}")

        def epoch():
            return run_rollup(self.spark, scan_tokens(self.spark, self.input),
                              self.wh, epoch=1, compress=True)

        self.rollup_metrics.append(self.h.op("ingest_epoch", epoch))
        self.tokens_done += self.kept
        got = lineage_in_rows(self.wh, 1)
        self.h.check("lineage_in_rows", got == dict.fromkeys(TIER_ORDER, self.kept),
                     f"{got} vs {self.kept} kept points")

    def finish(self):
        fmt = ParquetManifestFormat(self.spark, self.wh)
        cnt = {t: tier_totals(fmt, t)[1] for t in TIER_ORDER}
        self.h.check("tier_cnt", set(cnt.values()) == {self.kept},
                     f"{cnt} vs {self.kept}")
        return {"stored_tokens": self.kept,
                "input": {"docs": self.DOCS, "tokens_per_doc": self.TOKENS,
                          "files": self.FILES,
                          "raw_non_null": self.series.raw_non_null,
                          "kept_points": self.kept}}

    def ingest_input(self):
        return scan_tokens(self.spark, self.input)

    def warehouse(self):
        return self.wh

    def snap_dirs(self):
        # one fresh dir per tier written
        fmt = ParquetManifestFormat(self.spark, self.wh)
        return sum(len(fmt.snapshot_dirs(f"rollup_{t}")) for t in TIER_ORDER)


class ServeReads(Workload):
    name = "serve_reads"
    BASE_DOCS, MERGE_DOCS, TOKENS, FILES = 64, 16, 8192, 8
    # retention keeps one day of 1h buckets at a now_t one hour past that,
    # so it drops the first hour: raw steps before CUTOFF_T
    RETAIN_1H, CUTOFF_T = 86400, 3600
    # read kind -> the epoch it queries; None reads the current view, after
    # maintenance. There is no record of real read traffic to weight the
    # kinds by, so the mix holds one read of each kind per block, and every
    # read gets the same argument shape: DOCS_PER_READ docs and a range of
    # SPAN raw steps (a quarter of a doc, so range pruning works) at a
    # seeded position. A fixed span keeps the points a refresh asks for,
    # and so tokens_per_cpu_s, from varying with the seed.
    KINDS = {"ds_1h": 2, "ds_1d_fallback": 2, "ds_offgrid_anom": 2,
             "cur_1h": None, "cur_raw_points": None}
    DOCS_PER_READ, SPAN = 4, 2048
    # One operation is a refresh: one block, the reads of every kind one
    # after another, as a dashboard issues them. The kinds' latencies differ
    # by up to 4x, so the median of the few single reads a run can afford
    # jumps between kinds; a refresh sums over them. Each read's own
    # latency is kept in the record (``reads_s``). A round of three
    # refreshes keeps the median clear of one slow refresh. A run warms
    # with WARM_REFRESHES untimed refreshes and measures one round: the
    # JVM's CPU per refresh steps up by about a quarter at the sixth
    # refresh of a run, whatever the host's speed, and then holds, so a
    # run that measured past it would mix the two levels.
    op_kinds = ("refresh",)
    BLOCKS = round_ops = 3
    WARM_REFRESHES = 1
    PLAN_KIND = {"ds_1d_fallback": "fallback", "cur_raw_points": "raw_points"}

    @classmethod
    def read_mix(cls, seed: int, docs_at: dict, blocks: int) -> list[dict]:
        """The seeded read sequence: *blocks* blocks of one read of each
        kind, each block shuffled. Every seed issues the same kinds, only
        their order and arguments differ."""
        rng = random.Random(seed)
        block = list(cls.KINDS)
        reads = []
        for _ in range(blocks):
            rng.shuffle(block)
            for kind in block:
                lo = rng.randrange(0, cls.TOKENS - cls.SPAN + 1)
                epoch = cls.KINDS[kind]
                docs = sorted(rng.sample(docs_at[epoch], cls.DOCS_PER_READ))
                reads.append({"kind": kind, "epoch": epoch, "docs": docs,
                              "lo": lo, "hi": lo + cls.SPAN})
        return reads

    def setup_once(self):
        self.input = os.path.join(self.work, "input")
        b, m = self.BASE_DOCS, self.MERGE_DOCS
        write_tokens(self.spark, self.input, b + m, self.TOKENS, self.seed,
                     self.FILES, batch_of=lambda i: F.when(i < b, 1).otherwise(2))

    def prepare(self):
        """Build the warehouse, run one maintenance cycle, warm the reads.

        Epoch 1 loads the base docs into every tier. Epoch 2 merges a
        micro-batch that touches a subset of 1m partitions, so its 1m
        snapshot spans two snap-N dirs, and commits 1m and 1h only, so 1d
        reads at epoch 2 cascade from 1h on the fly. Then one maintenance
        cycle (``maintain``). Reads at epoch 2 go through lineage to the
        snapshots that epoch committed; ``cur_*`` reads see the current
        view that maintenance left."""
        self.series = Series(self.input)
        by_batch = {e: Series(os.path.join(self.input, f"batch={e}")).docs
                    for e in (1, 2)}
        t0 = time.monotonic()
        self.wh = os.path.join(self.work, "wh")
        for e in (1, 2):
            run_rollup(self.spark,
                       scan_tokens(self.spark, os.path.join(self.input, f"batch={e}")),
                       self.wh, epoch=e, merge_docs=e > 1,
                       tiers=["1m", "1h"] if e == 2 else None)
        t1 = time.monotonic()
        self.fmt = ParquetManifestFormat(self.spark, self.wh)
        self.maintain()
        t2 = time.monotonic()
        docs = by_batch[1] + by_batch[2]
        self.reads = self.read_mix(self.seed, {2: docs, None: docs}, self.BLOCKS)
        self.log: list[dict] = []  # one entry per measured read
        # read kind -> snap dirs its plan scans (a block has every kind)
        self.dirs = {r["kind"]: scanned_dirs(self._plan(r)) for r in self._block(0)}
        for i in range(self.WARM_REFRESHES):
            for r in self._block(i):
                self._check(r, self._read(r, None))
        self.prepare_s = {"build": t1 - t0, "maintain": t2 - t1,
                          "warm_reads": time.monotonic() - t2}

    def maintain(self):
        """One maintenance cycle, in the order a scheduler runs it, timed
        once: retention on 1h (drops the first hour; every live partition
        straddles the cutoff, so all are rewritten), compaction of 1m
        (epoch 2 left its current snapshot over two snap dirs), then
        snapshot expiry keeping each tier's current snapshot and those
        epoch 2 committed. Expiry deletes the 1h dir of epoch 1, which
        epoch 2's merge superseded; epoch 1 stays readable from its 1d
        tier. The ``cur_*`` reads scan what this leaves."""
        m = {}
        rows0, _ = tier_totals(self.fmt, "1h")
        now_t = self.RETAIN_1H + self.CUTOFF_T
        t0 = time.monotonic()
        ret = run_retention(self.spark, self.wh, {"1h": self.RETAIN_1H}, now_t, 2)["1h"]
        m["retention_s"] = time.monotonic() - t0
        rows1, cnt1 = tier_totals(self.fmt, "1h")
        want = self.series.kept(lo=self.CUTOFF_T)
        self.h.check("retention_rows",
                     rows1 == rows0 - ret["rows_dropped"] and cnt1 == want,
                     f"rows {rows0} - {ret['rows_dropped']} vs {rows1}; "
                     f"sum cnt {cnt1} vs {want} points from the cutoff on")
        before = tier_totals(self.fmt, "1m")
        t0 = time.monotonic()
        comp = compact_tier(self.spark, self.fmt, self.wh, "1m", epoch=2)
        m["compact_s"] = time.monotonic() - t0
        self.h.check("compact_rows",
                     tier_totals(self.fmt, "1m") == before and comp.get("rows") == before[0],
                     f"{comp} vs (rows, sum cnt) {before}")
        t0 = time.monotonic()
        exp = run_snapshot_expiry(self.spark, self.wh, list(TIER_ORDER),
                                  keep_last=1, pin_epochs={2})
        m["expire_s"] = time.monotonic() - t0
        m.update(compact_dirs_before=comp.get("dirs_before", 0),
                 rewritten_partitions=ret["rewritten_partitions"],
                 rows_dropped=ret["rows_dropped"],
                 removed_dirs=sum(len(x.get("removed_dirs", [])) for x in exp.values()))
        self.maint = [m]

    def _plan(self, r):
        k, e, docs, lo, hi = r["kind"], r["epoch"], r["docs"], r["lo"], r["hi"]
        if k == "ds_1h":
            return downsample(self.spark, self.fmt, e, docs, lo, hi, 3600)
        if k == "ds_1d_fallback":  # 1d is uncommitted at epoch 2: cascades from 1h
            return downsample(self.spark, self.fmt, e, docs, lo, hi, 86400)
        if k == "ds_offgrid_anom":  # 5400 s is off the 1h grid: served from 1m
            return downsample(self.spark, self.fmt, e, docs, lo, hi, 5400,
                              anomalies_only=True)
        if k == "cur_1h":
            return range_filter(self.fmt.read("rollup_1h"), "1h", lo, hi).where(
                F.col("doc_id").isin(docs)).select("doc_id", "bucket", "cnt")
        return serve_raw_points(self.fmt.read("rollup_1m"), lo, hi, docs)

    def _read(self, r, log) -> list:
        """One read: plan on the driver, then execute (collect)."""
        kind = self.PLAN_KIND.get(r["kind"], "downsample")
        with self.tracer.span(f"engine.query.{kind}.plan"):
            t0 = time.monotonic()
            df = self._plan(r)
            t1 = time.monotonic()
        with self.tracer.span(f"engine.query.{kind}.exec"):
            rows = df.collect()
            t2 = time.monotonic()
        if log is not None:
            log.append({"kind": kind, "read": r["kind"], "plan_s": t1 - t0,
                        "exec_s": t2 - t1, "s": t2 - t0, "rows": len(rows)})
        return rows

    def _block(self, i) -> list[dict]:
        """The reads of refresh *i*: the blocks in turn."""
        n = len(self.KINDS)
        first = (i % self.BLOCKS) * n
        return self.reads[first:first + n]

    def step(self, i):
        block = self._block(i)
        rows = self.h.op("refresh", lambda: [self._read(r, self.log) for r in block])
        for r, got in zip(block, rows):
            self._check(r, got)
            # the raw points a read asks for, whatever the buckets it serves
            self.tokens_done += self.series.kept(r["docs"], r["lo"], r["hi"])

    def _check(self, r, rows) -> None:
        """Check one read's rows against the input."""
        k, docs = r["kind"], r["docs"]
        if k == "cur_raw_points":
            got = sorted((x["doc_id"], int(x["t"]), int(x["v"])) for x in rows)
            want = self.series.points(docs, r["lo"], r["hi"])
            self.h.check(k, got == want, f"{len(got)} vs {len(want)} points")
            return
        cnt = sum(int(x["cnt"]) for x in rows)
        # whole buckets overlapping [lo, hi)
        b = TIER_SECONDS[{"ds_1d_fallback": "1d", "ds_offgrid_anom": "1m"}.get(k, "1h")]
        lo, hi = r["lo"] // b * b, ((r["hi"] - 1) // b + 1) * b
        if k == "cur_1h":  # retention dropped the points before CUTOFF_T
            lo = max(lo, self.CUTOFF_T)
        want = self.series.kept(docs, lo, hi)
        if k == "ds_offgrid_anom":
            self.h.check(k, cnt <= want and all(x["anom_cnt"] > 0 for x in rows),
                         f"sum cnt {cnt} vs {want} kept points, or a bucket "
                         "without anomalies")
        else:
            self.h.check(f"cnt.{k}", cnt == want, f"sum cnt {cnt} vs {want} kept points")

    def snap_dirs(self) -> float:
        return sum(self.dirs[x["read"]] for x in self.log) / len(self.log)

    def finish(self):
        return {"stored_tokens": tier_totals(self.fmt, "1m")[1],
                "prepare_s": self.prepare_s, "maintenance": self.maint,
                "snap_dirs_per_kind": self.dirs,
                "reads_s": {k: [x["s"] for x in self.log if x["read"] == k]
                            for k in self.KINDS},
                "input": {"base_docs": self.BASE_DOCS,
                          "merge_docs": self.MERGE_DOCS,
                          "tokens_per_doc": self.TOKENS,
                          "files_per_batch": self.FILES,
                          "docs_per_read": self.DOCS_PER_READ,
                          "span": self.SPAN, "kinds": self.KINDS}}

    def warehouse(self):
        return self.wh


WORKLOADS = {w.name: w for w in (BulkIngest, ServeReads)}
