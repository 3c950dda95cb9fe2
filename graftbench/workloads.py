"""The three workloads: their step lists, inputs, passes and output checks.

A workload is a fixed list of steps run one after another by one client
(closed loop: a step starts when the previous one has returned).  A
*pass* is one run over the whole list; the benchmark times whole passes,
never a median over steps of different lengths.

Query steps call a registered query (``registry.QUERIES``) and collect
its full result to the client, so no output column can be pruned.
Parity steps run a MapReduce app through
``parity.run_job_df`` into the text sink, the reference's write path.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import gen

# Input sizes.  A run of the engine on 4 cores pays ~8 s of JVM and
# session start and a 15-25 s cold pass before anything is timed; the
# sizes keep a pass at 6-10 s so that three or four passes and the oracle
# check fit the benchmark's time budget (README.md).  Tables a workload
# does not read are written with a handful of rows.
MR_FILES = 8
MR_FILE_BYTES = 2_500_000
STAR_ORDERS = 40_000  # lineitem = 4 x orders
# The document count is held down by the oracle check (the DuckDB oracle
# of dedup_clusters takes ~3 s per 1,000 documents); the embeddings are
# the data-proportional part of a pass, so that the JIT warm-up of the
# per-job driver code is a smaller share of it.
DEDUP_DOCS = 1_000
DEDUP_VECS = 2_400


@dataclass
class Workload:
    name: str
    steps: list[str]  # query names, or parity app names
    kind: str  # "query" or "parity"
    generate: Callable[[str, int], None]  # (data_dir, seed): write the inputs


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "mr_wordcount",
            ["wc", "indexer"],
            "parity",
            lambda d, seed: gen.text_files(d, seed, MR_FILES, MR_FILE_BYTES),
        ),
        # runs by hand only; not in BENCHMARK.json (README.md)
        Workload(
            "star_analytics",
            [
                "sql_interface_revenue",
                "large_quantity_orders",
                "rolling_7day_revenue",
                "range_join_price_bands",
            ],
            "query",
            lambda d, seed: gen.tables(d, seed, STAR_ORDERS, n_docs=20, n_vecs=20),
        ),
        Workload(
            "dedup_pipeline",
            [
                "minhash_near_dup_pairs",
                "dedup_clusters",
                # builds kmeans_ivf_assignments (Lloyd rounds) as the
                # memo's first consumer; kmeans_ivf_assignments itself
                # is not a step (README.md)
                "ivf_probe_topk",
                "doc_length_zscores",
            ],
            "query",
            lambda d, seed: gen.tables(d, seed, 50, DEDUP_DOCS, DEDUP_VECS),
        ),
    ]
}


@dataclass
class StepRun:
    step: str
    seconds: float  # construct + action (query) or run_job + sink (parity)
    digest: str | None = None
    error: str | None = None
    output: object = None  # the collected rows or sink lines, for the check
    frame: object = None  # the executed DataFrame, for its planning times
    phases: dict = field(default_factory=dict)  # sub-timings


def _rows_digest(pdf) -> str:
    """Order-insensitive digest of a collected result: row count plus
    the wrapping sum of per-row hashes over the sorted columns."""
    import pandas as pd

    cols = sorted(pdf.columns)
    canon = pd.DataFrame(
        {c: pdf[c].map(repr) if pdf[c].dtype == object else pdf[c] for c in cols}
    )
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy().sum()
    return f"{len(pdf)}:{','.join(cols)}:{int(h)}"


def _sink_lines(out_dir: str) -> list[bytes]:
    lines: list[bytes] = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), "rb") as f:
                lines.extend(f.read().splitlines())
    return lines


def _lines_digest(lines: list[bytes]) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line + b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


_APPS = {"wc": ("wc_map", "wc_reduce"), "indexer": ("indexer_map", "indexer_reduce")}


class Runner:
    """Runs the steps of one workload against one Spark session."""

    def __init__(self, spark, wl: Workload, data_dir: str, out_dir: str):
        self.spark, self.wl, self.data_dir, self.out_dir = spark, wl, data_dir, out_dir
        self.inputs = (
            sorted(os.path.join(data_dir, n) for n in os.listdir(data_dir))
            if wl.kind == "parity"
            else []
        )
        # the traced run substitutes a wrapper that times the app functions
        self.app_wrap = lambda fn, is_map: fn

    def _group(self, label: str, step: str, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{label}/{step}/{phase}", phase)

    def _query_step(self, label: str, step: str) -> StepRun:
        """Construct the query's frame, then collect every row and
        column to the client (the action a user of the result runs)."""
        from go_map_reduce_spark import registry

        t0 = time.perf_counter()
        self._group(label, step, "construct")
        df = registry.QUERIES[step](self.spark, self.data_dir)
        t1 = time.perf_counter()
        self._group(label, step, "action")
        pdf = df.toPandas()
        t2 = time.perf_counter()
        registry.release_caches()
        t3 = time.perf_counter()
        return StepRun(
            step,
            t3 - t0,
            _rows_digest(pdf),
            output=pdf,
            frame=df,
            phases={"construct_s": t1 - t0, "action_s": t2 - t1},
        )

    def _parity_step(self, label: str, step: str) -> StepRun:
        from go_map_reduce_spark.parity import apps, mapreduce

        mapf = self.app_wrap(getattr(apps, _APPS[step][0]), True)
        reducef = self.app_wrap(getattr(apps, _APPS[step][1]), False)
        out = os.path.join(self.out_dir, step)
        t0 = time.perf_counter()
        self._group(label, step, "construct")
        df = mapreduce.run_job_df(self.spark, mapf, reducef, self.inputs, n_reduce=10)
        t1 = time.perf_counter()
        self._group(label, step, "action")
        mapreduce.write_text_output(df, out)
        t2 = time.perf_counter()
        lines = _sink_lines(out)
        return StepRun(
            step,
            t2 - t0,
            _lines_digest(lines),
            output=lines,
            phases={"run_job_s": t1 - t0, "sink_write_s": t2 - t1},
        )

    def run_step(self, label: str, step: str) -> StepRun:
        try:
            if self.wl.kind == "parity":
                return self._parity_step(label, step)
            return self._query_step(label, step)
        except Exception as e:  # a failed step is counted, the loop goes on
            from go_map_reduce_spark import registry

            registry.release_caches()
            return StepRun(step, float("nan"), error=f"{type(e).__name__}: {e}"[:500])

    def check(self, step: str, output, corrupt: bool) -> str | None:
        """Check one step's collected output against its oracle; returns
        the mismatch or None.  ``corrupt`` drops one row or sink line
        first, to prove that a wrong output is reported."""
        if self.wl.kind == "parity":
            return self._check_parity(step, output[1:] if corrupt else output)
        from go_map_reduce_spark import registry
        from tests.oracle_util import compare

        if corrupt:
            output = output.iloc[1:].reset_index(drop=True)
        try:
            compare(_Collected(output), registry.ORACLES[step], self.data_dir)
        except AssertionError as e:
            return f"oracle mismatch: {e}"[:500]
        return None

    def _check_parity(self, step: str, lines: list[bytes]) -> str | None:
        from go_map_reduce_spark.parity import apps
        from go_map_reduce_spark.parity.mapreduce import sequential_oracle

        got = dict(line.decode().split(" ", 1) for line in lines)
        # wholeTextFiles names each input "file:<path>"; the oracle gets
        # the same names so the indexer's document lists agree
        named = []
        for p in self.inputs:
            with open(p) as f:
                named.append((f"file:{p}", f.read()))
        mapf, reducef = (getattr(apps, n) for n in _APPS[step])
        want = sequential_oracle(mapf, reducef, named)
        if got != want:
            bad = sorted(set(got.items()) ^ set(want.items()))[:3]
            return f"sequential oracle mismatch: {len(got)} vs {len(want)} keys, e.g. {bad}"
        return None


class _Collected:
    """A collected result in the shape ``oracle_util.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf
