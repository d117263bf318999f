"""One benchmark run: repeated set-up, unmeasured warm passes, then
passes over the workload's op sequence until the time budget is spent
and at least ``MIN_PASSES`` passes and ``MIN_SAMPLES`` op latencies
are measured.

Closed loop, one client: the next op starts when the previous one has
returned. A pass's run_s is the "median pass": for every op of the
sequence, its median latency over the measured passes, summed, so one
slow job in one pass does not move it. End-to-end metrics come from
untraced passes only. With ``trace`` on, traced and untraced passes
alternate; the per-layer metrics come from the traced ones, and traced
minus untraced run_s is the tracing overhead (passes go untraced,
traced, traced, untraced, so a drift during the run cancels).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
from pyspark import SparkContext

from molgraphdb_spark.session import get_spark, tune

from perfbench.checks import KernelReplay
from perfbench.tracing import Tracer, layer_self_seconds
from perfbench.workloads import REGISTRY_QUERIES, WORKLOADS, Workload

#: set-ups per run; setup_s is their median
N_SETUPS = 2
#: unmeasured warm passes (``Workload.warm_ops``) run until this much
#: time is spent (at least one), so the JVM's code is compiled and
#: Spark's generated code cached before the measured passes start
WARM_S = 3.0
#: fewest measured passes, untraced (traced runs need four)
MIN_PASSES = 2
#: fewest op latency samples an untraced run collects: more than twenty,
#: so that ten lie beyond a percentile above the median (``tail_level``)
MIN_SAMPLES = 22
#: points of the midpoint rule that integrates the Harrell-Davis weights
_HD_GRID = 4000

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "items_per_s": "1/s",
}

#: layers that get a self-time metric; "bench" is the benchmark's own
#: code inside an op (collecting results, building inputs)
LAYERS = ("bench", "chem", "spark_ops", "graph", "writers", "sqlite", "queries")

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.tune_s": "s",
    "chem.parse_us_per_mol": "us",
    "chem.mol_key_us_per_call": "us",
    "chem.enumerate_ms_per_mol": "ms",
    "chem.subgraphs_per_mol": "count",
    "chem.edits_ms_per_mol": "ms",
    "chem.exact_ged_ms_per_pair": "ms",
    "spark_ops.molecule_subgraphs_s": "s",
    "spark_ops.udf_rows_out": "count",
    "spark_ops.pairwise_overlap_s": "s",
    "spark_ops.selfjoin_rows": "count",
    "spark_ops.pairs_useful_ratio": "ratio",
    "spark_ops.expand_relations_s": "s",
    "spark_ops.expand_jobs": "count",
    "spark_ops.expand_branch_driver": "count",
    "spark_ops.expand_branch_distributed": "count",
    "graph.bfs_query_s": "s",
    "graph.jobs_per_query": "count",
    "writers.append_new_keys_s": "s",
    "writers.rows_appended_ratio": "ratio",
    "writers.bytes_per_user_byte": "ratio",
    "writers.files_on_disk": "count",
    "sqlite.export_s": "s",
    "sqlite.ingest_s": "s",
    "sqlite.rows_per_s": "1/s",
    **{f"queries.{q}_s": "s" for q in REGISTRY_QUERIES},
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.run_s_traced": "s",
    "trace.run_s_untraced": "s",
    "trace.overhead_s": "s",
    "trace.spans_per_pass": "count",
    "process.peak_rss_mb": "MB",
}


@dataclass
class Pass:
    traced: bool
    wall_s: float = 0.0
    #: (op name, seconds, is a latency sample) in sequence order
    ops: list[tuple[str, float, bool]] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    spans: list[dict] = field(default_factory=list)
    stats: Counter = field(default_factory=Counter)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_pid() -> int | None:
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child."""
    kb = _vm_hwm_kb("self")
    pid = _jvm_pid()
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _boot_workers(it):
    # pays the engine import in every Python worker before timing starts
    import molgraphdb_spark.chem.mol  # noqa: F401

    yield from it


def warm_up(spark) -> None:
    spark.range(1000).selectExpr("sum(id)").collect()
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(_boot_workers, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile of a non-empty list:
    a Beta(q(n+1), (1-q)(n+1))-weighted mean of the order statistics.
    A workload's ops are of several kinds, so their latencies cluster
    with gaps between the clusters; a single order statistic jumps
    across a gap when one kind gets a little faster, this estimate
    moves smoothly. Needs q(n+1) >= 1 and (1-q)(n+1) >= 1, which
    ``tail_level`` keeps."""
    s = np.sort(np.asarray(values, dtype=float))
    n = len(s)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    x = (np.arange(_HD_GRID) + 0.5) / _HD_GRID  # midpoints of (0, 1)
    log_pdf = (a - 1) * np.log(x) + (b - 1) * np.log1p(-x)
    pdf = np.exp(log_pdf - log_pdf.max())
    w = np.bincount((x * n).astype(int), weights=pdf, minlength=n)
    return float(w @ s / w.sum())


def median_pass_s(passes: list[Pass]) -> float:
    """Sum over the ops of a pass of each op's median latency across
    ``passes`` (every pass runs the same op sequence)."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for name, secs, _ in p.ops:
            by_op.setdefault(name, []).append(secs)
    return sum(statistics.median(v) for v in by_op.values())


def latency_samples(passes: list[Pass]) -> list[float]:
    return [secs for p in passes for _, secs, latency in p.ops if latency]


def tail_level(n: int) -> float:
    """The 90th percentile when at least ten samples lie beyond it,
    else the highest percentile that keeps ten beyond; the median when
    no percentile above it does (n <= 20, which ``MIN_SAMPLES`` rules
    out for untraced runs)."""
    return max(0.5, min(0.9, 1.0 - 10.0 / n)) if n else 0.5


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work_dir: str) -> None:
        self.wl: Workload = WORKLOADS[workload](seed, work_dir)
        self.seconds = seconds
        self.trace = trace
        self.tr = Tracer()
        self.replay = KernelReplay()
        self.spark = None
        self.setup_s: list[float] = []
        self.checks_s = 0.0
        self.get_spark_s: list[float] = []
        self.tune_s: list[float] = []
        self.passes: list[Pass] = []
        self.warm: list[Pass] = []
        self._request = 0
        self._pass_no = 0

    def setup_once(self) -> None:
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.tr.enabled = self.trace
        with self.tr.span("session.get_spark"):
            t = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.wl.name}")
            self.get_spark_s.append(time.perf_counter() - t)
        with self.tr.span("session.tune"):
            t = time.perf_counter()
            tune(self.spark)
            self.tune_s.append(time.perf_counter() - t)
        self.tr.enabled = False
        warm_up(self.spark)
        self.wl.setup(self.spark, self.tr)
        self.setup_s.append(time.perf_counter() - t0)

    def run_pass(self, traced: bool, warm: bool = False) -> Pass:
        rec = Pass(traced=traced)
        self._pass_no += 1
        self.wl.stats = Counter()
        mark = self.tr.mark()
        self.tr.enabled = traced
        t_wall = time.perf_counter()
        ops = self.wl.ops(self.spark, self.tr, self._pass_no)
        for op in self.wl.warm_ops(ops) if warm else ops:
            self._request += 1
            rec.attempted += 1
            err = None
            with self.tr.span(f"bench.{op.name}", request=self._request):
                t = time.perf_counter()
                try:
                    got = op.run()
                except Exception:  # an op that raises is a failed op
                    err = traceback.format_exc()
                dt = time.perf_counter() - t
            rec.ops.append((op.name, dt, op.latency))
            if err is None:
                try:
                    ok, detail = op.check(got)
                except Exception:  # a checker that raises fails the op
                    ok, detail = False, traceback.format_exc()
            else:
                ok, detail = False, err
            if not ok:
                rec.failed += 1
                print(f"FAILED {self.wl.name}.{op.name}: {detail}", file=sys.stderr)
        rec.wall_s = time.perf_counter() - t_wall
        self.tr.enabled = False
        rec.spans = self.tr.since(mark)
        if traced:
            self.tr.attach_spark_counts(rec.spans)
        rec.stats = self.wl.stats
        return rec

    def execute(self) -> None:
        for _ in range(N_SETUPS):
            self.setup_once()
        t = time.perf_counter()
        self.wl.prepare_checks(self.replay)
        self.checks_s = time.perf_counter() - t
        t_warm = time.perf_counter() + WARM_S
        while time.perf_counter() < t_warm:
            self.warm.append(self.run_pass(traced=False, warm=True))
        t_end = time.perf_counter() + self.seconds
        # traced runs order passes untraced, traced, traced, untraced, ...
        # so a drift during the run cancels out of the overhead
        min_passes = 4 if self.trace else MIN_PASSES
        min_samples = 0 if self.trace else MIN_SAMPLES
        while (
            len(self.passes) < min_passes
            or time.perf_counter() < t_end
            or len(latency_samples(self.passes)) < min_samples
        ):
            traced = self.trace and len(self.passes) % 4 in (1, 2)
            self.passes.append(self.run_pass(traced))

    # --- results ------------------------------------------------------

    @property
    def attempted(self) -> int:
        return sum(p.attempted for p in self.warm + self.passes)

    @property
    def failed(self) -> int:
        return sum(p.failed for p in self.warm + self.passes)

    def end_to_end(self) -> dict[str, float]:
        plain = [p for p in self.passes if not p.traced]
        ops = latency_samples(plain)
        run_s = median_pass_s(plain)
        return {
            "setup_s": statistics.median(self.setup_s),
            "run_s": run_s,
            "op_p50_s": quantile(ops, 0.5),
            "op_p90_s": quantile(ops, tail_level(len(ops))),
            "items_per_s": self.wl.items_per_pass / run_s,
        }

    def per_layer(self) -> dict[str, float]:
        traced = [p for p in self.passes if p.traced]
        plain = [p for p in self.passes if not p.traced]
        spans = [s for p in traced for s in p.spans]
        n = len(traced)
        out = dict.fromkeys(PER_LAYER, 0.0)
        out["session.get_spark_s"] = statistics.median(self.get_spark_s)
        out["session.tune_s"] = statistics.median(self.tune_s)
        r = self.replay
        if r.n_parse:
            out["chem.parse_us_per_mol"] = 1e6 * r.parse_s / r.n_parse
        if r.n_key:
            out["chem.mol_key_us_per_call"] = 1e6 * r.key_s / r.n_key
        if r.n_enum:
            out["chem.enumerate_ms_per_mol"] = 1e3 * r.enum_s / r.n_enum
            out["chem.subgraphs_per_mol"] = r.n_subgraphs / r.n_enum
        if r.n_edit_mols:
            out["chem.edits_ms_per_mol"] = 1e3 * r.edits_s / r.n_edit_mols
        stats = sum((p.stats for p in traced), Counter())
        out.update(self.wl.layer_metrics(spans, n, stats))
        n_ops = sum(p.attempted for p in traced)
        for key in ("jobs", "stages", "tasks"):
            out[f"spark.{key}_per_op"] = sum(s.get(key, 0) for s in spans) / n_ops
        for layer, secs in layer_self_seconds(spans).items():
            out[f"self_s.{layer}"] = secs / n
        out["trace.run_s_traced"] = median_pass_s(traced)
        out["trace.run_s_untraced"] = median_pass_s(plain)
        out["trace.overhead_s"] = out["trace.run_s_traced"] - out["trace.run_s_untraced"]
        out["trace.spans_per_pass"] = len(spans) / n
        out["process.peak_rss_mb"] = peak_rss_mb()
        unknown = set(out) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
        return out

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


def sample_note(run: Run) -> str:
    plain = [p for p in run.passes if not p.traced]
    n_ops = len(latency_samples(plain))
    return (
        f"items: {run.wl.item}; {len(plain)} measured passes, {n_ops} op samples "
        f"(op_p90_s is p{round(100 * tail_level(n_ops))}), "
        f"{len(run.setup_s)} set-ups ({sum(run.setup_s):.1f} s), check references "
        f"{run.checks_s:.1f} s, {len(run.warm)} warm passes {sum(p.wall_s for p in run.warm):.1f} s, "
        f"measured {sum(p.wall_s for p in run.passes):.1f} s; pass run_s "
        + " ".join(f"{sum(t for _, t, _ in p.ops):.3f}{'t' if p.traced else ''}" for p in run.passes)
    )


def env_summary() -> str:
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS', '?')}], one closed-loop client"
