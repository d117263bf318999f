"""Molecule-database benchmark: run one workload (or all) for a seed.

    python3 perfbench/run.py --workload catalog_ingest --seed 1 --seconds 3 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Prints a table of metrics by name and unit, then, as the last line of
standard output, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). Exits non-zero when an
output check failed. Run it from the repository root; everything it
writes stays under ``.bench_work/`` and ``.bench_out/`` there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("catalog_ingest", "similarity_join", "edit_path", "corpus_registry")


def _args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=3.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _run_one(args: argparse.Namespace) -> int:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    _isolate(work)
    sys.path.insert(0, ROOT)
    from perfbench import harness

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run.execute()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        units = harness.PER_LAYER if args.trace else harness.END_TO_END
        rss_mb = harness.peak_rss_mb()
    finally:
        run.close()
        if args.trace:
            run.tr.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed = run.attempted, run.failed
    print(f"# {args.workload} seed={args.seed} {harness.env_summary()}; {harness.sample_note(run)}")
    for name, value in metrics.items():
        print(f"{args.workload:16s} {name:42s} {value:14.6g} {units[name]}")
    print(f"{args.workload:16s} {'ops_failed_frac':42s} {failed / attempted:14.6g} ratio")
    if not args.trace:
        print(f"{args.workload:16s} {'peak_rss_mb':42s} {rss_mb:14.6g} MB")
    if args.trace:
        print(
            f"# tracing overhead: traced run_s {metrics['trace.run_s_traced']:.4f} s - "
            f"untraced run_s {metrics['trace.run_s_untraced']:.4f} s = "
            f"{metrics['trace.overhead_s']:+.4f} s; spans in {out_dir}"
        )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


def _run_all(args: argparse.Namespace) -> int:
    """Each workload in its own process, one after the other."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        merged["correct"] = merged["correct"] and res["correct"] and proc.returncode == 0
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0 if merged["correct"] else 1


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    if argv is None and os.environ.get("PYTHONHASHSEED") != "0":
        # string hashing orders the engine's sets; fix it so a seed
        # replays the same work, not just the same inputs
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]])
    if not os.path.isfile(os.path.join(ROOT, "molgraphdb_spark", "__init__.py")):
        print(
            "perfbench: the engine package molgraphdb_spark/ is not next to perfbench/; "
            "run from a full checkout",
            file=sys.stderr,
        )
        return 2
    return _run_all(args) if args.workload == "all" else _run_one(args)


if __name__ == "__main__":
    sys.exit(main())
