"""Dump ``.explain("formatted")`` for named queries to stdout or files —
the plans/r<N>/<query>_{before,after}.txt deliverable writer.

    python tools/qplan.py [sf_dir] [-o OUTDIR] [-s SUFFIX] [-u] query ...

``-u`` (uncut, r15): monkeypatch localCheckpoint to identity (plus a
count() for eager calls, so Observation-gated loops still advance) so
plans show the pre-checkpoint pipeline a checkpointed query hides
behind Scan ExistingRDD. Measurement-only: repeated references to a
checkpointed relation then RE-EXPAND in the dumped tree (logically —
the real execution materializes them once), so uncut dumps evidence
expression/operator shapes, not execution counts."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from molgraphdb_spark.registry import all_queries
from molgraphdb_spark.session import get_spark, tune


def _uncut(self, eager=True):
    """``-u``'s localCheckpoint: no lineage cut, but an eager call still
    runs one cheap action (count), because loops gated on an
    Observation of the checkpointed frame (connected_components, BFS,
    the expand_relations wave loop) would otherwise wait forever for
    metrics no job ever reports."""
    if eager:
        self.count()
    return self


def main() -> int:
    args = sys.argv[1:]
    outdir = None
    suffix = ""
    if "-o" in args:
        i = args.index("-o")
        outdir = args[i + 1]
        del args[i : i + 2]
    if "-s" in args:
        i = args.index("-s")
        suffix = args[i + 1]
        del args[i : i + 2]
    if "-u" in args:
        args.remove("-u")
        from pyspark.sql import DataFrame

        DataFrame.localCheckpoint = _uncut  # type: ignore[method-assign]
        try:  # Spark 4: the runtime instance is the classic subclass
            from pyspark.sql.classic.dataframe import DataFrame as _CDF

            _CDF.localCheckpoint = _uncut  # type: ignore[method-assign]
        except ImportError:
            pass
    sf_dir = args.pop(0) if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    spark = get_spark("qplan")
    tune(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    qs = all_queries()
    for name in args:
        fn = qs.get(name)
        if fn is None:
            print(f"{name}: NOT REGISTERED")
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        if outdir:
            os.makedirs(outdir, exist_ok=True)
            path = os.path.join(outdir, f"{name}{suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"wrote {path} ({len(plan)} bytes)")
        else:
            print(f"===== {name} =====")
            print(plan)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
