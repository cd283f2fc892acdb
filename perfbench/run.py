#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload weather_lake --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and reports the per-layer ones, and writes the
spans to ``.perfbench_work/spans/``. Lines before it name every
end-to-end figure of the workload with its unit. ``--small`` runs the
quick input sizes the benchmark's own test uses.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout (Spark's local and temp directories included), and the run's
own directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "meteomatics_e2e_data_pipeline_spark"
WORKLOADS = ("weather_lake", "dedup_ladder")


def _isolate(work: Path) -> None:
    """Point every temp and scratch location of Python, Spark and the JVM
    into ``work``, before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # No perf-data file: the JVM would write it under /tmp whatever
    # java.io.tmpdir says.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [
        str(ROOT), os.environ.get("PYTHONPATH")]))
    # local[<cores>] unless SPARK_GRAFT_CPUS says otherwise, with the JVM's
    # default tiered compilation. A 2g driver unless SPARK_DRIVER_MEMORY
    # says otherwise: the workloads' retained heaps stay well below it,
    # and the machine may be shared.
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    import tempfile
    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"{PACKAGE} not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench.workloads import run_workload, stop_jvm

        try:
            result, report = run_workload(args.workload, args.seed,
                                          args.seconds, bool(args.trace),
                                          work, args.small)
        finally:
            stop_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, (value, unit) in report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
