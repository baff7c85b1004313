"""Run one benchmark workload against the pdfmef_spark engine.

From the repository root:

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 5 --trace 0

Prints a readable report, then, as the last line of standard output,
one JSON object with the keys correct, attempted, failed and metrics.
With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json; with ``--trace 1`` the run also records spans around
each public engine call and reports the ``per_layer`` list. Per-layer
metrics of a layer the workload does not exercise read 0.

Everything the run writes (inputs, outputs, Spark and JVM scratch
space) lives under ``.perfbench_work/`` in the checkout and is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("kg_batch", "doc_serve")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def contain(work: Path) -> None:
    """Point the scratch space of Spark, the JVM and the Python workers
    into ``work``, and let the workers import the engine from ROOT."""
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # session.get_spark pins -Djava.io.tmpdir=/tmp; _JAVA_OPTIONS is read
    # after the command line, so its value wins. No hsperfdata in /tmp.
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pdfmef_spark" / "__init__.py").is_file():
        log(f"no pdfmef_spark package under {ROOT}; run from a full checkout")
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    contain(work)

    import harness as H

    workload = importlib.import_module(args.workload)
    try:
        with H.RssSampler() as rss:
            spark, start_s = H.start_spark()
            try:
                res = workload.run(spark, work, args.seed, args.seconds, bool(args.trace), log)
            finally:
                H.stop_spark(spark)
    finally:
        H.rmtree(work)
        try:
            work.parent.rmdir()
        except OSError:
            pass

    setup_parts = {"session.start_s": start_s, **res["setup_parts"]}
    attempted, failed = res["attempted"], res["failed"]
    e2e = {**res["e2e"], "setup_s": sum(setup_parts.values())}
    peak_rss_mb = rss.peak_rss / 2**20
    report = {
        **{k: (v, unit_of(spec["end_to_end"], k)) for k, v in e2e.items()},
        "peak_rss_mb": (peak_rss_mb, "MB"),
        **res["report"],
        **{k: (v, "s") for k, v in setup_parts.items()},
        "failed_ratio": (failed / attempted, f"ratio ({failed}/{attempted})"),
    }
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for name, (value, unit) in report.items():
        print(f"  {name:<36} {value:>14.4f} {unit}")

    if args.trace:
        values = {**setup_parts, "peak_rss_mb": peak_rss_mb, **res["layers"]}
        metrics_spec = spec["per_layer"]
        for name in sorted(set(values) - {m["name"] for m in metrics_spec}):
            log(f"undeclared per-layer metric {name} = {values[name]}")
        for name in sorted(res["layers"]):
            print(f"  {name:<36} {values[name]:>14.4f}")
    else:
        values = e2e
        metrics_spec = spec["end_to_end"]
        missing = [m["name"] for m in metrics_spec if m["name"] not in values]
        if missing:
            log(f"workload produced no value for {missing}")
            return 3
    metrics = {
        m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
        for m in metrics_spec
    }
    print(f"  correct: {failed == 0}  ({failed} of {attempted} operations failed)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def unit_of(metrics_spec, name):
    return next((m["unit"] for m in metrics_spec if m["name"] == name), "")


if __name__ == "__main__":
    sys.exit(main())
