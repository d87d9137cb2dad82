"""Run one benchmark workload with one seed and print its result.

    python3 perfbench/run.py --workload embedded-churn --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
every end-to-end metric of ``BENCHMARK.json`` with ``--trace 0``, every
per-layer metric with ``--trace 1``.  The line before it holds what is
kept beside the metrics: the host probe taken at the start and end of
the run, ``failed_op_share`` and the first errors.  Scratch files live
under ``.perfbench_work/`` and are removed when the run ends, except
the run record (and, when traced, its spans) in
``.perfbench_work/records/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("embedded-churn", "cluster-batch")

# one BLAS/OpenMP thread: the engine's numpy work is vector-at-a-time,
# and oversubscribed thread pools only add scheduler noise
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size (default: the benchmark's; smaller "
                         "only for self-tests)")
    ap.add_argument("--corrupt-every", type=int, default=0,
                    help="self-test only: corrupt every Nth answer")
    return ap.parse_args(argv)


def _declared_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _program_present() -> bool:
    """The package must come from this checkout, not from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        import tantivy_search_spark
    except ImportError as e:
        print(f"error: cannot import the program: {e}", file=sys.stderr)
        return False
    where = os.path.dirname(os.path.abspath(tantivy_search_spark.__file__))
    if os.path.dirname(where) != ROOT:
        print(f"error: the program was imported from {where}, not from "
              "this checkout", file=sys.stderr)
        return False
    return True


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _program_present():
        return 2
    import queries
    import workloads
    from host import host_probe

    e2e_units, layer_units = _declared_units()
    if args.docs is None:
        args.docs = queries.N_DOCS
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root,
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    records = os.path.join(work_root, "records")
    os.makedirs(records, exist_ok=True)
    for name in os.listdir(work_root):  # left by runs that were killed
        pid = name.rpartition("-p")[2]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work_root, name), ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    run = workloads.Run(args, ROOT, work)
    host_start = host_probe()
    try:
        if args.workload == "cluster-batch":
            workloads.cluster(run)
        else:
            workloads.embedded_churn(run)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host_end = host_probe()

    failed_share = run.failed / max(run.attempted, 1)
    if args.trace:
        # per-layer metrics a workload has no layer for read 0
        values, units = run.layers, layer_units
        values.update({n: 0.0 for n in units if n not in values})
    else:
        values, units = run.metrics, e2e_units
        values["ok_op_share"] = 1.0 - failed_share
    if set(values) != set(units):
        raise RuntimeError("measured metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(units))}")
    metrics = {name: {"value": float(values[name]), "unit": unit}
               for name, unit in units.items()}

    side = {"workload": args.workload, "seed": args.seed,
            "trace": args.trace, "docs": args.docs,
            "host": {"start": host_start, "end": host_end},
            "failed_op_share": failed_share,
            "errors": run.errors, **run.record}
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump({**side, "metrics": metrics}, f, indent=1)
    if run.tracer is not None:
        run.tracer.write(os.path.join(records, f"{tag}-spans.jsonl"))
    print(json.dumps(side))
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
