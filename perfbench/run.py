"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Inputs are generated from ``--seed`` (and
cached under ``.perfbench/cache``); the engine only sees the generated
files. One Python process drives one local Spark JVM with one client and
sequential passes (a closed loop).

With ``--trace 0`` the run sets up once (it launches the JVM, builds the
session and warms up), then times passes for ``--seconds`` seconds, at
least one. It prints the end-to-end metrics: the set-up, and the first pass
in the fresh JVM.

With ``--trace 1`` the run sets up once with Spark's event log on, times
one traced pass (span shims, job groups, Py4J counts) and, on
``omop_pretrain``, one forced-prefix pass, and prints the per-layer metrics (see ``layers.py``).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metric -> unit, as BENCHMARK.json lists them
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "first_pass_cpu_s": "s"}


def engine_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("cehrbert_data_spark/session.py", "bench.py", "tools/make_scaled_sf.py")
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not engine_present():
        print(f"perfbench: the engine is not in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]

    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    # everything Spark, Python workers and temp files write stays in the checkout
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")

    inp, manifest = gen.cached_input(os.path.join(base, "cache"), cls.kind, args.seed)
    work = os.path.join(scratch, "out")
    os.makedirs(work)
    engine = harness.Engine(scratch)
    try:
        if args.trace:
            from layers import traced_run

            result = traced_run(engine, cls, inp, manifest, work, args.seed)
        else:
            result = untraced_run(engine, cls, inp, manifest, work, args.seed, args.seconds)
    finally:
        engine.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


def untraced_run(engine, cls, inp, manifest, work, seed: int, seconds: float) -> dict:
    from harness import NoTracer, setup, timed_passes

    wl, setup_s, _ = setup(engine, lambda s: cls(s, inp, manifest, work, seed))
    passes, cpu, attempted, failed = timed_passes(wl, seconds, NoTracer(), 1)
    values = {"setup_s": setup_s, "first_pass_s": passes[0], "first_pass_cpu_s": cpu[0]}
    print(
        f"perfbench: {cls.name} seed={seed} setup={setup_s:.3f} "
        f"passes={[round(w, 3) for w in passes]} cpu={[round(c, 3) for c in cpu]}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
