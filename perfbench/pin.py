"""Pin the per-seed result folds the benchmark checks against.

    python3 perfbench/pin.py <workload> <seed> [<seed> ...]

For ``query_suite`` each seed's rung must first pass the DuckDB oracle gate
(``tools/verify_oracle.py <rung> <14 headline names>``); a seed that fails
it is not pinned. Then one pass runs per seed on one Spark session and its
fold is written to ``pins.json``. Re-pin whenever ``gen.GEN_VERSION`` moves.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402
from workloads import PINS, WORKLOADS  # noqa: E402


def main(argv: list[str]) -> int:
    name, seeds = argv[0], [int(s) for s in argv[1:]]
    cls = WORKLOADS[name]
    base = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(base, f"pin-{os.getpid()}")
    os.makedirs(scratch)
    os.environ["TMPDIR"] = scratch
    inputs = {s: gen.cached_input(os.path.join(base, "cache"), cls.kind, s) for s in seeds}
    if name == "query_suite":
        from bench import HEADLINE

        for s in list(seeds):
            rung = os.path.join(inputs[s][0], "rung")
            gate = subprocess.run(
                [sys.executable, os.path.join(ROOT, "tools", "verify_oracle.py"), rung, *HEADLINE],
                cwd=ROOT, capture_output=True, text=True,
            )
            print(gate.stdout.strip().splitlines()[-1] if gate.stdout.strip() else "", flush=True)
            if gate.returncode != 0:
                print(f"seed {s}: oracle gate failed, not pinned\n{gate.stdout[-2000:]}")
                seeds.remove(s)
    engine = harness.Engine(scratch)
    pins = {}
    try:
        engine.start()
        for s in seeds:
            inp, manifest = inputs[s]
            wl = cls(engine.spark, inp, manifest, scratch, s)
            wl.pinned = None
            wl.run_pass(harness.NoTracer())
            if wl.check_pass():
                print(f"seed {s}: structural check failed, not pinned")
                continue
            fold = wl.fold()
            pins[str(s)] = {k: fold[k] for k in wl.pinned_keys} if wl.pinned_keys else fold
            print(f"seed {s}: pinned", flush=True)
    finally:
        engine.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    with open(PINS) as f:
        all_pins = json.load(f)
    all_pins.setdefault(name, {}).update(pins)
    all_pins[name] = dict(sorted(all_pins[name].items(), key=lambda kv: int(kv[0])))
    with open(PINS, "w") as f:
        json.dump(all_pins, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
