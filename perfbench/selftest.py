"""Self-test of the benchmark at tiny sizes (~7 minutes on 4 cores).

    python3 perfbench/selftest.py

Checks, for every workload, that a run passes and prints every end-to-end
metric with its unit, that a traced run prints every per-layer metric,
that a corrupted expected output makes the run fail (``failed > 0`` and a
non-zero exit), and that two seeds generate different inputs that both
pass. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def bench(workload: str, seed: int, trace: int = 0, *extra: str) -> tuple[int, dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last), p.stdout


def inputs_digest(workload: str, seed: int) -> str:
    path, _meta = gen.ensure_inputs(
        os.path.join(run.WORK, "cache"), workload, seed, gen.TINY[workload]
    )
    h = hashlib.sha1()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    for w in ("kg_build", "kg_stream", "kg_query"):
        rc, res, out = bench(w, 1)
        check(rc == 0 and res.get("correct") is True and res.get("failed") == 0,
              f"{w}: seed 1 passes")
        got = {k: v["unit"] for k, v in res.get("metrics", {}).items()}
        check(got == run.E2E, f"{w}: every end-to-end metric printed with its unit")
        check("fail_ratio 0.0000" in out, f"{w}: fail_ratio printed")

        rc, res, _ = bench(w, 1, 1)
        got = res.get("metrics", {})
        check(rc == 0 and set(got) == set(run.LAYER_METRICS)
              and all(v["unit"] == run.unit_of(k) for k, v in got.items()),
              f"{w}: traced run prints every per-layer metric with its unit")

        rc, res, _ = bench(w, 1, 0, "--corrupt-reference")
        check(rc != 0 and res.get("failed", 0) > 0 and res.get("correct") is False,
              f"{w}: a corrupted expected output fails the run")

        check(inputs_digest(w, 1) != inputs_digest(w, 2), f"{w}: seeds 1 and 2 differ")
        rc, res, _ = bench(w, 2)
        check(rc == 0 and res.get("correct") is True, f"{w}: seed 2 passes")


if __name__ == "__main__":
    main()
