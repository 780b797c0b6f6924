"""Smoke test of the benchmark at scale 0.001 (a few minutes).

    python3 perfbench/selftest.py

For every workload, one untraced and one traced run must print every
end-to-end (resp. per-layer) metric with its unit, with `correct` set
and no failed op. Then one query digest in a copy of the reference is
corrupted: that run must report `correct: false` and count every op
of the corrupted query as failed. Exits 0 when all checks hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from make_reference import SELFTEST_SCALE  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import QUERY_OPS, WORKLOADS  # noqa: E402


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace),
        "--scale", f"{SELFTEST_SCALE:g}", "--warmup", "0", *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, want: dict[str, str], label: str) -> None:
    got = {name: m.get("unit") for name, m in result["metrics"].items()}
    assert got == want, f"{label}: metrics/units {got} != {want}"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), f"{label}: {name} is not a number"
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{label}: keys {set(result)}"


def main() -> int:
    for workload in sorted(WORKLOADS):
        for trace, want in ((0, END_TO_END), (1, PER_LAYER)):
            label = f"{workload} trace={trace}"
            result = bench(workload, trace)
            check_metrics(result, want, label)
            assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, (
                f"{label}: {result['correct']=} {result['attempted']=} {result['failed']=}"
            )
            print(f"ok  {label}: {result['attempted']} ops, all metrics with units")

    with open(os.path.join(HERE, "reference.json")) as f:
        reference = json.load(f)
    victim = QUERY_OPS[0]
    entry = reference[f"{SELFTEST_SCALE:g}"][victim]
    entry["hash"] = str(int(entry["hash"]) + 1)
    build = datagen.build_dir(ROOT)
    os.makedirs(build, exist_ok=True)
    corrupt = os.path.join(build, "reference-corrupt.json")
    with open(corrupt, "w") as f:
        json.dump(reference, f)
    result = bench("query", 0, "--reference", corrupt)
    passes = result["attempted"] // len(QUERY_OPS)
    assert not result["correct"], "a corrupted reference digest left `correct` true"
    assert result["failed"] == passes, f"{result['failed']} failed ops, want {passes} ({victim} once a pass)"
    print(f"ok  corrupted {victim} digest: correct=false, {result['failed']} of {result['attempted']} ops failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
