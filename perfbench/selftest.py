"""Self-test of the benchmark at the tiny size (a few minutes).

    python3 perfbench/selftest.py

Runs every workload traced at ``--size tiny``, then checks that:

* every operation's output check passed;
* the printed metrics are exactly BENCHMARK.json's ``per_layer`` list,
  and the end-to-end names of run.py match its ``end_to_end`` list;
* for the sync workload, the prelude and per-stage job counts add up to
  the operation's job count and the intervals cover its wall time;
* the spans were written;
* without the package next to it the benchmark fails fast, printing no
  result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PARTS = ("prelude", "flat_obs", "flat_orders", "flat_lab_obs",
         "flat_visit_summary", "flat_latest_hiv_summary", "tail")


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import END_TO_END, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == PER_LAYER

    for w in (w["name"] for w in bench["workloads"]):
        p = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                "--trace", "1", "--size", "tiny")
        assert p.returncode == 0, p.stderr[-4000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, result
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert list(m) == PER_LAYER, sorted(set(m) ^ set(PER_LAYER))
        assert os.path.isfile(
            os.path.join(ROOT, ".perfbench", f"trace-{w}-7.json")
        )
        if w == "sync":
            for role in ("full", "wave"):
                jobs = sum(m[f"{role}.stage.{p}.jobs"] for p in PARTS)
                assert jobs == m[f"{role}.spark.jobs"], (role, jobs)
                cover = sum(m[f"{role}.stage.{p}.share"] for p in PARTS[:-1])
                assert cover >= 0.95, (role, cover)
        print(f"{w}: ok ({result['attempted']} operations)")

    out_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(out_dir, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=out_dir)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        p = run(bare, "--workload", "sync", "--seed", "1", "--seconds", "1",
                "--trace", "0")
        assert p.returncode != 0 and not p.stdout.strip(), p
    finally:
        shutil.rmtree(bare)
    print("bare checkout: fails fast")
    return 0


if __name__ == "__main__":
    sys.exit(main())
