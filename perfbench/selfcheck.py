"""Self-check of the benchmark itself, at tiny sizes.

    python3 perfbench/selfcheck.py [--workload NAME ...]

For each workload (default: all three) it runs ``run.py --tiny`` and requires a
correct result with every end-to-end metric present and positive, then runs it
again with ``--tamper`` (one count off by one in every result) and requires the
error rate ``failed / attempted`` to be above 0. It also makes one traced tiny
run, requiring every per-layer metric, and runs the benchmark in a directory
holding only ``BENCHMARK.json`` and ``perfbench/``, where it must fail without
printing a result. Exits 1 on the first broken expectation.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())
ALL = ("ingest_decode", "pip_uniform", "pip_hot")


def _run(workload: str, *extra: str, cwd: Path = ROOT) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1", "--seconds", "1"]
    p = subprocess.run([*cmd, *extra], cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def _expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def _has(result: dict | None, kind: str) -> bool:
    names = {m["name"] for m in DECLARED[kind]}
    return result is not None and set(result["metrics"]) == names


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", choices=ALL)
    workloads = ap.parse_args().workload or ALL

    for w in workloads:
        code, r = _run(w, "--tiny", "--trace", "0")
        _expect(code == 0 and r is not None and r["correct"] and r["failed"] == 0, f"{w}: correct")
        _expect(
            _has(r, "end_to_end") and all(m["value"] > 0 for m in r["metrics"].values()),
            f"{w}: every end-to-end metric, all positive",
        )
        code, r = _run(w, "--tiny", "--trace", "0", "--tamper")
        _expect(
            code == 0 and r is not None and not r["correct"] and r["failed"] > 0,
            f"{w}: tampered result gives error rate "
            f"{r['failed'] if r else '?'}/{r['attempted'] if r else '?'} > 0",
        )

    code, r = _run(workloads[-1], "--tiny", "--trace", "1")
    _expect(code == 0 and r is not None and r["correct"], f"{workloads[-1]} traced: correct")
    _expect(_has(r, "per_layer"), f"{workloads[-1]} traced: every per-layer metric")

    bare = ROOT / ".perfbench_work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    code, r = _run(workloads[0], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    _expect(code != 0 and r is None, "without the package: non-zero exit, no result")


if __name__ == "__main__":
    main()
