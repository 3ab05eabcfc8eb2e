"""Benchmark: PBF ingest decode and the cell-keyed PIP join.

    python3 perfbench/run.py --workload pip_hot --seed 3 --seconds 10 --trace 0

Builds the workload's inputs from ``--seed`` (cached, see ``inputs.py``),
starts ``local[nproc]`` Spark in this process, prepares and warms the job, then
repeats it for ``--seconds`` and checks every repetition against its oracle.
The last stdout line is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of ``layers.py``. Detail (every repetition, spans, components) goes to
``.perfbench_work/results/``. ``--tiny`` and ``--tamper`` serve
``selfcheck.py``. See ``README.md`` for workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict, dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# the package default (32g) is more than the host has; a small cap also keeps
# the JVM's heap growth, and with it peak_rss_mb, from wandering between runs
DRIVER_MEM = "1g"


@dataclass(frozen=True)
class Spec:
    sf: float  # PBF scale factor (generator.sizes_for_sf)
    pages: int  # pages table size; ingest_decode uses it only when traced
    hot_frac: float  # share of pages on one z13 tile


SPECS = {
    "ingest_decode": Spec(sf=0.25, pages=10_000, hot_frac=0.0),
    "pip_uniform": Spec(sf=0.1, pages=100_000, hot_frac=0.0),
    "pip_hot": Spec(sf=0.1, pages=20_000, hot_frac=0.40),
}
TINY = {
    "ingest_decode": Spec(sf=0.005, pages=2_000, hot_frac=0.0),
    "pip_uniform": Spec(sf=0.005, pages=2_000, hot_frac=0.0),
    "pip_hot": Spec(sf=0.005, pages=2_000, hot_frac=0.40),
}


def _launch_env(cpus: int) -> None:
    """Everything Spark and its Python workers need, set before the JVM starts:
    workers import the package from the repository root, and every scratch
    file stays under ``.perfbench_work``."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    sys.path.insert(0, str(ROOT))


class ProcessTree:
    """The JVM and every process below it (the PySpark daemon and its
    workers): their peak resident memory (``VmHWM``) and CPU time, read from
    ``/proc``."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak_kb: dict[int, int] = {}

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, []))
        return out

    def cpu_seconds(self) -> float:
        """CPU time of the tree so far: user + system, plus that of children
        already reaped (a worker that exits moves into its parent's count)."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return ticks / os.sysconf("SC_CLK_TCK")

    def sample(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    hwm = next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
            except OSError:
                continue
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm)

    def peak_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0

    def wait_gone(self, timeout: float) -> None:
        deadline = time.monotonic() + timeout
        pending = set(self.peak_kb)
        while pending and time.monotonic() < deadline:
            pending = {p for p in pending if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for p in pending:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline") as f:
            return f.read().replace("\0", " ")[:80]
    except OSError:
        return "?"


def start_spark(cpus: int):
    from openstreetmapio_jl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, tree: ProcessTree) -> None:
    """Stop the context, then end the JVM (it exits when its stdin closes) and
    wait for every process it started."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    tree.sample()
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    tree.wait_gone(timeout=30)


class Runner:
    """Runs and checks repetitions; a wrong or raising repetition is a failure."""

    def __init__(self, tamper: bool, tree: ProcessTree):
        self.tamper, self.tree = tamper, tree
        self.attempted = self.failed = 0
        self.log: list[dict] = []

    def rep(self, wl, phase: str) -> float | None:
        self.attempted += 1
        entry = {"phase": phase, "job": type(wl).__name__}
        try:
            t, result = wl.rep()
            entry.update(wall_s=t.wall, steal_share=t.steal_share, busy_s=t.busy, cpu_s=t.cpu)
            if self.tamper:
                result = wl.tamper(result)
            entry["ok"] = wl.check(result)
        except Exception:
            entry.update(ok=False, error=traceback.format_exc(limit=5))
        self.tree.sample()
        self.log.append(entry)
        if not entry["ok"]:
            self.failed += 1
            return None
        return entry["busy_s"]

    def timed_ok(self) -> int:
        return sum(1 for e in self.log if e["phase"] == "timed" and e["ok"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-check sizes")
    ap.add_argument("--tamper", action="store_true", help="corrupt each result before its check")
    args = ap.parse_args(argv)

    if not (ROOT / "openstreetmapio_jl_spark").is_dir():
        print(f"perfbench: no openstreetmapio_jl_spark package under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _launch_env(cpus)
    from perfbench import inputs, layers, workloads
    from perfbench.steal import Timer

    spec = (TINY if args.tiny else SPECS)[args.workload]
    need_pip = args.trace == 1 or args.workload != "ingest_decode"
    inp = inputs.prepare(spec.sf, spec.pages, spec.hot_frac, args.seed, cpus, pip=need_pip)
    run_dir = WORK / "runs" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    with Timer() as session:
        spark = start_spark(cpus)
    from pyspark import SparkContext

    tree = ProcessTree(SparkContext._gateway.proc.pid)
    runner = Runner(args.tamper, tree)
    detail: dict = {"workload": args.workload, "seed": args.seed, "cpus": cpus, "spec": asdict(spec)}
    try:
        wl = workloads.KINDS[args.workload](spark, inp, run_dir, tree.cpu_seconds)
        with Timer() as prep:
            wl.setup()
        with Timer() as warmup:
            for _ in range(wl.warmup_reps):
                runner.rep(wl, "warmup")
        setup = {"session": session, "prep": prep, "warmup": warmup}
        detail["setup"] = {
            k: {"wall_s": t.wall, "steal_share": t.steal_share, "busy_s": t.busy}
            for k, t in setup.items()
        }

        if args.trace:
            # both jobs run in every traced pass, so warm the one this workload
            # does not measure (once: the warm-up pass below finishes the job),
            # then time each once untraced
            other_kind = workloads.PipJoin if isinstance(wl, workloads.IngestDecode) else workloads.IngestDecode
            other = other_kind(spark, inp, run_dir, tree.cpu_seconds)
            other.setup()
            runner.rep(other, "warmup")
            ingest, pip = (wl, other) if other_kind is workloads.PipJoin else (other, wl)
            untraced = [runner.rep(ingest, "untraced"), runner.rep(pip, "untraced")]
            metrics, trace_detail, ok = layers.trace(
                spark, cpus, ingest, pip, sum(t or 0.0 for t in untraced), args.seconds,
                tree.cpu_seconds,
            )
            runner.attempted += 1
            runner.failed += 0 if ok else 1
            detail["trace"] = trace_detail
        else:
            deadline = time.perf_counter() + args.seconds
            while runner.timed_ok() < wl.min_reps or time.perf_counter() < deadline:
                runner.rep(wl, "timed")
                if runner.failed > 2 * wl.min_reps:
                    break
            timed = [e for e in runner.log if e["phase"] == "timed" and e["ok"]]
            tree.sample()

            def rate(key: str) -> float:
                return wl.units / statistics.median(e[key] for e in timed) if timed else 0.0

            metrics = {
                "rows_per_s": rate("busy_s"),
                "rows_per_cpu_s": rate("cpu_s"),
                "rows_per_wall_s": rate("wall_s"),
                "setup_s": sum(t.busy for t in setup.values()),
                "peak_rss_mb": tree.peak_mb(),
            }
            detail["rss_kb"] = {f"{p} {_comm(p)}": kb for p, kb in tree.peak_kb.items()}
    finally:
        stop_spark(spark, tree)
        shutil.rmtree(run_dir, ignore_errors=True)

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    detail.update(reps=runner.log, metrics=metrics)
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1, default=str)
    )
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
