#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {pagerank_hubs,communities}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  It packages ``graphina_spark/`` into a
zip the way ``jobs/package.py`` does (but inside ``.perfbench/``, the
benchmark's scratch space), launches the workload in a Spark driver JVM
with ``spark-submit --py-files`` pinned by ``taskset`` to its cores,
samples the memory of the JVM and its Python processes from ``/proc``,
and prints the metrics named in ``BENCHMARK.json``: the end-to-end ones
with ``--trace 0``, the per-layer ones with ``--trace 1``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "graphina_spark")
WORKLOADS = ("pagerank_hubs", "communities")
CORES = 4  # local[4]: the cores the benchmark was defined on
DRIVER_MEM = "2g"  # get_spark would default the heap to 16g
DEADLINE_S = 170


def build_package(dest: str) -> str:
    """graphina_spark/*.py into a zip for --py-files (jobs/package.py's
    layout: paths relative to the checkout root)."""
    out = os.path.join(dest, "graphina_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(PACKAGE):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    return out


class MemorySampler(threading.Thread):
    """Peak proportional set size (PSS) summed over a process and all its
    descendants: the JVM, the driver's Python process and the Python
    workers, whose pages shared through fork are counted once."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0
        self._stop_evt = threading.Event()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    @staticmethod
    def _pss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass  # exited while sampling
        return 0

    def run(self) -> None:
        # smaps_rollup walks the JVM's page tables: sample sparingly so the
        # sampler does not compete with the 4 cores it measures
        while not self._stop_evt.wait(0.5):
            self.peak = max(self.peak, sum(map(self._pss_kb, self._tree())) * 1024)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


def launch(a, work: str, zip_path: str, cpus: list[int], deadline: float) -> tuple[dict, int, float]:
    """Run worker.py in its own spark-submit JVM; return (result document,
    peak PSS bytes, launch wall time)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")  # keeps JVM and Python temp files in the checkout
    os.makedirs(tmp)
    n = len(cpus)
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(n),
        SPARK_GRAFT_MASTER=f"local[{n}]",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    cmd = [
        "taskset", "-c", ",".join(map(str, cpus)),
        "spark-submit", "--master", f"local[{n}]", "--driver-memory", DRIVER_MEM,
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--py-files", zip_path, os.path.join(HERE, "worker.py"),
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", out,
    ]
    log_path = os.path.join(work, "worker.log")
    launched = time.time()
    with open(log_path, "w") as log:
        # cwd is the scratch dir: the workers must import the package from
        # the zip, not from the checkout
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        sampler = MemorySampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)  # stray python workers
            except ProcessLookupError:
                pass
            proc.wait()
            peak = sampler.stop()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        why = "timed out" if code is None else f"exited {code}"
        raise SystemExit(f"worker JVM {why}")
    with open(out) as f:
        return json.load(f), peak, launched


def environment(doc: dict, a) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "seed": a.seed,
        **doc["env"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    # a terminated run must still reach the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        raise SystemExit(f"no graphina_spark package under {ROOT}")
    if shutil.which("spark-submit") is None:
        raise SystemExit("spark-submit not on PATH")
    allowed = sorted(os.sched_getaffinity(0))
    if len(allowed) < CORES:
        raise SystemExit(f"needs {CORES} cores, has {len(allowed)}")

    deadline = time.time() + DEADLINE_S
    os.makedirs(SCRATCH, exist_ok=True)
    work = os.path.join(SCRATCH, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        zip_path = build_package(work)
        main_doc, peak, launched = launch(a, work, zip_path, allowed[:CORES], deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    m, layer = main_doc["metrics"], dict(main_doc["layer"])
    values = {
        "setup_s": main_doc["session_ready"] - launched + m["setup_input_s"],
        "solve_cpu_s": m["solve_cpu_s"],
    }
    layer["edges_per_s"] = m["edges_per_s"]
    layer["peak_rss_mb"] = peak / 2**20
    unknown = set(layer) - {x["name"] for x in spec["per_layer"]}
    if unknown:
        raise SystemExit(f"per-layer values missing from BENCHMARK.json: {sorted(unknown)}")
    attempted = main_doc["attempted"]
    failed = main_doc["failed"]
    if a.trace:
        if "pagerank.fixed_superstep_1core_s" in layer:
            layer["scaling_efficiency"] = layer["pagerank.fixed_superstep_1core_s"] / (
                CORES * layer["pagerank.fixed_superstep_s"])
        layer["trace.solve_s"] = m["solve_s"]
        layer["ops_failed_ratio"] = failed / attempted
        names = spec["per_layer"]
        os.makedirs(os.path.join(SCRATCH, "traces"), exist_ok=True)
        trace_path = os.path.join(SCRATCH, "traces", f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": main_doc["spans"], "layer": layer}, f, indent=1)
        values = layer
    else:
        names = spec["end_to_end"]
    for problem in main_doc["failures"]:
        print(f"check failed: {problem}", file=sys.stderr)
    print(json.dumps({"env": environment(main_doc, a), "detail": {
        "boot_s": main_doc["python_started"] - launched,
        "session_s": main_doc["session_s"],
        "setup_input_s": m["setup_input_s"],
        "solve_s": m["solve_s"],
        **main_doc["layer"],
    }}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            x["name"]: {"value": float(values.get(x["name"], 0.0)), "unit": x["unit"]}
            for x in names
        },
    }))


if __name__ == "__main__":
    main()
