"""Benchmark for the KG-construction engine: seeded workloads driven
through the public entry points on ``local[<nproc / 2>]``.

    python3 perfbench/run.py --workload kg_incremental --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed, starts one fresh Python process that builds the Spark
session and runs the ops (``perfbench/worker.py``), samples the summed
memory of that process tree from here, and prints the metrics, one per
line, then one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run; BENCHMARK.json names both sets. Every file it
writes lives under ``.perfbench-work/`` in the checkout and is removed at
exit.

Workloads (BENCHMARK.json lists the two the benchmark runs, and why):

* ``kg_incremental`` -- a generated KB: a backfill of 3000 short pages at the
  CoNLL-03 entity density (a co-mention graph of ~140k distinct edges), one
  small increment into the same sink, then reruns with nothing pending.
* ``near_dup``       -- MinHash-LSH and SimHash near-duplicate pairs over a
  corpus with planted clusters, one of them a large template cluster.
* ``kg_dense``       -- by hand only: a backfill of long EN/ZH pages scored
  by the dense span scorer, where detection is the bulk of the work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DEADLINE_S = 170  # a run must end within 180 s
# driver JVM heap: the engine's 8g default lets the heap grow to ~8 GB
# before collecting, which a shared host cannot give every run
DRIVER_MEM = "2g"

WORKLOADS = {
    "kg_dense": {"gen": "gen_kg_dense", "args": {"n_pages": 400}, "scorer": "dense",
                 "recall_sample_every": 50},
    "kg_incremental": {"gen": "gen_kg_incremental", "scorer": "gazetteer",
                       "args": {"n_backfill": 3000, "n_increments": 1, "n_increment_pages": 100}},
    "near_dup": {"gen": "gen_near_dup", "args": {"n_docs": 6000, "template_cluster": 200}},
}


class RssSampler(threading.Thread):
    """Peak summed memory of a process and all its descendants, read from
    /proc every ``interval`` seconds. Each process counts its proportional
    set size (its RSS with every shared page split between the processes
    sharing it), so pages the forked Python workers share are counted once.
    Also remembers every descendant seen, so stragglers can be stopped
    after the root exits."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.root_pid, self.interval = root_pid, interval
        self.peak_bytes = 0
        self.seen: dict[int, str] = {}  # pid -> start time (guards pid reuse)
        self._halt = threading.Event()

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            stat = _stat(int(name))
            if stat is not None:
                children.setdefault(int(stat[1]), []).append(int(name))
        out, todo = [], [self.root_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        total = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:")) * 1024
            except (FileNotFoundError, ProcessLookupError, StopIteration, ValueError):
                continue
            stat = _stat(pid)
            if stat is not None:
                self.seen.setdefault(pid, stat[19])
        self.peak_bytes = max(self.peak_bytes, total)

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def alive(self) -> list[int]:
        out = []
        for pid, start in self.seen.items():
            stat = _stat(pid)
            if stat is not None and stat[19] == start and stat[0] != "Z":
                out.append(pid)
        return out


def _stat(pid: int):
    """Fields of /proc/<pid>/stat after the command name (state is [0],
    ppid [1], start time [19]); None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return data[data.rfind(")") + 2:].split()


def stop_all(proc: subprocess.Popen, sampler: RssSampler) -> None:
    """Kill the worker's process group and every descendant it ever had,
    then wait until each has ended."""
    if proc.poll() is None:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.time() + 10
    while True:
        left = sampler.alive()
        if not left or time.time() > deadline:
            break
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def spark_cores() -> int:
    """Half the CPUs this process may use, at least one. Each Spark task of
    a Python UDF keeps a JVM thread and a Python worker busy, and the driver,
    the JVM's compiler and collector threads and the memory sampler run
    beside them, so ``local[<nproc>]`` oversubscribes the CPUs and its run
    times follow the scheduler and the host's other load. On 4 vCPUs
    ``local[2]`` gives the same op times as ``local[4]`` after warm-up."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.time()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "qizner_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (qizner_spark/ not found)", file=sys.stderr)
        return 2
    cfg = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    for d in (inputs, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d)
    try:
        return run(args, cfg, root, work, inputs, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, cfg, root, work, inputs, t_start) -> int:
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench import gen
    from perfbench.worker import host_cpu

    made = getattr(gen, cfg["gen"])(args.seed, inputs, **cfg["args"])
    with open(os.path.join(HERE, "digests.json")) as f:
        recorded = json.load(f).get(args.workload, {}).get(str(args.seed))
    spec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "cores": spark_cores(),
        "work": work, "inputs": inputs, "batches": made["batches"], "batch_pages": made["batch_pages"],
        "order": made["order"], "scorer": cfg.get("scorer"),
        "gazetteer": made.get("gazetteer"), "planted_mentions": made.get("planted_mentions"),
        "planted_pairs": made.get("planted_pairs"),
        "recall_sample_every": cfg.get("recall_sample_every", 1),
        "stats": made["stats"], "recorded_digest": recorded,
    }
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, spark-submit's launcher included: temp files in the work
    # dir and no hsperfdata file in the system temp dir
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env["QIZNER_DRIVER_MEM"] = DRIVER_MEM
    # one string-hash order for every run, so set and dict iteration in the
    # driver and the Python workers does not vary from run to run
    env["PYTHONHASHSEED"] = "0"
    spec_path = os.path.join(work, "spec.json")
    log_path = os.path.join(work, "worker.log")
    spec["spawn_time"], spec["spawn_cpu"] = time.time(), host_cpu()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen([sys.executable, "-m", "perfbench.worker", spec_path], cwd=work,
                                env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=max(DEADLINE_S - (time.time() - t_start), 1))
        except subprocess.TimeoutExpired:
            print("perfbench: worker exceeded the run deadline", file=sys.stderr)
        finally:
            sampler.stop()
            stop_all(proc, sampler)
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    return report(args, spec, res, sampler.peak_bytes)


def report(args, spec, res, peak_bytes) -> int:
    # the metric names and units are the ones BENCHMARK.json declares
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        declared = json.load(f)
    attempted, failed = res["attempted"], res["failed"]
    checks_ok = all(res["checks"].values()) and bool(res["checks"])
    correct = failed == 0 and attempted > 0 and checks_ok
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={spec['cores']} seconds={args.seconds}")
    print("input " + json.dumps(spec["stats"], sort_keys=True))
    print("checks " + json.dumps(res["checks"], sort_keys=True)
          + f" digest={res['digests'][-1] if res['digests'] else None}"
          + (f" recorded={spec['recorded_digest']}" if spec["recorded_digest"]
             else " (no digest recorded for this seed: digest not checked)"))
    # wall time, then wall time net of steal, which the metrics use
    print("ops " + " ".join(f"{n}={w:.3f}s/{net:.3f}s" for n, w, net in res["op_walls"]))
    for fail in res["failures"]:
        print(f"failure {fail}")
    print(f"fail_frac = {failed / max(attempted, 1):.6g} ratio ({failed} of {attempted} ops failed)")
    if not args.trace:
        metrics = {
            "setup_s": res["session.start_s"] + res["session.warmup_s"],
            "docs_per_s": res["docs_per_s"],
            "rerun_s": res["rerun_s"],
            "peak_rss_mb": peak_bytes / 2 ** 20,
            "ok_frac": 1 - failed / max(attempted, 1),
            "recall": res["recall"],
        }
        print(f"session.start_s = {res['session.start_s']:.4f} s, "
              f"session.warmup_s = {res['session.warmup_s']:.4f} s (net of steal; setup wall "
              f"{res['setup_wall_s']:.4f} s), ops timed = {res['ops_timed']}")
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
               for m in declared["end_to_end"]}
    else:
        layer = res["per_layer"]
        # a layer the workload's ops do not call did no work: reported as 0
        skipped = [m["name"] for m in declared["per_layer"] if m["name"] not in layer]
        if skipped:
            print("not run on this workload (reported as 0): " + " ".join(skipped))
        out = {m["name"]: {"value": layer.get(m["name"], 0), "unit": m["unit"]}
               for m in declared["per_layer"]}
        depth = {}
        for s in res["spans"]:  # the whole trace, in start order, indented by depth
            depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
            print(f"span {'  ' * depth[s['id']]}{s['name']:<24} op={s['op']} "
                  f"wall={s['end'] - s['start']:.4f}s self={s['self_s']:.4f}s jobs={s['jobs']} "
                  f"stages={s['stages']} tasks={s['tasks']} failed={s['failed_tasks']}")
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
