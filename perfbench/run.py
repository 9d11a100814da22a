#!/usr/bin/env python3
"""KG-construction benchmark: one seeded workload per run.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run from the repository root. Set-up (JVM start, seeded inputs, warm-up
units) is timed as ``setup_s``; then units of work run until ``--seconds``
have passed, each timed and output-checked. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced units and reports the per-layer metrics instead, and
writes the spans to ``.perfbench_out/<workload>-<seed>.json``. See
README.md in this directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# metrics only the stream workload can move; no other workload emits them
STREAM_ONLY = "stream."


def log(*args):
    print("[perfbench]", *args, file=sys.stderr, flush=True)


# -- host ------------------------------------------------------------------
def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def jvm_gc_s(spark) -> float:
    """Summed collection time of the driver JVM's garbage collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000


def source_ids() -> dict:
    """The commit when run from a git checkout, and a digest of the
    package sources either way."""
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, "kgcompass_spark")
    for base, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(base, name), "rb") as f:
                    digest.update(name.encode() + f.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except OSError:
        commit = "unknown"
    return {"commit": commit, "source_sha1": digest.hexdigest()}


def start_spark(host: dict, work: str):
    """local[nproc] with a driver heap of an eighth of MemTotal; every
    scratch path (local dirs, JVM tmp, warehouse) inside ``work``."""
    from kgcompass_spark.session import get_spark

    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    heap = f"{host['mem_total_mb'] // 8}m"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    # the heap floor is pinned to the ceiling (an eighth of MemTotal, so
    # never above host RAM): the lazily grown heap resizes during the units
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -Xms{heap} -XX:+UseG1GC"
    )
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return get_spark(
        "perfbench",
        cores=host["nproc"],
        shuffle_partitions=host["nproc"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in _descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _descendants() -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's children (the driver JVM and its
    Python workers), sampled from /proc every 100 ms; the process tree is
    re-read every second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.page = os.sysconf("SC_PAGE_SIZE")
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self):
        pids, tick = [], 0
        while not self._stop_event.wait(0.1):
            if tick % 10 == 0:
                pids = _descendants()
            tick += 1
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self.page
                except (OSError, IndexError, ValueError):
                    pass
            self.peak = max(self.peak, total)

    def reset(self):
        self.peak = 0

    def stop(self):
        self._stop_event.set()
        self.join()


# -- measurement -----------------------------------------------------------
class Runner:
    def __init__(self, wl, tracer=None):
        self.wl, self.tracer = wl, tracer
        self.attempted = self.failed = 0

    def unit(self, traced: bool = False):
        """One unit, timed and checked: (wall_s, first_result_s or None),
        or None when it raised. A unit that fails its check is timed and
        counted in ``failed``."""
        self.attempted += 1
        tr = self.tracer if traced else None
        try:
            if tr is not None:
                tr.install()
            t0, steal0 = time.perf_counter(), cpu_steal_s()
            try:
                res = self.wl.unit(tr)
            finally:
                t1 = time.perf_counter()
                if tr is not None:
                    tr.uninstall()
                    tr.units.append((t0, t1))
                    tr.unpersist()
            if traced and isinstance(res, dict):
                tr.stream_progress += res.get("progress", [])
            ok, detail = self.wl.check(res)
        except Exception:
            self.failed += 1
            log("unit raised:\n" + traceback.format_exc())
            return None
        self.failed += not ok
        log(f"unit {'traced ' if traced else ''}{t1 - t0:.3f}s "
            f"(host steal {cpu_steal_s() - steal0:.2f}s) "
            f"{'ok' if ok else 'output check FAILED'}: {detail}")
        return t1 - t0, res.get("first_result_s") if isinstance(res, dict) else None


def stream_extras(progress: list, n_units: int) -> dict:
    n = max(n_units, 1)
    state = [op.get("numRowsTotal", 0) for p in progress for op in p.get("stateOperators", [])]
    return {
        "stream.batches": len(progress) / n,
        "stream.empty_batches": sum(p["numInputRows"] == 0 for p in progress) / n,
        "stream.batch_max_s": max((p["durationMs"].get("triggerExecution", 0) for p in progress), default=0) / 1000,
        "stream.add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000 / n,
        "stream.state_rows": max(state, default=0),
    }


def ratios(tr) -> dict:
    def div(a, b):
        return a / b if b else 0.0

    # build_kg MERGEs the core triples with the collidable context part and
    # unions the passthrough part after the groupBy ("merge" holds both)
    ctx_pass = ctx_merge = 0
    for sp in tr.spans:
        if sp.name == "context_triples_parts":
            ctx_pass, ctx_merge = sp.counts.get("rows_parts", [0, 0])
    before = tr.rows("links_to_triples") + tr.rows("structural_triples") + ctx_merge
    return {
        "linking.hit_ratio": div(tr.rows("link_all"), tr.rows("extract_mentions")),
        "triples.dedup_ratio": div(tr.rows("merge") - ctx_pass, before) if tr.rows("merge") else 0.0,
        "lsh.accept_ratio": div(tr.rows("cc_input"), tr.rows("minhash_lsh_candidates")),
        "evidence.cap_ratio": div(tr.rows("evidence_export_all"), tr.rows("seeded_support")),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["build", "graph", "stream", "query", "canon"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "kgcompass_spark")):
        log(f"kgcompass_spark not found under {ROOT}; run from a checkout of the repository")
        return 2
    sys.path.insert(0, ROOT)
    import tracing
    import workloads

    host = {**host_info(), **source_ids(), "seed": args.seed, "workload": args.workload,
            "python": sys.version.split()[0]}
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sampler, spark = RssSampler(), None
    try:
        sampler.start()
        spark = start_spark(host, work)
        host["spark"] = spark.version
        host["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        log("host", json.dumps(host))
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, workloads.SIZES[args.size])
        tracer = tracing.Tracer(spark, host["nproc"]) if args.trace else None
        runner = Runner(wl, tracer)
        wl.setup()
        for _ in range(wl.warmup_units):
            runner.unit()
        setup_s = time.perf_counter() - T_START

        sampler.reset()
        steal0, gc0 = cpu_steal_s(), jvm_gc_s(spark)
        walls, firsts, traced_walls = [], [], []
        t_measure = time.perf_counter()
        while True:
            r = runner.unit()
            if r:
                walls.append(r[0])
                if r[1] is not None:
                    firsts.append(r[1])
            if tracer is not None:
                r = runner.unit(traced=True)
                if r:
                    traced_walls.append(r[0])
            if time.perf_counter() - t_measure >= args.seconds:
                break
        peak_rss_mb = sampler.peak / (1024 * 1024)
        noise = {"steal_s": cpu_steal_s() - steal0, "gc_s": jvm_gc_s(spark) - gc0}
    finally:
        sampler.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    ok = runner.failed == 0 and bool(walls)
    wall_s = statistics.median(walls) if walls else 0.0
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
        if firsts:
            metrics["first_result_s"] = (statistics.median(firsts), "s")
    else:
        metrics = {}
        per_layer = tracer.layer_metrics()
        for name, value in per_layer.items():
            unit = name.rsplit(".", 1)[1]
            metrics[name] = (value, {"wall_s": "s", "task_s": "s", "idle_core_s": "s",
                                     "shuffle_mb": "MB", "spill_mb": "MB"}.get(unit, "count"))
        metrics["tasks_failed"] = (tracer.failed_tasks(), "count")
        metrics["trace_overhead_s"] = (tracer.traced_wall_s() - wall_s, "s")
        metrics["unattributed_s"] = (tracer.unattributed_s(), "s")
        for name, value in stream_extras(tracer.stream_progress, len(tracer.units)).items():
            metrics[name] = (value, "s" if name.endswith("_s") else "count")
        for name, value in ratios(tracer).items():
            metrics[name] = (value, "ratio")
        if args.workload != "stream":
            metrics = {k: v for k, v in metrics.items() if not k.startswith(STREAM_ONLY)}
        out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tracer.dump(out, {"host": host, "traced_wall_s": tracer.traced_wall_s(),
                          "untraced_wall_s": walls, "metrics": {k: v[0] for k, v in metrics.items()}})
        log(f"spans written to {out}")
    # every repetition, not only the medians in the result line
    print(json.dumps({"host": host, "setup_s": setup_s, "units_s": walls, **noise,
                      "first_result_s": firsts, "traced_units_s": traced_walls}))
    print(json.dumps({
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
