"""The repo's benchmark: seeded, closed-loop workloads over hex2vec_spark.

Run from the repository root:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

One client in one process drives a local[N] session (N = min(4, nproc)).
Set-up (session start, seeded inputs, tiling, reference outputs, warm-up
until the iteration time settles) is timed as ``setup_s``; then whole
iterations run until ``--seconds`` have passed, and every operation's
output is checked against its reference. ``--trace 1`` turns on Spark's
event log and job tags and reports per-layer metrics instead of the
end-to-end ones. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the exit code is
non-zero if any output mismatched or an operation failed.

Everything the run writes stays under ``.perfbench_out/`` in the
repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "wall_s": "s",
    "query_s_p50": "s",
    "query_s_max": "s",
    "images_per_s": "images/s",
    "peak_rss_mb": "MB",
}
DRIVER_MEM = "3g"  # driver heap (local mode: the executors live in it too)
RUN_CAP_S = 130.0  # stop measuring early so that a run, traced too, stays under 3 minutes
# An iteration during which the hypervisor took more than this share of
# the CPU time (steal, /proc/stat) is checked but not timed; measuring
# goes on to replace it, for up to STEAL_PATIENCE times as long as it
# would have taken without replacements.
STEAL_MAX = 0.10
STEAL_PATIENCE = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(out: str) -> int:
    """Keep every file the run (JVM, Python workers, temp files) writes
    under ``out`` and let Python workers import the repo's package."""
    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(out, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_MEM": DRIVER_MEM,
    })
    import tempfile

    tempfile.tempdir = tmp
    return cores


def start_session(out: str, cores: int):
    from hex2vec_spark.plans.session import get_spark

    extra = {
        # a fixed-size heap: G1 resizing the heap differently from run
        # to run changes GC frequency and the process's memory
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:MaxDirectMemorySize=1g -Djava.io.tmpdir={os.path.join(out, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
    }
    return get_spark("perfbench", master=f"local[{cores}]", extra=extra)


def process_tree(root: int) -> dict[int, int]:
    """Parent pid of ``root`` and of every live descendant (from /proc)."""
    children: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    tree, todo = {root: 0}, [root]
    while todo:
        parent = todo.pop()
        for pid in children.get(parent, []):
            tree[pid] = parent
            todo.append(pid)
    return tree


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    return [pid for pid in process_tree(root) if pid != root]


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc. Pages that
    forked workers share count once per process, as ``ps`` sums them.
    A child whose resident set is within 1% of its parent's has not
    diverged from it: a fork, or the JVM's vfork for a helper command,
    that has not yet called exec. It adds no pages of its own and is
    skipped; counting it would add the whole JVM a second time to the
    samples that happen to catch one. ``statm`` is O(1) per process,
    where ``smaps_rollup`` would walk the JVM's page tables on every
    sample."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak, self._stop = interval, 0, threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree_rss(self) -> int:
        tree, rss = process_tree(os.getpid()), {}
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss[pid] = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return sum(
            v for pid, v in rss.items()
            if tree[pid] not in rss or abs(v - rss[tree[pid]]) > 0.01 * rss[tree[pid]]
        )

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM PySpark launched, and wait
    until it and every Python worker it forked have exited."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the launcher exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class Runner:
    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.attempted = self.failed = 0
        self.warm_walls: list[float] = []

    def iteration(self, k: int, traced: bool) -> dict:
        """Run every operation once, then check the outputs."""
        import pandas as pd

        self.tracer.active = traced
        lat, results = {}, {}
        ticks = cpu_ticks()
        t0 = time.time()
        with self.tracer.span(f"it:{k}"):
            for name, fn in self.wl.ops:
                s = time.time()
                try:
                    with self.tracer.span(f"op:{name}"):
                        results[name] = fn()
                except Exception:  # count it and keep going
                    traceback.print_exc(file=sys.stderr)
                    results[name] = None
                lat[name] = time.time() - s
        t1 = time.time()
        steal = steal_share(ticks, cpu_ticks())
        rows = {n: len(r) for n, r in results.items() if isinstance(r, pd.DataFrame)}
        self.tracer.active = False
        for name, res in results.items():
            self.attempted += 1
            ok = False
            if res is not None:
                try:
                    ok = self.wl.check(name, res)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
            if not ok:
                self.failed += 1
                print(f"MISMATCH {self.wl.name} iteration {k} op {name}", file=sys.stderr)
        self.wl.after_iteration(k)
        return {"k": k, "start": t0, "end": t1, "wall": t1 - t0, "lat": lat, "rows": rows,
                "traced": traced, "steal": steal}

    def measure(self, seconds: float, deadline: float, log_dir: str | None) -> list[dict]:
        """Whole iterations until ``seconds`` have passed and the
        workload's ``min_iterations`` have run with the host's steal
        time under ``STEAL_MAX``. Iterations over it are replaced, for
        up to ``STEAL_PATIENCE`` times as long as measuring would have
        taken without them. With ``log_dir``, every other iteration is
        traced and the event log is attached for it alone, so traced and
        untraced iterations interleave and reach ``min_iterations``
        each."""
        from tracing import EventLog

        its, t0, base = [], time.time(), None
        kinds = {True, False} if log_dir else {False}

        def enough(subset):
            return min(sum(it["traced"] == t for it in subset) for t in kinds) >= self.wl.min_iterations

        while True:
            traced = log_dir is not None and len(its) % 2 == 1
            k = len(self.warm_walls) + len(its)
            with EventLog(self.wl.spark, log_dir, f"it{k}") if traced else contextlib.nullcontext():
                its.append(self.iteration(k, traced))
            elapsed = time.time() - t0
            if base is None and elapsed >= seconds and enough(its):
                base = elapsed  # when measuring would end if no iteration were replaced
            clean = [it for it in its if it["steal"] <= STEAL_MAX]
            if (base is not None and (enough(clean) or elapsed >= STEAL_PATIENCE * base)) \
                    or time.time() > deadline:
                return its

    def warm_up(self) -> None:
        """Unmeasured passes until the driver's JIT has settled: one full
        (cold) pass, then planning-only passes over the workload's plans
        (the driver's planner is what keeps speeding up; a planning pass
        costs a fraction of a full one), then full passes again. Fixed
        counts, so every run measures the JVM at the same point."""
        self.warm_walls.append(self.iteration(0, traced=False)["wall"])
        t0 = time.time()
        for _ in range(self.wl.plan_passes):
            for build in self.wl.plans():
                build()._jdf.queryExecution().executedPlan()
        self.plan_s = time.time() - t0
        for _ in range(self.wl.settle_passes):
            self.warm_walls.append(self.iteration(len(self.warm_walls), traced=False)["wall"])


def timed(its: list[dict], traced: bool) -> list[dict]:
    """The iterations of one kind whose times count: those under the
    steal threshold, or all of them if none was."""
    kind = [it for it in its if it["traced"] == traced]
    clean = [it for it in kind if it["steal"] <= STEAL_MAX]
    if kind and not clean:
        print(f"perfbench: host steal time above {STEAL_MAX:.0%} in every "
              f"{'traced' if traced else 'untraced'} iteration; timing them anyway",
              file=sys.stderr)
    return clean or kind


def median_of(values):
    return statistics.median(values) if values else 0.0


def end_to_end(wl, its: list[dict], setup_s: float, peak_rss: int) -> dict:
    lat = {name: median_of([it["lat"][name] for it in its]) for name, _ in wl.ops}
    return {
        "setup_s": setup_s,
        "wall_s": median_of([it["wall"] for it in its]),
        "query_s_p50": median_of(list(lat.values())),
        "query_s_max": max(lat.values()),
        "images_per_s": wl.n_images / lat[wl.images_op],
        "peak_rss_mb": peak_rss / 2**20,
    }


def report(name: str, metrics: dict, units: dict, n: dict) -> None:
    for k, v in metrics.items():
        print(f"{name:14s} {k:52s} {v:16.6g} {units.get(k, ''):10s} n={n.get(k, 1)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "hex2vec_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the repository root (hex2vec_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        return run(args, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run(args, out: str) -> int:
    from tracing import EventLog, Tracer

    from workloads import WORKLOADS

    t_setup, ticks = time.time(), cpu_ticks()
    cores = prepare_env(out)
    spark = start_session(out, cores)
    try:
        phases = {"session": time.time() - t_setup}
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, out, args.seed, tracer)
        wl.setup()
        phases["inputs"] = time.time() - t_setup - sum(phases.values())
        runner = Runner(wl, tracer)
        runner.warm_up()
        setup_s = time.time() - t_setup
        phases["warm-up"] = setup_s - sum(phases.values())
        setup_steal = steal_share(ticks, cpu_ticks())

        log_dir = None
        if args.trace:
            log_dir = os.path.join(out, "eventlog")
            os.makedirs(log_dir)
        with RssSampler() as rss:
            its = runner.measure(args.seconds, t_setup + RUN_CAP_S, log_dir)
        plain, traced = timed(its, False), timed(its, True)
        e2e = end_to_end(wl, plain, setup_s, rss.peak)
        ladder = []
        if args.trace:
            with EventLog(spark, log_dir, "ladder"):
                ladder = run_ladder(wl, tracer, reps=3)
    finally:
        stop_spark(spark)

    print(f"{wl.name}: cores={cores} set-up " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items())
          + f" (of which planning passes {runner.plan_s:.1f}s), host steal {setup_steal:.1%}")
    print(f"{wl.name}: warm-up walls=" + " ".join(f"{w:.2f}" for w in runner.warm_walls)
          + " measured walls=" + " ".join(
              f"{it['wall']:.2f}{'' if it in plain + traced else '(steal)'}" for it in its)
          + f"; host steal per iteration, median {median_of([it['steal'] for it in its]):.1%}"
          + f", max {max(it['steal'] for it in its):.1%}")
    for name, _ in wl.ops:
        print(f"{wl.name}: op {name:20s} median {median_of([it['lat'][name] for it in plain]):8.3f} s")
    extra = {"error_rate": runner.failed / max(runner.attempted, 1)}
    if getattr(wl, "table_bytes_per_row", None):
        extra["table_bytes_per_row"] = median_of(wl.table_bytes_per_row)
    if "merge_table" in dict(wl.ops):
        extra["upsert_s"] = median_of([it["lat"]["merge_table"] for it in plain])
    units = {**END_TO_END, "error_rate": "ratio", "table_bytes_per_row": "B/row", "upsert_s": "s"}
    counts = {k: len(plain) for k in END_TO_END} | {"setup_s": 1, "peak_rss_mb": 1}
    report(wl.name, {**e2e, **extra}, units, counts)
    metrics = e2e
    if args.trace:
        import layers

        measured = layers.per_layer(wl, log_dir, tracer, plain, traced, ladder, e2e["wall_s"])
        units = {**layers.PER_LAYER, **layers.PRINTED_ONLY}
        report(wl.name, measured, units, {k: len(traced) for k in units})
        save_trace(args, wl, tracer, measured)
        metrics = {k: measured[k] for k in layers.PER_LAYER}
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if runner.failed == 0 else 1


def save_trace(args, wl, tracer, metrics: dict) -> None:
    """Keep a traced run's spans and per-layer metrics after the run
    directory is removed."""
    path = os.path.join(ROOT, ".perfbench_out", "traces", f"{wl.name}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"metrics": metrics, "spans": tracer.spans}, f)


def run_ladder(wl, tracer, reps: int) -> list[dict]:
    """Cumulative noop prefixes of the image pipeline, each tagged so
    its stages can be found in the event log."""
    rungs = []
    tracer.active = True
    for r in range(reps):
        for name, build in wl.prefixes():
            tag = f"ladder:{r}:{name}"
            with tracer.span(tag, name):
                t0 = time.time()
                build().write.format("noop").mode("overwrite").save()
                rungs.append({"rep": r, "name": name, "tag": tag, "start": t0, "end": time.time()})
    tracer.active = False
    return rungs


if __name__ == "__main__":
    raise SystemExit(main())
