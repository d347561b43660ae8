#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 \\
        --trace 0

Runs one workload from the root of a checkout: starts a local Spark
session, sets the workload up on inputs generated from ``--seed``,
measures its closed loop for ``--seconds`` and checks every answer.
Human-readable lines go first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The exit code is 0 when every answer checked out, 1
when one did not, and 2 when the benchmark could not run at all.

All state lives under ``.perfbench/`` in the checkout: each run gets a
fresh directory for its tables, stores and artifacts (removed at exit),
and a traced run leaves its span file in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"      # fits a 15 GB host with room for the workers


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def launcher_env(run_dir: str, cpus: int, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside the run's
    own directory, and size the session for this host."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # a traced run keeps every job in the status store it reads; an
    # untraced run keeps Spark's default, so its store stays small
    retain = (["--conf spark.ui.retainedJobs=100000",
               "--conf spark.ui.retainedStages=100000"] if trace else [])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'wh')}",
        *retain, "pyspark-shell"])


class Ctx:
    def __init__(self, spark, args, run_dir, cpus, tracer, harvest):
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.cpus = cpus
        self.tracer = tracer
        self.harvest = harvest
        self.local = threading.local()

    def storage_bytes(self) -> int:
        return sum(int(i.memSize()) + int(i.diskSize()) for i in
                   self.spark.sparkContext._jsc.sc().getRDDStorageInfo())


def measure(wl, ctx) -> tuple[list[dict], dict[str, float]]:
    """Run the workload's phases one after another. In each, every
    client sends its next operation only after the previous one
    completed (a closed loop): for ``--seconds`` (at least one operation
    each), or ``ops`` operations each when the phase fixes a count. A
    traced run runs every phase three times — untraced, traced, untraced
    — so its overhead is measured against the same work untraced on both
    sides of it (the engine keeps warming as it runs). Returns the
    records and each phase's untraced wall time."""
    sc = ctx.spark.sparkContext
    records: list[dict] = []
    lock = threading.Lock()
    ids = iter(range(1, 1 << 30))
    errors: list[BaseException] = []
    walls: dict[str, float] = {}

    def client(ph, c: int, t0: float, traced: bool, done: list) -> None:
        seq = wl.client_sequence(ph.name, c)
        n = 0
        try:
            while True:
                if ph.ops is None:
                    if n and time.perf_counter() - t0 >= ctx.seconds:
                        return
                elif n >= ph.ops:
                    return
                with lock:
                    rid = next(ids)
                start = time.perf_counter()
                if traced:
                    rec = traced_op(wl, ctx, sc, c, seq, rid)
                else:
                    rec = wl.op(c, seq)
                    rec.pop("side", None)
                rec.update(phase=ph.name, client=c, rid=rid, traced=traced,
                           start=start - t0)
                with lock:
                    done.append(rec)
                n += 1
        except BaseException as e:                       # noqa: BLE001
            errors.append(e)

    for ph in wl.phases:
        for traced in ((False, True, False) if ctx.trace else (False,)):
            done: list[dict] = []
            t0 = time.perf_counter()
            threads = [threading.Thread(target=client,
                                        args=(ph, c, t0, traced, done),
                                        daemon=True)
                       for c in range(ph.clients)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            if not traced:
                walls[ph.name] = (walls.get(ph.name, 0.0)
                                  + time.perf_counter() - t0)
            if errors:
                raise errors[0]
            records += done
    return records, walls


def traced_op(wl, ctx, sc, c, seq, rid) -> dict:
    """One operation under its own job group, then its standalone
    parser/planner calls under a second group, so the request's Spark
    figures hold only the request's own jobs."""
    group = f"perfbench-{rid}"
    ctx.local.dfs = []
    sc.setJobGroup(group, f"perfbench request {rid}", False)
    try:
        with ctx.tracer.recording(rid):
            rec = wl.op(c, seq)
    finally:
        sc._jsc.clearJobGroup()
    side = rec.pop("side", None)
    if side is not None:
        sc.setJobGroup(f"{group}-side", f"perfbench side calls {rid}", False)
        try:
            with ctx.tracer.recording(rid):
                wl.standalone_parse(**side)
        finally:
            sc._jsc.clearJobGroup()
    ctx.harvest.wait_idle()
    rec["jobs"] = ctx.harvest.jobs(group)
    rec["side_jobs"] = ctx.harvest.jobs(f"{group}-side")
    rec["figs"] = wl.plan_figs()
    ctx.local.dfs = None
    return rec


def canary_ms(spark) -> float:
    """``bench.py``'s pure-JVM host canary at 1/10 size (sum of masked
    xxhash64 over 5M rows): a host-speed drift indicator beside every
    run. It gates nothing."""
    from pyspark.sql import functions as F

    runs = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 5_000_000, 1, 8).select(
            F.sum(F.xxhash64("id").bitwiseAND(F.lit((1 << 31) - 1)))
        ).collect()
        runs.append((time.perf_counter() - t) * 1e3)
    return min(runs)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:                                    # noqa: BLE001
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:                                # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "valkey_search_spark")):
        print("perfbench: the valkey_search_spark package is not next to "
              "the benchmark; nothing to measure", file=sys.stderr)
        return 2
    from perfbench import report
    from perfbench.trace import SparkHarvest, Tracer
    from perfbench.workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{args.seed}-"
                                 f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    launcher_env(run_dir, cpus, bool(args.trace))
    spark = None
    try:
        from valkey_search_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer()
        harvest = SparkHarvest(spark) if args.trace else None
        ctx = Ctx(spark, args, run_dir, cpus, tracer, harvest)
        wl = WORKLOADS[args.workload](ctx)
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_s + (time.perf_counter() - t1)
        wl.setup_parts["session"] = session_s
        cache_bytes = ctx.storage_bytes()
        space = wl.space_ratio()
        records, walls = measure(wl, ctx)
        canary = canary_ms(spark)
        out = report.build(wl, ctx, records, walls, setup_s, canary,
                           cache_bytes, space, base)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in out["lines"]:
        print(line)
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
