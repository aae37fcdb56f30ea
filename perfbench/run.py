#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload features_decode --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all      # every workload, one table
    python3 perfbench/run.py --smoke             # every workload and check, tiny sizes

Run it from the root of a checkout. One run makes (or reuses) the
seeded inputs and their oracle, starts a session sized to the host,
runs one cold pass (set-up), then timed warm passes for ``--seconds``
and checks every pass's output against the oracle. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A fuller record (host,
versions, every effective ``spark.*`` and ``LBF_*`` value, per-pass
samples, failures, spans) is written under ``.perfbench/results/``.

Everything the benchmark writes stays under ``.perfbench/`` in the
checkout: the input cache, a private ``SPARK_LOCAL_DIRS`` and table
root per run (removed at exit), and the result records.
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
import tempfile
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
RUN_DEADLINE_S = 170       # every run must end within 180 s
PASS_TIMEOUT_S = 75
CACHED_INPUTS = 24         # input sets kept in the cache, newest first
# Reported end-to-end metrics. peak_rss_mb is kept in the run record
# only: the JVM's heap growth makes it spread 27-62 % across seeds on a
# 4-core host, wider than any bound a comparison could use.
E2E_UNITS = {"pass_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "setup_s": "s"}


class PassFailed(Exception):
    """A pass that did not produce a checked output; ``reason`` names why."""

    def __init__(self, reason: str):
        super().__init__(reason)
        self.reason = reason


def host_info() -> dict:
    nproc = len(os.sched_getaffinity(0))
    try:
        with open("/sys/devices/system/cpu/cpu0/topology/thread_siblings_list") as fh:
            sib = fh.read().strip()
        tpc = sum(int(b) - int(a) + 1 if "-" in p else 1
                  for p in sib.split(",") for a, _, b in [p.partition("-")])
    except OSError:
        tpc = None
    with open("/proc/meminfo") as fh:
        ram_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    return {"nproc": nproc, "threads_per_core": tpc,
            "ram_gib": round(ram_kb / 2**20, 2), "loadavg": os.getloadavg()}


def git_commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], env=env,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def versions() -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "pandas": pandas.__version__}


def prepare_inputs(w, seed: int) -> tuple[str, dict, float]:
    """Seeded inputs and oracle, cached by (workload, seed, size) and by
    the generators' source and the committed corpus, so an edited
    generator or corpus never reads stale inputs."""
    import hashlib

    import workloads

    h = hashlib.sha1()
    for path in (workloads.__file__, workloads.CORPUS):
        with open(path, "rb") as fh:
            h.update(fh.read())
    src = h.hexdigest()[:8]
    d = os.path.join(WORK, "inputs", f"{w.name}-s{seed}-{w.size_key()}-{src}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return d, json.load(fh), 0.0
    t0 = time.perf_counter()
    workloads.clear_dir(d)
    meta = w.generate(seed, d)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    gen_s = time.perf_counter() - t0
    cached = sorted((os.path.join(WORK, "inputs", n) for n in os.listdir(
        os.path.join(WORK, "inputs"))), key=os.path.getmtime, reverse=True)
    for old in cached[CACHED_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return d, meta, gen_s


class Run:
    """The passes of one run and what became of each."""

    def __init__(self, w, run_dir: str):
        self.w = w
        self.local_dir = os.environ["SPARK_LOCAL_DIRS"]
        self.scratch = os.path.join(run_dir, "tables")
        self.samples: list[dict] = []
        self.failures: list[dict] = []
        self.attempted = 0

    def check_scratch(self) -> None:
        """A wiped scratch dir must fail the pass by name, not hang it."""
        import glob

        if not glob.glob(os.path.join(self.local_dir, "blockmgr-*")):
            raise PassFailed("scratch_wiped: SPARK_LOCAL_DIRS has no block manager dir")
        if not os.path.isdir(self.scratch):
            raise PassFailed("scratch_wiped: table root is gone")

    def one_pass(self, spark, inp, label: str, tracer=None,
                 timeout: float = PASS_TIMEOUT_S) -> dict | None:
        """Run, time and check one pass; record a failure by reason."""
        from pyspark import InheritableThread

        import procstat
        import workloads

        self.attempted += 1
        box: dict = {}
        try:
            self.check_scratch()
            self.w.release(spark)
            table_dir = os.path.join(self.scratch, label)
            workloads.clear_dir(table_dir)

            def body() -> None:
                try:
                    if tracer is None:
                        box["out"] = self.w.run(spark, inp, table_dir)
                    else:
                        box["out"] = self.w.traced(spark, inp, table_dir, tracer)
                except Exception as e:  # reported as the pass's failure reason
                    msg = " ".join(str(e).split())[:400]
                    box["err"] = f"exception: {type(e).__name__}: {msg}"

            cpu0, t0 = procstat.cpu_s(), time.perf_counter()
            th = InheritableThread(target=body, daemon=True)
            th.start()
            th.join(timeout)
            wall = time.perf_counter() - t0
            if th.is_alive():
                spark.sparkContext.cancelAllJobs()
                th.join(30)
                raise PassFailed(f"timeout: pass exceeded {timeout:.0f} s")
            cpu = procstat.cpu_s() - cpu0
            if "err" in box:
                raise PassFailed(box["err"])
            bad = self.w.check(box["out"], inp)
            if bad:
                raise PassFailed("wrong_output: " + "; ".join(bad))
        except PassFailed as f:
            self.failures.append({"pass": label, "reason": f.reason})
            print(f"[perfbench] pass {label} FAILED: {f.reason}", file=sys.stderr)
            return None
        finally:
            shutil.rmtree(os.path.join(self.scratch, label), ignore_errors=True)
        sample = {"pass": label, "wall_s": wall, "cpu_s": cpu}
        print(f"[perfbench] pass {label}: {wall:.3f} s wall, {cpu:.2f} s cpu",
              file=sys.stderr)
        return sample


def start_session(trace: bool, run_dir: str, cores: int):
    from lbf_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:  # the status REST API is on in the traced run only
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    import procstat

    gw = SparkContext._gateway
    engine = procstat.descendants()  # before the JVM exits and orphans its workers
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    kill_descendants(procstat, engine)


def kill_descendants(procstat, pids: list[int] | None = None) -> None:
    """SIGKILL every engine process still alive and wait for it."""
    left = procstat.descendants() + list(pids or [])
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    for pid in left:
        try:
            os.waitpid(pid, 0)  # our own children
        except ChildProcessError:  # reparented: wait until it is gone
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)


def run_workload(args, w, spark=None) -> tuple[dict, dict]:
    """Run one workload; returns (result line, full record)."""
    import procstat
    import tracing

    host = host_info()
    cores = host["nproc"]
    inputs_dir, meta, gen_s = prepare_inputs(w, args.seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    own_session = spark is None
    run = Run(w, run_dir)
    record: dict = {"workload": w.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "host": host, "git_commit": git_commit(),
                    "versions": versions(), "input_rows": meta["rows"],
                    "gen_s": gen_s, "inputs_cached": gen_s == 0.0}
    tracer = None
    try:
        for sub in ("local", "tables", "tmp", "warehouse"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        t0 = time.perf_counter()
        if own_session:
            spark = start_session(args.trace, run_dir, cores)
        session_s = time.perf_counter() - t0
        session_cpu = procstat.cpu_s() if own_session else 0.0
        record["session_s"] = session_s
        record["spark_conf"] = {**dict(spark.sparkContext.getConf().getAll()),
                                **spark.conf.getAll}
        record["lbf_env"] = {k: v for k, v in os.environ.items() if k.startswith("LBF_")}
        inp = w.load(spark, inputs_dir)  # the oracle frames too: not set-up time
        cold = run.one_pass(spark, inp, "cold", timeout=2 * PASS_TIMEOUT_S)
        record["cold_pass"] = cold
        if cold is not None:
            t_loop = time.perf_counter()
            i = 0
            while time.perf_counter() - t_loop < args.seconds:
                s = run.one_pass(spark, inp, f"warm{i}")
                i += 1
                if s is None:
                    if run.failures[-1]["reason"].startswith(("timeout", "scratch")):
                        break  # the session cannot be trusted any more
                    continue
                run.samples.append(s)
        if args.trace and run.samples:
            tracer = tracing.Tracer(spark, cores, f"{w.name}-s{args.seed}")
            tracer.spans.append({"name": "session", "parent": None,
                                 "run_id": tracer.run_id, "start": 0.0,
                                 "end": session_s, "cpu_s": session_cpu,
                                 "rows_out": 0})
            traced = run.one_pass(spark, inp, "traced", tracer=tracer)
            record["traced_pass"] = traced
            if traced is not None:
                # the warm passes of a traced run have the UI on too, so
                # this is the cost of the layer cuts, not of the UI
                tracer.counts["trace.overhead_s"] = traced["wall_s"] - statistics.median(
                    s["wall_s"] for s in run.samples)
        walls = [s["wall_s"] for s in run.samples]
        metrics: dict = {}
        if walls:
            pass_s = statistics.median(walls)
            e2e = {"pass_s": pass_s, "rows_per_s": meta["rows"] / pass_s,
                   "cpu_s": statistics.median(s["cpu_s"] for s in run.samples),
                   "peak_rss_mb": procstat.peak_rss_mb(),
                   "setup_s": session_s + cold["wall_s"]}
            record["end_to_end"] = e2e
            if tracer is not None and record.get("traced_pass"):
                metrics = {k: {"value": v, "unit": tracing.unit(k)}
                           for k, v in tracer.layer_metrics().items()}
                record["spans"] = tracer.spans
                # each layer's share of the traced pass: names the layers
                # that carry the workload
                total = record["traced_pass"]["wall_s"]
                record["layer_shares"] = {
                    name: metrics[f"{name}.wall_s"]["value"] / total
                    for name in w.layers}
                print("[perfbench] layer shares of the traced pass: " + ", ".join(
                    f"{k} {v:.0%}" for k, v in record["layer_shares"].items()),
                    file=sys.stderr)
            elif not args.trace:
                metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    finally:
        if own_session:
            if spark is not None:
                stop_session(spark)
            shutil.rmtree(run_dir, ignore_errors=True)
    record.update(samples=run.samples, failures=run.failures)
    wrong = any(f["reason"].startswith("wrong_output") for f in run.failures)
    # a traced run without its per-layer metrics is not a usable result
    usable = bool(run.samples) and (not args.trace or bool(metrics))
    result = {"correct": usable and not wrong, "attempted": run.attempted,
              "failed": len(run.failures), "metrics": metrics}
    record["result"] = result
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(WORK, "results",
                           f"{w.name}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return result, record


def run_all(args) -> int:
    """Every workload in its own process (a fresh JVM each, like
    separate benchmark runs); prints one table."""
    import workloads

    status = 0
    for name in workloads.workloads(smoke=False):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"{name}: exit {out.returncode}\n{out.stderr[-2000:]}")
            status = 1
            continue
        res = json.loads(lines[-1])
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:.3f}")
        for k, m in res["metrics"].items():
            print(f"  {k:<40} {m['value']:>14.4f} {m['unit']}")
        status |= 0 if res["correct"] and not res["failed"] else 1
    return status


def run_smoke(args) -> int:
    """Every workload, every output check and the traced pass, at tiny
    sizes, in one session (about a minute)."""
    import tracing
    import workloads

    host = host_info()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for sub in ("local", "tables", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    spark = start_session(True, run_dir, host["nproc"])
    status = 0
    try:
        for w in workloads.workloads(smoke=True).values():
            res, rec = run_workload(args, w, spark)
            layers = {k for k, m in res["metrics"].items()
                      if k.endswith(".wall_s") and m["value"] > 0}
            want = {f"{name}.wall_s" for name in w.layers}
            ok = (res["correct"] and not res["failed"] and want <= layers
                  and set(res["metrics"]) == set(tracing.per_layer_names()))
            print(f"{w.name}: {'ok' if ok else 'FAILED'} attempted={res['attempted']} "
                  f"failed={res['failed']} layers={sorted(layers)}")
            if not ok:
                print(json.dumps(rec["failures"]))
                status = 1
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "lbf_spark", "session.py")):
        print("perfbench: run from the root of an lbf_spark checkout "
              f"(no lbf_spark package under {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    known = workloads.workloads(smoke=False)
    if args.workload == "all" and not args.smoke:
        return run_all(args)
    if args.workload not in known and not args.smoke:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(known)}",
              file=sys.stderr)
        return 2
    # The JVM's scratch, the package zip and every table live in the
    # run's private dirs, set before the JVM starts.
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    # The JVM heap stays well below physical memory: a quarter of it.
    ram_gib = host_info()["ram_gib"]
    os.environ["LBF_DRIVER_MEM"] = f"{max(1, int(ram_gib // 4))}g"
    if args.smoke:
        args.seconds, args.trace = min(args.seconds, 1.0), 1
        return run_smoke(args)

    def on_deadline() -> None:
        import procstat

        print(f"perfbench: run exceeded {RUN_DEADLINE_S} s, killed", file=sys.stderr)
        kill_descendants(procstat)
        os._exit(3)

    watchdog = threading.Timer(RUN_DEADLINE_S, on_deadline)
    watchdog.daemon = True
    watchdog.start()
    result, _record = run_workload(args, known[args.workload])
    watchdog.cancel()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
