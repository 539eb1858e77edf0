"""kioss_spark benchmark: seeded inputs, closed-loop workloads through
``__spark_entry__.queries()``, DuckDB-oracle-checked results, and a traced
per-layer run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl --seed 42 --seconds 10 --trace 0

One invocation is one client in a closed loop on ``local[nproc]``:

1. sizes the host (``SPARK_GRAFT_CPUS`` from nproc, ``SPARK_GRAFT_DRIVER_MEM``
   from MemAvailable) and points every temporary directory at
   ``.perfbench_work/run-<pid>/`` inside the checkout;
2. generates (or reuses) the inputs for ``--seed`` (``gen.py``);
3. imports the registry, launches the JVM and starts a Spark context
   ``SETUPS`` times on it; ``setup_s`` is import + launch + the median start;
4. runs each workload query once, collects it and compares it with its
   DuckDB oracle -- this pass is also the untimed warm-up;
5. runs round(``--seconds`` / nominal pass seconds) timed passes; each runs
   the query list in a seed-fixed order, timing ``build`` (the ``queries()``
   call) and ``action`` (a ``noop`` write of the result) per query, in wall
   seconds and in CPU seconds of the process tree;
6. prints one JSON line with the end-to-end metrics (``--trace 0``: CPU
   seconds, which a shared host's steal time leaves alone) or the per-layer
   metrics (``--trace 1``), and writes the full record, wall-clock latencies
   included, to ``.perfbench_work/out/``.

With ``--trace 1`` the passes run untraced, traced, untraced, so the tracing
overhead and the per-query job counts of both kinds can be compared.
Exit code 2 (and no result line) means the checkout cannot run the benchmark.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import PASS_S, SIZE, WORKLOADS  # noqa: E402

#: Spark contexts started per run; set-up reports their median
SETUPS = 3
#: a run stops starting passes after this many seconds in total
RUN_BUDGET_S = 150.0
#: keep-alive prefix inside TMPDIR: the package zip shipped to Python workers
SHIP_PREFIX = "kioss_spark_ship_"


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    avail_mb = 4096
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    avail_mb = int(line.split()[1]) // 1024
    except OSError:
        pass
    # a quarter of what is free, within [1, 2] GiB: the inputs are small and
    # the host is shared
    driver_mb = max(1024, min(2048, avail_mb // 4))
    with open("/proc/loadavg") as fh:
        l1, l5, l15 = (float(x) for x in fh.read().split()[:3])
    n = os.cpu_count() or cpus
    return {
        "cpus": cpus, "mem_available_mb": avail_mb, "driver_mem_mb": driver_mb,
        "load1_per_cpu": l1 / n, "load5_per_cpu": l5 / n, "load15_per_cpu": l15 / n,
    }


def steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the share the hypervisor gave to
    other guests while the passes ran."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def prepare_dirs(root: str) -> dict:
    work = os.path.join(root, ".perfbench_work")
    run = os.path.join(work, f"run-{os.getpid()}")
    dirs = {"work": work, "run": run}
    for key in ("tmp", "jvm_tmp", "spark_local", "warehouse"):
        dirs[key] = os.path.join(run, key)
        os.makedirs(dirs[key], exist_ok=True)
    dirs["out"] = os.path.join(work, "out")
    os.makedirs(dirs["out"], exist_ok=True)
    return dirs


def clean_tmp(tmp: str) -> None:
    """Empty TMPDIR after a pass (manifest queries mkdtemp on every build),
    keeping the package zip the Python workers were shipped."""
    for name in os.listdir(tmp):
        if not name.startswith(SHIP_PREFIX):
            path = os.path.join(tmp, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of this process, the JVM and every live
    process below the JVM (the Python worker daemon and its workers, whose
    exited workers it has reaped)."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = ticks.get(os.getpid(), 0)
    stack = [jvm_pid]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def setup(host: dict, dirs: dict):
    """Import the registry, launch the JVM and start a Spark context
    ``SETUPS`` times on it.  Returns (spark, entry module, setup record);
    ``setup_s`` is import + JVM launch + the median context start.  The
    engine's warm-up is the correctness pass that follows."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host["cpus"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{host['driver_mem_mb']}m"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark_local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    import tempfile

    tempfile.tempdir = dirs["tmp"]

    t0 = time.perf_counter()
    import __spark_entry__ as entry

    entry.queries()
    entry.oracle_sql()
    from kioss_spark.session import get_spark
    from pyspark import SparkConf, SparkContext

    import_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    conf = (SparkConf()
            .set("spark.driver.memory", f"{host['driver_mem_mb']}m")
            .set("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={dirs['jvm_tmp']} -XX:-UsePerfData")
            .set("spark.ui.showConsoleProgress", "false"))
    SparkContext._ensure_initialized(conf=conf)
    launch_s = time.perf_counter() - t0
    contexts = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        contexts.append(time.perf_counter() - t0)
    record = {"import_s": import_s, "launch_s": launch_s, "context_s": contexts,
              "setup_s": import_s + launch_s + statistics.median(contexts)}
    return spark, entry, record


def shutdown(spark) -> None:
    """Stop Spark and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - the JVM is stopped below regardless
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()


def check_pass(spark, entry, names, data_dir, tables) -> tuple[dict, dict]:
    """Collect every query once and compare it with its oracle.  The oracles
    run on DuckDB in a second thread while Spark collects."""
    from concurrent.futures import ThreadPoolExecutor

    import oracle

    queries, sqls = entry.queries(), entry.oracle_sql()
    mismatches, errors, results = {}, {}, {}
    with ThreadPoolExecutor(1) as pool:
        want = pool.submit(oracle.expected, data_dir, tables,
                           {n: sqls[n] for n in names if n in sqls})
        for name in names:
            t0 = time.perf_counter()
            try:
                df = queries[name](spark, data_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # noqa: BLE001 - counted, reported
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"perfbench: checked {name} in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        t0 = time.perf_counter()
        want = want.result()
        print(f"perfbench: oracle wait {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    for name, (cols, rows) in results.items():
        why = oracle.mismatch(want[name], cols, rows) if name in want else "no oracle"
        if why is not None:
            mismatches[name] = why
    return mismatches, errors


class Passes:
    """Timed passes over one workload; optionally traced."""

    def __init__(self, spark, entry, names, data_dir, seed, tmp):
        from pyspark import SparkContext

        self.spark, self.sc = spark, spark.sparkContext
        self.jvm_pid = SparkContext._gateway.proc.pid
        self.queries = entry.queries()
        self.names, self.data_dir, self.tmp = names, data_dir, tmp
        self.rng = random.Random(seed)
        self.samples: list[dict] = []
        self.passes: list[dict] = []
        self.tracer = None

    def run_pass(self, traced: bool) -> dict:
        import layers

        idx = len(self.passes)
        order = self.rng.sample(self.names, len(self.names))
        tracer = self.tracer if traced else None
        if tracer is not None:
            tracer.reset()
            tracer.install()
        # start every pass from collected heaps, so garbage left by the
        # previous pass is not charged to whichever query runs first
        gc.collect()
        self.sc._jvm.System.gc()
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        samples = []
        cpu0 = cpu_s(self.jvm_pid)
        t_pass = time.perf_counter()
        for name in order:
            s = {"pass": idx, "query": name, "traced": traced, "ok": False}
            try:
                self.sc.setJobGroup(f"pb{idx}:{name}:b", name)
                if tracer is not None:
                    tracer.counting = True
                c0, t0 = cpu_s(self.jvm_pid), time.perf_counter()
                df = self.queries[name](self.spark, self.data_dir)
                t1, c1 = time.perf_counter(), cpu_s(self.jvm_pid)
                if tracer is not None:
                    tracer.counting = False
                    for k, v in layers.catalyst_phases(df).items():
                        phases[k] += v
                self.sc.setJobGroup(f"pb{idx}:{name}:a", name)
                c2, t2 = cpu_s(self.jvm_pid), time.perf_counter()
                df.write.mode("overwrite").format("noop").save()
                t3, c3 = time.perf_counter(), cpu_s(self.jvm_pid)
                s.update(ok=True, build_s=t1 - t0, action_s=t3 - t2,
                         build_cpu_s=c1 - c0, action_cpu_s=c3 - c2)
            except Exception as exc:  # noqa: BLE001 - counted in failed_frac
                s["error"] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"perfbench: {name} failed: {s['error']}", file=sys.stderr)
            finally:
                if tracer is not None:
                    tracer.counting = False
            samples.append(s)
        wall = time.perf_counter() - t_pass
        cpu = cpu_s(self.jvm_pid) - cpu0
        if tracer is not None:
            tracer.uninstall()
        self.sc.setJobGroup("", "")
        tracker = self.sc.statusTracker()
        for s in samples:
            s["build_jobs"] = len(tracker.getJobIdsForGroup(f"pb{idx}:{s['query']}:b"))
            s["action_jobs"] = len(tracker.getJobIdsForGroup(f"pb{idx}:{s['query']}:a"))
        rec = {"pass": idx, "traced": traced, "wall_s": wall, "cpu_s": cpu, "phases": phases}
        if tracer is not None:
            rec["layers"] = self._layers(idx, samples, wall, phases)
        clean_tmp(self.tmp)
        self.samples.extend(samples)
        self.passes.append(rec)
        return rec

    def _layers(self, idx, samples, wall, phases) -> dict:
        import layers

        tracer = self.tracer
        jobs, stages = layers.status_snapshot(self.sc)
        prefix = f"pb{idx}:"
        mine = [j for j in jobs if (j.get("jobGroup") or "").startswith(prefix)]
        out: dict[str, float] = {}
        for layer in layers.SPAN_LAYERS:
            out[f"{layer}.calls"] = 0
            out[f"{layer}.self_s"] = 0.0
            out[f"{layer}.jobs"] = 0
        out["sources.calls"] = 0
        out["sources.load_s"] = 0.0
        for layer, start, end, self_s in tracer.spans:
            if layer == "sources":
                out["sources.calls"] += 1
                out["sources.load_s"] += end - start
            else:
                out[f"{layer}.calls"] += 1
                out[f"{layer}.self_s"] += self_s
        ok = [s for s in samples if s["ok"]]
        out["queries.build_s"] = sum(s["build_s"] for s in ok)
        out["queries.self_s"] = out["queries.build_s"] - tracer.top_s
        out["queries.build_jobs"] = sum(s["build_jobs"] for s in samples)
        out["queries.action_jobs"] = sum(s["action_jobs"] for s in samples)
        for job in mine:
            if not job["jobGroup"].endswith(":b"):
                continue
            iv = layers.job_interval(job)
            layer = layers.innermost_layer(tracer, iv[0]) if iv else None
            if layer is not None and layer != "sources":
                out[f"{layer}.jobs"] += 1
        out["py4j.calls"] = tracer.py4j_calls
        out["py4j.s"] = tracer.py4j_s
        for k, v in phases.items():
            out[f"catalyst.{k}_s"] = v
        stage_ids = {sid for j in mine for sid in j.get("stageIds", [])}
        ran = [stages[sid] for sid in stage_ids
               if sid in stages and stages[sid].get("status") == "COMPLETE"]
        intervals = [iv for iv in map(layers.job_interval, mine) if iv]
        busy = layers.union_length(intervals)
        gap = 0.0
        for s in ok:
            group = f"{prefix}{s['query']}:"
            q_iv = [layers.job_interval(j) for j in mine if j["jobGroup"].startswith(group)]
            gap += (s["build_s"] + s["action_s"]) - layers.union_length([iv for iv in q_iv if iv])
        exec_cpu_s = sum(st.get("executorCpuTime", 0) for st in ran) / 1e9
        out.update({
            "spark.jobs": len(mine),
            "spark.stages": len(ran),
            "spark.stages_skipped": sum(j.get("numSkippedStages", 0) for j in mine),
            "spark.tasks": sum(st.get("numCompleteTasks", 0) for st in ran),
            "spark.job_busy_s": busy,
            "spark.driver_gap_s": gap,
            "spark.executor_run_s": sum(st.get("executorRunTime", 0) for st in ran) / 1000.0,
            "spark.executor_cpu_s": exec_cpu_s,
            "spark.shuffle_read_bytes": sum(st.get("shuffleReadBytes", 0) for st in ran),
            "spark.shuffle_write_bytes": sum(st.get("shuffleWriteBytes", 0) for st in ran),
            "spark.spill_bytes": sum(st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                                     for st in ran),
            "spark.input_bytes": sum(st.get("inputBytes", 0) for st in ran),
            "spark.core_utilization": exec_cpu_s / (wall * self.sc.defaultParallelism),
        })
        return out


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (``numpy.percentile``'s default)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latency(bench: Passes) -> dict:
    """Wall-clock figures of the untraced passes, in seconds."""
    passes = [p for p in bench.passes if not p["traced"]]
    ok = [s for s in bench.samples if s["ok"] and not s["traced"]]
    q = [s["build_s"] + s["action_s"] for s in ok]
    return {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "build_s": per_pass(passes, ok, "build_s"),
        "action_s": per_pass(passes, ok, "action_s"),
        "query_s.p50": percentile(q, 50),
        "query_s.p90": percentile(q, 90),
    }


def per_pass(passes, samples, key) -> float:
    """Median over passes of the pass's total ``key``."""
    return statistics.median(
        sum(s[key] for s in samples if s["pass"] == p["pass"]) for p in passes)


def end_to_end(bench: Passes, setup_rec: dict) -> dict:
    """CPU seconds of the process tree (this process, the JVM and its Python
    workers): on a shared host they stay put while wall time follows the
    CPU the hypervisor hands to other guests."""
    ok = [s for s in bench.samples if s["ok"]]
    return {
        "setup_s": (setup_rec["setup_s"], "s"),
        "pass_cpu_s": (statistics.median(p["cpu_s"] for p in bench.passes), "s"),
        "build_cpu_s": (per_pass(bench.passes, ok, "build_cpu_s"), "s"),
        "action_cpu_s": (per_pass(bench.passes, ok, "action_cpu_s"), "s"),
        "query_cpu_s.p90": (percentile([s["build_cpu_s"] + s["action_cpu_s"] for s in ok], 90),
                            "s"),
    }


def per_layer(bench: Passes) -> dict:
    traced = [p for p in bench.passes if p["traced"]]
    plain = [p for p in bench.passes if not p["traced"]]
    out = {}
    for key in traced[0]["layers"]:
        out[key] = statistics.fmean(p["layers"][key] for p in traced)
    t_pass = statistics.median(p["wall_s"] for p in traced)
    u_pass = statistics.fmean(p["wall_s"] for p in plain)
    jobs = {}
    for s in bench.samples:
        jobs.setdefault((s["query"], s["traced"]), set()).add(s["build_jobs"] + s["action_jobs"])
    mismatch = sum(1 for name in bench.names
                   if jobs.get((name, True)) != jobs.get((name, False)))
    out.update({f"latency.{k}": v for k, v in latency(bench).items()})
    out.update({
        "process.cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "process.peak_rss_mb": bench.peak_rss_mb,
        "trace.pass_s": t_pass,
        "trace.untraced_pass_s": u_pass,
        "trace.overhead_s": t_pass - u_pass,
        "trace.jobs_mismatch": mismatch,
    })
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="kioss_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default=SIZE)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("__spark_entry__.py", os.path.join("kioss_spark", "__init__.py")):
        if not os.path.isfile(os.path.join(root, need)):
            fail(f"{need} not found in {root}: run from the root of a kioss_spark checkout")
    sys.path.insert(0, root)
    host = host_sizing()
    dirs = prepare_dirs(root)
    names = list(WORKLOADS[args.workload])
    spark = None
    try:
        t0 = time.perf_counter()
        data_dir = gen.ensure(dirs["work"], args.seed, args.size)
        gen_s = time.perf_counter() - t0
        spark, entry, setup_rec = setup(host, dirs)
        import kioss_spark

        if not os.path.abspath(kioss_spark.__file__).startswith(root + os.sep):
            fail(f"kioss_spark imported from {kioss_spark.__file__}, not from {root}")
        from kioss_spark.sources import TABLES

        t0 = time.perf_counter()
        mismatches, check_errors = check_pass(spark, entry, names, data_dir, TABLES)
        check_s = time.perf_counter() - t0
        clean_tmp(dirs["tmp"])

        bench = Passes(spark, entry, names, data_dir, args.seed, dirs["tmp"])
        if args.trace:
            import layers

            bench.tracer = layers.Tracer(spark.sparkContext._gateway._gateway_client)
        # a fixed pass count per (workload, seconds): the passes fill about
        # --seconds, and every run of a workload measures the same warm-up
        # stages of the JVM
        n_passes = max(1, round(args.seconds / PASS_S[args.workload]))
        if args.trace:
            # untraced/traced/untraced: the traced pass is compared with the
            # mean of its neighbours, so steady warm-up drift cancels out of
            # the tracing overhead
            n_passes = 3
        steal0, total0 = steal_ticks()
        for i in range(n_passes):
            bench.run_pass(traced=bool(args.trace) and i == 1)
            if time.perf_counter() - T_START > RUN_BUDGET_S:
                break
        steal1, total1 = steal_ticks()
        host["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        bench.peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(bench.jvm_pid)
        ok = [s for s in bench.samples if s["ok"]]
        if not ok:
            fail("every timed query execution failed")
        failed = len(bench.samples) - len(ok) + len(check_errors)
        attempted = len(bench.samples) + len(names)
        if args.trace:
            metrics = {k: (v, unit(k)) for k, v in per_layer(bench).items()}
        else:
            metrics = end_to_end(bench, setup_rec)
        record = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "trace": args.trace, "host": host, "gen_s": gen_s, "setup": setup_rec,
            "check_s": check_s, "elapsed_s": time.perf_counter() - T_START,
            "oracle_mismatch": len(mismatches) + len(check_errors),
            "mismatches": mismatches, "check_errors": check_errors,
            "failed_frac": failed / attempted, "attempted": attempted, "failed": failed,
            "n_query_samples": len(ok), "peak_rss_mb": bench.peak_rss_mb,
            "latency": latency(bench),
            "passes": bench.passes, "samples": bench.samples,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(dirs["out"], name), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(dirs["run"], ignore_errors=True)

    summary = (f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
               f"{len(bench.passes)} passes, n={len(ok)} query samples, "
               f"oracle_mismatch={record['oracle_mismatch']} "
               f"failed_frac={record['failed_frac']:.4f} "
               f"load1/cpu={host['load1_per_cpu']:.2f} load5/cpu={host['load5_per_cpu']:.2f} "
               f"load15/cpu={host['load15_per_cpu']:.2f} steal={host['steal_frac']:.2f}")
    print(summary, file=sys.stderr)
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.6g} {u}", file=sys.stderr)
    if not args.trace:
        for k, v in record["latency"].items():
            print(f"  latency.{k} = {v:.6g} s (unbounded)", file=sys.stderr)
    for k, why in {**mismatches, **check_errors}.items():
        print(f"  MISMATCH {k}: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": record["oracle_mismatch"] == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_bytes"):
        return "bytes"
    if last == "core_utilization":
        return "ratio"
    if last == "peak_rss_mb":
        return "MB"
    if last == "s" or last.endswith("_s") or name.startswith("latency."):
        return "s"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
