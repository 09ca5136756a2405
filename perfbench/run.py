"""kml2geojson_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload tiles_synth --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the repository root. Builds the workload's seeded corpus under
``.perfbench_work/`` (untimed, reused per seed), starts Spark on
``local[N]`` (N = min(4, usable CPUs)), measures set-up (JVM launch,
session and the first, cold op), runs the timed op for ``--seconds``, checks every op's output and prints
a report followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` enables Spark's event log and the in-process layer trace
and reports the per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
JOB_PREFIX = "perfbench op "


# ---------------------------------------------------------------------------
# Host context
# ---------------------------------------------------------------------------

def slots() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def steal_s() -> float:
    """CPU time the hypervisor gave to others, all CPUs (/proc/stat)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             capture_output=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def proc_tree(pid: int) -> dict[int, tuple[str, float, int]]:
    """pid → (command, CPU seconds of all its threads, run-queue wait ns
    of its main thread) for ``pid`` and all its descendants, from
    /proc/<pid>/stat and /proc/<pid>/schedstat."""
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, float]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        fields = tail.split()
        info[int(d)] = (head.split("(", 1)[1], (int(fields[11]) + int(fields[12])) / tick)
        children.setdefault(int(fields[1]), []).append(int(d))
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        try:
            delay = int(Path(f"/proc/{p}/schedstat").read_text().split()[1])
        except (OSError, ValueError, IndexError):
            delay = 0
        if p in info:
            out[p] = (info[p][0], info[p][1], delay)
        todo.extend(children.get(p, ()))
    return out


def proc_delta(before: dict, after: dict) -> dict:
    """CPU and run-queue seconds used between two :func:`proc_tree`
    snapshots, split into the JVM and its Python processes."""
    out = {"python_cpu_s": 0.0, "python_runqueue_s": 0.0, "jvm_cpu_s": 0.0}
    for p, (name, cpu, delay) in after.items():
        _, cpu0, delay0 = before.get(p, (name, 0, 0))
        if name.startswith("python"):
            out["python_cpu_s"] += cpu - cpu0
            out["python_runqueue_s"] += (delay - delay0) / 1e9
        elif name == "java":
            out["jvm_cpu_s"] += cpu - cpu0
    return out


class RssSampler:
    """Peak summed RSS of a process and all its descendants (the Spark
    JVM and its Python daemon and workers), sampled from /proc."""

    def __init__(self, pid: int, period: float = 0.05):
        self.pid, self.period = pid, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            try:
                total += int(Path(f"/proc/{p}/statm").read_text().split()[1]) * self._page
            except OSError:
                pass
            todo.extend(children.get(p, ()))
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.period)

    def take_peak(self) -> int:
        """The peak since the last call, then start a new one."""
        peak = max(self.peak, self._tree_rss())
        self.peak = 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------

def spark_conf(work: Path, n: int, event_log: Path | None) -> dict:
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.sql.shuffle.partitions": str(max(2 * n, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a pre-touched, fixed-size heap: peak RSS then follows the Python
        # workers and the JVM's non-heap memory, not the timing of GC
        # heap growth and shrinking (which moved it by ~20% run to run)
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}",
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# One run
# ---------------------------------------------------------------------------

def run(bench: dict, workload: str, seed: int, seconds: float, trace: bool) -> dict:
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import corpus
    from workloads import WORKLOADS

    cls, kind, files, per_file, slice_docs, extra = WORKLOADS[workload]
    n = slots()
    work = ROOT / ".perfbench_work"
    for d in ("tmp", "spark-local", "results"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    load_before = loadavg()
    phases = {"start": time.perf_counter()}
    corpus_dir = work / "corpus" / f"{kind}-s{seed}-{files}x{per_file}"
    meta = corpus.build(corpus_dir, kind, seed, docs=files * per_file, files=files,
                        procs=n, slice_docs=slice_docs, **extra)
    corpus.prune(corpus_dir.parent, keep=6)

    event_log = None
    if trace:
        event_log = work / "eventlog" / f"{workload}-{seed}-{os.getpid()}"
        event_log.mkdir(parents=True, exist_ok=True)
    phases["corpus"] = time.perf_counter()
    conf = spark_conf(work, n, event_log)
    op_work = work / f"op-{os.getpid()}"

    # -- set-up: import, JVM launch, session, first (cold) op ---------------
    t0 = time.perf_counter()
    spark = start_session(conf)
    wl = cls(spark, corpus_dir, meta, op_work)
    spark.sparkContext.setJobDescription("perfbench setup")
    first = wl.op(0)
    setup_s = time.perf_counter() - t0
    wl.check_op(first)
    phases["setup"] = time.perf_counter()
    # the once-per-run slice checks run before the timed ops, where they
    # also carry the JVM further through its warm-up
    spark.sparkContext.setJobDescription("perfbench check")
    run_ok = wl.check_run()
    phases["checks"] = time.perf_counter()

    # -- timed ops ------------------------------------------------------------
    from pyspark import SparkContext

    import contextlib
    import tracing

    spans = tracing.DriverSpans()
    walls, results, failed, procs, peaks = [], [], 0, {}, []
    jvm_pid = SparkContext._gateway.proc.pid
    # one untimed warm-up op: the JVM is still compiling after the cold op
    wl.check_op(wl.op(-1))
    with RssSampler(jvm_pid) as rss, \
            (spans.installed() if trace else contextlib.nullcontext()):
        start, steal0 = time.perf_counter(), steal_s()
        k = 1
        while k <= 3 or time.perf_counter() - start < seconds:
            spark.sparkContext.setJobDescription(f"{JOB_PREFIX}{k}")
            spans.op = k
            before = proc_tree(jvm_pid) if trace else None
            rss.take_peak()
            t = time.perf_counter()
            try:
                res = wl.op(k)
            except Exception as exc:  # a failed op is counted, not fatal
                print(f"op {k} raised {type(exc).__name__}: {exc}", file=sys.stderr)
                res = None
            wall = time.perf_counter() - t
            peak = rss.take_peak()
            if trace:
                procs[k] = proc_delta(before, proc_tree(jvm_pid))
            spans.op = None
            spark.sparkContext.setJobDescription(None)
            if res is None or not wl.check_op(res):
                failed += 1
            else:
                walls.append((k, wall))
                results.append(res)
                peaks.append(peak)
            k += 1
    attempted = k - 1
    phases["timed"] = time.perf_counter()
    steal = steal_s() - steal0
    spark.sparkContext.setJobDescription("perfbench probe")
    probe = wl.poison_probe() if kind == "mixed" else None
    spark_conf_in_effect = dict(spark.sparkContext.getConf().getAll())

    prof = None
    if trace:
        kernel = {"tiles_mixed": "tiles", "convert_write": "convert"}.get(workload)
        if kernel:
            try:
                prof = tracing.profile(kernel, sorted((corpus_dir / "data").glob("*.parquet"))[:4],
                                       getattr(wl, "res", 8))
            except AttributeError as exc:  # kernel renamed: report no split
                print(f"in-process trace unavailable: {exc}", file=sys.stderr)
    phases["probe_trace"] = time.perf_counter()
    stop_jvm(spark)
    phases["stop"] = time.perf_counter()
    load_after = loadavg()

    median_wall = statistics.median(w for _, w in walls) if walls else float("inf")
    out_bytes = wl.out_bytes(results[0]) if results else 0
    n_fail_total = failed + (1 if probe and probe["failed"] else 0)
    n_attempt_total = attempted + (1 if probe else 0)
    summary = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "slots": n, "nproc": os.cpu_count(), "usable_cpus": len(os.sched_getaffinity(0)),
        "loadavg_before": load_before, "loadavg_after": load_after,
        "steal_s_during_timed_ops": steal,
        "git_sha": git_sha(), "spark_conf": spark_conf_in_effect,
        "corpus": meta, "setup_s": setup_s, "op_walls_s": [w for _, w in walls],
        "attempted": attempted, "failed": failed, "run_checks_ok": run_ok,
        "output": wl.first, "poison_probe": probe, "notes": wl.notes,
        "phase_s": {b: phases[b] - phases[a] for a, b in zip(phases, list(phases)[1:])},
        "ops_failed_ratio": n_fail_total / n_attempt_total,
    }
    correct = bool(run_ok and walls and failed == 0)
    if not trace:
        metrics = {
            "docs_per_s": (meta["docs"] / median_wall, "1/s"),
            "points_per_s": (meta["points"] / median_wall, "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (statistics.median(peaks) / 2**20 if peaks else 0.0, "MB"),
            "out_bytes_per_in_byte": (out_bytes / meta["in_bytes"], "ratio"),
        }
        samples = {"docs_per_s": len(walls), "points_per_s": len(walls),
                   "setup_s": 1, "peak_rss_mb": len(peaks),
                   "out_bytes_per_in_byte": len(results)}
    else:
        metrics, samples = layer_metrics(bench["per_layer"], event_log, walls, results,
                                         spans, procs, meta, prof, n, summary)
    summary["metrics"] = {k: v[0] for k, v in metrics.items()}
    (work / "results" / f"{workload}-s{seed}-t{int(trace)}.json").write_text(
        json.dumps(summary, indent=1, default=str))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "samples": samples, "summary": summary}


def layer_metrics(per_layer, event_log, walls, results, spans, procs, meta, prof, n,
                  summary):
    """Per-layer metrics of the traced run (median over timed ops).

    The op wall is driver time + idle task slots + task overhead +
    executor run time, task times divided over the ``n`` slots (event
    log). Executor run time is split into the JVM task threads' CPU
    (event log), the Python workers' CPU (/proc) — itself split into the
    engine kernel's layers (in-process trace, scaled to the op) and the
    rest — and the workers' run-queue wait (/proc); what is left is
    ``unattributed_s``."""
    import eventlog
    import tracing

    ops = eventlog.read_ops(eventlog.find_log(event_log), JOB_PREFIX)
    kernel = tracing.scaled_layers(prof, meta["docs"], n) if prof else {}
    kernel_s = sum(v for name, v in kernel.items() if name.endswith(".s"))
    per_op = []
    for (k, wall), res in zip(walls, results):
        acc = eventlog.op_accounting(ops[f"{JOB_PREFIX}{k}"], wall, n)
        acc.update(kernel)
        run_stage = spans.get(k, "lineage.run_stage")
        acc["lineage.write_s"] = spans.get(k, "lineage.write")
        acc["lineage.manifest_s"] = run_stage - acc["lineage.write_s"] if run_stage else 0.0
        acc["lineage.bytes_written"] = res["bytes"] if isinstance(res, dict) else 0
        acc["spatial.ops.pip_join.s"] = spans.get(k, "spatial.ops.pip_join")
        pr = procs[k]
        acc["spark.python_worker_other_cpu_s"] = pr["python_cpu_s"] / n - kernel_s
        acc["spark.python_runqueue_s"] = pr["python_runqueue_s"] / n
        acc["spark.jvm_process_cpu_s"] = pr["jvm_cpu_s"] / n
        acc["unattributed_s"] = (acc["spark.executor_run_s"] - acc["spark.executor_cpu_s"]
                                 - pr["python_cpu_s"] / n - acc["spark.python_runqueue_s"])
        acc["unattributed_share"] = acc["unattributed_s"] / wall
        acc["trace.op_wall_s"] = wall
        per_op.append(acc)
    metrics = {}
    for name in per_op[0]:
        metrics[name] = statistics.median(a[name] for a in per_op)
    metrics["trace.overhead_ratio"] = (
        prof["traced_cpu_s"] / prof["plain_cpu_s"] - 1 if prof else 0.0)
    metrics["ops_failed_ratio"] = summary["ops_failed_ratio"]
    if prof:
        summary["inprocess_trace"] = tracing.dump(prof)
    out, samples = {}, {}
    for m in per_layer:
        out[m["name"]] = (float(metrics.get(m["name"], 0.0)), m["unit"])
        samples[m["name"]] = len(per_op)
    summary["layers_all"] = metrics
    return out, samples


def report(result: dict) -> None:
    s = result["summary"]
    print(f"workload {s['workload']} seed {s['seed']} trace {int(s['trace'])}: "
          f"{s['corpus']['docs']} docs, {s['corpus']['points']} points, "
          f"{s['slots']} slots, load {s['loadavg_before']} -> {s['loadavg_after']}")
    if "lanes" in s["corpus"]:
        lanes = s["corpus"]["lanes"]
        tot = sum(lanes.values()) or 1
        print("  corpus lanes: " + ", ".join(f"{k} {v / tot:.1%}" for k, v in lanes.items()))
    if s["poison_probe"]:
        print(f"  poison probe: job failed={s['poison_probe']['failed']} "
              f"({s['poison_probe']['error']})")
    probe = " incl. the poison probe" if s["poison_probe"] else ""
    print(f"  ops {result['attempted']} attempted, {result['failed']} failed; "
          f"ops_failed_ratio {s['ops_failed_ratio']:.4f}{probe}; "
          f"checks {'ok' if result['correct'] else 'FAILED'}; output {s['output']}")
    for name, (value, unit) in result["metrics"].items():
        print(f"  {name:45s} {value:>16.6g} {unit:8s} n={result['samples'][name]}")


def run_all(bench: dict, seed: int, seconds: float) -> int:
    ok = True
    for name in (w["name"] for w in bench["workloads"]):
        out = subprocess.run([sys.executable, str(Path(__file__)), "--workload", name,
                              "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], cwd=ROOT, text=True, capture_output=True)
        lines = out.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        ok = ok and out.returncode == 0
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not ((ROOT / "kml2geojson_spark" / "__init__.py").is_file()
            and (ROOT / "BENCHMARK.json").is_file()):
        print("run from the repository root: kml2geojson_spark/ and BENCHMARK.json "
              "must be in the working directory", file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload == "all":
        return run_all(bench, args.seed, args.seconds)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    result = run(bench, args.workload, args.seed, args.seconds, bool(args.trace))
    report(result)
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
