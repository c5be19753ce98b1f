"""sparkextract benchmark: one workload per run, closed loop, one client.

Usage (from the repository root):

  python3 perfbench/run.py --workload extract_uniform --seed 1 --seconds 26 --trace 0

The run sets up ``SETUPS`` times (session start, input generation from the
seed, one warm-up job whose output is checked), then submits one job at a
time to ``local[4]`` for ``--seconds`` (at least ``MIN_JOBS`` jobs). A job is
the workload's DataFrame build plus a noop-sink write; its timer covers
both. Every job's order-independent output digest must equal the checked
warm-up job's.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` splits the time
between an untraced half and a half with Spark's event log on, replays the
workload's own input through the turn kernel in process, and prints the
per-layer metrics. The last stdout line is the JSON result; the full
record (host facts, per-job times, folded event-log rows) is written to
``.bench_build/perfbench/results/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

MASTER = "local[4]"
SETUPS = 3  # set-ups per run; setup_s is their median
MIN_JOBS = 3  # timed jobs per measuring phase, even past --seconds
REQUIRED = ("sparkextract/fused.py", "__spark_entry__.py", "tests/oracle.py")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# --------------------------------------------------------------------------
# process-tree memory


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of every descendant of ``root`` (the driver JVM and
    the Python workers it forks), read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak of ``_tree_rss_kb(this process)`` while active."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# session and jobs


def start_session(work: str, eventlog: str | None = None):
    from sparkextract.session import build_session

    extra = {
        "spark.driver.memory": "2g",
        # a fully committed heap keeps the JVM's share of peak_rss_mb fixed
        # instead of following G1's run-to-run heap sizing
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(app="sparkextract-perfbench", master=MASTER, extra=extra)


def stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_job(spark, wl, collect: bool = False) -> dict:
    """Build the workload's DataFrame and run it with an in-flight
    order-independent digest (row count, XOR and sum of row hashes)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    t0 = time.perf_counter()
    df = wl.build(spark)
    t1 = time.perf_counter()
    h = F.xxhash64(*df.columns)
    df = df.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(2**31 - 1))).alias("sum"),
    )
    if collect:
        rows = wl.check_view(df).collect()
    else:
        rows = df.write.mode("overwrite").format("noop").save()
    t2 = time.perf_counter()
    return {"s": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1,
            "digest": dict(obs.get), "rows": rows}


def set_up(wl, work: str, spark=None) -> tuple:
    """Session start, input generation and one warm-up job (collected, so
    its output can be checked). With ``spark`` given, the new session
    shares its SparkContext, so only the first set-up launches the JVM."""
    t0 = time.perf_counter()
    spark = start_session(work) if spark is None else spark.newSession()
    t1 = time.perf_counter()
    wl.generate(spark)
    t2 = time.perf_counter()
    warm = run_job(spark, wl, collect=True)
    t3 = time.perf_counter()
    times = {"session.start_s": t1 - t0, "input.gen_s": t2 - t1, "warmup_s": t3 - t2}
    return spark, times, warm


def timed_loop(spark, wl, seconds: float, ref: dict, label: str | None = None) -> dict:
    """Closed loop, one job in flight, for ``MIN_JOBS`` jobs and then for
    as long as the next job, taking as long as the last one, still ends
    within ``seconds``."""
    jobs, errors = [], []
    start = time.perf_counter()
    last_s = 0.0  # the last job's time, which the next one is expected to take
    while (len(jobs) + len(errors) < MIN_JOBS
           or time.perf_counter() - start + last_s <= seconds):
        t0 = time.perf_counter()
        if label:
            spark.sparkContext.setJobDescription(f"{label} rep{len(jobs) + len(errors)}")
        try:
            with RssSampler() as rss:
                job = run_job(spark, wl)
        except Exception as e:  # a failed job is counted, not fatal
            errors.append(repr(e)[:500])
            continue
        finally:
            spark.sparkContext.setJobDescription(None)
            last_s = time.perf_counter() - t0
        job.pop("rows")
        job["peak_rss_mb"] = rss.peak_kb / 1024
        job["ok"] = job["digest"] == ref
        jobs.append(job)
    return {"jobs": jobs, "errors": errors,
            "attempted": len(jobs) + len(errors),
            "failed": len(errors) + sum(not j["ok"] for j in jobs)}


def _median(jobs: list[dict], key: str = "s") -> float:
    return statistics.median(j[key] for j in jobs)


# --------------------------------------------------------------------------
# per-layer metrics


def stage_metrics(fold: dict, label: str, wl) -> dict:
    """Median over the traced reps of the job-level and fused-stage rows."""
    reps = sorted(d for d in fold["jobs"] if d.startswith(label + " rep"))
    per_rep = []
    for desc in reps:
        j = fold["jobs"][desc]
        stages = [s for s in fold["stages"] if s["desc"] == desc]
        m = {
            "job.executor_cpu_s": j["cpu_s"], "job.executor_run_s": j["run_s"],
            "job.gc_s": j["gc_s"], "job.spill_bytes": j["spill_bytes"],
            "job.shuffle_write_bytes": j["shuffle_write_bytes"],
            "job.result_bytes": j["result_bytes"], "job.stages": j["stages"],
            "job.tasks": j["tasks"], "job.max_stage_skew": j["max_stage_skew"],
            "job.exchanges": j["exchanges"], "corpus.spark_jobs": j["spark_jobs"],
        }
        maps = [s for s in stages if s["kind"] == "map"]
        wins = [s for s in stages if s["kind"] == "window"]
        if hasattr(wl, "replay_batches") and maps and wins:
            mp, wn = maps[-1], wins[-1]
            m.update({
                "fused.udf_rows_ratio": sum(s["filter_rows"] for s in stages) / wl.n_rows,
                "fused.map.wall_s": mp["wall_s"],
                "fused.map.python_s": mp["python_run_s"],
                "fused.map.to_python_bytes": mp["to_python_bytes"],
                "fused.map.from_python_bytes": mp["from_python_bytes"],
                "fused.map.task_skew": mp["task_skew"],
                "fused.map.task_s": mp["task_s"],
                "fused.map.out_rows": mp["shuffle_write_records"],
                "fused.exchange.shuffle_bytes": mp["shuffle_write_bytes"],
                "fused.window.wall_s": wn["wall_s"],
                "fused.window.task_skew": wn["task_skew"],
                "fused.window.max_task_share": wn["max_task_share"],
            })
        per_rep.append(m)
    if not per_rep:
        return {}
    return {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}


def traced_run(wl, work: str, seconds: float, ref: dict) -> tuple[dict, dict]:
    """Event-logged session: warm-up, traced timed loop, fold; then the
    in-process kernel replay (extraction workloads)."""
    from layers import fold_eventlog, replay

    eventlog = os.path.join(work, "eventlog")
    spark = start_session(work, eventlog)
    try:
        run_job(spark, wl)
        traced = timed_loop(spark, wl, seconds, ref, label="traced")
    finally:
        spark.stop()
    (log,) = os.listdir(eventlog)
    fold = fold_eventlog(os.path.join(eventlog, log))
    metrics = stage_metrics(fold, "traced", wl)
    if hasattr(wl, "replay_batches"):
        metrics.pop("corpus.spark_jobs", None)
        metrics.update(replay(wl.replay_batches()))
        kernel_s = metrics.pop("fused.map.out_rows") / metrics["fused.turns_per_s_core"]
        metrics["fused.map.kernel_share"] = kernel_s / metrics.pop("fused.map.task_s")
    else:
        metrics.update({
            "corpus.build_s": _median(traced["jobs"], "build_s"),
            "corpus.action_s": _median(traced["jobs"], "action_s"),
        })
    return traced, {"metrics": metrics, "eventlog": fold}


# --------------------------------------------------------------------------


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [root, os.path.join(root, "tests")]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # keep JVM temp files (and hsperfdata) inside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )

    wl = WORKLOADS[args.workload](args.seed, work)
    record: dict = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "host": host_facts()}
    try:
        setups, problems, spark = [], [], None
        for i in range(SETUPS):
            spark, times, warm = set_up(wl, work, spark)
            setups.append(times)
            if i == 0:
                ref = warm["digest"]
                problems = wl.check(warm["rows"])  # oracle work, outside all timers
            elif warm["digest"] != ref:
                problems.append(f"set-up {i} digest {warm['digest']} != {ref}")
        if hasattr(wl, "hot_share"):
            record["hot_conv_share"] = wl.hot_share()
        phase = args.seconds / 2 if args.trace else args.seconds
        loop = timed_loop(spark, wl, phase, ref)
        spark.stop()
        traced, layer = {"jobs": [], "errors": [], "attempted": 0, "failed": 0}, {}
        if args.trace and loop["jobs"]:
            traced, layer = traced_run(wl, work, phase, ref)
            layer["metrics"]["trace.overhead_ratio"] = (
                _median(traced["jobs"]) / _median(loop["jobs"])
            )
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if not loop["jobs"]:
        print("perfbench: every timed job raised:", *loop["errors"][:3], sep="\n", file=sys.stderr)
        return 1

    attempted = loop["attempted"] + traced["attempted"]
    failed = attempted if problems else loop["failed"] + traced["failed"]
    job_s = _median(loop["jobs"])
    e2e = {
        "job_s": job_s,
        "rows_per_s": wl.n_rows / job_s,
        "setup_s": statistics.median(sum(t.values()) for t in setups),
        "peak_rss_mb": _median(loop["jobs"], "peak_rss_mb"),
    }
    per_layer = {k: statistics.median(t[k] for t in setups) for k in setups[0]}
    per_layer.update(layer.get("metrics", {}))
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}

    record.update({
        "input_rows": wl.n_rows, "problems": problems, "setups": setups,
        "jobs": loop["jobs"], "traced_jobs": traced["jobs"],
        "errors": loop["errors"] + traced["errors"],
        "end_to_end": e2e, "per_layer": per_layer,
        "not_applicable": sorted(m["name"] for m in names if m["name"] not in values),
        "eventlog": layer.get("eventlog"),
    })
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    with open(os.path.join(out_dir, "results",
                           f"{wl.name}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    h = record["host"]
    print(f"host: nproc={h['nproc']} master={h['master']} pyspark={h['pyspark']} "
          f"python={h['python']}")
    print(f"{wl.name} seed={args.seed} input={wl.n_rows} rows  "
          f"job_s {job_s:.3f} s | {wl.rate_name} {wl.n_rows / job_s:.1f} {wl.rate_unit} | "
          f"setup_s {e2e['setup_s']:.3f} s | peak_rss_mb {e2e['peak_rss_mb']:.1f} MB | "
          f"fail_ratio {failed / attempted:.3f} ({failed}/{attempted})")
    for p in problems[:10]:
        print("check failed:", p)
    if args.trace:
        for name, m in metrics.items():
            print(f"  {name:36s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
