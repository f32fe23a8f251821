"""Benchmark of the production dedup path, `DedupePipeline.run`.

Usage (from the repository root):

  python3 perfbench/run.py --workload crawl-batch --seed 1 --seconds 30 --trace 0
  python3 perfbench/run.py --workload templated-skew --seed 1 --seconds 30 --trace 1
  python3 perfbench/run.py --scaling --seed 1

One process, one local[cores] session sized to the host. A run:

1. builds its input from the seed (cached on disk, see corpora.py);
2. starts the session cold, as a user's run does; setup_s is that start
   (the JVM launch and session creation). There is no warm-up: first-use
   costs (Python worker start, code generation) fall in the pipeline run, as
   they do for a user;
3. runs the pipeline into a fresh output directory for as many whole runs
   as fit in --seconds (at least one), each followed by a resume run over
   the completed output, and checks every run's output;
4. prints the end-to-end metrics (--trace 0) or, with the Spark event log
   on, the per-layer table (--trace 1). The last stdout line is one JSON
   object: correct, attempted, failed, metrics.

--scaling runs crawl-batch at local[cores/2] and local[cores] in two child
processes and prints the scaling efficiency; it is not a workload.
Everything the benchmark writes goes under perfbench/_work.
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
import traceback

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

# n_docs: input size; cfg: DedupeConfig overrides; cc_driver_edges: the
# SPARK_GRAFT_CC_DRIVER_EDGES value the run's process sees (None = default).
# The sizes keep one whole run (input, set-up, one pipeline run, resume,
# checks) near 60 s on a 4-core host, so the 48 runs of the full schedule fit
# in 57 minutes; NOTES.md has the sizing runs. Both skip the per-partition
# lineage rows (as run_dedupe.py --no-lineage does), which cost a run about
# 8 s. templated-skew lowers the bucket cap and the CC driver-path threshold
# so the skew cap and the distributed CC loop both fire at that size;
# crawl-batch keeps every other default.
WORKLOADS = {
    "crawl-batch": {"n_docs": 2000, "cfg": {}, "cc_driver_edges": None},
    "templated-skew": {
        "n_docs": 600,
        "cfg": {"max_band_bucket": 64},
        "cc_driver_edges": 1000,
    },
}
MIN_RECALL = 0.99
MIN_PRECISION = 0.99


def host() -> dict:
    """Cores from the CPU affinity mask (what nproc prints) and a driver heap
    of a quarter of MemTotal."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "driver_memory_mb": max(1024, mem_kb // 1024 // 4),
    }


def tree_rss_mb(root: int) -> float:
    """Resident memory of the Python driver `root`, its JVM and the Python
    workers under the JVM, from /proc. Other descendants are left out: a
    command the JVM runs starts as a vfork of the JVM, which would count the
    JVM's memory twice."""
    procs: dict[int, tuple[int, str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        procs[int(name)] = (int(stat.rsplit(")", 1)[1].split()[1]), comm)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        ppid, comm = procs.get(pid, (0, ""))
        if pid != root and not comm.startswith("python") and not (
            comm == "java" and ppid == root
        ):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / (1024 * 1024)


class RssSampler:
    """Samples tree_rss_mb of this process every `interval` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def spark_conf(scratch: str, trace: bool) -> dict[str, str]:
    """Session settings that keep Spark's scratch files and event log under
    `scratch`; get_spark supplies everything else."""
    conf = {
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(scratch, "tmp")
        + " -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(scratch, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def set_up(h: dict, conf: dict) -> tuple:
    """The start-up a user pays: a cold session start (JVM launch). Returns
    the session and its seconds."""
    from fuzzy_dedupe_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=h["cores"], extra_conf=conf)
    return spark, time.perf_counter() - t0


def timed_methods(obj, names: tuple[str, ...], sink: list) -> None:
    """Shadow obj's methods with wrappers that append (name, start, end)."""
    for name in names:
        fn = getattr(obj, name)

        def wrapper(*a, _fn=fn, _name=name, **kw):
            t0 = time.time()
            try:
                return _fn(*a, **kw)
            finally:
                sink.append((_name, t0, time.time()))

        setattr(obj, name, wrapper)


def stage_rows(out_dir: str) -> list[dict]:
    """Stage-level rows of the run's metrics table, times as epoch seconds."""
    t = pq.read_table(f"{out_dir}/metrics").to_pandas()
    t = t[t.partition_id == -1]
    epoch = pd.Timestamp(0, tz="UTC")
    to_s = lambda col: (pd.to_datetime(col, utc=True) - epoch).dt.total_seconds()  # noqa: E731
    return [
        {"stage": st, "start": a, "end": b, "rows_out": r}
        for st, a, b, r in zip(t.stage, to_s(t.start_time), to_s(t.end_time), t.rows_out)
    ]


def check_run(workload: str, spec: dict, op: dict, n_docs: int) -> list[str]:
    """Output checks of one pipeline run; returns the failures."""
    errs = []
    if op["rows"] != n_docs:
        errs.append(f"clusters has {op['rows']} rows, want {n_docs}")
    if op["resume_recomputed"]:
        errs.append(f"resume recomputed {op['resume_recomputed']}")
    if op["recall"] < MIN_RECALL:
        errs.append(f"pair_recall {op['recall']:.4f} < {MIN_RECALL}")
    if op["precision"] < MIN_PRECISION:
        errs.append(f"pair_precision {op['precision']:.4f} < {MIN_PRECISION}")
    dropped = {s["stage"]: s["rows_out"] for s in op["stages"]}
    lsh_drop = dropped.get("03_lsh_pairs/dropped_hot_buckets", 0)
    sub_drop = dropped.get("04_sub_pairs/dropped_hot_buckets", 0)
    edges = dropped.get("05_edges", 0)
    if workload == "templated-skew":
        if not (lsh_drop and sub_drop):
            errs.append(f"skew cap did not fire: lsh {lsh_drop}, substring {sub_drop}")
        if edges <= spec["cc_driver_edges"]:
            errs.append(f"{edges} verified edges take the CC driver path")
    elif lsh_drop or sub_drop:
        errs.append(f"crawl mix dropped buckets: lsh {lsh_drop}, substring {sub_drop}")
    return errs


def pipeline_op(spark, inp: dict, cfg, out_dir: str, run_no: int) -> dict:
    """One DedupePipeline.run into a fresh out_dir, then one resume over it;
    the checks read the outputs with pyarrow, outside any Spark job."""
    from fuzzy_dedupe_pipeline_spark.pipeline import DedupePipeline

    from corpora import pair_scores

    shutil.rmtree(out_dir, ignore_errors=True)
    pages = spark.read.parquet(inp["pages"])
    # no per-partition lineage rows: see WORKLOADS
    pipe = DedupePipeline(spark, out_dir, cfg, run_id=f"run{run_no}", lineage=False)
    calls: list = []
    timed_methods(pipe.metrics, ("log_stage", "log_partitions", "compact"), calls)
    t0 = time.time()
    pipe.run(pages)
    t1 = time.time()
    r0 = time.perf_counter()
    again = DedupePipeline(spark, out_dir, cfg, run_id=f"run{run_no}r", lineage=False)
    again.run(pages)
    resume_s = time.perf_counter() - r0
    members = pq.read_table(f"{out_dir}/07_clusters", columns=["url", "cluster_id"]).to_pandas()
    recall, precision = pair_scores(members, inp["truth"], inp["pairs"])
    return {
        "run": (t0, t1),
        "wall_s": t1 - t0,
        "resume_s": resume_s,
        "resume_recomputed": again.recomputed,
        "rows": len(members),
        "recall": recall,
        "precision": precision,
        "stages": stage_rows(out_dir),
        "calls": calls,
        "metrics_files": sum(
            1 for n in os.listdir(f"{out_dir}/metrics") if n.endswith(".parquet")
        ),
    }


def child_result(args, workload: str, cores: int | None, timeout: float) -> dict:
    """Result line of an untraced benchmark run in a child process."""
    proc = subprocess.run(
        [sys.executable, __file__, "--workload", workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", "0"]
        + (["--cores", str(cores)] if cores else []),
        cwd=ROOT, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=timeout,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def measure(args) -> int:
    spec = WORKLOADS[args.workload]
    n_docs = spec["n_docs"]
    h = host()
    if args.cores:
        h["cores"] = args.cores
    # workers and the JVM inherit these; the CC threshold is read at import
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{h['driver_memory_mb']}m"
    if spec["cc_driver_edges"] is not None:
        os.environ["SPARK_GRAFT_CC_DRIVER_EDGES"] = str(spec["cc_driver_edges"])
    sys.path[:0] = [ROOT, HERE]

    from fuzzy_dedupe_pipeline_spark.config import DedupeConfig

    import corpora

    cfg = DedupeConfig(**spec["cfg"])
    inp = corpora.load(os.path.join(WORK, "inputs"), args.workload, args.seed, n_docs)
    print(json.dumps({"host": h, "workload": args.workload, "seed": args.seed,
                      "n_docs": n_docs, "gen_s": inp["gen_s"],
                      "oracle_s": inp["oracle_s"], "true_pairs": len(inp["pairs"])}),
          flush=True)

    scratch = os.path.join(WORK, "spark", str(os.getpid()))
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    conf = spark_conf(scratch, bool(args.trace))
    try:
        return report(args, spec, h, conf, inp, cfg, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def report(args, spec, h, conf, inp, cfg, scratch) -> int:
    import eventlog

    n_docs = spec["n_docs"]
    spark, setup = set_up(h, conf)
    print(json.dumps({"setup_s": setup}), flush=True)
    out_dir = os.path.join(scratch, "out")
    ops, failed = [], 0
    try:
        with RssSampler() as rss:
            window0 = time.perf_counter()
            while True:
                t_op = time.perf_counter()
                op = pipeline_op(spark, inp, cfg, out_dir, len(ops))
                errs = check_run(args.workload, spec, op, n_docs)
                for e in errs:
                    print(f"CHECK FAILED run {len(ops)}: {e}", flush=True)
                failed += bool(errs)
                ops.append(op)
                now = time.perf_counter()
                if now - window0 + (now - t_op) > args.seconds:
                    break
        app_id = spark.sparkContext.applicationId
    finally:
        stop_jvm(spark)  # also flushes the event log

    med = lambda k: statistics.median(op[k] for op in ops)  # noqa: E731
    if args.trace:
        jobs = eventlog.parse(os.path.join(conf["spark.eventLog.dir"], app_id))
        first = ops[0]
        layers = eventlog.layer_table(jobs, first["run"], first["stages"], first["calls"])
        layers["metrics.files"] = float(first["metrics_files"])
        layers["pipeline.resume_s"] = first["resume_s"]
        layers["pipeline.peak_rss_mb"] = rss.peak
        layers["session.launch_s"] = setup
        units = eventlog.layer_metric_units()
        print(f"{'layer metric':32s} {'value':>12s}  unit")
        for name, unit in units.items():
            print(f"{name:32s} {layers[name]:12.4f}  {unit}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        values = {
            "setup_s": (setup, "s"),
            "wall_s": (med("wall_s"), "s"),
            "docs_per_s": (statistics.median(n_docs / op["wall_s"] for op in ops), "1/s"),
            "pair_recall": (med("recall"), "ratio"),
            "pair_precision": (med("precision"), "ratio"),
        }
        for name, (v, unit) in values.items():
            print(f"{name:16s} {v:12.4f}  {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


def scaling(args) -> int:
    """crawl-batch at local[cores/2] and local[cores]; efficiency is the
    speed-up divided by the core ratio."""
    full = host()["cores"]
    walls = {}
    for cores in (max(1, full // 2), full):
        res = child_result(args, "crawl-batch", cores, timeout=600)
        walls[cores] = res["metrics"]["wall_s"]["value"]
    lo, hi = sorted(walls)
    eff = (walls[lo] / walls[hi]) / (hi / lo)
    print(json.dumps({"wall_s_by_cores": walls, "scaling_efficiency": eff}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), default="crawl-batch")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=30)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None, help="override local[N]")
    p.add_argument("--scaling", action="store_true")
    args = p.parse_args(argv)
    try:
        return scaling(args) if args.scaling else measure(args)
    except Exception:  # noqa: BLE001 — report, exit non-zero, print no result
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
