"""KG-construction benchmark: transcripts -> triples -> canonical graph rows.

  python3 perfbench/run.py --workload kg_floor --seed 1 --seconds 14 --trace 0

Run from the root of a checkout.  One process measures one workload:

  set-up   Spark session, synthetic input materialized with
           ``localCheckpoint``, goldens, then two full-size warm-up runs.
           The first one's output is the reference: its precision/recall
           against ``synth.golden_triples`` is checked and its digest
           recorded; the second must reproduce that digest.
  timed    ``run_pipeline`` repeated to fill ``--seconds``.  Each run
           ends in one aggregate over every output row and column (count and
           sums of xxhash64), so every row is produced and the run is
           verified against the warm-up digest without recomputation.
           ``wall_s`` and ``cpu_s`` are medians over the timed runs.

Steal, load average and a single-thread CPU canary are recorded with every
sample on standard error, for diagnosis only; they never correct a number.

With ``--trace 1`` the run instead measures the layers (see ``layers.py``)
and prints the per-layer metrics.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

PROCESS_START = time.time()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Why each workload exists is recorded in BENCHMARK.json.  Both run the
# fused no-catalog path on the same input, so a change to the distributed
# star contraction shows on one and not the other.  ``run_s`` is the
# nominal wall of one run on a 4-vCPU host; a process times
# ``seconds // run_s`` runs.  The count follows the arguments, not the
# clock: runs keep speeding up for several runs after the first (JIT), and
# a count that followed the clock would move the median along that curve.
WORKLOADS = {
    "kg_floor": {"convs": 6_000, "run_s": 7.0, "config": {}},
    "kg_cc_distributed": {"convs": 6_000, "run_s": 11.0,
                          "config": {"cc_driver_threshold": 0}},
}
MIN_PRECISION = MIN_RECALL = 0.95


# -- host and process-tree probes -------------------------------------------
def _tree_pids() -> list:
    """This process and every live descendant (JVM, Python daemon, workers):
    children are read from every thread, since the JVM forks from threads."""
    pids, i = [os.getpid()], 0
    while i < len(pids):
        try:
            for tid in os.listdir(f"/proc/{pids[i]}/task"):
                with open(f"/proc/{pids[i]}/task/{tid}/children") as f:
                    pids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
        i += 1
    return pids


def tree_cpu_s() -> float:
    """CPU-seconds used so far by the process tree.  Reaped children are in
    their parent's cutime/cstime, so the total only grows."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / tick


def tree_peak_rss_mb() -> float:
    """Summed VmHWM (peak resident set) of the live process tree, in MB."""
    kb = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def cpu_canary_ms() -> float:
    """Wall time of a fixed single-thread Python loop: host speed right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


def host_record() -> dict:
    return {"nproc": os.cpu_count(), "loadavg": os.getloadavg()[0],
            "steal_s": steal_s(), "canary_ms": cpu_canary_ms()}


def log(**kv) -> None:
    print(json.dumps(kv), file=sys.stderr, flush=True)


# -- Spark session ------------------------------------------------------------
def start_spark(work: str, extra_conf: dict | None = None):
    """Session with every scratch path inside ``work`` (shuffle files, JVM
    and Python temp files, warehouse) and the package importable by the
    Python workers."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    # every JVM, the launcher's too: temp files in ``work``, no
    # /tmp/hsperfdata_* performance-counter file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from information_extraction_t5_spark.session import get_spark

    conf = {
        "spark.local.dir": work,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        **(extra_conf or {}),
    }
    spark = get_spark("perfbench", cores=os.cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and wait for both to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- inputs, outputs, verification ------------------------------------------
def make_input(spark, n_convs: int, seed: int):
    """Synthetic transcripts, materialized outside every timed region."""
    from information_extraction_t5_spark.data import synth

    return synth.transcripts_df(spark, n_convs, seed=seed).localCheckpoint(
        eager=True)


def pipeline_config(workload: str):
    from information_extraction_t5_spark.pipeline import PipelineConfig

    return PipelineConfig(**WORKLOADS[workload]["config"])


def digest(df) -> tuple:
    """Order-independent digest in one aggregate job: row count, the sum of
    xxhash64(conv_id, subj, pred, obj) (comparable across paths) and the sum
    of xxhash64 over every column (references all of them, so nothing is
    pruned and every output row is produced)."""
    from pyspark.sql import functions as F

    def hsum(*cols):
        return F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
                          F.lit(0).cast("decimal(38,0)"))

    row = df.agg(
        F.count(F.lit(1)),
        hsum("conv_id", "subj", "pred", "obj"),
        hsum(*sorted(df.columns)),
    ).collect()[0]
    return int(row[0]), str(row[1]), str(row[2])


def precision_recall(out, gold: set) -> tuple:
    """Distinct (conv_id, pred, obj) of ``out`` against the golden set."""
    got = set(out.select("conv_id", "pred", "obj").distinct().toPandas()
              .itertuples(index=False, name=None))
    tp = len(got & gold)
    return tp / max(len(got), 1), tp / max(len(gold), 1)


def golden_set(n_convs: int, seed: int) -> set:
    from information_extraction_t5_spark.data import synth

    return {t for cid in synth.conv_ids(n_convs)
            for t in synth.golden_triples(cid, seed)}


def reference_run(spark, transcripts, gold: set, cfg):
    """Full-size warm-up whose output is checked against the goldens and
    whose digest every later run must reproduce."""
    from information_extraction_t5_spark.pipeline import run_pipeline

    out = run_pipeline(spark, transcripts, cfg).localCheckpoint(eager=True)
    p, r = precision_recall(out, gold)
    return digest(out), p, r


def timed_run(spark, transcripts, cfg) -> tuple:
    """One timed run: input already materialized -> every output row
    produced.  Returns (wall_s, cpu_s, digest)."""
    from information_extraction_t5_spark.pipeline import run_pipeline

    c0, t0 = tree_cpu_s(), time.perf_counter()
    d = digest(run_pipeline(spark, transcripts, cfg))
    return time.perf_counter() - t0, tree_cpu_s() - c0, d


# -- measurement --------------------------------------------------------------
@dataclass
class Prepared:
    transcripts: object
    cfg: object
    ref: tuple
    precision: float
    recall: float
    synth_s: float


def setup(spark, workload: str, seed: int, n_convs: int) -> Prepared:
    """Input, goldens and the reference (warm-up) run."""
    t0 = time.time()
    transcripts = make_input(spark, n_convs, seed)
    t1 = time.time()
    gold = golden_set(n_convs, seed)
    t2 = time.time()
    cfg = pipeline_config(workload)
    ref, p, r = reference_run(spark, transcripts, gold, cfg)
    log(event="reference", workload=workload, seed=seed, convs=n_convs,
        rows=ref[0], digest4=ref[1], precision=p, recall=r,
        synth_s=t1 - t0, gold_s=t2 - t1, reference_s=time.time() - t2)
    return Prepared(transcripts, cfg, ref, p, r, t1 - t0)


def measure(spark, workload: str, seed: int, seconds: float,
            n_convs: int) -> dict:
    """Untraced run: the end-to-end metrics over ``seconds // run_s``
    timed runs."""
    prep = setup(spark, workload, seed, n_convs)
    transcripts, cfg, ref = prep.transcripts, prep.cfg, prep.ref
    p, r = prep.precision, prep.recall
    # a second full-size warm-up: the first run after the reference still
    # spends a third more CPU (JIT, worker start-up) than the runs after it
    warm_ok = timed_run(spark, transcripts, cfg)[2] == ref
    setup_s = time.time() - PROCESS_START

    runs = max(1, int(seconds // WORKLOADS[workload]["run_s"]))
    walls, cpus, failed = [], [], 0
    for _ in range(runs):
        before = host_record()
        try:
            wall, cpu, d = timed_run(spark, transcripts, cfg)
        except Exception as exc:  # a failed run is counted, never dropped
            failed += 1
            log(event="sample_error", error=repr(exc))
            continue
        ok = d == ref
        failed += not ok
        walls.append(wall)
        cpus.append(cpu)
        after = host_record()
        log(event="sample", wall_s=wall, cpu_s=cpu, verified=ok,
            steal_s=after["steal_s"] - before["steal_s"],
            loadavg=after["loadavg"],
            canary_ms=[before["canary_ms"], after["canary_ms"]])
    if not walls:
        raise RuntimeError(f"all {runs} timed runs raised")

    wall_s = statistics.median(walls)
    correct = (warm_ok and failed == 0
               and p >= MIN_PRECISION and r >= MIN_RECALL)
    metrics = {
        "triples_per_s": (ref[0] / wall_s, "triples/s"),
        "wall_s": (wall_s, "s"),
        "cpu_s": (statistics.median(cpus), "s"),
        "setup_s": (setup_s, "s"),
        "precision": (p, "ratio"),
        "recall": (r, "ratio"),
    }
    log(event="summary", failed_share=failed / runs, runs=runs,
        warmup_verified=warm_ok)
    return {"correct": correct, "attempted": runs, "failed": failed,
            "metrics": metrics}


def result_line(res: dict) -> str:
    return json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import layers

    n = WORKLOADS[args.workload]["convs"]
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    log(event="host", **host_record())
    try:
        spark = start_spark(work, layers.event_log_conf(work)
                            if args.trace else None)
        session_s = time.time() - PROCESS_START
        try:
            if args.trace:
                traced = layers.measure_traced(spark, args.workload,
                                               args.seed, n, work)
            else:
                res = measure(spark, args.workload, args.seed, args.seconds,
                              n)
        finally:
            stop_spark(spark)
        if args.trace:
            # the event log is complete only once the context has stopped
            res = layers.finish(traced, work, session_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    print(result_line(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
