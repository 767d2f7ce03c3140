"""lshdedup benchmark: seeded workloads through the public API on local[4].

    python3 perfbench/run.py --workload drift_chains --seed 1 --seconds 25 --trace 0

Every run is one job in a fresh session, as a spark-submit of the job
sees it: one driver, local[4], 16 shuffle partitions, the image_dedup
config.  All workloads are closed loops, one job in flight at a time.

  drift_chains  checkpointed ``dedup_pipeline`` over drifting near-dup
                chains (lengths 2..32) — verify, CC and StageRunner work.
  stream_ingest ``StreamingDedup`` over synthetic captions written as
                micro-batch files, availableNow + maxFilesPerTrigger=1 —
                signatures, banding, candidates and a growing state store.
  image_batch   in-memory ``dedup_pipeline`` over 20,000 default-synth rows
                (the north-rule shape; n_clusters is 17,619 at seed 42).
                Too slow for the benchmark's run budget on four cores, so
                it is not in BENCHMARK.json; run it by name.

``--trace 0`` times the job and prints the end-to-end metrics.
``--trace 1`` runs the job once untraced and once with every layer
wrapped in a span (perfbench/trace.py), checks that both give the same
output, and prints the per-layer metrics read from Spark's event log.
The last stdout line is one JSON object: correct, attempted, failed,
metrics.  The line before it is a fuller report with run metadata.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402

import lshdedup.pipeline as pipeline_mod  # noqa: E402
from lshdedup.config import DedupConfig  # noqa: E402
from lshdedup.session import get_spark  # noqa: E402
from lshdedup.streaming import StreamingDedup  # noqa: E402
from perfbench import gen, host, oracle  # noqa: E402
from perfbench.eventlog import read as read_eventlog  # noqa: E402
from perfbench.layers import layer_metrics, metric_specs, span_tree  # noqa: E402
from perfbench.trace import Recorder  # noqa: E402

MASTER, SHUFFLE_PARTITIONS = "local[4]", 16
IMAGE_DEDUP = DedupConfig(threshold=0.7, n_perm=128, b=32, r=4, sig_scheme="oph",
                          shuffle_partitions=SHUFFLE_PARTITIONS)
SETUP_REPS = 3          # setup_s is session start + the median of these

DRIFT_ROWS = 1500
IMAGE_ROWS = 20_000
IMAGE_CLUSTERS_SEED42 = 17_619
STREAM_ROWS, STREAM_BATCHES, COMPACT_EVERY = 1000, 4, 4
STREAM_SCHEMA = "image_id string, caption string"


@dataclass
class Bench:
    spark: object
    jvm_pid: int
    work: str           # scratch tree inside the checkout, removed at exit
    session_s: float


def start(work: str, trace: bool) -> Bench:
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["LSHDEDUP_DRIVER_MEM"] = "2g"
    # every temp file of Python, the launcher and the JVM stays in ``work``
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.environ.update({"TMPDIR": tmp, "SPARK_LOCAL_DIRS": local,
                       "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"})
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        extra.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false",
                      "spark.eventLog.dir": os.path.join(work, "eventlog")})
    t0 = time.perf_counter()
    spark = get_spark(app_name="lshdedup-perfbench", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    return Bench(spark, int(spark._jvm.ProcessHandle.current().pid()), work, session_s)


def shutdown(b: Bench) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit (it stops its Python workers on the way down)."""
    gateway = b.spark.sparkContext._gateway
    b.spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def timed_setup(make) -> tuple[object, list[float]]:
    """Run ``make`` (generate + materialize inputs) SETUP_REPS times and
    return the last result with every pass's time."""
    times, out = [], None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        out = make(i)
        times.append(time.perf_counter() - t0)
    return out, times


# ----------------------------------------------------------------- pipeline

@dataclass
class PipelineInput:
    rows: object                 # pandas rows the pipeline sees
    df: object                   # the same rows, persisted in Spark
    truth: set
    checkpointed: bool


def pipeline_setup(b: Bench, workload: str, seed: int) -> tuple[PipelineInput, list[float]]:
    previous: list = []

    def make(i):
        for df in previous:
            df.unpersist()
        if workload == "drift_chains":
            dc = gen.drift_chains(seed, DRIFT_ROWS)
            rows, truth = dc.rows, dc
        else:
            rows = gen.synth_rows(seed, IMAGE_ROWS)
            truth = None
        df = b.spark.createDataFrame(rows).persist()
        df.count()
        previous.append(df)
        return rows, truth, df

    (rows, truth_src, df), times = timed_setup(make)
    # planted truth is oracle work: computed once, outside every timed window
    if workload == "drift_chains":
        truth = gen.chain_truth(truth_src)
    else:
        truth = gen.synth_truth(seed, IMAGE_ROWS, rows, use_phash=True)
    return PipelineInput(rows, df, truth, workload == "drift_chains"), times


def pipeline_rep(b: Bench, inp: PipelineInput, rep: str, keep: bool = False) -> dict:
    """One timed pipeline call, from the call to materialized clusters.
    Each rep checkpoints into a fresh tree, removed afterwards unless
    ``keep`` (the traced run counts its stage outputs later)."""
    cfg = IMAGE_DEDUP
    if inp.checkpointed:
        cfg = replace(cfg, checkpoint_dir=os.path.join(b.work, f"ckpt-{rep}"), run_id=rep)
    cpu0, steal0, t0 = host.tree_cpu_s(b.jvm_pid), host.steal_s(), time.perf_counter()
    res = pipeline_mod.dedup_pipeline(b.spark, inp.df, cfg)
    clusters = dict(res.clusters.collect())
    wall = time.perf_counter() - t0
    cpu, steal = host.tree_cpu_s(b.jvm_pid) - cpu0, host.steal_s() - steal0
    dup = [tuple(r) for r in res.dup_pairs.select("id_a", "id_b").collect()]
    runner = res.extra.get("runner")
    resumed = bool(runner) and any(e.get("resumed") for e in runner.events)
    res.unpersist()
    if inp.checkpointed and not keep:
        shutil.rmtree(cfg.checkpoint_dir)
    return {"wall": wall, "cpu": cpu, "steal": steal, "clusters": clusters, "dup": dup,
            "resumed": resumed}


def pipeline_check(inp: PipelineInput, run: dict, seed: int, workload: str) -> dict:
    ids = inp.rows["image_id"].tolist()
    edges = run["dup"] + oracle.exact_dup_edges(inp.rows, ["caption", "phash"])
    expected = oracle.union_find_groups(ids, edges)
    mismatch = oracle.cluster_mismatch(run["clusters"], expected)
    groups = oracle.canonical(run["clusters"])
    recall = oracle.pair_recall(inp.truth, lambda a, c: groups.get(a) == groups.get(c))
    n_clusters = len(set(groups.values()))
    ok = mismatch == 0 and not run["resumed"]
    if workload == "image_batch" and seed == 42:
        ok = ok and n_clusters == IMAGE_CLUSTERS_SEED42
    if not ok:
        print(f"[perfbench] {workload} oracle failed: mismatch={mismatch} "
              f"resumed={run['resumed']} n_clusters={n_clusters}", file=sys.stderr)
    return {"ok": ok, "mismatch": mismatch, "recall": recall, "n_clusters": n_clusters,
            "hash": oracle.membership_hash(run["clusters"]), "dup_pairs": len(run["dup"])}


# ------------------------------------------------------------------- stream

class TimedStreamingDedup(StreamingDedup):
    """Records each micro-batch's latency, process_batch entry to return."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.latencies: list[float] = []

    def process_batch(self, batch, batch_id):
        t0 = time.perf_counter()
        super().process_batch(batch, batch_id)
        self.latencies.append(time.perf_counter() - t0)


@dataclass
class StreamInput:
    rows: object
    files: list[str]
    truth: set


def stream_setup(b: Bench, seed: int) -> tuple[StreamInput, list[float]]:
    def make(i):
        rows = gen.synth_rows(seed, STREAM_ROWS)
        in_dir = os.path.join(b.work, f"stream-in-{i}")
        os.makedirs(in_dir)
        files = []
        for k, part in enumerate(gen.stream_batches(rows, STREAM_BATCHES)):
            path = os.path.join(in_dir, f"batch-{k:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
            # the file source orders micro-batches by modification time
            os.utime(path, (1_000_000_000 + k, 1_000_000_000 + k))
            files.append(path)
        return rows, files

    (rows, files), times = timed_setup(make)
    truth = gen.synth_truth(seed, STREAM_ROWS, rows, use_phash=False)
    return StreamInput(rows, files, truth), times


def stream_rep(b: Bench, inp: StreamInput, rep: str) -> dict:
    state = os.path.join(b.work, f"state-{rep}")
    sd = TimedStreamingDedup(b.spark, IMAGE_DEDUP, state, compact_every=COMPACT_EVERY)
    stream = (b.spark.readStream.schema(STREAM_SCHEMA).option("maxFilesPerTrigger", 1)
              .parquet(os.path.dirname(inp.files[0])))
    cpu0, steal0, t0 = host.tree_cpu_s(b.jvm_pid), host.steal_s(), time.perf_counter()
    query = sd.start(stream)
    try:
        query.awaitTermination()
    finally:
        query.stop()
    wall = time.perf_counter() - t0
    cpu, steal = host.tree_cpu_s(b.jvm_pid) - cpu0, host.steal_s() - steal0
    pairs = [tuple(r) for r in
             sd.dup_pairs().select("id_a", "id_b", "jaccard", "batch_id").collect()]
    files = [f for store in ("buckets", "docs", "dup_pairs")
             for f in glob.glob(os.path.join(state, store, "**", "*.parquet"), recursive=True)]
    state_size = (sum(os.path.getsize(f) for f in files) / 1e6, len(files))
    return {"wall": wall, "cpu": cpu, "steal": steal, "latencies": sd.latencies,
            "pairs": pairs, "state": state_size}


def stream_check(inp: StreamInput, run: dict) -> dict:
    """A micro-batch fails if it never committed, or stored a pair that is
    not a caption near-duplicate with the Jaccard it claims."""
    captions = dict(zip(inp.rows["image_id"], inp.rows["caption"]))
    bad_batches, linked = set(), set()
    for a, c, jac, batch in run["pairs"]:
        want = gen.jaccard(gen.char_grams(captions[a]), gen.char_grams(captions[c]))
        if a == c or want < gen.CAPTION_RULE or abs(want - jac) > 1e-9:
            bad_batches.add(batch)
        linked.add((a, c) if a < c else (c, a))
    done = len(run["latencies"])
    failed = len(bad_batches) + (STREAM_BATCHES - done)
    if failed:
        print(f"[perfbench] stream_ingest oracle failed: bad batches {sorted(bad_batches)}, "
              f"{done}/{STREAM_BATCHES} committed", file=sys.stderr)
    recall = oracle.pair_recall(inp.truth, lambda a, c: (a, c) in linked)
    return {"failed": failed, "recall": recall, "hash": oracle.pairs_hash(linked),
            "dup_pairs": len(linked)}


# ------------------------------------------------------------------ metrics

E2E_UNITS = {"rows_per_s": "rows/s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s",
             "batch_p50_s": "s", "state_growth": "ratio", "pair_recall": "fraction",
             "cluster_mismatch": "rows", "error_rate": "fraction"}


def thirds_ratio(latencies: list[float]) -> float:
    """Median latency of the last third of batches over the first third's,
    leaving out the first batch, which a fresh session runs cold."""
    warm = latencies[1:]
    third = max(1, len(warm) // 3)
    return statistics.median(warm[-third:]) / statistics.median(warm[:third])


def measure(b: Bench, workload: str, seed: int) -> tuple[dict, dict]:
    """One timed job in the fresh session → (report, result).  A failed
    oracle counts in ``failed``; an exception ends the run."""
    if workload == "stream_ingest":
        inp, setup_times = stream_setup(b, seed)
        with host.PeakRss(b.jvm_pid) as rss:
            run = stream_rep(b, inp, "timed")
        check = stream_check(inp, run)
        attempted, failed, n_rows = STREAM_BATCHES, check["failed"], STREAM_ROWS
        lat = run["latencies"]
        values = {"batch_p50_s": statistics.median(lat),
                  "state_growth": thirds_ratio(lat)}
        meta = {"batch_latencies_s": [round(x, 3) for x in lat]}
    else:
        inp, setup_times = pipeline_setup(b, workload, seed)
        with host.PeakRss(b.jvm_pid) as rss:
            run = pipeline_rep(b, inp, "timed")
        check = pipeline_check(inp, run, seed, workload)
        attempted, failed, n_rows = 1, int(not check["ok"]), len(inp.rows)
        # one pipeline call is one batch job over the whole input
        values = {"batch_p50_s": run["wall"], "cluster_mismatch": check["mismatch"]}
        meta = {"n_clusters": check["n_clusters"], "dup_pairs": check["dup_pairs"]}
    values.update({
        "rows_per_s": n_rows / run["wall"],
        "cpu_s": run["cpu"],
        "peak_rss_mb": rss.peak_mb,
        "setup_s": b.session_s + statistics.median(setup_times),
        "pair_recall": check["recall"],
        "error_rate": failed / attempted,
    })
    report = {
        "workload": workload, "trace": 0, "rows": n_rows,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()},
        "meta": run_meta(seed, run["steal"], {"session_s": round(b.session_s, 3),
                                              "setup_reps_s": [round(t, 3) for t in setup_times],
                                              **meta}),
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: report["metrics"][k] for k in declared("end_to_end")}}
    return report, result


def trace_report(b: Bench, workload: str, seed: int) -> tuple[dict, dict]:
    """An untraced reference run, then the same run with every layer
    spanned.  Both must give the same output (plan-faithfulness guard)."""
    rec = Recorder(b.spark)
    if workload == "stream_ingest":
        inp, _ = stream_setup(b, seed)
        ref = stream_rep(b, inp, "ref")     # also the warm-up
        ref_check = stream_check(inp, ref)
        rec.install()
        try:
            with rec.span("run", workload):
                run = stream_rep(b, inp, "traced")
        finally:
            rec.uninstall()
        check = stream_check(inp, run)
        # a micro-batch's output is the dup pairs it appended to the store
        for sp in rec.spans:
            if sp.layer == "streaming":
                batch = int(sp.detail.split()[1])
                sp.counts = [sum(1 for p in run["pairs"] if p[3] == batch)]
        n_rows, state = STREAM_ROWS, run["state"]
        attempted, failed = 2 * STREAM_BATCHES, ref_check["failed"] + check["failed"]
    else:
        inp, _ = pipeline_setup(b, workload, seed)
        ref = pipeline_rep(b, inp, "ref")
        ref_check = pipeline_check(inp, ref, seed, workload)
        rec.install()
        try:
            with rec.span("run", workload):
                run = pipeline_rep(b, inp, "traced", keep=True)
        finally:
            rec.uninstall()
        check = pipeline_check(inp, run, seed, workload)
        n_rows, state = len(inp.rows), (0.0, 0)
        attempted, failed = 2, (not ref_check["ok"]) + (not check["ok"])
    faithful = (check["hash"] == ref_check["hash"]
                and check["dup_pairs"] == ref_check["dup_pairs"])
    if not faithful:
        print(f"[perfbench] traced output differs: {check['hash']}/{check['dup_pairs']} vs "
              f"untraced {ref_check['hash']}/{ref_check['dup_pairs']}", file=sys.stderr)
    rec.count_rows()
    b.spark.stop()  # closes the event log
    (log_path,) = glob.glob(os.path.join(b.work, "eventlog", "*"))
    log = read_eventlog(log_path)
    values = layer_metrics(rec.spans, log, n_rows, check["dup_pairs"],
                           trace_overhead_s=rec.bookkeeping_s, state=state)
    tree = span_tree(rec.spans, log)
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{workload}-seed{seed}.json"), "w") as fh:
        json.dump({"spans": tree, "metrics": values}, fh, indent=1)
    for node in tree:
        ops = "; ".join(f"s{st['stage']} {st['cpu_s']}cpu-s [{', '.join(st['operators'])}]"
                        for st in node["top_stages"])
        print(f"[span {node['id']:>3} <- {node['parent']}] {node['layer']:<10} "
              f"{node['detail']:<12} wall {node['wall_s']:>7.3f}s self {node['self_s']:>7.3f}s "
              f"jobs {node['jobs']:>3} rows {node['rows_out']} | {ops}", file=sys.stderr)
    units = {name: unit for name, unit, _ in metric_specs()}
    report = {
        "workload": workload, "trace": 1, "rows": n_rows, "faithful": faithful,
        "membership_hash": check["hash"], "dup_pairs": check["dup_pairs"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        "meta": run_meta(seed, run["steal"], {"traced_wall_s": round(run["wall"], 3),
                                              "untraced_wall_s": round(ref["wall"], 3)}),
    }
    result = {"correct": faithful and failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": values[k], "unit": units[k]}
                          for k in declared("per_layer")}}
    return report, result


def declared(section: str) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)[section]]


def run_meta(seed: int, steal: float, extra: dict) -> dict:
    return {"seed": seed, "nproc": os.cpu_count(), "pyspark": pyspark.__version__,
            "master": MASTER, "shuffle_partitions": SHUFFLE_PARTITIONS,
            "steal_s": round(steal, 2), **extra}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["drift_chains", "stream_ingest", "image_batch"])
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the harness; a run always measures one fixed job, which
    # takes about BENCHMARK.json's run_seconds on a 4-core host
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    b = None
    try:
        b = start(work, bool(args.trace))
        if args.trace:
            report, result = trace_report(b, args.workload, args.seed)
        else:
            report, result = measure(b, args.workload, args.seed)
    finally:
        if b is not None:
            shutdown(b)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
