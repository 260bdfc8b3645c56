"""End-to-end dedup benchmark with a traced per-layer breakdown.

Run from the repository root::

    python3 perfbench/run.py --workload planted_batch --seed 1 --seconds 15 --trace 0

Each run is one fresh process with one client in a closed loop: the next
epoch (or micro-batch) starts only after the previous one committed.

* ``--trace 0`` measures the end-to-end metrics: it generates the seeded
  corpus, starts the session, warms up, then runs timed epochs of the
  shipped entry points (``pipeline.CheckpointedPipeline.run`` for the batch
  workloads, ``streaming.incremental_dedup_batch`` followed by
  ``streaming.update_cluster_store`` per micro-batch for the stream) and
  checks every epoch's output against the planted truth and against the
  first epoch's clusters.
* ``--trace 1`` runs the same session with Spark's event log on, tags every
  call into a layer with ``setJobGroup`` and materializes each layer
  boundary the way the pipeline's ``_commit`` does (parquet write, then
  read back), then parses the event log offline into per-layer metrics.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``; the line before it carries host facts and per-epoch detail.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402

CORES = 4
DRIVER_MEM = "4g"
ID = "url"
#: micro-batches a traced batch workload splits its corpus into for the
#: streaming layer's numbers
TRACE_BATCHES = 2

#: corpus sizes: each batch epoch does a few seconds of real work, small
#: enough that session start, warm-up and several timed epochs fit the
#: run budget (see README.md, "Sizing")
WORKLOADS = {
    "planted_batch": {"corpus": "planted", "size": 400, "warmup_size": 30, "min_epochs": 2},
    "hotband_batch": {"corpus": "hotband", "size": 3000, "warmup_size": 300, "min_epochs": 2},
    "planted_stream": {"corpus": "planted", "size": 200, "batches": 2, "min_epochs": 1},
}
#: output-check floors, per corpus (planted truth vs found pairs)
FLOORS = {"planted": {"recall": 0.99, "precision": 0.99},
          "hotband": {"recall": 0.95, "precision": 0.5}}
LAYERS = ("signatures", "candidates.pairs", "candidates.verify", "clustering", "spans")
LAYER_STATS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "task_p50_s": "s",
    "task_max_s": "s", "executor_run_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "rows_out": "rows",
}
E2E_UNITS = {
    "docs_per_s": "docs/s", "batch_p50_s": "s", "setup_s": "s", "recall": "ratio",
    "precision": "ratio", "cluster_exact_frac": "ratio", "ok_frac": "ratio",
}
LAYER_UNITS = {
    **{f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_STATS.items()},
    "session.start_s": "s", "session.noop_job_s": "s",
    "candidates.hot_buckets": "count", "candidates.verify_precision": "ratio",
    "clustering.n_clusters": "count", "clustering.largest_cluster": "docs",
    "spans.busy_share": "ratio",
    "pipeline.commit_s": "s", "pipeline.jobs": "count",
    "streaming.pass_s": "s", "streaming.probe_p50_s": "s", "streaming.fold_p50_s": "s",
    "streaming.probe_growth": "ratio", "streaming.state_mb": "MB",
    "streaming.jobs_per_batch": "count",
    "trace.pipeline_epoch_s": "s", "trace.layered_epoch_s": "s",
    "trace.layering_overhead_s": "s", "trace.unattributed_jobs": "count",
}


# -- host and environment ---------------------------------------------------
def host_facts() -> dict:
    def probe() -> float:
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        return time.perf_counter() - t

    probe()
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "affinity": sorted(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "load_1m": os.getloadavg()[0],
        "cpu_probe_s": statistics.median(probe() for _ in range(3)),
    }


def prepare_env(work: str) -> None:
    """Everything the program is told from outside: heap below the host's
    memory, workers able to import the package, scratch inside ``work``."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)


def clear_stale_work() -> None:
    """Remove work dirs (spark-local, state, event logs) of aborted runs."""
    for d in glob.glob(os.path.join(WORK_ROOT, "*-*")):
        pid = d.rsplit("-", 1)[1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(d, ignore_errors=True)


def start_spark(threads: int, work: str, trace: bool):
    from imdedup_plus_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            # Spark 4 rolls event logs into a directory by default
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{threads}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int]) -> float:
    """Share of CPU time the hypervisor took from this VM since ``before``
    (``/proc/stat``: user nice system idle iowait irq softirq steal ...)."""
    delta = [b - a for a, b in zip(before, cpu_times())]
    return delta[7] / max(1, sum(delta[:8]))


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end
    (its Python workers exit with it)."""
    import subprocess

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class PeakRss(threading.Thread):
    """Peak summed RSS of this process's descendants (the Spark JVM and its
    Python workers), sampled every 0.2 s while running."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss_mb(self) -> float:
        children: dict[int, list[int]] = {}
        for stat in glob.glob("/proc/[0-9]*/stat"):
            try:
                with open(stat) as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
        todo, total = list(children.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
        return total / 2**20

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_mb


# -- epochs -----------------------------------------------------------------
def batch_epoch(spark, docs, workdir: str) -> dict:
    from imdedup_plus_spark.config import SCALE_CONFIG
    from imdedup_plus_spark.pipeline import CheckpointedPipeline

    t = time.perf_counter()
    CheckpointedPipeline(spark, workdir, SCALE_CONFIG, id_col=ID).run(docs)
    wall = time.perf_counter() - t
    return {"wall_s": wall, "batch_s": [wall]}


def stream_epoch(spark, batches: list, state: str, tagger=None) -> dict:
    from imdedup_plus_spark import streaming as ST
    from imdedup_plus_spark.config import SCALE_CONFIG

    tag = tagger or (lambda name: contextlib.nullcontext())
    probe, fold = [], []
    for i, batch in enumerate(batches):
        t0 = time.perf_counter()
        with tag("streaming.probe"):
            ST.incremental_dedup_batch(batch, state, SCALE_CONFIG, ID, epoch_id=i)
        t1 = time.perf_counter()
        with tag("streaming.fold"):
            ST.update_cluster_store(spark, state, ID)
        t2 = time.perf_counter()
        probe.append(t1 - t0)
        fold.append(t2 - t1)
    lat = [p + f for p, f in zip(probe, fold)]
    return {"wall_s": sum(lat), "batch_s": lat, "probe_s": probe, "fold_s": fold}


# -- output check -----------------------------------------------------------
def read_parquet_dir(path: str, columns: list[str]):
    import pandas as pd

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pd.concat([pd.read_parquet(f, columns=columns) for f in files], ignore_index=True)


def batch_output(workdir: str):
    return (read_parquet_dir(os.path.join(workdir, "verified_pairs"), ["id_a", "id_b"]),
            read_parquet_dir(os.path.join(workdir, "clusters"), [ID, "cluster_id"]))


def stream_output(spark, state: str):
    from imdedup_plus_spark import streaming as ST

    return (ST.read_pairs(spark, state).select("id_a", "id_b").toPandas(),
            ST.read_clusters(spark, state, ID).toPandas())


def check(pairs, clusters, truth, floors: dict) -> dict:
    """Score one epoch's output against the planted truth. ``truth`` maps
    url -> planted group (-1 = in no group)."""
    import numpy as np

    a, b = pairs["id_a"].to_numpy(), pairs["id_b"].to_numpy()
    keys = set(zip(np.minimum(a, b), np.maximum(a, b)))
    ga = truth.reindex([k[0] for k in keys]).to_numpy()
    gb = truth.reindex([k[1] for k in keys]).to_numpy()
    hits = int(((ga == gb) & (ga >= 0)).sum())
    planted = gen.planted_pairs(truth.to_numpy())
    recall = hits / planted
    precision = hits / max(1, len(keys))

    c = clusters.set_index(ID)["cluster_id"]
    complete = len(c) == len(truth) and c.index.is_unique and c.index.isin(truth.index).all()
    groups = truth[truth >= 0]
    members = c.reindex(groups.index)
    per_group = members.groupby(groups.to_numpy()).agg(["nunique", "first", "size"])
    sizes = c.value_counts()
    exact = (per_group["nunique"] == 1) & (
        sizes.reindex(per_group["first"]).to_numpy() == per_group["size"].to_numpy())
    digest = hashlib.sha256(
        clusters.sort_values(ID).to_csv(index=False).encode()).hexdigest()
    ok = bool(complete and recall >= floors["recall"] and precision >= floors["precision"])
    return {"recall": recall, "precision": precision,
            "cluster_exact_frac": float(exact.mean()), "found_pairs": len(keys),
            "planted_pairs": planted, "complete": bool(complete), "digest": digest,
            "ok": ok}


# -- traced run ---------------------------------------------------------------
class Tracer:
    """Job-group tagging plus benchmark-side wall spans per group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.walls: dict[str, list[float]] = {}

    @contextlib.contextmanager
    def span(self, group: str):
        self.sc.setJobGroup(group, group)
        t = time.perf_counter()
        try:
            yield
        finally:
            self.walls.setdefault(group, []).append(time.perf_counter() - t)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wall(self, group: str) -> float:
        return sum(self.walls.get(group, []))


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def layered_epoch(spark, docs, workdir: str, tr: Tracer) -> dict:
    """The pipeline's stage sequence, one layer call at a time, each output
    committed like ``CheckpointedPipeline._commit`` (parquet write to a
    temp dir, rename, read back) inside the layer's job group."""
    from imdedup_plus_spark import candidates as C
    from imdedup_plus_spark import clustering as CL
    from imdedup_plus_spark import signatures as S
    from imdedup_plus_spark import spans as SP
    from imdedup_plus_spark.config import SCALE_CONFIG as cfg

    rows: dict[str, int] = {}

    def commit(layer: str, name: str, df):
        path = os.path.join(workdir, name)
        df.write.mode("overwrite").parquet(path + ".inprogress")
        os.replace(path + ".inprogress", path)
        rows[layer] = rows.get(layer, 0) + parquet_rows(path)
        return spark.read.parquet(path)

    os.makedirs(workdir, exist_ok=True)
    t = time.perf_counter()
    with tr.span("signatures"):
        sig = commit("signatures", "signatures",
                     S.signature_kernel_arrow(S.valid_documents(docs, cfg), cfg, ID))
    with tr.span("candidates.pairs"):
        pairs = commit("candidates.pairs", "candidate_pairs",
                       C.candidate_pairs(S.explode_bands(sig, cfg, ID), cfg, ID))
    with tr.span("candidates.verify"):
        verified = commit("candidates.verify", "verified_pairs",
                          C.verify_pairs_kernel(pairs, sig, cfg, ID))
    with tr.span("clustering"):
        clusters = commit("clustering", "clusters", CL.clusters_from_pairs(sig, verified, ID))
    with tr.span("spans"):
        spans = commit("spans", "spans", SP.extract_spans(
            SP.pair_texts_from_clusters(clusters, docs, ID), cfg, string_ids=True))
        commit("spans.summary", "span_summary", SP.span_summary(spans))
    wall = time.perf_counter() - t
    with tr.span("stats"):
        hot = C.hot_buckets(S.explode_bands(sig, cfg, ID), cfg, ID).count()
    sizes = read_parquet_dir(os.path.join(workdir, "clusters"), ["cluster_id"])["cluster_id"].value_counts()
    return {"wall_s": wall, "rows": rows, "hot_buckets": hot,
            "n_clusters": len(sizes), "largest_cluster": int(sizes.max())}


def traced_metrics(groups: dict, tr: Tracer, detail: dict) -> dict:
    m = {
        "session.start_s": detail["session_start_s"],
        "session.noop_job_s": statistics.median(tr.walls["session.noop"]),
        "trace.unattributed_jobs": groups.get("", {}).get("jobs", 0),
    }
    probe, fold = detail["stream"]["probe_s"], detail["stream"]["fold_s"]
    jobs = sum(groups.get(g, {}).get("jobs", 0) for g in ("streaming.probe", "streaming.fold"))
    m.update({
        "streaming.pass_s": detail["stream"]["wall_s"],
        "streaming.probe_p50_s": statistics.median(probe),
        "streaming.fold_p50_s": statistics.median(fold),
        "streaming.probe_growth": probe[-1] / probe[0],
        "streaming.state_mb": detail["state_mb"],
        "streaming.jobs_per_batch": jobs / len(probe),
    })
    lay = detail["layered"]
    for layer in LAYERS:
        g = groups.get(layer, {})
        m[f"{layer}.wall_s"] = tr.wall(layer)
        m[f"{layer}.rows_out"] = lay["rows"].get(layer, 0)
        for k in ("jobs", "tasks", "task_p50_s", "task_max_s", "executor_run_s",
                  "shuffle_write_mb", "spill_mb"):
            m[f"{layer}.{k}"] = g.get(k, 0)
    pipe_epoch = tr.wall("pipeline")
    m.update({
        "candidates.hot_buckets": lay["hot_buckets"],
        "candidates.verify_precision":
            lay["rows"]["candidates.verify"] / max(1, lay["rows"]["candidates.pairs"]),
        "clustering.n_clusters": lay["n_clusters"],
        "clustering.largest_cluster": lay["largest_cluster"],
        "spans.busy_share": m["spans.executor_run_s"] / (m["spans.wall_s"] * detail["threads"]),
        "pipeline.commit_s": pipe_epoch - sum(m[f"{layer}.wall_s"] for layer in LAYERS),
        "pipeline.jobs": groups.get("pipeline", {}).get("jobs", 0),
        "trace.pipeline_epoch_s": pipe_epoch,
        "trace.layered_epoch_s": lay["wall_s"],
        "trace.layering_overhead_s": lay["wall_s"] - pipe_epoch,
    })
    return {k: m[k] for k in LAYER_UNITS}


# -- entry point ------------------------------------------------------------
def make_corpus(spec: dict, seed: int, work: str, trace: bool):
    """Parquet inputs by role: ``docs`` (the whole corpus, one file),
    ``batches`` (the corpus split into micro-batches) and ``warmup``. A
    traced run writes both forms, because it runs every layer."""
    import pandas as pd

    maker = gen.planted if spec["corpus"] == "planted" else gen.hotband
    docs, groups = maker(seed, spec["size"])
    truth = pd.Series(groups, index=docs[ID])
    frames = {}
    if trace or "batches" not in spec:
        frames["docs"] = [docs]
    if trace or "batches" in spec:
        part = gen.stream_batches(seed, docs[ID], spec.get("batches", TRACE_BATCHES))
        frames["batches"] = [docs[part == i] for i in range(part.max() + 1)]
    if "warmup_size" in spec:
        # a smaller corpus of the same shape pays the cold JVM and worker cost
        frames["warmup"] = [maker(seed, spec["warmup_size"])[0]]
    paths = {}
    for role, dfs in frames.items():
        paths[role] = [os.path.join(work, f"{role}{i}.parquet") for i in range(len(dfs))]
        for df, path in zip(dfs, paths[role]):
            gen.write_parquet(df, path)
    return len(docs), truth, paths


def run(args) -> dict:
    spec = WORKLOADS[args.workload]
    clear_stale_work()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        t = time.perf_counter()
        n_docs, truth, paths = make_corpus(spec, args.seed, work, bool(args.trace))
        host = host_facts()
        # input generation and the host probe are not set-up
        excluded = time.perf_counter() - t
        detail: dict = {"workload": args.workload, "seed": args.seed, "n_docs": n_docs,
                        "host": host, "threads": args.threads}
        t = time.perf_counter()
        spark = start_spark(args.threads, work, bool(args.trace))
        detail["session_start_s"] = time.perf_counter() - t
        try:
            bench = Bench(spark, spec, work, bool(args.trace))
            with bench.tag("session.read"):
                inputs = {role: [spark.read.parquet(p) for p in ps] for role, ps in paths.items()}
            if "warmup" in inputs:
                with bench.tag("warmup"):
                    bench.epoch("warmup", inputs["warmup"], stream=False)
            if args.trace:
                traced_epochs(bench, inputs, detail)
            else:
                setup_s = time.perf_counter() - T_START - excluded
                res = timed_run(bench, inputs, truth, args.seconds, detail)
        finally:
            stop_spark(spark)
        if args.trace:
            return traced_result(bench, detail)
        m = res["metrics"]
        m.update(setup_s=setup_s, docs_per_s=n_docs / m.pop("epoch_p50_s"))
        res["metrics"] = {k: {"value": m[k], "unit": u} for k, u in E2E_UNITS.items()}
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


class Bench:
    """One session's epochs: fresh output dir per epoch, optional tagging."""

    def __init__(self, spark, spec: dict, work: str, trace: bool) -> None:
        self.spark, self.spec, self.work = spark, spec, work
        self.tracer = Tracer(spark)
        self.tag = self.tracer.span if trace else (lambda name: contextlib.nullcontext())
        self.n = 0

    def epoch(self, label: str, frames: list, stream: bool, tagger=None) -> tuple[dict, str]:
        self.n += 1
        out = os.path.join(self.work, f"{label}{self.n}")
        if stream:
            return stream_epoch(self.spark, frames, out, tagger), out
        return batch_epoch(self.spark, frames[0], out), out


def timed_run(bench: Bench, inputs: dict, truth, seconds: float, detail: dict) -> dict:
    """Closed loop of checked epochs for ``seconds`` (at least the
    workload's ``min_epochs``)."""
    spec = bench.spec
    stream = "batches" in spec
    frames = inputs["batches" if stream else "docs"]
    rss = PeakRss()
    rss.start()
    steal0 = cpu_times()
    epochs, ref_digest, t_meas = [], None, time.perf_counter()
    while len(epochs) < spec["min_epochs"] or time.perf_counter() - t_meas < seconds:
        rec: dict = {}
        try:
            rec, out = bench.epoch("epoch", frames, stream)
            pairs, clusters = stream_output(bench.spark, out) if stream else batch_output(out)
            rec.update(check(pairs, clusters, truth, FLOORS[spec["corpus"]]))
            # determinism: every epoch's clusters equal the first epoch's
            ref_digest = ref_digest or rec["digest"]
            rec["ok"] = rec["ok"] and rec["digest"] == ref_digest
            shutil.rmtree(out, ignore_errors=True)
        except Exception as exc:  # a raising epoch is a failed epoch, not a crash
            rec.update({"ok": False, "error": f"{type(exc).__name__}: {exc}"[:500]})
        epochs.append(rec)
    # peak RSS did not repeat within a tenth across runs, so it is reported
    # beside the metrics, not as one
    detail.update(epochs=epochs, peak_rss_mb=rss.stop(), steal_share=steal_share(steal0))

    good = [e for e in epochs if e["ok"]]
    ref = good or [{"recall": 0.0, "precision": 0.0, "cluster_exact_frac": 0.0}]
    walls = [e["wall_s"] for e in epochs if "wall_s" in e]
    if not walls:
        raise RuntimeError(f"no timed epoch completed: {epochs[0].get('error')}")
    batch_s = [b for e in epochs for b in e.get("batch_s", [])]
    metrics = {
        "epoch_p50_s": statistics.median(walls),
        "batch_p50_s": statistics.median(batch_s),
        **{k: statistics.median(e[k] for e in ref)
           for k in ("recall", "precision", "cluster_exact_frac")},
        "ok_frac": len(good) / len(epochs),
    }
    return {"detail": detail, "attempted": len(epochs), "failed": len(epochs) - len(good),
            "metrics": metrics}


def traced_epochs(bench: Bench, inputs: dict, detail: dict) -> None:
    """Every layer on this workload's corpus: a stream pass, and one
    ``CheckpointedPipeline`` epoch followed by the layered epoch. The
    workload's own path runs first, so its JVM is exactly as warm as in the
    untraced runs and the traced epoch is comparable with their median."""
    spark, tr, work = bench.spark, bench.tracer, bench.work
    for _ in range(5):
        with tr.span("session.noop"):
            spark.range(1).collect()

    def stream_pass() -> None:
        detail["stream"], state = bench.epoch("stream", inputs["batches"], True, tr.span)
        detail["state_mb"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(state) for f in fs) / 2**20

    def batch_pass() -> None:
        with tr.span("pipeline"):
            bench.epoch("pipeline", inputs["docs"], stream=False)
        detail["layered"] = layered_epoch(
            spark, inputs["docs"][0], os.path.join(work, "layered"), tr)

    own, other = (stream_pass, batch_pass) if "batches" in bench.spec else (batch_pass, stream_pass)
    own()
    other()


def traced_result(bench: Bench, detail: dict) -> dict:
    """Per-layer metrics from the closed event log of a stopped session."""
    tr = bench.tracer
    groups = eventlog.group_metrics(eventlog.read_events(os.path.join(bench.work, "eventlog")))
    metrics = traced_metrics(groups, tr, detail)
    detail.update(groups=groups, spans=tr.walls)
    failed = int(sum(g["failed_tasks"] for g in groups.values()) > 0)
    return {"detail": detail, "attempted": 1, "failed": failed,
            "metrics": {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in metrics.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--threads", type=int, default=CORES,
                    help="local[N] task threads; the traced 1/2/4-thread curve varies it")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "imdedup_plus_spark", "pipeline.py")):
        print(f"perfbench: no imdedup_plus_spark package under {ROOT}", file=sys.stderr)
        return 2
    res = run(args)
    detail = res.pop("detail")
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": res["failed"] == 0, **res}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
