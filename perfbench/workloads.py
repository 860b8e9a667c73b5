"""The benchmark's workloads, each driven through the engine's public entry
points and checked against an independent reference.

Every workload fills ``run.e2e`` (timed, tracing off) or ``run.layer``
(the separate traced run) and counts its operations in
``run.attempted`` / ``run.failed``. An operation is one timed job, one
landed stream file, one dedup stage, or one whole-output check. The
dedup layers (q45/q59/q116) run only in batch_backfill's traced run.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import threading
import time

import numpy as np
import pandas as pd

from . import inputs
from .measure import (
    ProcSampler,
    ProgressListener,
    StatusStore,
    Tracer,
    host_busy_frac,
    metric_sum,
    plan_metrics,
)

# local mode: the driver JVM is the executor. The heap is committed and
# touched at start so peak RSS does not depend on when the GC grew it.
DRIVER_MEMORY = "2g"
JVM_OPTS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"
WARM_TOL = 0.10  # warm-up ends when two successive timings agree this well
WARM_MAX = 6
WINDOW_COLS = ["domain", "window_start", "window_end", "n_detections",
               "avg_score", "n_watermark", "n_text"]

# stream_trickle_catchup shape (see BENCHMARK.json for the why)
STREAM_WARM_FILES = 3
# files/s: a data batch plus the no-data batch its watermark move triggers
# take 2.2-3.5 s on a 4-core host, so at 0.3 files/s latency already grew
# file over file; at 0.2 files/s each file lands on an idle query
TRICKLE_RATE = 0.2
TRICKLE_MIN_FILES = 5
BACKLOG_FILES = 16
CATCHUP_MAX_FILES = 16
LATENCY_LIMIT_S = 10.0

# the dedup layers (traced batch_backfill run) settle slowly: ~64 Spark
# jobs per pipeline, ~4x slower on the first run
DEDUP_WARM_MAX = 3
DEDUP_WARM_TOL = 0.15


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs):
    return float(statistics.median(xs))


def warm_until_steady(action, max_runs: int, tol: float) -> tuple[float, int, float]:
    """Repeat ``action`` (which returns its own timing) until two successive
    timings agree within ``tol``; returns (elapsed s, runs, last timing)."""
    t0 = time.perf_counter()
    prev = None
    for runs in range(1, max_runs + 1):
        dt = action()
        if prev is not None and abs(dt - prev) <= tol * min(dt, prev):
            break
        prev = dt
    return time.perf_counter() - t0, runs, dt


class Run:
    """One benchmark invocation: session, sampler, tracer, results."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.tracer = Tracer(f"{workload}-{seed}", trace)
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.diag: dict[str, object] = {}
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.work = os.path.abspath(os.path.join(
            ".perfbench", "work", f"{workload}-{seed}-{os.getpid()}"))
        self.spark = None
        self.sampler: ProcSampler | None = None
        self.setup_s = 0.0
        self._cpu0 = None
        self._t0 = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record when a phase ended (seconds since the run began)."""
        self.diag.setdefault("timeline_s", {})[phase] = round(time.perf_counter() - self._t0, 2)

    # -- bookkeeping -------------------------------------------------------
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.correct = False
            self.diag.setdefault("failures", []).append(what)

    def span(self, name: str):
        return self.tracer.span(name)

    def cpu_mark(self) -> None:
        self._cpu0 = self.sampler.cpu()

    def cpu_since_mark(self) -> tuple[float, float]:
        j1, p1 = self.sampler.cpu()
        return j1 - self._cpu0[0], p1 - self._cpu0[1]

    # -- session -----------------------------------------------------------
    def start_spark(self):
        from watermark_detector_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the engine package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        self.diag["host_busy_frac"] = host_busy_frac()
        self.diag["canary_us_per_doc"] = detect_canary()
        self.layer["host.canary_us_per_doc"] = self.diag["canary_us_per_doc"]
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench", cpus=nproc(), driver_memory=DRIVER_MEMORY,
                extra_conf={"spark.local.dir": tmp,
                            "spark.driver.extraJavaOptions": f"{JVM_OPTS} -Djava.io.tmpdir={tmp}",
                            "spark.ui.showConsoleProgress": "false"})
            self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        self.layer["session.start_s"] = start_s
        self.setup_s += start_s
        self.sampler = ProcSampler(self.spark.sparkContext._gateway.proc.pid).start()
        return self.spark

    def warm(self, action) -> None:
        """Warm with the timed action itself until it is steady; the whole
        time is charged to set-up."""
        with self.span("session.warmup"):
            warm_s, self.diag["warmup_runs"], _ = warm_until_steady(action, WARM_MAX, WARM_TOL)
        self.layer["session.warmup_s"] = warm_s
        self.setup_s += warm_s

    def close(self) -> None:
        if self.sampler is not None:
            self.sampler.stop()
        if self.spark is not None:
            gw = self.spark.sparkContext._gateway
            self.spark.stop()
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)
        if self.correct:
            shutil.rmtree(self.work, ignore_errors=True)
        else:
            self.diag["kept_work_dir"] = self.work

    def finish_common(self, cpu_s: tuple[float, float], kdocs: float) -> None:
        self.e2e["setup_s"] = self.setup_s
        self.e2e["peak_rss_mb"] = self.sampler.peak_rss_mb
        self.e2e["cpu_s_per_kdoc"] = sum(cpu_s) / kdocs
        self.layer["proc.jvm_cpu_s"] = cpu_s[0]
        self.layer["proc.py_cpu_s"] = cpu_s[1]


def detect_canary() -> float:
    """Single-thread detect µs/doc on a fixed input (seed and signature
    set never change): a host-speed diagnostic recorded beside each run."""
    from watermark_detector_spark.fixtures import FixtureConfig, _domains, gen_doc
    from watermark_detector_spark.functions.core import build_detector, detect_text

    cfg = FixtureConfig(seed=20250217, n_docs=100, **inputs.PAGE_SHAPE)
    doms = _domains(cfg)
    texts = [gen_doc(i, cfg, doms)["text"] for i in range(cfg.n_docs)]
    by_id = {s.sig_id: s for s in cfg.signatures}
    det = build_detector(cfg.signatures)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        for t in texts:
            detect_text(t, by_id, det)
        best = min(best, time.perf_counter() - t0)
    return best / len(texts) * 1e6


def windows_match(got: pd.DataFrame, want: pd.DataFrame, approx: bool) -> bool:
    """Exact on keys and counts, 1e-9 on avg_score; ``approx`` checks the
    streaming ``n_docs_approx`` against the exact count within the HLL
    sketch's error (default rsd 0.05, three sigma, at least 1)."""
    if len(got) != len(want):
        return False
    key = ["domain", "window_start"]
    g = got.assign(window_start=got["window_start"].astype("datetime64[us]"),
                   window_end=got["window_end"].astype("datetime64[us]"))
    g = g.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    for c in WINDOW_COLS:
        if c == "avg_score":
            if not np.allclose(g[c].astype(float), w[c].astype(float), atol=1e-9):
                return False
        elif not (g[c].to_numpy() == w[c].to_numpy()).all():
            return False
    if approx:
        tol = np.maximum(1, np.ceil(0.15 * w["n_docs"].to_numpy()))
        return bool((np.abs(g["n_docs_approx"].to_numpy() - w["n_docs"].to_numpy()) <= tol).all())
    return bool((g["n_docs"].to_numpy() == w["n_docs"].to_numpy()).all())


# ---------------------------------------------------------------------------
# batch_backfill
# ---------------------------------------------------------------------------


def batch_backfill(run: Run) -> None:
    from watermark_detector_spark.plans.flagship import flagship_batch
    from watermark_detector_spark.sources.pages import read_pages_batch

    with run.span("inputs"):
        root = inputs.batch_inputs(run.seed)
        dedup_root = os.path.abspath(inputs.dedup_inputs(run.seed)) if run.trace else None
    cfg = inputs.batch_config(run.seed)
    golden = pd.read_parquet(os.path.join(root, "golden.parquet"))
    pages_dir = os.path.abspath(os.path.join(root, "pages"))
    out = os.path.join(run.work, "windows")
    spark = run.start_spark()

    def write_once() -> float:
        t0 = time.perf_counter()
        flagship_batch(read_pages_batch(spark, pages_dir), cfg.signatures) \
            .write.mode("overwrite").parquet(out)
        return time.perf_counter() - t0

    run.warm(write_once)
    run.cpu_mark()
    if run.trace:
        _batch_layers(run, spark, pages_dir, cfg, golden, write_once)
        _dedup_layers(run, spark, dedup_root)
        run.layer["proc.jvm_cpu_s"], run.layer["proc.py_cpu_s"] = run.cpu_since_mark()
        return
    cpu = (0.0, 0.0)
    times: list[float] = []
    t_end = time.perf_counter() + run.seconds
    while not times or time.perf_counter() < t_end:
        run.cpu_mark()
        times.append(write_once())
        dj, dp = run.cpu_since_mark()
        cpu = (cpu[0] + dj, cpu[1] + dp)
        got = spark.read.parquet(out).toPandas()
        run.op(windows_match(got, golden, approx=False), f"batch run {len(times)}")
    n = cfg.n_docs
    run.e2e["throughput_docs_per_s"] = n / _median(times)
    run.e2e["latency_p50_ms"] = _median(times) * 1e3
    run.diag["batch_s"] = times
    run.finish_common(cpu, n * len(times) / 1e3)


def _batch_layers(run, spark, pages_dir, cfg, golden, write_once) -> None:
    """Per-layer split of one flagship write, timed from outside: the
    scan-only prefix, the UDF prefix, and the full plan with its SQL
    metrics; then single-thread extract and detect on the same input."""
    from watermark_detector_spark.plans.flagship import detection_rows_fused, flagship_batch
    from watermark_detector_spark.sources.pages import read_pages_batch

    store = StatusStore(spark)
    n = cfg.n_docs
    plain = write_once()
    with run.span("flagship.write"):
        t0 = time.perf_counter()
        write_once()
        store.jobs()  # what a traced write adds: a status-store read
        traced = time.perf_counter() - t0
    run.layer["trace.overhead_s"] = traced - plain

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    with run.span("pages.scan"):
        scan_s = noop(read_pages_batch(spark, pages_dir))
    with run.span("flagship.udf_stage"):
        udf_s = noop(detection_rows_fused(read_pages_batch(spark, pages_dir), cfg.signatures))
    with run.span("flagship.collect"):
        res = flagship_batch(read_pages_batch(spark, pages_dir), cfg.signatures)
        t0 = time.perf_counter()
        got = res.toPandas()
        full_s = time.perf_counter() - t0
        nodes = plan_metrics(res)
    run.op(windows_match(got, golden, approx=False), "traced flagship output")
    emitted = metric_sum(nodes, "MapInPandas", "pythonNumRowsReceived")
    kept = metric_sum(nodes, "Filter", "numOutputRows")
    run.layer.update({
        "pages.scan_s": scan_s,
        "pages.scan_bytes": metric_sum(nodes, "Scan parquet", "filesSize"),
        "flagship.udf_stage_s": udf_s - scan_s,
        "flagship.agg_s": full_s - udf_s,
        "flagship.kept_rows": kept,
        "flagship.arrow_bytes": metric_sum(nodes, "MapInPandas", "pythonDataSent")
                                + metric_sum(nodes, "MapInPandas", "pythonDataReceived"),
        "flagship.window_rows": len(got),
        "flagship.shuffle_bytes": metric_sum(nodes, "Exchange", "shuffleBytesWritten"),
        "detect.rows_per_doc": emitted / n,
        "detect.kept_ratio": kept / max(1, emitted),
    })
    ext_us, det_us = _single_thread_layers(run, pages_dir, cfg)
    run.layer["extract.us_per_doc"] = ext_us
    run.layer["detect.us_per_doc"] = det_us
    # UDF stage per doc-core, minus the Python body measured single-thread
    run.layer["flagship.arrow_overhead_us_per_doc"] = (
        (udf_s - scan_s) * nproc() / n * 1e6 - ext_us - det_us)


def _single_thread_layers(run, pages_dir, cfg) -> tuple[float, float]:
    """extract_series and detect_text on the workload's own pages in
    Arrow-sized (4,096-row) batches, on one thread of this process."""
    import pyarrow.parquet as pq

    from watermark_detector_spark.functions.core import build_detector, detect_text
    from watermark_detector_spark.functions.extract import extract_series

    det = build_detector(cfg.signatures)
    by_id = {s.sig_id: s for s in cfg.signatures}
    ext_s = det_s = 0.0
    n = 0
    for path in sorted(glob.glob(os.path.join(pages_dir, "*.parquet"))):
        for rb in pq.ParquetFile(path).iter_batches(batch_size=4096, columns=["html"]):
            html = rb.to_pandas()["html"]
            with run.span("extract"):
                t0 = time.perf_counter()
                texts = extract_series(html)
                ext_s += time.perf_counter() - t0
            with run.span("detect"):
                t0 = time.perf_counter()
                for t in texts:
                    detect_text(t, by_id, det)
                det_s += time.perf_counter() - t0
            n += len(html)
    return ext_s / n * 1e6, det_s / n * 1e6


# ---------------------------------------------------------------------------
# stream_trickle_catchup
# ---------------------------------------------------------------------------


class _Stream:
    """File landing plus the checkpoint/manifest bookkeeping that maps each
    landed file to the micro-batch that read it and that batch's sink
    commit time."""

    def __init__(self, run: Run, root: str):
        self.src = os.path.join(root, "files")
        self.dir = os.path.join(run.work, "in")
        self.stage = os.path.join(run.work, "stage")
        self.ck = os.path.join(run.work, "ck")
        self.sink_root = os.path.join(run.work, "sink")
        for d in (self.dir, self.stage):
            os.makedirs(d, exist_ok=True)
        self.landed: dict[str, float] = {}  # file name -> land epoch

    def land(self, name: str) -> float:
        tmp = os.path.join(self.stage, name)
        shutil.copyfile(os.path.join(self.src, name), tmp)
        os.rename(tmp, os.path.join(self.dir, name))  # atomic appearance
        t = time.time()
        self.landed[name] = t
        return t

    def file_batches(self) -> dict[str, int]:
        """landed file name -> micro-batch id that read it, from the
        file-source log and the offset log of the checkpoint."""
        log: dict[int, list[str]] = {}
        sdir = os.path.join(self.ck, "sources", "0")
        for f in os.listdir(sdir) if os.path.isdir(sdir) else []:
            if f.startswith("."):
                continue
            with open(os.path.join(sdir, f)) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    log.setdefault(e["batchId"], []).append(os.path.basename(e["path"]))
        offsets = []
        odir = os.path.join(self.ck, "offsets")
        for f in os.listdir(odir) if os.path.isdir(odir) else []:
            if f.isdigit():
                with open(os.path.join(odir, f)) as fh:
                    lines = fh.read().splitlines()
                if len(lines) >= 3:
                    offsets.append((int(f), json.loads(lines[2])["logOffset"]))
        offsets.sort()
        out = {}
        for lb, names in log.items():
            bid = next((b for b, lo in offsets if lo >= lb), None)
            if bid is not None:
                for nm in names:
                    out[nm] = bid
        return out

    def manifest(self, bid: int) -> dict | None:
        p = os.path.join(self.sink_root, "_manifest", f"{bid}.json")
        try:
            with open(p) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def commit_times(self, names) -> dict[str, float]:
        fb = self.file_batches()
        out = {}
        for nm in names:
            m = self.manifest(fb[nm]) if nm in fb else None
            if m is not None:
                out[nm] = m["committed_at_epoch"]
        return out

    def wait_committed(self, names, timeout_s: float) -> dict[str, float]:
        deadline = time.time() + timeout_s
        while True:
            ct = self.commit_times(names)
            if len(ct) == len(names) or time.time() > deadline:
                return ct
            time.sleep(0.05)

    def stop_when_idle(self, q, run: Run, timeout_s: float = 30) -> None:
        """Stop the query between triggers, once every planned batch has
        committed: stopping mid-batch leaves a sink-committed batch out of
        the commit log, and its replay is a separate code path."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            ids = [max((int(f) for f in os.listdir(os.path.join(self.ck, d)) if f.isdigit()),
                       default=-1) for d in ("offsets", "commits")]
            if ids[0] == ids[1] and q.status["message"].startswith("Waiting for"):
                break
            time.sleep(0.05)
        run.mark("idle")
        q.stop()
        run.mark("stop")

    def committed_rows(self) -> int:
        total = 0
        for p in glob.glob(os.path.join(self.sink_root, "_manifest", "*.json")):
            with open(p) as fh:
                total += json.load(fh).get("n_rows", 0)
        return total


class _SinkProbe:
    """The benchmark's foreachBatch: wraps the sink instance's write_batch
    with a timer, a replay (no-op) detector and, when tracing, the Spark
    jobs the call ran (status-store job ids above the pre-call maximum)."""

    def __init__(self, sink, store: StatusStore | None):
        self.sink, self.store = sink, store
        self.calls: list[dict] = []

    def __call__(self, df, batch_id: int) -> None:
        replay = os.path.exists(os.path.join(self.sink.manifest_dir, f"{batch_id}.json"))
        t_read = time.perf_counter()
        j0 = self.store.max_job_id() if self.store else None
        t0 = time.perf_counter()
        self.sink.write_batch(df, batch_id)
        t1 = time.perf_counter()
        rec = {"batch_id": batch_id, "ms": (t1 - t0) * 1e3, "replay": replay}
        if self.store:
            rec["job_ms"] = sum(d for j, d in self.store.jobs() if j > j0) * 1e3
        # status-store reads are the tracing cost on the commit path
        rec["trace_s"] = (t0 - t_read) + (time.perf_counter() - t1)
        self.calls.append(rec)


def stream_trickle_catchup(run: Run) -> None:
    from watermark_detector_spark.plans.flagship import flagship_stream
    from watermark_detector_spark.sources.pages import read_pages_stream
    from watermark_detector_spark.streaming.sink import ExactlyOnceParquetSink

    n_trickle = max(TRICKLE_MIN_FILES, round(run.seconds * TRICKLE_RATE))
    n_files = STREAM_WARM_FILES + n_trickle + BACKLOG_FILES
    with run.span("inputs"):
        root = inputs.stream_inputs(run.seed, n_files)
    cfg = inputs.stream_config(run.seed, n_files)
    with open(os.path.join(root, "meta.json")) as fh:
        meta = json.load(fh)
    golden = pd.read_parquet(os.path.join(root, "golden.parquet"))
    names = [f"f{b:05d}.parquet" for b in range(n_files)]
    warm_names = names[:STREAM_WARM_FILES]
    trickle_names = names[STREAM_WARM_FILES:STREAM_WARM_FILES + n_trickle]
    backlog_names = names[STREAM_WARM_FILES + n_trickle:]

    spark = run.start_spark()
    st = _Stream(run, root)
    run.mark("spark")
    listener = ProgressListener()
    spark.streams.addListener(listener)
    store = StatusStore(spark) if run.trace else None
    probes: list[_SinkProbe] = []

    def start(max_files: int):
        probe = _SinkProbe(ExactlyOnceParquetSink(st.sink_root), store)
        probes.append(probe)
        agg = flagship_stream(read_pages_stream(spark, st.dir, max_files), cfg.signatures)
        return (agg.writeStream.outputMode("append")
                .option("checkpointLocation", st.ck)
                .foreachBatch(probe).start())

    # -- warm-up: closed loop on the first files, charged to set-up --------
    t0 = time.perf_counter()
    with run.span("session.warmup"):
        q = start(1)
        prev, steady_at, warm_times = None, None, []
        for nm in warm_names:
            t_land = st.land(nm)
            ct = st.wait_committed([nm], 120)
            dt = ct.get(nm, time.time()) - t_land
            warm_times.append(dt)
            if steady_at is None and prev is not None and abs(dt - prev) <= 0.15 * min(dt, prev):
                steady_at = time.perf_counter() - t0
            prev = dt
    warm_s = steady_at if steady_at is not None else time.perf_counter() - t0
    run.layer["session.warmup_s"] = warm_s
    run.setup_s += warm_s
    run.diag["warm_s"] = warm_times

    run.mark("warm")
    # -- open-loop trickle --------------------------------------------------
    run.cpu_mark()
    sched: dict[str, float] = {}
    backlog_samples: list[int] = []

    errors: list[BaseException] = []

    def generator(t_start: float) -> None:
        try:
            for k, nm in enumerate(trickle_names):
                due = t_start + k / TRICKLE_RATE
                time.sleep(max(0.0, due - time.time()))
                sched[nm] = due
                st.land(nm)
                consumed = len(st.commit_times(list(st.landed)))
                backlog_samples.append(len(st.landed) - consumed)
        except BaseException as e:  # re-raised on the main thread
            errors.append(e)

    n_prog0, n_calls0 = len(listener.snapshot()), len(probes[0].calls)
    with run.span("stream.trickle"):
        gen = threading.Thread(target=generator, args=(time.time() + 0.5,))
        gen.start()
        gen.join()
        if errors:
            raise errors[0]
        ct = st.wait_committed(trickle_names, 60)
    trickle_prog = listener.snapshot()[n_prog0:]
    trickle_calls = [c for c in probes[0].calls[n_calls0:] if not c["replay"]]
    lat = {nm: ct[nm] - sched[nm] for nm in ct}
    for nm in trickle_names:
        run.op(nm in lat and lat[nm] <= LATENCY_LIMIT_S, f"trickle {nm}")
    for nm in warm_names:
        run.op(True, f"warm {nm}")
    lat_ms = sorted(v * 1e3 for v in lat.values()) or [float("nan")]
    run.diag["trickle_latency_ms"] = lat_ms
    run.diag["generator_late_ms"] = max(st.landed[nm] - sched[nm] for nm in sched) * 1e3
    cpu_trickle = run.cpu_since_mark()

    run.mark("trickle")
    # -- stop, land a backlog while the query is down ----------------------
    st.stop_when_idle(q, run)
    last = max(int(f) for f in os.listdir(os.path.join(st.ck, "commits")) if f.isdigit())
    for nm in backlog_names:
        st.land(nm)

    run.mark("stopped")
    # -- restart from the same checkpoint and drain (closed loop) ----------
    run.cpu_mark()
    n_prog1 = len(listener.snapshot())
    with run.span("stream.catchup"):
        t_restart = time.time()
        q = start(CATCHUP_MAX_FILES)
        ct_b = st.wait_committed(backlog_names, 120)
    cpu_catch = run.cpu_since_mark()
    for nm in backlog_names:
        run.op(nm in ct_b, f"backlog {nm}")
    backlog_docs = sum(meta["n_docs"][names.index(nm)] for nm in backlog_names)
    drain_s = (max(ct_b.values()) - t_restart) if ct_b else float("nan")
    new_commits = [m["committed_at_epoch"] for m in
                   (st.manifest(b) for b in range(last, last + 64)) if m
                   and m["committed_at_epoch"] > t_restart]
    first_commit_s = min(new_commits) - t_restart if new_commits else float("nan")

    run.mark("catchup")
    # -- flush: advance the watermark so every window is emitted -----------
    st.land("flush.parquet")
    deadline = time.time() + 60
    while st.committed_rows() < len(golden) and time.time() < deadline:
        time.sleep(0.1)
    st.stop_when_idle(q, run)
    run.op("flush.parquet" in st.wait_committed(["flush.parquet"], 5), "flush file")
    got = ExactlyOnceParquetSink(st.sink_root).read(spark).toPandas()
    run.op(windows_match(got, golden, approx=True), "sink output vs golden")

    run.mark("flushed")
    # rows dropped by watermark: every execution of a micro-batch (a
    # replayed one runs twice) drops the late (domain, window) groups of
    # the files it read — the rows the stateful aggregation receives
    deadline = time.time() + 10
    fb = st.file_batches()
    while time.time() < deadline:
        prog = listener.snapshot()
        if {p["batchId"] for p in prog} >= set(fb.values()):
            break
        time.sleep(0.1)
    by_batch: dict[int, set] = {}
    for nm, b in fb.items():
        if nm in names:
            by_batch.setdefault(b, set()).update(
                tuple(g) for g in meta["late_groups"][names.index(nm)])
    expected = sum(len(by_batch.get(p["batchId"], ())) for p in prog)
    dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                  for p in prog for s in p["stateOperators"])
    # progress arrives asynchronously: the stopped query's last events can
    # land after the restart, so the restarted run is picked by its run id
    catch_prog = [p for p in prog[n_prog1:] if p["runId"] == str(q.runId)]
    run.diag["dropped_by_watermark"] = {"observed": dropped, "expected": expected}
    run.op(dropped == expected, "rows dropped by watermark")

    run.mark("checked")
    run.e2e["throughput_docs_per_s"] = backlog_docs / drain_s
    run.e2e["latency_p50_ms"] = _median(lat_ms)
    kdocs = (sum(meta["n_docs"][names.index(nm)] for nm in trickle_names) + backlog_docs) / 1e3
    run.finish_common((cpu_trickle[0] + cpu_catch[0], cpu_trickle[1] + cpu_catch[1]), kdocs)
    if run.trace:
        _stream_layers(run, trickle_prog, catch_prog, probes, trickle_calls, st,
                       lat_ms, backlog_samples, t_restart, first_commit_s, dropped)


def _stream_layers(run, trickle_prog, catch_prog, probes, trickle_calls, st,
                   lat_ms, backlog_samples, t_restart, first_commit_s, dropped) -> None:
    """Medians over the trickle's data batches: Spark's progress phases,
    state-store commit, and the sink call split into Spark jobs and the
    rest (its filesystem round trips); restart and replay counters."""
    from datetime import datetime

    data = [p for p in trickle_prog if p["numInputRows"] > 0] or trickle_prog

    def median_phase(key):
        return _median([p["durationMs"].get(key, 0) for p in data])

    run.layer.update({
        "pipeline.trigger_ms": median_phase("triggerExecution"),
        "pipeline.query_planning_ms": median_phase("queryPlanning"),
        "pipeline.wal_commit_ms": median_phase("walCommit"),
        "pipeline.add_batch_ms": median_phase("addBatch"),
        "pipeline.commit_offsets_ms": median_phase("commitOffsets"),
        "pages.listing_ms": _median([p["durationMs"].get("latestOffset", 0)
                                     + p["durationMs"].get("getBatch", 0) for p in data]),
        "pipeline.state_commit_ms": _median([sum(s.get("commitTimeMs", 0) for s in p["stateOperators"])
                                             for p in data]),
        "pipeline.state_rows": sum(s["numRowsTotal"] for s in data[-1]["stateOperators"]),
        "pipeline.state_mb": sum(s["memoryUsedBytes"] for s in data[-1]["stateOperators"]) / 2**20,
        "pipeline.rows_dropped_by_watermark": dropped,
        "pages.backlog_max_files": max(backlog_samples, default=0),
        "stream.commit_latency_p90_ms": float(np.percentile(lat_ms, 90)),
        "stream.restart_first_commit_s": first_commit_s,
        "stream.generator_late_ms": run.diag["generator_late_ms"],
    })
    if catch_prog:
        ts = datetime.fromisoformat(catch_prog[0]["timestamp"].replace("Z", "+00:00"))
        run.layer["pipeline.restart_recover_ms"] = (ts.timestamp() - t_restart) * 1e3
    calls = [c for p in probes for c in p.calls]
    useful = [c for c in calls if not c["replay"]]
    run.layer.update({
        "sink.write_batch_ms": _median([c["ms"] for c in trickle_calls]),
        "sink.job_ms": _median([c["job_ms"] for c in trickle_calls]),
        "sink.fs_ms": _median([c["ms"] - c["job_ms"] for c in trickle_calls]),
        "sink.noop_replays": len(calls) - len(useful),
        "trace.overhead_s": sum(c["trace_s"] for c in calls),
        "sink.useful_ratio": len(useful) / max(1, len(calls)),
    })
    files = [m["n_files"] for m in (st.manifest(c["batch_id"]) for c in useful) if m]
    run.layer["sink.files_per_batch"] = _median(files) if files else 0.0


# ---------------------------------------------------------------------------
# dedup layers (traced batch_backfill run)
# ---------------------------------------------------------------------------

DEDUP_STAGES = ["q45_near_dup_pairs", "q59_dedup_clusters", "q116_pagerank"]


def _frame_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Integer columns exact; jaccard exact at its 4-decimal rounding;
    ranks at 8 significant digits."""
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    ints = [c for c in want.columns if c not in ("jaccard", "rank")]
    g = got.sort_values(ints).reset_index(drop=True)
    w = want.sort_values(ints).reset_index(drop=True)
    for c in want.columns:
        if c == "rank":
            if not np.allclose(g[c], w[c], rtol=5e-8, atol=0):
                return False
        elif c == "jaccard":
            if not np.allclose(g[c], w[c], rtol=0, atol=1e-9):
                return False
        elif not (g[c].astype("int64").to_numpy() == w[c].astype("int64").to_numpy()).all():
            return False
    return True


def _dedup_layers(run: Run, spark, root: str) -> None:
    """pairs → clusters → pagerank over the seeded ``documents`` table,
    each stage run to a complete collected result through the driver
    contract's q45/q59/q116 (the engine's near_dup_pairs, dedup_clusters
    and pagerank) and checked against the DuckDB oracle SQL."""
    import duckdb

    import __spark_entry__ as entry
    from watermark_detector_spark.operators.dedup import minhash_lsh_candidates

    docs_path = os.path.join(root, "documents.parquet")
    with duckdb.connect() as con:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        want = {q: con.sql(entry.oracle_sql()[q]).df() for q in DEDUP_STAGES}
    queries = entry.queries()
    got: dict[str, pd.DataFrame] = {}
    timed: dict[str, float] = {}

    def pipeline() -> float:
        for q in DEDUP_STAGES:
            t0 = time.perf_counter()
            got[q] = queries[q](spark, root).toPandas()
            timed[q] = time.perf_counter() - t0
        return sum(timed[q] for q in DEDUP_STAGES)

    with run.span("dedup.warmup"):
        warm_s, _, wall = warm_until_steady(pipeline, DEDUP_WARM_MAX, DEDUP_WARM_TOL)
    run.layer["dedup.warmup_s"] = warm_s
    run.layer["dedup.wall_s"] = wall

    store = StatusStore(spark)
    docs = spark.read.parquet(docs_path).repartition(nproc(), "doc_id")
    _, sh0 = store.stage_bytes()
    with run.span("dedup.candidates"):
        t0 = time.perf_counter()
        n_cand = minhash_lsh_candidates(docs).count()
        cand_s = time.perf_counter() - t0
    with run.span("dedup.pipeline"):
        pipeline()
    _, sh1 = store.stage_bytes()
    for q in DEDUP_STAGES:
        run.op(_frame_match(got[q], want[q]), f"{q} vs oracle")
    n_pairs = len(got["q45_near_dup_pairs"])
    run.layer.update({
        "dedup.candidates_s": cand_s,
        "dedup.candidates": n_cand,
        "dedup.pairs_s": timed["q45_near_dup_pairs"],
        "dedup.pairs": n_pairs,
        "dedup.precision": n_pairs / max(1, n_cand),
        "dedup.clusters_s": timed["q59_dedup_clusters"],
        "dedup.clusters": got["q59_dedup_clusters"]["cluster_id"].nunique(),
        "dedup.shuffle_bytes": sh1 - sh0,
        "graph.pagerank_s": timed["q116_pagerank"],
        "graph.edges": entry._pagerank_edges(spark, root).count(),
    })


WORKLOADS = {
    "batch_backfill": batch_backfill,
    "stream_trickle_catchup": stream_trickle_catchup,
}
