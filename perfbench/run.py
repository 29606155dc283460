"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_microbatch --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with nothing patched; ``--trace 1`` patches the package's
public functions (``perfbench/trace.py``), turns on an uncompressed
Spark event log and reports the per-layer metrics instead. The last
line of stdout is the JSON result; the lines before it are a
human-readable report that names each metric with its unit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "privacy_cdc_lakehouse_spark"
CORES = min(4, os.cpu_count() or 1)
SETUP_REPS = 2

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_per_s": "1/s",
}

TABLE_OPS = (
    ("bronze", "append"),
    ("bronze", "read"),
    ("silver", "overwrite"),
    ("silver", "merge"),
    ("silver", "read"),
    ("silver", "delete_where"),
    ("privacy", "overwrite"),
    ("privacy", "delete_where"),
    ("checkpoints", "overwrite"),
    ("checkpoints", "merge"),
    ("checkpoints", "read"),
)
READ_KINDS = (
    ("catalog.read", "agg_status"),
    ("catalog.read", "agg_priv"),
    ("lake.read", "point"),
    ("lake.read", "range"),
    ("lake.read", "time_travel"),
)
SPARK_SPANS = (
    "cdc.jobs.ingest_bronze_idempotent",
    "cdc.jobs.merge_silver",
    "cdc.jobs.rebuild_silver",
    "cdc.jobs.forget_user",
    "catalog.read",
    "curation.dedup",
    "curation.topk",
)


def per_layer_names() -> list[str]:
    from perfbench.trace import SPARK_COUNTERS

    names = [
        f"streaming.pipeline.{k}"
        for k in ("trigger_ms", "add_batch_ms", "wal_commit_ms", "query_planning_ms", "latest_offset_ms")
    ]
    names += [
        f"cdc.jobs.ingest_bronze_idempotent.{k}"
        for k in ("busy_s", "rows_in", "rows_appended", "fresh_share")
    ]
    names.append("cdc.jobs.bronze_high_watermark.busy_s")
    names += [
        f"cdc.jobs.merge_silver.{k}" for k in ("busy_s", "self_s", "spark_jobs", "slope_s_per_batch")
    ]
    for t, op in TABLE_OPS:
        names += [f"tables.{t}.{op}.calls", f"tables.{t}.{op}.busy_s"]
    names += [
        f"tables.silver.{k}"
        for k in (
            "live_files",
            "live_files_per_batch",
            "live_bytes_per_row",
            "versions",
            "bytes_written_per_event",
            "point_read_file_share",
        )
    ]
    names.append("tables.bronze.live_files")
    names += [
        f"cdc.jobs.{f}.busy_s"
        for f in ("ingest_bronze", "rebuild_silver", "build_privacy", "compute_dq_metrics")
    ]
    names += [
        "cdc.silver.parse_cdc_envelope.build_s",
        "cdc.silver.latest_state.build_s",
        "cdc.privacy.pseudonymize_orders.build_s",
        "catalog.register_lakehouse.busy_s",
    ]
    for prefix, kind in READ_KINDS:
        names += [f"{prefix}.{kind}.plan_s", f"{prefix}.{kind}.exec_s"]
    names += ["cdc.jobs.forget_user.busy_s", "cdc.jobs.forget_user.self_s"]
    names += [
        "operators.dedup.minhash_lsh_pairs.busy_s",
        "operators.dedup.ngram_jaccard_pairs.busy_s",
        "operators.dedup.candidates",
        "operators.dedup.verified",
        "operators.dedup.verify_yield",
        "operators.similarity.lsh_topk.busy_s",
        "operators.similarity.lsh_topk.recall_at_k",
        "operators.text.with_pii_redaction.busy_s",
        "operators.text.with_text_stats.busy_s",
        "curation.text.busy_s",
        "curation.dedup.busy_s",
        "curation.topk.busy_s",
    ]
    for span in SPARK_SPANS:
        names += [f"{span}.spark.{c}" for c in SPARK_COUNTERS]
    names += ["process.peak_rss_mb", "jvm.heap_peak_mb", "trace.spans_per_op", "trace.op_p50_s"]
    return names


# ----------------------------------------------------------------------------
# process-tree memory
# ----------------------------------------------------------------------------


def _start_time(pid: int) -> int | None:
    """Process start time (clock ticks since boot); tells a live process
    from a later one that reused its pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out = []
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak summed resident memory of this process and all its
    descendants (the JVM and Spark's Python workers), sampled from /proc.

    Each process counts its proportional share (``Pss``) of pages it
    shares with others, so a page mapped by a parent and a freshly
    spawned child is counted once, not twice.
    """

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        return sum(self._pss(pid) for pid in [os.getpid(), *descendants(os.getpid())])

    def _pss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except (OSError, IndexError, ValueError):
            pass
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self._tree_rss())
        return False


# ----------------------------------------------------------------------------
# Spark session
# ----------------------------------------------------------------------------


class Context:
    def __init__(self, work: str, seed: int, traced: bool):
        self.work = work
        self.seed = seed
        self.traced = traced
        self.spark = None
        self.tracer = None

    def start_session(self):
        from privacy_cdc_lakehouse_spark.session import session_builder

        tmp = os.path.join(self.work, "tmp")
        # The driver heap is the package's own setting (spark.driver.memory
        # from session_builder). -XX:-UsePerfData keeps the JVM out of
        # /tmp/hsperfdata_*.
        b = (
            session_builder("perfbench", master=f"local[{CORES}]")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", os.path.join(self.work, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        )
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", log_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")

    def heap_peak_mb(self) -> float:
        """Sum over the JVM's heap memory pools of each pool's peak used
        bytes since the JVM started, in MB."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(
            p.getPeakUsage().getUsed()
            for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP"
        ) / 2**20

    def restart_session(self):
        self.spark.stop()
        self.start_session()

    def set_phase(self, phase: str) -> None:
        """Tag the spans opened from now on (``setup``, ``warmup``, ``measure``)."""
        if self.tracer is not None:
            self.tracer.phase = phase

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def shutdown(self):
        """Stop Spark, then the JVM, and wait until it and every process
        it started (Spark's Python workers) have exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        started = {p: _start_time(p) for p in descendants(os.getpid())}
        proc = getattr(gw, "proc", None)
        with contextlib.suppress(Exception):
            gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        def alive():
            return [p for p, t in started.items() if t is not None and _start_time(p) == t]

        deadline = time.monotonic() + 30
        while alive() and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in alive():
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)


def _environment(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    py = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py if py else "")


def _package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


# ----------------------------------------------------------------------------
# tracing
# ----------------------------------------------------------------------------


def install_tracer(ctx: Context):
    from perfbench.trace import Tracer
    from privacy_cdc_lakehouse_spark import catalog, tables
    from privacy_cdc_lakehouse_spark.cdc import jobs, privacy, silver
    from privacy_cdc_lakehouse_spark.operators import dedup, similarity, text
    from privacy_cdc_lakehouse_spark.streaming import pipeline

    tracer = Tracer(run_id=f"{os.getpid()}-{ctx.seed}", spark=ctx.spark)
    for mod, label in (
        (pipeline, "streaming.pipeline"),
        (jobs, "cdc.jobs"),
        (silver, "cdc.silver"),
        (privacy, "cdc.privacy"),
        (catalog, "catalog"),
        (dedup, "operators.dedup"),
        (similarity, "operators.similarity"),
        (text, "operators.text"),
    ):
        tracer.install_module(mod, label)

    def table_label(t) -> str:
        tail = t.path.rstrip("/").split("/")
        name = {
            "orders_cdc_raw": "bronze",
            "orders_current": "silver",
            "orders_current_priv": "privacy",
            "cdc_checkpoints": "checkpoints",
        }.get(tail[-1], tail[-1])
        return f"tables.{name}"

    tracer.install_methods(
        tables.LakeTable, ("append", "overwrite", "merge", "read", "delete_where"), table_label
    )
    ctx.tracer = tracer
    return tracer


def layer_metrics(ctx: Context, out, op_p50: float) -> dict[str, float]:
    from perfbench import trace
    from perfbench.workloads import _slope

    # Timings and Spark counters are per call over every traced call of
    # the second set-up and the measured phase (a warm-up pass is left
    # out); call counts, rows per ingest and the per-batch slope come
    # from the measured phase only.
    spans = [s for s in ctx.tracer.spans if s.attrs["phase"] != "warmup"]
    st = trace.layer_stats(spans)
    measured = trace.layer_stats([s for s in spans if s.attrs["phase"] == "measure"])
    counters = trace.rollup_counters(
        spans, trace.event_log_counters(os.path.join(ctx.work, "eventlog"))
    )
    lay = out.layer
    n_ops = max(1, lay.get("n_ops", 0))

    def per_call(name: str, key: str = "busy_s") -> float:
        s = st.get(name)
        if not s:
            return 0.0
        n = len(s["durations"]) if key == "busy_s" else s["calls"]
        return s[key] / n if n else 0.0

    def calls(name: str) -> float:
        s = measured.get(name)
        return s["calls"] / n_ops if s else 0.0

    m: dict[str, float] = {}
    batches = lay.get("batches", [])
    for key, src in (
        ("trigger_ms", "triggerExecution"),
        ("add_batch_ms", "addBatch"),
        ("wal_commit_ms", "walCommit"),
        ("query_planning_ms", "queryPlanning"),
        ("latest_offset_ms", "latestOffset"),
    ):
        vals = [b[2].get(src, 0) for b in batches]
        m[f"streaming.pipeline.{key}"] = float(statistics.median(vals)) if vals else 0.0
    ing = "cdc.jobs.ingest_bronze_idempotent"
    n_ing = len(measured[ing]["durations"]) if ing in measured else 0
    delivered, fresh = lay.get("delivered", 0), lay.get("fresh", 0)
    m[f"{ing}.busy_s"] = per_call(ing)
    m[f"{ing}.rows_in"] = delivered / n_ing if n_ing else 0.0
    m[f"{ing}.rows_appended"] = fresh / n_ing if n_ing else 0.0
    m[f"{ing}.fresh_share"] = fresh / delivered if delivered else 0.0
    m["cdc.jobs.bronze_high_watermark.busy_s"] = per_call("cdc.jobs.bronze_high_watermark")
    ms = "cdc.jobs.merge_silver"
    m[f"{ms}.busy_s"] = per_call(ms)
    m[f"{ms}.self_s"] = per_call(ms, "self_s")
    n_ms = st[ms]["calls"] if ms in st else 0
    m[f"{ms}.spark_jobs"] = counters.get(ms, {}).get("jobs", 0) / n_ms if n_ms else 0.0
    m[f"{ms}.slope_s_per_batch"] = (
        _slope([d for _, d in sorted(measured[ms]["durations"])]) if ms in measured else 0.0
    )
    for t, op in TABLE_OPS:
        name = f"tables.{t}.{op}"
        m[f"{name}.calls"] = calls(name)
        m[f"{name}.busy_s"] = per_call(name)
    shapes = lay.get("shapes", [])
    if shapes:
        first, last = shapes[0], shapes[-1]
        rows = max(1, lay.get("silver_rows", 1))
        n_b = max(1, len(batches))
        m["tables.silver.live_files"] = float(last["silver_files"])
        m["tables.silver.live_files_per_batch"] = (last["silver_files"] - first["silver_files"]) / n_b
        m["tables.silver.live_bytes_per_row"] = last["silver_bytes"] / rows
        m["tables.silver.versions"] = float(last["silver_version"])
        m["tables.silver.bytes_written_per_event"] = (
            (last["silver_written"] - first["silver_written"]) / delivered if delivered else 0.0
        )
        m["tables.bronze.live_files"] = float(last["bronze_files"])
    else:
        for k in ("live_files", "live_files_per_batch", "live_bytes_per_row", "versions", "bytes_written_per_event"):
            m[f"tables.silver.{k}"] = 0.0
        m["tables.bronze.live_files"] = 0.0
    share = lay.get("point_share", [])
    m["tables.silver.point_read_file_share"] = statistics.mean(share) if share else 0.0
    for f in ("ingest_bronze", "rebuild_silver", "build_privacy", "compute_dq_metrics"):
        m[f"cdc.jobs.{f}.busy_s"] = per_call(f"cdc.jobs.{f}")
    m["cdc.silver.parse_cdc_envelope.build_s"] = per_call("cdc.silver.parse_cdc_envelope")
    m["cdc.silver.latest_state.build_s"] = per_call("cdc.silver.latest_state")
    m["cdc.privacy.pseudonymize_orders.build_s"] = per_call("cdc.privacy.pseudonymize_orders")
    m["catalog.register_lakehouse.busy_s"] = per_call("catalog.register_lakehouse")
    for prefix, kind in READ_KINDS:
        m[f"{prefix}.{kind}.plan_s"] = per_call(f"{prefix}.{kind}.plan")
        m[f"{prefix}.{kind}.exec_s"] = per_call(f"{prefix}.{kind}.exec")
    m["cdc.jobs.forget_user.busy_s"] = per_call("cdc.jobs.forget_user")
    m["cdc.jobs.forget_user.self_s"] = per_call("cdc.jobs.forget_user", "self_s")
    m["operators.dedup.minhash_lsh_pairs.busy_s"] = per_call("operators.dedup.minhash_lsh_pairs")
    m["operators.dedup.ngram_jaccard_pairs.busy_s"] = per_call("operators.dedup.ngram_jaccard_pairs")
    cands = lay.get("candidates", [])
    ver = lay.get("verified", [])
    m["operators.dedup.candidates"] = statistics.mean(cands) if cands else 0.0
    m["operators.dedup.verified"] = statistics.mean(ver) if ver else 0.0
    m["operators.dedup.verify_yield"] = sum(ver) / sum(cands) if cands and sum(cands) else 0.0
    m["operators.similarity.lsh_topk.busy_s"] = per_call("operators.similarity.lsh_topk")
    rec = lay.get("recall", [])
    m["operators.similarity.lsh_topk.recall_at_k"] = statistics.mean(rec) if rec else 0.0
    m["operators.text.with_pii_redaction.busy_s"] = per_call("operators.text.with_pii_redaction")
    m["operators.text.with_text_stats.busy_s"] = per_call("operators.text.with_text_stats")
    for s in ("text", "dedup", "topk"):
        m[f"curation.{s}.busy_s"] = per_call(f"curation.{s}")
    for span in SPARK_SPANS:
        c = counters.get(span, {})
        n = st[span]["calls"] if span in st else 0
        for k in trace.SPARK_COUNTERS:
            m[f"{span}.spark.{k}"] = c.get(k, 0) / n if n else 0.0
    m["process.peak_rss_mb"] = lay.get("peak_rss_mb", 0.0)
    m["jvm.heap_peak_mb"] = lay.get("heap_peak_mb", 0.0)
    m["trace.spans_per_op"] = len(spans) / n_ops
    m["trace.op_p50_s"] = op_p50
    return m


# ----------------------------------------------------------------------------
# main
# ----------------------------------------------------------------------------


def run(workload: str, seed: int, seconds: float, traced: bool) -> int:
    from perfbench.workloads import WORKLOADS, Outcome, tail

    wl = WORKLOADS[workload]()
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    ctx = Context(work, seed, traced)
    out = Outcome()
    setups = []
    try:
        with RssSampler() as rss:
            state = None
            for rep in range(SETUP_REPS):
                rep_dir = os.path.join(work, f"rep{rep}")
                if rep > 0:
                    shutil.rmtree(os.path.join(work, f"rep{rep - 1}"), ignore_errors=True)
                t0 = time.perf_counter()
                if ctx.spark is None:
                    ctx.start_session()
                else:
                    ctx.restart_session()
                if traced and rep == SETUP_REPS - 1:
                    install_tracer(ctx)
                os.makedirs(rep_dir)
                inputs = wl.inputs(seed)
                state = wl.setup(ctx, inputs, rep_dir)
                setups.append(time.perf_counter() - t0)
            ctx.set_phase("measure")
            wl.measure(ctx, state, seconds, out)
            if traced and hasattr(state, "lake"):
                from perfbench.workloads import _lake_shape

                if not out.layer.get("shapes"):
                    out.layer["shapes"] = [_lake_shape(ctx, state)] * 2
                out.layer["silver_rows"] = len(state.model.silver)
            if traced:
                out.layer["heap_peak_mb"] = ctx.heap_peak_mb()
    finally:
        if ctx.tracer is not None:
            ctx.tracer.uninstall()
        ctx.shutdown()

    ops = out.op_latencies
    p50 = statistics.median(ops) if ops else 0.0
    tail_v, tail_label = tail(ops)
    throughput = out.work_units / out.wall_s if out.wall_s else 0.0
    attempted = max(1, out.attempted)
    correct = out.failed == 0 and not out.errors and bool(ops)

    print(f"workload {workload} seed {seed} seconds {seconds} trace {int(traced)}")
    print(f"  knobs: {getattr(wl, 'knobs', None)}")
    for name, (val, unit) in out.report.items():
        print(f"  {name} = {val:.6g} {unit}")
    print(f"  setup_s = {statistics.median(setups):.6g} s (median of {len(setups)}: "
          + ", ".join(f"{s:.3f}" for s in setups) + ")")
    print(f"  op_tail_s = {tail_v:.6g} s ({tail_label})")
    print(f"  peak_rss_mb = {rss.peak / 2**20:.6g} MB")
    print(f"  failed_op_share = {out.failed / attempted:.6g} ({out.failed} of {attempted})")
    for e in out.errors:
        print(f"MISMATCH: {e}", file=sys.stderr)

    if traced:
        out.layer["peak_rss_mb"] = rss.peak / 2**20
        metrics = layer_metrics(ctx, out, p50)
        trace_dir = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(trace_dir, f"{workload}-s{seed}.jsonl"))
        result = {k: {"value": metrics[k], "unit": _layer_unit(k)} for k in per_layer_names()}
    else:
        values = {
            "setup_s": statistics.median(setups),
            "op_p50_s": p50,
            "op_tail_s": tail_v,
            "throughput_per_s": throughput,
        }
        result = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": out.failed,
                "metrics": result,
            }
        )
    )
    return 0 if correct else 3


def _layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s") or leaf == "slope_s_per_batch":
        return "s"
    if leaf.endswith("bytes") or leaf in ("bytes_written_per_event", "live_bytes_per_row"):
        return "bytes"
    if leaf in ("fresh_share", "verify_yield", "point_read_file_share", "recall_at_k"):
        return "fraction"
    return "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not _package_present():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        return run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
