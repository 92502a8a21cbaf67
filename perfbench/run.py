"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry-batch --seed 1 --seconds 14 --trace 0

One process, one client thread, closed loop: each call waits for the one
before it. The run generates its inputs from the seed, then times
session set-up (several times), one cold pass and warm passes for
``--seconds``, and finally checks the last warm pass's outputs. Pass
times are reported scaled by the host's speed, which a reference loop
timed between calls gives (see ``reference_s``). The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see README.md). A JSON file with every call, span and the run's
provenance is written under ``.perfbench_work/runs/`` (or ``--out``).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
SETUPS = 5  # session set-ups per run; setup_s is their median
WARM_PASSES = 2  # at least this many warm passes per run


def _cpu_ticks() -> dict:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(fields[:8]), "steal": fields[7] if len(fields) > 7 else 0}


def _host_state() -> dict:
    return {"loadavg": list(os.getloadavg()), "cpu_ticks": _cpu_ticks(), "time": time.time()}


def provenance(args, cores: int) -> dict:
    import duckdb
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = None
    src = hashlib.sha256()
    for path in sorted((ROOT / "gelly_streaming_spark").rglob("*.py")):
        src.update(path.relative_to(ROOT).as_posix().encode())
        src.update(path.read_bytes())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "cores_used": cores,
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "commit": commit,
        "engine_source_sha256": src.hexdigest(),
        "start": _host_state(),
    }


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let
    Spark's Python workers import the engine."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["GSS_TMPDIR"] = str(tmp / "gss")
    # every JVM (launcher and driver): temp files in the checkout, and no
    # hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _build_session(confs: dict, cores: int):
    from gelly_streaming_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_confs={"spark.sql.warehouse.dir": str(WORK / "warehouse"), **confs},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class StreamProgress:
    """Passive StreamingQueryListener: keeps every progress report."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.reports: list[dict] = []
        self.started = 0
        self.terminated = 0
        self.label = ""

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                outer.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                outer.reports.append({
                    "label": outer.label,
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                outer.terminated += 1

        self.listener = _Listener()

    def drain(self, timeout: float = 10.0) -> None:
        """Wait until every started query's events have arrived."""
        deadline = time.time() + timeout
        while self.terminated < self.started and time.time() < deadline:
            time.sleep(0.01)


def _plan(df, rec: dict) -> None:
    """Analyse, optimise and plan ``df``'s logical plan afresh, timing each
    Catalyst phase (traced mode only; the action plans it again)."""
    jvm = df.sparkSession.sparkContext._jvm  # noqa: SLF001
    state = df.sparkSession._jsparkSession.sessionState()  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL()
    qe = state.executePlan(df._jdf.queryExecution().logical(), mode)  # noqa: SLF001
    t0 = time.perf_counter()
    qe.analyzed()
    t1 = time.perf_counter()
    qe.optimizedPlan()
    t2 = time.perf_counter()
    qe.executedPlan()
    t3 = time.perf_counter()
    rec["plan_s"] = t3 - t0
    rec["catalyst"] = {"analysis": t1 - t0, "optimization": t2 - t1, "planning": t3 - t2}


# Host-speed reference: a fixed pure-Python loop, timed in slices between
# calls. On a shared host the speed of every core drifts by up to 1.6x
# over minutes, and a whole run (about a minute) sits inside one such
# stretch, so raw pass times of runs made minutes apart spread by 0.3 of
# their median. The reference loop runs none of the engine's code and
# slows with the host, so pass times scaled by it keep the engine's own
# cost and lose most of the host's drift (README.md, "Host-speed scaling").
REF_LOOP = 200_000  # iterations per slice: about 18 ms
REF_SLICES = 2  # slices before each call
REF_NOMINAL_S = 0.018  # the slice time the scaled metrics are expressed at


def reference_s() -> float:
    """Time one slice of the reference loop."""
    t0 = time.perf_counter()
    s = 0
    for i in range(REF_LOOP):
        s += i * i % 7
    return time.perf_counter() - t0


def run_pass(workload, spark, tracer, phase: str, progress) -> tuple[list[dict], dict]:
    """One pass over the workload's calls; returns its call records and
    the DataFrames the calls returned."""
    results = {}
    records = []
    for call in workload.calls(spark):
        if progress is not None:
            progress.label = f"{phase}:{call.name}"
        ref = [reference_s() for _ in range(REF_SLICES)]
        with tracer.call(call.name, phase) as rec:
            b0 = time.time()
            t0 = time.perf_counter()
            df = call.run()
            rec["build_s"] = time.perf_counter() - t0
            rec["build_window"] = (b0, time.time())
            if tracer.enabled:
                _plan(df, rec)
            df.write.format("noop").mode("overwrite").save()
            results[call.name] = df
        records.append(tracer.calls[-1])
        records[-1]["ref_s"] = ref
        if progress is not None:
            progress.drain()
    return records, results


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _pass_wall(records: list[dict]) -> float:
    return sum(r["wall_s"] for r in records)


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stream_summary(progress, warm_records: list[dict], edges: int) -> dict:
    labels = {f"{r['phase']}:{r['name']}" for r in warm_records}
    trig = [
        r["ms"].get("triggerExecution", 0) / 1e3
        for r in progress.reports
        if r["label"] in labels and r["rows"] > 0
    ]
    passes: dict[str, list[dict]] = {}
    for r in warm_records:
        passes.setdefault(r["phase"], []).append(r)
    rates = [edges * len(p) / _pass_wall(p) for p in passes.values()]
    return {
        "microbatch_p50_s": statistics.median(trig),
        "microbatch_p90_s": statistics.quantiles(trig, n=10, method="inclusive")[8],
        "microbatch_samples": len(trig),
        "stream_edges_per_s": statistics.median(rates),
    }


def host_speed(records: list[dict]) -> float:
    """Median reference slice time over the calls of ``records``."""
    return statistics.median(t for r in records for t in r["ref_s"])


def raw_times(cold, warm_records) -> dict:
    """Pass times as measured, and the reference slice medians.

    ``warm_pass_s`` is a typical warm pass: the sum over calls of each
    call's median warm latency, so a burst of host load moves one sample
    of a call, not the figure."""
    by_call: dict[str, list[float]] = {}
    for r in warm_records:
        by_call.setdefault(r["name"], []).append(r["wall_s"])
    per_call = [statistics.median(v) for v in by_call.values()]
    return {
        "cold_pass_s": (_pass_wall(cold), "s"),
        "warm_pass_s": (sum(per_call), "s"),
        "call_geomean_s": (statistics.geometric_mean(per_call), "s"),
        "reference_cold_s": (host_speed(cold), "s"),
        "reference_warm_s": (host_speed(warm_records), "s"),
    }


def end_to_end(setups, cold, warm_records) -> dict:
    """Set-up time as measured, and pass times scaled to the reference
    speed (``*_norm_s``): measured time x REF_NOMINAL_S / the median
    reference slice of the same kind of pass."""
    raw = {k: v for k, (v, _) in raw_times(cold, warm_records).items()}
    cold_scale = REF_NOMINAL_S / raw["reference_cold_s"]
    warm_scale = REF_NOMINAL_S / raw["reference_warm_s"]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "cold_pass_norm_s": (raw["cold_pass_s"] * cold_scale, "s"),
        "warm_pass_norm_s": (raw["warm_pass_s"] * warm_scale, "s"),
        "call_geomean_norm_s": (raw["call_geomean_s"] * warm_scale, "s"),
    }


PKG = "gelly_streaming_spark"
ALGOS = {  # metric name -> (module under algos/, entry point)
    "cc": ("connected_components", "connected_components"),
    "pagerank": ("pagerank", "pagerank"),
    "lpa": ("lpa", "label_propagation"),
    "bfs": ("bfs", "bfs_distances"),
    "kcore": ("kcore", "k_core"),
    "hits": ("hits", "hits"),
}
EXT_MODULES = ["text", "dedup", "similarity", "embeddings", "split", "pipeline", "web"]
STREAM_PHASES = {
    "trigger": "triggerExecution",
    "add_batch": "addBatch",
    "get_batch": "getBatch",
    "query_planning": "queryPlanning",
    "wal_commit": "walCommit",
    "commit_offsets": "commitOffsets",
}


def install_wrappers(spans) -> None:
    """Wrap the engine's layer entry points with spans (traced mode)."""
    from importlib import import_module

    from pyspark.sql.classic.dataframe import DataFrame

    from perfbench.trace import wrap_functions, wrap_method

    for mod, fn in ALGOS.values():
        wrap_functions(spans, import_module(f"{PKG}.algos.{mod}"), "algos", {fn})
    for mod in EXT_MODULES:
        wrap_functions(spans, import_module(f"{PKG}.ext.{mod}"), f"ext.{mod}")
    rows = lambda out: out.num_rows if hasattr(out, "num_rows") else len(out)  # noqa: E731
    probe = import_module(f"{PKG}.plans.probe")
    wrap_method(spans, probe, "bounded_take", "plans.bounded_take", rows)
    wrap_method(spans, DataFrame, "localCheckpoint", "plans.local_checkpoint")


def per_layer(setup_parts, cold, warm_records, spans, progress, traced_overhead) -> dict:
    by_pass: dict[str, list[dict]] = {}
    for r in warm_records:
        by_pass.setdefault(r["phase"], []).append(r)
    passes = list(by_pass.values())

    def med(fn) -> float:
        return statistics.median(fn(p) for p in passes) if passes else 0.0

    def total(key):
        return lambda p: sum(r.get(key, 0.0) for r in p)

    def phase_spans(layer, name=None):
        def per(p):
            ids = {r["id"] for r in p}
            return [
                s for s in spans.records
                if s["call"] in ids and s["layer"] == layer
                and (name is None or s["name"] == name)
            ]
        return per

    m = {
        "session.start_s": (statistics.median(s["session"] for s in setup_parts), "s"),
        "sources.restage_s": (statistics.median(s["sources"] for s in setup_parts), "s"),
        "queries.build_cold_s": (sum(r.get("build_s", 0.0) for r in cold), "s"),
        "queries.build_s": (
            med(lambda p: sum(r.get("build_s", 0.0) - r.get("build_job_s", 0.0) for r in p)),
            "s",
        ),
    }
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = (
            med(lambda p, ph=ph: sum(r.get("catalyst", {}).get(ph, 0.0) for r in p)), "s"
        )
    m["catalyst.plan_s"] = (med(total("plan_s")), "s")
    m["scheduler.jobs"] = (med(total("jobs")), "count")
    m["scheduler.stages"] = (med(total("stages")), "count")
    m["scheduler.tasks"] = (med(total("tasks")), "count")
    m["scheduler.job_s"] = (med(total("job_s")), "s")
    m["driver.gap_s"] = (med(total("gap_s")), "s")
    m["executor.run_s"] = (med(total("run_s")), "s")
    m["executor.cpu_s"] = (med(total("cpu_s")), "s")
    m["executor.gc_s"] = (med(total("gc_s")), "s")
    m["shuffle.read_bytes"] = (med(total("read_bytes")), "bytes")
    m["shuffle.write_bytes"] = (med(total("write_bytes")), "bytes")
    m["shuffle.spill_bytes"] = (med(total("spill_bytes")), "bytes")
    for key, unit in [("python.run_s", "s"), ("python.start_s", "s"),
                      ("python.bytes_sent", "bytes"), ("python.bytes_received", "bytes")]:
        m[key] = (med(total(key)), unit)
    bt = phase_spans("plans.bounded_take")
    m["plans.bounded_take_calls"] = (med(lambda p: len(bt(p))), "count")
    m["plans.bounded_take_s"] = (med(lambda p: sum(s["end"] - s["start"] for s in bt(p))), "s")
    m["plans.bounded_take_rows"] = (med(lambda p: sum(s.get("rows", 0) for s in bt(p))), "count")
    lc = phase_spans("plans.local_checkpoint")
    m["plans.local_checkpoints"] = (med(lambda p: len(lc(p))), "count")
    m["plans.local_checkpoint_s"] = (med(lambda p: sum(s["end"] - s["start"] for s in lc(p))), "s")
    for short, (_, fn) in ALGOS.items():
        sp = phase_spans("algos", fn)
        m[f"algos.{short}_s"] = (med(lambda p, sp=sp: sum(s["self_s"] for s in sp(p))), "s")
        m[f"algos.{short}_jobs"] = (med(lambda p, sp=sp: sum(s.get("jobs", 0) for s in sp(p))), "count")
    # ext functions only build plans (and run eager probes); memoised
    # registry plans skip them on warm passes, so these come from the
    # cold pass, where each one runs once.
    for mod in EXT_MODULES:
        sp = phase_spans(f"ext.{mod}")
        m[f"ext.{mod}_s"] = (sum(s["self_s"] for s in sp(cold)), "s")

    reports = progress.reports if progress is not None else []
    labels_by_pass = [{f"{r['phase']}:{r['name']}" for r in p} for p in passes]

    def stream_med(fn) -> float:
        vals = [fn([x for x in reports if x["label"] in labels]) for labels in labels_by_pass]
        return statistics.median(vals) if vals else 0.0

    m["streaming.batches"] = (stream_med(len), "count")
    m["streaming.input_rows"] = (stream_med(lambda rs: sum(x["rows"] for x in rs)), "count")
    for short, key in STREAM_PHASES.items():
        m[f"streaming.{short}_s"] = (
            stream_med(lambda rs, key=key: sum(x["ms"].get(key, 0) for x in rs) / 1e3), "s"
        )

    def last_state(rs, field):
        last = {}
        for x in rs:
            last[x["label"]] = x[field]
        return sum(last.values())

    m["streaming.state_rows"] = (stream_med(lambda rs: last_state(rs, "state_rows")), "count")
    m["streaming.state_memory_bytes"] = (
        stream_med(lambda rs: last_state(rs, "state_bytes")), "bytes"
    )
    for name in ("degrees", "window", "distinct", "running_degrees", "cc"):
        m[f"streaming.{name}_s"] = (
            med(lambda p, name=name: sum(r["wall_s"] for r in p if r["name"] == name)
                if progress is not None else 0.0), "s",
        )

    def lifecycle(p):
        if progress is None:
            return 0.0
        out = 0.0
        for r in p:
            label = f"{r['phase']}:{r['name']}"
            trig = sum(x["ms"].get("triggerExecution", 0) for x in reports if x["label"] == label)
            out += r["wall_s"] - trig / 1e3
        return out

    m["streaming.lifecycle_s"] = (med(lifecycle), "s")
    m["trace.overhead_ratio"] = (traced_overhead, "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--out", default=None, help="detail JSON path")
    args = ap.parse_args(argv)

    if not (ROOT / "gelly_streaming_spark" / "__init__.py").exists():
        print("perfbench: engine package gelly_streaming_spark not found", file=sys.stderr)
        return 2
    _prepare_env()
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = args.cores
    prov = provenance(args, cores)
    workload = WORKLOADS[args.workload](str(WORK / "inputs"), args.seed, cores)
    workload.generate()

    # --- set-up, several times; the first also launches the JVM -----------
    setup_parts = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _build_session(workload.session_confs(), cores)
        spark.range(1).count()  # the session is usable
        t1 = time.perf_counter()
        workload.load(spark)
        t2 = time.perf_counter()
        setup_parts.append({"session": t1 - t0, "sources": t2 - t1, "total": t2 - t0})
    setups = [p["total"] for p in setup_parts]

    from perfbench.trace import Tracer

    tracer = Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        install_wrappers(tracer.spans)
    progress = None
    if workload.streaming:
        progress = StreamProgress()
        spark.streams.addListener(progress.listener)

    cold, _ = run_pass(workload, spark, tracer, "cold", progress)
    baseline = []
    if args.trace:
        # one untraced warm pass: the base for the tracing overhead
        tracer.set_enabled(False)
        baseline, _ = run_pass(workload, spark, tracer, "baseline", progress)
        tracer.set_enabled(True)

    warm_records: list[dict] = []
    results: dict = {}
    # warm passes for --seconds: a new pass starts while time is left, so
    # the last one may run past it. There are at least WARM_PASSES, so that
    # every call has a median over more than its second, still warming call.
    t_warm = time.perf_counter()
    i = 0
    while i < WARM_PASSES or time.perf_counter() - t_warm < args.seconds:
        records, results = run_pass(workload, spark, tracer, f"warm{i}", progress)
        warm_records += records
        i += 1

    # --- correctness, outside the timed passes -----------------------------
    verdicts = workload.check(spark, results)
    all_records = cold + baseline + warm_records
    raised = [r for r in all_records if not r["ok"]]
    wrong = [n for n, v in verdicts.items() if v is not None]
    missing = [n for n in workload.names if n not in verdicts]
    attempted = len(all_records) + len(workload.names)  # calls, then checks
    failed = len(raised) + len(wrong) + len(missing)

    for r in all_records:
        if "job_s" in r:
            r["gap_s"] = r["wall_s"] - (
                r["build_s"] - r.get("build_job_s", 0.0) + r.get("plan_s", 0.0) + r["job_s"]
            )
    if args.trace:
        traced = statistics.median(
            _pass_wall([r for r in warm_records if r["phase"] == ph])
            for ph in {r["phase"] for r in warm_records}
        )
        metrics = per_layer(
            setup_parts, cold, warm_records, tracer.spans, progress,
            traced / _pass_wall(baseline),
        )
    else:
        metrics = end_to_end(setups, cold, warm_records)

    summary = {**end_to_end(setups, cold, warm_records), **raw_times(cold, warm_records)}
    summary["peak_rss_mb"] = (_peak_rss_mb(spark), "MB")
    summary["failed_frac"] = (failed / attempted, "ratio")
    if progress is not None:
        s = _stream_summary(progress, warm_records, workload.edges)
        summary["stream_edges_per_s"] = (s["stream_edges_per_s"], "edges/s")
        summary["microbatch_p50_s"] = (s["microbatch_p50_s"], "s")
        summary["microbatch_p90_s"] = (s["microbatch_p90_s"], "s")
        summary["microbatch_samples"] = (s["microbatch_samples"], "count")
    if args.trace:
        summary["untraced_warm_pass_s"] = (_pass_wall(baseline), "s")
        gaps = [r["gap_s"] for r in warm_records if "gap_s" in r]
        summary["min_call_gap_s"] = (min(gaps) if gaps else 0.0, "s")

    prov["end"] = _host_state()
    prov["steal_share"] = (
        (prov["end"]["cpu_ticks"]["steal"] - prov["start"]["cpu_ticks"]["steal"])
        / max(1, prov["end"]["cpu_ticks"]["total"] - prov["start"]["cpu_ticks"]["total"])
    )
    detail = {
        "provenance": prov,
        "summary": {k: {"value": v, "unit": u} for k, (v, u) in summary.items()},
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "setups": setup_parts,
        "verdicts": verdicts,
        "calls": [
            {k: v for k, v in r.items() if k not in ("build_window",)} for r in all_records
        ],
        "spans": tracer.spans.records if args.trace else [],
    }
    out = Path(args.out) if args.out else (
        WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-c{cores}.json"
    )
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(detail, indent=1, default=str))
    _shutdown(spark)

    for k, (v, u) in summary.items():
        print(f"# {k} = {v:.6g} {u}")
    for name, v in verdicts.items():
        if v is not None:
            print(f"# WRONG {name}: {v}")
    for r in raised:
        print(f"# RAISED {r['phase']}:{r['name']}: {r.get('error')}")
    print("# provenance " + json.dumps(prov, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
