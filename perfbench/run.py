"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload vat_sheets --seed 1 --seconds 25 --trace 0

One process runs one workload: it makes the seeded inputs (cached per seed),
starts the engine's SparkSession, runs one untimed (cold) op, then runs ops
in a closed loop for ``--seconds`` seconds, checking every op's output.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (Spark event log on, spans recorded).
Diagnostics and the host/session stamp go to stderr; the full run record
(stamp, every op, every span) is written under ``.perfbench_work/records``.

Everything the run writes stays under ``.perfbench_work`` in the checkout.
See perfbench/README.md for the metrics and why each workload exists.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# An op counts toward the time metrics only if the hypervisor stole at most
# this share of the machine's CPU ticks while it ran; a run with fewer than
# MIN_CALM samples from such ops counts all of them (see README, "Host
# steal").
STEAL_MAX = 0.02
MIN_CALM = 3

E2E = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "write_amp": "ratio",
}

LAYER_SPANS = ["app.load_transactions", "operators.vat_box_summary",
               "sinks.write_parquet", "sinks.write_sqlite"]
EPOCH_PARTS = ["triggerExecution", "addBatch", "queryPlanning", "walCommit",
               "latestOffset", "getBatch"]
SPARK_KEYS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.driver_gap_s",
              "spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.busy_frac",
              "spark.input_bytes", "spark.shuffle_read_bytes",
              "spark.shuffle_write_bytes", "spark.spill_disk_bytes",
              "spark.peak_exec_mem_bytes", "spark.stage_skew"]
# the per-layer metrics each timed row must carry: a vat_sheets op, a
# corpus_stream drain, a corpus_stream epoch
VAT_OP_KEYS = [f"{s}.{k}" for s in LAYER_SPANS for k in ("s", "jobs")] + SPARK_KEYS
DRAIN_KEYS = ["streaming.corpus_ingest_stream.s", "streaming.key_index.bytes",
              "streaming.key_index.files", "streaming.checkpoint.bytes",
              "streaming.docs.files"]
EPOCH_KEYS = ([f"streaming.epoch.{p}.s" for p in EPOCH_PARTS]
              + ["streaming.admit_batch.s", "llm_pipeline.corpus_admit_plan.exec_s"]
              + SPARK_KEYS)
# and every traced run, whatever the workload
RUN_KEYS = ["session.get_spark.s", "jvm.hwm_mb", "py.hwm_mb", "trace.op_p50_s"]


def layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {"session.get_spark.s": "s"}
    for s in LAYER_SPANS:
        units[f"{s}.s"] = "s"
        units[f"{s}.jobs"] = "count"
    units["streaming.corpus_ingest_stream.s"] = "s"
    units["streaming.admit_batch.s"] = "s"
    for p in EPOCH_PARTS:
        units[f"streaming.epoch.{p}.s"] = "s"
    units["llm_pipeline.corpus_admit_plan.exec_s"] = "s"
    units["streaming.key_index.bytes"] = "bytes"
    units["streaming.key_index.files"] = "count"
    units["streaming.checkpoint.bytes"] = "bytes"
    units["streaming.docs.files"] = "count"
    for k in SPARK_KEYS:
        units[k] = ("count" if k in ("spark.jobs", "spark.stages", "spark.tasks") else
                    "bytes" if k.endswith("_bytes") else
                    "ratio" if k in ("spark.busy_frac", "spark.stage_skew") else "s")
    units["jvm.hwm_mb"] = "MB"
    units["py.hwm_mb"] = "MB"
    units["trace.op_p50_s"] = "s"
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_settings() -> tuple[int, int, str]:
    """(nproc, MemTotal in MB, driver heap): one Spark core per CPU this
    process may run on, and a quarter of physical memory, 1-4 GB, as heap."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_mb = next(int(l.split()[1]) // 1024 for l in fh if l.startswith("MemTotal:"))
    heap_gb = max(1, min(4, mem_mb // 4096))
    return nproc, mem_mb, f"{heap_gb}g"


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters from /proc/stat (user ... steal)."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of the machine's CPU ticks between two readings that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(1, sum(d))


def git_status() -> str | None:
    """``git status --porcelain`` of the checkout, or None outside git."""
    try:
        r = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"],
                           capture_output=True, text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout if r.returncode == 0 else None


def assert_no_cache_crosses(spark) -> list[str]:
    """After ``release_engine_caches``: no persisted RDD and no cached plan
    may survive into the next op."""
    errors = []
    n_rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    if n_rdds:
        errors.append(f"{n_rdds} persisted RDDs survived the op")
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        errors.append("cached plans survived the op")
    return errors


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "vat_etl_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tools", "gen_fuzzy_corpus.py")
    ):
        log(f"no engine sources under {ROOT}: run from the root of a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, tree_bytes  # noqa: E402
    import tracing  # noqa: E402

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    wl_cls = WORKLOADS[args.workload]
    tree_before = git_status()

    # host-fitted session sizing, temp files and persisted indexes inside
    # the checkout's work dir
    nproc, mem_mb, heap = host_settings()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "VAT_ETL_INDEX_DIR": os.path.join(run_dir, "indexes"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
    })
    tempfile.tempdir = tmp

    # seeded inputs; generation time is not set-up time
    t_gen = time.perf_counter()
    cache_dir = os.path.join(WORK, "inputs", f"{args.workload}-{wl_cls.SIZE}-seed{args.seed}")
    inp = wl_cls.make_inputs(cache_dir, args.seed)
    gen_s = time.perf_counter() - t_gen

    tr = tracing.Tracer(bool(args.trace))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    event_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        conf.update(tracing.event_log_conf(event_dir))

    from vat_etl_spark.session import get_spark, release_engine_caches

    spark = None
    failures: list[str] = []
    ops: list[dict] = []
    try:
        with tr.span("session.get_spark"):
            spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        wl = wl_cls(spark, tr)
        n_op = 0

        def one_op(timed: bool) -> dict:
            nonlocal n_op
            out = os.path.join(run_dir, f"op{n_op}")
            tr.op = n_op if timed else None
            ticks0 = cpu_ticks()
            t0 = time.time()
            try:
                res = wl.op(inp, out)
                res["start"], res["end"] = t0, time.time()
                errs = wl.check(inp, out, res)
                res["out_bytes"], _ = tree_bytes(out)
            except Exception as e:  # an op that raises is a failed op
                res = {"start": t0, "end": time.time(), "rows": 0}
                errs = [f"{type(e).__name__}: {e}"]
            release_engine_caches(spark)
            errs += assert_no_cache_crosses(spark)
            shutil.rmtree(out, ignore_errors=True)
            res["errors"] = errs
            res["op"] = n_op
            res["steal_frac"] = steal_frac(ticks0, cpu_ticks())
            n_op += 1
            if errs:
                log(f"op {res['op']} failed: {errs}")
            return res

        # one untimed op: the cold one (the first op of a fresh JVM takes
        # 3-5x a warm op's wall)
        warm = [one_op(False)]
        setup_s = time.perf_counter() - PROCESS_T0 - gen_s
        failures += [e for w in warm for e in w["errors"]]

        t_window = time.perf_counter()
        ticks0 = cpu_ticks()
        while not ops or time.perf_counter() - t_window < args.seconds:
            ops.append(one_op(True))
        window_s = time.perf_counter() - t_window
        ticks = [b - a for a, b in zip(ticks0, cpu_ticks())]

        java_version = spark._jvm.System.getProperty("java.version")
        spark_version = spark.version
        jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_hwm = tracing.proc_hwm_mb(jvm_pid.pid) if jvm_pid else None
    finally:
        if spark is not None:
            stop_spark(spark)

    # op samples: a pipeline run, or one epoch of each timed drain
    if args.workload == "corpus_stream":
        samples = [dict(e, failed=bool(o["errors"]), op=o["op"])
                   for o in ops for e in o.get("epochs", [])] or [
            {"start": o["start"], "end": o["end"], "failed": True, "op": o["op"]}
            for o in ops]
        # a drain that failed before reporting progress still counts its
        # epochs as attempted
        attempted = max(len(samples), len(ops) * wl_cls.EPOCHS)
    else:
        samples = [dict(o, failed=bool(o["errors"])) for o in ops]
        attempted = len(samples)
    # the ops the host left alone, and their samples; a run with too few
    # such samples counts every op
    calm = [o for o in ops if o["steal_frac"] <= STEAL_MAX]
    calm_samples = [s for s in samples if s["op"] in {o["op"] for o in calm}]
    if len(calm_samples) < MIN_CALM:
        calm, calm_samples = ops, samples
    failed = sum(s["failed"] for s in samples) + (attempted - len(samples))
    op_p50 = statistics.median([s["end"] - s["start"] for s in calm_samples])
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": op_p50,
        "rows_per_s": sum(o["rows"] for o in calm) / sum(o["end"] - o["start"] for o in calm),
        "write_amp": statistics.median([o.get("out_bytes", 0) for o in ops]) / inp["bytes"],
    }

    tree_after = git_status()
    if tree_before != tree_after:
        failures.append("the repository's working tree changed during the run")
    correct = not failures and failed == 0

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "mem_total_mb": mem_mb,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": heap, "spark": spark_version, "java": java_version,
        "python": platform.python_version(), "input_rows": inp["rows"],
        "input_bytes": inp["bytes"], "gen_s": gen_s, "window_s": window_s,
        "warmup_ops": len(warm), "ops": len(ops), "samples": len(samples),
        "calm_ops": len(calm), "op_p50_all_s": statistics.median(
            [s["end"] - s["start"] for s in samples]),
        # share of the machine's CPU ticks in the window: busy, and stolen by
        # the hypervisor (other guests), which shows up as slower ops
        "window_busy_frac": 1 - (ticks[3] + ticks[4]) / max(1, sum(ticks)),
        "window_steal_frac": ticks[7] / max(1, sum(ticks)),
    }
    log("stamp " + json.dumps(stamp))

    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{{}}.json")
    jobs = []
    if args.trace:
        log_data = tracing.read_event_log(event_dir)
        jobs = sorted(log_data["jobs"].values(), key=lambda j: j["submit"])
        layers, missing = layer_metrics(tracing, log_data, tr, ops, samples,
                                        args.workload, nproc)
        layers["jvm.hwm_mb"] = jvm_hwm
        layers["py.hwm_mb"] = tracing.proc_hwm_mb()
        layers["trace.op_p50_s"] = op_p50
        missing += [k for k in RUN_KEYS if layers.get(k) is None]
        if missing:
            failures.append(f"per-layer metrics missing: {sorted(set(missing))}")
            correct = False
        # tracing overhead against the untraced run of the same seed, when
        # this checkout has one; without one it is left out, not guessed
        if os.path.exists(rec_path.format(0)):
            with open(rec_path.format(0)) as fh:
                base = json.load(fh)["e2e"]["op_p50_s"]
            stamp["trace.overhead"] = op_p50 / base
            log(f"trace.overhead {op_p50 / base:.4f} (traced / untraced op_p50_s, seed {args.seed})")
        # metrics of layers this workload never calls read 0
        out_metrics = {k: {"value": layers.get(k) or 0.0, "unit": u}
                       for k, u in layer_units().items()}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in E2E.items()}

    record = {"stamp": stamp, "e2e": metrics, "failures": failures,
              "ops": ops,
              "spans": tr.spans, "jobs": jobs, "metrics": out_metrics}
    with open(rec_path.format(args.trace), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


def layer_metrics(tracing, log_data, tr, ops, samples, workload, cores):
    """Per-layer numbers, each the median over the timed ops (pipeline runs,
    or drains and epochs for the stream), and the names of the metrics some
    timed row did not produce (a span that no longer fires, a Spark job
    scope that changed name)."""
    rows: list[tuple[dict, list[str]]] = []  # (row, keys it must carry)
    for o in ops:
        row = {}
        totals = tracing.span_totals(log_data, tr.spans, o["op"])
        for name in LAYER_SPANS:
            if name in totals:
                row[f"{name}.s"] = totals[name]["s"]
                row[f"{name}.jobs"] = totals[name]["jobs"]
        if "streaming.corpus_ingest_stream" in totals:
            row["streaming.corpus_ingest_stream.s"] = totals["streaming.corpus_ingest_stream"]["s"]
        if workload == "corpus_stream":
            row.update(o.get("layout", {}))
            rows.append((row, DRAIN_KEYS))
        else:
            row.update(tracing.window_stats(log_data, o["start"], o["end"], cores))
            rows.append((row, VAT_OP_KEYS))
    if workload == "corpus_stream":
        admits = [s for s in tr.spans if s["name"] == "streaming.admit_batch"
                  and s["op"] is not None]
        for e in samples:
            row = tracing.window_stats(log_data, e["start"], e["end"], cores)
            for p in EPOCH_PARTS:
                if p in e.get("durations", {}):
                    row[f"streaming.epoch.{p}.s"] = e["durations"][p]
            mine = [s["end"] - s["start"] for s in admits
                    if e["start"] <= s["start"] <= e["end"]]
            if mine:
                row["streaming.admit_batch.s"] = sum(mine)
            # admit_batch's eager localCheckpoint executes the plan built by
            # llm_pipeline.corpus_admit_plan (its joins run as their own jobs)
            exec_s = tracing.execution_s(log_data, e["start"], e["end"], "checkpoint")
            if exec_s is not None:
                row["llm_pipeline.corpus_admit_plan.exec_s"] = exec_s
            rows.append((row, EPOCH_KEYS))
    missing = sorted({k for row, need in rows for k in need if k not in row})
    keys = {k for row, _ in rows for k in row}
    out = {k: statistics.median([row[k] for row, _ in rows if k in row]) for k in keys}
    gets = [s["end"] - s["start"] for s in tr.spans if s["name"] == "session.get_spark"]
    if gets:
        out["session.get_spark.s"] = sum(gets)
    return out, missing


if __name__ == "__main__":
    sys.exit(main())
