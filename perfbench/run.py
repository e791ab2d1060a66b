"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload catalog_sf0.1 --seed 1 --seconds 10 --trace 0

A run draws its tables (and load batches) from ``--seed``, computes the
expected output of every op with DuckDB, then starts a fresh
``local[nproc]`` Spark session: that set-up (JVM, session and bench.py's
warm-up query) is ``setup_s``. It then makes one pass over the
workload's ops, in a JVM as cold as bench.py's: that pass is ``wall_s``
and the median of its ops is ``op_p50_s``. A pass outlasts
``--seconds``, which the command line takes but which sets no limit.
Every op's output is checked after the pass, outside the timed region.
The run prints report lines and, last, one JSON line with the
end-to-end metrics named in BENCHMARK.json.

With ``--trace 1`` the run then repeats the same pass in a second
fresh session with the Spark event log on and a span around every
public function of the program's layers, writes the per-layer table to
``.perfbench/trace/<workload>-seed<seed>.json`` and prints the per-layer
metrics in the JSON line instead.

Every run gets its own ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and warehouse
under ``.perfbench/``, so staged copies left by earlier runs are never
reused. Exit codes: 0 measured (``correct`` says whether outputs
matched, and whether the program left its input files as written), 2
not run from a movie_etl_spark checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

#: files of the program the benchmark drives; without them it refuses
REQUIRED = ("movie_etl_spark/__init__.py", "bench.py", "tools/selfcheck.py")
#: names and units of the metrics the JSON line carries
DECLARATION = os.path.join(ROOT, "BENCHMARK.json")
WARMUP_QUERY = "o1_top_k"  # bench.py's warm-up query


@dataclass
class Segment:
    """What one session measured: set-up, the pass and every op's result."""

    setup_s: float = 0.0
    wall_s: float = 0.0
    #: each op's latency, in pass order
    op_times: list[float] = field(default_factory=list)
    failures: dict[str, str] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    rows_out: int = 0
    rss_mb: float = 0.0
    window: tuple[float, float] = (0.0, 0.0)
    plan_s: float = 0.0


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(seg_dir: str) -> dict[str, str]:
    """Point every scratch location of the program and Spark into
    ``seg_dir``, fresh for each session so neither reuses what the other
    staged; returns the directories made."""
    import tempfile

    dirs = {k: os.path.join(seg_dir, k) for k in ("tmp", "local", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_WAREHOUSE"] = dirs["warehouse"]
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    # every JVM spark-submit starts, its launcher included: no perf-data
    # file under the system /tmp, and temp files in the run's own tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    return dirs


def _submit_args(dirs: dict[str, str], event_log: bool) -> str:
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_log:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    return shlex.join(args + ["pyspark-shell"])


def _start(dirs: dict[str, str], data_dir: str, event_log: bool):
    from movie_etl_spark.plans.catalog import QUERIES
    from movie_etl_spark.session import get_spark

    os.environ["PYSPARK_SUBMIT_ARGS"] = _submit_args(dirs, event_log)
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    QUERIES[WARMUP_QUERY].fn(spark, data_dir).write.format("noop").mode("overwrite").save()
    return spark


def _stop(spark) -> None:
    """Stop the session and wait until its JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _planning_s(df) -> float:
    """Analysis, optimisation and planning time of ``df`` from its
    QueryPlanningTracker (planning is forced first)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return sum(
        phases.get(p).get().durationMs() / 1000.0
        for p in ("analysis", "optimization", "planning")
        if phases.contains(p)
    )


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _timed_pass(seg: Segment, run_pass):
    """Run ``run_pass()`` once, recording its wall time and window;
    returns what it returned."""
    wall_start, t0 = time.time(), time.perf_counter()
    out = run_pass()
    seg.wall_s = time.perf_counter() - t0
    seg.window = (wall_start, time.time())
    return out


# ---- catalog workload ------------------------------------------------------


def _catalog_pass(spark, wl, data_dir, tracer, seg: Segment) -> list[tuple]:
    """Build and collect every query once; returns (name, columns, rows)
    of each query that ran."""
    from movie_etl_spark import session
    from movie_etl_spark.plans.catalog import QUERIES

    results = []
    for name in wl.queries:
        seg.attempted += 1
        t0 = time.perf_counter()
        try:
            with _span(tracer, "op"):
                with _span(tracer, "build"):
                    df = QUERIES[name].fn(spark, data_dir)
                if tracer is not None:
                    with _span(tracer, "plan"):
                        seg.plan_s += _planning_s(df)
                with _span(tracer, "execute"):
                    rows = [tuple(r) for r in df.collect()]
            results.append((name, df.columns, rows))
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            seg.failed += 1
            seg.failures[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            seg.op_times.append(time.perf_counter() - t0)
            session.release_caches()
    return results


def _catalog_segment(spark, wl, data_dir, golden, tracer) -> Segment:
    from check import digest

    seg = Segment()
    results = _timed_pass(seg, lambda: _catalog_pass(spark, wl, data_dir, tracer, seg))
    for name, cols, rows in results:
        seg.rows_out += len(rows)
        got = digest(cols, rows)
        if got != golden[name]:
            seg.failed += 1
            seg.failures[name] = (
                f"output mismatch: rows={got[0]} cols={list(got[1])} "
                f"expected rows={golden[name][0]} cols={list(golden[name][1])}"
            )
    return seg


# ---- load workload ---------------------------------------------------------


def _load_pass(spark, batches, work_dir, tracer, seg: Segment) -> tuple[dict, int]:
    """Load every batch into empty tables under ``work_dir`` and export
    them; returns each append's count per table and the ops that raised."""
    from movie_etl_spark import session
    from movie_etl_spark.sources import sinks

    appended: dict[str, list[int]] = {t: [] for t, _ in workloads.LOAD_TABLES}
    raised = 0
    for i, batch in enumerate(batches):
        seg.attempted += 1
        t0 = time.perf_counter()
        try:
            with _span(tracer, "op"):
                with _span(tracer, "build"):
                    new = {
                        t: session.load_table(spark, os.path.dirname(batch[t]), t)
                        for t, _ in workloads.LOAD_TABLES
                    }
                if tracer is not None:
                    with _span(tracer, "plan"):
                        seg.plan_s += sum(_planning_s(df) for df in new.values())
                for t, keys in workloads.LOAD_TABLES:
                    n = sinks.append_if_absent(
                        spark, new[t], os.path.join(work_dir, t), list(keys),
                        workloads.ORDER_COL,
                    )
                    appended[t].append(n)
                if (i + 1) % workloads.COMPACT_EVERY == 0:
                    for t, _ in workloads.LOAD_TABLES:
                        sinks.compact_parquet(spark, os.path.join(work_dir, t))
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            raised += 1
            seg.failures[f"batch{i}"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            seg.op_times.append(time.perf_counter() - t0)
    try:
        with _span(tracer, "export"):
            for t, _ in workloads.LOAD_TABLES:
                sinks.write_csv(
                    spark.read.parquet(os.path.join(work_dir, t)),
                    os.path.join(work_dir, f"{t}_csv"),
                )
    except Exception as exc:  # noqa: BLE001 - the check below reports the tables
        seg.failures["export"] = f"{type(exc).__name__}: {exc}"[:300]
    return appended, raised


def _load_segment(spark, batches, work_dir, tracer) -> Segment:
    import check

    seg = Segment()
    appended, raised = _timed_pass(seg, lambda: _load_pass(spark, batches, work_dir, tracer, seg))
    mismatched = False
    for t, keys in workloads.LOAD_TABLES:
        problems = check.load_mismatches(
            [b[t] for b in batches], list(keys), workloads.ORDER_COL,
            os.path.join(work_dir, t), os.path.join(work_dir, f"{t}_csv"), appended[t],
        )
        seg.rows_out += sum(appended[t])
        if problems:
            mismatched = True
            seg.failures[t] = "; ".join(problems)
    # a wrong table fails every batch
    seg.failed += len(batches) if mismatched else raised
    return seg


# ---- one run ---------------------------------------------------------------


def _segment(wl, run_dir, data_dir, inputs, traced):
    dirs = _isolate(os.path.join(run_dir, "traced" if traced else "timed"))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start(dirs, data_dir, event_log=traced)
        setup_s = time.perf_counter() - t0
        tracer = None
        if traced:
            import tracing

            tracer = tracing.Tracer(spark.sparkContext)
            tracing.install(tracer)
        if wl.queries:
            seg = _catalog_segment(spark, wl, data_dir, inputs, tracer)
        else:
            seg = _load_segment(spark, inputs, os.path.join(dirs["tmp"], "load"), tracer)
        seg.setup_s = setup_s
        seg.rss_mb = _jvm_peak_rss_mb(spark)
        return seg, tracer, dirs["eventlog"]
    finally:
        if spark is not None:
            _stop(spark)


def _prepare(wl, data_dir, run_dir, seed):
    """Golden digests for a catalog workload, batches for the load."""
    import check

    if wl.queries:
        from movie_etl_spark.plans.catalog import QUERIES

        return check.golden(data_dir, {q: QUERIES[q].oracle for q in wl.queries})
    return workloads.make_batches(data_dir, os.path.join(run_dir, "batches"), seed)


def _layer_table(wl, event_dir, seg: Segment, tracer, inputs, untraced: Segment):
    import tracing

    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(logs[0]) as f:
        log = tracing.parse_event_log(f)
    extra = {}
    if not wl.queries:
        extra = dict(
            offered_rows=sum(workloads.batch_rows(inputs, t) for t, _ in workloads.LOAD_TABLES),
            appended_rows=seg.rows_out,
            offered_bytes=workloads.batch_bytes(inputs),
        )
    table = tracing.layer_table(tracer.spans, log, seg.window, seg.rows_out, **extra)
    table["plan.s"] = seg.plan_s
    table["trace.overhead_s"] = seg.wall_s - untraced.wall_s
    return table


def _report(args, wl, seg: Segment, host: dict) -> None:
    ops = seg.op_times
    print(
        f"perfbench workload={wl.name} seed={args.seed} seconds={args.seconds:g} "
        f"nproc={_nproc()} steal_pct={host.get('steal_pct')} busy_pct={host.get('busy_pct')}"
    )
    print(f"setup_s {seg.setup_s:.4f} s (n=1 session start)")
    print(f"wall_s {seg.wall_s:.4f} s (n=1 cold pass)")
    print(f"op_p50_s {statistics.median(ops):.4f} s (n={len(ops)} ops)")
    names = wl.queries or [f"batch{i}" for i in range(len(ops))]
    print("ops " + " ".join(f"{n}={t:.2f}" for n, t in zip(names, ops)))
    p90 = stats.tail_percentile(ops, 90)
    shown = f"{p90:.4f} s" if p90 is not None else "not reported"
    print(f"op_p90_s {shown} (n={len(ops)}; needs >= {stats.MIN_TAIL} samples beyond it)")
    print(f"jvm_peak_rss_mb {seg.rss_mb:.1f} MB (VmHWM at end of run)")
    print(f"failed_frac {seg.failed / seg.attempted:.4f} ({seg.failed}/{seg.attempted} ops)")
    for name, why in sorted(seg.failures.items()):
        print(f"FAILED {name}: {why}")


def main(argv=None) -> int:
    args = _parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not a movie_etl_spark checkout: missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    wl = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{wl.name}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.makedirs(run_dir)
        import bench

        stat0 = bench._proc_stat()
        data_dir = os.path.join(run_dir, "data")
        datagen.write(data_dir, workloads.SF, args.seed)
        inputs = _prepare(wl, data_dir, run_dir, args.seed)
        seg, _, _ = _segment(wl, run_dir, data_dir, inputs, traced=False)
        traced = None
        if args.trace:
            traced, tracer, event_dir = _segment(wl, run_dir, data_dir, inputs, traced=True)
        # the program must leave its inputs as they were written
        try:
            datagen.verify(data_dir)
        except datagen.ChecksumMismatch as exc:
            seg.failures["inputs"] = str(exc)
        host = bench.host_window(stat0, bench._proc_stat())
        _report(args, wl, seg, host)
        if traced is not None:
            table = _layer_table(wl, event_dir, traced, tracer, inputs, seg)
            record_dir = os.path.join(ROOT, ".perfbench", "trace")
            os.makedirs(record_dir, exist_ok=True)
            record = os.path.join(record_dir, f"{wl.name}-seed{args.seed}.json")
            with open(record, "w") as f:
                json.dump({"workload": wl.name, "seed": args.seed, "nproc": _nproc(),
                           **host, "layers": table}, f, indent=1, sort_keys=True)
            for name, why in sorted(traced.failures.items()):
                print(f"FAILED traced {name}: {why}")
            for key in sorted(table):
                print(f"layer {key} {table[key]:.6g}")
            print(f"trace record: {os.path.relpath(record, ROOT)}")
            values, kind = table, "per_layer"
        else:
            values, kind = {
                "setup_s": seg.setup_s,
                "wall_s": seg.wall_s,
                "op_p50_s": statistics.median(seg.op_times),
                "jvm_peak_rss_mb": seg.rss_mb,
            }, "end_to_end"
        with open(DECLARATION) as f:
            declared = json.load(f)[kind]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
        segments = [seg] if traced is None else [seg, traced]
        print(json.dumps({
            "correct": not any(s.failures for s in segments),
            "attempted": sum(s.attempted for s in segments),
            "failed": sum(s.failed for s in segments),
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
