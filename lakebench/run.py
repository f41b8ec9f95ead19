"""Lakehouse lifecycle benchmark: one closed-loop client per workload.

    python3 lakebench/run.py --workload cow_upsert --seed 1 --seconds 20 --trace 0

Run from the repository root. One run starts a Spark session on
`local[<cpu count>]`, builds the workload's tables once, warms up, then runs
the workload's closed loop for `--seconds` seconds: each iteration is a
write followed by the reads that depend on it, all from this one process and
thread. Every read is checked against a driver-side model of what was
written, and the tables are checked again in full after the loop.

The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` the function-level tracer of
tracing.py is installed and the metrics are the per-layer ones. Lines before
it (prefixed `#`) echo the environment and every metric with its unit.

`--workload all` runs the three workloads one after another, each in its own
process, and prints all of their reports.

Everything the run writes stays under `.lakebench/` in the current
directory; the tables are deleted at the end, the span dump of a traced run
is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import tracing  # noqa: E402  (a sibling module; needs the path above)

DRIVER_MEMORY = "1g"
WORKLOAD_NAMES = ["cow_upsert", "mor_mixed", "dedup_ingest"]
# the end-to-end metrics in the JSON result (BENCHMARK.json "end_to_end"):
# the ones whose median repeats across runs on a shared 4-core box, plus
# setup_s, which every benchmark reports. The latencies and rows_per_s are
# printed but not among them: they move by about 2x when the host's load
# changes, more than any regression bound could absorb (README.md,
# "Steadiness"); setup_s moves the same way.
GATED = [
    "setup_s", "write_jobs", "write_tasks", "key_read_jobs", "query_jobs",
    "incr_read_jobs", "bytes_written_per_row", "live_bytes_per_row", "peak_rss_mb",
]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or None when that would not lie above the median."""
    n = len(samples)
    if n < 22:
        return None
    i = n - 11
    return 100.0 * (i + 1) / n, sorted(samples)[i]


def rss_peak_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Harness:
    """Times operations, counts attempts and failures, and records per-read
    file counts for the traced run."""

    def __init__(self, tracer):
        self.tr = tracer
        self.samples: dict[str, list[float]] = {}
        # (jobs, tasks) per timed operation; untraced runs only, the tracer
        # gives each span its own job group instead
        self.shapes: dict[str, list[tuple[int, int]]] = {}
        self.sc = self.tracker = None
        self.scanned: dict[str, list[tuple[int, int]]] = {}
        self.attempted = 0
        self.failed = 0
        self.timing = False

    def op(self, kind: str, fn):
        self.attempted += 1
        group = None
        if self.timing and self.tracker is not None and not self.tr.enabled:
            group = f"lakebench-op:{self.attempted}"
            self.sc.setJobGroup(group, kind)
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{kind}"):
                out = fn()
        except Exception as e:
            self.failed += 1
            e.lakebench_counted = True
            print(f"# FAILED op {kind}:\n{traceback.format_exc()}", file=sys.stderr)
            raise
        finally:
            dt = time.perf_counter() - t0
            if group is not None:
                self.sc.setJobGroup("lakebench:idle", "between operations")
        if self.timing:
            self.samples.setdefault(kind, []).append(dt)
        if group is not None:
            self.shapes.setdefault(kind, []).append(tracing.job_shape(self.tracker, group))
        return out

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# FAILED check {name}: {detail}", file=sys.stderr)

    def files_scanned(self, kind: str, table_path: Path, df) -> None:
        """Files a read scans (`DataFrame.inputFiles()`, no Spark job) and
        the table's live files, traced runs only."""
        if not (self.tr.enabled and self.timing):
            return
        from hudi_demo_spark.engine.timeline import Timeline

        t0 = time.perf_counter()
        with self.tr.paused():
            n_live = len(Timeline(table_path).live_files())
            self.scanned.setdefault(kind, []).append((len(df.inputFiles()), n_live))
        self.tr.overhead_s += time.perf_counter() - t0


def dir_sizes(root: Path) -> dict[str, int]:
    out = {}
    for dp, _, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out


def start_spark(work: Path):
    from hudi_demo_spark import get_spark

    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    return get_spark(
        "lakebench",
        cpus=nproc(),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # -Xms: a fixed heap, so the JVM's resident set does not depend
            # on when the collector grows it. TieredStopAtLevel=1: the quick
            # JIT tier only, so compiler threads do not compete with the
            # task threads through a run of under a minute (README.md). No
            # hsperfdata file in /tmp, temporary files under `work`.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -XX:TieredStopAtLevel=1 -XX:-UsePerfData "
                f"-Djava.io.tmpdir={work / 'tmp'}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    import pyspark

    import fixtures as fx
    import workloads

    os.environ["TZ"] = "UTC"
    time.tzset()
    base = Path.cwd() / ".lakebench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    # keep every temporary file of this process and its children in `work`
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the JVM spark-submit runs first to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    (work / "tmp").mkdir()
    tempfile.tempdir = str(work / "tmp")

    tr = tracing.Tracer() if args.trace else tracing.NullTracer()
    W = workloads.WORKLOADS[args.workload]
    if args.trace:
        tr.install(tracing.COMMON + W.traced)
    size = fx.SIZES[args.size]
    h = Harness(tr)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0
        h.attach(spark)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        print(
            f"# env: workload={args.workload} seed={args.seed} size={args.size} {size} "
            f"seconds={args.seconds} trace={args.trace} spark={pyspark.__version__} "
            f"master=local[{nproc()}] driver_memory={DRIVER_MEMORY} "
            f"warmup_steps={W.warmup_steps}",
            flush=True,
        )
        t0 = time.perf_counter()
        fixture_dir = work / "fixtures"
        rows = W.fixture_rows(args.seed, size)
        fx.write_parquet(fixture_dir / f"{W.table}.parquet", rows, W.schema)
        fixture_s = time.perf_counter() - t0

        t0 = time.perf_counter()
        w = W(h, spark, work / "lake", fixture_dir, args.seed, size)
        w.build(rows)
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        w.bootstrap()
        t1 = time.perf_counter()
        for _ in range(W.warmup_steps):
            w.step()
        warmup_s = time.perf_counter() - t0
        step_s = (time.perf_counter() - t1) / max(1, W.warmup_steps)
        setup_s = session_s + fixture_s + build_s + warmup_s
        print(
            f"# setup: session {session_s:.2f} s, fixture {fixture_s:.2f} s, "
            f"build {build_s:.2f} s, indexes and warm-up {warmup_s:.2f} s",
            flush=True,
        )

        before = dir_sizes(w.root)
        written0 = w.rows_written

        def storage() -> tuple[int, int, int, int]:
            """(bytes of files added since the loop began, user rows written,
            live bytes of the user table, live rows)"""
            added = sum(n for p, n in dir_sizes(w.root).items() if p not in before)
            return added, w.rows_written - written0, w.live_bytes(), len(w.model)

        first_span = len(getattr(tr, "spans", []))
        h.timing = True
        iters = 0
        stored = None
        t_loop = time.perf_counter()
        deadline = t_loop + args.seconds
        try:
            # closed loop: the next iteration starts when the last one ends,
            # and only if it can be expected to end by the deadline
            while iters == 0 or time.perf_counter() + step_s <= deadline:
                t1 = time.perf_counter()
                w.step()
                step_s = time.perf_counter() - t1
                iters += 1
                if stored is None:
                    # storage is measured over the first timed iteration,
                    # which every run completes: how many more a run fits
                    # depends on the box's speed, and bytes per row grow
                    # with the iteration count. Not counted in the loop.
                    t1 = time.perf_counter()
                    stored = storage()
                    paused = time.perf_counter() - t1
                    deadline += paused
                    t_loop += paused
        except Exception as e:
            # the model may no longer match the tables, so the loop ends here
            if not getattr(e, "lakebench_counted", False):
                h.failed += 1
                traceback.print_exc()
        loop_s = time.perf_counter() - t_loop
        h.timing = False
        rows_written = w.rows_written - written0
        bytes_added, stored_rows, live_bytes, live_rows = stored or storage()
        try:
            w.final_checks()
        except Exception:
            h.failed += 1
            traceback.print_exc()
        rss_py, rss_jvm = rss_peak_kb("self"), rss_peak_kb(jvm_pid)
        peak_mb = (rss_py + rss_jvm) / 1024.0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        if args.trace:
            tr.uninstall()
        shutil.rmtree(work, ignore_errors=True)

    s = h.samples
    nan = float("nan")

    def p50(kind):
        return statistics.median(s[kind]) if s.get(kind) else nan

    def shape(kind, i):
        got = h.shapes.get(kind)
        return statistics.median(x[i] for x in got) if got else nan

    # every workload reports every metric; "query" is the workload's
    # characteristic read (Workload.query)
    e2e = {
        "setup_s": (setup_s, "s"),
        "write_p50_s": (p50("write"), "s"),
        "key_read_p50_s": (p50("key_read"), "s"),
        "query_p50_s": (p50(W.query), "s"),
        "incr_read_p50_s": (p50("incr_read"), "s"),
        "rows_per_s": (rows_written / loop_s, "1/s"),
        "write_jobs": (shape("write", 0), "count"),
        "write_tasks": (shape("write", 1), "count"),
        "key_read_jobs": (shape("key_read", 0), "count"),
        "query_jobs": (shape(W.query, 0), "count"),
        "incr_read_jobs": (shape("incr_read", 0), "count"),
        "bytes_written_per_row": (bytes_added / max(1, stored_rows), "B"),
        "live_bytes_per_row": (live_bytes / max(1, live_rows), "B"),
        "peak_rss_mb": (peak_mb, "MB"),
        "iterations": (iters, "count"),
    }
    print(f"# loop: {iters} iterations in {loop_s:.2f} s, {rows_written} rows written")
    print(f"# peak rss: python {rss_py / 1024:.0f} MB, jvm {rss_jvm / 1024:.0f} MB")
    for kind, vals in s.items():
        t = tail(vals)
        name = f"{kind}_p50_s"
        line = f"# {name} = {statistics.median(vals):.4f} s (n={len(vals)}: {' '.join(f'{v:.3f}' for v in vals)})"
        if t:
            line += f", {kind}_tail_s = {t[1]:.4f} s at p{t[0]:.0f}"
        print(line)
    print(f"# error_rate = {h.failed / max(1, h.attempted):.4f} ({h.failed}/{h.attempted})")
    for k, (v, u) in e2e.items():
        if v == v:
            print(f"# {k} = {v:.6g} {u}")

    if args.trace:
        missing = tr.never_fired()
        h.check("all_wrappers_fired", not missing, f"never fired: {missing}")
        spans = tr.spans[first_span:]
        base.mkdir(exist_ok=True)
        tr.dump(base / f"spans-{args.workload}-{args.seed}.json")
        metrics = layer_metrics(tr, spans, h, w, iters, session_s)
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]}
                   for k in GATED if e2e[k][0] == e2e[k][0]}
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }))
    return 0 if h.failed == 0 else 1


def layer_metrics(tr, spans, h, w, iters, session_s) -> dict:
    """Per-layer metrics from the spans of the timed loop (and, for
    `session.start_s`/`sources.load_s`, of set-up)."""
    selfs = tracing.self_times(spans)
    it = max(1, iters)
    roots = sum(1 for sp in spans if sp.parent is None)
    m: dict[str, tuple[float, str]] = {}

    for op in ("upsert", "insert", "read", "read_incremental", "compact"):
        pc = tracing.per_call(spans, f"engine.{op}", selfs)
        m[f"engine.{op}.self_s"] = (pc["self_s"], "s")
        m[f"engine.{op}.jobs"] = (pc["jobs"], "count")
        m[f"engine.{op}.tasks"] = (pc["tasks"], "count")
    for kind in ("key", "index", "scan", "incr"):
        got = h.scanned.get(kind, [])
        m[f"engine.read.{kind}.files_scanned"] = (
            statistics.median(f for f, _ in got) if got else 0, "count")
        m[f"engine.read.{kind}.scan_ratio"] = (
            statistics.median(f / max(1, n) for f, n in got) if got else 0.0, "ratio")

    def total(name, key=None):
        return sum((sp.attrs.get(key, 0) if key else sp.dur) for sp in spans if sp.name == name)

    def calls(name):
        return sum(1 for sp in spans if sp.name == name)

    m["timeline.live_files.calls"] = (calls("timeline.live_files") / it, "count")
    m["timeline.live_files.s"] = (total("timeline.live_files") / it, "s")
    m["timeline.instants.parsed"] = (total("timeline.instants", "parsed") / max(1, roots), "count")
    m["timeline.commit.s"] = (total("timeline.commit") / it, "s")
    for k in ("files_added", "files_removed", "bytes_added"):
        m[f"timeline.commit.{k}"] = (total("timeline.commit", k) / it, "B" if k == "bytes_added" else "count")
    for name in ("bloom.load", "secondary_index.lookup", "secondary_index.append"):
        m[f"{name}.calls"] = (calls(name) / it, "count")
        m[f"{name}.s"] = (total(name) / it, "s")
    for name in ("minhash_index.admit", "minhash_index.refresh",
                 "text_index.refresh", "text_index.search"):
        pc = tracing.per_call(spans, name, selfs)
        inclusive = {}
        for sp in spans:
            if sp.name == name:
                inclusive[sp.call] = inclusive.get(sp.call, 0.0) + sp.dur
        m[f"{name}.s"] = (statistics.median(inclusive.values()) if inclusive else 0.0, "s")
        m[f"{name}.jobs"] = (pc["jobs"], "count")
        m[f"{name}.tasks"] = (pc["tasks"], "count")
    m["minhash_index.rejected_ratio"] = (
        w.rejected_ratio() if hasattr(w, "rejected_ratio") else 0.0, "ratio")
    got = h.scanned.get("search", [])
    m["text_index.search.files_scanned"] = (
        statistics.median(f for f, _ in got) if got else 0, "count")

    layer_self: dict[str, float] = {}
    for sp in spans:
        layer_self[sp.layer] = layer_self.get(sp.layer, 0.0) + selfs[sp.sid]
    for layer in ("bench", "engine.engine", "engine.timeline", "engine.bloom",
                  "engine.secondary_index", "engine.minhash_index", "engine.text_index"):
        m[f"layer.{layer}.self_s"] = (layer_self.get(layer, 0.0) / it, "s")

    setup = [sp for sp in tr.spans if sp.sid < (spans[0].sid if spans else len(tr.spans))]
    m["session.start_s"] = (sum(sp.dur for sp in setup if sp.name == "session.start") or session_s, "s")
    loads = [sp.dur for sp in setup if sp.name == "sources.load"]
    m["sources.load_s"] = (statistics.median(loads) if loads else 0.0, "s")
    m["trace.overhead_s"] = (tr.overhead_s / it, "s")
    m["loop.iterations"] = (iters, "count")
    for k, (v, u) in m.items():
        print(f"# {k} = {v:.6g} {u}")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run_all(args) -> int:
    """Each workload in its own process, one after another."""
    rc, results = 0, {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", args.size]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        rc = rc or p.returncode
        try:
            results[name] = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            results[name] = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            rc = rc or 1
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", choices=("bench", "smoke"),
                    help="table and batch sizes, see fixtures.SIZES")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
