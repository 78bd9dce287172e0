#!/usr/bin/env python3
"""End-to-end benchmark of the engine's public entry points.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. Each run:

1. generates its inputs from ``--seed`` under ``.perfbench_work/``:
   the fixture tables at the workload's scale (``workloads.SCALE``, or
   ``--sf``) and, for workloads with curation steps, a curation folder;
2. computes every item's expected output from those inputs (DuckDB
   over ``oracle_sql()`` for queries, an independent computation for
   the curation workflows);
3. sets up ``SETUPS`` fresh Spark sessions one after another, each
   followed by its first job (a shuffle); ``setup_s`` is their median;
4. runs one untimed warm-up pass over the items, three at a time (it
   pays for code generation, the Python worker pool and first-touch
   costs), in which each query item's result is collected to check it,
   then whole timed passes, one item at a time in a seed-shuffled
   order, until ``--seconds`` have been measured. In timed passes query
   items are written to the ``noop`` sink, so every column is
   materialized; workflow items write their real outputs;
5. checks, outside the timed region, the warm-up pass's query results
   and every pass's workflow outputs;
6. prints a ``detail`` record (per-item and per-pass times, pass wall
   and CPU seconds, item-time quantiles with their sample count,
   set-up and phase times, host fingerprint), then the result line:
   end-to-end metrics with ``--trace 0``, per-layer metrics with
   ``--trace 1``.

A traced run times one untraced pass, then sets up a last session with
Spark's uncompressed event log, tags every job with its item, registers
a StreamingQueryListener, and times a traced pass. Both timed passes
are the second pass of their session, and their difference is reported
as the tracing overhead. It is one pass against one, and the traced
pass runs in a JVM warmed by two more passes, so it reads low (-1.2 s
and -1.6 s on a 10 s pass here). An item's build ends when its entry point returns;
its planning runs from there to the submission of its first job (the
sink's own planning), and its execution from there to its end.

``--link-count`` adds, after the checks, one count() and one noop
write of each query item, to relate these numbers to bench.py's
``count()`` timings.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402

SETUPS = 5
WARMUP_THREADS = 3
ITEM_TIMEOUT_S = 60.0
RUN_BUDGET_S = 150.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], k: int) -> float:
    """k-th quartile (1..3) as statistics.quantiles(n=4) gives it."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=4)[k - 1]


class Run:
    """One benchmark run: inputs, sessions, passes and checks."""

    def __init__(self, args: argparse.Namespace, run_dir: str) -> None:
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.sf_dir = os.path.join(run_dir, "tables")
        self.cur_dir = os.path.join(run_dir, "curation")
        self.out_root = os.path.join(run_dir, "out")
        self.scratch = os.path.join(run_dir, "matcache")
        self.log_dir = os.path.join(run_dir, "eventlog")
        for d in (self.out_root, self.scratch, self.log_dir):
            os.makedirs(d, exist_ok=True)
        self.spark = None
        self.names = wl.WORKLOADS[self.workload]
        self.codec_times = {"decode_s": 0.0, "encode_s": 0.0}
        self.stream_probe = None
        self.input_bytes = 0

    # ------------------------------------------------------ sessions

    def new_session(self, traced: bool):
        from dataset_batch_processor_spark.session import get_spark

        # C1-only JIT: with the default tiered C2 compiler, query_jvm's
        # pass CPU kept falling for 8 passes (25.6, 16.5, 15.4, 11.8,
        # 12.2, 12.0, 11.7, 10.8 s) while C2 compiled in the background,
        # so a pass's figure depended on its position in that drift and
        # reaching the plateau would take four more warm-up passes than
        # a run's budget holds. Only the first session's conf launches
        # the JVM; later sessions reuse it.
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                "-XX:TieredStopAtLevel=1",
                "spark.ui.showConsoleProgress": "false"}
        if traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.log_dir,
                "spark.eventLog.compress": "false",
            })
        return get_spark(f"perfbench-{self.workload}", extra_conf=conf)

    def stop_session(self) -> None:
        from dataset_batch_processor_spark import matcache

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        matcache.cleanup_scratch()

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM (and the
        Python workers it started) to exit."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def setup(self, traced: bool) -> tuple[float, float]:
        """Fresh session plus the workload's preparation; returns
        (session start seconds, total set-up seconds)."""
        self.stop_session()
        t0 = time.perf_counter()
        self.spark = self.new_session(traced)
        t1 = time.perf_counter()
        self.prepare()
        return t1 - t0, time.perf_counter() - t0

    def prepare(self) -> None:
        """Untimed per-session preparation: the session's first job (a
        shuffle). No Python worker is started and no matcache artifact
        is built; the warm-up pass pays for those."""
        self.spark.read.parquet(f"{self.sf_dir}/lineitem.parquet") \
            .groupBy("l_returnflag").count().count()

    # --------------------------------------------------------- items

    def item_fns(self) -> dict:
        """name -> callable(pass_dir) returning a DataFrame to sink to
        noop, or None when the call wrote its own output."""
        import __spark_entry__ as entry

        qs = entry.queries()
        spark, sf = self.spark, self.sf_dir
        fns = {}
        for name in self.names:
            if name in qs:
                fns[name] = lambda _pass_dir, fn=qs[name]: fn(spark, sf)
        if any(n in wl.CURATION_STEPS for n in self.names):
            import curation
            for step in wl.CURATION_STEPS:
                if step in self.names:
                    fns[step] = curation.step_fn(
                        step, spark, self.cur_dir, self.codec_times)
        return fns

    def run_item(self, name: str, fn, pass_dir: str,
                 collect: bool = False) -> dict:
        """Run one item; a query item's DataFrame is written to the
        ``noop`` sink, or collected when ``collect`` is set."""
        from pyspark.sql import DataFrame

        sc = self.spark.sparkContext
        sc.setJobGroup(job_group(name), name)
        sc.setJobDescription(name)
        timer = threading.Timer(ITEM_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        rec = {"name": name, "ok": True, "err": None}
        t0 = time.time()
        t_build = None
        try:
            out = fn(pass_dir)
            if isinstance(out, DataFrame):
                t_build = time.time()
                if collect:
                    rec["rows"] = (out.columns, out.collect())
                else:
                    out.write.format("noop").mode("overwrite").save()
                rec["df"] = out
            else:  # a workflow that wrote its own output
                t_build = t0
                rec["result"] = out
        except Exception:  # an item failure is a result, not a crash
            rec["ok"] = False
            rec["err"] = traceback.format_exc(limit=3)[-600:]
        finally:
            timer.cancel()
            sc.setJobGroup(None, None)
        t_end = time.time()
        rec.update(t0=t0, t_build=t_build or t_end, t_end=t_end,
                   time_s=t_end - t0)
        return rec

    # -------------------------------------------------------- passes

    def warm_up(self) -> dict:
        """The untimed first pass of a session, ``WARMUP_THREADS`` items
        at a time. It pays for code generation, JIT compilation and the
        Python workers' start, none of which needs the items to run one
        by one, and collects each query item's result to check it."""
        from concurrent.futures import ThreadPoolExecutor

        if self.workload in wl.COLD_WORKLOADS:
            self.reset_cold()
        fns = self.item_fns()
        pass_dir = tempfile.mkdtemp(dir=self.out_root)
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            recs = list(pool.map(
                lambda n: self.run_item(n, fns[n], pass_dir, collect=True),
                self.names))
        return {"items": recs, "dir": pass_dir,
                "wall_s": (max(r["t_end"] for r in recs)
                           - min(r["t0"] for r in recs))}

    def measure(self, seconds: float, deadline: float) -> list[dict]:
        """Whole passes, one item at a time, until ``seconds`` have
        passed (at least one; fewer only if the run's deadline is
        near)."""
        import probes

        workers = probes.PyWorkers()
        rng = random.Random(self.args.seed)
        passes: list[dict] = []
        t_start = time.perf_counter()
        while True:
            if self.workload in wl.COLD_WORKLOADS:
                self.reset_cold()
            self.codec_times = {"decode_s": 0.0, "encode_s": 0.0}
            fns = self.item_fns()
            order = list(self.names)
            rng.shuffle(order)
            pass_dir = tempfile.mkdtemp(dir=self.out_root)
            dirs_before = set(os.listdir(self.scratch))
            bytes_before = _tree_size(self.scratch)[1]
            cpu0 = workers.cpu_s()
            engine0 = workers.engine_cpu_s()
            recs = []
            for name in order:
                rec = self.run_item(name, fns[name], pass_dir)
                rec["py_rss_mb"] = workers.peak_rss_mb()
                rec["persisted"] = len(
                    self.spark.sparkContext._jsc.getPersistentRDDs())
                recs.append(rec)
            passes.append({
                "items": recs,
                "wall_s": recs[-1]["t_end"] - recs[0]["t0"],
                "py_cpu_s": workers.cpu_s() - cpu0,
                "cpu_s": workers.engine_cpu_s() - engine0,
                "dir": pass_dir,
                "scratch": (
                    len(set(os.listdir(self.scratch)) - dirs_before),
                    _tree_size(self.scratch)[1] - bytes_before),
                "codec": dict(self.codec_times),
            })
            done = time.perf_counter() - t_start >= seconds
            if done or time.time() + 2 * passes[-1]["wall_s"] > deadline:
                return passes

    def reset_cold(self) -> None:
        """A cold workload starts every pass with an empty matcache."""
        from dataset_batch_processor_spark import matcache

        matcache.cleanup_scratch()
        self.spark.catalog.clearCache()

    # -------------------------------------------------------- checks

    def check(self, passes: list[dict], expected: dict) -> dict[str, str]:
        """name -> failure reason, for items with an output that does
        not match its expected output: every workflow output and every
        collected query result in ``passes``."""
        import expect

        bad: dict[str, str] = {}
        for p in passes:
            for rec in p["items"]:
                name = rec["name"]
                if not rec["ok"]:
                    bad[name] = ("raised: "
                                 + rec["err"].strip().splitlines()[-1])
                    continue
                try:
                    if name in wl.CURATION_STEPS:
                        import curation
                        why = curation.check_step(name, p["dir"],
                                                  expected["curation"],
                                                  rec.get("result"))
                    elif "rows" in rec:
                        why = expect.compare(*rec["rows"], expected[name])
                    else:  # a timed noop write
                        why = None
                except Exception:
                    why = ("check raised: "
                           + traceback.format_exc(limit=2)[-300:])
                if why:
                    bad[name] = why
                rec.pop("rows", None)  # checked outputs can be large
                rec.pop("result", None)
        return bad


def job_group(name: str) -> str:
    return f"perfbench:{name}"


def _tree_size(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                size += os.path.getsize(os.path.join(d, f))
                n += 1
            except OSError:
                pass
    return n, size


# --------------------------------------------------------------- metrics

def end_to_end(setups, passes, bad) -> tuple[dict, int, int, dict]:
    """The gated metrics, and more figures for the detail record.

    ``wall_s`` is the first timed pass's wall time, from the start of
    its first item to the end of its last item's output. A pass is
    sized to outlast ``--seconds``; should it not, more passes follow so
    the run still measures that long, and they count toward
    ``ok_frac``, but ``wall_s`` stays the first pass's: a later pass is
    cheaper (2nd/1st CPU 0.76 on python_curation), so a median over a
    varying number of passes would move with the host's speed.
    The pass's CPU seconds (this process, the JVM and the Python
    workers) are recorded but not gated: on query_jvm the JVM's GC
    threads alone used 0.3-2.6 s of it from run to run, which put its
    spread over three seeds at 0.38 of the median, against 0.12 for
    wall time. Item-time quantiles are not gated either: with 6 and 8
    items a pass they jump between items from seed to seed."""
    times = [r["time_s"] for p in passes for r in p["items"]]
    attempted = len(times)
    failed = sum(1 for p in passes for r in p["items"]
                 if not r["ok"] or r["name"] in bad)
    metrics = {
        "wall_s": (passes[0]["wall_s"], "s"),
        "setup_s": (statistics.median(s[1] for s in setups), "s"),
        "ok_frac": ((attempted - failed) / attempted, "ratio"),
    }
    info = {
        "cpu_s": passes[0]["cpu_s"],
        "item_samples": attempted,
        "item_p50_s": round(statistics.median(times), 4),
        "item_p75_s": round(quantile(times, 3), 4),
        "failed_frac": failed / attempted,
    }
    return metrics, attempted, failed, info


# Slack between the JVM's millisecond event times and this process's
# clock readings around the same moments.
CLOCK_TOL_S = 0.002


def split_phases(passes: list[dict], jobs: list[dict]) -> list[dict]:
    """Set each item's ``t_plan`` (the submission of its first job after
    the build, or the build's end if it has none) from the event log's
    jobs tagged with the item's job group; return per-item spans with
    the tagged jobs' timing for the self-test."""
    spans = []
    for p in passes:
        for r in p["items"]:
            own = [j for j in jobs if j["group"] == job_group(r["name"])
                   and r["t0"] - CLOCK_TOL_S <= j["start"]
                   <= r["t_end"] + CLOCK_TOL_S]
            sink = [j for j in own
                    if j["start"] >= r["t_build"] - CLOCK_TOL_S]
            t_plan = r["t_build"]
            if "df" in r and sink:
                first = min(j["start"] for j in sink)
                t_plan = min(max(first, r["t_build"]), r["t_end"])
            r["t_plan"] = t_plan
            spans.append({
                "name": r["name"], "time_s": r["time_s"],
                "build_s": r["t_build"] - r["t0"],
                "plan_s": t_plan - r["t_build"],
                "exec_s": r["t_end"] - t_plan,
                "jobs": len(own),
                "jobs_late_s": max([j["end"] - r["t_end"] for j in own]
                                   or [0.0]),
                "sink_jobs_union_s": _union([(j["start"], j["end"])
                                             for j in sink]),
            })
    return spans


def _union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def per_layer(run: Run, setups, passes, untraced_wall: float) -> dict:
    import probes

    n = len(passes)
    cpus = nproc()
    logs = probes.event_log_files(run.log_dir)
    spans = split_phases(passes, probes.job_spans(logs))
    exec_w, all_w = [], []
    for i, p in enumerate(passes):
        for r in p["items"]:
            exec_w.append((f"{i}:{r['name']}", r["t_plan"], r["t_end"]))
            all_w.append((f"{i}:{r['name']}", r["t0"], r["t_end"]))
    ev_exec = _sum_buckets(probes.fold_event_log(logs, exec_w))
    ev_all = _sum_buckets(probes.fold_event_log(logs, all_w))
    build = sum(r["t_build"] - r["t0"] for p in passes for r in p["items"]) / n
    plan = sum(r["t_plan"] - r["t_build"] for p in passes
               for r in p["items"]) / n
    exec_s = sum(r["t_end"] - r["t_plan"] for p in passes
                 for r in p["items"]) / n
    wall = statistics.median(p["wall_s"] for p in passes)
    st = probes.stream_totals(run.stream_probe, all_w) \
        if run.stream_probe is not None else {}
    out = {
        "session.start_s": (statistics.median(s[0] for s in setups), "s"),
        "session.jvm_start_s": (setups[0][0], "s"),
        "driver.build_s": (build, "s"),
        "driver.build_share": (build / wall if wall else 0.0, "ratio"),
        "spark.plan_s": (plan, "s"),
        "spark.exec_s": (exec_s, "s"),
    }
    for key, unit in (("jobs", "count"), ("stages", "count"),
                      ("tasks", "count"), ("task_cpu_s", "s"),
                      ("task_run_s", "s"), ("gc_s", "s")):
        out[f"spark.{key}"] = (ev_exec[key] / n, unit)
    out["spark.slot_util"] = (
        ev_exec["task_run_s"] / n / (exec_s * cpus) if exec_s else 0.0,
        "ratio")
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "input_bytes"):
        out[f"spark.{key}"] = (ev_exec[key] / n, "bytes")
    out["spark.peak_exec_mem_bytes"] = (ev_exec["peak_exec_mem_bytes"],
                                        "bytes")
    out["arrow.py_cpu_s"] = (sum(p["py_cpu_s"] for p in passes) / n, "s")
    out["arrow.py_peak_rss_mb"] = (max(r["py_rss_mb"] for p in passes
                                       for r in p["items"]), "MB")
    out["arrow.py_time_s"] = (ev_all["py_time_s"] / n, "s")
    out["arrow.bytes_to_py"] = (ev_all["bytes_to_py"] / n, "bytes")
    out["arrow.bytes_from_py"] = (ev_all["bytes_from_py"] / n, "bytes")
    out["arrow.rows_per_task"] = (
        ev_all["py_rows"] / ev_all["py_tasks"] if ev_all["py_tasks"] else 0.0,
        "rows")
    out["arrow.worker_start_s"] = (ev_all["py_start_s"] / n, "s")
    out["arrow.py_share"] = (
        ev_all["py_time_s"] / ev_all["task_run_s"]
        if ev_all["task_run_s"] else 0.0, "ratio")
    out["matcache.builds"] = (sum(p["scratch"][0] for p in passes) / n,
                              "count")
    out["matcache.scratch_bytes"] = (sum(p["scratch"][1] for p in passes) / n,
                                     "bytes")
    out["matcache.warm_s"] = (
        sum(r["t_build"] - r["t0"] for p in passes for r in p["items"]
            if r["name"] in wl.MATCACHE_COLD) / n, "s")
    out["spark.persisted_rdds_after"] = (
        max(r["persisted"] for p in passes for r in p["items"]), "count")
    for key, unit in (("batches", "count"), ("input_rows", "rows"),
                      ("batch_p50_s", "s"), ("batch_p75_s", "s"),
                      ("add_batch_s", "s"), ("overhead_s", "s")):
        val = st.get(key, 0.0)
        if key in ("batches", "input_rows", "add_batch_s", "overhead_s"):
            val = val / n
        out[f"streaming.{key}"] = (val, unit)
    for step in ("tile_folder", "convert_images"):
        t = [r["time_s"] for p in passes for r in p["items"]
             if r["name"] == step]
        out[f"pipeline.{step}_s"] = (sum(t) / n, "s")
    files = sum(_tree_size(p["dir"])[0] for p in passes) / n
    written = sum(_tree_size(p["dir"])[1] for p in passes) / n
    in_bytes = run.input_bytes
    out["sinks.bytes_written"] = (written, "bytes")
    out["sinks.files_written"] = (files, "count")
    out["sinks.write_amp"] = (written / in_bytes if in_bytes else 0.0,
                              "ratio")
    out["multimodal.decode_s"] = (
        sum(p["codec"]["decode_s"] for p in passes) / n, "s")
    out["multimodal.encode_s"] = (
        sum(p["codec"]["encode_s"] for p in passes) / n, "s")
    out["pass.wall_s"] = (wall, "s")
    out["pass.cpu_s"] = (statistics.median(p["cpu_s"] for p in passes), "s")
    out["trace.overhead_s"] = (wall - untraced_wall, "s")
    return out, spans


def _sum_buckets(tot: dict) -> dict:
    keys = ("jobs", "stages", "tasks", "task_cpu_s", "task_run_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_bytes", "py_tasks", "py_time_s", "py_start_s",
            "bytes_to_py", "bytes_from_py", "py_rows")
    out = {k: sum(b[k] for b in tot.values()) for k in keys}
    out["peak_exec_mem_bytes"] = max(
        [b["peak_exec_mem_bytes"] for b in tot.values()] or [0])
    return out


# ------------------------------------------------------------------ main

def configure_env(run_dir: str) -> None:
    """Point every scratch location at the run's own directory before
    pyspark or the program is imported (session.py reads
    SPARK_GRAFT_CPUS at import)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--link-count", action="store_true",
                    help="also time count() once per query item")
    ap.add_argument("--sf", type=float, default=None,
                    help="scale factor of the generated tables "
                         "(default: the workload's)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.sf is None:
        args.sf = wl.SCALE[args.workload]
    t_begin = time.time()
    deadline = t_begin + RUN_BUDGET_S
    os.chdir(ROOT)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK)
    configure_env(run_dir)
    try:
        return _main(args, run_dir, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _main(args, run_dir: str, deadline: float) -> int:
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import dataset_batch_processor_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}",
              file=sys.stderr)
        return 3
    import datagen
    import expect
    import probes

    run = Run(args, run_dir)
    phases = {}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = round(now - t_phase, 3)
        t_phase = now

    fp = probes.fingerprint()
    datagen.write_tables(run.sf_dir, args.seed, args.sf)
    manifest = None
    if any(n in wl.CURATION_STEPS for n in run.names):
        manifest = datagen.write_curation_folder(run.cur_dir, args.seed)
    phase("generate_s")
    expected = expect.expected_outputs(
        run.sf_dir, [n for n in run.names if n not in wl.CURATION_STEPS])
    if manifest is not None:
        manifest["cur_dir"] = run.cur_dir
    expected["curation"] = manifest
    run.input_bytes = _tree_size(run.cur_dir)[1]

    from dataset_batch_processor_spark import matcache

    matcache.set_scratch_root(run.scratch)
    phase("expect_s")
    setups = []
    untraced_wall = 0.0
    bad: dict[str, str] = {}
    n_checked, check_s = 0, 0.0

    def check(ps: list[dict]) -> None:
        """Check outputs while their session is still running."""
        nonlocal n_checked, check_s
        t = time.perf_counter()
        bad.update(run.check(ps, expected))
        n_checked += len(ps)
        check_s += time.perf_counter() - t

    try:
        for _ in range(SETUPS):
            setups.append(run.setup(traced=False))
        # An untimed warm-up pass: the first run of each item in a fresh
        # JVM is dominated by code generation and JIT compilation, whose
        # run-to-run spread would hide the program's own cost.
        warm = run.warm_up()
        check([warm])
        if run.trace:
            # An untraced and a traced pass, each the second pass of its
            # session, so both start with a warm Python worker pool and
            # warm session artifacts.
            untraced = run.measure(0, deadline)
            untraced_wall = untraced[0]["wall_s"]
            check(untraced)
            run.setup(traced=True)
            run.stream_probe = probes.make_stream_probe()
            run.spark.streams.addListener(run.stream_probe)
            check([run.warm_up()])
            passes = run.measure(0, deadline)
            run.stream_probe.settle()
        else:
            passes = run.measure(args.seconds, deadline)
        check(passes)
        phase("setup_and_measure_s")
        phases["check_s"] = round(check_s, 3)
        count_link = link_count(run) if args.link_count else None
    finally:
        run.shutdown()
    phase("stop_s")

    metrics, attempted, failed, info = end_to_end(setups, passes, bad)
    spans = None
    if run.trace:
        metrics, spans = per_layer(run, setups, passes, untraced_wall)
    items: dict[str, list[float]] = {}
    for p in passes:
        for r in p["items"]:
            items.setdefault(r["name"], []).append(r["time_s"])
    detail = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "trace": args.trace, "passes": len(passes), **info,
        "item_times_s": {k: [round(t, 4) for t in v]
                         for k, v in sorted(items.items())},
        "setups_s": [[round(a, 3), round(b, 3)] for a, b in setups],
        "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
        "warmup_item_times_s": {r["name"]: round(r["time_s"], 4)
                                for r in warm["items"]},
        "pass_cpu_s": [round(p["cpu_s"], 3) for p in passes],
        "py_cpu_s_per_pass": [round(p["py_cpu_s"], 3) for p in passes],
        "failures": bad,
        "checked_passes": n_checked,
        "phases_s": phases,
        "fingerprint": fp,
    }
    if spans is not None:
        detail["spans"] = spans
    if count_link is not None:
        detail["count_vs_noop_s"] = count_link
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def link_count(run: Run) -> dict:
    """One pass of count() per query item beside a noop write of the
    same item, on the warm session, for relating to bench.py."""
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {}
    for name in run.names:
        if name not in qs:
            continue
        t0 = time.perf_counter()
        qs[name](run.spark, run.sf_dir).count()
        t1 = time.perf_counter()
        qs[name](run.spark, run.sf_dir).write.format("noop") \
            .mode("overwrite").save()
        out[name] = {"count_s": round(t1 - t0, 4),
                     "noop_s": round(time.perf_counter() - t1, 4)}
    return out


if __name__ == "__main__":
    sys.exit(main())
