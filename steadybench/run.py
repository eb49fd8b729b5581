#!/usr/bin/env python3
"""Steady-state workload benchmark for etl_housing_spark.

Run from the root of a checkout:

    python3 steadybench/run.py --workload listings_batch --seed 1 --seconds 12 --trace 0

One process, one session from ``etl_housing_spark.session.get_session`` with
at most ``nproc - 1`` task slots (never more than 3), and a closed loop from
a single client. Each query operation is ``mk`` (``spec.fn(spark, dir)``:
plan construction plus its eager jobs) followed by the action (the noop
sink); the pipeline cache is drained between queries, outside the timed
window. The first warm-up pass is the cold pass; it collects every result
and checks it against ``expected.json``. After the fixed warm-up count, a
fixed number of timed passes run (``workloads.py``); ``--seed`` only
shuffles the query order within each pass. ``--seconds`` is recorded, not
obeyed: the pass counts are fixed so both sides of a comparison time the
same passes. The inputs are made once per checkout by the repository's own
generator, ``scripts/gen_benchdata.py``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, wraps the engine's public functions in spans, runs every
query of a timed pass twice back to back (once plain, once traced, the
order alternating) and prints the per-layer metrics plus
``trace.overhead_s``.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; the run detail (per-query times, failures by query
id, host health, spans summary) goes to stderr and to
``.steadybench/last_<workload>_trace<k>.json``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import agg  # noqa: E402
import fingerprint as fp  # noqa: E402
import host  # noqa: E402
import spans as sp  # noqa: E402
from workloads import TIMED_PASSES, TRACED_MODULES, WARMUP_PASSES, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".steadybench")
DATA_SF = 0.01  # ~60k lineitem rows, 10k events, 500 documents, 200 vectors
_WRITER = re.compile(r"^sources\.[a-z_]+\.(write|compact|scd2|swap|concurrent_writes)")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def task_slots() -> int:
    return max(1, min(3, (os.cpu_count() or 2) - 1))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timed", type=int, default=TIMED_PASSES,
                    help="timed pass count (curve.py measures longer runs)")
    ap.add_argument("--inject-wrong-fingerprint", metavar="QUERY_ID", default=None,
                    help="corrupt one committed fingerprint (to see a failure counted)")
    return ap.parse_args(argv)


class Run:
    """One benchmark run: session, passes, failures, measurements."""

    def __init__(self, args, run_dir: str, data_dir: str) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.slots = task_slots()
        self.tracer = sp.Tracer()
        self.failures: list[dict] = []
        self.attempted = 0
        self.rows: dict[str, int] = {}
        with open(os.path.join(HERE, "expected.json")) as fh:
            self.expected = json.load(fh)
        bad = args.inject_wrong_fingerprint
        if bad:
            self.expected[bad] = dict(self.expected[bad], hash="0" * 20, rows=-1)

    # ------------------------------------------------------------- session --
    def start_session(self) -> None:
        from bench import materialize
        from etl_housing_spark.session import get_session

        self.materialize = materialize  # the noop sink

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # C1 only: under the default tiered JIT, C2 compiles 8-12 s of CPU
            # during each 4-5 s timed pass on 4 vCPUs, and the run-to-run
            # spread of corpus_dedup's e2e_s reached 0.23 over ten runs and
            # 0.33 over five, past its 0.25 bound (results/default_jit/).
            # C1 is done compiling within the cold pass.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -Dderby.system.home={self.path('derby')}"
                " -XX:TieredStopAtLevel=1"
            ),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_session(app_name=f"steadybench-{self.args.workload}",
                                 cpus=self.slots, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._comp, self._cls = mf.getCompilationMXBean(), mf.getClassLoadingMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        from etl_housing_spark.operators._ckpt import clear_pipeline_cache
        from etl_housing_spark.plans import all_queries

        self.specs = all_queries()
        self.drain = clear_pipeline_cache
        missing = [q for q in self.wl["ids"] if q not in self.specs]
        if missing:
            raise SystemExit(f"unknown query ids: {missing}")
        if self.args.trace:
            sp.install(self.tracer, TRACED_MODULES)
            from pyspark.ml.base import Estimator

            sp.wrap_method(self.tracer, Estimator, "fit", "ml.fit")

    def path(self, name: str) -> str:
        p = os.path.join(self.run_dir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def jvm_counters(self) -> tuple[float, float, float]:
        gc = sum(max(0, g.getCollectionTime()) for g in self._gcs)
        return (float(self._comp.getTotalCompilationTime()), float(gc),
                float(self._cls.getTotalLoadedClassCount()))

    def stop(self) -> None:
        """Stop the session and wait for the JVM to end, even when the
        session is already half gone (interrupted run)."""
        from py4j.protocol import Py4JError
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                with contextlib.suppress(Py4JError, OSError):
                    gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # ------------------------------------------------------------ residue --
    def residue(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "rdds": int(sc._jsc.getPersistentRDDs().size()),
            "streams": len(self.spark.streams.active),
        }

    def resident_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def force_clean(self) -> None:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        for rid in list(jmap.keySet().toArray()):
            jmap.get(rid).unpersist(True)
        for q in self.spark.streams.active:
            q.stop()
        self.spark.catalog.clearCache()

    def fail(self, qid: str, pass_no: int, reason: str) -> None:
        self.failures.append({"query": qid, "pass": pass_no, "reason": reason[:1200]})
        log(f"FAIL {qid} pass {pass_no}: {reason[:300]}")

    # -------------------------------------------------------------- passes --
    def order(self, rng: random.Random) -> list[str]:
        ids = list(self.wl["ids"])
        rng.shuffle(ids)
        return ids

    def one(self, qid: str, pass_no: int, check: bool, traced: bool) -> dict | None:
        """mk + action (+ drain) for one query; None when it failed.

        Job groups are ``q:<id>:mk#<pass>`` and ``q:<id>:action#<pass>``,
        with ``.t`` appended for a traced execution.
        """
        sc = self.spark.sparkContext
        tag = f"#{pass_no}" + (".t" if traced else "")
        spec = self.specs[qid]
        self.attempted += 1
        self.tracer.query = f"{qid}{tag}"  # the id the query's spans share
        self.tracer.enabled = traced
        rec: dict = {}
        try:
            w0 = time.time() * 1000
            sc.setJobGroup(f"q:{qid}:mk{tag}", qid)
            t0 = time.perf_counter()
            with self.tracer.span("q.mk"):
                df = spec.fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            w1 = time.time() * 1000
            sc.setJobGroup(f"q:{qid}:action{tag}", qid)
            with self.tracer.span("q.action"):
                if check:
                    got = fp.fingerprint(df.toPandas())
                else:
                    self.materialize(df)
            t2 = time.perf_counter()
            w2 = time.time() * 1000
            rec.update(mk=t1 - t0, action=t2 - t1,
                       windows=[(f"q:{qid}:mk{tag}", w0, w1), (f"q:{qid}:action{tag}", w1, w2)])
            sc.setJobGroup("harness", "harness")
            if check:
                self.rows[qid] = got["rows"]
                bad = fp.check(qid, got, self.expected)
                if bad:
                    self.fail(qid, pass_no, bad)
                    rec = None
            if traced:
                with self.tracer.span("q.catalyst_probe"):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                        qe.tracker().phases())
                    rec["catalyst_ms"] = float(sum(phases[k].durationMs() for k in phases.keySet()))
                rec["resident_mb"] = self.resident_mb()
        except Exception as e:  # noqa: BLE001 - any failure is counted, not fatal
            tb = traceback.format_exc(limit=-3)
            self.fail(qid, pass_no, f"{type(e).__name__}: {str(e)[:300]} | {tb[-700:]}")
            rec = None
        finally:
            self.tracer.enabled = traced
            sc.setJobGroup("harness", "harness")
            t3 = time.perf_counter()
            with self.tracer.span("q.drain"):
                self.drain(blocking=True)
            drain_s = time.perf_counter() - t3
            self.tracer.enabled = False
            left = self.residue()
        if left["rdds"] or left["streams"]:
            self.fail(qid, pass_no, f"residue after drain: {left}")
            self.force_clean()
            rec = None
        if rec is not None:
            rec.update(drain=drain_s, residual_rdds=left["rdds"])
        return rec


def ensure_inputs(data_dir: str) -> bool:
    """Write the input tables into ``data_dir`` with the repository's
    generator (``scripts/gen_benchdata.py``, fixed data seed) unless the
    stamp says they are there. Returns True when it (re)generated.

    Writes into a sibling staging dir and renames, so an interrupted run
    never leaves a half-written input. At this scale every table is one
    file, which is also what the engine's ingest relayout gives tables this
    small (``bench.ingest_layout``), so the tables are read as written.
    """
    from scripts import gen_benchdata

    with open(gen_benchdata.__file__, "rb") as fh:
        stamp = f"sf={DATA_SF} gen_benchdata={hashlib.sha1(fh.read()).hexdigest()}"
    stamp_path = os.path.join(data_dir, "_STAMP")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return False
    staging = data_dir.rstrip("/") + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    gen_benchdata.gen(DATA_SF, staging)
    with open(os.path.join(staging, "_STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(staging, data_dir)
    return True


def run(args) -> tuple[dict, dict]:
    os.makedirs(WORK, exist_ok=True)
    t_gen = time.perf_counter()
    data_dir = os.path.join(WORK, "data")
    generated = ensure_inputs(data_dir)
    gen_s = time.perf_counter() - t_gen
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        return _run_in(args, run_dir, data_dir, gen_s if generated else 0.0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run_in(args, run_dir: str, data_dir: str, gen_s: float) -> tuple[dict, dict]:
    # Fresh temp, local and warehouse dirs for this run; the engine's
    # tempfile users and the Python workers inherit them.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.chdir(os.path.join(run_dir, "tmp"))
    wl = WORKLOADS[args.workload]
    r = Run(args, run_dir, data_dir)
    rss = host.PeakRss()
    rss.start()
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "seconds_arg": args.seconds, "slots": r.slots,
                    "data_generated_s": round(gen_s, 3)}
    try:
        r.start_session()
        rng = random.Random(args.seed)
        t_w = time.perf_counter()
        warm_walls, warm_jvm = [], []
        for p in range(WARMUP_PASSES):
            j0 = r.jvm_counters()
            t = time.perf_counter()
            for qid in r.order(rng):
                r.one(qid, p, check=(p == 0), traced=False)
            warm_walls.append(time.perf_counter() - t)
            warm_jvm.append([b - a for a, b in zip(j0, r.jvm_counters())])
        warmup_s = time.perf_counter() - t_w
        setup_s = process_age_s() - gen_s
        win = host.HostWindow()
        win.start()
        passes = []
        for p in range(WARMUP_PASSES, WARMUP_PASSES + args.timed):
            j0 = r.jvm_counters()
            t = time.perf_counter()
            recs, trecs = {}, {}
            for i, qid in enumerate(r.order(rng)):
                if not args.trace:
                    recs[qid] = r.one(qid, p, check=False, traced=False)
                    continue
                # A traced run pairs every query's plain execution with a
                # traced one at the same point of the warm-up curve; which
                # goes first alternates, so the second's warmer caches cancel.
                for traced in ((False, True) if (i + p) % 2 else (True, False)):
                    (trecs if traced else recs)[qid] = r.one(qid, p, check=False, traced=traced)
            wall = time.perf_counter() - t
            j1 = r.jvm_counters()
            passes.append({"pass": p, "wall": wall, "recs": recs, "trecs": trecs,
                           "spans": r.tracer.take(),
                           "jvm": [b - a for a, b in zip(j0, j1)]})
        detail["host"] = dict(win.stop(), calibration_s=round(host.calibration_s(), 4))
    finally:
        try:
            if hasattr(r, "spark"):
                r.stop()
        finally:
            peak_mb = rss.stop()
    eventlog = None
    if args.trace:
        logs = [os.path.join(r.path("eventlog"), f) for f in os.listdir(r.path("eventlog"))]
        eventlog = logs[0] if logs else None
    detail["peak_rss_mb"] = round(peak_mb, 1)
    metrics = summarize(r, passes, setup_s, warmup_s, eventlog, detail)
    detail.update(
        warmup_walls_s=[round(w, 3) for w in warm_walls],
        timed_walls_s=[round(p["wall"], 3) for p in passes],
        per_query_s={
            q: [round(p["recs"][q]["mk"] + p["recs"][q]["action"], 4)
                if p["recs"].get(q) else None for p in passes]
            for q in wl["ids"]
        },
        jvm_per_pass=[[round(x, 1) for x in j] for j in warm_jvm + [p["jvm"] for p in passes]],
        failures=r.failures,
        failures_by_query={q: sum(1 for f in r.failures if f["query"] == q) for q in wl["ids"]},
        attempted=r.attempted,
        fail_frac=len(r.failures) / max(1, r.attempted),
    )
    result = {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": metrics,
    }
    return result, detail


def _median_e2e(passes, ids, key: str = "recs") -> float:
    per_q = {}
    for q in ids:
        vals = [p[key][q]["mk"] + p[key][q]["action"] for p in passes if p[key].get(q)]
        if vals:
            per_q[q] = vals
    # no query succeeded in any timed pass: the run is already incorrect
    return agg.pass_total(per_q) if per_q else 0.0


def summarize(r: Run, passes, setup_s, warmup_s, eventlog, detail) -> dict:
    ids = r.wl["ids"]
    m = lambda v, unit: {"value": v, "unit": unit}  # noqa: E731
    if not r.args.trace:
        return {"e2e_s": m(_median_e2e(passes, ids), "s"), "setup_s": m(setup_s, "s")}
    traced = passes
    folds: list[dict] = []
    if eventlog:
        import eventlog as el

        windows = [w for p in traced for rec in p["trecs"].values() if rec for w in rec["windows"]]
        phase = el.fold_file(eventlog, windows)
        for p in traced:
            tot = dict.fromkeys(el.FIELDS, 0.0)
            per_q_join: dict[str, float] = {}
            for q, rec in p["trecs"].items():
                if not rec:
                    continue
                for label, _, _ in rec["windows"]:
                    f = phase.get(label, {})
                    for k in el.FIELDS:
                        tot[k] += f.get(k, 0)
                    per_q_join[q] = max(per_q_join.get(q, 0), f.get("join_rows_max", 0))
            tot["per_q_join"] = per_q_join
            folds.append(tot)

    def med(fn):
        vals = [fn(i, p) for i, p in enumerate(traced)]
        vals = [v for v in vals if v is not None]
        return statistics.median(vals) if vals else 0.0

    def s_total(p, match):
        return sp.outermost_total(p["spans"], match)

    def rec_sum(p, key):
        return sum(rec.get(key, 0.0) for rec in p["trecs"].values() if rec)

    def fold_v(i, key, scale=1.0):
        return folds[i][key] * scale if folds else None

    def dedup_queries(p):
        return {s.query.split("#")[0] for s in p["spans"] if s.name.startswith("operators.dedup.")}

    def cand(i, p):
        return sum(folds[i]["per_q_join"].get(q, 0) for q in dedup_queries(p)) if folds else None

    def pair_yield(i, p):
        c = cand(i, p)
        return sum(r.rows.get(q, 0) for q in dedup_queries(p)) / c if c else 0.0

    def busy(i, p):
        wall_ms = sum((rec["mk"] + rec["action"]) * 1000 for rec in p["trecs"].values() if rec)
        return folds[i]["task_ms"] / (r.slots * wall_ms) if folds and wall_ms else None

    def accounting(p) -> dict:
        """A timed pass's wall split into the traced queries' top-level
        spans, the plain executions' mk, action and drain, and the harness
        gap that is in neither."""
        top = sum(s.dur for s in p["spans"] if s.parent < 0 and s.main_thread)
        plain = sum(rec["mk"] + rec["action"] + rec["drain"] for rec in p["recs"].values() if rec)
        return {"pass": p["pass"], "wall_s": p["wall"], "traced_spans_s": top,
                "plain_s": plain, "gap_s": p["wall"] - top - plain}

    detail["pass_accounting"] = [accounting(p) for p in traced]

    layer_self: dict[str, list[float]] = {}
    for p in traced:
        for k, v in sp.layer_self_time(p["spans"]).items():
            layer_self.setdefault(k, []).append(v)
    detail["layer_self_s"] = {k: round(statistics.median(v), 4) for k, v in sorted(layer_self.items())}
    detail["spans"] = [
        {"query": s.query, "name": s.name, "start_s": round(s.start - p["spans"][0].start, 6),
         "dur_s": round(s.dur, 6), "parent": s.parent, "main_thread": s.main_thread}
        for p in traced for s in p["spans"]
    ]
    detail["eventlog_fold"] = phase if eventlog else {}
    e2e_traced, e2e_plain = _median_e2e(passes, ids, "trecs"), _median_e2e(passes, ids)
    MB = 1e-6
    out = {
        "session.start_s": m(r.session_start_s, "s"),
        "session.warmup_s": m(warmup_s, "s"),
        "catalog.load_calls": m(med(lambda i, p: sp.count(p["spans"], "catalog.load_table")), "count"),
        "catalog.load_s": m(med(lambda i, p: s_total(p, lambda n: n.startswith("catalog."))), "s"),
        "plans.mk_s": m(med(lambda i, p: rec_sum(p, "mk")), "s"),
        "plans.catalyst_ms": m(med(lambda i, p: rec_sum(p, "catalyst_ms")), "ms"),
        "plans.action_s": m(med(lambda i, p: rec_sum(p, "action")), "s"),
        "functions.py_stage_task_s": m(med(lambda i, p: fold_v(i, "py_task_ms", 1e-3)), "s"),
        "functions.py_sent_mb": m(med(lambda i, p: fold_v(i, "py_sent_bytes", MB)), "MB"),
        "operators.dedup.candidate_pairs": m(med(cand), "count"),
        "operators.dedup.pair_yield": m(med(pair_yield), "ratio"),
        "operators.quantize_s": m(med(lambda i, p: s_total(p, lambda n: n.startswith("operators.quantize."))), "s"),
        "ckpt.persist_calls": m(med(lambda i, p: sp.count(p["spans"], "operators._ckpt.tracked_persist")), "count"),
        "ckpt.checkpoint_calls": m(med(lambda i, p: sp.count(p["spans"], "operators._ckpt.tracked_local_checkpoint")), "count"),
        "ckpt.checkpoint_s": m(med(lambda i, p: s_total(p, lambda n: n == "operators._ckpt.tracked_local_checkpoint")), "s"),
        "ckpt.resident_mb": m(med(lambda i, p: rec_sum(p, "resident_mb")), "MB"),
        "ckpt.drain_s": m(med(lambda i, p: rec_sum(p, "drain")), "s"),
        "ckpt.residual_rdds": m(med(lambda i, p: rec_sum(p, "residual_rdds")), "count"),
        "sources.write_s": m(med(lambda i, p: s_total(p, lambda n: bool(_WRITER.match(n)))), "s"),
        "sources.bytes_written_mb": m(med(lambda i, p: fold_v(i, "output_bytes", MB)), "MB"),
        "sources.write_amp": m(med(lambda i, p: folds[i]["output_bytes"] / folds[i]["input_bytes"]
                                   if folds and folds[i]["input_bytes"] else 0.0), "ratio"),
        "streaming.batches": m(med(lambda i, p: fold_v(i, "stream_batches")), "count"),
        "streaming.trigger_ms": m(med(lambda i, p: fold_v(i, "stream_trigger_ms")), "ms"),
        "streaming.commit_ms": m(med(lambda i, p: fold_v(i, "stream_commit_ms")), "ms"),
        "ml.fit_s": m(med(lambda i, p: s_total(p, lambda n: n == "ml.fit")), "s"),
        "exec.jobs": m(med(lambda i, p: fold_v(i, "jobs")), "count"),
        "exec.tasks": m(med(lambda i, p: fold_v(i, "tasks")), "count"),
        "exec.task_s": m(med(lambda i, p: fold_v(i, "task_ms", 1e-3)), "s"),
        "exec.cpu_s": m(med(lambda i, p: fold_v(i, "cpu_ns", 1e-9)), "s"),
        "exec.gc_s": m(med(lambda i, p: fold_v(i, "gc_ms", 1e-3)), "s"),
        "exec.input_mb": m(med(lambda i, p: fold_v(i, "input_bytes", MB)), "MB"),
        "exec.shuffle_write_mb": m(med(lambda i, p: fold_v(i, "shuffle_write_bytes", MB)), "MB"),
        "exec.shuffle_read_mb": m(med(lambda i, p: fold_v(i, "shuffle_read_bytes", MB)), "MB"),
        "exec.spill_mb": m(med(lambda i, p: fold_v(i, "spill_bytes", MB)), "MB"),
        "exec.busy_frac": m(med(busy), "ratio"),
        "exec.failed_tasks": m(med(lambda i, p: fold_v(i, "failed_tasks")), "count"),
        "jvm.jit_ms": m(med(lambda i, p: p["jvm"][0]), "ms"),
        "jvm.gc_ms": m(med(lambda i, p: p["jvm"][1]), "ms"),
        "jvm.classes_loaded": m(med(lambda i, p: p["jvm"][2]), "count"),
        "trace.overhead_s": m(e2e_traced - e2e_plain, "s"),
        "trace.harness_gap_s": m(med(lambda i, p: detail["pass_accounting"][i]["gap_s"]), "s"),
    }
    detail["e2e_s_plain"] = e2e_plain
    detail["e2e_s_traced"] = e2e_traced
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import etl_housing_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"steadybench: cannot import the engine from {ROOT}: {e}")
        return 2
    if not os.path.exists(os.path.join(HERE, "expected.json")):
        log("steadybench: expected.json is missing; run steadybench/make_expected.py")
        return 2
    # SIGTERM unwinds like an exception, so the JVM is stopped and the run
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, detail = run(args)
    out = os.path.join(WORK, f"last_{args.workload}_trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump({"result": result, "detail": detail}, fh, indent=1, default=str)
    log(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
