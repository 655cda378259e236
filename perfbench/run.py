"""Benchmark entry point.

    python3 perfbench/run.py --workload features_raw --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. One process is one closed-loop run: a
``local[nproc]`` session issues one job at a time. The run

1. launches the JVM ``launches`` times, one after the other; each launch
   starts the session, builds the workload's inputs from
   ``trafaret_spark.datagen`` with ``--seed`` and makes one cold call
   (``setup_s`` is the median over the launches, ``cold_job_s`` the
   fastest cold call: a host stall slows one launch, never speeds it up);
2. in the last launch, makes ``warmup`` untimed calls, then timed calls
   until both ``min_calls`` calls and ``--seconds`` have passed; every
   call writes to a fresh output path that is deleted outside the timing;
3. checks every call's result cheaply and the last call's output fully
   (invariants, plus an exact digest for the seeds in ``digests.json``).

With ``--trace 0`` the last stdout line holds the end-to-end metrics. With
``--trace 1`` the run then starts a second session in the same JVM with the
Spark event log on, repeats the timed calls (``trace.job_s``), runs every
workload's layer suite as spans, and prints the per-layer metrics instead;
it launches the JVM once.
``error_rate`` is ``failed / attempted`` in the result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(HERE, "digests.json")
# stop adding timed calls past this process age (untraced, traced), so a
# slow host still ends the run well inside its time limit
RUN_CAP_S = (150.0, 80.0)
TRACED_CALLS = 3    # timed calls per context in a traced run

END_TO_END = {   # name -> unit
    "setup_s": "s", "cold_job_s": "s", "job_s": "s", "rows_per_s": "rows/s",
    "cpu_s": "s", "jvm_peak_rss_mb": "MB", "worker_peak_rss_mb": "MB",
}
SPANS = [
    "validate.apply_schema", "asof.asof_join", "features.apply",
    "io.write_bucketed", "checkpoint.stamp", "pipeline.run_pipeline",
    "conversations.dedup_stutter", "conversations.conversation_report",
    "conversations.dedup_conversations",
    "conversations.neardup_conversations", "conversations.truncate_turns",
    "dedup.minhash_lsh_candidates", "dedup.jaccard", "dedup.keep_canonical",
    "dedup.ngram_jaccard_pairs", "curation_pipeline.run_curation",
    "similarity.cosine_neardup", "similarity.cosine_topk",
]
# spans whose shuffle, Python-boundary and straggler figures are reported
SPANS_EXT = [
    "asof.asof_join", "features.apply", "dedup.minhash_lsh_candidates",
    "dedup.ngram_jaccard_pairs", "similarity.cosine_neardup",
    "similarity.cosine_topk",
]
SPAN_FIELDS = {"s": "s", "cpu_s": "s", "jobs": "count", "tasks": "count",
               "rows_out": "rows"}
EXT_FIELDS = {"shuffle_mb": "MB", "spill_mb": "MB", "py_s": "s",
              "py_mb": "MB", "task_skew": "ratio"}
DERIVED = {"validate.rows_quarantined": "rows",
           "dedup.pairs_per_candidate": "ratio",
           "curation_pipeline.audit.s": "s",
           "curation_pipeline.audit.jobs": "count",
           "trace.job_s": "s", "trace.overhead_s": "s"}


def per_layer_units() -> "dict[str, str]":
    """Every per-layer metric name with its unit, in report order."""
    out = {}
    for span in SPANS:
        for f, u in SPAN_FIELDS.items():
            out[f"{span}.{f}"] = u
        if span in SPANS_EXT:
            for f, u in EXT_FIELDS.items():
                out[f"{span}.{f}"] = u
    out.update(DERIVED)
    return out


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Run:
    """One benchmark process: session, inputs, calls and checks."""

    def __init__(self, args, work: str, t_proc: float):
        from perfbench.workloads import WORKLOADS
        self.args = args
        self.work = work
        self.t_proc = t_proc
        self.cls = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.worker_hwm = 0.0

    def _sample_worker_rss(self) -> None:
        """Highest VmHWM so far of the PySpark daemon and its workers (the
        driver is not one of them)."""
        from perfbench import procstat
        pids = procstat.python_descendants(os.getpid())
        self.worker_hwm = max([self.worker_hwm]
                              + [procstat.vm_hwm_mb(p) for p in pids])

    def worker_peak_rss_mb(self) -> float:
        """The workers' peak. A run that starts no Python worker
        (``features_raw``) reports the driver's own VmHWM instead, so the
        metric is never 0; both are logged."""
        from perfbench import procstat
        driver = procstat.vm_hwm_mb(os.getpid())
        log(f"python peak rss: workers {self.worker_hwm:.1f} MB, "
            f"driver {driver:.1f} MB")
        return self.worker_hwm or driver

    def _call(self, wl, i: int, first):
        """One job call, timed; its output path is fresh and the previous
        call's output is deleted afterwards (both outside the timing)."""
        from perfbench import procstat
        out = os.path.join(self.work, "out", f"call{i}")
        me = os.getpid()
        cpu0 = procstat.work_cpu_s(me)
        t0 = time.perf_counter()
        try:
            r, errs = wl.call(out), []
        except Exception as e:   # a failed call is counted, not fatal
            r, errs = None, [f"call raised {e!r}"]
        dt = time.perf_counter() - t0
        cpu = procstat.work_cpu_s(me) - cpu0
        self.attempted += 1
        if r is not None:
            errs = wl.quick_check(r, first if first is not None else r)
        if errs:
            self.failed += 1
            log(f"call {i} failed: {errs}")
        self._sample_worker_rss()
        shutil.rmtree(os.path.join(self.work, "out", f"call{i - 1}"),
                      ignore_errors=True)
        return r, dt, cpu, out, bool(errs)

    def _launch(self, seed: int, k: int, first):
        """Launch the JVM, start the session, build the inputs and make the
        cold call. Returns the session, the workload, the input rows, the
        set-up time (launch to inputs built) and the cold call."""
        from perfbench.harness import start_session
        t0 = time.perf_counter()
        spark = start_session(self.work, self.cores, traced=False)
        t_session = time.perf_counter() - t0
        wl = self.cls(spark, seed)
        n_input = wl.materialize_inputs()
        setup = time.perf_counter() - t0
        log(f"launch {k}: session {t_session:.3f} s, input build "
            f"{setup - t_session:.3f} s, {n_input} rows")
        call = self._call(wl, 1000 * k, first)
        return spark, wl, n_input, setup, call

    def measure(self, seed: int) -> dict:
        """Launches with their cold calls, then warm-up, timed calls and the
        output check in the last launch. Leaves the last session in
        ``self.spark``."""
        from perfbench import procstat
        from perfbench.harness import shutdown_jvm
        a = self.args
        # a traced run reports no setup_s or cold_job_s: one launch
        launches = 1 if a.trace else self.cls.launches
        t_import = time.time() - self.t_proc   # interpreter and imports
        setups, colds, first = [], [], None
        for k in range(launches):
            spark, wl, n_input, setup, (r, dt, _, out, bad) = \
                self._launch(seed, k, first)
            setups.append(setup)
            colds.append(dt)
            if first is None:
                first = r
            if k < launches - 1:
                wl.release()
                shutdown_jvm()
                shutil.rmtree(out, ignore_errors=True)
        self.spark = spark
        setup_s = t_import + statistics.median(setups)
        cold = min(colds)

        warmup = wl.warmup if a.warmup is None else a.warmup
        min_calls = wl.min_calls if a.min_calls is None else a.min_calls
        seconds = a.seconds
        if a.trace:
            # reports per-layer metrics only, and its overhead pair of
            # contexts needs no long warm-up: keep it well inside 180 s
            warmup, min_calls, seconds = 1, 1, 0.0
        calls = [dt]
        base = 1000 * (launches - 1)   # the last cold call's index
        for i in range(base + 1, base + warmup + 1):
            r, dt, _, out, bad = self._call(wl, i, first)
            calls.append(dt)
        times, cpus = [], []
        t_start = time.perf_counter()
        i = base + warmup + 1
        while (len(times) < min_calls
               or time.perf_counter() - t_start < seconds):
            if times and time.time() - self.t_proc > RUN_CAP_S[a.trace]:
                break
            r, dt, cpu, out, bad = self._call(wl, i, first)
            calls.append(dt)
            times.append(dt)
            cpus.append(cpu)
            i += 1
        me = os.getpid()
        jvm = procstat.find_child(me, "java")
        jvm_hwm = procstat.vm_hwm_mb(jvm) if jvm else 0.0

        # full output check of the last call, outside the timing
        correct = True
        if r is None:
            correct = False
        else:
            errs, digest = wl.full_check(out, r)
            want = self._recorded_digest(seed)
            if want is not None and want != digest:
                errs.append(f"digest {digest} != recorded {want}")
            log(f"output digest {digest}"
                + ("" if want is None else " (recorded: match)"
                   if want == digest else " (recorded: MISMATCH)"))
            if a.record_digest:
                self._record_digest(seed, digest)
            if errs:
                correct = False
                log(f"output check failed: {errs}")
                if not bad:
                    self.failed += 1
        shutil.rmtree(out, ignore_errors=True)
        wl.release()
        job_s = statistics.median(times)
        log(f"cold calls {' '.join(f'{t:.3f}' for t in colds)} s; last "
            f"launch call times (cold, {warmup} warm-up, {len(times)} "
            "timed): " + " ".join(f"{t:.3f}" for t in calls))
        return {
            "correct": correct and self.failed == 0,
            "metrics": {
                "setup_s": setup_s, "cold_job_s": cold, "job_s": job_s,
                "rows_per_s": n_input / job_s,
                "cpu_s": statistics.median(cpus),
                "jvm_peak_rss_mb": jvm_hwm,
                "worker_peak_rss_mb": self.worker_peak_rss_mb(),
            },
        }

    def _recorded_digest(self, seed: int):
        if not os.path.exists(DIGESTS):
            return None
        with open(DIGESTS) as fh:
            return json.load(fh).get(self.args.workload, {}).get(str(seed))

    def _record_digest(self, seed: int, digest: str) -> None:
        data = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as fh:
                data = json.load(fh)
        data.setdefault(self.args.workload, {})[str(seed)] = digest
        with open(DIGESTS, "w") as fh:
            json.dump(data, fh, indent=2, sort_keys=True)
            fh.write("\n")

    def _context_calls(self, seed: int, n: int, traced: bool, tag: int):
        """A new SparkContext in the same JVM: build the inputs, make one
        untimed call (the context starts new Python workers), then ``n``
        timed calls. Returns the session, the workload and the median."""
        from perfbench.harness import start_session
        spark = start_session(self.work, self.cores, traced=traced)
        wl = self.cls(spark, seed)
        wl.materialize_inputs()
        times = [self._call(wl, tag + i, None)[1] for i in range(n + 1)]
        return spark, wl, statistics.median(times[1:])

    def trace(self, seed: int) -> dict:
        """Tracing overhead, then every workload's layer suite as spans in
        a context with the event log on; returns the per-layer metrics.

        The overhead compares two contexts that follow each other and are
        built the same way, one untraced and one traced, so that the
        warm-up the JVM still does from call to call falls on both alike.
        """
        from perfbench.eventlog import fold_event_log
        from perfbench.harness import Tracer
        from perfbench.workloads import WORKLOADS
        n = TRACED_CALLS
        spark, wl, base_s = self._context_calls(seed, n, False, 2000)
        wl.release()
        spark.stop()
        spark, wl, trace_job_s = self._context_calls(seed, n, True, 3000)
        tracer = Tracer(spark, self.work)
        derived = {}
        for cls in WORKLOADS.values():
            w = wl if cls is self.cls else cls(spark, seed)
            if w is not wl:
                w.materialize_inputs()
            derived.update(w.layers(tracer))
            w.release()
        spark.stop()   # flushes the event log; the JVM keeps running
        logdir = os.path.join(self.work, "eventlog")
        folded = {}
        for name in os.listdir(logdir):
            folded.update(fold_event_log(os.path.join(logdir, name)))
        values = dict(derived)
        values["trace.job_s"] = trace_job_s
        values["trace.overhead_s"] = trace_job_s - base_s
        for span in SPANS:
            for f in SPAN_FIELDS:
                values[f"{span}.{f}"] = tracer.spans[span][f]
            if span in SPANS_EXT:
                ext = folded.get(span, {})
                for f in EXT_FIELDS:
                    values[f"{span}.{f}"] = ext.get(f, 0.0)
        return values


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=None,
                    help="override the workload's untimed warm-up calls")
    ap.add_argument("--min-calls", type=int, default=None,
                    help="override the workload's least timed calls")
    ap.add_argument("--record-digest", action="store_true",
                    help="store this seed's output digest in digests.json")
    args = ap.parse_args(argv)

    from perfbench import procstat
    from perfbench.harness import prepare_env, shutdown_jvm
    t_proc = procstat.process_start_time()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import trafaret_spark  # noqa: F401  (the program under test)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    prepare_env(ROOT, work)
    try:
        run = Run(args, work, t_proc)
        res = run.measure(args.seed)
        m = res["metrics"]
        for name, unit in END_TO_END.items():
            print(f"{name} = {m[name]:.6g} {unit}")
        print(f"error_rate = {run.failed / run.attempted:.6g} fraction "
              f"({run.failed} of {run.attempted} calls)")
        if args.trace:
            run.spark.stop()
            values = run.trace(args.seed)
            units = per_layer_units()
            metrics = {k: {"value": values[k], "unit": u}
                       for k, u in units.items()}
            print(f"tracing overhead = {values['trace.overhead_s']:.6g} s "
                  f"per call (traced {values['trace.job_s']:.6g} s)")
        else:
            metrics = {k: {"value": m[k], "unit": u}
                       for k, u in END_TO_END.items()}
        result = {"correct": res["correct"] and run.failed == 0,
                  "attempted": run.attempted,
                  "failed": run.failed, "metrics": metrics}
    finally:
        try:
            shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:   # another run still uses it
                pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
