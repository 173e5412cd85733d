"""Spark-side half of a benchmark run: one SparkSession, one mode.

``run.py`` starts this script as a child process per phase so that every
session (and its JVM and Python workers) starts cold, can be timed as a
set-up sample, and can be killed with its whole process tree. Modes:

- ``setup``    one set-up sample;
- ``cold``     set-up sample and cold-job sample;
- ``measure``  set-up sample, cold-job sample, one untimed warm-up cycle
  (JIT keeps speeding the operations up for a few more runs), then timed
  cycles of the workload's operations (jobs, and refreshes or searches
  where it has them) for ``--seconds`` and at least MIN_CYCLES cycles,
  checking every output;
- ``jobreps``  set-up sample, cold job, ``--reps`` warm jobs (the untraced
  reference of a traced run, and its one-core scaling run);
- ``trace``    like ``jobreps`` with the event log on and spans open, then
  the layer probes; writes the spans and event-log summary under
  ``<work>/traces`` and prints the per-layer table.

The last stdout line is one JSON object for ``run.py``.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import random
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for _p in (ROOT, HERE):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from procs import Instructions, cpu_s  # noqa: E402

MIN_CYCLES = 3  # medians of at least three samples of each operation


T0 = time.monotonic()
ME = os.getpid()


def note(msg: str) -> None:
    """Phase marker in the child's log (stderr), with seconds since start."""
    print(f"[perfbench {time.monotonic() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _identity(batches):
    yield from batches


def start_session(master: str, work: str, extra: dict | None = None):
    """Session start plus Python-worker warm-up; returns (spark, seconds)."""
    t0 = time.monotonic()
    from log_analysis_spark.session import get_spark

    conf = {
        "spark.python.worker.faulthandler.enabled": "true",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no perf-data file is written to the system's /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         "-XX:-UsePerfData",
        **(extra or {}),
    }
    spark = get_spark("perfbench", master=master, extra_conf=conf)
    par = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * par, 1, par).mapInArrow(_identity, "id long").count()
    return spark, time.monotonic() - t0


class Ops:
    """Counts attempted and failed operations; a mismatch or an exception
    fails the operation, and the run goes on."""

    def __init__(self, instructions: Instructions):
        self.instructions = instructions
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn, check, ctx=None):
        """Time ``fn()`` (inside the context ``ctx``, e.g. a span), then
        check its result; returns ``[wall, cpu, ginstr]``, or None when it
        failed: seconds, CPU seconds and billions of user-space instructions,
        the last two of this process, its JVM and its Python workers."""
        self.attempted += 1
        try:
            with ctx or contextlib.nullcontext():
                i0, c0, t0 = self.instructions.read(), cpu_s(ME), time.monotonic()
                res = fn()
                wall, cpu = time.monotonic() - t0, cpu_s(ME) - c0
                ginstr = (self.instructions.read() - i0) / 1e9
            bad = check(res)
        except Exception:  # noqa: BLE001 - one failed operation must not end the run
            bad = [traceback.format_exc(limit=3)]
        if bad:
            self.failed += 1
            self.errors.extend(bad)
            for b in bad:
                print(f"FAILED: {b}", file=sys.stderr)
            return None
        return [wall, cpu, ginstr]

    def result(self) -> dict:
        return {"attempted": self.attempted, "failed": self.failed, "errors": self.errors[:5]}


def job_rep(ops: Ops, w, ctx=None):
    t0 = time.monotonic()
    w.prepare_job()
    note(f"prepare_job {time.monotonic() - t0:.2f}s")
    return ops.run(w.job, w.check_job, ctx)


def refresh_rep(ops: Ops, w, ctx=None):
    t0 = time.monotonic()
    unit = w.prepare_refresh()
    note(f"prepare_refresh {time.monotonic() - t0:.2f}s")
    return ops.run(lambda: w.refresh(unit), lambda res: w.check_refresh(unit, res), ctx)


def resume_base(ops: Ops, w, ctx=None) -> None:
    base = w.resume_base()
    if base is not None:
        ops.run(*base, ctx)


def mode_setup(args, spark, w, ops: Ops) -> dict:
    return {}


def mode_cold(args, spark, w, ops: Ops) -> dict:
    return {"cold": job_rep(ops, w)}


def mode_measure(args, spark, w, ops: Ops) -> dict:
    note("cold job")
    cold = job_rep(ops, w)
    note("resume base")
    resume_base(ops, w)
    keys = w.search_keys(random.Random(args.seed)) if w.searches_per_cycle else None

    def search() -> list | None:
        key = next(keys)
        return ops.run(lambda: w.search(key), lambda got: w.check_search(key, got))

    def cycle() -> tuple[list, list, list]:
        return ([job_rep(ops, w) for _ in range(w.jobs_per_cycle)],
                [refresh_rep(ops, w) for _ in range(w.refreshes_per_cycle)],
                [search() for _ in range(w.searches_per_cycle)])

    note("warm-up cycle")
    cycle()
    note("cycles")
    jobs, refreshes, searches = [], [], []
    t0 = time.monotonic()
    for n in itertools.count(1):
        j, r, s = cycle()
        jobs, refreshes, searches = jobs + j, refreshes + r, searches + s
        elapsed = time.monotonic() - t0
        note(f"cycle {n} done")
        if (elapsed >= args.seconds and n >= MIN_CYCLES) or elapsed >= 3 * args.seconds:
            break
    ok = lambda xs: [x for x in xs if x is not None]  # noqa: E731
    return {"cold": cold, "jobs": ok(jobs), "refreshes": ok(refreshes), "searches": ok(searches)}


def mode_jobreps(args, spark, w, ops: Ops) -> dict:
    cold = job_rep(ops, w)
    jobs = [job_rep(ops, w) for _ in range(args.reps)]
    return {"cold": cold, "jobs": [x for x in jobs if x is not None]}


def mode_trace(args, spark, w, ops: Ops) -> dict:
    import spans
    from eventlog import summarize

    tr = spans.Tracer(spark, run_id=f"{args.workload}-s{args.seed}-{os.getpid()}")
    info: dict = {}
    with tr.span("run"):
        info["cold"] = job_rep(ops, w, tr.span("job.cold"))
        first = len(tr.spans)
        info["jobs"] = [job_rep(ops, w, tr.span("job")) for _ in range(args.reps)]
        info["span"] = tr.spans[first]["id"]
        if args.workload == "pages":
            from log_analysis_spark.plans.checkpoint import dir_fingerprint
            from log_analysis_spark.plans.job import finalize

            resume_base(ops, w, tr.span("plans.job.run_pipeline"))
            with tr.span("plans.job.finalize") as rec:
                finalize(spark, w.daily)
            info["finalize_s"] = rec["end"] - rec["start"]
            with tr.span("plans.checkpoint.dir_fingerprint") as rec:
                for d in w.days:
                    dir_fingerprint(os.path.join(w.pages, f"day={d}"))
            info["fingerprint_s"] = rec["end"] - rec["start"]
            day = w.prepare_refresh()
            res = {}
            ops.run(lambda: res.update(w.refresh(day)) or res,
                    lambda r: w.check_refresh(day, r), tr.span("refresh"))
            info["units_run"] = len(res.get("days_processed", []))
            info["units_skipped"] = len(res.get("days_skipped", []))
            probe = spans.pages_layers(tr, w, os.path.join(args.work, "out", "layers"))
            counts = spans.pages_counts(tr, w)
        else:
            probe = spans.zeek_layers(tr, w)
            counts = spans.zeek_counts(tr, w)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = os.path.join(args.work, "eventlog", app_id)
    summary = summarize(log)
    os.remove(log)
    os.makedirs(os.path.join(args.work, "traces"), exist_ok=True)
    trace_file = os.path.join(args.work, "traces", f"{tr.run_id}.json")
    with open(trace_file, "w") as f:
        json.dump({"info": info, "spans": tr.with_self_times(), "layer_walls": probe.wall,
                   "layer_spans": probe.span_id, "counts": counts, "eventlog": summary}, f, indent=1)
    return {"trace_file": trace_file}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["setup", "cold", "measure", "jobreps", "trace"])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--master", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from workloads import WORKLOADS, input_dir

    extra = None
    if args.mode == "trace":
        from eventlog import event_log_conf

        os.makedirs(os.path.join(args.work, "eventlog"), exist_ok=True)
        extra = event_log_conf(os.path.join(args.work, "eventlog"))
    note(f"{args.mode} start")
    instructions = Instructions()  # before the JVM starts, so that it counts it too
    spark, setup_s = start_session(args.master, args.work, extra)
    note("session ready")
    out: dict = {"setup_s": setup_s}
    ops = Ops(instructions)
    w = WORKLOADS[args.workload](spark, input_dir(args.work, args.workload, args.seed), args.work)
    modes = {"setup": mode_setup, "cold": mode_cold, "measure": mode_measure, "jobreps": mode_jobreps, "trace": mode_trace}
    out.update(modes[args.mode](args, spark, w, ops))
    instructions.close()
    out.update(ops.result())
    print(json.dumps(out), flush=True)
    # the parent kills this session (JVM, Python workers) as soon as
    # it reads that line; a graceful spark.stop() costs seconds, and the
    # outputs are committed
    os._exit(0)


if __name__ == "__main__":
    main()
