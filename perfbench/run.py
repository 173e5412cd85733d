"""Benchmark of the pages pipeline and the Zeek search path.

    python3 perfbench/run.py --workload pages --seed 1 --seconds 10 --trace 0

Runs one workload against the package's public functions at
``local[nproc]`` and prints, as the last stdout line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list, with ``--trace 1`` its
``per_layer`` list.

Each phase runs in its own child process (``child.py``), so sessions start
cold, the peak memory of the JVM plus its Python workers can be sampled from
``/proc`` (``peak_rss_mb`` is the proportional set size, so pages forked
workers share are counted once), and a hung Python worker is killed with its
session's process tree when the run's deadline passes. Inputs, outputs,
logs, traces and a record of every run live under ``.perfbench_work/`` in
the checkout. LAYERS.md maps each metric to its layer and workload.

The input is generated (or found cached) first, in this process.

End-to-end run: a ``setup`` or ``cold`` child, a fresh session giving a
set-up sample and, for a workload in ``workloads.COLD_SESSIONS``, a cold-job
sample; then one ``measure`` child: those two samples again, an untimed
warm-up cycle, then cycles of the workload's operations for
``--seconds`` (and at least three cycles). ``setup_s`` is the median of the
set-up walls. The other gated metrics count the user-space instructions an
operation makes the session retire (``procs.Instructions``): on a shared
host, walls and CPU seconds of the same code move by a quarter or more from
run to run, instruction counts by a few percent. Walls and CPU seconds go
to stderr and the run record.

Every workload reports every end-to-end metric. A metric a workload has no
operation for reuses the samples of the one it stands for, with no extra
timed work: pages has no search, so its ``search_p50_ginstr`` and
``search_tail_ginstr`` are the median one-day refresh
(``incremental_ginstr``); zeek_day has no incremental path (bringing the
overview up to date after an hour file is re-delivered re-runs it whole), so
its ``incremental_ginstr`` is the median overview.

Traced run: ``jobreps`` at local[nproc] (untraced reference);
``trace`` at local[nproc] (event log on, spans, layer probes); ``jobreps``
at local[1] (the single-core baseline of ``engine.scaling_eff``).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)
from procs import table, tree  # noqa: E402

WORKLOADS = ("pages", "zeek_day")
SESSIONS = 2  # fresh sessions per end-to-end run, each a set-up sample
RUN_DEADLINE_S = 170.0  # every child is killed by then; the run must end within 180 s


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_pss(procs: dict[int, list[str]]) -> dict[str, int]:
    """Proportional set size in bytes of each process of a tree (as
    ``procs.tree`` gives it; keyed ``pid:command``): pages the forked Python
    workers share with their daemon are counted once, not per worker.

    The JVM starts helper commands with vfork: until the exec, the child
    shares the JVM's memory map and reports the JVM's whole PSS again, so a
    process whose command line is its parent's JVM's is skipped."""
    parent = {p: int(f[1]) for p, f in procs.items()}
    argv: dict[int, list[bytes]] = {}
    for pid in parent:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv[pid] = f.read().split(b"\0")
        except OSError:
            pass
    out = {}
    for pid, args in argv.items():
        if args[0].endswith(b"java") and argv.get(parent[pid]) == args:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        name = " ".join(a.decode(errors="replace") for a in args[:3])[:80]
                        out[f"{pid}:{name}"] = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return out


def reap_groups(pgids: set[int]) -> None:
    """Kill the process groups of a session (its own, with the JVM, and the
    one the Python daemon makes for itself and its workers), wait until
    every process of them is gone, and drop the session's scratch dirs."""
    for g in pgids:
        try:
            os.killpg(g, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.monotonic() + 30.0
    while (any(int(f[2]) in pgids and f[0] != "Z" for f in table().values())
           and time.monotonic() < end):
        time.sleep(0.05)
    for d in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def run_child(mode: str, args, deadline: float, master: str, *extra: str) -> tuple[dict | None, int]:
    """Run ``child.py <mode>``; returns (its JSON result or None, peak group PSS)."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYSPARK_PYTHON": sys.executable,
        # the package's default 8g heap grows to 3.5-5.5 GB here; the cap
        # keeps a run small on a shared host, and the job reaches it
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
    }
    cmd = [sys.executable, os.path.join(HERE, "child.py"), mode, "--workload", args.workload,
           "--seed", str(args.seed), "--work", WORK, "--master", master, *extra]
    log_path = os.path.join(WORK, "logs", f"{args.workload}-{mode}-{master.strip('local[]')}.log")
    t0 = time.monotonic()
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT,
                                env=env, start_new_session=True)
        peak: list = [0, {}]  # total and per-process PSS at the peak
        pgids = {proc.pid}  # every process group the session's tree used
        lines: list[str] = []
        done = threading.Event()

        def sample() -> None:
            while not done.is_set():
                procs = tree(proc.pid)
                pgids.update(int(f[2]) for f in procs.values())
                per = tree_pss(procs)
                if sum(per.values()) > peak[0]:
                    peak[:] = [sum(per.values()), per]
                time.sleep(0.2)

        def read() -> None:
            # the child's last act is its one JSON line; the session is killed
            # as soon as it arrives, sparing the JVM's seconds of shutdown hooks
            for line in proc.stdout:
                lines.append(line)
                if line.startswith("{"):
                    break
            done.set()

        sampler, reader = (threading.Thread(target=f, daemon=True) for f in (sample, read))
        sampler.start()
        reader.start()
        if not done.wait(timeout=max(deadline - time.monotonic(), 1.0)):
            log(f"{mode} child passed the run deadline; killing its processes")
        done.set()
        sampler.join()
        pgids.update(int(f[2]) for f in tree(proc.pid).values())
        t_reap = time.monotonic()
        reap_groups(pgids)
        log(f"reaped in {time.monotonic() - t_reap:.1f} s")
        proc.wait()
        reader.join()  # the child's stdout closed with it
        # outputs go with the session that wrote them
        shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    if not (lines and lines[-1].startswith("{")):
        with open(log_path) as f:
            tail = f.read().splitlines()[-20:]
        log(f"{mode} child failed (exit {proc.returncode}); log tail:\n" + "\n".join(tail))
        return None, peak[0]
    res = json.loads(lines[-1])
    res["child_wall_s"] = time.monotonic() - t0
    res["peak_pss_mb"] = {k: round(v / 2**20, 1) for k, v in peak[1].items()}
    log(f"{mode} child done in {res['child_wall_s']:.1f} s")
    return res, peak[0]


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with ten samples beyond it."""
    xs = sorted(samples)
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs)


def rows_of(args) -> int:
    from workloads import input_dir

    with open(os.path.join(input_dir(WORK, args.workload, args.seed), "expected.json")) as f:
        return json.load(f)["rows"]


def end_to_end(args, deadline: float, n: int) -> tuple[dict, list[dict]] | None:
    master = f"local[{n}]"
    from workloads import COLD_SESSIONS

    samples = []
    for k in range(SESSIONS - 1):
        cold = k + 1 < COLD_SESSIONS[args.workload]
        res, _ = run_child("cold" if cold else "setup", args, deadline, master)
        if res is None or (cold and res["cold"] is None):
            return None
        samples.append(res)
    meas, pss = run_child("measure", args, deadline, master, "--seconds", str(args.seconds))
    if meas is None:
        return None
    samples.append(meas)
    if meas["cold"] is None or not meas["jobs"]:
        return None
    # every timed sample is [wall, cpu, ginstr]; the gated figures count instructions
    wall, cpu, gi = ({k: [x[i] for x in meas[k]] for k in ("jobs", "refreshes", "searches")}
                     for i in range(3))
    values = {
        "setup_s": statistics.median(c["setup_s"] for c in samples),
        "cold_job_ginstr": statistics.median(c["cold"][2] for c in samples if "cold" in c),
        "job_instr_per_row": statistics.median(gi["jobs"]) * 1e9 / rows_of(args),
        "peak_rss_mb": pss / 2**20,
    }
    if args.workload == "pages":
        if not gi["refreshes"]:
            return None
        values["incremental_ginstr"] = statistics.median(gi["refreshes"])
        values["search_p50_ginstr"] = values["search_tail_ginstr"] = values["incremental_ginstr"]
    else:
        if len(gi["searches"]) < 11:
            return None
        tail, pct = tail_percentile(gi["searches"])
        log(f"search tail is p{pct:.1f} of {len(gi['searches'])} searches")
        meas["search_tail_percentile"] = pct
        values.update(incremental_ginstr=statistics.median(gi["jobs"]),
                      search_p50_ginstr=statistics.median(gi["searches"]), search_tail_ginstr=tail)
    for name, xs in (("wall", wall), ("cpu", cpu)):
        log(f"{name} (s): cold job {meas['cold'][0 if name == 'wall' else 1]:.3f}" + "".join(
            f", {k} median {statistics.median(v):.3f}" for k, v in xs.items() if v))
    return values, samples


def per_layer(args, deadline: float, n: int, names: list[str]) -> tuple[dict, list[dict]] | None:
    import spans

    master = f"local[{n}]"
    ref, _ = run_child("jobreps", args, deadline, master, "--reps", "3")
    tr, _ = run_child("trace", args, deadline, master, "--reps", "3") if ref else (None, 0)
    one, _ = run_child("jobreps", args, deadline, "local[1]", "--reps", "1") if tr else (None, 0)
    if one is None or not (ref["jobs"] and one["jobs"]) or ref["cold"] is None:
        return None
    with open(tr["trace_file"]) as f:
        trace = json.load(f)
    info = trace["info"]
    traced = [x[0] for x in info["jobs"] if x is not None]
    if not traced:
        return None
    job = {**info, "cold_s": ref["cold"][0], "warm_s": statistics.median(x[0] for x in ref["jobs"]),
           "traced_s": statistics.median(traced), "one_core_s": statistics.median(x[0] for x in one["jobs"]),
           "nproc": n}
    values = spans.per_layer(args.workload, names, trace["layer_walls"], trace["layer_spans"],
                             trace["counts"], trace["eventlog"], job)
    self_s: dict[str, float] = {}
    for s in trace["spans"]:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + s["self_s"]
    log("span self time (s), summed over passes:\n" + "\n".join(
        f"  {name:45s} {t:8.3f}" for name, t in sorted(self_s.items(), key=lambda kv: -kv[1])))
    log(f"layer sum {values['trace.layer_sum_s']:.3f} s, gap to the traced job "
        f"{values['trace.layer_gap_s']:.3f} s, tracing overhead {values['trace.overhead_s']:.3f} s")
    log(f"trace written to {tr['trace_file']}")
    return values, [ref, tr, one]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.monotonic()

    # the package is used from this checkout's sources, never from elsewhere
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "log_analysis_spark", "__init__.py")):
        log(f"cannot run: no log_analysis_spark package in {ROOT}")
        sys.exit(2)
    if importlib.util.find_spec("pyspark") is None:
        log("cannot run: pyspark is not installed")
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    names = [m["name"] for m in wanted]

    n = len(os.sched_getaffinity(0))
    deadline = start + RUN_DEADLINE_S
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    from workloads import ensure_input

    ensure_input(WORK, args.workload, args.seed)
    log(f"input ready after {time.monotonic() - start:.1f} s")
    measured = (per_layer(args, deadline, n, names) if args.trace else end_to_end(args, deadline, n))
    if measured is None:
        log("run failed; no result")
        sys.exit(1)
    values, children = measured
    attempted = sum(c.get("attempted", 0) for c in children)
    failed = sum(c.get("failed", 0) for c in children)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(record, "w") as f:
        json.dump({"result": result, "children": children, "nproc": n,
                   "wall_s": time.monotonic() - start}, f, indent=1)
    log(f"{args.workload} seed {args.seed}: {time.monotonic() - start:.1f} s, record {record}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
