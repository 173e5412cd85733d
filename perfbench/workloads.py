"""Seeded inputs, expected answers and timed operations of each workload.

Inputs are a pure function of (workload, seed, size) and are generated once
into ``<work>/inputs``, next to a JSON file of the answers the outputs must
match. Those answers come from the generator side only — the synthetic
corpus columns and the Zeek rows as they are written — never from the
package's own parsers.

Each workload offers the runner its operations, and says how many of each
one cycle of the timed loop makes (``*_per_cycle``; 0 when it has none):

- ``job()``      the workload's batch job, run into a new output dir;
- ``refresh()``  (pages) bring the per-day outputs up to date after one day
  of input was re-delivered (given a new mtime);
- ``search(k)``  (zeek_day) one closed-loop lookup a user waits on;
- ``check_*``    compare what the operation produced against the answers,
  returning a list of mismatch messages (empty when correct).
"""

from __future__ import annotations

import itertools
import json
import os
import random
import re
import shutil
import time
from ipaddress import ip_address, ip_network

import numpy as np

PAGES_ROWS = 120_000
ZEEK_LINES = 120_000
ZEEK_DATE = "2024-07-02"
ZEEK_PROTOS = ("conn", "dns", "http")
# The Zeek traffic shape is assumed, not taken from a capture (there is no
# Zeek sample to take it from): the conn/dns/http split below, 30% of lines
# from 10 hot source IPs out of a pool of ~1500, and 10% '-' sentinels in
# the non-key fields.
ZEEK_SHARE = {"conn": 0.5, "dns": 0.3, "http": 0.2}
# Searches interleave in a fixed order: NARROWED of every ten are narrowed to
# one log type (the rest search all three), so every run has the same mix.
# The share is an assumption too.
NARROWED = 3
# Fresh sessions per end-to-end run whose cold job is timed. Each session
# gives a set-up sample; the zeek overview's cold instruction count moves
# more from session to session than the pages job's, and costs ~4 s, not ~9.
COLD_SESSIONS = {"pages": 1, "zeek_day": 2}
PLANT_MOD = 1999  # one page in 1999 (0.05%) gets invalid UTF-8 in its text
BEGIN = b"<!--BEGIN_TEXT-->"
# the synthetic event-line grammar, restated here so expected conn rows do
# not depend on the package's own regex
EV_LINE = re.compile(
    r"^EV type=(\w+) src=\S+ dst=\S+ sport=\d+ dport=\d+ bytes=\d+ dur_ms=\d+$",
    re.MULTILINE,
)


# --------------------------------------------------------------------------
# pages corpus (a seeded draw from a synth.gen_batch pool)
# --------------------------------------------------------------------------
POOL_ROWS = 160_000  # generated once per work dir; each seed draws PAGES_ROWS of them
PAGES_FILES_PER_DAY = 4
PAGES_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def pages_pool(work: str):
    """The pool of synthetic pages (``synth.gen_batch`` over ids
    0..POOL_ROWS) as an Arrow table, with the answer columns of each row:
    ``day``, ``host`` and one ``ev_<type>`` count per event type.

    ``gen_batch`` costs ~45 us a row in pure Python; drawing every seed's
    corpus from one cached pool keeps that cost out of all but the first run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from log_analysis_spark import synth

    path = os.path.join(work, "inputs", f"pool-pages-n{POOL_ROWS}.parquet")
    if not os.path.exists(path):
        df = synth.gen_batch(np.arange(POOL_ROWS, dtype=np.int64))
        df["warc_ts"] = df["warc_ts"].dt.tz_localize("UTC")
        df["day"] = df["warc_ts"].dt.strftime("%Y-%m-%d")
        df["host"] = df["url"].str.split("/").str[2]
        found = df["text"].map(EV_LINE.findall)
        for t in synth.EVENT_TYPES:
            df[f"ev_{t}"] = found.map(lambda f, t=t: f.count(t)).astype(np.int32)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        table = pa.Table.from_pandas(df, preserve_index=False)
        ts = table.schema.get_field_index("warc_ts")
        table = table.set_column(ts, "warc_ts", table["warc_ts"].cast(pa.timestamp("us", tz="UTC")))
        pq.write_table(table, path + ".tmp")
        flush(path + ".tmp")
        os.replace(path + ".tmp", path)
    return pq.read_table(path)


def generate_pages(path: str, work: str, seed: int, n_rows: int) -> dict:
    """Write the day-partitioned pages table of ``seed`` (the ``write_pages``
    layout: ``day=YYYY-MM-DD`` dirs, PAGES_SCHEMA columns) and return its
    answers.

    The corpus is a seeded draw of ``n_rows`` pool pages. One page in
    PLANT_MOD gets an invalid UTF-8 byte right after the text marker, so its
    ``extracted_text`` must come out NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    pool = pages_pool(work)
    t = pool.take(np.sort(rng.choice(pool.num_rows, n_rows, replace=False)))
    mask = np.zeros(n_rows, dtype=bool)
    mask[rng.choice(n_rows, n_rows // PLANT_MOD, replace=False)] = True
    dirty = pc.replace_substring(t["html"], BEGIN, BEGIN + b"\xff", max_replacements=1)
    t = t.set_column(t.schema.get_field_index("html"), "html",
                     pc.if_else(pa.array(mask), dirty, t["html"]))
    days = t["day"].to_numpy(zero_copy_only=False)
    for day in sorted(set(days)):
        part = t.filter(pa.array(days == day)).select(list(PAGES_COLUMNS))
        os.makedirs(os.path.join(path, f"day={day}"), exist_ok=True)
        for k, chunk in enumerate(np.array_split(np.arange(part.num_rows), PAGES_FILES_PER_DAY)):
            pq.write_table(part.take(chunk), os.path.join(path, f"day={day}", f"part-{k:05d}.parquet"))

    types = {c[3:]: int(pc.sum(t[c]).as_py()) for c in t.column_names if c.startswith("ev_")}
    return {
        "rows": n_rows, "days": {d: int((days == d).sum()) for d in sorted(set(days))},
        "types": types, "planted": int(mask.sum()),
    }


# --------------------------------------------------------------------------
# Zeek day (gzipped TSV, hourly files, written with write_zeek_fixture)
# --------------------------------------------------------------------------
_ZEEK_INT = {
    "orig_bytes", "resp_bytes", "missed_bytes", "orig_pkts", "orig_ip_bytes",
    "resp_pkts", "resp_ip_bytes", "trans_id", "qclass", "qtype", "rcode", "Z",
    "trans_depth", "request_body_len", "response_body_len", "status_code",
    "info_code",
}
_ZEEK_FLOAT = {"duration", "rtt"}
_ZEEK_BOOL = {"local_orig", "local_resp", "AA", "TC", "RD", "RA", "rejected"}
_ZEEK_VECTOR = {
    "tunnel_parents", "answers", "TTLs", "tags", "proxied", "orig_fuids",
    "orig_filenames", "orig_mime_types", "resp_fuids", "resp_filenames",
    "resp_mime_types",
}
_ZEEK_HEAD = 6  # ts, uid, id.orig_h, id.orig_p, id.resp_h, id.resp_p


def _zeek_value(field: str, rng: random.Random) -> str:
    """One well-formed value for a non-key field; 10% are the unset '-'."""
    if rng.random() < 0.1:
        return "-"
    if field in _ZEEK_INT:
        return str(rng.randrange(0, 1 << 20))
    if field in _ZEEK_FLOAT:
        return f"{rng.random() * 30:.6f}"
    if field in _ZEEK_BOOL:
        return rng.choice("TF")
    if field in _ZEEK_VECTOR:
        return "(empty)" if rng.random() < 0.3 else f"v{rng.randrange(99)},w{rng.randrange(99)}"
    return f"{field[:3]}{rng.randrange(1000)}"


def zeek_cidrs() -> list[tuple[str, str]]:
    """Disjoint offline geo ranges over the 10/8 source pool."""
    out = [(f"10.{a}.0.0/16", f"C{a:02d}") for a in range(0, 16, 2)]
    out += [(f"10.{a}.{b}.0/24", f"D{a:02d}") for a in range(1, 16, 2) for b in range(0, 256, 4)]
    return out


def generate_zeek(prefix: str, seed: int, n_lines: int) -> dict:
    """Write one day of conn/dns/http hourly .log.gz files; return answers."""
    from log_analysis_spark.sources.zeek_records import FIELDS_BY_TYPE
    from log_analysis_spark.sources.zeek_tsv import write_zeek_fixture

    rng = random.Random(seed)
    src_pool = sorted({f"10.{rng.randrange(16)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"
                       for _ in range(1500)})
    hot = src_pool[:: max(len(src_pool) // 10, 1)][:10]
    dst_pool = [f"192.168.{rng.randrange(256)}.{rng.randrange(1, 255)}" for _ in range(200)]
    t0 = 1719878400  # 2024-07-02T00:00:00Z
    per_ip: dict[str, dict[str, int]] = {}
    lines: dict[str, int] = {}
    n_files = 0
    for proto in ZEEK_PROTOS:
        fields = FIELDS_BY_TYPE[proto]
        # the non-key tail of a row comes from a seeded pool of variants
        tails = ["\t".join(_zeek_value(f, rng) for f in fields[_ZEEK_HEAD:]) for _ in range(512)]
        per_hour = int(n_lines * ZEEK_SHARE[proto]) // 24
        for hour in range(24):
            rows = []
            for _ in range(per_hour):
                src = hot[rng.randrange(len(hot))] if rng.random() < 0.3 else rng.choice(src_pool)
                ts = t0 + hour * 3600 + rng.random() * 3600
                rows.append([
                    f"{ts:.6f}", f"C{rng.getrandbits(40):010x}", src,
                    str(rng.randrange(1024, 65536)), rng.choice(dst_pool),
                    str(rng.choice((53, 80, 443, 8080))), tails[rng.randrange(len(tails))],
                ])
                cnt = per_ip.setdefault(src, {})
                cnt[proto] = cnt.get(proto, 0) + 1
            write_zeek_fixture(
                prefix, ZEEK_DATE, proto, f"{hour:02d}:00:00-{(hour + 1) % 24:02d}:00:00",
                fields, rows,
            )
            n_files += 1
            lines[proto] = lines.get(proto, 0) + per_hour
    nets = [ip_network(c) for c, _ in zeek_cidrs()]
    matched = sum(1 for ip in per_ip if any(ip_address(ip) in n for n in nets))
    return {
        "rows": sum(lines.values()), "lines": lines, "files": n_files,
        "per_ip": per_ip, "distinct_ips": len(per_ip), "cidr_matched": matched,
    }


# --------------------------------------------------------------------------
# input cache
# --------------------------------------------------------------------------
def input_dir(work: str, workload: str, seed: int) -> str:
    kind, size = ("zeek", ZEEK_LINES) if workload == "zeek_day" else ("pages", PAGES_ROWS)
    return os.path.join(work, "inputs", f"{kind}-n{size}-s{seed}")


def ensure_input(work: str, workload: str, seed: int) -> str:
    """Generate the workload's input for ``seed`` unless cached; keep at most
    two cached inputs per kind so the work dir stays small."""
    d = input_dir(work, workload, seed)
    answers = os.path.join(d, "expected.json")
    if os.path.exists(answers):
        return d
    parent = os.path.dirname(d)
    os.makedirs(parent, exist_ok=True)
    kind = os.path.basename(d).split("-")[0] + "-"
    stale = sorted(
        (p for p in os.listdir(parent) if p.startswith(kind) and p != os.path.basename(d)),
        key=lambda p: os.path.getmtime(os.path.join(parent, p)),
    )
    for p in stale[:-1]:
        shutil.rmtree(os.path.join(parent, p), ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    if workload == "zeek_day":
        exp = generate_zeek(os.path.join(d, "logs"), seed, ZEEK_LINES)
    else:
        exp = generate_pages(os.path.join(d, "pages"), work, seed, PAGES_ROWS)
    flush(d)  # written once; its write-back must not drain into timed work
    with open(answers + ".tmp", "w") as f:
        json.dump(exp, f)
    os.replace(answers + ".tmp", answers)
    return d


def touch_files(directory: str) -> None:
    """Give every data file of ``directory`` a new mtime, the way a
    re-delivered day or hour of input looks to a fingerprint (name, size,
    mtime). No bytes are written, so no write-back drains into the timed
    re-run."""
    now = time.time_ns()
    for name in sorted(os.listdir(directory)):
        p = os.path.join(directory, name)
        if os.path.isfile(p) and not name.startswith((".", "_")):
            os.utime(p, ns=(now, now))


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def _parquet(directory: str) -> list:
    """(path, ParquetFile) of every data file under ``directory``."""
    import glob

    import pyarrow.parquet as pq

    paths = sorted(glob.glob(os.path.join(directory, "**", "*.parquet"), recursive=True))
    return [(p, pq.ParquetFile(p)) for p in paths]


def flush(path: str) -> None:
    """fsync the file ``path``, or every file under the directory ``path``.
    Only these files are synced: ``os.sync()`` would also wait for every
    other process on the host."""
    walk = os.walk(path) if os.path.isdir(path) else [(os.path.dirname(path), [], [os.path.basename(path)])]
    for root, _dirs, files in walk:
        for name in files:
            fd = os.open(os.path.join(root, name), os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)


def clear(path: str) -> None:
    """Remove an output dir outside any timed region. Outputs are deleted
    seconds after they were written, before the kernel writes them back
    (after 30 s): then nothing is left to drain into the next timed
    operation, and no discard is issued (on a disk mounted with
    ``discard``, deleting written-back files costs ~30 ms each)."""
    shutil.rmtree(path, ignore_errors=True)


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------
class Pages:
    """The pages pipeline over a 3-day corpus with planted invalid UTF-8.

    The job is ``plans.job.run_once(with_sinks=True)``, the headline
    single-pass job. ``resume_base`` builds a per-day output once per
    session with ``plans.job.run_pipeline``; the refresh replaces one day's
    input files and re-runs ``run_pipeline`` with resume on it, so exactly
    one day unit runs."""

    def __init__(self, spark, inp: str, work: str):
        with open(os.path.join(inp, "expected.json")) as f:
            self.exp = json.load(f)
        self.spark = spark
        self.pages = os.path.join(inp, "pages")
        self.out = os.path.join(work, "out", "pages_once-0")
        self.daily = os.path.join(work, "out", "pages_daily")
        self.rows = self.exp["rows"]
        self.days = sorted(self.exp["days"])
        self.jobs_per_cycle = self.refreshes_per_cycle = 1
        self.searches_per_cycle = 0
        self._jobs = 0

    def check_sinks(self, out: str) -> list[str]:
        """Compare a pipeline output dir with the answers, reading the
        parquet files with pyarrow rather than through Spark."""
        import pyarrow.compute as pc

        from log_analysis_spark.schemas import RECORD_TYPES

        http = _parquet(os.path.join(out, "sinks", "http_like"))
        bad = _diff("http_like rows", sum(f.metadata.num_rows for _, f in http), self.rows)
        nulls = sum(f.read(columns=["extracted_text"]).column(0).null_count for _, f in http)
        bad += _diff("NULL extracted_text rows", nulls, self.exp["planted"])
        got: dict[str, int] = {}
        for path, f in _parquet(os.path.join(out, "sinks", "conn_like")):
            t = re.search(r"record_type=([^/]+)", path).group(1)
            got[t] = got.get(t, 0) + f.metadata.num_rows
        want = {t: n for t, n in self.exp["types"].items() if t in RECORD_TYPES and n}
        bad += _diff("conn_like rows per type", got, want)
        events = sum(pc.sum(f.read(columns=["n_events"]).column(0)).as_py() or 0
                     for _, f in _parquet(os.path.join(out, "agg", "events_per_host_hour")))
        return bad + _diff("events_per_host_hour total", events, self.rows)

    def prepare_job(self) -> None:
        """Point the job at a new dir, so no overwrite deletes inside the
        timed region; the previous one is seconds old and still unflushed,
        which keeps deleting it cheap."""
        clear(self.out)
        self._jobs += 1
        self.out = f"{self.out.rsplit('-', 1)[0]}-{self._jobs}"

    def job(self):
        from log_analysis_spark.plans.job import run_once

        return run_once(self.spark, self.pages, self.out, with_sinks=True)

    def check_job(self, _res) -> list[str]:
        return self.check_sinks(self.out)

    def resume_base(self):
        """(operation, check) that builds the per-day output the refreshes
        resume: ``run_pipeline`` over all days into an empty dir, which is
        what the batch CLI runs by default."""
        from log_analysis_spark.plans.job import run_pipeline

        def full():
            clear(self.daily)
            return run_pipeline(self.spark, self.pages, self.daily)

        def check(res) -> list[str]:
            bad = _diff("days processed", res["days_processed"], self.days)
            return bad + _diff("rows_in", res["rows_in"], self.rows) + self.check_sinks(self.daily)

        return full, check

    def prepare_refresh(self) -> str:
        # always the last day: each refresh then overwrites outputs the one
        # before wrote seconds ago, which the kernel has not yet written back.
        # Deleting written-back files costs seconds more on a disk mounted
        # with discard, and rotating days made that cost come and go.
        day = self.days[-1]
        touch_files(os.path.join(self.pages, f"day={day}"))
        return day

    def refresh(self, _day):
        from log_analysis_spark.plans.job import run_pipeline

        return run_pipeline(self.spark, self.pages, self.daily)

    def check_refresh(self, day, res) -> list[str]:
        bad = _diff("units run", res["days_processed"], [day])
        bad += _diff("units skipped", res["days_skipped"], [d for d in self.days if d != day])
        bad += _diff("rows_in", res["rows_in"], self.exp["days"][day])
        return bad + self.check_sinks(self.daily)


class ZeekDay:
    """``zeek_tsv.search(typed=True)`` -> ``distinct_src_ips`` ->
    ``enrich.cidr_enrich`` overview, then seeded ``src_ip`` searches."""

    def __init__(self, spark, inp: str, work: str):
        with open(os.path.join(inp, "expected.json")) as f:
            self.exp = json.load(f)
        self.spark = spark
        self.prefix = os.path.join(inp, "logs")
        # the JIT keeps making the overview cheaper over its first runs; the
        # median of six timed ones sits past the steepest part
        self.jobs_per_cycle = 2
        self.refreshes_per_cycle = 0
        # 24 timed searches: the tail (ten samples beyond a percentile) is p58.3
        self.searches_per_cycle = 8
        self.geo = spark.createDataFrame(zeek_cidrs(), "cidr string, country string")

    def prepare_job(self) -> None:
        pass

    def resume_base(self):
        return None

    def job(self):
        from log_analysis_spark.operators.enrich import cidr_enrich
        from log_analysis_spark.sources.zeek_tsv import distinct_src_ips, search

        frames = search(self.spark, self.prefix, ZEEK_DATE, typed=True)
        return cidr_enrich(distinct_src_ips(frames), self.geo, ip_col="ip").collect()

    def check_job(self, rows) -> list[str]:
        bad = _diff("distinct src ips", len(rows), self.exp["distinct_ips"])
        matched = sum(1 for r in rows if r["country"] is not None)
        return bad + _diff("cidr matched ips", matched, self.exp["cidr_matched"])

    def search_keys(self, rng: random.Random):
        ips = sorted(self.exp["per_ip"])
        for i in itertools.count():
            yield rng.choice(ips), (ZEEK_PROTOS[i % len(ZEEK_PROTOS)] if i % 10 < NARROWED else None)

    def search(self, key):
        """The matching typed rows of every searched log type, as Arrow
        tables: what the user reads, so the typed cast stage runs in it."""
        from log_analysis_spark.sources.zeek_tsv import search

        ip, proto = key
        frames = search(self.spark, self.prefix, ZEEK_DATE, proto_type=proto, src_ip=ip, typed=True)
        return {p: df.toArrow() for p, df in frames.items()}

    def check_search(self, key, got) -> list[str]:
        import pyarrow as pa
        import pyarrow.compute as pc

        ip, proto = key
        per = self.exp["per_ip"].get(ip, {})
        want = {p: per.get(p, 0) for p in ZEEK_PROTOS if proto in (None, p)}
        bad = _diff(f"search {key} rows", {p: t.num_rows for p, t in got.items()}, want)
        for p, t in got.items():
            if t.num_rows and not pc.all(pc.equal(t["id_orig_h"], ip)).as_py():
                bad.append(f"search {key}: {p} rows from another source ip")
            if not pa.types.is_integer(t.schema.field("id_orig_p").type):
                bad.append(f"search {key}: {p} id_orig_p is {t.schema.field('id_orig_p').type}, not cast")
        return bad


WORKLOADS = {"pages": Pages, "zeek_day": ZeekDay}
