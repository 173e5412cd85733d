"""Spans around the benchmark's calls into each layer, and the per-layer table.

A span is (id, name, parent, run id, start, end). Spans live in memory and
are written out once, with the event-log summary, when the traced run ends.
While a span is open its id is the Spark local property
``perfbench.span``, so every Spark job started inside it is filed under it
in the event log (``eventlog.summarize``).

Layer walls come from forcing each public call with ``write.format("noop")``
(routes and sink writes write for real). A wall that includes its input's
work is reported as the increment over that input's wall, e.g.
``parse.http_s`` = wall(parse_http_like(pages)) - wall(pages). Each probe
runs ``LAYER_PASSES`` times and the fastest pass counts.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from eventlog import SPAN_PROPERTY, total

LAYER_PASSES = 2


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"{len(self.spans)}:{name}", "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, "start": time.monotonic(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty(SPAN_PROPERTY, rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY, self._stack[-1] if self._stack else None)

    def with_self_times(self) -> list[dict]:
        """Spans with ``self_s``: duration minus the time children cover."""
        out = []
        for s in self.spans:
            kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"])
            covered, edge = 0.0, s["start"]
            for a, b in kids:
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            out.append({**s, "dur_s": s["end"] - s["start"], "self_s": s["end"] - s["start"] - covered})
        return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class LayerProbe:
    """Runs named layer calls LAYER_PASSES times; keeps the fastest wall and
    the first pass's span id (the event-log counts are the same each pass)."""

    def __init__(self, tr: Tracer):
        self.tr = tr
        self.wall: dict[str, float] = {}
        self.span_id: dict[str, str] = {}

    def run(self, name: str, fn) -> None:
        with self.tr.span(name) as rec:
            fn()
        wall = rec["end"] - rec["start"]
        self.wall[name] = min(self.wall.get(name, wall), wall)
        self.span_id.setdefault(name, rec["id"])


def pages_layers(tr: Tracer, w, scratch: str) -> LayerProbe:
    from pyspark.sql import functions as F

    from log_analysis_spark.functions.parse import parse_conn_like, parse_http_like
    from log_analysis_spark.operators.aggregate import events_per_host_hour
    from log_analysis_spark.operators.enrich import enrich
    from log_analysis_spark.operators.route import route_to_sinks
    from log_analysis_spark.sources.pages import read_pages_table

    spark = w.spark
    p = LayerProbe(tr)

    def pages():
        return read_pages_table(spark, w.pages)

    def enriched():
        return enrich(parse_http_like(pages()), spark, host_col="host")

    def http_sink(out: str) -> None:
        (enriched().withColumn("day", F.date_format("ts_bucket", "yyyy-MM-dd"))
         .write.mode("overwrite").partitionBy("day").parquet(out))

    with tr.span("layers"):
        # the aggregate reads only two columns, so the optimizer would prune
        # part of its input plan away: its input is materialized first and
        # both its walls are taken over that same in-memory input
        with tr.span("input.materialize"):
            agg_input = enriched().localCheckpoint(eager=True)
        for i in range(LAYER_PASSES):
            out = os.path.join(scratch, str(i))  # a new dir: no overwrite deletes while timed
            p.run("sources.pages.read_pages_table", lambda: noop(pages()))
            # the inputs of parse and aggregate as those layers read them
            # (pruned columns), for the increments
            p.run("input.parse_http_like", lambda: noop(pages().select("url", "warc_ts", "html", "lang")))
            p.run("input.parse_conn_like", lambda: noop(pages().select("url", "warc_ts", "lang", "text")))
            p.run("input.events_per_host_hour", lambda: noop(agg_input.select("host", "ts_bucket")))
            p.run("functions.parse.parse_http_like", lambda: noop(parse_http_like(pages())))
            p.run("operators.enrich.enrich", lambda: noop(enriched()))
            p.run("functions.parse.parse_conn_like", lambda: noop(parse_conn_like(pages())))
            p.run("operators.aggregate.events_per_host_hour",
                  lambda: noop(events_per_host_hour(agg_input, host_col="host", ts_col="ts_bucket")))
            p.run("operators.route.route_to_sinks",
                  lambda: route_to_sinks(parse_conn_like(pages()), os.path.join(out, "conn_like")))
            p.run("plans.job.http_sink_write", lambda: http_sink(os.path.join(out, "http_like")))
            shutil.rmtree(out, ignore_errors=True)  # still unflushed, so cheap to delete
        agg_input.unpersist()
    return p


def pages_counts(tr: Tracer, w) -> dict:
    """Row counts the layer metrics divide by, from one untimed query each."""
    from pyspark.sql import functions as F

    from log_analysis_spark.functions.parse import parse_http_like
    from log_analysis_spark.operators.enrich import enrich
    from log_analysis_spark.sources.pages import read_pages_table

    spark = w.spark
    with tr.span("counts"):
        pages = read_pages_table(spark, w.pages)
        ev = F.filter(F.split("text", "\n"), lambda x: x.startswith("EV "))
        candidates = pages.agg(F.sum(F.size(ev))).first()[0]
        e = enrich(parse_http_like(pages), spark, host_col="host").agg(
            F.count(F.lit(1)).alias("rows"),
            F.count_if(F.col("extracted_text").isNull()).alias("null_text"),
            F.count_if(F.col("status_like").isNull()).alias("null_status"),
            F.count_if(F.col("registry_region").isNull()).alias("tld_miss"),
            F.count_if(F.col("region_name").isNull()).alias("lang_miss"),
        ).first().asDict()
    return {**e, "ev_candidates": candidates}


def zeek_layers(tr: Tracer, w) -> LayerProbe:
    from log_analysis_spark.operators.enrich import cidr_enrich
    from log_analysis_spark.sources.zeek_tsv import discover, distinct_src_ips, read_proto, search

    from workloads import ZEEK_DATE

    spark = w.spark
    p = LayerProbe(tr)

    def frames():
        return search(spark, w.prefix, ZEEK_DATE, typed=True)

    def each(dfs):
        for df in dfs:
            noop(df)

    with tr.span("layers"):
        # distinct_src_ips reads one column, so over the lazy frames the
        # optimizer prunes most of the cast layer away: its walls are taken
        # over the typed frames materialized in memory
        with tr.span("input.materialize"):
            typed = {k: df.localCheckpoint(eager=True) for k, df in frames().items()}
        for _ in range(LAYER_PASSES):
            p.run("sources.zeek_tsv.search", frames)
            files = discover(w.prefix, ZEEK_DATE)
            p.run("sources.zeek_tsv.read_proto",
                  lambda: each(read_proto(spark, fs) for fs in files.values()))
            p.run("sources.zeek_records.cast_records", lambda: each(frames().values()))
            p.run("input.distinct_src_ips", lambda: each(df.select("id_orig_h") for df in typed.values()))
            p.run("sources.zeek_tsv.distinct_src_ips", lambda: noop(distinct_src_ips(typed)))
            p.run("input.cidr_enrich", lambda: noop(distinct_src_ips(frames())))
            p.run("operators.enrich.cidr_enrich",
                  lambda: noop(cidr_enrich(distinct_src_ips(frames()), w.geo, ip_col="ip")))
        for df in typed.values():
            df.unpersist()
    return p


def zeek_counts(tr: Tracer, w) -> dict:
    from pyspark.sql import functions as F

    from log_analysis_spark.operators.enrich import cidr_enrich
    from log_analysis_spark.sources.zeek_tsv import discover, distinct_src_ips, search

    from workloads import ZEEK_DATE

    with tr.span("counts"):
        frames = search(w.spark, w.prefix, ZEEK_DATE, typed=True)
        lines = sum(df.count() for df in frames.values())
        e = cidr_enrich(distinct_src_ips(frames), w.geo, ip_col="ip").agg(
            F.count(F.lit(1)).alias("ips"), F.count("country").alias("matched"),
        ).first()
    files = sum(len(v) for v in discover(w.prefix, ZEEK_DATE).values())
    return {"lines": lines, "files": files, "ips": e["ips"], "matched": e["matched"]}


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def per_layer(workload: str, names: list[str], w: dict[str, float], sid: dict[str, str],
              counts: dict, summary: dict, job: dict) -> dict:
    """The per-layer table (metric ``names``) of one traced run. Layers a
    workload never calls read 0: that is the measured prediction "no change
    on" for them.

    ``w`` and ``sid`` map each probe name to its fastest wall and its first
    span id (``LayerProbe``). ``job`` carries the traced job's span id and
    walls, the untraced walls from the same host and the local[1] wall (see
    ``run.py``)."""
    m = dict.fromkeys(names, 0)

    def ev(name: str) -> dict:
        return total(summary, [sid[name]])

    if workload == "pages":
        scan = w["sources.pages.read_pages_table"]
        http_in, conn_in = w["input.parse_http_like"], w["input.parse_conn_like"]
        agg_in = w["input.events_per_host_hour"]
        http, enr = w["functions.parse.parse_http_like"], w["operators.enrich.enrich"]
        conn = w["functions.parse.parse_conn_like"]
        agg, route = w["operators.aggregate.events_per_host_hour"], w["operators.route.route_to_sinks"]
        sink = w["plans.job.http_sink_write"]
        s_scan, s_http = ev("sources.pages.read_pages_table"), ev("functions.parse.parse_http_like")
        s_conn, s_enr = ev("functions.parse.parse_conn_like"), ev("operators.enrich.enrich")
        s_agg, s_route = ev("operators.aggregate.events_per_host_hour"), ev("operators.route.route_to_sinks")
        m.update({
            "pages.scan_s": scan, "pages.rows_in": s_scan["scan_rows"],
            "pages.bytes_read": s_scan["scan_file_bytes"],
            "parse.http_s": http - http_in,
            "parse.http_py_bytes": s_http["py_sent_bytes"] + s_http["py_returned_bytes"],
            "parse.http_null_text": counts["null_text"], "parse.http_null_status": counts["null_status"],
            "parse.conn_s": conn - conn_in,
            "parse.conn_py_bytes": s_conn["py_sent_bytes"] + s_conn["py_returned_bytes"],
            "parse.conn_rows_out": s_conn["python_out_rows"],
            "parse.conn_match_ratio": _ratio(s_conn["python_out_rows"], counts["ev_candidates"]),
            "enrich.s": enr - http, "enrich.tld_miss": counts["tld_miss"],
            "enrich.lang_miss": counts["lang_miss"], "enrich.broadcast_build_ms": s_enr["broadcast_build_ms"],
            "route.write_s": route - conn, "route.rows_written": s_route["written_rows"],
            "route.rows_dropped": s_conn["python_out_rows"] - s_route["written_rows"],
            "route.files_written": s_route["written_files"], "route.bytes_written": s_route["written_bytes"],
            "agg.host_hour_s": agg - agg_in,
            "agg.partial_ratio": _ratio(s_agg["partial_agg_rows"], counts["rows"]),
            "agg.shuffle_bytes": s_agg["shuffle_write_bytes"],
            "job.http_sink_write_s": sink - enr,
        })
        layer_sum = (scan + (http - http_in) + (enr - http) + (conn - conn_in) + (agg - agg_in)
                     + (route - conn) + (sink - enr))
    else:
        plan, scan = w["sources.zeek_tsv.search"], w["sources.zeek_tsv.read_proto"]
        typed = w["sources.zeek_records.cast_records"]
        dist = w["sources.zeek_tsv.distinct_src_ips"] - w["input.distinct_src_ips"]
        cidr = w["operators.enrich.cidr_enrich"] - w["input.cidr_enrich"]
        s_dist, s_cidr = ev("sources.zeek_tsv.distinct_src_ips"), ev("operators.enrich.cidr_enrich")
        m.update({
            "zeek.search_plan_s": plan, "zeek.scan_s": scan, "zeek.cast_s": typed - scan,
            "zeek.files": counts["files"], "zeek.lines": counts["lines"],
            "agg.distinct_ips_s": dist,
            "agg.partial_ratio": _ratio(s_dist["partial_agg_rows"], counts["lines"]),
            "agg.shuffle_bytes": s_dist["shuffle_write_bytes"],
            "enrich.cidr_s": cidr, "enrich.cidr_match_ratio": _ratio(counts["matched"], counts["ips"]),
            "enrich.broadcast_build_ms": s_cidr["broadcast_build_ms"],
        })
        layer_sum = plan + typed + dist + cidr

    s_job = total(summary, [job["span"]])
    m.update({
        "job.spark_jobs": s_job["jobs"], "job.finalize_s": job.get("finalize_s", 0.0),
        "checkpoint.fingerprint_s": job.get("fingerprint_s", 0.0),
        "checkpoint.units_run": job.get("units_run", 0), "checkpoint.units_skipped": job.get("units_skipped", 0),
        "spark.task_cpu_s": s_job["task_cpu_s"], "spark.gc_s": s_job["gc_s"],
        "spark.shuffle_write_bytes": s_job["shuffle_write_bytes"], "spark.spill_bytes": s_job["spill_bytes"],
        "spark.tasks": s_job["tasks"], "spark.max_stage_s": s_job["max_stage_s"],
        "job.cold_wall_s": job["cold_s"], "job.warm_wall_s": job["warm_s"],
        "engine.warmup_s": job["cold_s"] - job["warm_s"],
        "engine.scaling_eff": _ratio(job["one_core_s"], job["nproc"] * job["warm_s"]),
        "trace.layer_sum_s": layer_sum,
        "trace.layer_gap_s": job["traced_s"] - layer_sum,
        "trace.overhead_s": job["traced_s"] - job["warm_s"],
    })
    if set(m) != set(names):
        raise ValueError(f"per-layer metrics not in BENCHMARK.json: {sorted(set(m) - set(names))}")
    return m
