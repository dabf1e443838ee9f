"""Per-layer metrics of a traced run (``--trace 1``).

Every metric named in ``METRICS`` is reported by every workload; a
layer the workload does not exercise reads 0. Values are medians over
the traced jobs of the window (one job's spans, counters and Spark
jobs at a time), except the probes, which run once after the window.
The spans, the per-span Spark job totals and the metrics are also
written as JSON next to the result.
"""

from __future__ import annotations

import glob
import time

from bench import HEADLINE
from spans import (
    attach_orphans,
    attribute_jobs,
    children_of,
    covered_share,
    descendants,
    drift_ratio,
    median,
    read_event_log,
    self_time,
)

# Only what crawl-bulk exercises: its crawl is fault-free with no
# recrawl, so 304/504/429 counters, the url_seen merge and bucket
# rewrite, host_state, compaction and the in-crawl cuckoo insert would
# read 0 on every run.
ROUND_COUNTERS = (
    "selected",
    "fetched",
    "denied",
    "frontier_rows_written",
    "frontier_dirty_buckets",
)
TABLE_OPS = (
    ("images", "append"),
    ("fetch_log", "append"),
    ("url_seen", "append"),
    ("frontier", "replace_buckets"),
    ("image_dedup", "replace_buckets"),
)
TABLE_MB = ("images", "fetch_log", "url_seen", "frontier", "image_dedup", "cuckoo")

METRICS: list[tuple[str, str]] = (
    [
        ("codec.synth_us", "us"),
        ("codec.decode_us", "us"),
        ("codec.phash_us", "us"),
        ("fetch.stage_rows_per_s", "1/s"),
        ("engine.round_s", "s"),
        ("engine.rounds", "count"),
        ("engine.driver_gap_s", "s"),
    ]
    + [(f"engine.{c}", "count") for c in ROUND_COUNTERS]
    + [("engine.fetch_yield", "ratio"), ("engine.frontier_write_amp", "ratio")]
    + [
        m
        for t, op in TABLE_OPS
        for m in ((f"snaptable.{t}.{op}_s", "s"), (f"snaptable.{t}.{op}_calls", "count"))
    ]
    + [
        ("snaptable.expire_s", "s"),
        ("snaptable.expire_calls", "count"),
        ("snaptable.critical_s", "ratio"),
        ("snaptable.store_mb", "MB"),
    ]
    + [(f"snaptable.{t}.mb", "MB") for t in TABLE_MB]
    + [
        ("urlseen.probe_insert_s", "s"),
        ("trainset.dedup_s", "s"),
        ("trainset.export_s", "s"),
        ("trainset.publish_s", "s"),
        ("trainset.rows", "count"),
        ("trainset.dup_images", "count"),
    ]
    + [(f"ops.{q}_s", "s") for q in HEADLINE]
    + [("ops.heavy_share", "ratio")]
    + [
        ("session.start_s", "s"),
        ("session.warmup_s", "s"),
        ("session.jobs", "count"),
        ("session.tasks", "count"),
        ("session.tasks_per_step", "count"),
        ("session.task_s", "s"),
        ("session.gc_s", "s"),
        ("session.shuffle_write_mb", "MB"),
        ("session.shuffle_read_mb", "MB"),
        ("session.spill_mb", "MB"),
        ("window.jobs", "count"),
        ("window.drift_ratio", "ratio"),
        ("trace.overhead_s", "s"),
        ("trace.untraced_job_s", "s"),
    ]
)
# the two queries that dominate a pass on the sf0.1 test data; their
# share of the pass shows whether the query-mix balance still holds
HEAVY_QUERIES = ("minhash_lsh_buckets", "images_from_documents")
MB = 1 << 20


def _job_layers(rec, spans, by_id, kids) -> dict[str, float]:
    """Layer numbers of one traced job."""
    out: dict[str, float] = {}
    mine = [by_id[i] for i in descendants(spans, rec["span"]) if i != rec["span"]]

    def named(name):
        return [s for s in mine if s.name == name]

    def selftime(s):
        return self_time(s, kids.get(s.id, []))

    rounds = named("engine.round")
    if rounds:
        out["engine.round_s"] = median([s.dur for s in rounds])
        out["engine.rounds"] = len(rounds)
        out["engine.driver_gap_s"] = sum(s.dur for s in named("engine.run")) - sum(
            s.dur for s in rounds
        )
    counters = rec.get("counters") or []
    for c in ROUND_COUNTERS:
        out[f"engine.{c}"] = sum(r.get(c, 0) for r in counters)
    if out.get("engine.selected"):
        out["engine.fetch_yield"] = out["engine.fetched"] / out["engine.selected"]
        out["engine.frontier_write_amp"] = (
            out["engine.frontier_rows_written"] / out["engine.selected"]
        )

    table_spans = [s for s in mine if s.name.startswith("snaptable.")]
    for t, op in TABLE_OPS:
        ss = [s for s in table_spans if s.name == f"snaptable.{op}" and s.attrs.get("table") == t]
        out[f"snaptable.{t}.{op}_s"] = sum(selftime(s) for s in ss)
        out[f"snaptable.{t}.{op}_calls"] = len(ss)
    expires = named("snaptable.expire")
    out["snaptable.expire_s"] = sum(selftime(s) for s in expires)
    out["snaptable.expire_calls"] = len(expires)
    out["snaptable.critical_s"] = covered_share(rounds, table_spans)
    if "store_b" in rec:
        out["snaptable.store_mb"] = rec["store_b"] / MB
        for t in TABLE_MB:
            out[f"snaptable.{t}.mb"] = rec["tables_b"].get(t, 0) / MB

    out["trainset.dedup_s"] = sum(s.dur for s in named("trainset.dedup"))
    out["trainset.export_s"] = sum(selftime(s) for s in named("trainset.export"))
    for k, src in (("publish_s", "publish_s"), ("rows", "release_rows"), ("dup_images", "dup_images")):
        if rec.get(src) is not None:
            out[f"trainset.{k}"] = rec[src]
    queries = rec.get("queries") or {}
    for q, wall in queries.items():
        out[f"ops.{q}_s"] = wall
    if queries:
        out["ops.heavy_share"] = sum(queries.get(q, 0.0) for q in HEAVY_QUERIES) / sum(
            queries.values()
        )
    return out


def _session_totals(rec, jobs, epoch_offset) -> dict[str, float]:
    """Spark work submitted while the traced job ran."""
    lo, hi = rec["start"] + epoch_offset, rec["start"] + rec["wall"] + epoch_offset
    js = [j for j in jobs if lo <= j.submit_s <= hi]
    tasks = sum(j.tasks for j in js)
    return {
        "session.jobs": len(js),
        "session.tasks": tasks,
        "session.tasks_per_step": tasks / max(1, len(rec["steps"])),
        "session.task_s": sum(j.task_s for j in js),
        "session.gc_s": sum(j.gc_s for j in js),
        "session.shuffle_write_mb": sum(j.shuffle_write_b for j in js) / MB,
        "session.shuffle_read_mb": sum(j.shuffle_read_b for j in js) / MB,
        "session.spill_mb": sum(j.spill_b for j in js) / MB,
    }


def per_layer(wl, tracer, records, probes, session, eventlog_dir, out_path) -> dict:
    epoch_offset = time.time() - time.perf_counter()
    spans = tracer.spans
    attach_orphans(spans, tracer.driver_thread)
    by_id = {s.id: s for s in spans}
    kids = children_of(spans)
    jobs = []
    for path in glob.glob(f"{eventlog_dir}/*"):
        with open(path) as f:
            jobs.extend(read_event_log(f))

    ok = [r for r in records if not r.get("failed_ops")]
    traced = [r for r in ok if r["traced"] and "span" in r]
    untraced = [r for r in ok if not r["traced"]]
    per_job = [
        {**_job_layers(r, spans, by_id, kids), **_session_totals(r, jobs, epoch_offset)}
        for r in traced
    ]
    values = {name: 0.0 for name, _ in METRICS}
    for name in values:
        xs = [pj[name] for pj in per_job if name in pj]
        if xs:
            values[name] = median(xs)
    values.update(probes)
    values["session.start_s"] = session["start_s"]
    values["session.warmup_s"] = session["warmup_s"]
    values["window.jobs"] = len(records)
    values["window.drift_ratio"] = drift_ratio([r["wall"] for r in records])
    t_walls = [r["wall"] for r in traced]
    u_walls = [r["wall"] for r in untraced]
    values["trace.untraced_job_s"] = median(u_walls)
    if t_walls and u_walls:
        values["trace.overhead_s"] = median(t_walls) - median(u_walls)

    owner = attribute_jobs(jobs, spans, tracer.driver_thread, epoch_offset)
    per_span: dict[str, dict] = {}
    for j in jobs:
        sid = owner.get(j.job_id)
        key = by_id[sid].name if sid is not None else "(outside any span)"
        agg = per_span.setdefault(key, {"jobs": 0, "tasks": 0, "task_s": 0.0})
        agg["jobs"] += 1
        agg["tasks"] += j.tasks
        agg["task_s"] += j.task_s
    tracer.to_json(
        out_path,
        {
            "workload": wl.name,
            "seed": wl.seed,
            "metrics": values,
            "spark_jobs_by_span": per_span,
            "job_walls_s": [{"wall": r["wall"], "traced": r["traced"]} for r in records],
        },
    )
    units = dict(METRICS)
    return {name: (values[name], units[name]) for name in units}
