"""Helpers that turn the benchmark JVM's raw record into metrics.

Kept free of I/O so they can be unit-tested (see tests/test_benchlib.py).
"""

import math
import statistics

E2E = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("time_to_result_s", "s"),
    ("latency_p50_ms", "ms"),
    ("peak_rss_mb", "MB"),
]

STREAM_QUERIES = ("ann", "sess", "roll")
SPAN_LAYERS = ("workload", "query", "trigger", "call", "job", "stage", "setup", "gen")


def weighted_percentile(pairs, q):
    """Nearest-rank percentile (q in [0, 100]) of (value, weight) pairs: the
    smallest value whose cumulative weight reaches q percent of the total
    weight. With unit weights it is the plain nearest-rank percentile."""
    pairs = sorted((v, w) for v, w in pairs if w > 0)
    if not pairs:
        return 0.0
    total = sum(w for _, w in pairs)
    need = q / 100.0 * total
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= need - 1e-9 * total:
            return v
    return pairs[-1][0]


def median(values):
    return statistics.median(values) if values else 0.0


def union_length(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Seconds per layer that a layer's spans spend outside their children.

    `spans` are dicts with id, parent, layer, start_ms, end_ms. A span's
    self time is its duration minus the part of it its child spans cover.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        dur = max(0.0, s["end_ms"] - s["start_ms"])
        own = dur - union_length(kids, s["start_ms"], s["end_ms"])
        out[s["layer"]] = out.get(s["layer"], 0.0) + own / 1000.0
    return out


def backlog_latencies(t0_ms, ends_by_query, rows_by_batch):
    """Per-turn latency of a backlog drain, weighted by turns.

    Every query reads the same files per trigger, so trigger b takes in the
    same turns in each; a turn's result is complete once every query has
    committed its trigger. ends_by_query: [{batch_id: end_ms}] per query;
    rows_by_batch: {batch_id: input rows}. Latency runs from drain start.
    """
    out = []
    for b, rows in sorted(rows_by_batch.items()):
        end = max(q[b] for q in ends_by_query if b in q)
        out.append((end - t0_ms, rows))
    return out


def end_to_end(raw):
    """The end-to-end metrics of one untraced (or traced) run."""
    w = raw["workload"]
    if w == "stream-backlog":
        b, st = raw["backlog"], raw["stream"]
        ops, ttr = b["input_rows"], b["elapsed_s"]
        ends = [dict(zip(st[q]["trigger_batch"], st[q]["trigger_end_ms"])) for q in STREAM_QUERIES]
        rows = dict(zip(st["ann"]["trigger_batch"], st["ann"]["trigger_rows"]))
        lat = backlog_latencies(b["t0_ms"], ends, rows)
    else:
        # latency per declared query; the curation release is an operation
        # of the throughput and the time to result only (see NOTES.md)
        secs = [q["seconds"] for q in raw["batch"]["queries"]]
        ops, ttr = len(secs) + 1, raw["batch"]["batch_s"]
        lat = [(s * 1000.0, 1.0) for s in secs]
    return {
        "setup_s": raw["setup"]["total_s"],
        "ops_per_s": ops / ttr if ttr > 0 else 0.0,
        "time_to_result_s": ttr,
        "latency_p50_ms": weighted_percentile(lat, 50),
        "peak_rss_mb": raw["peak_rss_mb"],
    }


def outcomes(raw):
    """(attempted, failed, notes) for one run's correctness checks."""
    if raw["workload"] == "stream-backlog":
        c = raw["checks"]
        failed = c["committed_twice"] + c["wrong_annotations"] + c["unaccounted"]
        notes = {k: c[k] for k in ("committed_twice", "wrong_annotations", "unaccounted")}
        return int(c["input_rows"]), int(failed), notes
    b = raw["batch"]
    bad = {f.split(":")[0].split(".")[0] for f in b["failures"]}
    return int(b["attempted"]), len(bad), {"failures": b["failures"]}


# Declared queries of batch-suite whose time is reported on its own (median
# over 0.5 s on 4 cores at sf0.001); the rest are summed in query.small_s.
HEAVY_QUERIES = (
    "q14_minhash_neardup", "q15_simhash_neardup", "q18_ann_lsh", "q35_embed_neardup",
    "q36_jaccard_exact", "q37_dedup_keep_first", "q55_dedup_canonical",
    "q61_incremental_dedup", "q21_annotations", "q23_output_table", "q24_drug_targets",
    "q58_output_shuffle", "q59_ann_shuffle", "q64_drug_targets_shuffle", "q66_match_shuffle")


def per_layer_units():
    """(name, unit) of every per-layer metric, in report order."""
    out = [("setup.session_s", "s"), ("setup.warmup_s", "s"), ("setup.index_s", "s"),
           ("kernel.ns_per_turn", "ns")]
    for q in STREAM_QUERIES:
        out += [(f"stream.{q}.input_rows", "count"), (f"stream.{q}.batches", "count"),
                (f"stream.{q}.trigger_p50_ms", "ms"), (f"stream.{q}.add_batch_ms", "ms"),
                (f"stream.{q}.framework_ms", "ms")]
    for q in STREAM_QUERIES:
        out += [(f"state.{q}.rows_total", "count"), (f"state.{q}.memory_bytes", "bytes"),
                (f"state.{q}.commit_ms", "ms"), (f"state.{q}.rows_dropped_by_watermark", "count")]
    out += [("state.ann.duplicates_dropped", "count"),
            ("exchange.shuffle_write_bytes", "bytes"), ("exchange.shuffle_read_bytes", "bytes"),
            ("exchange.spill_bytes", "bytes"), ("exchange.fetch_wait_ms", "ms"),
            ("exchange.task_skew_max", "ratio"),
            ("sink.commits", "count"), ("sink.commit_p50_ms", "ms"), ("sink.rows", "count"),
            ("sink.files", "count"),
            ("query.construct_jobs", "count"), ("query.action_jobs", "count"),
            ("query.construct_s", "s"), ("query.action_s", "s")]
    out += [(f"query.{q}_s", "s") for q in HEAVY_QUERIES]
    out += [("query.small_s", "s"), ("curate.run_s", "s"), ("curate.write_s", "s"),
            ("gen.stage_s", "s")]
    out += [(f"self.{layer}_s", "s") for layer in SPAN_LAYERS]
    unit = dict(E2E)
    out += [(f"trace_overhead.{m}", unit[m]) for m, _ in E2E]
    out += [("control.one_core_turns_per_s", "1/s"), ("control.cpu_probe_items_per_s", "1/s")]
    return out


def per_layer(traced, untraced_e2e, one_core_e2e=None):
    """Per-layer metrics of a traced run. Layers the workload does not
    touch report 0 (no triggers, no queries, no sink commits), and so does
    the one-core control outside stream-backlog."""
    v = {}
    for k in ("session", "warmup", "index"):
        v[f"setup.{k}_s"] = traced["setup"][f"{k}_s"]
    v["kernel.ns_per_turn"] = traced["kernel_ns_per_turn"]
    stream = traced.get("stream", {})
    for q in STREAM_QUERIES:
        s = stream.get(q)
        trig = s["trigger_ms"] if s else []
        add = s["add_batch_ms"] if s else []
        v[f"stream.{q}.input_rows"] = s["input_rows"] if s else 0
        v[f"stream.{q}.batches"] = s["batches"] if s else 0
        v[f"stream.{q}.trigger_p50_ms"] = median(trig)
        v[f"stream.{q}.add_batch_ms"] = median(add)
        v[f"stream.{q}.framework_ms"] = median([t - a for t, a in zip(trig, add)])
        v[f"state.{q}.rows_total"] = s["state_rows_total"] if s else 0
        v[f"state.{q}.memory_bytes"] = s["state_memory_bytes"] if s else 0
        v[f"state.{q}.commit_ms"] = s["state_commit_ms"] if s else 0.0
        v[f"state.{q}.rows_dropped_by_watermark"] = s["dropped_by_watermark"] if s else 0
    v["state.ann.duplicates_dropped"] = stream["ann"]["duplicates_dropped"] if stream else 0
    for k, x in traced.get("exchange", {}).items():
        v[f"exchange.{k}"] = x
    sink = traced.get("sink")
    v["sink.commits"] = sink["commits"] if sink else 0
    v["sink.commit_p50_ms"] = median(sink["commit_ms"]) if sink else 0.0
    v["sink.rows"] = traced["checks"]["committed"] if sink else 0
    v["sink.files"] = sink["files"] if sink else 0
    qs = traced.get("batch", {}).get("queries", [])
    v["query.construct_jobs"] = sum(q["construct_jobs"] for q in qs)
    v["query.action_jobs"] = sum(q["action_jobs"] for q in qs)
    v["query.construct_s"] = sum(q["construct_s"] for q in qs)
    v["query.action_s"] = sum(q["action_s"] for q in qs)
    by_name = {q["name"]: q["seconds"] for q in qs}
    for q in HEAVY_QUERIES:
        v[f"query.{q}_s"] = by_name.get(q, 0.0)
    v["query.small_s"] = sum(s for n, s in by_name.items() if n not in HEAVY_QUERIES)
    cur = traced.get("curate")
    v["curate.run_s"] = cur["run_s"] if cur else 0.0
    v["curate.write_s"] = cur["write_s"] if cur else 0.0
    v["gen.stage_s"] = traced["gen"]["stage_s"]
    selfs = self_times(traced.get("spans", []))
    for layer in SPAN_LAYERS:
        v[f"self.{layer}_s"] = selfs.get(layer, 0.0)
    te = end_to_end(traced)
    for m, _ in E2E:
        v[f"trace_overhead.{m}"] = te[m] - untraced_e2e[m]
    v["control.one_core_turns_per_s"] = one_core_e2e["ops_per_s"] if one_core_e2e else 0.0
    v["control.cpu_probe_items_per_s"] = traced["cpu_probe_items_per_s"]
    return {name: {"value": v[name], "unit": unit} for name, unit in per_layer_units()}
