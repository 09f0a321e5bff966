"""Pure helpers of the graft benchmark: span self time and the metrics
computed from a run's raw measurements."""
import statistics

def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
    """(trace, id) -> self time: the span's duration minus the union of its
    children's intervals (clipped to the span). Spans are dicts with
    `trace`, `id`, `parent`, `start` and `end`; ids are per trace."""
    by_key = {(s["trace"], s["id"]): s for s in spans}
    children = {}
    for s in spans:
        if s["parent"]:
            children.setdefault((s["trace"], s["parent"]), []).append(s)
    out = {}
    for key, s in by_key.items():
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(key, [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[key] = (s["end"] - s["start"]) - union_length(kids)
    return out


def end_to_end(raw, attempted, failed):
    """End-to-end metrics of an untraced run. Both times are process CPU
    seconds: on a shared host, wall times of identical runs swing by up to
    60 % with the neighbours' load, CPU times by about a quarter of that."""
    ops = [o for o in raw["ops"] if o["kind"] == "op" and o["ok"]]
    if not ops:
        raise ValueError("no timed operation succeeded")
    return {
        "setup_s": (raw["setup_cpu_s"], "s"),
        "op_cpu_s": (statistics.median(o["cpu"] for o in ops), "s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
    }


def per_layer(spans, counts, docs, names):
    """Per-layer metrics of the traced run, keyed by the names declared in
    BENCHMARK.json. `<span>.<field>` is the median of that field over the
    spans of that name; the remaining names are derived here."""
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    selfs = self_times(spans)

    def field(span, f):
        vals = [s["fields"][f] for s in by_name.get(span, []) if f in s["fields"]]
        if not vals:
            raise KeyError(f"no span {span} with field {f}")
        return statistics.median(vals)

    derived = {
        "engine.run.self_s": statistics.median(
            selfs[(s["trace"], s["id"])] for s in by_name["engine.run"]),
        "functions.content.ns_per_doc": field("functions.content", "s") * 1e9 / docs,
        "functions.span_checks.ns_per_doc": field("functions.span_checks", "s") * 1e9 / docs,
        "curate.scaling_eff": field("engine.curate_1core", "s") / (4 * field("engine.curate", "s")),
        "validate.out_bytes_per_doc": counts["out_bytes"] / docs,
        "engine.violation_rows": counts["violation_rows"],
        "engine.failed_docs": counts["failed_docs"],
        "process.peak_rss_mb": counts["peak_rss_mb"],
        "engine.resume.skip_frac": counts["resume_skip_frac"],
    }
    out = {}
    for name, unit in names:
        if name in derived:
            v = derived[name]
        else:
            span, f = name.rsplit(".", 1)
            v = field(span, f)
        out[name] = (v, unit)
    return out
