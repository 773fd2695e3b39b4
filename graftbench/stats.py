"""Pure helpers of the benchmark: medians, span self time, and the
per-layer roll-up of a traced run. No I/O; tested in tests/."""

# Layers with spans: the library's modules, as metric prefixes.
SPAN_LAYERS = ["sources", "features", "signals", "fundamentals", "backtest",
               "operators", "ml", "queries", "text", "dedup", "ann", "etl",
               "streaming"]
LAYER_FIELDS = ["wall_s", "gap_s", "jobs", "tasks", "exec_cpu_s",
                "shuffle_mb", "spill_mb"]
# Layer-specific counters: per traced iteration, except the process-wide
# jvm and codegen totals and the sqlx sizes at the end of the warm phase.
EXTRA = [("dedup.candidate_pairs", "count"), ("dedup.dup_pairs", "count"),
         ("sources.files_written", "count"), ("sources.written_mb", "MB"),
         ("streaming.triggers", "count"), ("streaming.trigger_s", "s"),
         ("sqlx.frames_cached", "count"), ("sqlx.memo_entries", "count"),
         ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.heap_peak_mb", "MB"),
         ("codegen.compile_s", "s"), ("codegen.classes", "count")]
# Attribution residue and tracing cost.
TRACE = [("outside.wall_s", "s"), ("trace.warm_s", "s"),
         ("trace.overhead_s", "s")]
FIELD_UNITS = {"wall_s": "s", "gap_s": "s", "jobs": "count",
               "tasks": "count", "exec_cpu_s": "s", "shuffle_mb": "MB",
               "spill_mb": "MB"}


def per_layer_names():
    """Every per-layer metric as (name, unit), in report order."""
    out = [("%s.%s" % (l, f), FIELD_UNITS[f])
           for l in SPAN_LAYERS for f in LAYER_FIELDS]
    return out + EXTRA + TRACE


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def subtract(base, cut):
    """Intervals of `base` (a list of disjoint intervals) not covered by
    any interval of `cut`."""
    out = list(base)
    for cs, ce in cut:
        nxt = []
        for s, e in out:
            if ce <= s or cs >= e:
                nxt.append((s, e))
                continue
            if cs > s:
                nxt.append((s, cs))
            if ce < e:
                nxt.append((ce, e))
        out = nxt
    return out


def self_intervals(span, children):
    """The parts of `span` that none of its direct children cover."""
    return subtract([(span["start"], span["end"])],
                    clip([(c["start"], c["end"]) for c in children],
                         span["start"], span["end"]))


def assign_jobs(spans, jobs):
    """job id -> span id. A job carries the span of the thread that
    submitted it; a job without a tag (submitted from a library-owned
    thread) goes to the innermost span open when it started."""
    ids = {s["id"] for s in spans}
    out = {}
    for j in jobs:
        if j["span"] in ids:
            out[j["id"]] = j["span"]
            continue
        open_ = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        if open_:
            out[j["id"]] = max(open_, key=lambda s: s["start"])["id"]
    return out


def layer_rollup(spans, jobs):
    """Per-layer metrics over `spans` (one iteration, or one phase) and the
    jobs they ran. wall_s is self time, so layers never double count;
    gap_s is self time during which none of the span's own jobs ran."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    owner = assign_jobs(spans, jobs)
    by_span = {}
    for j in jobs:
        if j["id"] in owner:
            by_span.setdefault(owner[j["id"]], []).append(j)
    out = {"%s.%s" % (l, f): 0.0 for l in SPAN_LAYERS for f in LAYER_FIELDS}
    for s in spans:
        if s["layer"] not in SPAN_LAYERS:
            continue
        mine = self_intervals(s, kids.get(s["id"], []))
        own = by_span.get(s["id"], [])
        busy = sorted((j["start"], j["end"]) for j in own)
        gap = sum(e - b for b, e in subtract(mine, busy))
        p = s["layer"] + "."
        out[p + "wall_s"] += sum(e - b for b, e in mine)
        out[p + "gap_s"] += gap
        out[p + "jobs"] += len(own)
        for j in own:
            out[p + "tasks"] += j["tasks"]
            out[p + "exec_cpu_s"] += j["cpu_s"]
            out[p + "shuffle_mb"] += j["shuffle_mb"]
            out[p + "spill_mb"] += j["spill_mb"]
    return out
