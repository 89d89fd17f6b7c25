"""Per-layer metrics: names, units, and how each is computed from a traced
run's spans, jobs, tasks, scans, streaming progress and layout state.

Span metrics are per cycle (one pass over the olap entry order, one ingest
batch, one upkeep cadence): the sum over the cycle's spans of that name,
then the median over the traced window's whole cycles. `olap_mix` spans are
grouped by the object that implements the entry.
"""
import stats

OLAP_GROUPS = ["analytics.Relational", "analytics.TextStats",
               "analytics.Similarity", "analytics.Accuracy", "analytics.Dedup"]
LOOP_SPANS = ["ingest.Pipeline.run", "streaming.DedupIndexStream.processBatch",
              "streaming.LexIndexStream.processBatch",
              "streaming.ShardManifestStream.mergeBatch",
              "streaming.AnnIndexStream.processBatch",
              "streaming.AnnGraphIndexStream.processBatch"]
FAMILIES = ["DedupIndex", "LexIndex", "AnnIndex", "AnnGraphIndex"]
COMPACT_SPANS = ["analytics.DedupIndex.compactOverThreshold", "analytics.LexIndex.compact",
                 "analytics.AnnIndex.compactOverThreshold", "analytics.AnnGraphIndex.compact"]
SERVE_SPANS = ["analytics.LexIndex.bm25Against", "analytics.DedupIndex.nearDupsAgainst",
               "analytics.AnnIndex.topKAgainst", "analytics.AnnGraphIndex.topKAgainst"]
INDEXES = ["dedup", "lex", "ann", "graph"]
STREAM_PHASES = ["addBatch", "walCommit", "commitOffsets", "queryPlanning"]

ALL4 = ["wall_s", "jobs", "exec_cpu_s", "driver_s"]
UNITS = {"wall_s": "s", "jobs": "count", "exec_cpu_s": "s", "driver_s": "s",
         "files_read_ratio": "ratio"}


def span_measures():
    """(span or group, measures). A swap is catalog renames with no tasks,
    so it reports only wall time and jobs."""
    out = [(g, ALL4) for g in OLAP_GROUPS + LOOP_SPANS]
    out += [(f"analytics.{f}.delete", ALL4) for f in FAMILIES]
    out += [(s, ALL4) for s in COMPACT_SPANS]
    out += [("analytics.AnnIndex.build", ALL4), ("analytics.AnnIndex.swapIn", ["wall_s", "jobs"])]
    out += [(s, ALL4 + ["files_read_ratio"]) for s in SERVE_SPANS]
    return out


def per_layer_specs():
    """[(name, unit, better)] in BENCHMARK.json order."""
    specs = []
    for span, measures in span_measures():
        for m in measures:
            specs.append((f"{span}.{m}", UNITS[m], "lower"))
    specs += [(f"streaming.engine.{p}_ms", "ms", "lower") for p in STREAM_PHASES]
    for ix in INDEXES:
        specs += [(f"sink.{ix}.index_files", "count", "lower"),
                  (f"sink.{ix}.index_mb", "MB", "lower"),
                  (f"sink.{ix}.tombstones_pending", "count", "lower")]
    specs += [("op.tasks", "count", "lower"), ("op.shuffle_mb", "MB", "lower"),
              ("op.spill_mb", "MB", "lower"), ("op.util", "ratio", "higher"),
              ("trace.ops_per_s", "1/s", "higher")]
    return specs


def group_of(name):
    for g in OLAP_GROUPS:
        if name.startswith(g + "."):
            return g
    return name


def compute(raw):
    """Per-layer values from a traced run's raw output."""
    tr = raw["window"]
    cycle = raw["cycle"]
    ops = sorted(o["op"] for o in tr["ops"])
    first = ops[0]
    n_cycles = len(ops) // cycle
    cores = tr["cores"]

    def cycle_of(op):
        k = (op - first) // cycle
        return k if 0 <= k < n_cycles else None

    jobs, tasks = {}, {}
    for j in tr["jobs"]:
        jobs[j["span"]] = jobs.get(j["span"], 0) + 1
    for t in tr["tasks"]:
        tasks.setdefault(t["span"], []).append(t)
    per = {}  # (group, measure) -> [per-cycle sums]

    def add(group, measure, k, v):
        per.setdefault((group, measure), [0.0] * n_cycles)[k] += v

    for s in tr["spans"]:
        k = cycle_of(s["op"])
        if k is None:
            continue
        g = group_of(s["name"])
        ts = tasks.get(s["id"], [])
        add(g, "wall_s", k, s["wall_s"])
        add(g, "jobs", k, jobs.get(s["id"], 0))
        add(g, "exec_cpu_s", k, sum(t["cpu_ns"] for t in ts) / 1e9)
        add(g, "driver_s", k, stats.driver_time(
            s["start_ms"], s["end_ms"],
            [(t["launch_ms"], t["finish_ms"]) for t in ts]) / 1000.0)
    span_group = {s["id"]: group_of(s["name"]) for s in tr["spans"]}
    files = {}
    for sc in tr["scans"]:
        g = span_group.get(sc["span"])
        if g is not None:
            read, total = files.get(g, (0, 0))
            files[g] = (read + sc["files_read"], total + sc["table_files"])

    out = {}
    for span, measures in span_measures():
        for m in measures:
            if m == "files_read_ratio":
                read, total = files.get(span, (0, 0))
                v = read / total if total else 0.0
            else:
                v = stats.median(per.get((span, m), [])) if n_cycles else 0.0
            out[f"{span}.{m}"] = v

    by_batch = {}
    for p in tr["progress"]:
        d = by_batch.setdefault(p["batch"], {})
        for ph in STREAM_PHASES:
            d[ph] = d.get(ph, 0) + p["durations_ms"].get(ph, 0)
    for ph in STREAM_PHASES:
        out[f"streaming.engine.{ph}_ms"] = stats.median([d[ph] for d in by_batch.values()])

    last = {}
    for st in tr["state"]:
        if st["index"] not in last or st["op"] >= last[st["index"]]["op"]:
            last[st["index"]] = st
    for ix in INDEXES:
        st = last.get(ix, {})
        out[f"sink.{ix}.index_files"] = st.get("files", 0)
        out[f"sink.{ix}.index_mb"] = st.get("mb", 0.0)
        out[f"sink.{ix}.tombstones_pending"] = st.get("tombstones", 0)

    # op-level figures cover the op itself, not the serve reads after it
    op_wall = {o["op"]: o["s"] for o in tr["ops"]}
    serve_ids = {s["id"] for s in tr["spans"] if s["name"] in SERVE_SPANS}
    op_tasks, op_shuffle, op_spill, op_cpu = {}, {}, {}, {}
    for t in tr["tasks"]:
        if t["op"] in op_wall and t["span"] not in serve_ids:
            o = t["op"]
            op_tasks[o] = op_tasks.get(o, 0) + 1
            op_shuffle[o] = op_shuffle.get(o, 0) + t["shuffle_bytes"] / 1e6
            op_spill[o] = op_spill.get(o, 0) + t["spill_bytes"] / 1e6
            op_cpu[o] = op_cpu.get(o, 0) + t["cpu_ns"] / 1e9
    out["op.tasks"] = stats.median([op_tasks.get(o, 0) for o in op_wall])
    out["op.shuffle_mb"] = stats.median([op_shuffle.get(o, 0.0) for o in op_wall])
    out["op.spill_mb"] = stats.median([op_spill.get(o, 0.0) for o in op_wall])
    out["op.util"] = stats.median([op_cpu.get(o, 0.0) / (w * cores)
                                   for o, w in op_wall.items() if w > 0])
    out["trace.ops_per_s"] = len(tr["ops"]) / tr["elapsed_s"]
    return out
