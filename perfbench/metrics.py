"""Turn one run's raw record (written by perfbench.Main) into metrics.

End-to-end metrics come from op spans only. Per-layer metrics come from
the traced record: Spark jobs and SQL executions are attributed to a
layer by the program frames of their call site, and to an op by the
benchmark span they ran under.
"""
import statistics

# Only the layers some workload's timed ops reach: the query modules
# analytics_serve serves, the streaming loops of the two index_maintain
# gates and the index families they write (README lists what is left out).
MODULES = ["relational", "weatherqueries", "dedup", "textanalysis", "similarity", "pipeline"]
WEATHER_PHASES = ["diff", "refresh", "ingest", "report"]
STREAM_FAMILIES = ["ivf", "pp"]
INDEX_FAMILIES = ["ivf", "pp"]

PER_LAYER = (
    ["http.psgc.requests", "http.geocode.requests", "http.weather.requests",
     "http.geocode.requests_per_resolved", "http.weather.max_inflight",
     "http.server_busy_s", "http.non200", "http.retries", "api_requests"]
    + [f"weather.{p}.{m}" for p in WEATHER_PHASES for m in ("wall_s", "jobs", "task_cpu_s")]
    + ["tablestore.files_written", "tablestore.bytes_written",
       "tablestore.facts_files_end", "tablestore.baseid_scan_bytes"]
    + [f"streaming.{f}.{m}" for f in STREAM_FAMILIES for m in ("batches", "add_batch_s", "input_rows")]
    + ["streaming.batch_p50_s", "streaming.store_scan_bytes"]
    + [f"index.{f}.{m}" for f in INDEX_FAMILIES for m in ("write_s", "files_written", "bytes_written")]
    + [f"queries.{q}.{m}" for q in MODULES for m in ("wall_s", "task_cpu_s", "tasks", "shuffle_bytes")]
    + ["shared.cached_bytes"]
    + ["spark.jobs", "spark.jobs_per_op", "spark.stages", "spark.tasks", "spark.task_cpu_s",
       "spark.gc_s", "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.input_bytes",
       "spark.output_bytes", "spark.codegen_compile_s", "spark.driver_gap_s"]
)

# Streaming loop each timed gate drives.
GATE_STREAM = {"d02d_jaccard_streamed": "pp", "v15_streaming_maintenance": "ivf"}

# Weather phase of a job, by the first program frame (innermost first)
# that a rule names. TableStore writes run the refresh and ingest plans
# that LocationRefresh and WeatherIngest only build lazily, so they are
# keyed by the TableStore entry point WeatherMain calls.
PHASE_RULES = [
    ("graft.weather.LocationDiff", None, "diff"),
    ("graft.sources.TableStore", "replaceSnapshot", "refresh"),
    ("graft.weather.LocationRefresh", None, "refresh"),
    ("graft.sources.TableStore", "appendFacts", "ingest"),
    ("graft.weather.WeatherIngest", None, "ingest"),
    ("graft.weather.WeatherMain", None, "report"),
]
INDEX_CLASSES = {"graft.sources.IvfIndex": "ivf", "graft.sources.PpIndex": "pp"}


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("requests_per_resolved") or name.endswith("jobs_per_op"):
        return "ratio"
    return "count"


def frame_class_method(frame):
    """'graft.a.B$$anonfun$c.apply(B.scala:1)' -> ('graft.a.B', 'apply')."""
    path = frame.split("(", 1)[0]
    cls, _, method = path.rpartition(".")
    return cls.split("$", 1)[0], method


def weather_phase(frames):
    """Weather phase of a job from its program frames, or None."""
    for f in frames:
        cls, method = frame_class_method(f)
        for rcls, rmethod, phase in PHASE_RULES:
            if cls == rcls and (rmethod is None or method == rmethod):
                return phase
    return None


def module_of(frames):
    """Layer of the innermost program frame: 'streaming.IvfIngest' etc."""
    for f in frames:
        cls, _ = frame_class_method(f)
        if cls.startswith("graft."):
            return cls[len("graft."):]
    return None


def index_family(frames):
    for f in frames:
        fam = INDEX_CLASSES.get(frame_class_method(f)[0])
        if fam:
            return fam
    return None


def tail(values):
    """(value, percentile, samples) of the highest percentile that still
    has at least ten samples beyond it. Below 22 samples that percentile
    would not lie above the median, so the maximum is reported (p100).
    """
    xs = sorted(values)
    n = len(xs)
    if n < 22:
        return xs[-1], 100, n
    i = n - 11
    return xs[i], (100 * (i + 1)) // n, n


def end_to_end(rec):
    """The end-to-end metrics of one run (op spans only)."""
    lat = [o["end"] - o["start"] for o in rec["ops"]]
    t, pct, n = tail(lat)
    # a pass's wall is its ops' time: the benchmark's own output checks
    # between ops are not the program's
    walls = {}
    for o in rec["ops"]:
        walls[o["pass"]] = walls.get(o["pass"], 0.0) + o["end"] - o["start"]
    return {
        "setup_s": rec["setup_s"],
        "wall_s": statistics.median(walls.values()),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t,
        "peak_heap_mb": rec["peak_heap_mb"],
    }, {"tail_percentile": pct, "samples": n}


def union_length(intervals):
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def self_times(spans):
    """Per span name: total duration and self time (duration minus the
    part of it that child spans cover)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        d = s["end"] - s["start"]
        covered = union_length([(max(a, s["start"]), min(b, s["end"]))
                                for a, b in kids.get(s["id"], []) if b > a])
        agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += d
        agg["self_s"] += d - covered
    return out


def per_layer(rec, facts_files=0):
    """Every per-layer metric of a traced run (0 where a layer is idle)."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    tr = rec["trace"]
    spans = {s["id"]: s for s in tr["spans"]}
    ops = {o["span"]: o for o in rec["ops"]}

    def op_of(span_id):
        while span_id and span_id not in ops:
            span_id = spans[span_id]["parent"] if span_id in spans else 0
        return ops.get(span_id)

    jobs = [(j, op_of(j["span"])) for j in tr.get("jobs", [])]
    jobs = [(j, o) for j, o in jobs if o is not None]
    execs = {x["id"]: x for x in tr.get("executions", [])}

    for key, v in rec.get("http", {}).items():
        m[key] = float(v)
    resolved = rec.get("weather", {}).get("geocode_rows_resolved", 0)
    if resolved:
        m["http.geocode.requests_per_resolved"] = m["http.geocode.requests"] / resolved

    for j, o in jobs:
        frames = execs[j["exec"]]["frames"] if j["exec"] in execs else j["frames"]
        phase = weather_phase(frames)
        if phase:
            m[f"weather.{phase}.wall_s"] += j["end"] - j["start"]
            m[f"weather.{phase}.jobs"] += 1
            m[f"weather.{phase}.task_cpu_s"] += j["cpu_s"]
        short = execs[j["exec"]]["short"] if j["exec"] in execs else j["short"]
        if short.startswith("head at WeatherMain.scala"):
            m["tablestore.baseid_scan_bytes"] += j["input"]
        if any(f.startswith("graft.streaming.") for f in frames):
            m["streaming.store_scan_bytes"] += j["input"]
        mod = o["module"].split(".", 1)[1].lower()
        if o["module"].startswith("queries.") and mod in MODULES:
            m[f"queries.{mod}.task_cpu_s"] += j["cpu_s"]
            m[f"queries.{mod}.tasks"] += j["tasks"]
            m[f"queries.{mod}.shuffle_bytes"] += j["shuffle_write"]
        m["spark.jobs"] += 1
        m["spark.stages"] += j["stages"]
        m["spark.tasks"] += j["tasks"]
        m["spark.task_cpu_s"] += j["cpu_s"]
        m["spark.shuffle_write_bytes"] += j["shuffle_write"]
        m["spark.spill_bytes"] += j["spill"]
        m["spark.input_bytes"] += j["input"]
        m["spark.output_bytes"] += j["output"]

    timed_ids = {x["id"] for j, _ in jobs for x in [execs.get(j["exec"])] if x}
    for xid in timed_ids:
        x = execs[xid]
        mod = module_of(x["frames"])
        if mod == "sources.TableStore":
            m["tablestore.files_written"] += x["files"]
            m["tablestore.bytes_written"] += x["bytes"]
        fam = index_family(x["frames"])
        if fam and x["end"] >= x["start"]:
            m[f"index.{fam}.write_s"] += x["end"] - x["start"]
            m[f"index.{fam}.files_written"] += x["files"]
            m[f"index.{fam}.bytes_written"] += x["bytes"]

    for o in rec["ops"]:
        mod = o["module"].split(".", 1)[1].lower()
        if o["module"].startswith("queries.") and mod in MODULES:
            m[f"queries.{mod}.wall_s"] += o["end"] - o["start"]
        busy = union_length([(max(j["start"], o["start"]), min(j["end"], o["end"]))
                             for j, jo in jobs if jo is o and j["end"] > j["start"]])
        m["spark.driver_gap_s"] += max(0.0, (o["end"] - o["start"]) - busy)
    if rec["ops"]:
        m["spark.jobs_per_op"] = m["spark.jobs"] / len(rec["ops"])

    batches = []
    for p in tr.get("streaming", []):
        if op_of(p["span"]) is None:
            continue
        fam = GATE_STREAM.get(p["op"])
        if fam:
            m[f"streaming.{fam}.batches"] += 1
            m[f"streaming.{fam}.add_batch_s"] += p["add_batch_s"]
            m[f"streaming.{fam}.input_rows"] += p["input_rows"]
        batches.append(p["batch_s"])
    if batches:
        m["streaming.batch_p50_s"] = statistics.median(batches)

    m["tablestore.facts_files_end"] = float(facts_files)
    m["shared.cached_bytes"] = float(rec.get("shared_cached_bytes", 0))
    m["spark.gc_s"] = rec.get("jvm_gc_s", 0.0)
    m["spark.codegen_compile_s"] = tr.get("codegen", {}).get("compile_s", 0.0)
    return m
