"""Layer attribution of a traced run.

Every job and driver-side JDBC statement is mapped to one of the
library's layers by the graft frames of its call site. An operation's
wall time is then split into self times: each millisecond goes to the
highest-priority event covering it (job, then JDBC statement, then
query planning, then the innermost span the harness opened), and what
nothing covers is `driver.uncovered_s`. By construction the self times
and `driver.uncovered_s` add up to the operation's wall time.
"""
import json
import os
import re
from collections import defaultdict

FRAME_RE = re.compile(r"^(graft[\w.$]*)\.([\w$]+)\((\w+\.scala):(\d+)\)$")

# the file of a job's innermost graft frame decides its layer
FILE_LAYERS = {
    "JdbcSink.scala": "sink",
    "JdbcMerge.scala": "indb.stage",
    "Ordinals.scala": "ordinals",
    "Dedup.scala": "dedup",
    "Merge.scala": "merge",
    "Validation.scala": "transform",
    "Mapping.scala": "transform",
    "Transforms.scala": "transform",
}
PACKAGE_LAYERS = [
    ("graft.sources.", "sources"),
    ("graft.operators.", "operators"),
]
# jobs the import orchestrator submits itself, told apart by the source
# line they are submitted from
IMPORTER_LINES = [
    ("targetLc.count", "target_read"),
    ("source.count", "sources"),
    ("errors.count", "transform"),
    ("dropDuplicatesKeepFirst", "dedup"),
    ("staged.count", "dedup"),
    ("merged.count", "merge"),
    ("matched", "merge"),
]
# spans whose own time belongs to a layer; other spans are driver time
SPAN_LAYERS = {"read_source": "sources"}

# layer -> self-time metric
TIME_METRICS = {
    "sources": "sources.read_s",
    "sources.validate_structure": "sources.validate_structure_s",
    "transform": "transform.s",
    "target_read": "target_read.s",
    "ordinals": "ordinals.s",
    "dedup": "dedup.s",
    "merge": "merge.s",
    "operators": "operators.s",
    "sink": "sink.s",
    "sink.promote": "sink.promote_s",
    "indb.stage": "indb.stage_s",
    "indb.sql": "indb.sql_s",
    "plan": "driver.plan_s",
    "uncovered": "driver.uncovered_s",
}
SPARK_METRICS = ["spark.jobs", "spark.stages", "spark.tasks",
                 "spark.shuffle_write_bytes", "spark.spill_bytes",
                 "spark.gc_s", "spark.executor_run_s"]
COUNT_METRICS = ["sources.rows", "sources.tasks", "validate.invalid_rows",
                 "target_read.rows", "ordinals.jobs", "dedup.duplicate_rows",
                 "merge.shuffle_bytes", "sink.rows_written",
                 "sink.fallback_blocks", "sink.failed_rows",
                 "sink.write_amplification"]

PRIORITY = {"job": 3, "jdbc": 2, "plan": 1, "span": 0}


def parse_frames(frames):
    out = []
    for f in frames:
        m = FRAME_RE.match(f)
        if m:
            out.append((m.group(1), m.group(2), m.group(3), int(m.group(4))))
    return out


class SourceLines:
    """Reads lines of the library's sources in the checkout."""

    def __init__(self, root):
        self.root = root
        self.cache = {}

    def line(self, cls, file, n):
        pkg = cls.rsplit(".", 1)[0].replace(".", "/")
        path = os.path.join(self.root, "src/main/scala", pkg, file)
        if path not in self.cache:
            try:
                with open(path, encoding="utf-8") as f:
                    self.cache[path] = f.read().split("\n")
            except OSError:
                self.cache[path] = []
        lines = self.cache[path]
        return lines[n - 1] if 0 < n <= len(lines) else ""


def job_layer(frames, lines):
    """Layer of a job from its call site's frames (innermost first), or
    None when the call site maps to no layer."""
    fr = [f for f in parse_frames(frames) if not f[0].startswith("graftbench")]
    if not fr:
        return None
    cls, method, file, n = fr[0]
    in_indb = any(f[2] == "JdbcMerge.scala" for f in fr)
    if file == "JdbcSink.scala" and in_indb:
        return "indb.stage"
    if file in FILE_LAYERS:
        return FILE_LAYERS[file]
    if file == "Importer.scala":
        text = lines.line(cls, file, n)
        for needle, layer in IMPORTER_LINES:
            if needle in text:
                return layer
        return None
    for prefix, layer in PACKAGE_LAYERS:
        if cls.startswith(prefix):
            if layer == "sources" and any(f[1] == "validateStructure" for f in fr):
                return "sources.validate_structure"
            return layer
    return None


def jdbc_layer(frames):
    fr = parse_frames(frames)
    if any(f[1] == "stageAndPromote" for f in fr):
        return "sink.promote"
    if any(f[2] == "JdbcMerge.scala" for f in fr):
        return "indb.sql"
    return "uncovered"


def self_times(t0, t1, intervals):
    """Split [t0, t1] over `intervals` of (start, end, priority, layer):
    each piece goes to the highest-priority interval covering it, ties
    to the one that started last (the innermost); uncovered pieces go to
    "uncovered". Returns {layer: ms}, summing to t1 - t0."""
    ivs = [(max(s, t0), min(e, t1), p, layer) for s, e, p, layer in intervals
           if min(e, t1) > max(s, t0)]
    pts = sorted({t0, t1} | {x for s, e, _, _ in ivs for x in (s, e)})
    out = defaultdict(int)
    for a, b in zip(pts, pts[1:]):
        best = None
        for s, e, p, layer in ivs:
            if s <= a and e >= b and (best is None or (p, s) > best[:2]):
                best = (p, s, layer)
        out[best[2] if best else "uncovered"] += b - a
    return dict(out)


def read_events(path):
    """Group trace events by the traced operation they follow."""
    ops = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            if ev["ev"] == "op":
                ops.append({"op": ev, "events": []})
            elif ops:
                ops[-1]["events"].append(ev)
    return ops


def attribute(op, lines):
    """Per-operation layer metrics of one traced operation."""
    o = op["op"]
    jobs, stages, intervals = {}, {}, []
    unmapped = []
    jdbc_rows = 0
    execs = {ev["exec"]: ev["frames"] for ev in op["events"] if ev["ev"] == "sql"}
    for ev in op["events"]:
        kind = ev["ev"]
        if kind == "job_start":
            layer = (job_layer(ev["frames"], lines)
                     or job_layer(execs.get(ev["exec"], []), lines))
            if layer is None:
                unmapped.append(ev["short"])
                layer = "unmapped"
            jobs[ev["job"]] = dict(ev, layer=layer, t1=None)
        elif kind == "job_end" and ev["job"] in jobs:
            jobs[ev["job"]]["t1"] = ev["t"]
        elif kind == "stage":
            stages[ev["stage"]] = ev
        elif kind == "plan":
            intervals.append((ev["t0"], ev["t1"], PRIORITY["plan"], "plan"))
        elif kind == "jdbc":
            layer = jdbc_layer(ev["frames"])
            intervals.append((ev["t0"], ev["t1"], PRIORITY["jdbc"], layer))
            if layer in ("sink.promote", "indb.sql"):
                jdbc_rows += ev["rows"]
        elif kind == "span":
            layer = SPAN_LAYERS.get(ev["name"], "uncovered")
            intervals.append((ev["t0"], ev["t1"], PRIORITY["span"], layer))
    for j in jobs.values():
        intervals.append((j["t"], j["t1"] if j["t1"] is not None else o["t1"],
                          PRIORITY["job"], j["layer"]))
    st = self_times(o["t0"], o["t1"], intervals)
    m = defaultdict(float)
    for layer, ms in st.items():
        m[TIME_METRICS.get(layer, "unmapped.s")] += ms / 1000.0
    m["trace.wall_s"] = (o["t1"] - o["t0"]) / 1000.0
    accums = defaultdict(int)
    for j in jobs.values():
        js = [stages[s] for s in j["stages"] if s in stages]
        m["spark.jobs"] += 1
        m["spark.stages"] += len(js)
        for s in js:
            m["spark.tasks"] += s["tasks"]
            m["spark.shuffle_write_bytes"] += s["shuffle_write_bytes"]
            m["spark.spill_bytes"] += s["spill_bytes"]
            m["spark.gc_s"] += s["gc_ms"] / 1000.0
            m["spark.executor_run_s"] += s["run_ms"] / 1000.0
            for k, v in s["accums"].items():
                accums[k] += v
            if j["layer"] in ("sources", "sources.validate_structure"):
                m["sources.tasks"] += s["tasks"]
            if j["layer"] == "target_read":
                m["target_read.rows"] += s["records_read"]
            if j["layer"] == "merge":
                m["merge.shuffle_bytes"] += s["shuffle_write_bytes"]
        if j["layer"] == "ordinals":
            m["ordinals.jobs"] += 1
    m["sink.rows_written"] = accums["graft.jdbc.inserted"] + jdbc_rows
    m["sink.fallback_blocks"] = accums["graft.jdbc.fallbackBlocks"]
    m["sink.failed_rows"] = accums["graft.jdbc.failedRows"]
    m["trace.unmapped_jobs"] = len(unmapped)
    return dict(m), unmapped
