"""Metric arithmetic of the benchmark: percentiles, span self time, the
call-site → module map, and the per-layer metrics of a traced run.

Everything here is a pure function of a run's result file, so
`test_perfbench.py` can pin it without Spark.
"""
import os
import re
import statistics

# A percentile is reported only with at least this many samples beyond it
# (p95 therefore needs 200 samples).
MIN_BEYOND = 10

LLM_QUERIES = ["q19_ngram_jaccard", "q118_incremental_dedup", "q287_weighted_jaccard",
               "q67_ivfpq", "q75_semantic_dedup", "q61_curation_pipeline", "q103_int8_ann"]
STREAM_QUERIES = ["q34_streaming_freshen", "q304_timer_sessions", "q285_ttl_dedup"]

# The workload's primary and secondary operation (op kinds in the result).
OPS = {
    "point-read": ("get", "bulk_get"),
    "freshen-writeback": ("writeback", "read_after_write"),
    "llm-batch": ("pass", "query"),
    "stream-replay": ("pass", "query"),
}


# name -> unit of every metric the command prints
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "op2_p50_ms": "ms", "peak_rss_mb": "MB",
              "ok_ratio": "ratio"}
PER_LAYER = dict(
    [("engine.call_ms", "ms"), ("engine.jobs_per_round", "count"), ("engine.stale_share", "ratio"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
     ("exec.jobs_per_get", "count"), ("exec.tasks_per_get", "count"), ("exec.task_ms_per_get", "ms"),
     ("exec.task_ms_per_bulk_get", "ms"), ("exec.rows_read_per_row_returned", "ratio"),
     ("exec.jobs_per_round", "count"), ("exec.task_s_per_round", "s"),
     ("exec.shuffle_bytes_per_round", "bytes"),
     ("sources.open_ms", "ms"), ("sources.files_per_snapshot", "count"),
     ("sources.jobs_per_round", "count"), ("sources.rewrite_ratio", "ratio"),
     ("sources.useful_row_ratio", "ratio"), ("sources.maintenance_s", "s"),
     ("queries.build_s", "s"), ("queries.build_jobs", "count")] +
    [(f"queries.{q}.s", "s") for q in LLM_QUERIES] +
    [("exec.jobs", "count"), ("exec.tasks_per_stage", "count"), ("exec.task_s", "s"),
     ("exec.busy_ratio", "ratio"), ("exec.shuffle_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
     ("exec.peak_exec_mem_mb", "MB"),
     ("streaming.batches", "count"), ("streaming.trigger_s", "s"), ("streaming.add_batch_s", "s"),
     ("streaming.query_planning_s", "s"), ("streaming.commit_s", "s"),
     ("streaming.outside_trigger_s", "s"), ("streaming.state_rows", "count"),
     ("streaming.state_memory_mb", "MB")] +
    [(f"streaming.{q}.s", "s") for q in STREAM_QUERIES] +
    [(f"{layer}.self_s", "s") for layer in ("engine", "sources", "queries", "streaming", "exec")] +
    [("jvm.gc_s", "s")] +
    [(f"traced.{k}", u) for k, u in END_TO_END.items()])


def percentile(values, p):
    """Nearest-rank percentile `p` (0-100) of `values`. Refuses (ValueError)
    when fewer than MIN_BEYOND samples lie beyond it."""
    n = len(values)
    beyond = n * (100 - p) / 100.0
    if n == 0 or (p > 50 and beyond < MIN_BEYOND):
        raise ValueError(f"p{p} needs {MIN_BEYOND} samples beyond it; have {n} samples")
    s = sorted(values)
    k = max(1, -(-n * p // 100))  # ceil(n * p / 100), at least 1
    return s[int(k) - 1]


def median(values):
    return statistics.median(values) if values else 0.0


def covered(intervals):
    """Total length of the union of [t0, t1) intervals."""
    total, end = 0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def self_times(spans):
    """{span id: duration minus the part of it that its children cover}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["t0"], s["t0"]), min(c["t1"], s["t1"])) for c in kids.get(s["id"], [])]
        out[s["id"]] = (s["t1"] - s["t0"]) - covered([c for c in clipped if c[1] > c[0]])
    return out


CALL_SITE = re.compile(r"\bat ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def module_map(src_root):
    """{source file name: module} for the program under `src_root`
    (`src/main/scala`); a name used in two modules maps to both, joined by
    '|'."""
    found = {}
    for base, _, names in os.walk(src_root):
        rel = os.path.relpath(base, src_root).split(os.sep)
        module = rel[1] if len(rel) > 1 else "graft"
        for n in names:
            if n.endswith(".scala"):
                found.setdefault(n, set()).add(module)
    return {n: "|".join(sorted(m)) for n, m in found.items()}


def module_of(call_site, modules, fallback):
    """Module of a Spark call site such as `count at FreshReader.scala:147`;
    `fallback` (the layer of the span that started the job) when the file
    is not part of the program."""
    m = CALL_SITE.search(call_site or "")
    return modules.get(m.group(1), fallback) if m else fallback


# ------------------------------------------------------------ trace model

class TraceView:
    """The spans of a traced run, with Spark jobs, stages and micro-batches
    hung under the benchmark span that caused them."""

    def __init__(self, result, modules):
        t = result["trace"]
        self.stages = {s["id"]: s for s in t["stages"]}
        self.spans = [dict(s) for s in t["spans"]]
        by_id = {s["id"]: s for s in self.spans}
        next_id = max(by_id, default=0) + 1
        self.jobs = []
        for j in t["jobs"]:
            parent = by_id.get(j["span"])
            layer = module_of(j["call_site"], modules, parent["layer"] if parent else "exec")
            if layer in ("op", "setup", "run"):
                layer = "exec"
            job = {"id": next_id, "parent": j["span"], "name": "job", "layer": layer,
                   "t0": j["t0"], "t1": max(j["t1"], j["t0"]), "job": j}
            next_id += 1
            self.jobs.append(job)
            for sid in j["stages"]:
                st = self.stages.get(sid)
                if st and st["t1"] > 0:
                    self.spans.append({"id": next_id, "parent": job["id"], "name": "stage",
                                       "layer": "exec", "t0": st["t0"], "t1": st["t1"]})
                    next_id += 1
        self.spans += self.jobs
        # micro-batches: under the query span that holds their start; phases
        # laid out in execution order inside the trigger
        query_spans = [s for s in t["spans"] if s["layer"] == "queries"]
        self.batches = []
        for p in t["progress"]:
            d = p["duration_ms"]
            host = next((s for s in query_spans if s["t0"] <= p["start_us"] <= s["t1"]), None)
            start = p["start_us"]
            b = {"id": next_id, "parent": host["id"] if host else 0, "name": "microbatch",
                 "layer": "streaming", "t0": start, "t1": start + 1000 * d.get("triggerExecution", 0),
                 "progress": p}
            next_id += 1
            self.spans.append(b)
            self.batches.append(b)
            cursor = start
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                          "commitOffsets"):
                dur = 1000 * d.get(phase, 0)
                self.spans.append({"id": next_id, "parent": b["id"], "name": phase,
                                   "layer": "streaming", "t0": cursor, "t1": cursor + dur})
                next_id += 1
                cursor += dur
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def descendants(self, span_id):
        out, todo = [], list(self.kids.get(span_id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.kids.get(s["id"], [])
        return out

    def jobs_under(self, span_id, layer=None):
        return [s["job"] for s in self.descendants(span_id)
                if s["name"] == "job" and (layer is None or s["layer"] == layer)]

    def stage_sum(self, jobs, key):
        return sum(self.stages[sid][key] for j in jobs for sid in j["stages"] if sid in self.stages)

    def ops(self, kind):
        """Op spans of one kind inside the timed window, in order."""
        timed = next(s for s in self.spans if s["name"] == "timed")
        return [s for s in self.spans if s["name"] == kind and s["layer"] == "op"
                and s["t0"] >= timed["t0"]]

    def layer_self_s(self):
        st = self_times(self.spans)
        timed = next(s for s in self.spans if s["name"] == "timed")
        inside = {s["id"] for s in self.descendants(timed["id"])}
        out = {}
        for s in self.spans:
            if s["id"] in inside and s["layer"] not in ("op", "run", "setup"):
                out[s["layer"]] = out.get(s["layer"], 0) + st[s["id"]] / 1e6
        return out


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(result, modules, e2e, stale_share):
    """Every per-layer metric of a traced run; 0 where the workload does not
    exercise the layer."""
    tv = TraceView(result, modules)
    cores = result["cores"]
    m = {}

    # engine / catalyst / exec on the point-read path
    reads = [s for k in ("get", "bulk_get", "read_after_write") for s in tv.ops(k)]
    calls = [c for r in reads for c in tv.kids.get(r["id"], [])
             if c["name"] in ("FreshReader.get", "FreshReader.bulkGet")]
    m["engine.call_ms"] = median([(c["t1"] - c["t0"]) / 1e3 for c in calls])
    m["engine.stale_share"] = stale_share
    collects = [c for r in reads for c in tv.kids.get(r["id"], []) if c["name"] == "collect"]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = median([c["attrs"].get(f"catalyst.{phase}", 0) for c in collects])
    gets, bulks = tv.ops("get"), tv.ops("bulk_get")
    get_jobs = [tv.jobs_under(g["id"]) for g in gets]
    m["exec.jobs_per_get"] = mean([len(j) for j in get_jobs])
    m["exec.tasks_per_get"] = mean([tv.stage_sum(j, "tasks") for j in get_jobs])
    m["exec.task_ms_per_get"] = mean([tv.stage_sum(j, "run_ms") for j in get_jobs])
    m["exec.task_ms_per_bulk_get"] = mean([tv.stage_sum(tv.jobs_under(b["id"]), "run_ms") for b in bulks])
    m["exec.rows_read_per_row_returned"] = (
        sum(tv.stage_sum(j, "records_read") for j in get_jobs) / len(gets) if gets else 0.0)

    # write-back rounds
    rounds = tv.ops("writeback")
    round_ops = [o for o in result["ops"] if o["kind"] == "writeback"]
    m["engine.jobs_per_round"] = mean([len(tv.jobs_under(r["id"], "engine")) for r in rounds])
    m["sources.jobs_per_round"] = mean([len(tv.jobs_under(r["id"], "sources")) for r in rounds])
    rj = [tv.jobs_under(r["id"]) for r in rounds]
    m["exec.jobs_per_round"] = mean([len(j) for j in rj])
    m["exec.task_s_per_round"] = mean([tv.stage_sum(j, "run_ms") / 1e3 for j in rj])
    m["exec.shuffle_bytes_per_round"] = mean([tv.stage_sum(j, "shuffle_write") for j in rj])
    opens = [s for s in tv.spans if s["name"] == "TxStore.read" and s["layer"] == "sources"
             and rounds and s["t0"] >= rounds[0]["t0"]]
    m["sources.open_ms"] = median([(s["t1"] - s["t0"]) / 1e3 for s in opens])
    m["sources.files_per_snapshot"] = result["extra"].get("files_per_snapshot", 0)
    m["sources.rewrite_ratio"] = mean([o["bytes_written"] / o["live_bytes"] for o in round_ops
                                       if o.get("live_bytes")])
    m["sources.useful_row_ratio"] = mean([o["scored"] / o["rows_rewritten"] for o in round_ops
                                          if o.get("rows_rewritten")])
    m["sources.maintenance_s"] = sum((s["t1"] - s["t0"]) / 1e6 for s in tv.spans
                                     if s["name"] == "maintenance")

    # query passes (llm-batch, stream-replay)
    passes = tv.ops("pass")
    qspans = [[c for c in tv.kids.get(p["id"], []) if c["layer"] == "queries"] for p in passes]
    m["queries.build_s"] = mean([sum((q["t1"] - q["t0"]) / 1e6 for q in qs) for qs in qspans])
    m["queries.build_jobs"] = mean([sum(len(tv.jobs_under(q["id"])) for q in qs) for qs in qspans])
    pass_ops = [o for o in result["ops"] if o["kind"] == "pass"]
    for q in LLM_QUERIES:
        m[f"queries.{q}.s"] = mean([o["queries"][q] for o in pass_ops if q in o.get("queries", {})])
    pj = [tv.jobs_under(p["id"]) for p in passes]
    m["exec.jobs"] = mean([len(j) for j in pj])
    stages = [sid for j in pj for job in j for sid in job["stages"]
              if sid in tv.stages and tv.stages[sid]["tasks"]]  # skipped stages run no tasks
    m["exec.tasks_per_stage"] = mean([tv.stages[s]["tasks"] for s in stages])
    m["exec.task_s"] = mean([tv.stage_sum(j, "run_ms") / 1e3 for j in pj])
    wall = sum((p["t1"] - p["t0"]) / 1e6 for p in passes)
    m["exec.busy_ratio"] = (sum(tv.stage_sum(j, "run_ms") / 1e3 for j in pj) / (wall * cores)
                            if wall else 0.0)
    m["exec.shuffle_bytes"] = mean([tv.stage_sum(j, "shuffle_write") for j in pj])
    m["exec.spill_bytes"] = mean([tv.stage_sum(j, "spill") for j in pj])
    m["exec.peak_exec_mem_mb"] = max([tv.stages[s]["peak_mem"] for s in stages], default=0) / 2**20

    # streaming, per timed pass
    per_pass = []
    for p in passes:
        bs = [b for b in tv.batches if p["t0"] <= b["t0"] <= p["t1"]]
        d = lambda k: sum(b["progress"]["duration_ms"].get(k, 0) for b in bs) / 1e3
        per_pass.append({
            "batches": len(bs), "trigger_s": d("triggerExecution"), "add_batch_s": d("addBatch"),
            "query_planning_s": d("queryPlanning"), "commit_s": d("walCommit") + d("commitOffsets"),
            "outside_trigger_s": (p["t1"] - p["t0"]) / 1e6 - d("triggerExecution") if bs else 0.0,
            "state_rows": max([b["progress"]["state_rows"] for b in bs], default=0),
            "state_memory_mb": max([b["progress"]["state_bytes"] for b in bs], default=0) / 2**20})
    for k in ("batches", "trigger_s", "add_batch_s", "query_planning_s", "commit_s",
              "outside_trigger_s", "state_rows", "state_memory_mb"):
        m[f"streaming.{k}"] = mean([pp[k] for pp in per_pass])
    for q in STREAM_QUERIES:
        m[f"streaming.{q}.s"] = mean([o["queries"][q] for o in pass_ops if q in o.get("queries", {})])

    # self time per layer in the timed window, and the JVM
    selfs = tv.layer_self_s()
    for layer in ("engine", "sources", "queries", "streaming", "exec"):
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    m["jvm.gc_s"] = result["gc_s"]
    # the end-to-end metrics as measured with tracing on: compared with an
    # untraced run of the same seed they give the tracing overhead
    for k, v in e2e.items():
        m[f"traced.{k}"] = v
    assert set(m) == set(PER_LAYER), "per-layer metrics out of step with PER_LAYER"
    return {k: m[k] for k in PER_LAYER}


def end_to_end(result, failed, attempted):
    """The end-to-end metrics of one run (tracing off)."""
    first, second = OPS[result["workload"]]
    ops = [o for o in result["ops"] if o["ok"]]

    def lat(kind):
        if kind == "query":  # one query's wall inside the timed passes
            return [1e3 * s for o in ops if o["kind"] == "pass" for s in o["queries"].values()]
        return [o["ms"] for o in ops if o["kind"] == kind]
    return {
        "setup_s": result["setup_s"],
        "op_p50_ms": median(lat(first)),
        "op2_p50_ms": median(lat(second)),
        "peak_rss_mb": result["peak_rss_mb"],
        "ok_ratio": (attempted - failed) / attempted if attempted else 0.0,
    }


def named(result, failed, attempted):
    """Per-operation figures for the report file (get_p50_ms, space_amp,
    llm_batch_s, ...): {name: value}, with `<name>.n` sample counts; a p95
    is present only when it has 200 samples."""
    ops = [o for o in result["ops"] if o["ok"]]
    out = {"setup_s": result["setup_s"], "peak_rss_mb": result["peak_rss_mb"],
           "failed_ratio": failed / attempted if attempted else 0.0}

    def put(name, kind, scale=1.0, tail=False):
        xs = [o["ms"] * scale for o in ops if o["kind"] == kind]
        if not xs:
            return
        out[name + "_p50" + ("_ms" if scale == 1.0 else "_s")] = median(xs)
        out[name + ".n"] = len(xs)
        if tail and len(xs) * 5 // 100 >= MIN_BEYOND:
            out[name + "_p95_ms"] = percentile(xs, 95)
    put("get", "get", tail=True)
    put("get_nopolicy", "get_nopolicy")
    put("bulk_get", "bulk_get", tail=True)
    put("writeback", "writeback", scale=1e-3)
    put("read_after_write", "read_after_write")
    extra = result["extra"]
    if extra.get("live_bytes"):
        out["space_amp"] = extra["store_bytes"] / extra["live_bytes"]
    passes = [o["ms"] / 1e3 for o in ops if o["kind"] == "pass"]
    if passes:
        name = "llm_batch_s" if result["workload"] == "llm-batch" else "stream_replay_s"
        out[name], out[name[:-2] + ".n"] = median(passes), len(passes)
    return out


def detail(result):
    """Per-operation latency summaries for the report file, with the sample
    count and each percentile that has enough samples behind it."""
    out = {}
    for kind in sorted({o["kind"] for o in result["ops"]}):
        xs = [o["ms"] for o in result["ops"] if o["kind"] == kind and o["ok"]]
        d = {"n": len(xs), "p50_ms": median(xs), "samples_ms": [round(x, 3) for x in xs]}
        for p in (90, 95, 99):
            try:
                d[f"p{p}_ms"] = percentile(xs, p)
            except ValueError:
                pass
        out[kind] = d
    return out
