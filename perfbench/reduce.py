"""Reduce one run's records (``run.json`` and, traced, ``trace.json``) to
the benchmark's end-to-end and per-layer metrics."""
import math
import statistics

# Reported tail percentile; a run must carry at least TAIL_BEYOND warm ops
# above it, i.e. 50 warm ops in all (the warm pass counts in Main.scala and
# SchemaBuild.scala give 63 and 90).
TAIL_PCT = 80
TAIL_BEYOND = 10

END_TO_END = [
    ("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p80_ms", "ms"), ("ops_per_s", "1/s"),
    ("cold_pass_s", "s"), ("warm_pass_s", "s"),
]

QUERY_OBJECTS = ["DedupQueries", "SimilarityQueries", "TextQueries", "MultimodalQueries",
                 "CdcQueries"]
# end-to-end metrics that a run measures in both modes, pass by pass
# (set-up and the cold pass happen once per run)
OVERHEAD_OF = ["op_p50_ms", "op_p80_ms", "ops_per_s", "warm_pass_s"]

PER_LAYER = [
    ("catalog.scan_ms", "ms"), ("catalog.tables", "count"), ("catalog.columns", "count"),
    ("config.load_ms", "ms"), ("model.relations_ms", "ms"), ("model.kept_ratio", "ratio"),
    ("tables.load_ms", "ms"), ("tables.load_calls", "count"),
    ("generate.render_sql_ms", "ms"), ("generate.views_ms", "ms"),
    ("generate.yaml_read_ms", "ms"), ("generate.yaml_write_ms", "ms"),
    ("generate.bytes_written", "bytes"),
    ("engine.build_ms", "ms"), ("engine.self_ms", "ms"),
    ("queries.construct_ms", "ms"), ("queries.construct_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.driver_gap_ms", "ms"), ("exec.scan_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.task_skew", "ratio"),
    ("artifacts.build_ms", "ms"), ("artifacts.clear_ms", "ms"), ("artifacts.persisted_mb", "MB"),
    ("artifacts.leaked_rdds", "count"),
    ("storage_peak_mb", "MB"), ("failed_ratio", "ratio"), ("fixture.gen_s", "s"),
    ("setup.spark_s", "s"), ("setup.engine_s", "s"), ("host.steal_pct", "%"),
] + [(f"queries.{o}.{k}", "ms") for o in QUERY_OBJECTS for k in ("cold_ms", "warm_ms")] + [
    (f"trace.overhead_pct.{m}", "%") for m in OVERHEAD_OF]


# ------------------------------------------------------------------ helpers

def percentile(values, pct):
    """Linear-interpolated percentile of ``values`` (0 <= pct <= 100)."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n, beyond=TAIL_BEYOND):
    """Highest whole percentile that leaves at least ``beyond`` of ``n``
    samples strictly above its rank; None when ``n`` is too small."""
    for p in range(99, 0, -1):
        if n - math.ceil(n * p / 100.0) >= beyond:
            return p
    return None


def median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def union_ns(intervals, lo=None, hi=None):
    """Total length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]`` when given."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
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
    """Self time of each span: its duration minus the part of its interval
    that its direct children cover. ``spans`` holds ``(id, parent, start,
    end)``; returns ``{id: self_ns}``."""
    children = {}
    for sid, parent, s, e in spans:
        children.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - union_ns(children.get(sid, []), s, e) for sid, _, s, e in spans}


# ---------------------------------------------------------------- end to end

def _warm(ops, traced=False):
    return [o for o in ops if o["kind"] == "warm" and o["ok"] and o["traced"] == traced]


def end_to_end(run):
    ops = run["ops"]
    warm = _warm(ops)
    ms = [o["ms"] for o in warm]
    by_row = {}
    for o in warm:
        by_row.setdefault(o["row"], []).append(o["ms"])
    passes = [p for p in run["passes"] if p["kind"] == "warm" and not p["traced"]]
    wall_ms = sum(p["ms"] for p in passes)
    return {
        "setup_s": run["setup_s"],
        "op_p50_ms": median(ms, float("nan")),
        "op_p80_ms": percentile(ms, TAIL_PCT),
        # warm ops per second of the warm passes' wall time
        "ops_per_s": 1000.0 * sum(p["ops"] for p in passes) / wall_ms if wall_ms else float("nan"),
        "cold_pass_s": sum(o["ms"] for o in ops if o["kind"] == "cold") / 1000.0,
        # a pass of typical ops: each row's (or app's) median warm op
        "warm_pass_s": sum(median(v) for v in by_row.values()) / 1000.0
        if by_row else float("nan"),
    }


# ----------------------------------------------------------------- per layer

def per_layer(run, trace, gen_s, steal_pct):
    ops = run["ops"]
    by_id = {o["id"]: o for o in ops}
    spans = trace["spans"]
    selfs = self_times([(s[0], s[1], s[4], s[5]) for s in spans])
    span_ms = {}      # (op, name) -> summed self ms
    span_n = {}       # (op, name) -> number of spans
    op_root = {}      # op -> (start, end) of its "op" span
    for sid, parent, op, name, s, e in spans:
        span_ms[(op, name)] = span_ms.get((op, name), 0.0) + selfs[sid] / 1e6
        span_n[(op, name)] = span_n.get((op, name), 0) + 1
        if name == "op":
            op_root[op] = (s, e)
    counters = {}
    for op, name, v in trace["counters"]:
        counters[(op, name)] = counters.get((op, name), 0.0) + v
    jobs = {}
    for _, op, s, e in trace["jobs"]:
        jobs.setdefault(op, []).append((s, e))
    stages = {}
    for st in trace["stages"]:
        stages.setdefault(st[1], []).append(st)
    qes = {}
    for op, _, a, o, p in trace["qes"]:
        qa, qo, qp = qes.get(op, (0, 0, 0))
        qes[op] = (qa + a, qo + o, qp + p)

    traced_warm = [o["id"] for o in ops if o["traced"] and o["kind"] == "warm" and o["ok"]]
    replays = [o["id"] for o in ops if o["traced"] and o["kind"] == "replay" and o["ok"]]
    cold = [o["id"] for o in ops if o["kind"] == "cold"]
    # layer calls are made by the replay in schema_build and by the op
    # itself elsewhere
    layer_ops = replays or traced_warm
    exec_ops = traced_warm

    def med(f, ids):
        return median([f(i) for i in ids])

    def mean(f, ids):
        ids = list(ids)
        return sum(f(i) for i in ids) / len(ids) if ids else 0.0

    def sms(name):
        return lambda i: span_ms.get((i, name), 0.0)

    def cnt(name):
        return lambda i: counters.get((i, name), 0.0)

    def exec_ns(i):
        lo, hi = op_root.get(i, (None, None))
        return union_ns(jobs.get(i, []), lo, hi)

    windows = {}
    for s in spans:
        if s[3] == "queries.construct":
            windows.setdefault(s[2], []).append((s[4], s[5]))

    def construct_jobs(i):
        win = windows.get(i, [])
        return sum(1 for js, _ in jobs.get(i, []) if any(a <= js <= b for a, b in win))

    def stage_sum(col):
        return lambda i: sum(st[col] for st in stages.get(i, []))

    skews = [st[7] for i in exec_ops for st in stages.get(i, []) if st[2] >= 2]
    scanned = sum(cnt("model.scanned")(i) for i in layer_ops)
    kept = sum(cnt("model.kept")(i) for i in layer_ops)

    # engine self time: each stack-sampled buildApp's wall time times the
    # share of its samples whose innermost graft. frame is in graft.engine
    sampled = [i for i in traced_warm if cnt("sample.all")(i) > 0]
    engine_self = [by_id[i]["ms"] * cnt("sample.self")(i) / cnt("sample.all")(i)
                   for i in sampled]

    untraced = _warm(ops)
    warm_med = {}
    for o in untraced:
        warm_med.setdefault(o["row"], []).append(o["ms"])
    warm_med = {k: median(v) for k, v in warm_med.items()}
    cold_ops = [by_id[i] for i in cold]
    attempted = len(ops)

    m = {
        "catalog.scan_ms": med(sms("catalog.scan"), layer_ops),
        "catalog.tables": med(cnt("catalog.tables"), layer_ops),
        "catalog.columns": med(cnt("catalog.columns"), layer_ops),
        "config.load_ms": med(sms("config.load"), layer_ops),
        "model.relations_ms": med(sms("model.relations"), layer_ops),
        "model.kept_ratio": kept / scanned if scanned else 0.0,
        "tables.load_ms": sum(sms("tables.load")(i) for i in cold),
        "tables.load_calls": sum(span_n.get((i, "tables.load"), 0) for i in cold),
        "generate.render_sql_ms": med(sms("generate.render_sql"), layer_ops),
        "generate.views_ms": med(sms("generate.views"), layer_ops),
        "generate.yaml_read_ms": med(sms("generate.yaml_read"), layer_ops),
        "generate.yaml_write_ms": med(sms("generate.yaml_write"), layer_ops),
        "generate.bytes_written": med(cnt("generate.bytes_written"), layer_ops),
        "engine.build_ms": med(sms("engine.build"), sampled),
        "engine.self_ms": median(engine_self),
        "queries.construct_ms": med(sms("queries.construct"), exec_ops),
        "queries.construct_jobs": mean(construct_jobs, exec_ops),
        "catalyst.analysis_ms": med(lambda i: qes.get(i, (0, 0, 0))[0], layer_ops),
        "catalyst.optimization_ms": med(lambda i: qes.get(i, (0, 0, 0))[1], layer_ops),
        "catalyst.planning_ms": med(lambda i: qes.get(i, (0, 0, 0))[2], layer_ops),
        "exec.ms": med(lambda i: exec_ns(i) / 1e6, exec_ops),
        "exec.jobs": mean(lambda i: len(jobs.get(i, [])), exec_ops),
        "exec.stages": mean(lambda i: len(stages.get(i, [])), exec_ops),
        "exec.tasks": mean(stage_sum(2), exec_ops),
        "exec.driver_gap_ms": med(lambda i: by_id[i]["ms"] - exec_ns(i) / 1e6, exec_ops),
        "exec.scan_bytes": mean(stage_sum(3), exec_ops),
        "exec.shuffle_read_bytes": mean(stage_sum(4), exec_ops),
        "exec.shuffle_write_bytes": mean(stage_sum(5), exec_ops),
        "exec.spill_bytes": mean(stage_sum(6), exec_ops),
        "exec.task_skew": median(skews, 1.0),
        "artifacts.build_ms": sum(o["ms"] - warm_med.get(o["row"], o["ms"]) for o in cold_ops),
        "artifacts.clear_ms": run["clear_ms"],
        "artifacts.persisted_mb": run["persisted_end_mb"],
        "artifacts.leaked_rdds": run["leaked_rdds"],
        "storage_peak_mb": run["storage_peak_mb"],
        "failed_ratio": sum(1 for o in ops if not o["ok"]) / attempted if attempted else 0.0,
        "fixture.gen_s": gen_s,
        "setup.spark_s": run["setup_spark_s"],
        "setup.engine_s": run["setup_engine_s"],
        "host.steal_pct": steal_pct,
    }
    for obj in QUERY_OBJECTS:
        mine = [o for o in cold_ops if o["obj"] == obj]
        m[f"queries.{obj}.cold_ms"] = sum(o["ms"] for o in mine)
        m[f"queries.{obj}.warm_ms"] = sum(warm_med.get(o["row"], 0.0) for o in mine)
    for k, v in tracing_overhead_pct(run).items():
        m[f"trace.overhead_pct.{k}"] = v
    return m


def tracing_overhead_pct(run):
    """Tracing overhead per end-to-end metric measured pass by pass:
    ``100 * (traced / untraced - 1)``, each traced warm pass against the
    mean of the untraced warm passes just before and after it, which cancels
    the steady speed-up of a still-warming JVM; the median over traced
    passes. The rate is bracketed as its inverse, wall time per op, since
    it is times that drift linearly. Replay passes never enter a bracket."""
    ms = {}
    for o in run["ops"]:
        if o["kind"] == "warm" and o["ok"]:
            ms.setdefault(o["pass"], []).append(o["ms"])
    per_pass = {}
    for p in run["passes"]:
        xs = ms.get(p["pass"])
        if p["kind"] == "warm" and xs:
            per_pass[p["pass"]] = (p["traced"], {
                "op_p50_ms": median(xs), "op_p80_ms": percentile(xs, TAIL_PCT),
                "ops_per_s": p["ms"] / p["ops"], "warm_pass_s": sum(xs)})
    out = {}
    for k in OVERHEAD_OF:
        ratios = [t[k] / ((per_pass[p - 1][1][k] + per_pass[p + 1][1][k]) / 2)
                  for p, (traced, t) in per_pass.items()
                  if traced and not per_pass.get(p - 1, (True,))[0]
                  and not per_pass.get(p + 1, (True,))[0]]
        r = median(ratios) if ratios else float("nan")
        out[k] = 100.0 * ((1.0 / r if k == "ops_per_s" else r) - 1.0)
    return out


def as_metrics(values, spec):
    """The result line's ``metrics`` object; raises on a value that is not a
    finite number (a run without enough samples must not report)."""
    out = {}
    for name, unit in spec:
        v = float(values[name])
        if not math.isfinite(v):
            raise ValueError(f"{name} is not a finite number: {v}")
        out[name] = {"value": v, "unit": unit}
    return out
