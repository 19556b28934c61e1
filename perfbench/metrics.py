"""Turns the harness's raw record of one run into metrics.

All of the benchmark's arithmetic lives here (and is tested in
test_metrics.py): pass and query timings, the tail percentile,
failure counting, PlanMemo attribution per pass, span self time and
the listener counts of a traced run.
"""
import math
import statistics

FAMILIES = ("kpis", "relational", "temporal", "ioqueries", "dedup", "text",
            "pipeline", "packing", "similarity", "quantization",
            "clustering", "streamingqueries")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
KERNELS_NS = ("shingle_fps", "minhash_sigs", "span_fps", "sorted_inter_size",
              "dot_product", "pq_encode", "topk")
STREAM_PHASES = {"add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
                 "latest_offset_ms": "latestOffset",
                 "query_planning_ms": "queryPlanning",
                 "wal_commit_ms": "walCommit",
                 "commit_offsets_ms": "commitOffsets"}


# ------------------------------------------------------------ arithmetic
def tail_percentile(n):
    """Highest percentile (to 0.1) with at least 10 of `n` samples
    beyond its nearest rank, with that count; (None, 0) when fewer than
    20 samples leave the median itself without 10 beyond."""
    if n < 20:
        return None, 0
    p = math.floor(1000 * (1 - 10 / n)) / 10
    return p, n - math.ceil(p / 100 * n)


def percentile(values, p):
    """Nearest-rank percentile of `values`."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
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


def self_time(start, end, children):
    """Span duration minus the part its children cover; overlapping
    children (concurrent jobs under Par.jobs) count once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children
               if min(e, end) > max(s, start)]
    return (end - start) - union_length(clipped)


def overlap(intervals, k=2):
    """(max intervals open at once, time with at least `k` open)."""
    ev = sorted([(s, 1) for s, _ in intervals] +
                [(e, -1) for _, e in intervals], key=lambda x: (x[0], x[1]))
    depth = peak = 0
    busy, since = 0.0, None
    for t, d in ev:
        if depth >= k and since is not None:
            busy += t - since
        depth += d
        peak = max(peak, depth)
        since = t
    return peak, busy


def pass_times(raw):
    """(cold pass seconds, [warm pass seconds])."""
    walls = {p: (e - s) / 1000 for p, s, e in raw["passes"]}
    return walls[0], [walls[p] for p in sorted(walls) if p > 0]


def memo_by_pass(queries):
    """PlanMemo builds charged to the pass that ran them: (cold builds,
    warm builds, names of queries that built cold)."""
    cold = sum(q["memo_builds"] for q in queries if q["pass"] == 0)
    warm = sum(q["memo_builds"] for q in queries if q["pass"] > 0)
    built = sorted({q["name"] for q in queries
                    if q["pass"] == 0 and q["memo_builds"] > 0})
    return cold, warm, built


def failures(queries, verdicts):
    """Failure reason per query name: threw in a pass, or failed the
    oracle. Queries with no oracle SQL only have to run."""
    out = {}
    for q in queries:
        if q["error"]:
            out.setdefault(q["name"], f"pass {q['pass']}: {q['error']}")
    for name, v in verdicts.items():
        if v not in ("ok", "unchecked"):
            out.setdefault(name, f"oracle: {v}")
    return out


def failed_count(queries, failed_names):
    """(attempted, failed) over query executions: an execution fails if
    it threw or its query's result is wrong. A failed execution's
    elapsed time stays in its pass's wall time."""
    attempted = len(queries)
    failed = sum(1 for q in queries
                 if q["error"] or q["name"] in failed_names)
    return attempted, failed


def warm_latencies(queries):
    return [(q["end"] - q["start"]) / 1000 for q in queries if q["pass"] > 0]


def med(xs, default=0.0):
    return statistics.median(xs) if xs else default


# ------------------------------------------------------------- end to end
def per_query_warm(queries):
    """Each query's median warm latency in seconds."""
    by = {}
    for q in queries:
        if q["pass"] > 0:
            by.setdefault(q["name"], []).append((q["end"] - q["start"]) / 1000)
    return {k: med(v) for k, v in by.items()}


def end_to_end(raw, launch, min_warm):
    """End-to-end metrics of an untraced run; `launch` is the epoch
    second the JVM was started."""
    cold, warm = pass_times(raw)
    lat = warm_latencies(raw["queries"])
    n_queries = len({q["name"] for q in raw["queries"]})
    pct, _ = tail_percentile(n_queries * min_warm)
    pct = pct or 50.0
    tail = percentile(lat, pct)
    beyond = len(lat) - math.ceil(pct / 100 * len(lat))
    vals = {
        "setup_s": (raw["ready_ms"] / 1000 - launch, "s"),
        "cold_s": (cold, "s"),
        "warm_s": (med(warm), "s"),
        # the workload's typical query: median over queries of each
        # query's median warm latency; a median over the pooled samples
        # would jump between two queries whose samples interleave
        "query_p50_s": (med(list(per_query_warm(raw["queries"]).values())),
                        "s"),
        "query_tail_s": (tail, "s"),
        "peak_rss_mb": (raw["rss_hwm_kb"] / 1024, "MB"),
    }
    cold_by = {q["name"]: (q["end"] - q["start"]) / 1000
               for q in raw["queries"] if q["pass"] == 0}
    info = {"per_query_cold_warm_s": {
                k: [round(cold_by[k], 3), round(w, 3)]
                for k, w in per_query_warm(raw["queries"]).items()},
            "tail_percentile": pct, "tail_beyond": beyond,
            "warm_samples": len(lat), "warm_pass_s": warm,
            # JVM start to main(), session built, warm-up job done
            "setup_parts_s": [raw["main_ms"] / 1000 - launch,
                              (raw["session_ms"] - raw["main_ms"]) / 1000,
                              (raw["ready_ms"] - raw["session_ms"]) / 1000]}
    return vals, info


def artifact_mb(raw):
    a = raw["artifact"]
    return (a["bytes"] + a["table_bytes"]) / 1e6


# -------------------------------------------------------------- per layer
def per_layer(raw, cores, failed_ratio):
    qs = raw["queries"]
    passes = {p: (s, e) for p, s, e in raw["passes"]}
    warm_ids = [p for p in sorted(passes) if p > 0]
    fam = raw["families"]
    spans = [dict(zip(("id", "parent", "name", "trace", "start", "end"), s))
             for s in raw["spans"]]
    jobs = [(t, s, e) for t, s, e in raw["jobs"]]
    out = {}

    def put(name, value, unit):
        out[name] = (value, unit)

    def pass_of(trace):
        if "#" not in trace or trace.startswith("layer#"):
            return None
        tail = trace.rsplit("#", 1)[1]
        return int(tail) if tail.isdigit() else None

    def cold_warm(values_by_pass):
        """(cold value, median of the warm passes' values)."""
        return (values_by_pass.get(0, 0.0),
                med([values_by_pass.get(p, 0.0) for p in warm_ids]))

    # queries layer: build and exec spans, their self time (minus the
    # Spark jobs that ran inside them), families
    for kind in ("build", "exec"):
        tot, slf = {}, {}
        for s in spans:
            if s["name"] != f"query.{kind}":
                continue
            p = pass_of(s["trace"])
            inside = [(js, je) for t, js, je in jobs if t == s["trace"]]
            tot[p] = tot.get(p, 0.0) + (s["end"] - s["start"]) / 1000
            slf[p] = slf.get(p, 0.0) + self_time(
                s["start"], s["end"], inside) / 1000
        c, w = cold_warm(tot)
        put(f"query.{kind}_cold_s", c, "s")
        put(f"query.{kind}_warm_s", w, "s")
        c, w = cold_warm(slf)
        put(f"query.{kind}_self_cold_s", c, "s")
        put(f"query.{kind}_self_warm_s", w, "s")
    for f in FAMILIES:
        by = {}
        for q in qs:
            if fam.get(q["name"]) == f:
                by[q["pass"]] = by.get(q["pass"], 0.0) + \
                    (q["end"] - q["start"]) / 1000
        c, w = cold_warm(by)
        put(f"{f}.cold_s", c, "s")
        put(f"{f}.warm_s", w, "s")

    # catalyst: QueryPlanningTracker phases of every executed plan,
    # charged to the warm pass whose window holds the plan's start
    def window(t):
        for p in warm_ids:
            s, e = passes[p]
            if s <= t <= e:
                return p
        return None
    cat = {p: [0.0, 0.0, 0.0, 0.0, 0.0] for p in warm_ids}
    for start, an, opt, plan, nodes, files in raw["catalyst"]:
        p = window(start)
        if p is not None:
            for i, v in enumerate((an, opt, plan, nodes, files)):
                cat[p][i] += v
    for q in qs:  # analysis of each query's own frame, at build time
        if q["pass"] > 0:
            cat[q["pass"]][0] += q.get("analysis_ms", 0)
    for i, name in enumerate(("analysis_s", "optimization_s", "planning_s")):
        put(f"catalyst.{name}", med([cat[p][i] / 1000 for p in warm_ids]),
            "s")
    put("catalyst.plan_nodes",
        statistics.median_low([cat[p][3] for p in warm_ids]), "count")
    put("io.output_files",
        statistics.median_low([cat[p][4] for p in warm_ids]), "count")

    # spark scheduler and executors, per warm pass (median pass)
    aggs = raw["aggs"]

    def spark_sum(p, key):
        return sum(a[key] for t, a in aggs.items() if pass_of(t) == p)
    counts = {"jobs": "spark.jobs", "stages": "spark.stages",
              "tasks": "spark.tasks", "input_bytes": "spark.input_bytes",
              "shuffle_read_bytes": "spark.shuffle_read_bytes",
              "shuffle_write_bytes": "spark.shuffle_write_bytes",
              "spill_bytes": "spark.spill_bytes",
              "output_bytes": "spark.output_bytes"}
    for key, name in counts.items():
        unit = "bytes" if key.endswith("bytes") else "count"
        put(name, statistics.median_low(
            [spark_sum(p, key) for p in warm_ids]), unit)
    run = [spark_sum(p, "run_ms") / 1000 for p in warm_ids]
    put("spark.executor_run_s", med(run), "s")
    put("spark.executor_cpu_s",
        med([spark_sum(p, "cpu_ns") / 1e9 for p in warm_ids]), "s")
    put("spark.gc_s", med([spark_sum(p, "gc_ms") / 1000 for p in warm_ids]),
        "s")
    put("spark.task_overhead_s", med(
        [(spark_sum(p, "task_wall_ms") - spark_sum(p, "run_ms")) / 1000
         for p in warm_ids]), "s")
    put("spark.core_busy_ratio", med(
        [r / (((passes[p][1] - passes[p][0]) / 1000) * cores)
         for r, p in zip(run, warm_ids)]), "ratio")
    ins = sum(spark_sum(p, "input_bytes") for p in warm_ids)
    outs = sum(spark_sum(p, "output_bytes") for p in warm_ids)
    put("io.write_amp", outs / ins if ins else 0.0, "ratio")

    # Par: concurrent Spark jobs of the query passes
    peak = 0
    ov = []
    for p in warm_ids:
        pk, busy = overlap([(s, e) for t, s, e in jobs if pass_of(t) == p])
        peak = max(peak, pk)
        ov.append(busy / 1000)
    put("par.max_jobs_in_flight", peak, "count")
    put("par.overlap_s", med(ov), "s")

    # PlanMemo and published artifacts
    cold_b, warm_b, built = memo_by_pass(qs)
    warm_n = sum(1 for q in qs if q["pass"] > 0)
    put("memo.builds_cold", cold_b, "count")
    put("memo.builds_warm", warm_b, "count")
    put("memo.waste_ratio", warm_b / warm_n if warm_n else 0.0, "ratio")
    put("memo.entries", raw["artifact"]["memo_entries"], "count")
    excess = 0.0
    for name in built:
        cold_t = [(q["end"] - q["start"]) / 1000 for q in qs
                  if q["name"] == name and q["pass"] == 0]
        warm_t = [(q["end"] - q["start"]) / 1000 for q in qs
                  if q["name"] == name and q["pass"] > 0]
        excess += cold_t[0] - med(warm_t)
    put("memo.cold_excess_s", excess, "s")
    a = raw["artifact"]
    put("artifact.count", a["names"] + a["tables"], "count")
    put("artifact.bytes", a["bytes"] + a["table_bytes"], "bytes")
    put("artifact_mb", artifact_mb(raw), "MB")
    put("failed_ratio", failed_ratio, "ratio")

    # layers probed from outside after the passes
    by_name = {}
    for s in spans:
        if s["trace"].startswith("layer#"):
            by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
    lv = raw.get("layer_values", {})
    for t in TABLES:
        put(f"tables.{t}.scan_s", med(by_name.get(f"tables.{t}.scan", []))
            / 1000, "s")
    put("tables.rebalanced", lv.get("tables.rebalanced", 0), "count")
    for e in ("clean_strict", "clean_light", "features"):
        put(f"etl.{e}_s", med(by_name.get(f"etl.{e}", [])) / 1000, "s")
    def per_eval_ms(k):  # median sweep time over the evaluations in it
        evals = lv.get(f"kernel.{k}.evals", 0)
        return med(by_name.get(f"kernel.{k}", [])) / evals if evals else 0.0
    for k in KERNELS_NS:
        put(f"kernel.{k}_ns", per_eval_ms(k) * 1e6, "ns")
    put("kernel.bpe_encode_us_per_word", per_eval_ms("bpe_encode") * 1e3, "us")

    # streaming: trigger progress charged to the warm query whose
    # window holds the trigger's start
    def owner(t):
        for q in qs:
            if q["pass"] > 0 and q["start"] <= t <= q["end"]:
                return q
        return None
    per_pass = {p: {"n": 0, "trig_ms": 0.0, "wall_ms": 0.0,
                    **{k: 0.0 for k in STREAM_PHASES}} for p in warm_ids}
    trig_ms, rows, mem = [], 0, 0
    stream_queries = set()
    for start, dur, srows, smem in raw["triggers"]:
        q = owner(start)
        if q is None:
            continue
        stream_queries.add((q["name"], q["pass"]))
        pp = per_pass[q["pass"]]
        pp["n"] += 1
        te = dur.get("triggerExecution", 0)
        pp["trig_ms"] += te
        trig_ms.append(te)
        for k, src in STREAM_PHASES.items():
            pp[k] += dur.get(src, 0)
        rows, mem = max(rows, srows), max(mem, smem)
    for name, p in stream_queries:
        q = next(x for x in qs if x["name"] == name and x["pass"] == p)
        per_pass[p]["wall_ms"] += q["end"] - q["start"]
    put("stream.triggers",
        statistics.median_low([per_pass[p]["n"] for p in warm_ids]), "count")
    put("stream.trigger_p50_ms", med(trig_ms), "ms")
    for k in STREAM_PHASES:
        put(f"stream.{k}", med([per_pass[p][k] for p in warm_ids]), "ms")
    put("stream.harness_ms", med(
        [per_pass[p]["wall_ms"] - per_pass[p]["trig_ms"] for p in warm_ids]),
        "ms")
    put("stream.state_rows", rows, "count")
    put("stream.state_memory_bytes", mem, "bytes")
    return out


def compute(raw, verdicts, launch, cores, min_warm, traced):
    """Everything a run reports: the metric dict for the printed line
    (end-to-end untraced, per-layer traced), failures and detail."""
    fails = failures(raw["queries"], verdicts)
    attempted, failed = failed_count(raw["queries"], set(fails))
    e2e, info = end_to_end(raw, launch, min_warm)
    detail = dict(info, failed_ratio=failed / attempted,
                  artifact_mb=artifact_mb(raw),
                  memo_cold_queries=memo_by_pass(raw["queries"])[2])
    if traced:
        vals = per_layer(raw, cores, failed / attempted)
        for k in ("cold_s", "warm_s", "query_p50_s", "query_tail_s"):
            vals[f"traced.{k}"] = e2e[k]
        fps = {}
        for q in raw["queries"]:
            fps.setdefault(q["name"], set()).add(q["fp"])
        detail["plan_fingerprints"] = {k: sorted(v) for k, v in fps.items()}
    else:
        vals = e2e
    return {"metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in vals.items()},
            "traced": {k: v for k, (v, _) in e2e.items()},
            "failures": fails, "attempted": attempted, "failed": failed,
            "detail": detail}
