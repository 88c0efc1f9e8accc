"""Turns the raw record of one benchmark run into the reported metrics.

The JVM harness (perfbench/src) writes every sample it took: set-up times,
one record per op with its wall time, sub-latencies, check results and, for
traced ops, the spans. Everything statistical happens here, so it can be
tested without Spark.
"""

import statistics

# Pipeline spans of etl_txn and store calls of store_ingest: the calls an op
# is made of, each reported per call.
CALL_SPANS = [
    "pipeline.customer", "pipeline.account", "pipeline.transaction",
    "ops.incdedup.add", "ops.bm25.add", "ops.bm25.topk",
]
# Layer probes run after a traced op (outside its clock).
PROBE_SPANS = ["quality.checks", "sinks.upsert", "ops.incdedup.compact",
               "ops.bm25.compact", "functions.minhash_sigs", "ops.dedup.lsh_pairs",
               "ops.dedup.clusters"]
# Materialized prefixes of the transaction transform, in chain order.
PREFIXES = ["sources", "clean", "enrich", "metrics", "anomalies"]
PREFIX_METRICS = ["sources.csv_s"] + ["transform.%s_s" % p for p in PREFIXES[1:]]

# The sub-latency that `op_p50_s` reports per workload; None = the op's wall.
PRIMARY_LATENCY = {"etl_txn": None, "store_ingest": "batch"}


def median(xs):
    return statistics.median(xs)


def quantile(xs, q):
    """Linear-interpolated quantile (the 'inclusive' method), q in [0, 1]."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs):
    """The highest whole percentile p in [50, 99] with at least ten samples
    strictly above it, and its value. With fewer than about twenty samples no
    percentile above the median qualifies; the median is reported then, as
    percentile 50."""
    best = (50, quantile(xs, 0.5))
    for p in range(51, 100):
        v = quantile(xs, p / 100.0)
        if sum(1 for x in xs if x > v) >= 10:
            best = (p, v)
    return best


def self_times(spans):
    """Span id -> self wall time: its wall time minus the wall time of its
    direct children."""
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
    return {s["id"]: s["wall_s"] - child.get(s["id"], 0.0) for s in spans}


def prefix_self_times(spans):
    """Stage self times from materialized prefixes: the source alone, then
    source+clean, source+clean+enrich, ...; each stage costs the difference
    between its prefix and the one before."""
    wall = {s["name"]: s["wall_s"] for s in spans if s["name"].startswith("prefix.")}
    out = {}
    prev = 0.0
    for name, metric in zip(PREFIXES, PREFIX_METRICS):
        t = wall.get("prefix." + name)
        if t is None:
            return {}
        out[metric] = t - prev if name != "sources" else t
        prev = t
    return out


def _ok(op, expected_digest):
    return not op["failures"] and (expected_digest is None or op["digest"] == expected_digest)


def summarize(raw, catalogue, trace, expected_digest=None):
    """The result line: {correct, attempted, failed, metrics}. `catalogue`
    is BENCHMARK.json; with trace off the metrics are its end_to_end list,
    with trace on its per_layer list, each with its unit. Ops that failed a
    check count as failed and their times are left out."""
    ops = raw["ops"]
    warm_failed = len(raw["warmup_failures"]) > 0
    execs = [op["sql_execs"] for op in ops]
    same_work = len(set(execs)) == 1
    good = [op for op in ops if _ok(op, expected_digest)]
    failed = len(ops) - len(good) + (1 if warm_failed else 0)
    if not same_work:
        failed = max(failed, 1)
    attempted = len(ops) + (1 if warm_failed else 0)
    wanted = catalogue["per_layer" if trace else "end_to_end"]
    values = {}
    try:
        values = (layer_metrics if trace else end_to_end_metrics)(raw, good)
        values["failed_frac"] = failed / attempted
    except statistics.StatisticsError:
        values = {}  # no good op of a kind the metrics need
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]} for m in wanted}
    return {"correct": failed == 0 and all(v["value"] is not None for v in metrics.values()),
            "attempted": attempted, "failed": failed, "metrics": metrics}


def _primary(raw, ops):
    key = PRIMARY_LATENCY[raw["workload"]]
    if key is None:
        return [op["wall_s"] for op in ops]
    return [x for op in ops for x in op["latencies"][key]]


def end_to_end_metrics(raw, ops):
    untraced = [op for op in ops if not op["traced"]]
    return {
        "setup_s": median(raw["setup_s"]),
        "items_per_s": median([op["items"] / op["wall_s"] for op in untraced]),
        "op_p50_s": median(_primary(raw, untraced)),
    }


def layer_metrics(raw, ops):
    cores = raw["cores"]
    traced = [op for op in ops if op["traced"]]
    untraced = [op for op in ops if not op["traced"]]
    v = {}
    # the op and its calls, per call, with the Spark work inside each
    per_name = {}
    for op in traced:
        selfs = self_times(op["spans"])
        for s in op["spans"]:
            per_name.setdefault(s["name"], []).append((s, selfs[s["id"]]))
    for name in CALL_SPANS + PROBE_SPANS:
        calls = per_name.get(name, [])
        v[name + "_s"] = median([t for _, t in calls]) if calls else 0.0
        if name in CALL_SPANS:
            v[name + ".sql_execs"] = median([s["sql_execs"] for s, _ in calls]) if calls else 0.0
            v[name + ".busy_frac"] = _busy([s for s, _ in calls], cores)
    for m in PREFIX_METRICS:
        xs = [prefix_self_times(op["spans"]).get(m) for op in traced]
        xs = [x for x in xs if x is not None]
        v[m] = median(xs) if xs else 0.0
    op_spans = [s for s, _ in per_name.get("op", [])]
    for key, metric in [("sql_execs", "spark.sql_execs"), ("jobs", "spark.jobs"),
                        ("stages", "spark.stages"), ("tasks", "spark.tasks"),
                        ("plan_s", "spark.plan_s"), ("codegen_s", "spark.codegen_compile_s"),
                        ("shuffle_write_mb", "spark.shuffle_write_mb"),
                        ("spill_mb", "spark.spill_mb"), ("gc_s", "spark.gc_s")]:
        v[metric] = median([s[key] for s in op_spans])
    v["spark.exec_busy_frac"] = _busy(op_spans, cores)
    # workload-level figures
    prim = _primary(raw, ops)
    v["op_tail_pct"], v["op_tail_s"] = tail(prim)
    for key in ("ingest", "query"):
        xs = [x for op in ops for x in op["latencies"].get(key, [])]
        if xs:
            v["store.%s_p50_s" % key] = median(xs)
            v["store.%s_tail_pct" % key], v["store.%s_tail_s" % key] = tail(xs)
        else:
            v["store.%s_p50_s" % key] = v["store.%s_tail_s" % key] = 0.0
            v["store.%s_tail_pct" % key] = 0
    facts = {}
    for op in traced:
        for k, x in op["facts"].items():
            facts.setdefault(k, []).append(x)
    for k in ("sinks.files_written", "ops.store.shard_dirs", "ops.store.bytes",
              "store.bytes_per_input_byte"):
        v[k] = median(facts[k]) if k in facts else 0.0
    sig_s = v["functions.minhash_sigs_s"]
    v["functions.minhash_sigs_docs_per_s"] = (
        median(facts["functions.docs"]) / sig_s if sig_s > 0 and "functions.docs" in facts else 0.0)
    if "ops.dedup.candidates" in facts:
        v["ops.dedup.verified_per_candidate"] = median(
            [p / c for p, c in zip(facts["ops.dedup.pairs"], facts["ops.dedup.candidates"])])
    else:
        v["ops.dedup.verified_per_candidate"] = 0.0
    v["peak_rss_mb"] = raw["peak_rss_mb"]
    v["trace.overhead_frac"] = (median([op["wall_s"] for op in traced])
                                / median([op["wall_s"] for op in untraced]) - 1.0)
    return v


def _busy(spans, cores):
    wall = sum(s["wall_s"] for s in spans)
    return sum(s["exec_run_s"] for s in spans) / (wall * cores) if wall > 0 else 0.0
