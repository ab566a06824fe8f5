"""Metric definitions of the benchmark: the end-to-end figures of an
untraced run and the per-layer figures of a traced one."""

import statistics

# name, unit, better. Every one is gated by a bound relative to the
# parent's median, so none may be 0; the result's `failed`/`attempted`
# carries the operation failure ratio, which is 0 when all is well.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("cpu_s", "s", "lower"),
    ("storage_mb", "MB", "lower"),
    ("bytes_out_per_in", "ratio", "lower"),
]

COMMON = [("wall_s", "s", "lower"), ("self_s", "s", "lower"),
          ("cpu_s", "s", "lower"), ("core_util", "ratio", "higher"),
          ("jobs", "count", "lower"), ("shuffle_mb", "MB", "lower"),
          ("spill_mb", "MB", "lower")]

# layer -> extra counts (name, unit, better); every layer but `setup`
# also reports COMMON
LAYERS = {
    "setup": [("session_s", "s", "lower"), ("warmup_s", "s", "lower")],
    "tables.scan": [("input_mb", "MB", "higher")],
    "ingest.loomcsv": [("files", "count", "higher"), ("fallback_files", "count", "higher"),
                       ("rows_out", "count", "higher")],
    "ops.merge": [("rows_in", "count", "higher"), ("rows_out", "count", "higher")],
    "pipeline.jdbc": [("rows", "count", "higher"), ("batches", "count", "lower")],
    "pipeline.export": [("mb", "MB", "lower")],
    "ops.gate": [("rows_in", "count", "higher"), ("rows_kept", "count", "higher"),
                 ("rows_gated", "count", "higher")],
    "ops.pairs": [("pairs", "count", "higher")],
    "ops.cluster": [("clusters", "count", "higher")],
    "ops.keep": [("rows_final", "count", "higher")],
    "pipeline.corpus_sink": [("mb", "MB", "lower")],
    "streaming.intake": [("rows_in", "count", "higher"), ("rows_novel", "count", "higher"),
                         ("state_rows", "count", "lower"), ("state_mb", "MB", "lower"),
                         ("plan_s", "s", "lower"), ("commit_s", "s", "lower")],
    "queries.build": [],
    "queries.plan": [],
    "queries.exec": [("rows", "count", "higher")],
}

TRACE_OVERHEAD = ("trace.overhead_s", "s", "lower")

# the workloads BENCHMARK.json lists, and the layers each workload reaches
LISTED_WORKLOADS = ["loom_etl", "corpus_build"]
WORKLOAD_LAYERS = {
    "loom_etl": ["ingest.loomcsv", "ops.merge", "pipeline.jdbc", "pipeline.export"],
    "corpus_build": ["tables.scan", "ops.gate", "ops.pairs", "ops.cluster", "ops.keep",
                     "pipeline.corpus_sink", "queries.build", "queries.plan",
                     "queries.exec", "streaming.intake"],
    "query_mix": ["tables.scan", "queries.build", "queries.plan", "queries.exec"],
    "stream_intake": ["streaming.intake"],
}


def layer_metrics(layer):
    extra = LAYERS[layer]
    return [(f"{layer}.{n}", u, b) for n, u, b in (extra if layer == "setup" else COMMON + extra)]


def per_layer_names():
    """The per-layer metrics every traced run prints: those of every
    layer. They have no bound, so a layer the workload does not reach
    (or a layer that spills nothing) reads 0."""
    return [m for l in LAYERS for m in layer_metrics(l)] + [TRACE_OVERHEAD]


def end_to_end(workload, rec, truth):
    its = rec["iterations"]
    wall = statistics.median(it["wall_s"] for it in its)
    if workload == "query_mix":
        rows = statistics.median(it["records_read"] / it["wall_s"] for it in its)
        out_per_in = rec["finish"]["result_bytes"] / its[0]["bytes_in"]
    else:
        rows = truth["input_rows"] / wall
        out_per_in = statistics.median(it["bytes_out"] / it["bytes_in"] for it in its)
    vals = {
        "setup_s": statistics.median(s["setup_s"] for s in rec["setups"]),
        "wall_s": wall,
        "rows_per_s": rows,
        "cpu_s": statistics.median(it["cpu_s"] for it in its),
        "storage_mb": statistics.median(it["storage_mb"] for it in its),
        "bytes_out_per_in": out_per_in,
    }
    return {n: {"value": vals[n], "unit": u} for n, u, _ in END_TO_END}


def per_layer(rec, e2e):
    tr = rec["traced"]
    n = len(tr["iterations"])
    layers = tr["layers"]
    vals = {}
    for layer, extra in LAYERS.items():
        if layer == "setup":
            for k, _, _ in extra:
                vals[f"setup.{k}"] = statistics.median(s[k] for s in rec["setups"])
            continue
        got = layers.get(layer, {})
        for k, _, _ in COMMON + extra:
            v = got.get(k, 0.0)
            # a ratio stays as measured; totals become per-iteration means
            vals[f"{layer}.{k}"] = v if k == "core_util" else v / n
    traced_wall = statistics.median(it["wall_s"] for it in tr["iterations"])
    vals[TRACE_OVERHEAD[0]] = traced_wall - e2e["wall_s"]["value"]
    return {name: {"value": vals[name], "unit": unit}
            for name, unit, _ in per_layer_names()}
