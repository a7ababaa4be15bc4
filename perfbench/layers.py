"""Per-layer metrics of a traced run, named after the engine's modules.

A layer's numbers sum its spans: wall seconds of the calls, and the
Spark counters the listener charged to each call and to the calls
nested in it. Every workload reports every metric; a layer the
workload does not call reads 0.
"""
import statistics

QUERY_MODULES = ["Relational", "GraphQueries", "PipelineQueries", "PipelineDedupQueries",
                 "PipelineSimilarityQueries", "IoQueries"]
# the index-lifecycle queries, which write index files beside the reads
INDEX_LIFECYCLE = ("q207_index_maint", "q212_index_delete", "q213_filtered_ann",
                   "q214_doc_takedown", "q215_snapshot_index", "q217_delta_manifest")
# layout iterations per call on graphem_distributed (GraphemDistributed.Iters)
DIST_LAYOUT_ITERS = 1

UNITS = {"s": "s", "s_per_iter": "s", "task_cpu_s": "s", "jobs": "count",
         "stages": "count", "tasks": "count", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes", "input_bytes": "bytes", "failed": "count",
         "failed_tasks": "count", "idle_frac": "frac", "cached_rdds": "count",
         "cached_mb": "MB", "gc_s": "s", "jit_s": "s", "peak_heap_mb": "MB",
         "run_s": "s", "failed_frac": "frac"}
DIST = ["s", "task_cpu_s", "jobs", "stages", "tasks", "shuffle_bytes"]
QUERY = ["s", "task_cpu_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes",
         "input_bytes", "failed"]


def names():
    """(metric, unit), in the order BENCHMARK.json lists them."""
    out = []
    for layer in ("layout.exact", "layout.grid_ann"):
        out += [f"{layer}.{f}" for f in ["s", "s_per_iter"] + DIST[1:]]
    for layer in ("metrics.Centralities", "influence.cascade"):
        out += [f"{layer}.{f}" for f in DIST]
    out += [f"{layer}.s" for layer in ("layout.driver", "linalg.EigenInit", "metrics.Correlation",
                                       "influence.selectSeeds", "api.GraphEm", "gen")]
    for m in QUERY_MODULES:
        out += [f"queries.{m}.{f}" for f in QUERY]
    out += ["queries.write_path.s", "queries.write_path.jobs"]
    out += [f"spark.{f}" for f in ("jobs", "stages", "tasks", "failed_tasks", "idle_frac")]
    out += ["Tables.cached_rdds", "Tables.cached_mb", "jvm.gc_s", "jvm.jit_s",
            "jvm.peak_heap_mb", "trace.run_s", "ops.failed_frac"]
    return [(n, UNITS[n.rsplit(".", 1)[1]]) for n in out]


def _sum(spans, by_parent, field):
    """Sum of a counter over spans and everything nested in them."""
    total, stack = 0.0, list(spans)
    while stack:
        s = stack.pop()
        total += (s["counters"] or {}).get(field, 0.0)
        stack += by_parent.get(s["id"], [])
    return total


def per_layer(r, ops, gen_s):
    """gen_s: the input-generation times measured outside the driver, if any."""
    spans = r["spans"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def layer(name, field, group=None):
        group = named.get(name, []) if group is None else group
        if field == "s":
            return float(sum(s["s"] for s in group))
        if field == "s_per_iter":
            return layer(name, "s") / DIST_LAYOUT_ITERS
        if field == "failed":
            return float(sum(not s["ok"] for s in group))
        return _sum(group, by_parent, field)

    v = {}
    for n, _ in names():
        prefix, field = n.rsplit(".", 1)
        if prefix == "gen":
            gens = gen_s or [s["s"] for s in named.get("gen", [])]
            v[n] = statistics.median(gens) if gens else 0.0
        elif prefix == "queries.write_path":
            v[n] = layer(None, field, [s for s in ops if s["label"] in INDEX_LIFECYCLE])
        elif prefix == "spark":
            run_s_cores = r["run_s"] * r["cores"]
            if field == "idle_frac":
                v[n] = 1.0 - _sum(ops, by_parent, "task_run_s") / run_s_cores
            else:
                v[n] = _sum(ops, by_parent, field)
        elif prefix == "Tables":
            v[n] = float(r["tables"][field])
        elif prefix == "jvm":
            v[n] = float(r["jvm"][field])
        elif n == "trace.run_s":
            v[n] = r["run_s"]
        elif n == "ops.failed_frac":
            v[n] = sum(not s["ok"] for s in ops) / max(1, len(ops))
        else:
            v[n] = layer(prefix, field)
    return {n: (v[n], u) for n, u in names()}
