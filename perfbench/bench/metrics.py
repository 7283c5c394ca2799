"""End-to-end and per-layer metrics computed from one harness result."""
import json

from . import stats, workloads
from .checks import parse_items

ARMS = ("product", "customer", "rrf", "item")
TABLES = ("lineitem", "orders", "part", "events")
# The registries and set-up parts some workload runs.  No workload runs a
# row of the recs, similarity, streaming or curation registries, so their
# modules and prewarm families are not measured (see perfbench/README.md).
REGISTRIES = ("relational", "graph", "text", "dedup", "multimodal", "sources")
SETUP_PARTS = ("session", "graph", "etl", "warmup")
SPARK_KEYS = ("jobs", "stages", "tasks", "job_wall_ms", "executor_run_ms",
              "executor_cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes")
# The harness's file-system counter behind each fs.* metric.
FS_KEYS = {"files_listed": "filesDiscovered",
           "listing_cache_hits": "fileCacheHits", "read_bytes": "bytesRead"}

# The primary reason of each arm; any other reason is a fallback.
PRIMARY = {"default": "co-occurrence", "rrf": "rrf_fusion", "item": "item-item"}


def op_ms(result):
    """Per-operation latency of the measured phase: client-side request time
    on recs_serve, row wall time on the batch workloads."""
    return [op["ms"] for op in result["ops"]]


def end_to_end(result):
    lat = op_ms(result)
    return {
        "setup_s": (result["setup_s"], "s"),
        "latency_geomean_ms": (stats.geomean(lat), "ms"),
        "throughput_ops_s": (len(lat) / result["measure_s"], "1/s"),
        "retained_heap_mb": (result["retained_heap_mb"], "MiB"),
    }


def took_ms(op):
    try:
        return float(json.loads(op["body"])["took_ms"])
    except (ValueError, KeyError, TypeError):
        return None


def fallback(op):
    """True when an answered request came from a fallback arm or is empty."""
    try:
        items = parse_items(op["body"])
    except (ValueError, KeyError, TypeError):
        return True
    if not items:
        return True
    return items[0][2] != PRIMARY[op["arm"]]


def per_layer(result, workload, cores):
    """Every per-layer metric; a layer the workload does not run reads 0."""
    m = {}
    ops = result["ops"]
    spans = result.get("spans", [])
    batch = workload != "recs_serve"

    # Serve: the server-side time and the rest of the client's wait.
    http = [op for op in ops if "arm" in op] if not batch else []
    took = [(op, took_ms(op)) for op in http]
    took = [(op, t) for op, t in took if t is not None]
    m["serve.took_ms_p50"] = (stats.median([t for _, t in took]), "ms")
    m["serve.wait_ms_p50"] = (stats.median([op["ms"] - t for op, t in took]), "ms")

    # Recs arms, from the in-process replay's spans.
    for arm in ARMS:
        for phase in ("build", "render"):
            d = [s["end_ms"] - s["start_ms"] for s in spans
                 if s["name"] == f"{phase}.{arm}"]
            m[f"recs.{arm}.{phase}_ms"] = (stats.median(d), "ms")
    m["recs.fallback_frac"] = (
        sum(map(fallback, http)) / len(http) if http else 0.0, "frac")
    m["recs.repeat_frac"] = (workloads.repeat_frac(http), "frac")

    # Operations the counters and spans are attributed to.
    traced_ops = result.get("replay", ops)
    n_traced = max(1, len(traced_ops))
    traced_s = result.get("replay_s", result["measure_s"])

    # Tables and the file system.
    for t in TABLES:
        m[f"tables.load_ms.{t}"] = (result.get("tables_load_ms", {}).get(t, 0.0), "ms")
    n_all = max(1, len(ops) + len(result.get("replay", [])))
    for name, key in FS_KEYS.items():
        unit = "bytes" if name.endswith("bytes") else "count"
        m[f"fs.{name}"] = (result["fs"].get(key, 0) / n_all, unit)

    # Catalyst, per operation of the traced phase.
    sql = result.get("sql", {})
    m["sql.actions"] = (sql.get("actions", 0) / n_traced, "count")
    for p in ("analysis", "optimization", "planning"):
        m[f"sql.{p}_ms"] = (sql.get(f"{p}_ms", 0) / n_traced, "ms")

    # Scheduler and executors, per traced operation.
    by_op = result.get("spark_by_op", {})
    totals = {k: sum(v.get(k, 0) for v in by_op.values()) for k in SPARK_KEYS}
    for k in SPARK_KEYS:
        unit = "bytes" if k.endswith("bytes") else "ms" if k.endswith("ms") else "count"
        m[f"spark.{k}"] = (totals[k] / n_traced, unit)
    m["spark.core_busy_frac"] = (
        totals["executor_run_ms"] / (traced_s * 1000.0 * cores), "frac")

    # Propagation-loop rows.
    walls = {op["name"]: op for op in ops} if batch else {}
    for row in workloads.LOOP_ROWS:
        op = walls.get(row)
        counts = by_op.get(row, {}) if op else {}
        m[f"row.{row}.wall_s"] = (op["ms"] / 1000.0 if op else 0.0, "s")
        m[f"row.{row}.jobs"] = (counts.get("jobs", 0), "count")
        m[f"row.{row}.shuffle_bytes"] = (counts.get("shuffle_write_bytes", 0), "bytes")

    # Registry modules.
    reg = result.get("row_registry", {})
    for r in REGISTRIES:
        m[f"module.{r}.wall_s"] = (sum(op["ms"] for op in ops if batch
                                       and reg.get(op["name"]) == r) / 1000.0, "s")
    m["rows.build_s"] = (sum(op.get("build_ms", 0) for op in ops) / 1000.0 if batch else 0.0, "s")
    m["rows.action_s"] = (sum(op.get("action_ms", 0) for op in ops) / 1000.0 if batch else 0.0, "s")

    # Set-up by part.
    for p in SETUP_PARTS:
        m[f"setup.{p}_s"] = (result["setup_parts"].get(p, 0.0), "s")

    # Memo-held state and the JVM.
    cache = result["cache_end"]
    m["cache.rdds"] = (cache["rdds"], "count")
    m["cache.mem_mb"] = (cache["mem_mb"], "MiB")
    m["cache.disk_mb"] = (cache["disk_mb"], "MiB")
    m["jvm.gc_ms"] = (result["gc_ms"], "ms")
    m["jvm.gc_count"] = (result["gc_count"], "count")

    # The tracing itself: the per-operation latency under tracing (set it
    # against latency_geomean_ms of the untraced runs), and the listeners'
    # own CPU time as a share of the cores' time in the traced phase.
    m["trace.latency_geomean_ms"] = (
        stats.geomean([op["ms"] for op in traced_ops]), "ms")
    m["trace.overhead_pct"] = (
        100.0 * result.get("listener_ms", 0.0) / (traced_s * 1000.0 * cores), "%")
    # Time an operation spends outside its build and action/render spans.
    own = stats.self_times(spans)
    m["trace.op_self_ms"] = (stats.median(
        [own[s["id"]] for s in spans if s["name"] in ("row", "request")]), "ms")
    return m


def span_summary(spans):
    """Count, total and self milliseconds of the traced spans, by name."""
    own = stats.self_times(spans)
    out = {}
    for s in spans:
        e = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += s["end_ms"] - s["start_ms"]
        e["self_ms"] += own[s["id"]]
    return out
