"""Metric definitions and their computation from a measured run.

End-to-end metrics are reported by every workload (``--trace 0``);
per-layer metrics come from the traced run (``--trace 1``). A layer the
workload leaves idle reports 0 for its metrics (no call was made).
"""

from __future__ import annotations

import statistics

STORE_DATA_SUFFIX = ".parquet"

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "query_p50_ms": ("ms", "lower"),
    "driver_rss_mb": ("MB", "lower"),
    "store_bytes_per_user_byte": ("ratio", "lower"),
    "ok_ratio": ("ratio", "higher"),
}

# spans whose Spark jobs/stages/tasks are counted (per call, inclusive)
SPARK_SPANS = (
    "server.query",
    "server.add_documents",
    "store.append",
    "serving.fill",
    "engine.ingest",
    "engine.build_index",
    "engine.search_indexed",
)

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "server.query.self_ms": ("ms", "lower"),
    "server.hybrid.self_ms": ("ms", "lower"),
    "server.add_documents.self_ms": ("ms", "lower"),
    "server.transport_ms": ("ms", "lower"),
    "store.state_token_ms": ("ms", "lower"),
    "store.state_token_calls": ("count", "lower"),
    "store.append_ms": ("ms", "lower"),
    "store.data_files": ("count", "lower"),
    "store.bytes": ("B", "lower"),
    "serving.matrix_query_ms": ("ms", "lower"),
    "serving.hybrid_query_ms": ("ms", "lower"),
    "serving.fill_ms": ("ms", "lower"),
    "serving.fills_per_write": ("ratio", "lower"),
    "serving.warm_hit_ratio": ("ratio", "higher"),
    "engine.ingest_s": ("s", "lower"),
    "embeddings.encode_worker_s": ("s", "lower"),
    "ingest.files_listed": ("count", "higher"),
    "ingest.files_processed": ("count", "higher"),
    "ingest.chunks": ("count", "higher"),
    "engine.build_index_s": ("s", "lower"),
    "engine.search_indexed_ms": ("ms", "lower"),
    "engine.search_self_hit_ratio": ("ratio", "higher"),
    "client.query_p90_ms": ("ms", "lower"),
    "client.hybrid_p50_ms": ("ms", "lower"),
    "client.write_p50_ms": ("ms", "lower"),
    "client.fresh_read_p50_ms": ("ms", "lower"),
    "client.chunks_per_s": ("1/s", "higher"),
    "client.index_build_s": ("s", "lower"),
    **{
        f"spark.{kind}.{span}": ("count", "lower")
        for span in SPARK_SPANS
        for kind in ("jobs", "stages", "tasks")
    },
    "spark.failed_tasks": ("count", "lower"),
    "driver_hwm_mb": ("MB", "lower"),
    "jvm_rss_mb": ("MB", "lower"),
    "host.sentinel_before_s": ("s", "lower"),
    "host.sentinel_after_s": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "trace.spans": ("count", "lower"),
}

# the client op each workload reads through, and the op whose traced vs
# untraced latency gives the tracing overhead
READ_OP = {"serve_read": "query", "serve_write": "query", "ingest": "search"}
MAIN_OP = {"serve_read": "query", "serve_write": "cycle", "ingest": "search"}
READ_KINDS = ("query", "hybrid", "fresh_read")


def p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def p90(xs) -> float:
    """The 90th percentile; 0 below 100 samples, too few to trust it."""
    if len(xs) < 100:
        return 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(pair) -> float:
    hits, total = pair
    return hits / total if total else 0.0


def _ops(res: dict) -> list[dict]:
    keys = ("kind", "seconds", "traced", "error", "start")
    return [dict(zip(keys, o)) for o in res["ops"]]


def blocks(workload: str, ops: list[dict]) -> list[list[dict]]:
    """The timed phase cut into repeated units of work: a write cycle on
    serve_write, a tenth of the requests on serve_read, the whole phase
    on ingest (one crawl-build-search unit)."""
    if workload == "serve_write":
        out: list = []
        for o in ops:
            if o["kind"] == "write" or not out:
                out.append([])
            out[-1].append(o)
        return out
    if workload == "serve_read":
        cuts = [len(ops) * i // 10 for i in range(11)]
        return [ops[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]
    return [ops]


def ops_per_s(workload: str, res: dict) -> float:
    """Median over the phase's blocks of ops ÷ block wall, where a block
    runs from its first op's start to the next block's first start."""
    ops = _ops(res)
    bl = blocks(workload, ops)
    ends = [b[0]["start"] for b in bl[1:]] + [res["wall_s"]]
    return p50([len(b) / (end - b[0]["start"]) for b, end in zip(bl, ends)])


def outcome(res: dict) -> tuple[int, int]:
    """(attempted, failed) over the set-up and timed ops."""
    ops = _ops(res)
    attempted = len(ops) + len(res["setup_ops"])
    failed = sum(1 for o in ops if o["error"]) + res["setup_failed"]
    return attempted, failed


def end_to_end(workload: str, res: dict) -> dict:
    ops = [o for o in _ops(res) if not o["traced"]]
    attempted, failed = outcome(res)
    read = [o["seconds"] for o in ops if o["kind"] == READ_OP[workload]]
    return {
        "setup_s": res["setup_s"],
        "ops_per_s": ops_per_s(workload, res),
        "query_p50_ms": 1e3 * p50(read),
        "driver_rss_mb": res["driver_rss_mb"],
        "store_bytes_per_user_byte": res["extra"]["store_bytes"] / res["user_bytes"],
        "ok_ratio": (attempted - failed) / attempted,
    }


def per_layer(workload: str, res: dict) -> dict:
    ops = _ops(res)
    spans = [s for s in res.get("spans", []) if s["phase"] == "timed"]
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur_ms(name, key=None):
        return [1e3 * (s[key] if key else s["end"] - s["start"]) for s in by_name.get(name, [])]

    def client(kind):
        """Latencies of the untraced ops of a kind (all of them when
        every op of the kind ran traced)."""
        of_kind = [o for o in ops if o["kind"] == kind]
        return [o["seconds"] for o in ([o for o in of_kind if not o["traced"]] or of_kind)]

    traced_ops = [o for o in ops if o["traced"]]
    handlers = {
        s["parent"]: s for s in spans if s["name"].startswith("server.")
    }
    transport = [
        1e3 * ((c["end"] - c["start"]) - (h["end"] - h["start"]))
        for c in spans
        if c["name"].startswith("client.") and (h := handlers.get(c["id"]))
    ]
    fills = len(by_name.get("serving.fill", []))
    writes = sum(1 for o in traced_ops if o["kind"] == "write")
    reads = sum(1 for o in traced_ops if o["kind"] in READ_KINDS)
    crawls = res["extra"].get("ingest_metrics", [])
    out = {
        "session.start_s": res["session_s"],
        "server.query.self_ms": p50(dur_ms("server.query", "self")),
        "server.hybrid.self_ms": p50(dur_ms("server.hybrid", "self")),
        "server.add_documents.self_ms": p50(dur_ms("server.add_documents", "self")),
        "server.transport_ms": p50(transport),
        "store.state_token_ms": p50(dur_ms("store.state_token")),
        "store.state_token_calls": len(by_name.get("store.state_token", [])) / max(len(traced_ops), 1),
        "store.append_ms": p50(dur_ms("store.append")),
        "store.data_files": res["extra"]["store_files"],
        "store.bytes": res["extra"]["store_bytes"],
        "serving.matrix_query_ms": p50(dur_ms("serving.matrix_query")),
        "serving.hybrid_query_ms": p50(dur_ms("serving.hybrid_query")),
        "serving.fill_ms": p50(dur_ms("serving.fill")),
        "serving.fills_per_write": fills / writes if writes else 0.0,
        "serving.warm_hit_ratio": (reads - fills) / reads if reads else 0.0,
        "engine.ingest_s": p50(dur_ms("engine.ingest")) / 1e3,
        "embeddings.encode_worker_s": mean([m["embedding_time"] for m in crawls]),
        "ingest.files_listed": mean([m["files_listed"] for m in crawls]),
        "ingest.files_processed": mean([m["files_processed"] for m in crawls]),
        "ingest.chunks": mean([m["chunks_created"] for m in crawls]),
        "engine.build_index_s": p50(dur_ms("engine.build_index")) / 1e3,
        "engine.search_indexed_ms": p50(dur_ms("client.search")),
        "engine.search_self_hit_ratio": _ratio(res["extra"].get("search_self_hits", [0, 0])),
        "client.query_p90_ms": 1e3 * p90(client(READ_OP[workload])),
        "client.hybrid_p50_ms": 1e3 * p50(client("hybrid")),
        "client.write_p50_ms": 1e3 * p50(client("write")),
        "client.fresh_read_p50_ms": 1e3 * p50(client("fresh_read")),
        "client.chunks_per_s": (
            sum(m["chunks_created"] for m in crawls) / sum(o["seconds"] for o in ops if o["kind"] == "crawl")
            if crawls else 0.0
        ),
        "client.index_build_s": p50(client("build")),
        "spark.failed_tasks": sum(s["failed_tasks"] for s in spans),
        "driver_hwm_mb": res["driver_hwm_mb"],
        "jvm_rss_mb": res["jvm_rss_mb"],
        "host.sentinel_before_s": res["sentinel_s"]["before"],
        "host.sentinel_after_s": res["sentinel_s"]["after"],
        "trace.overhead_pct": overhead_pct(workload, ops),
        "trace.spans": len(res.get("spans", [])),
    }
    for name in SPARK_SPANS:
        # search_indexed returns a lazy DataFrame: count its collect() too
        calls = by_name.get("client.search" if name == "engine.search_indexed" else name, [])
        for kind in ("jobs", "stages", "tasks"):
            out[f"spark.{kind}.{name}"] = mean([s[kind + "_incl"] for s in calls])
    return out


def overhead_pct(workload: str, ops: list[dict]) -> float:
    """Mean latency of traced over untraced ops of the workload's main
    kind, as a percentage above 1 (0 when either side has no op)."""
    kind = MAIN_OP[workload]
    if kind == "cycle":
        pairs = [(sum(o["seconds"] for o in b), b[0]["traced"]) for b in blocks(workload, ops)]
    else:
        pairs = [(o["seconds"], o["traced"]) for o in ops if o["kind"] == kind]
    on = [s for s, t in pairs if t]
    off = [s for s, t in pairs if not t]
    if not on or not off:
        return 0.0
    return 100.0 * (mean(on) / mean(off) - 1.0)
