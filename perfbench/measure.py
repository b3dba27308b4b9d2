"""The measured process: runs one workload against the program through
its public entry points and writes a result JSON.

    python3 perfbench/measure.py --workload serve_read --inputs DIR --out FILE [--trace]

It receives only files made beforehand by ``gen.py`` (listed in
``DIR/inputs.json``). ``setup_s`` runs from the first call into the
program (``session.get_spark``) until one op of every timed kind has
completed once, so lazy one-time costs land in set-up and the timed
phase is steady state. With ``--trace`` every other client op of each
kind runs traced (spans from ``spans.py``); the untraced ones give the
client-side numbers and the traced/untraced difference gives the
tracing overhead.
"""

from __future__ import annotations

import argparse
import gc
import http.client
import itertools
import json
import os
import shutil
import statistics
import sys
import time

import numpy as np

from checks import check_topk, ivf_search_answer
from metrics import STORE_DATA_SUFFIX

SENTINEL_ROWS = 400_000_000  # bench.py's fixed-work noise sentinel


def vm_kb(pid: str, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def jvm_pid() -> str | None:
    """The JVM the session launched: a ``java`` child of this process."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            return pid
    return None


def store_footprint(path: str) -> tuple[int, int]:
    """(data files, their bytes) under a store directory."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(STORE_DATA_SUFFIX):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def sentinel(spark) -> float:
    """Fixed in-memory aggregate whose time depends only on the host's
    momentary load (the same work as bench.py's noise sentinel)."""
    t = time.perf_counter()
    spark.range(SENTINEL_ROWS).selectExpr("sum(id * cast(id as double))").collect()
    return time.perf_counter() - t


class Op:
    """One client op: its kind, latency, whether it ran traced, and the
    first correctness failure (None when it passed)."""

    __slots__ = ("kind", "seconds", "traced", "error", "start")

    def __init__(self, kind, seconds, traced, error, start):
        self.kind, self.seconds, self.traced = kind, seconds, traced
        self.error, self.start = error, start


class Workload:
    # whether the client thread itself calls into the program (engine
    # verbs) rather than over HTTP to server threads
    calls_in_client = False

    def __init__(self, args, inputs: dict, tracer):
        self.args = args
        self.inputs = inputs
        self.tracer = tracer
        self.ops: list[Op] = []
        self.checks: list[str] = []  # end-of-run check failures
        self.errors: list[str] = []  # failed ops, first few
        self.setup_ops: list[list] = []  # [kind, seconds] of each set-up op
        self.setup_failed = 0
        self.rss_kb: list[int] = []  # driver VmRSS after each timed op
        self._seq: dict[str, int] = {}
        self._trace_ids = itertools.count(1)

    # -- tracing ---------------------------------------------------------
    def _traced_next(self, kind: str) -> bool:
        """Alternate traced/untraced per op kind (even ordinal traced)."""
        i = self._seq.get(kind, 0)
        self._seq[kind] = i + 1
        return i % 2 == 0

    def timed(self, kind: str, fn, *, check=None, timed_phase=True, traced=None):
        """Run one client op, time it, check its output. Under tracing,
        ``traced`` overrides the per-kind alternation."""
        if not timed_phase or self.tracer is None:
            traced = False
        elif traced is None:
            traced = self._traced_next(kind)
        tid = next(self._trace_ids)
        tr = self.tracer
        if tr is not None:
            tr.active = traced or not timed_phase
        t = time.perf_counter()
        error = None
        try:
            if tr is not None and tr.active:
                with tr.op(tid, f"client.{kind}", spark_group=self.calls_in_client):
                    out = fn()
            else:
                out = fn()
        except Exception as e:  # an op that raises is a failed op
            out, error = None, f"{kind}: {type(e).__name__}: {e}"
        dt = time.perf_counter() - t
        if error is None and check is not None:
            msg = check(out)
            error = f"{kind}: {msg}" if msg else None
        if timed_phase:
            self.ops.append(Op(kind, dt, traced, error, t))
            self.rss_kb.append(vm_kb("self", "VmRSS"))
        else:
            self.setup_ops.append([kind, dt])
            self.setup_failed += error is not None
        if error and len(self.errors) < 20:
            self.errors.append(error)
        return out

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        from converttovectordb_spark import session

        t0 = time.perf_counter()
        if self.tracer is not None:
            with self.tracer.span("session.get_spark"):
                spark = session.get_spark()
            self.tracer.sc = spark.sparkContext
        else:
            spark = session.get_spark()
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.setup()
        # set-up ends with a full collection of the garbage it left (the
        # first /hybrid leaves ~120 MB of cycles): when the interpreter
        # would otherwise collect it depends on allocation counts, which
        # move with the seed's data
        gc.collect()
        setup_s = time.perf_counter() - t0
        self.after_setup()
        sentinel(spark)  # warm its codegen once, untimed (as bench.py does)
        before = sentinel(spark)
        if self.tracer is not None:
            self.tracer.phase = "timed"
        t1 = time.perf_counter()
        self.timed_phase()
        t2 = time.perf_counter()
        if self.tracer is not None:
            self.tracer.active = False
        after = sentinel(spark)
        pid = jvm_pid()
        rss = {
            "driver_rss_mb": statistics.median(self.rss_kb) / 1024.0,
            "driver_hwm_mb": vm_kb("self", "VmHWM") / 1024.0,
            "jvm_rss_mb": vm_kb(pid, "VmRSS") / 1024.0 if pid else 0.0,
        }
        self.end_checks()
        res = {
            "setup_s": setup_s,
            "session_s": session_s,
            "wall_s": t2 - t1,
            "sentinel_s": {"before": before, "after": after},
            **rss,
            # each op: kind, latency, traced, error, start (s into the phase)
            "ops": [[o.kind, o.seconds, o.traced, o.error, o.start - t1] for o in self.ops],
            "setup_ops": self.setup_ops,
            "setup_failed": self.setup_failed,
            "errors": self.errors,
            "checks": self.checks,
            "user_bytes": self.user_bytes(),
            "extra": self.extra(),
        }
        self.teardown()
        return res

    def after_setup(self) -> None:
        """Untimed work between set-up and the timed phase."""

    def teardown(self) -> None:
        pass

    def extra(self) -> dict:
        return {}


class _Serve(Workload):
    """Shared set-up of the serving workloads: a plain store loaded
    from the generated corpus, and ``VectorDBServer`` on an ephemeral
    port with one closed-loop client connection."""

    def open_server(self) -> None:
        from converttovectordb_spark.engine import VectorEngine
        from converttovectordb_spark.server import VectorDBServer

        inp = self.inputs
        self.store_path = os.path.join(self.args.inputs, "store")
        self.engine = VectorEngine(self.spark, self.store_path, dim=inp["dim"])
        corpus = self.spark.read.parquet(os.path.join(self.args.inputs, "corpus.parquet"))
        self.engine.store.append(corpus)
        self.server = VectorDBServer(self.engine, port=0).start()
        self.conn = http.client.HTTPConnection(*self.server.address, timeout=120)

    def post(self, route: str, body: bytes) -> dict:
        self.conn.request("POST", route, body, {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        data = json.loads(resp.read())
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {data.get('error')}")
        return data

    def read(self, kind: str, body: bytes, expect, *, timed_phase=True, fresh=None, traced=None):
        """One ``/query`` or ``/hybrid`` with its correctness check."""
        if kind == "hybrid":

            def check(out):
                ids = [[r["path"], r["chunk_index"]] for r in out["results"]]
                return None if ids[:1] == [expect] else f"source {expect} is not first in {ids}"

        else:

            def check(out):
                res = out["results"]
                if fresh is not None and (not res or [res[0]["path"], res[0]["chunk_index"]] != fresh):
                    return f"fresh doc {fresh} is not top-1"
                return check_topk(res, expect)

        route = "/hybrid" if kind == "hybrid" else "/query"
        return self.timed(kind, lambda: self.post(route, body), check=check,
                          timed_phase=timed_phase, traced=traced)

    def teardown(self) -> None:
        self.conn.close()
        self.server.stop()

    def user_bytes(self) -> int:
        return self.inputs["user_bytes"]

    def extra(self) -> dict:
        files, size = store_footprint(self.store_path)
        return {"store_files": files, "store_bytes": size}


def _lines(path: str) -> list[bytes]:
    with open(path, "rb") as fh:
        return fh.read().splitlines()


class ServeRead(_Serve):
    def setup(self):
        self.open_server()
        for raw in _lines(os.path.join(self.args.inputs, "warmup.jsonl")):
            op = json.loads(raw)
            self.read(op["op"], json.dumps(op["body"]).encode(), op["expect"], timed_phase=False)

    def timed_phase(self):
        d = self.args.inputs
        bodies = _lines(os.path.join(d, "bodies.jsonl"))
        with open(os.path.join(d, "expect.jsonl")) as fh:
            expects = [json.loads(x) for x in fh]
        for body, (kind, expect) in zip(bodies, expects):
            self.read(kind, body, expect)

    def end_checks(self):
        n = self.engine.health().get("documents_count")
        if n != self.inputs["docs"]:
            self.checks.append(f"store holds {n} docs, expected {self.inputs['docs']}")


class ServeWrite(_Serve):
    def setup(self):
        self.open_server()
        with open(os.path.join(self.args.inputs, "cycles.jsonl")) as fh:
            self.cycles = fh.readlines()
        self.written = 0
        self.acked_bytes = 0
        self.cycle(0, timed_phase=False)

    def cycle(self, i: int, *, timed_phase=True):
        """Cycle ``i``; under tracing, every other cycle runs traced."""
        cyc = json.loads(self.cycles[i])
        traced = i % 2 == 1
        docs = cyc["write"]["documents"]
        body = json.dumps(cyc["write"]).encode()
        want = f"Added {len(docs)} documents to the database"

        def check(out):
            return None if out.get("message") == want else f"write reply {out.get('message')!r}"

        out = self.timed("write", lambda: self.post("/add_documents", body), check=check,
                         timed_phase=timed_phase, traced=traced)
        if out is not None:
            self.written += len(docs)
            self.acked_bytes += self.inputs["write_user_bytes"][i]
            self.last_total = out.get("total_documents")
        for j, r in enumerate(cyc["reads"]):
            self.read("fresh_read" if j == 0 else "query", json.dumps(r["body"]).encode(),
                      r["expect"], timed_phase=timed_phase, fresh=r.get("fresh"), traced=traced)

    def timed_phase(self):
        for i in range(1, len(self.cycles)):
            self.cycle(i)

    def user_bytes(self) -> int:
        return self.inputs["user_bytes"] + self.acked_bytes

    def end_checks(self):
        want = self.inputs["docs"] + self.written
        expected_writes = self.inputs["batch"] * len(self.cycles)
        if self.written != expected_writes:
            self.checks.append(f"{self.written} docs acknowledged, expected {expected_writes}")
        if self.last_total != want:
            self.checks.append(f"total_documents {self.last_total}, expected {want}")

    def extra(self) -> dict:
        return {**super().extra(), "written": self.written}


class Ingest(Workload):
    calls_in_client = True

    def setup(self):
        from converttovectordb_spark.engine import VectorEngine

        self.store_path = os.path.join(self.args.inputs, "store")
        self.engine = VectorEngine(self.spark, self.store_path, dim=self.inputs["dim"])
        self.index_dir = self.store_path + "_ivf"
        self.metrics: list[dict] = []
        self.searches: list[tuple] = []  # (probe, rows, timed op or None)
        self.self_hits = 0
        self.stored = 0
        crawls, searches = self.inputs["crawls"], self.inputs["searches"]
        self.crawl(crawls[0], timed_phase=False)
        self.build(timed_phase=False)
        self.search(searches[0], timed_phase=False)

    def crawl(self, cr: dict, *, timed_phase=True):
        eng = self.engine

        def run():
            eng.ingest(cr["root"])
            return dict(eng.last_ingest_metrics)

        def check(m):
            if m["rows_written"] != m["chunks_created"]:
                return f"rows_written {m['rows_written']} != chunks_created {m['chunks_created']}"
            if m["files_processed"] != cr["eligible"]:
                return f"files_processed {m['files_processed']} != eligible {cr['eligible']}"
            return None

        m = self.timed("crawl", run, check=check, timed_phase=timed_phase)
        if m is not None:
            self.stored += m["rows_written"]
            if timed_phase:
                self.metrics.append(m)

    def build(self, *, timed_phase=True):
        self.timed("build", lambda: self.engine.build_index(num_clusters=16),
                   timed_phase=timed_phase)

    def search(self, probe: dict, *, timed_phase=True):
        """``search_indexed(text).collect()``; checked at the end of the
        run against the index it ran on (``end_checks``)."""
        rows = self.timed("search", lambda: self.engine.search_indexed(probe["text"]).collect(),
                          timed_phase=timed_phase)
        got = [r.asDict() for r in rows or []]
        op = self.ops[-1] if timed_phase else None
        self.searches.append((probe, got, op))

    def after_setup(self):
        # the timed build overwrites the index the set-up search ran on
        shutil.copytree(self.index_dir, self.index_dir + "_setup")

    def _check_search(self, probe: dict, got: list[dict], index_dir: str) -> str | None:
        qv = np.asarray(self.engine.embedder([probe["text"]]), dtype=np.float64).reshape(-1)
        msg = check_topk(got, ivf_search_answer(index_dir, qv))
        return f"search {probe['path']}: {msg}" if msg else None

    def timed_phase(self):
        for cr in self.inputs["crawls"][1:]:
            self.crawl(cr)
        self.build()
        for probe in self.inputs["searches"][1:]:
            self.search(probe)

    def end_checks(self):
        n = self.engine.store.load().count()
        if n != self.stored:
            self.checks.append(f"store count {n} != rows written {self.stored}")
        for probe, got, op in self.searches:
            msg = self._check_search(probe, got, self.index_dir if op else self.index_dir + "_setup")
            self.self_hits += bool(got) and [got[0]["path"], got[0]["chunk_index"]] == [probe["path"], 0]
            if msg and op is None:
                self.setup_failed += 1
                self.errors.append(f"set-up {msg}")
            elif msg and op.error is None:
                op.error = msg
                self.errors.append(msg)

    def user_bytes(self) -> int:
        """Accepted bytes of the stored chunks: content + path + 4 bytes
        per embedding component, per row."""
        row = self.engine.store.load().selectExpr(
            "sum(octet_length(content)) + sum(octet_length(path))", "count(*)"
        ).first()
        return int(row[0]) + 4 * self.inputs["dim"] * int(row[1])

    def extra(self) -> dict:
        files, size = store_footprint(self.store_path)
        return {"store_files": files, "store_bytes": size, "ingest_metrics": self.metrics,
                "chunks": self.stored, "search_self_hits": [self.self_hits, len(self.searches)]}


WORKLOADS = {"serve_read": ServeRead, "serve_write": ServeWrite, "ingest": Ingest}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(args.inputs, "inputs.json")) as fh:
        inputs = json.load(fh)
    # import the program before the clock starts, in both modes alike
    import converttovectordb_spark.engine  # noqa: F401
    import converttovectordb_spark.server  # noqa: F401

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
        tracer.install()
    res = WORKLOADS[args.workload](args, inputs, tracer).run()
    if tracer is not None:
        tracer.finish()
        spans = os.path.join(os.path.dirname(args.out), "spans.jsonl")
        tracer.write(spans)
        res["spans_file"] = spans
        res["spans"] = tracer.spans
    with open(args.out, "w") as fh:
        json.dump(res, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
