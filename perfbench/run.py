"""Benchmark entry point: generate one workload's inputs from a seed,
run it in a fresh measured process, check its outputs, print the result.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``). The
full record (host, seed, op counts, sentinel readings, every metric and,
when traced, the span file and per-layer table) goes under
``perfbench-work/results/``. ``--smoke`` runs a handful of ops instead
of the full fixed work; ``--wrong-answer`` corrupts one expected answer
so the run must fail its correctness check. The exit code is non-zero
when a check fails.
"""

from __future__ import annotations

import argparse
import importlib.metadata
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

PACKAGE = "converttovectordb_spark"
WORK = "perfbench-work"
CHILD_TIMEOUT_S = 165

# Fixed work per run, sized from --seconds so the timed phase takes
# about that long on a 4-core host; the same arguments always give the
# same work. Smoke sizes keep a run to a few ops.
FULL = {"docs": 13_515, "query_per_s": 400, "cycle_s": 1.0, "files": 150,
        "crawl_s": 6.0, "searches": 3}
SMOKE = {"docs": 600, "query_per_s": 2, "cycle_s": 5.0, "files": 24,
         "crawl_s": 10.0, "searches": 1}


def generate(workload: str, out: str, seed: int, seconds: int, size: dict) -> dict:
    if workload == "serve_read":
        n_ops = max(4, round(size["query_per_s"] * seconds))
        info = gen.gen_serve_read(out, seed, size["docs"], n_ops)
    elif workload == "serve_write":
        cycles = max(2, round(seconds / size["cycle_s"]))
        info = gen.gen_serve_write(out, seed, size["docs"], cycles)
    else:
        crawls = max(1, round(seconds / size["crawl_s"]))
        info = gen.gen_ingest(out, seed, crawls, size["files"], size["searches"])
    return {**info, "dim": gen.DIM}


def corrupt_one_answer(workload: str, out: str, inputs: dict) -> None:
    """Make one expected answer wrong, for the check-of-the-check."""
    if workload == "serve_read":
        path = os.path.join(out, "expect.jsonl")
        with open(path) as fh:
            rows = [json.loads(x) for x in fh]
        kind, expect = next(r for r in rows if r[0] == "query")
        expect[0][2] += 1e-3
        gen._write_jsonl(path, rows)
    elif workload == "serve_write":
        path = os.path.join(out, "cycles.jsonl")
        with open(path) as fh:
            cycles = [json.loads(x) for x in fh]
        cycles[-1]["reads"][-1]["expect"][0][0] = "no/such/doc.py"
        gen._write_jsonl(path, cycles)
    else:
        inputs["crawls"][-1]["eligible"] += 1


def host_record(seed: int, inputs: dict, env: dict) -> dict:
    def version(pkg):
        try:
            return importlib.metadata.version(pkg)
        except importlib.metadata.PackageNotFoundError:
            return None

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    counts = {k: v for k, v in inputs.items() if isinstance(v, int) and k != "dim"}
    if "crawls" in inputs:
        counts.update(crawls=len(inputs["crawls"]) - 1, searches=len(inputs["searches"]) - 1)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "pyspark": version("pyspark"),
        "numpy": version("numpy"),
        "pyarrow": version("pyarrow"),
        "java": (java.stderr.splitlines() or ["?"])[0],
        "python": sys.version.split()[0],
        "seed": seed,
        "op_counts": counts,
    }


def child_env(root: str, work: str) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # pandas-UDF workers import the package; every temporary write stays
    # under the run's work dir
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, env.get("PYTHONPATH")) if p
    )
    env.update(
        TMPDIR=tmp,
        HOME=tmp,
        SPARK_LOCAL_DIRS=tmp,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')} "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    return env


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


def run_child(cmd: list[str], env: dict, cwd: str) -> int:
    """Run the measured process in its own process group and wait for
    it. On timeout, or when this process is terminated, kill the whole
    group (the JVM and Python workers with it) and wait for it."""
    signal.signal(signal.SIGTERM, _terminated)
    proc = subprocess.Popen(cmd, env=env, cwd=cwd, start_new_session=True)
    try:
        return proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        _kill_group(proc)


def _kill_group(proc: subprocess.Popen, wait_s: float = 10.0) -> None:
    """SIGKILL every process left in the child's group (strays a crashed
    JVM left behind), reap the child, and wait until the group is empty."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + wait_s
    try:
        while time.monotonic() < deadline:
            os.killpg(proc.pid, 0)
            time.sleep(0.05)
    except ProcessLookupError:
        pass


def _op_summary(ops: list) -> dict:
    """Per op kind: count and the latencies (all of them when few)."""
    by_kind: dict = {}
    for kind, seconds, *_ in ops:
        by_kind.setdefault(kind, []).append(seconds)
    return {
        k: {"n": len(v), "p50": metrics.p50(v), **({"all": v} if len(v) <= 20 else {})}
        for k, v in by_kind.items()
    }


def layer_table(values: dict) -> str:
    lines = ["| metric | value | unit |", "|---|---|---|"]
    for name, (unit, _) in metrics.PER_LAYER.items():
        lines.append(f"| {name} | {values[name]:.6g} | {unit} |")
    return "\n".join(lines) + "\n"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(metrics.READ_OP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="a handful of ops per workload")
    ap.add_argument("--wrong-answer", action="store_true",
                    help="corrupt one expected answer; the run must fail")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"run.py: no {PACKAGE}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)  # the generator embeds hybrid spans with the program's embedder
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    work = os.path.join(root, WORK, f"{tag}-{os.getpid()}")
    results = os.path.join(root, WORK, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        size = SMOKE if args.smoke else FULL
        t = time.perf_counter()
        inputs = generate(args.workload, work, args.seed, args.seconds, size)
        gen_s = time.perf_counter() - t
        if args.wrong_answer:
            corrupt_one_answer(args.workload, work, inputs)
        with open(os.path.join(work, "inputs.json"), "w") as fh:
            json.dump(inputs, fh)
        env = child_env(root, work)
        out = os.path.join(work, "result.json")
        cmd = [sys.executable, os.path.join(HERE, "measure.py"), "--workload", args.workload,
               "--inputs", work, "--out", out] + (["--trace"] if args.trace else [])
        code = run_child(cmd, env, root)
        if code != 0 or not os.path.exists(out):
            print(f"run.py: measured process failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as fh:
            res = json.load(fh)
        record = {"workload": args.workload, "trace": args.trace, "generate_s": gen_s,
                  **host_record(args.seed, inputs, env),
                  "sentinel_s": res["sentinel_s"], "session_s": res["session_s"],
                  "setup_ops_s": res["setup_ops"], "timed_wall_s": res["wall_s"],
                  "timed_ops_s": _op_summary(res["ops"])}
        attempted, failed = metrics.outcome(res)
        e2e = metrics.end_to_end(args.workload, res)
        layers = metrics.per_layer(args.workload, res) if args.trace else {}
        correct = failed == 0 and not res["checks"]
        for msg in res["errors"] + res["checks"]:
            print(f"run.py: check failed: {msg}", file=sys.stderr)
        print(f"run.py: host {json.dumps(record)}", file=sys.stderr)
        if args.trace:
            shutil.copy(res["spans_file"], os.path.join(results, f"{tag}.spans.jsonl"))
            with open(os.path.join(results, f"{tag}.layers.md"), "w") as fh:
                fh.write(layer_table(layers))
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump({**record, "correct": correct, "attempted": attempted, "failed": failed,
                       "errors": res["errors"], "checks": res["checks"],
                       "end_to_end": e2e, "per_layer": layers}, fh, indent=1)
        table, values = (metrics.PER_LAYER, layers) if args.trace else (metrics.END_TO_END, e2e)
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, (u, _) in table.items()},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
