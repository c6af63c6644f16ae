#!/usr/bin/env python3
"""The repo benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload catalog_build --seed 1 --seconds 20 --trace 0

Workloads: catalog_build, prep_chain, query_mix (see perfbench/README.md).
Set-up starts a ``local[<cores>]`` session through the program's own
``get_spark``, writes the seeded inputs (three times, which also proves
the generator deterministic) and runs one checked warm-up round. Then
rounds run back to back for ``--seconds``. With ``--trace 1`` the first
half runs untraced and the second half traced, and the per-layer
metrics come from the traced rounds.

Human-readable lines go first; the last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. Spans and
the full record are written under ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catalog_build", "prep_chain", "query_mix")
GEN_REPEATS = 3
PROGRAM = ("__spark_entry__.py", "dbt_schema_builder_spark")

CHAIN_OPS = (
    "udf.normalize_text", "text.gopher_quality_rules", "dedup.exact_dedup",
    "dedup.minhash_lsh_candidates", "dedup.keep_canonical",
    "dedup.decontaminate", "text.redact_pii", "text.pack_sequences",
)
MIX_FAMILIES = ("relational", "timeseries", "text", "dedup", "similarity", "views")
POLICY_SPANS = ("policy.safe_projection", "policy.pii_projection", "policy.soft_delete_filter")
PER_LAYER = {
    "session.read_table_ms": "ms",
    "session.read_table_jobs": "count",
    "session.release_caches_s": "s",
    "session.jvm_rss_peak_mb": "MB",
    "session.py_rss_peak_mb": "MB",
    "catalog.introspect_s": "s",
    "catalog.ms_per_relation": "ms",
    "policy.projection_s": "s",
    "policy.calls": "count",
    "policy.schema_doc_s": "s",
    "views.materialize_s": "s",
    "views.ms_per_view": "ms",
    "views.generate_sql_s": "s",
    "views.register_s": "s",
    "views.artifacts_s": "s",
    "views.artifact_files": "count",
    "views.safe_query_s": "s",
    **{f"{op}.construct_s": "s" for op in CHAIN_OPS},
    "dedup.dedup_clusters_s": "s",
    "prep.execute_s": "s",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_pairs_kept": "count",
    "dedup.lsh_precision": "ratio",
    "dedup.closure_edges": "count",
    "prep.docs_in": "count",
    "prep.docs_after_quality": "count",
    "prep.docs_after_exact": "count",
    "prep.docs_after_near": "count",
    "prep.docs_out": "count",
    "mix.construct_s": "s",
    "mix.execute_s": "s",
    "mix.jobs_per_query": "count",
    **{f"mix.{f}_s": "s" for f in MIX_FAMILIES},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.busy_frac": "ratio",
    "trace.span_coverage_frac": "ratio",
    "trace_overhead_frac": "ratio",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(samples):
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); None below eleven samples."""
    n = len(samples)
    if n < 11:
        return None
    return sorted(samples)[n - 11], 100.0 * (n - 10) / n


def files_digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def source_digest() -> str:
    """Hash of the program's sources: the checkout may not be a git repo."""
    paths = [os.path.join(ROOT, PROGRAM[0])]
    for d, _, fs in os.walk(os.path.join(ROOT, PROGRAM[1])):
        paths += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    return files_digest(paths)[:16]


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except OSError:
        return None


def peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def measure(wl, tr, seconds, traced=False):
    rounds = []
    end = time.perf_counter() + seconds
    while True:
        r = wl.round(tr)
        if traced:  # after the round's timer: engine metrics
            tr.collect_engine([r["span"]] + tr.descendants(r["span"]["id"]))
        rounds.append(r)
        if time.perf_counter() >= end:
            return rounds


def instrument(tr) -> None:
    """Spans around program calls made inside the program."""
    from dbt_schema_builder_spark import session
    from dbt_schema_builder_spark.operators import dedup
    from dbt_schema_builder_spark.policy import metadata, redaction
    from dbt_schema_builder_spark.views import artifacts
    from dbt_schema_builder_spark.views.trifecta import TrifectaBuilder

    tr.enable(
        [
            (session, "read_table", "session.read_table"),
            (session, "release_caches", "session.release_caches"),
            *[(redaction, s.split(".")[1], s) for s in POLICY_SPANS],
            (metadata, "assemble_schema_doc", "policy.schema_doc"),
            (artifacts, "write_artifacts", "views.artifacts"),
            (TrifectaBuilder, "materialize", "views.materialize"),
            (TrifectaBuilder, "generate_sql", "views.generate_sql"),
            (dedup, "dedup_clusters", "dedup.dedup_clusters"),
        ]
    )


def layer_metrics(tr, r, cores) -> dict[str, float]:
    """Per-layer values of one traced round."""
    from spans import engine_totals

    spans = tr.descendants(r["span"]["id"])
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by.get(name, ()))

    def per(total, n, scale=1000.0):
        return scale * total / n if n else 0.0

    rt = by.get("session.read_table", [])
    mat = dur("views.materialize")
    m = {
        "session.read_table_ms": 1000 * statistics.median(
            s["end"] - s["start"] for s in rt
        ) if rt else 0.0,
        "session.read_table_jobs": sum(s["engine"]["spark.jobs"] for s in rt),
        "session.release_caches_s": dur("session.release_caches"),
        "catalog.introspect_s": dur("catalog.introspect"),
        "catalog.ms_per_relation": per(
            dur("catalog.introspect"), r["extra"].get("relations", 0)
        ),
        "policy.projection_s": sum(dur(n) for n in POLICY_SPANS),
        "policy.calls": sum(len(by.get(n, ())) for n in POLICY_SPANS),
        "policy.schema_doc_s": dur("policy.schema_doc"),
        "views.materialize_s": mat,
        # generate_sql runs once per registered view
        "views.ms_per_view": per(mat, len(by.get("views.generate_sql", ()))),
        "views.generate_sql_s": dur("views.generate_sql"),
        "views.register_s": sum(tr.self_time(s) for s in by.get("views.materialize", ())),
        "views.artifacts_s": dur("views.artifacts"),
        "views.artifact_files": r["extra"].get("artifact_files", 0),
        "views.safe_query_s": dur("views.safe_query"),
        **{f"{op}.construct_s": dur(f"{op}.construct") for op in CHAIN_OPS},
        "dedup.dedup_clusters_s": dur("dedup.dedup_clusters"),
        "prep.execute_s": dur("prep.execute"),
        "mix.construct_s": r["extra"].get("mix.construct_s", 0.0),
        "mix.execute_s": r["extra"].get("mix.execute_s", 0.0),
        **{f"mix.{f}_s": r["extra"].get(f"mix.{f}_s", 0.0) for f in MIX_FAMILIES},
    }
    eng = engine_totals(spans + [r["span"]])
    m.update({k: eng.get(k, 0.0) for k in PER_LAYER if k.startswith("spark.")})
    m["spark.busy_frac"] = eng["spark.executor_run_s"] / (r["wall"] * cores)
    if "mix.construct_s" in r["extra"]:
        m["mix.jobs_per_query"] = eng["spark.jobs"] / len(r["steps"])
    span = r["span"]
    m["trace.span_coverage_frac"] = 1 - tr.self_time(span) / (span["end"] - span["start"])
    return m


def run(spark, args, work, cores, session_s) -> dict:
    from spans import Tracer

    mod = importlib.import_module(args.workload)
    wl = mod.Workload(spark, os.path.join(work, "inputs"), args.seed)
    gen_s, digests = [], set()
    for _ in range(GEN_REPEATS):
        t = time.perf_counter()
        info = wl.generate()
        gen_s.append(time.perf_counter() - t)
        digests.add(files_digest(info.pop("files")))
    if len(digests) != 1:
        raise SystemExit(f"{args.workload}: the same seed gave different inputs")
    tr = Tracer(spark.sparkContext)
    t = time.perf_counter()
    attempted, failed, errors = wl.warm_up(tr)
    warm_s = time.perf_counter() - t
    setup = {
        "session_s": session_s,
        "inputs_s": statistics.median(gen_s),
        "warm_up_s": warm_s,
    }
    one = getattr(mod, "ONE_ROUND", False)
    if one:
        rounds = [wl.round(tr)]
    else:
        rounds = measure(wl, tr, args.seconds / (2 if args.trace else 1))
    traced, warm, baseline = [], [], rounds
    if args.trace:
        if one:  # trace a warm round, against a warm untraced one
            warm = baseline = [wl.round(tr)]
        instrument(tr)
        traced = measure(wl, tr, 0 if one else args.seconds / 2, traced=True)
    for r in rounds + warm + traced:
        attempted += r["attempted"]
        failed += r["failed"]
        errors += r["errors"]
    return {
        "wl": wl, "mod": mod, "info": info, "setup": setup, "tracer": tr,
        "rounds": rounds, "traced": traced, "baseline": baseline,
        "attempted": attempted, "failed": failed, "errors": errors,
    }


def report(args, res, cores, env) -> dict:
    mod, rounds, setup = res["mod"], res["rounds"], res["setup"]
    walls = [r["wall"] for r in rounds]
    steps = [s for r in rounds for s in r["steps"]]
    setup_s = sum(setup.values())
    say = lambda s: print(s, flush=True)  # noqa: E731
    say(f"# perfbench {args.workload} " + " ".join(f"{k}={v}" for k, v in env.items()))
    say("# inputs: " + " ".join(f"{k}={v}" for k, v in res["info"].items()))
    say(f"# round_s ({mod.ROUND_LABEL}): {statistics.median(walls):.4f} s, "
        f"median of {len(walls)} rounds")
    say(f"# step_p50_s ({mod.STEP_LABEL} p50): {statistics.median(steps):.4f} s, "
        f"median of {len(steps)} {mod.STEP_LABEL} samples")
    t = tail(steps)
    say(f"# step_tail_s ({mod.STEP_LABEL} tail): " + (
        f"{t[0]:.4f} s at p{t[1]:.1f} of {len(steps)} samples" if t else
        f"n/a, {len(steps)} samples and a tail needs 11"))
    say(f"# setup_s: {setup_s:.3f} s = session {setup['session_s']:.3f} + inputs "
        f"{setup['inputs_s']:.3f} (median of {GEN_REPEATS}) + warm-up {setup['warm_up_s']:.3f}")
    say(f"# failed_frac: {res['failed'] / res['attempted']:.4f} "
        f"({res['failed']} of {res['attempted']} operations)")
    for e in res["errors"][:10]:
        say(f"# FAILED {e}")
    metrics = {
        "round_s": {"value": statistics.median(walls), "unit": "s"},
        "step_p50_s": {"value": statistics.median(steps), "unit": "s"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    if args.trace:
        tr, traced = res["tracer"], res["traced"]
        per_round = [layer_metrics(tr, r, cores) for r in traced]
        layers = {k: statistics.median(m[k] for m in per_round) for k in per_round[0]}
        layers.update(res["wl"].layer_counts())
        layers["session.jvm_rss_peak_mb"] = peak_rss_mb(env["jvm_pid"])
        layers["session.py_rss_peak_mb"] = peak_rss_mb("self")
        layers["trace_overhead_frac"] = (
            statistics.median(r["wall"] for r in traced)
            / statistics.median(r["wall"] for r in res["baseline"]) - 1
        )
        for k in PER_LAYER:
            layers.setdefault(k, 0.0)
        say(f"# per layer: median of {len(traced)} traced rounds")
        for k, unit in PER_LAYER.items():
            say(f"#   {k} = {layers[k]:.6g} {unit}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    return metrics


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_all(args) -> int:
    """Every workload in its own process, one after the other; their
    lines pass through and one combined JSON line closes the output."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode or not lines:
            print(f"perfbench: {w} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(out))
    return 0


def main(argv=None) -> int:
    args = parse(argv)
    if args.workload == "all":
        return run_all(args)
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program not found next to {HERE}: {missing}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    results = os.path.join(ROOT, ".bench_work", "results")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(results, exist_ok=True)
    # pinned before the JVM and its Python workers start: workers import
    # the program (pandas UDFs) and must find it without an install
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    sys.path[:0] = [HERE, ROOT]

    t0 = time.perf_counter()
    from dbt_schema_builder_spark import session

    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from pyspark import SparkContext

        sc = spark.sparkContext
        env = {
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "nproc": cores,
            "spark": spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "git_sha": git_sha() or "n/a",
            "source_sha256": source_digest(),
            "jvm_pid": SparkContext._gateway.proc.pid,
        }
        res = run(spark, args, work, cores, session_s)
        metrics = report(args, res, cores, env)
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        res["tracer"].write(stem + ".spans.json")
        with open(stem + ".json", "w") as f:
            json.dump({"env": env, "inputs": res["info"], "setup": res["setup"],
                       "rounds": [r["wall"] for r in res["rounds"]],
                       "steps": [r["steps"] for r in res["rounds"]],
                       "errors": res["errors"], "metrics": metrics}, f, indent=1)
    finally:
        stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
