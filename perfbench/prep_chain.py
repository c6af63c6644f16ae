"""prep_chain: a dup-dense LLM-prep chain into one sink.

normalize_text -> gopher_quality_rules filter -> exact_dedup ->
minhash_lsh_candidates -> keep_canonical -> decontaminate -> redact_pii
-> pack_sequences, then one aggregate sink that also digests the output.

A round is one chain; its steps are the seven counted stages and the
sink. The corpus's near-dup graph is above the driver-closure bound, so
``keep_canonical`` takes the distributed closure path.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time

from pyspark.sql import functions as F

import gen

from dbt_schema_builder_spark import session
from dbt_schema_builder_spark.operators import dedup, text, udf

N_BASE = 1000
N_GROUPS = 50
GROUP_SIZE = 90
MIN_AGREE = 16  # of 32 MinHash rows: estimated Jaccard >= 0.5
# a curation job runs its chain once per process, JVM warm-up included:
# one cold round per run
ONE_ROUND = True
ROUND_LABEL = "chain_s"
STEP_LABEL = "stage"
FUNNEL = (
    "docs_in", "docs_after_quality", "docs_after_exact", "docs_after_near",
    "docs_out",
)


def closure_bound() -> int:
    return inspect.signature(dedup.dedup_clusters).parameters[
        "driver_closure_max_edges"
    ].default


class Workload:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.digest = None

    def generate(self) -> dict:
        shutil.rmtree(self.work, ignore_errors=True)
        meta = gen.write_corpus(self.work, self.seed, N_BASE, N_GROUPS, GROUP_SIZE)
        meta["files"] = [
            os.path.join(self.work, f) for f in ("documents.parquet", "eval.parquet")
        ]
        return meta

    def chain(self, tr):
        """Run the chain once. Every intermediate is persisted and counted,
        the way a curation job logs its funnel; a step is one stage, from
        the previous count to this one. Returns the steps, the counts and
        the sink's (rows, hash, PII hits)."""
        spark = self.spark
        steps, counts, cached = [], {}, []
        last = time.perf_counter()

        def call(name, fn, *args, **kwargs):
            with tr.span(f"{name}.construct"):
                return fn(*args, **kwargs)

        def stage(name, df):
            nonlocal last
            with tr.span("prep.census"):
                df = df.persist()
                cached.append(df)
                counts[name] = df.count()
            now = time.perf_counter()
            steps.append(now - last)
            last = now
            return df

        docs = stage("docs_in", session.read_table(spark, f"{self.work}/documents.parquet"))
        evalset = session.read_table(spark, f"{self.work}/eval.parquet")
        norm = call("udf.normalize_text", udf.normalize_text, docs)
        normed = docs.select("doc_id", "lang").join(
            norm.select("doc_id", F.col("norm_text").alias("text")), "doc_id"
        )
        quality = call(
            "text.gopher_quality_rules", text.gopher_quality_rules, normed,
            min_tokens=15, max_dup_token_fraction=0.8,
        )
        good = stage("docs_after_quality", normed.join(
            quality.where("passes_all = 1").select("doc_id"), "doc_id", "left_semi"
        ))
        exact = call("dedup.exact_dedup", dedup.exact_dedup, good)
        uniq = stage("docs_after_exact", good.join(
            exact.select(F.col("keep_doc_id").alias("doc_id")), "doc_id", "left_semi"
        ))
        cands = stage("lsh_candidates", call(
            "dedup.minhash_lsh_candidates", dedup.minhash_lsh_candidates, uniq
        ))
        pairs = stage("lsh_pairs_kept", cands.where(F.col("n_agree") >= MIN_AGREE).select(
            "doc_a", "doc_b"
        ))
        canon = call("dedup.keep_canonical", dedup.keep_canonical, uniq, pairs)
        kept = stage("docs_after_near", uniq.join(
            canon.where("action = 'keep'").select("doc_id"), "doc_id", "left_semi"
        ))
        contam = call("dedup.decontaminate", dedup.decontaminate, kept, evalset, n=4)
        clean = stage("docs_out", kept.join(
            contam.where(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
        ))
        redacted = call("text.redact_pii", text.redact_pii, clean)
        packed = call("text.pack_sequences", text.pack_sequences, clean, budget=2048)
        out = packed.join(redacted, "doc_id")
        with tr.span("prep.execute"):
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64(*out.columns).bitwiseAND(0xFFFFFFFF)).alias("h"),
                F.sum(
                    F.col("n_email") + F.col("n_ssn") + F.col("n_phone") + F.col("n_ipv4")
                ).alias("pii"),
            ).collect()[0]
        steps.append(time.perf_counter() - last)
        for df in cached:
            df.unpersist()
        return steps, counts, (row["n"], row["h"], row["pii"])

    def warm_up(self, tr) -> tuple[int, int, list[str]]:
        """Nothing: the round is measured cold (see ``ONE_ROUND``)."""
        return 0, 0, []

    def round(self, tr) -> dict:
        """One chain. Its counts give the funnel and the closure graph
        size; the first chain's output is the reference every later chain
        in the process must reproduce."""
        t0 = time.perf_counter()
        with tr.span("round") as rs:
            steps, counts, got = self.chain(tr)
            session.release_caches()
        wall = time.perf_counter() - t0
        if counts["lsh_pairs_kept"] <= closure_bound():
            raise SystemExit(
                f"prep_chain: near-dup graph has {counts['lsh_pairs_kept']} edges, "
                f"not above the {closure_bound()} driver-closure bound; the "
                "workload no longer exercises the distributed closure path"
            )
        funnel = [counts[k] for k in FUNNEL]
        errors = []
        if funnel != sorted(funnel, reverse=True) or funnel[-1] < 1:
            errors.append(f"funnel is not monotone: {funnel}")
        if got[0] != counts["docs_out"] or not got[2]:
            errors.append(f"sink saw {got} for {counts['docs_out']} docs")
        if self.digest is None:
            self.digest, self.counts = got, counts
        elif (got, counts) != (self.digest, self.counts):
            errors.append(f"chain output {got} {counts} != first chain's")
        return {
            "wall": wall,
            "steps": steps,
            "attempted": 1,
            "failed": len(errors),
            "errors": errors,
            "span": rs,
            "extra": {},
        }

    def layer_counts(self) -> dict:
        c = self.counts
        return {
            "dedup.lsh_candidates": c["lsh_candidates"],
            "dedup.lsh_pairs_kept": c["lsh_pairs_kept"],
            "dedup.lsh_precision": c["lsh_pairs_kept"] / max(1, c["lsh_candidates"]),
            # the kept pairs are the graph keep_canonical closes
            "dedup.closure_edges": c["lsh_pairs_kept"],
            **{f"prep.{k}": c[k] for k in FUNNEL},
        }
