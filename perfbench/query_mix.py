"""query_mix: the read side, many short queries in one closed loop.

A round is one pass over 29 ``queries()`` keys: the frozen round-1
comparable set of ``bench.py`` plus three keys that read through trifecta
views, the catalog scan and the two closure keys. A step is one query:
build the DataFrame, fetch it with ``toArrow()``. Every fetched result is
hashed and matched against the key's ``oracle_sql()`` run by DuckDB on
the same parquet, outside the timer.
"""

from __future__ import annotations

import shutil
import time

import gen
from oracle import Oracle, arrow_digest
from prep_chain import closure_bound

import __spark_entry__ as entry
from dbt_schema_builder_spark import session
from dbt_schema_builder_spark.operators import dedup

SF = 0.1
ROUND_LABEL = "mix_pass_s"
STEP_LABEL = "query"
FAMILIES = {
    "relational": (
        "q_hash_agg", "q_star_join", "q_sort_group_collect", "q_window_rank",
        "q_window_running", "q_topk", "q_set_ops", "q_salted_join",
        "q_catalog_scan",
    ),
    "timeseries": (
        "q_session_window", "q_tumbling_window", "q_json_extract",
        "q_asof_join", "q_range_join",
    ),
    "text": (
        "q_text_stats", "q_quality_score", "q_pandas_udf",
        "q_multimodal_features", "q_winnowing",
    ),
    "dedup": (
        "q_exact_dedup", "q_near_dup", "q_ngram_jaccard", "q_keep_canonical",
        "q_dedup_clusters",
    ),
    "similarity": ("q_topk_similarity", "q_lsh_topk"),
    "views": ("q_pii_view_projection", "q_safe_view_redaction", "q_soft_delete_filter"),
}
# bench.py's frozen R1_COMPARABLE set, then the six keys that read
# through trifecta views, scan the catalog and close near-dup graphs
KEYS = (
    "q_hash_agg", "q_star_join", "q_sort_group_collect", "q_window_rank",
    "q_window_running", "q_session_window", "q_tumbling_window", "q_topk",
    "q_set_ops", "q_json_extract", "q_exact_dedup", "q_near_dup",
    "q_ngram_jaccard", "q_topk_similarity", "q_lsh_topk", "q_text_stats",
    "q_quality_score", "q_pandas_udf", "q_multimodal_features",
    "q_asof_join", "q_range_join", "q_salted_join", "q_winnowing",
    "q_pii_view_projection", "q_safe_view_redaction", "q_soft_delete_filter",
    "q_catalog_scan", "q_keep_canonical", "q_dedup_clusters",
)
FAMILY_OF = {k: f for f, ks in FAMILIES.items() for k in ks}
CLOSURE_KEYS = ("q_keep_canonical", "q_dedup_clusters")


class Workload:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def generate(self) -> dict:
        shutil.rmtree(self.work, ignore_errors=True)
        counts = gen.write_tables(self.work, self.seed, SF)
        return {
            "keys": len(KEYS),
            **{f"rows.{t}": n for t, n in counts.items()},
            "files": [f"{self.work}/{t}.parquet" for t in counts],
        }

    def warm_up(self, tr) -> tuple[int, int, list[str]]:
        """Oracle digests, then one checked pass during which every
        closure graph is counted on its way into ``dedup_clusters``."""
        duck = Oracle(self.work, gen.TABLES)
        self.expected = {k: duck.digest(self.oracles[k]) for k in KEYS}
        edges: list[int] = []
        inner = dedup.dedup_clusters

        def counting(pairs, *args, **kwargs):
            pairs = session.track_persist(pairs)
            edges.append(pairs.count())
            return inner(pairs, *args, **kwargs)

        dedup.dedup_clusters = counting
        try:
            r = self.round(tr)
        finally:
            dedup.dedup_clusters = inner
        self.closure_edges = max(edges) if edges else 0
        bound = closure_bound()
        if len(edges) != len(CLOSURE_KEYS) or self.closure_edges >= bound:
            raise SystemExit(
                f"query_mix: closure graphs {edges} are not all below the "
                f"{bound} driver-closure bound; the workload no longer takes "
                "the driver closure path"
            )
        return r["attempted"], r["failed"], r["errors"]

    def round(self, tr) -> dict:
        steps, errors, fetched = [], [], []
        construct = execute = 0.0
        family = dict.fromkeys(FAMILIES, 0.0)
        t_pass = time.perf_counter()
        with tr.span("round") as rs:
            for k in KEYS:
                t0 = time.perf_counter()
                try:
                    with tr.span("mix.construct", key=k):
                        df = self.queries[k](self.spark, self.work)
                    t1 = time.perf_counter()
                    with tr.span("mix.execute", key=k):
                        fetched.append((k, df.toArrow()))
                    t2 = time.perf_counter()
                except Exception as e:  # a failing key counts, the pass goes on
                    t1 = t2 = time.perf_counter()
                    errors.append(f"{k}: {type(e).__name__}: {str(e)[:200]}")
                session.release_caches()
                steps.append(t2 - t0)
                construct += t1 - t0
                execute += t2 - t1
                family[FAMILY_OF[k]] += t2 - t0
        wall = time.perf_counter() - t_pass
        # after the pass: the oracle checks
        for k, table in fetched:
            if arrow_digest(table) != self.expected[k]:
                errors.append(f"{k}: result differs from its oracle")
        return {
            "wall": wall,
            "steps": steps,
            "attempted": len(KEYS),
            "failed": len(errors),
            "errors": errors,
            "span": rs,
            "extra": {
                "mix.construct_s": construct,
                "mix.execute_s": execute,
                **{f"mix.{f}_s": v for f, v in family.items()},
            },
        }

    def layer_counts(self) -> dict:
        return {"dedup.closure_edges": self.closure_edges}
