"""catalog_build: the paper's workload, a catalog-wide trifecta build.

One round is one full build over a seeded multi-app catalog:

1. ``session.read_table`` per relation, registered as a temp view;
2. ``catalog_from_session`` + ``group_collect`` (the INFORMATION_SCHEMA
   scan), collected;
3. ``TrifectaBuilder.materialize`` per app;
4. ``assemble_schema_doc`` + ``write_artifacts`` per app;
5. one aggregate over a SAFE view, collected.

A step is one app's build: reading its relations (1) plus its views
and artifacts (3 + 4); the catalog-wide scan (2) is shared and belongs
to no app. The work is driver-side: parquet footers, catalog calls and
plan construction, with almost no executor work.
"""

from __future__ import annotations

import os
import re
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from oracle import Oracle, digest

from dbt_schema_builder_spark import session
from dbt_schema_builder_spark.catalog import introspect
from dbt_schema_builder_spark.cli import policy_from_config
from dbt_schema_builder_spark.policy import metadata
from dbt_schema_builder_spark.views import artifacts
from dbt_schema_builder_spark.views.trifecta import TrifectaBuilder

N_APPS = 3
SF = 0.01
# rounds keep getting faster over the first builds (JIT of the
# driver-side catalog and plan code): set-up runs two
WARM_UP_BUILDS = 2
ROUND_LABEL = "build_s"
STEP_LABEL = "app"


def _agg_sql(view: str, redacted: bool, where: str | None) -> str:
    key = "'REDACTED'" if redacted else "o_orderpriority"
    return (
        f"SELECT {key} AS k, COUNT(*) AS n, "
        "CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS cents "
        f"FROM {view}{' WHERE ' + where if where else ''} GROUP BY 1"
    )


class Workload:
    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work  # owned by the workload: inputs and artifacts
        self.seed = seed
        self.out = os.path.join(work, "artifacts")

    def generate(self) -> dict:
        base = os.path.join(self.work, "base")
        shutil.rmtree(self.work, ignore_errors=True)
        gen.write_tables(base, self.seed, SF, gen.CATALOG_TABLES)
        self.apps = gen.write_catalog(
            os.path.join(self.work, "catalog"), self.seed, N_APPS, base
        )
        self.relations = {
            n: p for a in self.apps for n, p in a["relations"].items()
        }
        self.policies = [policy_from_config(a["app"], a["config"]) for a in self.apps]
        # RAW column order is the parquet file's field order
        self.raw_cols = {n: pq.read_schema(p).names for n, p in self.relations.items()}
        self.expected = [self._expected(a) for a in self.apps]
        self._oracle_agg(base)
        n_views = sum(2 * len(e["managed"]) for e in self.expected)
        return {
            "apps": N_APPS,
            "relations": len(self.relations),
            "views": n_views,
            "artifacts": n_views + 2 * N_APPS,
            "files": [os.path.join(base, f"{t}.parquet") for t in gen.CATALOG_TABLES],
        }

    def _expected(self, app: dict) -> dict:
        """The build's expected shape, derived from the raw config alone."""
        cfg = app["config"]
        (src,) = cfg["sources"].values()
        names = sorted(app["relations"])
        if src.get("INCLUDE"):
            selected = [n for n in names if n in src["INCLUDE"]]
        else:
            selected = [n for n in names if n not in src.get("EXCLUDE", [])]
        unmanaged = [
            n for n in selected
            if any(re.match(p + "$", f"{app['app']}.{n}", re.I) for p in cfg["unmanaged_tables"])
        ]
        alias = (lambda n: f"{src['PREFIX']}_{n}") if src.get("PREFIX") else (lambda n: n)
        return {
            "selected": selected,
            "unmanaged": unmanaged,
            "managed": {
                n: (f"{app['app']}__{alias(n)}".upper(), f"{app['app']}_PII__{alias(n)}".upper())
                for n in selected if n not in unmanaged
            },
            "banned": {b.upper() for b in cfg["banned_columns"]},
            "redactions": {
                k.split(".", 1)[1]: v for k, v in cfg["redactions"].items()
            },
            "soft_delete": src.get("SOFT_DELETE"),
        }

    def _oracle_agg(self, base: str) -> None:
        """DuckDB answer for the SAFE aggregate over APP00's orders."""
        exp = self.expected[0]
        rel = f"{self.apps[0]['app'].lower()}_orders"
        self.agg_view = exp["managed"][rel][0]
        redacted = "O_ORDERPRIORITY" in exp["redactions"].get(rel, {})
        where = None
        if exp["soft_delete"]:
            (col, pred), = exp["soft_delete"].items()
            if col.startswith("o_"):
                where = f"{col} {pred}"
        self.agg_spark = _agg_sql(self.agg_view, redacted, where)
        self.agg_digest = Oracle(base, ["orders"]).digest(
            _agg_sql("orders", redacted, where)
        )

    def warm_up(self, tr) -> tuple[int, int, list[str]]:
        """Checked builds until the driver-side code is compiled, plus a
        data-level check that every redacted SAFE column holds only its
        literal."""
        warm = [self.round(tr) for _ in range(WARM_UP_BUILDS)]
        r = warm[-1]
        errors = [e for w in warm for e in w["errors"]]
        probes = []
        for exp, views in zip(self.expected, r["views"]):
            for rel, cols in exp["redactions"].items():
                if rel not in exp["managed"]:
                    continue
                safe = exp["managed"][rel][0]
                for c, lit in cols.items():
                    if c not in exp["banned"]:
                        probes.append(
                            views[safe].select(
                                F.lit(f"{safe}.{c}").alias("k"),
                                F.col(c).cast("string").alias("v"),
                                F.lit(str(lit)).alias("want"),
                            )
                        )
        if probes:
            df = probes[0]
            for p in probes[1:]:
                df = df.unionByName(p)
            # numeric literals compare as cast strings ('0.0' == '0.0')
            bad = df.where(F.col("v").isNull() | (F.col("v") != F.col("want"))).select(
                "k", "v"
            ).distinct().limit(5).collect()
            if bad:
                errors.append(f"redacted columns hold other values: {bad}")
        session.release_caches()
        return sum(w["attempted"] for w in warm) + 1, len(errors), errors

    def round(self, tr) -> dict:
        spark = self.spark
        t0 = time.perf_counter()
        steps = []
        results = []
        with tr.span("round") as rs:
            dfs = {}
            read_s = {}
            for name, path in self.relations.items():
                t_read = time.perf_counter()
                df = session.read_table(spark, path)
                with tr.span("session.register_view"):
                    df.createOrReplaceTempView(name)
                dfs[name] = df
                read_s[name] = time.perf_counter() - t_read
            with tr.span("catalog.introspect"):
                cat = introspect.catalog_from_session(spark, list(dfs))
                columns = {
                    r["table_name"]: list(r["columns"])
                    for r in introspect.group_collect(cat).collect()
                }
            for app, policy in zip(self.apps, self.policies):
                ta = time.perf_counter()
                res = TrifectaBuilder(spark, policy).materialize(
                    {n: dfs[n] for n in app["relations"]}
                )
                (src,) = policy.sources.values()
                doc = metadata.assemble_schema_doc(
                    policy.app,
                    database="spark_catalog",
                    sources={src.name: [t for t in app["relations"] if src.selects(t)]},
                    models={n: list(v.columns) for n, v in res.views.items()},
                )
                downstream = metadata.assemble_schema_doc(
                    policy.app,
                    database="spark_catalog",
                    sources={
                        policy.app: res.downstream_sources,
                        f"{policy.app}_PII": res.downstream_sources,
                    },
                    models={},
                )
                written = artifacts.write_artifacts(
                    self.out, policy.app, res, doc, downstream
                )
                steps.append(
                    time.perf_counter() - ta + sum(read_s[n] for n in app["relations"])
                )
                results.append((res, written))
            with tr.span("views.safe_query"):
                agg = spark.sql(self.agg_spark).collect()
            session.release_caches()
        wall = time.perf_counter() - t0
        errors = self._check(columns, results, agg)
        return {
            "wall": wall,
            "steps": steps,
            "attempted": len(self.apps) + 2,
            "failed": len(errors),
            "errors": errors,
            "span": rs,
            "views": [res.views for res, _ in results],
            "extra": {
                "relations": len(self.relations),
                "artifact_files": sum(len(w) for _, w in results),
            },
        }

    def _check(self, columns, results, agg) -> list[str]:
        errors = []
        want_cols = self.raw_cols
        if columns != want_cols:
            errors.append("catalog scan: column lists differ from the relations")
        for app, exp, (res, written) in zip(self.apps, self.expected, results):
            problems = []
            if sorted(res.skipped_unmanaged) != exp["unmanaged"]:
                problems.append(f"unmanaged {res.skipped_unmanaged} != {exp['unmanaged']}")
            want_views = {v for pair in exp["managed"].values() for v in pair}
            if set(res.views) != want_views:
                problems.append(f"views {sorted(set(res.views) ^ want_views)}")
            for rel, (safe, pii) in exp["managed"].items():
                raw = [c for c in want_cols[rel] if c.upper() not in exp["banned"]]
                for v in (safe, pii):
                    if v in res.views and list(res.views[v].columns) != raw:
                        problems.append(f"{v} columns {res.views[v].columns} != {raw}")
                for c, lit in exp["redactions"].get(rel, {}).items():
                    if c in exp["banned"] or safe not in res.sql:
                        continue
                    lit_sql = re.escape(str(lit) if isinstance(lit, float) else f"'{lit}'")
                    if not re.search(rf"^ *{lit_sql} AS `?{c}`?,?$", res.sql[safe], re.M):
                        problems.append(f"{safe}.{c} not redacted to {lit!r}")
            if len(written) != len(want_views) + 2 or not all(
                os.path.isfile(p) for p in written
            ):
                problems.append(f"{len(written)} artifacts for {len(want_views)} views")
            if problems:
                errors.append(f"{app['app']}: " + "; ".join(problems[:3]))
        if digest(["k", "n", "cents"], [tuple(r) for r in agg]) != self.agg_digest:
            errors.append(f"SAFE aggregate over {self.agg_view} differs from DuckDB")
        return errors

    def layer_counts(self) -> dict:
        return {}
