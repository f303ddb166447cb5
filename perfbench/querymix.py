"""The ``query_mix`` workload: one closed-loop client runs a fixed, ordered
list of registered queries over the synthetic fixture, one pass, with
``memos.clear_memos()`` first so memo builds are charged to the pass.

Each query's result is collected once (Arrow ``toPandas``) inside the
timed region; the same frame is then checked, outside it, against the
query's DuckDB twin from ``__spark_entry__.oracle_sql()`` with
``tools/check.py``'s ``canon``.

The end-to-end figures are pass-level: per group (analytics, relational)
the geometric mean of its queries' latencies and the arithmetic mean
(the group's wall time over its size, which its slowest members
dominate). Order statistics over a handful of different queries would
swing with whichever query landed at the cut.
"""

from __future__ import annotations

import importlib.util
import math
import os
import sys
import time

import duckdb

import fixture
from hbase_observer_elasticsearch_spark import memos
from hbase_observer_elasticsearch_spark.catalog import TABLES

# Targets named in ROADMAP.md that fit one pass of the run budget; the
# rest are listed in NOTES.md with the reason they are left out.
ANALYTICS = (
    # builds the registered similarity_topk memo, so memo builds are charged
    "similarity_topk_bruteforce",
    "similarity_nn_same_label",
    "similarity_mutual_knn",
    "corpus_bigram_lm_perplexity",
    "layout_clustering_factor",
)
# Relational members: plain scans, joins and aggregates that bypass the
# vector, text and streaming machinery.
RELATIONAL = (
    "q1_pricing_summary",
    "q3_top_unshipped",
    "q5_region_revenue",
    "q9_product_type_profit",
    "q18_large_volume",
    "q21_waiting_supplier",
    "agg_cube",
    "window_share_of_group",
)
WARMUP = ("cdc_last_state",)
FIXTURE_SEED = 42  # the fixture is fixed; the run seed does not apply


def _canon():
    """``canon`` from tools/check.py, the repository's oracle comparator."""
    import __spark_entry__

    path = os.path.join(os.path.dirname(__spark_entry__.__file__), "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # the tool prepends its own checkout path
    return mod.canon


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def _module(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def _compare(sdf, ddf, canon) -> str | None:
    if sorted(sdf.columns) != sorted(ddf.columns):
        return f"columns {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"row count {len(sdf)} vs {len(ddf)}"
    if canon(sdf) != canon(ddf):
        return "values differ from the DuckDB oracle"
    return None


def prepare(ctx) -> dict:
    """The fixture; needs no Spark, so it runs while Spark starts."""
    return {"sf_dir": fixture.write_fixture(ctx.path("fixture"), FIXTURE_SEED)}


def run(ctx, inputs: dict) -> dict:
    import __spark_entry__

    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    canon = _canon()
    sf_dir = inputs["sf_dir"]
    with ctx.phase("warmup"):
        for name in WARMUP:
            queries[name](ctx.spark, sf_dir).toPandas()
    ctx.setup_done()

    names = ANALYTICS + RELATIONAL
    failures: list = []
    lat: dict[str, float] = {}
    frames = {}
    per_query: dict[str, dict] = {}
    with ctx.phase("measure"):
        with ctx.tracer.span("memos.clear_memos"):
            memos.clear_memos(ctx.spark)
        for name in names:
            fn = queries[name]
            mark = ctx.store.mark() if ctx.tracer.enabled else None
            try:
                t = time.perf_counter()
                with ctx.tracer.span(f"operators.{_module(fn)}"):
                    frames[name] = fn(ctx.spark, sf_dir).toPandas()
                lat[name] = time.perf_counter() - t
            except Exception as e:  # noqa: BLE001 - one failed query must not end the pass
                failures.append((name, f"{type(e).__name__}: {str(e)[:300]}"))
                continue
            if mark is not None:
                per_query[name] = {**ctx.store.since(mark), "wall_s": lat[name]}
        with ctx.tracer.span("memos.clear_memos"):
            built = sum(memos.clear_memos(ctx.spark).values())

    with ctx.phase("gate"):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, sdf in frames.items():
            try:
                why = _compare(sdf, con.sql(oracles[name]).df(), canon)
            except Exception as e:  # noqa: BLE001 - an oracle error fails only its query
                why = f"oracle: {type(e).__name__}: {e}"
            if why:
                failures.append((name, why))
        con.close()

    ana = [lat[n] for n in ANALYTICS if n in lat]
    rel = [lat[n] for n in RELATIONAL if n in lat]
    wall = sum(lat.values())
    e2e = {
        "latency_s": geomean(ana),
        "latency_high_s": mean(ana),
        "read_s": geomean(rel),
        "read_high_s": mean(rel),
        "throughput_per_s": len(lat) / wall if wall else 0.0,
    }
    named = {
        "query_mix_wall_s": wall,
        "query_geomean_s": geomean(list(lat.values())),
        "analytics_geomean_s": e2e["latency_s"],
        "analytics_wall_s": sum(ana),
        "relational_geomean_s": e2e["read_s"],
        "relational_wall_s": sum(rel),
        "per_query_s": {n: round(v, 4) for n, v in lat.items()},
    }
    layers = {}
    if ctx.tracer.enabled:
        layers["memos.entries_built"] = built
        by_mod: dict[str, list[dict]] = {}
        for name, d in per_query.items():
            by_mod.setdefault(_module(queries[name]), []).append(d)
        for mod, ds in by_mod.items():
            wall_m = sum(d["wall_s"] for d in ds)
            run_ms = sum(d["run_ms"] for d in ds)
            p = f"operators.{mod}"
            layers[f"{p}.wall_s"] = wall_m
            layers[f"{p}.jobs"] = sum(d["jobs"] for d in ds)
            layers[f"{p}.tasks"] = sum(d["tasks"] for d in ds)
            layers[f"{p}.exec_cpu_s"] = sum(d["cpu_ms"] for d in ds) / 1e3
            layers[f"{p}.shuffle_bytes"] = sum(d["shuffle_write"] for d in ds)
            layers[f"{p}.core_busy_share"] = run_ms / (wall_m * 1e3 * ctx.store.cores)
    return {"e2e": e2e, "named": named, "layers": layers,
            "attempted": len(names), "failures": failures}
