"""Every ``ranked_topk`` call site orders by a key that is unique in its
input frame.

``ranked_topk`` ranks with ``orderBy(...).limit(k)``; that equals the
``row_number`` window form only when the order key is a total order on
the frame it ranks. Each call site below is reached by running one
registered query at sf0.001 with ``ranked_topk`` wrapped; the wrapper
keeps the input frame and order columns, and the test checks that no two
rows tie on the full key (``rank() == row_number()`` on every row).
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hbase_observer_elasticsearch_spark.operators import es_surface, text
from hbase_observer_elasticsearch_spark.registry import queries

_MODULES = {"text.py": text, "es_surface.py": es_surface}

# Registered queries that, between them, reach every call site.
CALLERS = (
    "agg_bucket_script_sort",
    "agg_geohash_grid",
    "agg_multi_terms",
    "agg_rare_terms",
    "agg_sampler_lang_breakdown",
    "search_bm25_expanded",
    "search_boosting_query",
    "search_champion_lists",
    "search_collapse_field",
    "search_dis_max",
    "search_explain_bm25",
    "search_function_score",
    "search_function_score_decay",
    "search_fuzzy_term",
    "search_geo_distance_plane",
    "search_highlight_offsets",
    "search_intervals_ordered",
    "search_match_bool_prefix",
    "search_more_like_this",
    "search_nested_block_join",
    "search_phrase_suggester",
    "search_pinned_query",
    "search_rank_feature",
    "search_regexp_term",
    "search_rescore_window",
    "search_script_score",
    "search_significant_terms",
    "search_span_near",
    "search_terms_agg_shard_error",
)


def _call_sites() -> list[tuple[str, str, int, int]]:
    """``(site_id, file, first_line, last_line)`` per ``ranked_topk(...)``
    call; site_id is ``module.enclosing_function`` (``#n`` for the n-th
    call inside one function)."""
    sites = []
    for fname, mod in _MODULES.items():
        tree = ast.parse(Path(mod.__file__).read_text())
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef):
                continue
            calls = sorted(
                (n for n in ast.walk(top)
                 if isinstance(n, ast.Call)
                 and getattr(n.func, "id", None) == "ranked_topk"),
                key=lambda n: n.lineno,
            )
            for i, n in enumerate(calls):
                sid = f"{fname[:-3]}.{top.name}" + (f"#{i + 1}" if i else "")
                sites.append((sid, fname, n.lineno, n.end_lineno))
    return sites


SITES = _call_sites()


@pytest.fixture(scope="module")
def recorded(spark, sf_dir):
    """site_id -> [(input_frame, order_cols), ...] over all CALLERS."""
    orig = text.ranked_topk
    got: dict[str, list] = {}

    def wrapped(df, order_cols, k, *args, **kwargs):
        caller = sys._getframe(1)
        fname = Path(caller.f_code.co_filename).name
        for sid, f, lo, hi in SITES:
            if f == fname and lo <= caller.f_lineno <= hi:
                got.setdefault(sid, []).append((df, list(order_cols)))
        return orig(df, order_cols, k, *args, **kwargs)

    qs = queries()
    mp = pytest.MonkeyPatch()
    for mod in _MODULES.values():
        mp.setattr(mod, "ranked_topk", wrapped)
    try:
        for name in CALLERS:
            qs[name](spark, sf_dir)
    finally:
        mp.undo()
    return got


def test_sites_found():
    assert len(SITES) >= 30


@pytest.mark.parametrize("site", [s[0] for s in SITES])
def test_order_key_unique(recorded, site):
    assert site in recorded, (
        f"no query in CALLERS reaches {site}; add one that does"
    )
    for df, order_cols in recorded[site]:
        w = Window.orderBy(*order_cols)
        ties = (
            df.select(
                F.rank().over(w).alias("_rank"),
                F.row_number().over(w).alias("_rn"),
            )
            .filter(F.col("_rank") != F.col("_rn"))
            .count()
        )
        assert ties == 0, f"{site}: order key {order_cols} has ties"
