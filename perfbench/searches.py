"""ES ``_search`` read phase of the CDC workloads.

The replicated state ``(rowkey, doc MAP)`` is flattened into one column
per qualifier (numeric qualifiers cast to BIGINT, ``doc_id`` parsed from
the rowkey) and each request goes through
``plans.es_compiler.compile_search``. The request set is drawn from the
seed and cycles through ten kinds (every compiled clause kind plus both
bucket aggs) with equal weight. It is a coverage mix: no measured search
traffic sets the weights.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feedgen import TAGS, WORDS, numeric_qualifiers, qualifiers


def flatten(state: DataFrame, width: int) -> DataFrame:
    cols = [F.expr("CAST(substring(rowkey, 2) AS BIGINT)").alias("doc_id")]
    for q in qualifiers(width):
        v = F.col("doc").getItem(q)
        cols.append((v.cast("bigint") if q.startswith("n") else v).alias(q))
    return state.select(*cols)


def requests(seed: int, n: int, width: int, n_keys: int) -> list[dict]:
    """``n`` seeded ``_search`` bodies, cycling through the ten kinds; a
    multiple of ten gives every kind the same weight."""
    rng = np.random.default_rng(seed + 7919)
    nums = numeric_qualifiers(width)
    kw = [q for q in qualifiers(width) if q.startswith("s")]

    def tag():
        return str(rng.choice(TAGS))

    def num():
        return str(rng.choice(nums))

    def lo_hi():
        lo = int(rng.integers(0, 900))
        return lo, lo + int(rng.integers(20, 300))

    def word():
        return str(rng.choice(WORDS))

    def term():
        return {"query": {"term": {"tag": tag()}}, "size": 10}

    def terms():
        return {"query": {"terms": {"tag": [tag(), tag()]}}, "size": 20}

    def range_():
        lo, hi = lo_hi()
        return {"query": {"range": {num(): {"gte": lo, "lt": hi}}}, "size": 10}

    def match():
        op = "and" if rng.random() < 0.5 else "or"
        return {"query": {"match": {"text": {"query": f"{word()} {word()}", "operator": op}}}}

    def prefix():
        return {"query": {"prefix": {str(rng.choice(kw)): str(rng.choice(["ab", "ba", "ca"]))}}}

    def wildcard():
        return {"query": {"wildcard": {"tag": f"tag?{int(rng.integers(0, 10))}"}}, "size": 5}

    def boolean():
        lo, hi = lo_hi()
        return {
            "query": {
                "bool": {
                    "must": [{"range": {nums[0]: {"gte": lo, "lte": hi}}}],
                    "must_not": [{"term": {"tag": tag()}}],
                    "should": [{"exists": {"field": num()}}, {"match": {"text": word()}}],
                    "minimum_should_match": 1,
                }
            },
            "size": 15,
        }

    def ids():
        return {"query": {"ids": {"values": [int(k) for k in rng.integers(0, n_keys, 8)]}}}

    def terms_agg():
        return {
            "query": {"exists": {"field": "tag"}},
            "aggs": {
                "by_tag": {
                    "terms": {"field": "tag", "size": 5},
                    "aggs": {
                        "avg_n": {"avg": {"field": num()}},
                        "max_n": {"max": {"field": num()}},
                        "n_kw": {"value_count": {"field": str(rng.choice(kw))}},
                    },
                }
            },
        }

    def histogram():
        lo, hi = lo_hi()
        field = num()
        return {
            "query": {"range": {field: {"gte": lo, "lt": hi}}},
            "aggs": {
                "hist": {
                    "histogram": {"field": field, "interval": 50},
                    "aggs": {"sum_n": {"sum": {"field": num()}},
                             "tags": {"cardinality": {"field": "tag"}}},
                }
            },
        }

    kinds = [term, terms, range_, match, prefix, wildcard, boolean, ids,
             terms_agg, histogram]
    return [kinds[i % len(kinds)]() for i in range(n)]


def canon(rows) -> list[tuple]:
    """Ordered, type-stable rendering of a collected result."""
    return [tuple(repr(v) for v in r) for r in rows]
