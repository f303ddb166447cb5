"""The ``cdc`` workload: the replicator's two delivery regimes in one run.

1. Backfill, closed loop: a seeded backlog of uniform keys over a wide key
   space drains in a few large ``availableNow`` epochs through the
   replicator's default ``EmulatedEsSink``. Per-row compaction, merge,
   shuffle and state rewrite set the throughput.
2. Live, open loop: a generator thread renames seeded changefeed files
   into the feed dir on a fixed schedule that does not slow when the
   replicator does, and ``BucketedStateSink`` consumes them on a short
   processing-time trigger. The per-epoch fixed cost sets freshness.
3. Search: the seeded ES ``_search`` set runs over the live ``state()``,
   each request reading the bucketed layout afresh.

Freshness comes from the checkpoint: the file source's log
``<ckpt>/sources/0/*`` names the batch that consumed each feed file
(``.compact`` files repeat entries, so the JSON ``batchId`` is
authoritative) and ``<ckpt>/commits/<batch>`` is written when that batch's
sink commit finished. A correctness gate outside the timed region replays
each feed through ``operators.cdc.apply_changefeed``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import feedgen
import searches
from feedgen import FeedSpec
from hbase_observer_elasticsearch_spark.operators.cdc import apply_changefeed
from hbase_observer_elasticsearch_spark.plans.es_compiler import compile_search
from hbase_observer_elasticsearch_spark.replicator import CdcReplicator
from hbase_observer_elasticsearch_spark.sinks.bucketed_state_sink import (
    BucketedStateSink,
)
from hbase_observer_elasticsearch_spark.sinks.state_sink import (
    CELLS_SCHEMA,
    EmulatedEsSink,
    merge_epoch,
)
from hbase_observer_elasticsearch_spark.sources.changefeed import CHANGEFEED_SCHEMA
from hbase_observer_elasticsearch_spark.streaming import pipeline
from tracing import median, outside_jobs_s, pct

WIDTH = 8
N_SEARCHES = 10  # one of each of the ten request kinds
SEARCH_CLIENTS = 4

# Sizes and rates: NOTES.md gives the measurements they were set from.
WARM = FeedSpec(n_files=1, rows_per_file=1_000, n_keys=20_000, zipf_s=1.1, width=WIDTH)
# Epochs of 100 k mutations: large enough that per-row work is about a
# third of each epoch rather than a small share beside the fixed cost.
BACKFILL = FeedSpec(n_files=2, rows_per_file=100_000, n_keys=1_000_000, zipf_s=0.0, width=WIDTH)
LIVE = FeedSpec(n_files=100, rows_per_file=25, n_keys=20_000, zipf_s=1.1, width=WIDTH)
LIVE_FILES_PER_S = 22.0
# Spark fires a processing-time trigger at whole multiples of the interval.
# The feed starts just after a tick and its last file lands 0.45 s before
# the next, so one epoch takes the whole feed, each file's wait for that
# tick is fixed by the schedule, and freshness varies only with how long
# the epoch takes (about 6 s here).
LIVE_TRIGGER_S = 5
DRAIN_TIMEOUT_S = 90


# -- checkpoint reading ----------------------------------------------------
def file_batches(ckpt: str) -> dict[str, int]:
    """Feed file basename -> id of the batch that consumed it."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()[1:]  # first line is the log version
        except FileNotFoundError:  # replaced by a compaction meanwhile
            continue
        for line in lines:
            if line:
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def visible_times(ckpt: str, names: list[str]) -> dict[str, float]:
    """Feed file -> time its batch's commit file was written; files whose
    batch has not committed are absent."""
    out = {}
    batches = file_batches(ckpt)
    for n in names:
        if n in batches:
            try:
                out[n] = os.stat(os.path.join(ckpt, "commits", str(batches[n]))).st_mtime
            except FileNotFoundError:
                pass
    return out


# -- traced sinks ----------------------------------------------------------
def traced_sink(base: type, ctx, prefix: str, epochs: list) -> type:
    """``base`` with ``apply``/``read_cells`` wrapped in spans and each
    apply's status-store diff appended to ``epochs``."""

    class Traced(base):
        def apply(self, cells, dels, epoch_id=None):
            bucketed = isinstance(self, BucketedStateSink)
            before = self._manifest() if bucketed else None
            mark = ctx.store.mark()
            t0 = time.time()
            with ctx.tracer.span(f"sinks.{prefix}.apply"):
                super().apply(cells, dels, epoch_id)
            t1 = time.time()
            rec = ctx.store.since(mark)
            rec.update(wall_s=t1 - t0, non_job_s=outside_jobs_s(t0, t1, rec["intervals"]))
            with ctx.tracer.bookkeeping():
                if bucketed:
                    after = self._manifest()
                    rec["buckets"] = sum(1 for b, v in after.items() if before.get(b) != v)
                else:
                    rec["bytes_written"] = _dir_bytes(
                        os.path.join(self.root, f"v={self._current_version()}")
                    )
            epochs.append(rec)

        def read_cells(self, *args, **kwargs):
            with ctx.tracer.span(f"sinks.{prefix}.read_cells"):
                return super().read_cells(*args, **kwargs)

    return Traced


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _sink_metrics(prefix: str, epochs: list, cores: int) -> dict:
    wall = sum(e["wall_s"] for e in epochs)
    m = {
        f"{prefix}.apply_ms_p50": median([e["wall_s"] * 1e3 for e in epochs]),
        f"{prefix}.jobs_per_epoch": median([e["jobs"] for e in epochs]),
        f"{prefix}.non_job_ms_per_epoch": median([e["non_job_s"] * 1e3 for e in epochs]),
        f"{prefix}.core_busy_share": (
            sum(e["run_ms"] for e in epochs) / (wall * 1e3 * cores) if wall else 0.0
        ),
        f"{prefix}.shuffle_bytes_per_epoch": median([e["shuffle_write"] for e in epochs]),
    }
    if prefix == "bucketed":
        m["bucketed.stages_per_epoch"] = median([e["stages"] for e in epochs])
        m["bucketed.tasks_per_epoch"] = median([e["tasks"] for e in epochs])
        m["bucketed.buckets_touched_per_epoch"] = median([e["buckets"] for e in epochs])
    return m


def _bucket_files(sink: BucketedStateSink) -> int:
    return sum(
        len(glob.glob(os.path.join(sink._bucket_path(b, v), "*.parquet")))  # noqa: SLF001
        for b, v in sink._manifest().items()  # noqa: SLF001
    )


# -- phases ----------------------------------------------------------------
def _stage(ctx, spec: FeedSpec, seed: int, tag: str) -> list[str]:
    feed = feedgen.generate(spec, seed)
    feedgen.check_corners(feed)
    return feedgen.write_files(feed, spec, ctx.path(tag))


def _start(ctx, tag: str, feed_dir: str, sink_cls: type, **kwargs) -> dict:
    base = ctx.path(tag)
    ckpt = os.path.join(base, "ckpt")
    rep = CdcReplicator(ctx.spark, feed_dir, os.path.join(base, "state"), ckpt)
    with ctx.tracer.span("replicator.start"):
        t = time.perf_counter()
        rep.start(sink_cls=sink_cls, **kwargs)
        start_s = time.perf_counter() - t
    qid = str(rep._query.id)  # noqa: SLF001 - matches progress events to this run
    return {"rep": rep, "ckpt": ckpt, "feed_dir": feed_dir, "start_s": start_s, "qid": qid}


def _stop(ctx, r: dict) -> None:
    with ctx.tracer.span("replicator.stop"):
        t = time.perf_counter()
        r["rep"].stop()
        r["stop_s"] = time.perf_counter() - t


def _drain(ctx, tag: str, paths: list[str], sink_cls: type) -> dict:
    """Closed loop: drain the whole backlog with availableNow, one file per
    epoch."""
    feedgen.stamp_mtimes(paths, time.time() - len(paths) - 1)
    t0 = time.time()
    r = _start(ctx, tag, os.path.dirname(paths[0]), sink_cls,
               trigger={"availableNow": True}, max_files_per_trigger=1)
    with ctx.tracer.span("replicator.await_drained"):
        r["rep"].await_drained(DRAIN_TIMEOUT_S)
    r["wall_s"] = time.time() - t0
    _stop(ctx, r)
    r["names"] = [os.path.basename(p) for p in paths]
    r["visible"] = visible_times(r["ckpt"], r["names"])
    return r


def _live(ctx, tag: str, staged: list[str], sink_cls: type) -> dict:
    """Open loop: rename each staged file into the feed dir at its due time,
    whatever the replicator is doing; then wait until every file is
    visible. Freshness counts from the due time."""
    feed_dir = ctx.path(f"{tag}-feed")
    r = _start(ctx, tag, feed_dir, sink_cls,
               trigger={"processingTime": f"{LIVE_TRIGGER_S} seconds"},
               max_files_per_trigger=10_000)
    names = [os.path.basename(p) for p in staged]
    t_first = (int(time.time()) // LIVE_TRIGGER_S + 1) * LIVE_TRIGGER_S + 0.05
    due, late = [], []

    def generate():
        for i, src in enumerate(staged):
            d = t_first + i / LIVE_FILES_PER_S
            pause = d - time.time()
            if pause > 0:
                time.sleep(pause)
            now = time.time()
            os.utime(src, (now, now))
            os.rename(src, os.path.join(feed_dir, names[i]))
            due.append(d)
            late.append(now - d)

    gen = threading.Thread(target=generate, name="feed-generator")
    gen.start()
    gen.join()
    deadline = time.time() + DRAIN_TIMEOUT_S
    seen = visible_times(r["ckpt"], names)
    while len(seen) < len(names) and time.time() < deadline and r["rep"].is_active:
        time.sleep(0.05)
        seen = visible_times(r["ckpt"], names)
    _stop(ctx, r)
    r.update(names=names, visible=seen, gen_late_s=max(late),
             fresh=[seen[n] - d for n, d in zip(names, due) if n in seen])
    return r


def _search(ctx, rep, reqs: list[dict]) -> list[dict]:
    """Run the requests from SEARCH_CLIENTS closed-loop clients, each
    request over a fresh flattened ``state()``. Per-op isolation: a
    raising request is recorded in its result and the others go on."""

    def one(i: int) -> dict:
        req = reqs[i]
        try:
            t = time.perf_counter()
            with ctx.tracer.span("read.state"):
                state = rep.state()
            ts = time.perf_counter()
            with ctx.tracer.span("plans.es_compiler.compile_search"):
                df = compile_search(searches.flatten(state, WIDTH), req)
            tc = time.perf_counter()
            with ctx.tracer.span("search.collect"):
                rows = df.collect()
            te = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - one failed op must not end the run
            return {"op": _op(i, req), "error": f"{type(e).__name__}: {e}"}
        return {"op": _op(i, req), "rows": rows, "s": te - t, "state_ms": (ts - t) * 1e3,
                "compile_ms": (tc - ts) * 1e3, "exec_ms": (te - tc) * 1e3}

    with ThreadPoolExecutor(SEARCH_CLIENTS, thread_name_prefix="search") as pool:
        return list(pool.map(one, range(len(reqs))))


def _op(i: int, req: dict) -> str:
    return f"search[{i}]:{next(iter(req['query']))}"


def _replay(ctx, paths: list[str]):
    feed = ctx.spark.read.schema(CHANGEFEED_SCHEMA).parquet(*paths)
    return apply_changefeed(feed).localCheckpoint()


def _state_mismatch(rep, replay) -> str | None:
    """state() == apply_changefeed(feed), compared as to_json(doc) both
    ways because MAP columns cannot go through exceptAll."""
    got = rep.state().select("rowkey", F.to_json("doc").alias("doc")).localCheckpoint()
    want = replay.select("rowkey", F.to_json("doc").alias("doc"))
    extra, missing = got.exceptAll(want).count(), want.exceptAll(got).count()
    if extra or missing:
        return f"{extra} unexpected and {missing} missing documents"
    return None


def _gate(checks: dict, replay, reqs: list[dict], results: list[dict], failures: list) -> None:
    """Run the state checks ({label: (replicator, replay)}) and compare each
    search with the same request compiled over the live replay, several
    at a time."""
    flat = searches.flatten(replay, WIDTH)

    def search_mismatch(i: int) -> str | None:
        res = results[i]
        if "error" in res:
            return res["error"]
        exp = compile_search(flat, reqs[i]).collect()
        if searches.canon(res["rows"]) != searches.canon(exp):
            return f"differs from the replay ({len(res['rows'])} vs {len(exp)} rows)"
        return None

    with ThreadPoolExecutor(SEARCH_CLIENTS, thread_name_prefix="gate") as pool:
        jobs = {label: pool.submit(_state_mismatch, *pair) for label, pair in checks.items()}
        jobs.update({results[i]["op"]: pool.submit(search_mismatch, i) for i in range(len(reqs))})
        for label, fut in jobs.items():
            why = fut.result()
            if why:
                failures.append((label, why))


def _replay_epochs(ctx, r: dict) -> dict:
    """Traced run only: feed each epoch's files straight through
    compact_epoch and merge_epoch, timing both."""
    spark = ctx.spark
    by_batch: dict[int, list[str]] = {}
    for name, b in file_batches(r["ckpt"]).items():
        by_batch.setdefault(b, []).append(os.path.join(r["feed_dir"], name))
    cur = spark.createDataFrame([], CELLS_SCHEMA)
    compact_ms, merge_ms, n_in, n_out = [], [], 0, 0
    for b in sorted(by_batch):
        batch = spark.read.schema(CHANGEFEED_SCHEMA).parquet(*sorted(by_batch[b]))
        n_in += batch.count()
        t = time.perf_counter()
        with ctx.tracer.span("streaming.pipeline.compact_epoch"):
            cells, dels = pipeline.compact_epoch(batch)
            cells, dels = cells.localCheckpoint(), dels.localCheckpoint()
        compact_ms.append((time.perf_counter() - t) * 1e3)
        n_out += cells.count() + dels.count()
        t = time.perf_counter()
        with ctx.tracer.span("sinks.state_sink.merge_epoch"):
            cur = merge_epoch(cur, cells, dels).localCheckpoint()
        merge_ms.append((time.perf_counter() - t) * 1e3)
    return {
        "pipeline.compact_ms_per_epoch": median(compact_ms),
        "pipeline.compaction_ratio": n_out / n_in if n_in else 0.0,
        "state_sink.merge_ms_per_epoch": median(merge_ms),
    }


# -- the workload ----------------------------------------------------------
def prepare(ctx) -> dict:
    """Inputs from the seed; needs no Spark, so it runs while Spark starts."""
    return {
        "warm": _stage(ctx, WARM, ctx.seed + 1_000_003, "warm-feed"),
        "backlog": _stage(ctx, BACKFILL, ctx.seed, "backfill-feed"),
        "staged": _stage(ctx, LIVE, ctx.seed + 1, "live-staged"),
        "reqs": searches.requests(ctx.seed, N_SEARCHES, WIDTH, LIVE.n_keys),
    }


def run(ctx, inputs: dict) -> dict:
    warm, backlog, staged, reqs = (inputs[k] for k in ("warm", "backlog", "staged", "reqs"))
    with ctx.phase("warmup"):
        # One epoch through each sink, so neither sink's first (cold) epoch
        # of the process lands in a measured phase.
        _drain(ctx, "warm-emulated", warm, EmulatedEsSink)
        w = _drain(ctx, "warm", warm, BucketedStateSink)
        _search(ctx, w["rep"], reqs[:1])
    ctx.setup_done()

    traced = ctx.tracer.enabled
    emulated, bucketed = [], []
    failures: list = []
    with ctx.phase("measure"):
        b = _drain(ctx, "backfill", backlog, traced_sink(
            EmulatedEsSink, ctx, "emulated", emulated) if traced else EmulatedEsSink)
        live = _live(ctx, "live", staged, traced_sink(
            BucketedStateSink, ctx, "bucketed", bucketed) if traced else BucketedStateSink)
        mark = ctx.store.mark() if traced else None
        results = _search(ctx, live["rep"], reqs)
        search_tasks = ctx.store.since(mark)["tasks"] if traced else 0
    ok = [r for r in results if "error" not in r]
    lat = [r["s"] for r in ok]

    for r in (b, live):
        for n in r["names"]:
            if n not in r["visible"]:
                failures.append((f"feed:{n}", "not visible after the drain"))
    with ctx.phase("gate"):
        live_paths = [os.path.join(live["feed_dir"], n) for n in live["names"]]
        with ThreadPoolExecutor(2) as pool:
            replays = list(pool.map(lambda p: _replay(ctx, p), [backlog, live_paths]))
        checks = {"backfill_state": (b["rep"], replays[0]), "live_state": (live["rep"], replays[1])}
        _gate(checks, replays[1], reqs, results, failures)

    e2e = {
        "latency_s": median(live["fresh"]),
        "latency_high_s": pct(live["fresh"], 90),
        "read_s": median(lat),
        "read_high_s": pct(lat, 75),
        "throughput_per_s": BACKFILL.n_rows / b["wall_s"],
    }
    named = {
        "freshness_p50_s": e2e["latency_s"],
        "freshness_p90_s": e2e["latency_high_s"],
        "replicate_mutations_per_s": e2e["throughput_per_s"],
        "search_p50_s": e2e["read_s"],
        "search_p75_s": e2e["read_high_s"],
        "live_offered_mutations_per_s": LIVE.rows_per_file * LIVE_FILES_PER_S,
        "live_generator_late_max_s": live["gen_late_s"],
    }
    layers = {}
    if traced:
        cores = ctx.store.cores
        layers.update(ctx.listener.metrics(live["qid"]))
        per_batch: dict[int, int] = {}
        for bid in file_batches(live["ckpt"]).values():
            per_batch[bid] = per_batch.get(bid, 0) + LIVE.rows_per_file
        layers["streaming.rows_per_epoch_p50"] = median(list(per_batch.values()))
        layers["replicator.start_s"] = live["start_s"]
        layers["replicator.stop_s"] = live["stop_s"]
        layers.update(_sink_metrics("bucketed", bucketed, cores))
        layers["bucketed.state_files"] = _bucket_files(live["rep"]._reader())  # noqa: SLF001
        layers.update(_sink_metrics("emulated", emulated, cores))
        layers["emulated.bytes_written_per_input_byte"] = sum(
            e["bytes_written"] for e in emulated) / sum(os.path.getsize(p) for p in backlog)
        layers.update({
            "read.state_ms": median([r["state_ms"] for r in ok]),
            "es_compiler.compile_ms_p50": median([r["compile_ms"] for r in ok]),
            "es_compiler.exec_ms_p50": median([r["exec_ms"] for r in ok]),
            "read.tasks_per_search": search_tasks / len(reqs),
        })
        layers.update(_replay_epochs(ctx, b))
    attempted = len(b["names"]) + len(live["names"]) + len(reqs) + 2
    return {"e2e": e2e, "named": named, "layers": layers,
            "attempted": attempted, "failures": failures}
