"""The two crawl workloads, timed and traced.

``crawl_mid``: a fresh one-round ``run_crawl`` with no snapshot store and
budgets x50. ``crawl_resume``: the same graph shape with budgets x10; a
crawl that commits a snapshot every round stops after round 1 once per
session, untimed, and each pass resumes it (``resume=True``) to round 2.

A timed run measures whole passes of the workload. A traced run measures
one untraced pass too, then a traced copy of a pass that commits every
round, and replays each round layer by layer (see ``replay``).
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import checks
import inputs
from spans import Tracer, fold_event_log, group_coverage, span_totals
from warchaeology_spark.frontier.checkpoint import SnapshotStore
from warchaeology_spark.frontier.links import extract_outlinks
from warchaeology_spark.frontier.oracle import simulate_crawl
from warchaeology_spark.frontier.politeness import politeness_topk, robots_gate
from warchaeology_spark.frontier.scheduler import PENDING_COLS, CrawlConfig, run_crawl
from warchaeology_spark.frontier.seen import SeenState
from warchaeology_spark.functions.urls import canonical_parts, surt_key
from warchaeology_spark.plans.ranks import global_sequence

# each input table is split into this many parquet files, so the reader
# plans several partitions, as it would for a ``spark.range`` input
INPUT_FILES = 4
TABLES = ("documents", "seeds", "robots", "politeness")


@dataclass(frozen=True)
class CrawlSpec:
    docs: int
    budget_scale: int
    rounds: int
    store: bool = False  # commit a snapshot every round
    stop_after: int | None = None  # stop after this many rounds, then resume

    @property
    def budget(self) -> int:
        return 2 * self.budget_scale

    @property
    def graph(self) -> inputs.Graph:
        return inputs.Graph(self.docs)


SPECS = {
    "crawl_mid": CrawlSpec(docs=50_000, budget_scale=50, rounds=1),
    "crawl_resume": CrawlSpec(docs=50_000, budget_scale=10, rounds=2, store=True, stop_after=1),
}


def config(spec: CrawlSpec, **kw) -> CrawlConfig:
    # bench.py's frontier settings at 4 cores
    return CrawlConfig(
        default_budget=spec.budget,
        num_partitions=8,
        n_salts=4,
        expected_total=spec.graph.bloom_expected,
        **kw,
    )


# -- inputs -------------------------------------------------------------------

def input_dir(cache_root: str, workload: str, seed: int) -> str:
    return os.path.join(cache_root, f"{workload}-s{seed}")


def prepared(d: str) -> bool:
    return os.path.exists(os.path.join(d, "expected.json"))


def prepare(cache_root: str, workload: str, seed: int) -> str:
    """Write the seed's inputs and the oracle's expected digests, once."""
    spec = SPECS[workload]
    d = input_dir(cache_root, workload, seed)
    if prepared(d):
        return d
    rows = inputs.graph_rows(spec.graph, seed, spec.budget_scale)
    inputs.write_rows(rows, os.path.join(d, "graph"), files=INPUT_FILES)
    res = simulate_crawl(
        rows["documents"], rows["seeds"], rows["robots"], rows["politeness"],
        max_rounds=spec.rounds, default_budget=spec.budget,
    )
    inputs.save_json(os.path.join(d, "expected.json"), {
        **checks.oracle_digests(res),
        "metrics": res.metrics,
        "properties": inputs.properties(spec.graph, rows, res),
    })
    return d


def load_tables(spark: SparkSession, d: str) -> dict[str, DataFrame]:
    """Read and materialize the four crawl inputs, as bench.py does."""
    return {
        t: spark.read.parquet(os.path.join(d, "graph", f"{t}.parquet")).localCheckpoint(eager=True)
        for t in TABLES
    }


# -- one pass -----------------------------------------------------------------

def start_store(spark, spec: CrawlSpec, t: dict, store_root: str) -> None:
    """The first leg of a resume workload, before any timed pass: crawl to
    round ``spec.stop_after``, committing a snapshot every round."""
    shutil.rmtree(store_root, ignore_errors=True)
    args = (spark, t["documents"], t["seeds"], t["robots"], t["politeness"])
    run_crawl(*args, config(spec, max_rounds=spec.stop_after, store_root=store_root))


def rewind(store_root: str, version: int) -> None:
    """Drop the snapshots after ``version`` and their data, so the next
    resume starts from the same committed state as the last one. The
    layout is ``frontier/checkpoint.py``'s: ``snapshots/<8 digits>.json``
    (with Hadoop's ``.crc`` files beside them) and ``data/v<version>``."""
    snaps = os.path.join(store_root, "snapshots")
    for name in os.listdir(snaps):
        m = re.search(r"\d{8}", name)
        if m and int(m.group()) > version:
            os.remove(os.path.join(snaps, name))
    data = os.path.join(store_root, "data")
    for name in os.listdir(data):
        m = re.fullmatch(r"v(\d+)", name)
        if m and int(m.group(1)) > version:
            shutil.rmtree(os.path.join(data, name))


def crawl_pass(spark, spec: CrawlSpec, t: dict, store_root: str) -> dict:
    """One pass of the workload: a fresh crawl, or for a resume workload
    the resumed leg from the store that ``start_store`` left. Returns the
    crawl result, the pass wall time and the URLs scheduled in it."""
    resume = spec.stop_after is not None
    if resume:
        rewind(store_root, spec.stop_after)
    else:
        shutil.rmtree(store_root, ignore_errors=True)
    args = (spark, t["documents"], t["seeds"], t["robots"], t["politeness"])
    root = store_root if spec.store else None
    t0 = time.monotonic()
    res = run_crawl(*args, config(spec, max_rounds=spec.rounds, store_root=root, resume=resume))
    res.fetch_log.count()
    wall = time.monotonic() - t0
    urls = sum(m["scheduled"] for m in res.metrics if m["round"] >= (spec.stop_after or 0))
    return {"result": res, "wall_s": wall, "urls": urls}


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(root) for f in fs)


class RddScope:
    """Frees the persistent RDDs created since construction (bench.py's
    ``free_pass_rdds``), so a pass doesn't pay for earlier passes' caches."""

    def __init__(self, spark: SparkSession):
        self.jsc = spark.sparkContext._jsc
        self.keep = {int(i) for i in self.jsc.getPersistentRDDs().keySet().toArray()}

    def free(self) -> None:
        cur = self.jsc.getPersistentRDDs()
        for rid in cur.keySet().toArray():
            if int(rid) not in self.keep:
                cur.get(rid).unpersist(False)


def check(res, expected: dict) -> list[str]:
    """Digest mismatches of a crawl result against the oracle (untimed)."""
    return checks.mismatches(checks.engine_digests(res.fetch_log, res.seen), expected)


# -- timed run ----------------------------------------------------------------

END_TO_END_UNITS = {"setup_s": "s", "run_s": "s", "urls_per_s": "1/s", "peak_rss_mb": "MB"}


def steal_s() -> float:
    """CPU time the host took from this machine's virtual CPUs so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


# untimed crawling before the timed passes: two passes, or for a resume
# workload its first leg (which leaves the store ready for the timed
# passes) and one pass. A pass is bound by fixed per-round cost, so on a
# graph 1/8 the size a warmup pass took nearly as long as on the full one;
# and after a single warmup pass the first timed pass ran 10-25% slower
# than the later ones (still compiling).
WARMUP_PASSES = 2


def warm_up(spark, spec: CrawlSpec, t: dict, store: str) -> None:
    """The untimed crawling before the timed passes (``WARMUP_PASSES``)."""
    scope = RddScope(spark)
    passes = WARMUP_PASSES
    if spec.stop_after is not None:
        start_store(spark, spec, t, store)
        passes -= 1
    for _ in range(passes):
        crawl_pass(spark, spec, t, store)
        scope.free()


def run_timed(session, workload: str, d: str, seconds: float, setup_reps: int, log) -> dict:
    """Set up ``setup_reps`` times (the median is ``setup_s``), warm up,
    then time whole passes until they add up to ``seconds``, checking each
    pass's output after it; ``run_s`` is the median pass. ``session()``
    (re)starts Spark."""
    spec = SPECS[workload]
    store = os.path.join(d, "store")
    setups = []
    spark = None
    for _ in range(setup_reps):
        t0 = time.monotonic()
        if spark is not None:
            spark.stop()
        spark = session()
        tables = load_tables(spark, d)
        setups.append(time.monotonic() - t0)
    log(f"setups {[round(s, 3) for s in setups]}")
    expected = inputs.load_json(os.path.join(d, "expected.json"))

    t0 = time.monotonic()
    warm_up(spark, spec, tables, store)
    scope = RddScope(spark)
    log(f"warmup {time.monotonic() - t0:.3f} s")

    passes = []
    while sum(p["wall_s"] for p in passes) < seconds:
        st0 = steal_s()
        p = crawl_pass(spark, spec, tables, store)
        p["steal_s"] = steal_s() - st0
        p["failed"] = check(p["result"], expected)
        log(f"pass {p['wall_s']:.3f} s, {p['urls']} URLs, host steal {p['steal_s']:.2f} cpu-s, "
            f"store {dir_bytes(store) / 1e6 if spec.store else 0:.2f} MB, "
            f"mismatches {p['failed'] or 'none'}")
        passes.append(p)
        scope.free()
    shutil.rmtree(store, ignore_errors=True)
    run_s = statistics.median(p["wall_s"] for p in passes)
    return {
        "spark": spark,
        "attempted": len(passes),
        "failed": sum(1 for p in passes if p["failed"]),
        "setup_s": statistics.median(setups),
        "run_s": run_s,
        "urls_per_s": passes[-1]["urls"] / run_s,
    }


# -- traced run ---------------------------------------------------------------

LAYERS = (
    "urls.canonical_parts", "urls.surt_key", "links.fetch_join", "links.extract_outlinks",
    "seen.novel", "seen.add", "politeness.politeness_topk", "politeness.robots_gate",
    "checkpoint.commit", "checkpoint.load", "seen.restore", "ranks.global_sequence",
)
LAYER_STATS = {"wall_s": "s", "exec_s": "s", "rows_in": "count", "rows_out": "count", "shuffle_mb": "MB"}
# the first-wins min_by dedup of run_crawl has no public function: its
# replay is the scheduler's own work, ``scheduler.self_s`` per round
SELF = "scheduler.self"
TRACE_UNITS = {
    "seen.novel_ratio": "ratio",
    "politeness.sched_ratio": "ratio",
    "politeness.denied_ratio": "ratio",
    "seen.broadcast_mb": "MB",
    "scheduler.self_s": "s",
    "scheduler.coverage": "ratio",
    "checkpoint.resume_s": "s",
    "checkpoint.store_mb": "MB",
    "session.get_spark.wall_s": "s",
    "trace.run_s": "s",
    "trace.crawl_s": "s",
    "trace.replay_s": "s",
    "trace.overhead": "ratio",
    "trace.group_coverage": "ratio",
}


def _ck(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def seen_state(spark, spec: CrawlSpec) -> SeenState:
    cfg = config(spec)
    return SeenState(spark, num_partitions=cfg.num_partitions, expected_total=cfg.expected_total)


def replay_init(tracer: Tracer, spec: CrawlSpec, t: dict, spark):
    """The crawl's seed step from public functions: canonicalize, first
    wins per surt by seed rank, robots gate, seen add."""
    with tracer.span("urls.canonical_parts") as s_cp:
        cp = canonical_parts(F.col("url"))
        canon = _ck(
            t["seeds"].withColumn("_cp", cp)
            .select("*", "_cp.url_canon", "_cp.surt", "_cp.host").drop("_cp")
            .filter(F.col("url_canon").isNotNull())
            .withColumn("url_hash", F.xxhash64("surt"))
        )
    with tracer.span(SELF) as s_self:
        w = F.min_by(F.struct("url_canon", "url_hash", "host", "seed_rank"), F.col("seed_rank"))
        firsts = _ck(canon.groupBy("surt").agg(w.alias("w")).select(
            "surt", "w.url_canon", "w.url_hash", "w.host",
            F.lit(0).alias("depth"), F.lit(None).cast("string").alias("src_doc_id"),
        ))
    with tracer.span("politeness.robots_gate") as s_gate:
        gated = _ck(robots_gate(firsts, t["robots"]))
    with tracer.span("replay.count"):
        n_seeds, n_canon, n_firsts = t["seeds"].count(), canon.count(), firsts.count()
    state = seen_state(spark, spec)
    with tracer.span("seen.add") as s_add:
        state.add(gated, n_rows=n_firsts)
    s_cp.update(rows_in=n_seeds, rows_out=n_canon)
    s_self.update(rows_in=n_canon, rows_out=n_firsts)
    s_gate.update(rows_in=n_firsts, rows_out=n_firsts)
    s_add.update(rows_in=n_firsts, rows_out=n_firsts)
    pending = gated.filter(~F.col("robots_denied")).select(*PENDING_COLS)
    return pending, state


def replay_round(tracer, spec, t, pending, state: SeenState, r: int, commit_store) -> dict:
    """One round from public layer functions, each materialized inside its
    own span so that the span holds only that layer's work."""
    sp = {}
    with tracer.span("politeness.politeness_topk") as sp["topk"]:
        scheduled = _ck(politeness_topk(pending, t["politeness"], spec.budget, 4))
    with tracer.span("links.fetch_join") as sp["fetch"]:
        fetched = _ck(t["documents"].join(
            F.broadcast(scheduled.select(F.col("url_canon").alias("url"))), "url"
        ))
    with tracer.span("links.extract_outlinks") as sp["extract"]:
        links = _ck(extract_outlinks(fetched.select("doc_id", "url", "spans")).join(
            F.broadcast(scheduled.select(
                F.col("url_canon").alias("src_url"), F.col("depth").alias("src_depth")
            )),
            "src_url",
        ))
    with tracer.span("urls.surt_key") as sp["surt"]:
        cands = _ck(links.withColumn("surt", surt_key(F.col("raw_url"))).filter(F.col("surt").isNotNull()))
    with tracer.span(SELF) as sp["self"]:
        winners = _ck(cands.groupBy("surt").agg(F.min_by(
            F.struct("raw_url", "src_depth", "src_doc_id"),
            F.struct("src_depth", "src_url", "span_offset", "link_idx"),
        ).alias("w")))
    with tracer.span("urls.canonical_parts") as sp["canon"]:
        wcp = canonical_parts(F.col("w.raw_url"))
        discovered = _ck(winners.select(
            "surt", wcp["url_canon"].alias("url_canon"), F.xxhash64("surt").alias("url_hash"),
            wcp["host"].alias("host"), (F.col("w.src_depth") + 1).alias("depth"),
            F.col("w.src_doc_id").alias("src_doc_id"),
        ))
    state.last_broadcast_bytes = 0
    with tracer.span("seen.novel") as sp["novel"]:
        novel = _ck(state.novel(discovered))
    broadcast = state.last_broadcast_bytes
    with tracer.span("politeness.robots_gate") as sp["gate"]:
        gated = _ck(robots_gate(novel, t["robots"]))
    with tracer.span("replay.count"):
        n = {k: df.count() for k, df in (
            ("pending", pending), ("scheduled", scheduled), ("fetched", fetched),
            ("links", links), ("cands", cands), ("winners", winners),
            ("discovered", discovered), ("novel", novel),
        )}
        n["denied"] = gated.filter(F.col("robots_denied")).count()
    with tracer.span("seen.add") as sp["add"]:
        state.add(gated, n_rows=n["novel"])
    for key, (a, b) in {
        "topk": ("pending", "scheduled"), "fetch": ("scheduled", "fetched"),
        "extract": ("fetched", "links"), "surt": ("links", "cands"),
        "self": ("cands", "winners"), "canon": ("winners", "discovered"),
        "novel": ("discovered", "novel"), "gate": ("novel", "novel"), "add": ("novel", "novel"),
    }.items():
        sp[key].update(rows_in=n[a], rows_out=n[b])
    if commit_store is not None:
        allowed = gated.filter(~F.col("robots_denied")).select(*PENDING_COLS)
        pending_next = pending.join(scheduled.select("surt"), "surt", "left_anti").unionByName(allowed)
        fetch_log = scheduled.select(
            F.lit(r).alias("round"), "url_canon", "surt", "url_hash", "host", "depth", "src_doc_id"
        )
        with tracer.span("checkpoint.commit") as s:
            commit_store.commit(
                {"pending": pending_next, "bloom": state.bloom},
                {"next_round": r + 1},
                append={"seen": gated.select("url_hash", "surt", "url_canon"), "fetch_log": fetch_log},
            )
        delta = n["novel"] + n["scheduled"]
        n_pending_next = n["pending"] - n["scheduled"] + n["novel"] - n["denied"]
        s.update(rows_in=delta, rows_out=delta + n_pending_next)
    return {**n, "broadcast_bytes": broadcast}


def replay(spark, tracer: Tracer, spec: CrawlSpec, t: dict, store_root: str, log) -> list[dict]:
    """Replay every committed round of a traced crawl. The state before
    round r is snapshot version r (round 0 starts from the seeds). For a
    resume workload the resumed round's load and restore are the
    ``checkpoint.load``/``seen.restore`` layers and every round's commit
    is replayed into a scratch store; otherwise loading is replay cost."""
    store = SnapshotStore(spark, store_root)
    commit_root = store_root + "-replay"
    shutil.rmtree(commit_root, ignore_errors=True)
    commit_store = SnapshotStore(spark, commit_root) if spec.store else None
    counts = []
    for r in range(store.meta()["next_round"]):
        scope = RddScope(spark)
        with tracer.span("round", round_id=r):
            if r == 0:
                pending, state = replay_init(tracer, spec, t, spark)
            else:
                resumed = r == spec.stop_after
                with tracer.span("checkpoint.load" if resumed else "replay.load") as s_load:
                    meta = store.meta(r)
                    pending = store.load("pending", r)
                    seen, bloom = store.load("seen", r), store.load("bloom", r)
                state = seen_state(spark, spec)
                state.seen_rows_approx = meta["seen_state"]["seen_rows_approx"]
                with tracer.span("seen.restore" if resumed else "replay.restore") as s_restore:
                    state.restore(seen, bloom, assume_large=False)
                with tracer.span("replay.count"):
                    n_seen, n_bloom = seen.count(), bloom.count()
                s_load.update(rows_in=n_seen + n_bloom, rows_out=n_seen + n_bloom)
                s_restore.update(rows_in=n_seen + n_bloom, rows_out=n_seen)
            counts.append(replay_round(tracer, spec, t, pending, state, r, commit_store))
        scope.free()
        log(f"replayed round {r}: {counts[-1]}")
    with tracer.span("ranks.global_sequence") as s:
        fl = _ck(global_sequence(store.load("fetch_log"), ["round", "depth", "url_canon"], "seq"))
    n = fl.count()
    s.update(rows_in=n, rows_out=n)
    shutil.rmtree(commit_root, ignore_errors=True)
    return counts


def self_check(counts: list[dict], metrics: list[dict]) -> list[int]:
    """Rounds whose replayed counts differ from ``CrawlResult.metrics``."""
    bad = [
        m["round"] for c, m in zip(counts, metrics)
        if (c["scheduled"], c["novel"], c["denied"]) != (m["scheduled"], m["novel"], m["robots_denied"])
    ]
    return bad + list(range(min(len(counts), len(metrics)), max(len(counts), len(metrics))))


def run_traced(session, workload: str, d: str, log) -> dict:
    """Untraced pass, traced copy of a pass and replay, in one event-logged
    session."""
    spec = SPECS[workload]
    resume = spec.stop_after is not None
    store = os.path.join(d, "store")
    t0 = time.monotonic()
    spark = session()
    get_spark_s = time.monotonic() - t0
    expected = inputs.load_json(os.path.join(d, "expected.json"))
    tracer = Tracer(spark)
    with tracer.span("setup.load"):
        tables = load_tables(spark, d)
    scope = RddScope(spark)
    with tracer.span("setup.warmup"):
        warm_up(spark, spec, tables, store)
    scope.free()
    legs = []
    if resume:
        with tracer.span("scheduler.start") as s_start:
            start_store(spark, spec, tables, store)
        legs.append(s_start)
        scope.free()
    with tracer.span("untraced.pass"):
        p = crawl_pass(spark, spec, tables, store)
    failed = [bool(check(p["result"], expected))]
    scope.free()

    # the traced copy commits every round so that each round can be replayed
    with tracer.span("scheduler.crawl") as s_crawl:
        tc = crawl_pass(spark, replace(spec, store=True), tables, store)
    legs.append(s_crawl)
    failed.append(bool(check(tc["result"], expected)))
    store_mb = dir_bytes(store) / 1e6 if resume else 0.0
    scope.free()
    with tracer.span("replay") as s_replay:
        counts = replay(spark, tracer, spec, tables, store, log)
    bad = self_check(counts, tc["result"].metrics)
    if bad:
        log(f"replay self-check failed in rounds {bad}")
    failed.append(bool(bad))
    shutil.rmtree(store, ignore_errors=True)
    return {
        "spark": spark,
        "tracer": tracer,
        "attempted": len(failed),
        "failed": sum(failed),
        "counts": counts,
        "run_s": p["wall_s"],
        "crawl_span": s_crawl,
        "crawl_legs": legs,
        "replay_span": s_replay,
        "resume_s": tc["wall_s"] if resume else 0.0,
        "store_mb": store_mb,
        "get_spark_s": get_spark_s,
    }


def layer_metrics(out: dict, event_dir: str, spans_path: str) -> dict:
    """Per-layer metrics from the spans and the folded event log; every
    span, with its Spark totals, is written to ``spans_path``."""
    tracer = out["tracer"]
    folded = fold_event_log(event_dir)
    totals = span_totals(tracer, folded)
    inputs.save_json(spans_path, totals)
    agg = {name: dict.fromkeys(LAYER_STATS, 0.0) for name in (*LAYERS, SELF)}
    for s in totals:
        a = agg.get(s["name"])
        if a is None:
            continue
        a["wall_s"] += s["wall_s"]
        a["exec_s"] += s.get("exec_s", 0.0)
        a["rows_in"] += s.get("rows_in", 0)
        a["rows_out"] += s.get("rows_out", 0)
        a["shuffle_mb"] += s.get("shuffle_write_bytes", 0.0) / 1e6
    c = {k: sum(x[k] for x in out["counts"]) for k in out["counts"][0]}
    crawl_s = tracer.wall(out["crawl_span"])
    values = {
        "seen.novel_ratio": c["novel"] / max(c["discovered"], 1),
        "politeness.sched_ratio": c["scheduled"] / max(c["pending"], 1),
        "politeness.denied_ratio": c["denied"] / max(c["novel"], 1),
        "seen.broadcast_mb": c["broadcast_bytes"] / 1e6,
        "scheduler.self_s": agg[SELF]["wall_s"] / len(out["counts"]),
        "scheduler.coverage": sum(a["wall_s"] for a in agg.values())
        / sum(tracer.wall(leg) for leg in out["crawl_legs"]),
        "checkpoint.resume_s": out["resume_s"],
        "checkpoint.store_mb": out["store_mb"],
        "session.get_spark.wall_s": out["get_spark_s"],
        "trace.run_s": out["run_s"],
        "trace.crawl_s": crawl_s,
        "trace.replay_s": tracer.wall(out["replay_span"]),
        "trace.overhead": crawl_s / out["run_s"] - 1.0,
        "trace.group_coverage": group_coverage(folded),
    }
    metrics = {k: {"value": v, "unit": TRACE_UNITS[k]} for k, v in values.items()}
    for name in LAYERS:
        for stat, unit in LAYER_STATS.items():
            metrics[f"{name}.{stat}"] = {"value": agg[name][stat], "unit": unit}
    return metrics
