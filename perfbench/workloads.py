"""The benchmark's workloads: one closed-loop client each.

``historical_crawl``
    Throughput mode, as a batch backfill job runs it. The seed list goes
    through ``CrawlEngine.ingest``, then ``step`` runs to quiescence
    under per-host budgets wide enough to pop every admitted URL in the
    first round. The list holds only pages the synthetic
    network serves, so that round is the whole crawl (fetch failures and
    retries are exercised by ``fresh_cycle``). Crawls of the same seed
    list repeat, each in a fresh catalog, for the measuring window.

``fresh_cycle``
    The fresh pipeline on a live frontier. Set-up ingests a seed list;
    each timed cycle admits one link poll (half re-delivered from the
    previous window, half new) through ``ingest_incremental`` and then
    runs one ``step`` at a tight per-host budget.

Each workload warms up in set-up, untimed by the operation metrics:
the first crawl or cycle of a Spark session pays plan compilation, JIT
and worker start-up and ran 1.4-2x slower than the ones after it, which
made single-run figures swing with how much of that cost a run hit.
``historical_crawl`` crawls a small slice of its seed list in a
throwaway catalog; ``fresh_cycle`` runs its first poll + round cycle
on the live engine. The warm-up is billed to ``setup_s``.

Both call only public engine entry points and pass only workload inputs
(seed lists, poll batches, politeness tables), never engine
tuning knobs. Outputs are checked outside the timed regions against
:mod:`news_crawler_spark.oracle`; an operation whose output is wrong
counts as failed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from news_crawler_spark import oracle, synth
from news_crawler_spark.engine import CrawlEngine

from . import inputs
from .trace import Tracer, dir_bytes

SETUP_REPS = 3

# historical_crawl: ~1.7k URLs admitted, all popped and fetched in round one
HIST_SEEDS = 2000
HIST_WARMUP_SEEDS = 200  # the slice of the list crawled in set-up

# fresh_cycle: base frontier, poll size and the tight per-host budget
FRESH_BASE = 3000
FRESH_POLL_HALF = 500
FRESH_REFILL = 100
STATE_AFTER_CYCLES = 1  # fresh_cycle reads state_mb after this many timed cycles

# The window holds as many whole timed ops as fit in --seconds at the
# nominal warm op time on a 4-core machine. A fixed count, not one that
# follows the wall clock: runs on a slower host would otherwise time
# fewer ops, and the engine's periodic work falls on fixed rounds.
NOMINAL_OP_S = {"historical_crawl": 12.0, "fresh_cycle": 11.0}


@dataclass
class Ctx:
    spark: object
    work: str
    cores: int
    seed: int
    seconds: float
    tracer: Tracer | None
    # jobs of each untraced round in a traced run (the engine's own count)
    round_jobs: list = field(default_factory=list)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    traced_op_s: list = field(default_factory=list)
    untraced_op_s: list = field(default_factory=list)
    untraced_round_s: list = field(default_factory=list)
    catalog_root: str = ""
    notes: dict = field(default_factory=dict)


def _timed(ctx: Ctx, kind: str, fn, traced: bool = False):
    """Run ``fn`` once and return (wall seconds, result). In a traced run
    every op gets a root span, so untraced ops still count their jobs."""
    tr = ctx.tracer
    if tr is None:
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out
    tr.enabled = traced
    try:
        with tr.span("op." + kind, traced=traced) as sp:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
    finally:
        tr.enabled = False
    if kind == "round" and not traced:
        ctx.round_jobs.append(sp["spark"]["jobs"])
    return dt, out


def _n_ops(ctx: Ctx, workload: str) -> int:
    """Timed ops in the window. A traced run needs a traced op and an
    untraced one to compare it with (both after the warm-up)."""
    n = max(1, int(ctx.seconds / NOMINAL_OP_S[workload]))
    return max(n, 2) if ctx.tracer else n


def _is_traced(ctx: Ctx, k: int) -> bool:
    return ctx.tracer is not None and k % 2 == 1


def _politeness_rows(refill: int) -> list[dict]:
    return [
        {"host": h, "max_per_round": refill, "bucket_capacity": 2 * refill}
        for _s, h, _w in synth.SOURCES
    ]


def _politeness(spark, refill: int):
    return spark.createDataFrame(
        _politeness_rows(refill),
        "host string, max_per_round int, bucket_capacity int",
    )


def _step_to_quiescence(ctx, eng, start_round, traced, rounds):
    rnd = start_round
    while True:
        dt, st = _timed(ctx, "round", lambda r=rnd: eng.step(r), traced)
        rounds.append((dt, st))
        if st.popped == 0 or st.pending_left == 0:
            return
        rnd += 1


# ---------------------------------------------------------------- historical
def historical_crawl(ctx: Ctx) -> Outcome:
    spark, out = ctx.spark, Outcome()
    refill = HIST_SEEDS  # wide open: every admitted URL pops in round one

    # ---- set-up: inputs (median of reps) and the politeness table
    build = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        rows = inputs.seed_list(ctx.seed, HIST_SEEDS, served_only=True)
        path = os.path.join(ctx.work, f"seeds_{rep}")
        inputs.write_parquet(rows, path, ctx.cores)
        seeds = inputs.read(spark, path)
        build.append(time.perf_counter() - t0)
    pol = _politeness(spark, refill)
    t0 = time.perf_counter()
    warm = os.path.join(ctx.work, "seeds_warmup")
    inputs.write_parquet(rows[:HIST_WARMUP_SEEDS], warm, ctx.cores)
    w_eng = CrawlEngine(spark, os.path.join(ctx.work, "crawl_warmup"), politeness=pol)
    w_eng.ingest(inputs.read(spark, warm))
    rnd = 1
    while (st := w_eng.step(rnd)).popped and st.pending_left:
        rnd += 1
    warmup_s = time.perf_counter() - t0
    out.notes["setup_parts_s"] = {"inputs": build, "warmup": warmup_s}
    setup_s = statistics.median(build) + warmup_s

    # ---- timed: crawls of the same seed list for the window
    crawls = []  # (ingest_s, [(round_s, RoundStats)], engine)
    for k in range(_n_ops(ctx, "historical_crawl")):
        traced = _is_traced(ctx, k)
        wd = os.path.join(ctx.work, f"crawl_{k}")
        eng = CrawlEngine(spark, wd, politeness=pol)
        out.attempted += 1
        ingest_s, _ = _timed(ctx, "admit", lambda: eng.ingest(seeds), traced)
        rounds: list = []
        try:
            _step_to_quiescence(ctx, eng, 1, traced, rounds)
        finally:
            out.attempted += len(rounds)
        crawl_s = ingest_s + sum(dt for dt, _ in rounds)
        (out.traced_op_s if traced else out.untraced_op_s).append(crawl_s)
        if not traced:
            out.untraced_round_s += [dt for dt, _ in rounds]
        crawls.append((ingest_s, rounds, eng))

    # ---- checks (untimed): pops, lineage and seen set against the oracle
    t0 = time.perf_counter()
    want = oracle.crawl(rows, politeness=_politeness_rows(refill))
    out.notes["oracle_s"] = time.perf_counter() - t0
    want_pops = defaultdict(list)
    for rnd, host, url in want.pops:
        want_pops[rnd].append((host, url))
    want_lin = {(r, h): (p, ok, fail, mf) for r, h, p, ok, fail, mf in want.lineage}
    for _ingest_s, rounds, eng in crawls:
        got_pops = defaultdict(list)
        for r in eng.pops_in_order().collect():
            got_pops[r["round"]].append((r["host"], r["canonical_url"]))
        got_lin = {
            (r["round"], r["host"]): (r["popped"], r["fetched_ok"], r["fetched_fail"], r["marked_failed"])
            for r in eng.lineage().collect()
        }
        for _dt, st in rounds:
            r = st.round_no
            lin = {k: v for k, v in got_lin.items() if k[0] == r}
            ok = (
                got_pops[r] == want_pops[r]
                and lin == {k: v for k, v in want_lin.items() if k[0] == r}
                and st.popped == sum(v[0] for v in lin.values())
                and st.popped == st.fetched_ok + st.fetched_fail
            )
            out.failed += not ok
        seen = {r["canonical_url"] for r in eng.final_frontier().select("canonical_url").collect()}
        out.failed += seen != set(want.seen)
    out.notes["check_s"] = time.perf_counter() - t0

    # ---- metrics
    all_rounds = [dt for _i, rs, _e in crawls for dt, _ in rs]
    fetched = sum(st.fetched_ok + st.fetched_fail for _i, rs, _e in crawls for _, st in rs)
    untraced = [c for i, c in enumerate(crawls) if not _is_traced(ctx, i)]
    u_rounds = [dt for _i, rs, _e in untraced for dt, _ in rs]
    u_fetched = sum(st.fetched_ok + st.fetched_fail for _i, rs, _e in untraced for _, st in rs)
    out.metrics = {
        "setup_s": setup_s,
        "admit_s_p50": statistics.median(i for i, _r, _e in untraced),
        "round_s_p50": statistics.median(u_rounds),
        "crawl_s": statistics.median(out.untraced_op_s),
        "fetched_urls_per_s": u_fetched / sum(u_rounds),
        "state_mb": dir_bytes(crawls[0][2].catalog.root) / 2**20,
    }
    out.catalog_root = crawls[-1][2].catalog.root
    out.notes["rounds_per_crawl"] = [len(rs) for _i, rs, _e in crawls]
    out.notes["crawl_s"] = out.untraced_op_s
    out.notes["fetched_per_crawl"] = fetched / len(crawls)
    out.notes["round_s"] = all_rounds
    return out


# --------------------------------------------------------------------- fresh
def fresh_cycle(ctx: Ctx) -> Outcome:
    spark, out = ctx.spark, Outcome()
    # the warm-up cycle's poll, then the supply for the timed window
    n_cycles = _n_ops(ctx, "fresh_cycle")
    n_polls = 1 + n_cycles

    # ---- set-up: inputs (median of reps) and the base frontier
    build = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        base_rows = inputs.seed_list(ctx.seed, FRESH_BASE)
        polls = inputs.poll_batches(ctx.seed, FRESH_BASE, n_polls, FRESH_POLL_HALF)
        root = os.path.join(ctx.work, f"inputs_{rep}")
        inputs.write_parquet(base_rows, os.path.join(root, "base"), ctx.cores)
        for i, p in enumerate(polls):
            inputs.write_parquet(p, os.path.join(root, f"poll_{i}"), ctx.cores)
        base = inputs.read(spark, os.path.join(root, "base"))
        poll_dfs = [inputs.read(spark, os.path.join(root, f"poll_{i}")) for i in range(n_polls)]
        build.append(time.perf_counter() - t0)
    pol = _politeness(spark, FRESH_REFILL)
    eng = CrawlEngine(spark, os.path.join(ctx.work, "fresh"), politeness=pol)
    t0 = time.perf_counter()
    eng.ingest(base)
    base_s = time.perf_counter() - t0
    # warm-up: the first poll + round cycle; its outputs are checked too
    t0 = time.perf_counter()
    admitted = [eng.ingest_incremental(poll_dfs[0])]
    stats = [eng.step(eng.catalog.latest_round() + 1)]
    out.attempted += 2
    warmup_s = time.perf_counter() - t0
    out.notes["setup_parts_s"] = {"inputs": build, "base_ingest": base_s, "warmup": warmup_s}
    setup_s = statistics.median(build) + base_s + warmup_s

    # ---- timed: poll + round cycles for the window
    admits, rounds_t, u_fetched = [], out.untraced_round_s, 0
    state_bytes = None
    for k in range(n_cycles):
        traced = _is_traced(ctx, k)
        poll = poll_dfs[1 + k]
        out.attempted += 2
        a_s, n_new = _timed(ctx, "admit", lambda p=poll: eng.ingest_incremental(p), traced)
        admitted.append(n_new)
        r = eng.catalog.latest_round() + 1
        r_s, st = _timed(ctx, "round", lambda r=r: eng.step(r), traced)
        stats.append(st)
        (out.traced_op_s if traced else out.untraced_op_s).append(a_s + r_s)
        if not traced:
            admits.append(a_s)
            rounds_t.append(r_s)
            u_fetched += st.fetched_ok + st.fetched_fail
        if k + 1 == STATE_AFTER_CYCLES:
            state_bytes = dir_bytes(eng.catalog.root)

    # ---- checks (untimed): every poll's admitted rows against the oracle
    # over the cumulative link stream, and each round's pops and fetches
    t0 = time.perf_counter()
    stream = base_rows + [row for p in polls[: len(admitted)] for row in p]
    want = {cu: (e.url, e.discovery_time) for cu, e in oracle.ingest(stream).items()}
    got = {
        r["canonical_url"]: (r["url"], r["discovery_time"])
        for r in eng.final_frontier().select("canonical_url", "url", "discovery_time").collect()
    }

    def poll_of(disc) -> int:
        """Poll index that delivered the row discovered at ``disc`` (-1 = base)."""
        pos = int((disc - inputs.EPOCH_DISC).total_seconds())
        return (pos - FRESH_BASE) // (2 * FRESH_POLL_HALF) if pos >= FRESH_BASE else -1

    bad = {poll_of((want.get(cu) or got[cu])[1]) for cu in want.keys() | got.keys()
           if want.get(cu) != got.get(cu)}
    want_new = Counter(poll_of(d) for _u, d in want.values())
    bad |= {i for i, n in enumerate(admitted) if n != want_new.get(i, 0)}
    out.failed += len(bad)  # the base ingest counts as one more op
    out.attempted += 1

    pops = defaultdict(list)
    for r in eng.pops_in_order().collect():
        pops[r["round"]].append(r["canonical_url"])
    lineage = defaultdict(lambda: [0, 0, 0])
    for r in eng.lineage().collect():
        acc = lineage[r["round"]]
        acc[0] += r["popped"]
        acc[1] += r["fetched_ok"]
        acc[2] += r["fetched_fail"]
    for st in stats:
        ok = (
            st.popped == st.fetched_ok + st.fetched_fail
            and st.popped == len(pops[st.round_no])
            and 0 < st.popped <= FRESH_REFILL * len(synth.SOURCES)
            and lineage[st.round_no] == [st.popped, st.fetched_ok, st.fetched_fail]
            # the synthetic network decides every fetch outcome
            and st.fetched_ok == sum(synth.page_ok(u) for u in pops[st.round_no])
        )
        out.failed += not ok
    out.notes["check_s"] = time.perf_counter() - t0

    out.metrics = {
        "setup_s": setup_s,
        "admit_s_p50": statistics.median(admits),
        "round_s_p50": statistics.median(rounds_t),
        "crawl_s": statistics.median(out.untraced_op_s),
        "fetched_urls_per_s": u_fetched / sum(rounds_t),
        "state_mb": (state_bytes or dir_bytes(eng.catalog.root)) / 2**20,
    }
    out.catalog_root = eng.catalog.root
    out.notes.update(
        cycles=n_cycles, admitted_per_poll=admitted, admit_s=admits, round_s=rounds_t,
        popped_per_round=[st.popped for st in stats],
    )
    return out


WORKLOADS = {"historical_crawl": historical_crawl, "fresh_cycle": fresh_cycle}


def cleanup(ctx: Ctx) -> None:
    shutil.rmtree(ctx.work, ignore_errors=True)
