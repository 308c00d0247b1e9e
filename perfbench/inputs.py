"""Seeded crawl inputs: seed lists and link-poll batches.

Every row is a pure function of ``(seed, position)`` so the same
``--seed`` always yields the same inputs, and the pure-Python oracle sees
exactly the rows the engine ingests. URL shapes, dirty spellings and
~20% duplicate rate follow :mod:`news_crawler_spark.synth` (the synthetic
network the engine fetches from); the seed picks which articles appear.

Inputs are written to parquet before any timed region, so the per-row
python generation is never billed to ``ingest``/``ingest_incremental``.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from news_crawler_spark import schemas, synth
from news_crawler_spark.functions.xxh64 import xxh64_str

_EPOCH_PUB = datetime(2024, 1, 1)
EPOCH_DISC = datetime(2024, 6, 1)
# article keys of different seeds never collide (nid = 84000000 + key);
# the offset keeps every seed clear of the default robots deny prefix
_KEYS_PER_SEED = 10_000_000
_SERVED_STRIDE = 1_000_000

_SCHEMA = pa.schema(
    [
        pa.field("source", pa.string(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        # tz-aware so Spark reads TIMESTAMP (not TIMESTAMP_NTZ), matching
        # schemas.SEED_LIST; the session time zone is UTC
        pa.field("published_ts", pa.timestamp("us", tz="UTC")),
        pa.field("discovery_time", pa.timestamp("us", tz="UTC")),
    ]
)


def _u(h: int) -> int:
    return h & 0xFFFFFFFFFFFFFFFF


def _article(seed: int, i: int) -> int:
    """Article key of stream index ``i``: ~20% re-discover an earlier one."""
    h = _u(xxh64_str(f"bench:{seed}:{i}"))
    local = (h >> 8) % i if i > 0 and h % 5 == 0 else i
    return (seed + 1) * _KEYS_PER_SEED + local


def _served(art: int) -> int:
    """The first of ``art``, ``art + stride``, … whose page the synthetic
    network serves (about 5% of pages always fail to fetch)."""
    while not synth.page_ok(synth.clean_url(art)[2]):
        art += _SERVED_STRIDE
    return art


def _row(seed: int, art: int, spelling: int, position: int) -> dict:
    source, _host, url = synth.clean_url(art)
    variant = _u(xxh64_str(f"benchvar:{seed}:{spelling}")) % 8
    pub = _EPOCH_PUB + timedelta(
        seconds=int(_u(xxh64_str(f"pub:{art}")) % (90 * 86400))
    )
    return {
        "source": source,
        "url": synth.dirty_variant(url, variant),
        "published_ts": pub,
        "discovery_time": EPOCH_DISC + timedelta(seconds=position),
    }


def seed_list(seed: int, n: int, served_only: bool = False) -> list[dict]:
    """The first ``n`` rows of the seed's link stream, in discovery order.
    ``served_only`` swaps every article whose page fails to fetch for one
    that is served, so a crawl of the list needs no retry rounds."""
    pick = _served if served_only else int
    return [_row(seed, pick(_article(seed, i)), i, i) for i in range(n)]


def poll_batches(seed: int, base_n: int, n_polls: int, half: int) -> list[list[dict]]:
    """``n_polls`` link polls following a ``base_n``-row seed list. Poll
    ``k`` re-delivers the ``half`` links that were new in the previous
    window (respelled, as an at-least-once feed would) and carries
    ``half`` links never delivered before. Discovery times keep rising
    across the whole stream, so first-wins order is the delivery order."""
    polls = []
    pos = base_n
    for k in range(n_polls):
        new_lo = base_n + k * half
        batch = []
        for i in range(new_lo - half, new_lo):
            # respelling index: distinct from the first delivery's
            batch.append(_row(seed, _article(seed, i), -1 - i - k, pos))
            pos += 1
        for i in range(new_lo, new_lo + half):
            batch.append(_row(seed, _article(seed, i), i, pos))
            pos += 1
        polls.append(batch)
    return polls


def write_parquet(rows: list[dict], path: str, files: int) -> None:
    """Write ``rows`` as ``files`` parquet files (one Spark partition
    each, so the engine sees a batch spread over all cores)."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist(
        [
            dict(
                r,
                published_ts=r["published_ts"].replace(tzinfo=timezone.utc),
                discovery_time=r["discovery_time"].replace(tzinfo=timezone.utc),
            )
            for r in rows
        ],
        schema=_SCHEMA,
    )
    step = -(-len(rows) // files) if rows else 1
    for f in range(files):
        part = table.slice(f * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{f:03d}.parquet"))


def read(spark, path: str):
    """The materialized batch as a DataFrame (schema given, so opening it
    runs no inference job)."""
    return spark.read.schema(schemas.SEED_LIST).parquet(path)
