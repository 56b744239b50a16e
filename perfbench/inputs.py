"""Seeded benchmark inputs, written as parquet inside the run's work dir.

Pages come from ``dedupe_trees_spark.datagen`` (the generator the tests
and ``bench.py`` use) but are generated on the driver and written with
pyarrow, so input preparation is timed apart from the engine. The
planted truth columns never reach the engine: they go to a separate
frame (the sidecar) that only the recall check reads.

The query fixtures mimic the four driver tables the query leaves read
(``documents``, ``events``, ``lineitem``, ``orders``): one parquet file
with one row group per table, the same layout ``queries.load`` sees in
the driver's fixture directories.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dedupe_trees_spark.datagen import GenConfig, gen_batch

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("source_order", pa.int32()),
    ]
)
TRUTH_COLS = ["url", "text", "truth_cluster", "truth_kind"]


@dataclass(frozen=True)
class Pages:
    """Engine input files plus the truth sidecar of planted clusters."""

    path: str
    n_docs: int
    truth: pd.DataFrame  # cluster members only: url, text, truth_cluster, truth_kind


def _write_parts(df: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet parts, so the engine's scan
    splits across cores the way a multi-file crawl input does."""
    os.makedirs(path, exist_ok=True)
    ts = pd.to_datetime(df["warc_ts"]).dt.tz_localize("UTC")
    table = pa.Table.from_pandas(
        df.assign(warc_ts=ts)[PAGES_SCHEMA.names],
        schema=PAGES_SCHEMA,
        preserve_index=False,
    )
    step = -(-len(df) // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def held_back(urls: pd.Series, every: int) -> np.ndarray:
    """Deterministic ~1/every sample of urls (crc32 of the url)."""
    return np.array([zlib.crc32(u.encode()) % every == 0 for u in urls], dtype=bool)


def make_split_corpus(
    cfg: GenConfig, n_fresh: int, hold_every: int, root: str, n_files: int
) -> tuple[Pages, Pages, Pages]:
    """(index corpus, update batch, their union). The batch holds back
    ~1/hold_every of the corpus — members of clusters the index already
    holds — plus ``n_fresh`` docs with ids past the corpus. The union is
    the input of the batch run the incremental result must equal."""
    df = gen_batch(cfg, np.arange(cfg.id_start, cfg.id_start + cfg.n_docs))
    fresh = gen_batch(cfg, np.arange(cfg.n_docs, cfg.n_docs + n_fresh))
    back = held_back(df["url"], hold_every)
    index_df, batch_df = df[~back], pd.concat([df[back], fresh], ignore_index=True)
    union_df = pd.concat([index_df, batch_df], ignore_index=True)
    out = []
    for name, part in (("index_in", index_df), ("batch", batch_df), ("union", union_df)):
        path = os.path.join(root, name)
        _write_parts(part, path, n_files)
        truth = part.loc[part["truth_kind"] != "unique", TRUTH_COLS]
        out.append(Pages(path, len(part), truth.reset_index(drop=True)))
    return out[0], out[1], out[2]


# ---------------------------------------------------------------------------
# query-leaf fixtures


def _one_file(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _ts(values) -> pd.Series:
    # naive microsecond timestamps, as in the driver's fixture files
    return pd.Series(pd.to_datetime(values)).astype("datetime64[us]")


def make_query_tables(seed: int, root: str, n_docs: int, n_events: int,
                      n_orders: int) -> str:
    """Write documents/events/lineitem/orders under ``root``; returns the
    directory to pass as ``sf_dir`` to ``queries.QUERIES[...]``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 7])
    pages = gen_batch(GenConfig(n_docs=n_docs, seed=seed), np.arange(n_docs))
    _one_file(
        pd.DataFrame(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": pages["text"],
                "lang": pages["lang"],
                "source": pages["source"],
                "n_chars": pages["text"].str.len().astype(np.int64),
            }
        ),
        os.path.join(root, "documents.parquet"),
    )

    n_users = max(10, n_events // 70)
    secs = np.sort(rng.integers(0, 30 * 24 * 3600, size=n_events))
    _one_file(
        pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": _ts(np.datetime64("2024-01-01") + secs.astype("timedelta64[s]")),
                "user_id": rng.integers(0, n_users, size=n_events).astype(np.int64),
                "event_type": rng.choice(
                    ["click", "view", "purchase", "signup", "error"], size=n_events
                ),
                "value": np.round(rng.exponential(50.0, size=n_events), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
            }
        ),
        os.path.join(root, "events.parquet"),
    )

    days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) / np.timedelta64(1, "D"))
    odate = np.datetime64("1995-01-01") + rng.integers(0, days, size=n_orders).astype("timedelta64[D]")
    _one_file(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, max(10, n_orders // 10), size=n_orders).astype(np.int64),
                "o_orderstatus": rng.choice(["O", "F", "P"], size=n_orders),
                "o_totalprice": np.round(rng.uniform(900, 500_000, size=n_orders), 2),
                "o_orderdate": _ts(odate),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    size=n_orders,
                ),
            }
        ),
        os.path.join(root, "orders.parquet"),
    )

    n_items = 4 * n_orders
    qty = rng.integers(1, 51, size=n_items).astype(np.float64)
    ship = np.datetime64("1995-01-02") + rng.integers(0, days + 90, size=n_items).astype("timedelta64[D]")
    _one_file(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_orders, size=n_items).astype(np.int64),
                "l_partkey": rng.integers(0, 200, size=n_items).astype(np.int64),
                "l_suppkey": rng.integers(0, 10, size=n_items).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, size=n_items).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2100, size=n_items), 2),
                "l_discount": np.round(rng.integers(0, 11, size=n_items) / 100, 2),
                "l_tax": np.round(rng.integers(0, 9, size=n_items) / 100, 2),
                "l_returnflag": rng.choice(["A", "N", "R"], size=n_items),
                "l_linestatus": rng.choice(["F", "O"], size=n_items),
                "l_shipdate": _ts(ship),
            }
        ),
        os.path.join(root, "lineitem.parquet"),
    )
    return root
