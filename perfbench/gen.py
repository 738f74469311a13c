"""Seeded input generator for the benchmark.

Every table is written as parquet under the `sources.registry` schemas,
so the engine sees nothing but generated inputs. The same seed gives
byte-identical tables (and identical digests); another seed gives other
tables. Sizes are per workload (`SIZES`) and recorded in BENCHMARK.json.

Shapes:

- events: naive microsecond timestamps over 30 days, Zipf-skewed users
  (rank -> user id through a seeded permutation), five event types and
  exponentially distributed values (mean 50), like the fixed test data.
- documents: lowercase, punctuation-free prose over a Zipf vocabulary
  with the registry's stopwords mixed in. Planted at stated rates:
  exact duplicates, near-duplicates (one or two token substitutions)
  and eval-excerpt documents that quote 20 tokens of a doc whose id is
  a multiple of 7 (the excerpt suite `decontaminate_13gram` builds).
  `doc_id` stays below 20,000,000, the offset that entry gives eval ids.
- embeddings: 64-dim unit vectors, weakly clustered around 8 centres,
  with planted near-duplicate vectors (cosine ~0.98).
- feed: one parquet file per collector poll (one micro-batch each under
  `maxFilesPerTrigger=1`). A poll holds the events of its time slice,
  late events from up to five minutes before the slice (inside the
  engine's ten-minute watermark, so none is dropped), byte-identical
  redeliveries of events from earlier polls, all in shuffled order.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES: dict[str, dict[str, int]] = {
    "dashboard": {"events": 100_000, "users": 1_500, "documents": 200, "embeddings": 200},
    "curation": {"events": 2_000, "users": 200, "documents": 3_000, "embeddings": 600},
    "feed_ingest": {
        "events": 2_000,
        "users": 1_500,
        "documents": 200,
        "embeddings": 200,
        "polls": 3,
        "events_per_poll": 25_000,
    },
}

RATES = {
    "exact_dup": 0.03,
    "near_dup": 0.03,
    "eval_excerpt": 0.02,
    "emb_near_dup": 0.02,
    "late": 0.05,
    "redelivered": 0.02,
}

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
LANGS = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
STOPWORDS = [
    "the", "a", "of", "and", "to", "in", "is", "that",
    "der", "die", "und", "la", "de", "le", "et",
]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
DAY_US = 86_400 * 1_000_000
ZIPF_S = 1.1


@dataclass
class Inputs:
    """Where a workload's tables are, plus what the generator planted."""

    sf_dir: str
    digests: dict[str, str]
    sizes: dict[str, int]
    feed_dir: str = ""
    feed_files: list[str] = field(default_factory=list)
    # ground truth the correctness checks compare against
    near_dup_pairs: list[tuple[int, int]] = field(default_factory=list)
    exact_dup_pairs: list[tuple[int, int]] = field(default_factory=list)
    feed_rows: int = 0
    feed_distinct: int = 0
    feed_alerts: int = 0
    feed_bytes: int = 0


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int) -> np.ndarray:
    """Bounded Zipf ranks 0..n_items-1 (rank 0 hottest)."""
    p = 1.0 / np.arange(1, n_items + 1) ** ZIPF_S
    return rng.choice(n_items, size=size, p=p / p.sum())


def _digest(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _events(rng: np.random.Generator, n: int, n_users: int, start_us: int, span_us: int,
            first_id: int = 0) -> pa.Table:
    ts = np.sort(start_us + rng.integers(0, span_us, size=n))
    users = rng.permutation(n_users)[_zipf_choice(rng, n_users, n)]
    return _events_table(
        np.arange(first_id, first_id + n, dtype=np.int64),
        ts,
        users.astype(np.int64),
        EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)],
        np.round(rng.exponential(50.0, size=n), 2),
        rng.integers(0, 100, size=n),
    )


def _events_table(ids, ts, users, types, values, k) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array(values, pa.float64()),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k], pa.string()),
        }
    )


def _vocabulary(rng: np.random.Generator, n_words: int = 3000) -> list[str]:
    syll = ["ka", "lo", "mi", "ren", "tu", "sa", "vo", "ne", "ri", "da", "po", "li",
            "gan", "te", "mo", "shi", "ba", "ku", "fe", "zo"]
    words: set[str] = set(STOPWORDS)
    out = list(STOPWORDS)
    while len(out) < n_words:
        w = "".join(rng.choice(syll, size=int(rng.integers(2, 4))))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _documents(rng: np.random.Generator, n: int):
    """Documents with planted duplicates; returns (table, exact pairs,
    near pairs) where a pair is (original doc_id, copy doc_id)."""
    vocab = np.array(_vocabulary(rng))
    n_exact = int(n * RATES["exact_dup"])
    n_near = int(n * RATES["near_dup"])
    n_eval = int(n * RATES["eval_excerpt"])
    n_base = n - n_exact - n_near - n_eval
    lengths = np.clip(rng.lognormal(np.log(50), 0.4, size=n), 24, 200).astype(int)
    ranks = _zipf_choice(rng, len(vocab), int(lengths.sum()))
    words = vocab[ranks]
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    toks = [list(words[offsets[i]:offsets[i + 1]]) for i in range(n)]
    # doc ids: a seeded sample of [0, 20M) so ids are sparse, unique
    # and below decontaminate_13gram's 20M eval-id offset
    ids = np.sort(rng.choice(20_000_000, size=n, replace=False)).astype(np.int64)
    order = rng.permutation(n)  # which slots hold copies
    base_slots = order[:n_base]
    exact_pairs: list[tuple[int, int]] = []
    near_pairs: list[tuple[int, int]] = []
    pos = n_base
    for _ in range(n_exact):
        src, dst = int(rng.choice(base_slots)), int(order[pos])
        toks[dst] = list(toks[src])
        exact_pairs.append((int(ids[src]), int(ids[dst])))
        pos += 1
    for _ in range(n_near):
        src, dst = int(rng.choice(base_slots)), int(order[pos])
        copy = list(toks[src])
        for _ in range(int(rng.integers(1, 3))):
            copy[int(rng.integers(0, len(copy)))] = str(vocab[rng.integers(0, len(vocab))])
        toks[dst] = copy
        near_pairs.append((int(ids[src]), int(ids[dst])))
        pos += 1
    excerpt_srcs = [s for s in base_slots if ids[s] % 7 == 0 and len(toks[s]) >= 24]
    for _ in range(n_eval):
        src, dst = int(rng.choice(excerpt_srcs)), int(order[pos])
        toks[dst] = toks[dst][:10] + toks[src][3:23] + toks[dst][10:20]
        pos += 1
    texts = [" ".join(t) for t in toks]
    sources = [f"src{int(s)}" for s in rng.integers(0, 20, size=n)]
    # a copy shares its original's source: every dedup operator blocks
    # on source, as a per-crawl pipeline does
    src_of = dict(zip(ids.tolist(), sources))
    slot_of = {int(i): k for k, i in enumerate(ids)}
    for a, b in exact_pairs + near_pairs:
        sources[slot_of[b]] = src_of[a]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)], pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, exact_pairs, near_pairs


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 8) -> pa.Table:
    centres = rng.standard_normal((k, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, k, size=n)
    noise = rng.standard_normal((n, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    x = 0.3 * centres[labels] + noise
    n_dup = int(n * RATES["emb_near_dup"])
    src = rng.choice(n - n_dup, size=n_dup)
    jitter = rng.standard_normal((n_dup, dim))
    x[n - n_dup:] = x[src] + 0.2 * jitter / np.linalg.norm(jitter, axis=1, keepdims=True)
    labels[n - n_dup:] = labels[src]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def _star_schema(rng: np.random.Generator, n_customers: int) -> dict[str, pa.Table]:
    """Small TPC-H-shaped dimension tables. `customer` keys cover every
    user id, since `minute_corr_join` joins events.user_id to it."""
    n_supp, n_part, n_orders = 100, 200, 1_500
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    n_line = n_orders * 4
    odate = EPOCH_US - 365 * DAY_US + rng.integers(0, 365, size=n_orders) * DAY_US
    l_order = np.repeat(np.arange(n_orders), 4)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, size=n_customers), 2),
            "c_mktsegment": segs[rng.integers(0, 5, size=n_customers)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, size=n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{int(b)}" for b in rng.integers(11, 56, size=n_part)],
            "p_type": [f"TYPE{int(t)}" for t in rng.integers(0, 25, size=n_part)],
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": np.round(rng.uniform(900, 2000, size=n_part), 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, size=n_orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, size=n_orders)],
            "o_totalprice": np.round(rng.uniform(1000, 400000, size=n_orders), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": prio[rng.integers(0, 5, size=n_orders)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), pa.int64()),
            "l_linenumber": pa.array(np.tile(np.arange(1, 5), n_orders), pa.int32()),
            "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, size=n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_line) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, size=n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, size=n_line)],
            "l_shipdate": pa.array(odate[l_order] + rng.integers(1, 120, size=n_line) * DAY_US,
                                   pa.timestamp("us")),
        }),
    }


def _feed(rng: np.random.Generator, n_polls: int, per_poll: int, n_users: int,
          feed_dir: str) -> tuple[list[str], dict]:
    """Write one parquet file per poll under `feed_dir/events.parquet/`."""
    slice_us = 3_600 * 1_000_000  # one hour of events per poll
    late_us = 5 * 60 * 1_000_000
    n_late = int(per_poll * RATES["late"])
    n_redo = int(per_poll * RATES["redelivered"])
    os.makedirs(os.path.join(feed_dir, "events.parquet"))
    files: list[str] = []
    sent: list[pa.Table] = []
    next_id = 0
    rows = distinct = alerts = nbytes = 0
    for i in range(n_polls):
        start = EPOCH_US + i * slice_us
        fresh = _events(rng, per_poll - n_late, n_users, start, slice_us, next_id)
        next_id += fresh.num_rows
        late = _events(rng, n_late, n_users, start - late_us, late_us, next_id)
        next_id += late.num_rows
        parts = [fresh, late]
        if sent:
            earlier = pa.concat_tables(sent)
            parts.append(earlier.take(rng.choice(earlier.num_rows, n_redo, replace=False)))
        sent.extend([fresh, late])
        poll = pa.concat_tables(parts)
        poll = poll.take(rng.permutation(poll.num_rows))  # out of order
        path = os.path.join(feed_dir, "events.parquet", f"poll-{i:04d}.parquet")
        _write(poll, path)
        files.append(path)
        rows += poll.num_rows
        distinct += fresh.num_rows + late.num_rows
        # rows above stream_alerts_to_table's default threshold
        alerts += int(np.sum(poll.column("value").to_numpy() > 99.0))
        nbytes += os.path.getsize(path)
    return files, {"feed_rows": rows, "feed_distinct": distinct, "feed_alerts": alerts,
                   "feed_bytes": nbytes}


def generate(workload: str, seed: int, root: str) -> Inputs:
    """Write every registry table for `workload` under `root/sf` and
    return where they are with their digests and planted ground truth."""
    sizes = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    sf_dir = os.path.join(root, "sf")
    os.makedirs(sf_dir)
    tables = _star_schema(rng, sizes["users"])
    tables["events"] = _events(rng, sizes["events"], sizes["users"], EPOCH_US, 30 * DAY_US)
    docs, exact_pairs, near_pairs = _documents(rng, sizes["documents"])
    tables["documents"] = docs
    tables["embeddings"] = _embeddings(rng, sizes["embeddings"])
    inputs = Inputs(sf_dir=sf_dir, digests={}, sizes=dict(sizes),
                    exact_dup_pairs=exact_pairs, near_dup_pairs=near_pairs)
    for name, table in tables.items():
        _write(table, os.path.join(sf_dir, f"{name}.parquet"))
        inputs.digests[name] = _digest(table)
    if "polls" in sizes:
        feed_dir = inputs.feed_dir = os.path.join(root, "feed")
        inputs.feed_files, stats = _feed(
            rng, sizes["polls"], sizes["events_per_poll"], sizes["users"], feed_dir
        )
        for k, v in stats.items():
            setattr(inputs, k, v)
        inputs.digests["feed"] = _digest(pa.concat_tables(pq.read_table(f) for f in inputs.feed_files))
    return inputs
