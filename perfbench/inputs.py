"""Seeded input generation for the benchmark workloads.

Every table is drawn from one ``numpy.random.Generator`` seeded by the
``--seed`` argument and written with pyarrow, so the same seed gives
byte-identical parquet files. The program under test only ever sees
these files.

Three input sets are built:

- ``clean``: the catalog's ten tables (star schema, events, embeddings,
  and documents with a fixed share of near-duplicates appended), read
  by the dashboard panels and the curation queries.
- ``dirty``: the same tables after re-delivery and NULL damage (exact
  duplicate rows in customer, supplier, orders and lineitem; NULL
  ``p_retailprice``, ``o_orderdate`` and ``l_shipdate``), read by the
  ETL DAG.
- ``stream``: a backlog of events-schema parquet files, one file per
  micro-batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes at scale 1.0; the benchmark runs a fixed fraction.
BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
DUP_SHARE = 0.05  # exact re-delivered rows in customer/supplier/orders/lineitem
NULL_SHARE = 0.05  # NULL p_retailprice, o_orderdate, l_shipdate
NEAR_DUP_SHARE = 0.10  # documents with a near-duplicate copy appended
EMBED_DIM = 64

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream filter group vector"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("blue", "old", "small", "new", "red", "hot", "large", "cold")
P_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

DAY_US = 86_400 * 1_000_000
ORDER_EPOCH_DAY = 9131  # 1995-01-01
ORDER_SPAN_DAYS = 2404  # up to 2001-08-01
EVENT_EPOCH_US = 19723 * DAY_US  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US


@dataclass(frozen=True)
class Inputs:
    """Where the generated inputs live, plus what was generated."""

    clean_dir: str
    dirty_dir: str
    stream_dir: str
    stream_events: int
    properties: dict


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals, as exact cents."""
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return cents / 100.0


def _ts(us: np.ndarray, nulls: np.ndarray | None = None) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"), mask=nulls)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _pick(rng: np.random.Generator, options, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(options), size=n, p=p)
    return pa.array(np.asarray(options, dtype=object)[idx], type=pa.string())


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 91, n)
    words = np.asarray(WORDS, dtype=object)
    return [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]


def base_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """The ten catalog tables with clean, realistic value ranges."""
    n = {k: max(8, int(v * scale)) for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), npart)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), npart)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, npart) / 10.0),
    })
    no = n["orders"]
    odays = ORDER_EPOCH_DAY + rng.integers(0, ORDER_SPAN_DAYS, no)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(odays * DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    # 1..7 lines per order in a seeded order: the total is seed-independent
    lines = rng.permutation(np.arange(no) % 7 + 1)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _ts((odays[okey] + rng.integers(1, 122, nl)) * DAY_US),
    })
    t["events"] = events_table(rng, 0, n["events"], max(8, int(15_000 * scale)))
    nd = n["documents"]
    text = _text(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(text),
        "lang": _pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })
    ne = n["embeddings"]
    vecs = rng.standard_normal((ne, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne), pa.int32()),
    })
    return t


def events_table(
    rng: np.random.Generator, first_id: int, n: int, n_users: int,
    t0_us: int = EVENT_EPOCH_US, span_us: int = EVENT_SPAN_US,
) -> pa.Table:
    """Events-schema rows with ids from ``first_id``, time-ordered in
    ``[t0_us, t0_us + span_us)``."""
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(_money(rng, 0.01, 490.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _redeliver(rng: np.random.Generator, t: pa.Table) -> pa.Table:
    """Append exact copies of a fixed share of rows (re-delivery)."""
    k = int(round(DUP_SHARE * t.num_rows))
    idx = np.sort(rng.choice(t.num_rows, size=k, replace=False))
    return pa.concat_tables([t, t.take(pa.array(idx))])


def _null_out(rng: np.random.Generator, t: pa.Table, col: str) -> pa.Table:
    """Set a fixed share of ``col`` to NULL."""
    k = int(round(NULL_SHARE * t.num_rows))
    mask = np.zeros(t.num_rows, dtype=bool)
    mask[rng.choice(t.num_rows, size=k, replace=False)] = True
    arr = t[col].combine_chunks()
    damaged = pa.array(arr.to_numpy(zero_copy_only=False), arr.type, mask=mask)
    return t.set_column(t.schema.get_field_index(col), col, damaged)


def _near_duplicates(rng: np.random.Generator, docs: pa.Table) -> pa.Table:
    """Append a near-duplicate (two words replaced) of a fixed share of
    documents, with fresh doc ids after the originals."""
    n = docs.num_rows
    k = int(round(NEAR_DUP_SHARE * n))
    src = np.sort(rng.choice(n, size=k, replace=False))
    text = docs["text"].to_pylist()
    new_text = []
    for i in src:
        words = text[i].split(" ")
        for pos in rng.integers(0, len(words), 2):
            words[pos] = WORDS[rng.integers(0, len(WORDS))]
        new_text.append(" ".join(words))
    copies = pa.table({
        "doc_id": pa.array(np.arange(n, n + k), pa.int64()),
        "text": pa.array(new_text),
        "lang": docs["lang"].take(pa.array(src)),
        "source": docs["source"].take(pa.array(src)),
        "n_chars": pa.array([len(s) for s in new_text], pa.int64()),
    })
    return pa.concat_tables([docs, copies])


def dirty_tables(rng: np.random.Generator, t: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """The clean tables after NULL damage and re-delivery."""
    d = dict(t)
    d["part"] = _null_out(rng, t["part"], "p_retailprice")
    d["orders"] = _null_out(rng, t["orders"], "o_orderdate")
    d["lineitem"] = _null_out(rng, t["lineitem"], "l_shipdate")
    for name in ("customer", "supplier", "orders", "lineitem"):
        d[name] = _redeliver(rng, d[name])
    return d


def generate(
    root: str, seed: int, scale: float, stream_files: int, events_per_file: int
) -> Inputs:
    """Write every input set under ``root`` and return where they are."""
    rng = np.random.default_rng(seed)
    clean = base_tables(rng, scale)
    n_docs = clean["documents"].num_rows
    clean["documents"] = _near_duplicates(rng, clean["documents"])
    dirty = dirty_tables(rng, clean)
    dirs = {k: os.path.join(root, k) for k in ("clean", "dirty", "stream")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    for name, tab in clean.items():
        _write(tab, os.path.join(dirs["clean"], f"{name}.parquet"))
    for name, tab in dirty.items():
        _write(tab, os.path.join(dirs["dirty"], f"{name}.parquet"))
    n_users = max(8, int(15_000 * scale))
    span = EVENT_SPAN_US // stream_files
    for i in range(stream_files):
        tab = events_table(
            rng, i * events_per_file, events_per_file, n_users,
            EVENT_EPOCH_US + i * span, span,
        )
        _write(tab, os.path.join(dirs["stream"], f"batch-{i:04d}.parquet"))
    return Inputs(
        dirs["clean"], dirs["dirty"], dirs["stream"],
        stream_files * events_per_file,
        properties(clean, dirty, n_docs, stream_files, events_per_file),
    )


def properties(
    clean: dict[str, pa.Table], dirty: dict[str, pa.Table], n_docs: int,
    stream_files: int, events_per_file: int,
) -> dict:
    """Rows and measured property shares of what was generated."""
    def null_share(t: pa.Table, col: str) -> float:
        return round(t[col].null_count / t.num_rows, 6)

    def dup_share(name: str) -> float:
        return round(1 - clean[name].num_rows / dirty[name].num_rows, 6)

    return {
        "clean_rows": {k: v.num_rows for k, v in clean.items()},
        "dirty_rows": {k: v.num_rows for k, v in dirty.items()},
        "duplicate_share": {
            k: dup_share(k) for k in ("customer", "supplier", "orders", "lineitem")
        },
        "null_share": {
            "part.p_retailprice": null_share(dirty["part"], "p_retailprice"),
            "orders.o_orderdate": null_share(dirty["orders"], "o_orderdate"),
            "lineitem.l_shipdate": null_share(dirty["lineitem"], "l_shipdate"),
        },
        "near_duplicate_share": round(
            1 - n_docs / clean["documents"].num_rows, 6
        ),
        "stream_batches": stream_files,
        "events_per_batch": events_per_file,
    }


def tree_bytes(path: str) -> int:
    """Total size of the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path) for f in files
    )
