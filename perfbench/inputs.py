"""Seeded benchmark inputs. Generation is the load generator's cost: it
runs before any timed region and the program only sees the files."""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of the sf0.01 TPC-H-shaped tables the registry queries were
# written for; at these sizes every query in the mix returns rows.
N_DOCUMENTS = 500
N_ORDERS = 15_000
N_LINEITEMS = 60_000
N_CUSTOMERS = 1_500
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream order group filter vector"
).split()
LANGS = ("en", "zh", "de", "es", "fr")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < 0.08:
            # near-duplicate of an earlier document: one word changed,
            # so dedup_ngram_jaccard has pairs above its 0.6 threshold
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), N_DOCUMENTS, p=[0.44, 0.15, 0.14, 0.14, 0.13])],
        "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _days(base: dt.datetime, offsets: np.ndarray) -> pa.Array:
    return pa.array([base + dt.timedelta(days=int(d)) for d in offsets], pa.timestamp("us"))


def _orders_lineitem(rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    order_day = rng.integers(0, 2400, N_ORDERS)
    base = dt.datetime(1995, 1, 1)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, N_ORDERS), 2),
        "o_orderdate": _days(base, order_day),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, N_ORDERS)],
    })
    okey = rng.integers(0, N_ORDERS, N_LINEITEMS)
    qty = rng.integers(1, 51, N_LINEITEMS).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2_000, N_LINEITEMS), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, N_LINEITEMS), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 3_000, N_LINEITEMS), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEMS) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEMS) / 100, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, N_LINEITEMS)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, N_LINEITEMS)],
        "l_shipdate": _days(base, order_day[okey] + rng.integers(-5, 60, N_LINEITEMS)),
    })
    return orders, lineitem


def write_registry_tables(out_dir: str, seed: int) -> None:
    """``documents``, ``orders`` and ``lineitem`` as single parquet files
    with the TPC-H-shaped schemas the queries read (the streaming queries glob
    ``<dir>/documents.*``, so each table is one file)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    orders, lineitem = _orders_lineitem(rng)
    for name, table in (("documents", _documents(rng)), ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# Shape and per-mille violation rates of the engine's own generator
# (``synth.GenParams`` defaults), drawn here with numpy so that input
# generation starts no JVM and does not change when the program does.
MAX_SPANS = 8
DUP_DOC_ID = 5  # of docs: doc_id equals the previous doc's id
KIND_CUTS = (4, 8, 758, 888, 958)  # null, 'video' (not in vocab), text, image, audio; rest table
KINDS = (None, "video", "text", "image", "audio", "table")
TEXT_NULL, TEXT_SENTINEL = 4, 6  # of text-ish spans
SENTINELS = ("   ", "n/a", "unknown")
MEDIA_TEXT_SET = 3  # of media spans: text wrongly set
MEDIA_REF_NULL, DANGLING_REF = 4, 10  # of media spans
TEXT_HAS_MEDIA_REF = 3  # of text-ish spans: media_ref wrongly set
BAD_OFFSET = 6  # of spans: half negative, half below the previous span
HOT_ASSET_SHARE = 300  # of media refs: asset 0
MEDIA_KINDS = ("image", "audio", "table")


def validate_corpus(seed: int, n_docs: int) -> tuple[pa.Table, pa.Table]:
    """``(docs, catalog)``: ``docs(doc_id, spans array<struct<kind,
    text, media_ref, offset>>)`` with seeded violations of every row
    constraint, duplicate ids and dangling refs, and a catalog of one
    asset per five docs."""
    rng = np.random.default_rng(seed)
    n_assets = n_docs // 5

    def permille(n: int) -> np.ndarray:
        return rng.integers(0, 1000, n)

    key = np.arange(n_docs)
    dup = (permille(n_docs) < DUP_DOC_ID) & (key > 0)
    doc_id = [f"doc-{k:012d}" for k in np.where(dup, key - 1, key)]
    n_spans = 1 + rng.integers(0, MAX_SPANS, n_docs)
    n = int(n_spans.sum())
    j = np.arange(n) - np.repeat(np.cumsum(n_spans) - n_spans, n_spans)

    kind_ix = np.searchsorted(KIND_CUTS, permille(n), side="right")
    textish = kind_ix <= 2
    words = rng.integers(0, 50_000, n)
    lengths = 4 + rng.integers(0, 24, n)
    body = [" ".join([f"w{w:05d}"] * k) for w, k in zip(words, lengths)]
    r_txt, r_mtxt = permille(n), permille(n)
    asset = np.where(permille(n) < HOT_ASSET_SHARE, 0, rng.integers(0, max(1, n_assets), n))
    dangling = n_assets + rng.integers(0, 100_000, n)
    r_ref, r_tref = permille(n), permille(n)
    base = j * 16 + rng.integers(0, 8, n)
    r_off = permille(n)
    offset = np.where(
        r_off < BAD_OFFSET // 2, -(1 + r_off % 7), np.where(r_off < BAD_OFFSET, base - 24, base)
    )

    text, media_ref = [], []
    for s in range(n):
        if textish[s]:
            r = r_txt[s]
            text.append(
                None if r < TEXT_NULL
                else SENTINELS[r % 3] if r < TEXT_NULL + TEXT_SENTINEL
                else body[s]
            )
            media_ref.append(f"asset-{asset[s]:08d}" if r_tref[s] < TEXT_HAS_MEDIA_REF else None)
        else:
            text.append(body[s] if r_mtxt[s] < MEDIA_TEXT_SET else None)
            r = r_ref[s]
            media_ref.append(
                None if r < MEDIA_REF_NULL
                else f"asset-{dangling[s]:08d}" if r < MEDIA_REF_NULL + DANGLING_REF
                else f"asset-{asset[s]:08d}"
            )
    spans = pa.StructArray.from_arrays(
        [
            pa.array([KINDS[k] for k in kind_ix], pa.string()),
            pa.array(text, pa.string()),
            pa.array(media_ref, pa.string()),
            pa.array(offset, pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]), pa.int32())
    docs = pa.table({
        "doc_id": pa.array(doc_id, pa.string()),
        "spans": pa.ListArray.from_arrays(offsets, spans),
    })
    catalog = pa.table({
        "media_ref": [f"asset-{i:08d}" for i in range(n_assets)],
        "media_kind": [MEDIA_KINDS[k] for k in rng.integers(0, len(MEDIA_KINDS), n_assets)],
        "size_bytes": pa.array(128 + rng.integers(0, 50_000_000, n_assets), pa.int64()),
    })
    return docs, catalog


def write_validate_corpus(out_dir: str, seed: int, n_docs: int) -> pa.Table:
    """``docs`` and ``catalog`` parquet directories, one file each (as a
    corpus this size is stored; the checkpoint commit writes one file
    per input task and bucket, so this fixes its shape). Returns docs."""
    docs, catalog = validate_corpus(seed, n_docs)
    for name, table in (("docs", docs), ("catalog", catalog)):
        os.makedirs(os.path.join(out_dir, name))
        pq.write_table(table, os.path.join(out_dir, name, "part-0.parquet"))
    return docs
