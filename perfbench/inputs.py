"""Seeded, offline input generation for every benchmark workload.

Everything a workload reads is produced here from `--seed`; nothing is
downloaded. The program under test only ever sees the written files (or,
for the curation stream, the generated batch order).

- `write_harness_tables`: the ten-table star schema + `events` /
  `documents` / `embeddings` that the query registry reads, with the
  column names, physical types, row counts and value distributions of
  the sf0.01 harness tables the registry's differential gate reads
  (measured on those tables: uniform keys with ~4.07 lineitems per
  order; `events.value` exponential with mean ~50; 150 users per 10k
  events; 10-100-word documents over a 31-word vocabulary, 5% of them a
  copy of another document plus " dup"; isotropic unit embeddings with
  labels independent of the vectors).
- `posts_rows` / `feed_pages` / `post_json_docs`: the post shapes of
  `tests/fixtures.py` (duplicates, nulls, mixed-case hashtags, sidecars,
  threaded comments), scaled to N posts.
- `write_png_folder`: a folder of small RGB PNGs encoded by
  `sources.binary.encode_png`.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# value domains of the harness tables
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "hot", "blue", "old", "new", "cold", "large"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_HASHTAGS = ["Art", "museum", "TRAVEL", "city", "architecture", "Sunset", "food"]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return np.datetime64(lo, "D") + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def harness_sizes(scale: float, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Row counts per table; `scale` 0.01 gives the sf0.01 shape."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": n_docs,
        "embeddings": n_vecs,
    }


def documents(seed: int, n: int, stream: bool = False) -> list[tuple[int, str, str, str]]:
    """(doc_id, text, lang, source) rows: random 10-100-word texts over a
    31-word vocabulary; n // 20 rows at random positions are replaced by
    another row's text plus " dup" (a copy of a copy gets " dup dup",
    and two copies of one row are exact duplicates), as in the harness
    documents (sf0.01: 25 near-duplicates, 0 exact; sf0.1: 250, 8).
    The harness copies rows from anywhere in the table; with `stream`
    a copy is of an earlier row, as a repost follows its original."""
    rng = random.Random(seed * 7919 + 11)
    texts, langs = [], []
    for _ in range(n):
        texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 100))))
        langs.append(rng.choices(_LANGS, _LANG_P)[0])
    for i in rng.sample(range(1, n) if stream else range(n), n // 20):
        texts[i] = texts[rng.randrange(i) if stream else rng.randrange(n)] + " dup"
    return [(i, texts[i], langs[i], f"src{i % 20}") for i in range(n)]


def write_harness_tables(out_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write the ten harness tables as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = sizes["customer"], sizes["supplier"], sizes["part"]
    n_ord, n_li, n_ev = sizes["orders"], sizes["lineitem"], sizes["events"]
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust), s),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(rng.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(_STATUSES, n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord).astype("datetime64[us]"), ts),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord), s),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li).astype("datetime64[us]"), ts),
    })
    month_us = 30 * 86400 * 1_000_000
    ev_us = np.sort(rng.integers(0, month_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(n_ev * 3 // 200, 10), n_ev), i64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    docs = documents(seed, sizes["documents"])
    _write(out_dir, "documents", {
        "doc_id": pa.array([d[0] for d in docs], i64),
        "text": pa.array([d[1] for d in docs], s),
        "lang": pa.array([d[2] for d in docs], s),
        "source": pa.array([d[3] for d in docs], s),
        "n_chars": pa.array([len(d[1]) for d in docs], i64),
    })
    n_vec = sizes["embeddings"]
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })


def posts_rows(seed: int, n: int, id_base: int) -> list[dict]:
    """Feed items shaped like `tests/fixtures.py:make_posts_rows`: years
    2009-2021, ~15% videos, ~8% null captions, mixed-case hashtags, and
    ~2% shortcode-only duplicates with a later timestamp."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        ts = dt.datetime(
            2009 + rng.randrange(13), 1 + rng.randrange(12), 1 + rng.randrange(28),
            rng.randrange(24), tzinfo=dt.timezone.utc,
        )
        sc = f"SC{id_base + i:07d}"
        tags = rng.sample(_HASHTAGS, rng.randrange(0, 4))
        rows.append({
            "id": str(2_000_000_000_000_000_000 + id_base + i),
            "shortcode": sc,
            "post_url": f"https://www.instagram.com/p/{sc}/",
            "type": rng.choice(["GraphImage", "GraphSidecar", "GraphVideo", None]),
            "is_video": rng.random() < 0.15,
            "likes": rng.randrange(0, 50_000),
            "comment_count": rng.randrange(0, 2_000),
            "comments_disabled": rng.random() < 0.05,
            "caption": None if rng.random() < 0.08
            else f"caption {' '.join('#' + t for t in tags)} text {i}",
            "hashtags": tags,
            "display_url": f"https://cdn.example.com/{sc}.jpg",
            "owner_id": str(rng.randrange(1, n // 5 + 2)),
            "timestamp": int(ts.timestamp()),
            "thumbnail_src": f"https://cdn.example.com/t/{sc}.jpg",
            "search_mode": "hashtag",
            "mentions": [],
        })
    for i in range(0, n, 50):
        d = dict(rows[i])
        d["id"] = str(3_000_000_000_000_000_000 + id_base + i)
        d["timestamp"] = rows[i]["timestamp"] + 86400
        rows.append(d)
    return rows


def feed_pages(seed: int, terms: list[str], per_term: int, page_size: int) -> dict[str, list[dict]]:
    """Cursor-paginated feed documents per search term (`feed/<term>`).
    Terms share ~5% of their posts, as search terms do in a real scrape,
    so the stage's cross-term dedup has work."""
    pages: dict[str, list[dict]] = {}
    shared = posts_rows(seed * 31 + 1, max(per_term // 20, 1), id_base=9_000_000)
    for t, term in enumerate(terms):
        items = posts_rows(seed * 31 + 2 + t, per_term, id_base=t * 1_000_000) + shared
        random.Random(seed + t).shuffle(items)
        chunks = [items[i : i + page_size] for i in range(0, len(items), page_size)]
        pages[f"feed/{term}"] = [
            {"items": c, "end_cursor": f"{term}-{k + 1}", "has_more": k + 1 < len(chunks)}
            for k, c in enumerate(chunks)
        ]
    return pages


def post_json_docs(seed: int, n: int) -> list[dict]:
    """Post-detail documents in the shapes of
    `tests/fixtures.py:make_post_json_docs`: threaded and flat comments,
    sidecars with children, null locations and missing captions."""
    rng = random.Random(seed * 131 + 7)
    docs = []
    for i in range(n):
        pid, sc = str(100_000 + i), f"P{i:07d}"
        comments = []
        for c in range(rng.choice([0, 0, 1, 2, 3, 5])):
            node = {
                "id": f"{pid}c{c}",
                "text": f"comment {c} on {sc} #{rng.choice(_HASHTAGS)}",
                "owner": {"username": f"user{rng.randrange(500)}"},
                "edge_liked_by": {"count": rng.randrange(50)},
            }
            if rng.random() < 0.3:
                node["edge_threaded_comments"] = {"edges": [
                    {"node": {
                        "id": f"{pid}c{c}t{k}",
                        "text": f"reply {k}",
                        "owner": {"username": f"user{rng.randrange(500)}"},
                        "edge_liked_by": {"count": rng.randrange(10)},
                    }}
                    for k in range(rng.randint(1, 3))
                ]}
            comments.append({"node": node})
        sidecar = rng.random() < 0.25
        doc = {
            "__typename": "GraphSidecar" if sidecar else "GraphImage",
            "id": pid,
            "shortcode": sc,
            "display_url": f"https://cdn.example.com/{sc}.jpg",
            "accessibility_caption": "photo of a building",
            "is_video": False,
            "caption_is_edited": rng.random() < 0.1,
            "has_ranked_comments": False,
            "like_and_view_counts_disabled": False,
            "comments_disabled": False,
            "is_affiliate": False,
            "is_paid_partnership": False,
            "is_ad": False,
            "taken_at_timestamp": 1_300_000_000 + rng.randrange(300_000_000),
            "edge_media_to_caption": {"edges": [] if rng.random() < 0.1 else [
                {"node": {"text": f"Nice #{rng.choice(_HASHTAGS)} #{rng.choice(_HASHTAGS)} day"}}
            ]},
            "edge_media_preview_like": {"count": rng.randrange(10_000)},
            "edge_media_to_parent_comment": {"count": len(comments), "edges": comments},
            "edge_media_to_tagged_user": {"edges": [
                {"node": {"user": {"username": f"user{rng.randrange(500)}"}}}
                for _ in range(rng.randrange(3))
            ]},
            "location": None if rng.random() < 0.2
            else {"id": "1", "name": "Glasgow", "slug": "glasgow"},
            "owner": {
                "id": str(rng.randrange(1, 200)),
                "username": f"owner{rng.randrange(200)}",
                "edge_followed_by": {"count": rng.randrange(10_000)},
                "edge_owner_to_timeline_media": {"count": rng.randrange(500)},
            },
        }
        if sidecar:
            doc["edge_sidecar_to_children"] = {"edges": [
                {"node": {"id": f"{pid}{k}", "shortcode": f"{sc}_{k}", "display_url": f"u{k}"}}
                for k in range(rng.randint(2, 4))
            ]}
        docs.append(doc)
    return docs


def write_post_json(out_dir: str, docs: list[dict], n_files: int) -> None:
    """One multi-line JSON array per file, `n_files` files."""
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        with open(os.path.join(out_dir, f"posts_{f:03d}.json"), "w") as fh:
            json.dump(docs[f::n_files], fh, indent=1)


def write_png_folder(out_dir: str, seed: int, n: int, size: int) -> None:
    """`n` RGB PNGs of `size`x`size` pixels (a seeded gradient plus noise)."""
    from social_media_data_pipeline_spark.sources.binary import encode_png

    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed * 17 + 3)
    yy, xx = np.mgrid[0:size, 0:size]
    for i in range(n):
        base = rng.integers(0, 256, 3)
        img = (base + (xx + yy)[..., None] * rng.integers(1, 4, 3)) % 256
        img = (img + rng.integers(0, 32, (size, size, 3))) % 256
        with open(os.path.join(out_dir, f"{100_000 + i}_P{i:07d}.png"), "wb") as fh:
            fh.write(encode_png(size, size, img.astype(np.uint8).tobytes()))
