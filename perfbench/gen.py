"""Seeded inputs for every workload, with the answers the program must give.

Nothing here imports the engine: the inputs are JSON payloads, store
rows and parquet tables, and the expected answers come from a small
Python model of the archive's merge and dedup rules, so a change to
the engine cannot change what the benchmark expects.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass

import numpy as np

# Site skew as in the FA-dominated archive: most rows on one site.
SITES = (("fa", 0.70), ("e621", 0.20), ("weasyl", 0.10))
CONTRIBUTOR_ID = 1
WORDS = (
    "fox wolf cat dog dragon bird otter deer lion tiger horse bunny "
    "sketch digital traditional comic adult safe portrait landscape"
).split()
EPOCH = dt.datetime(2024, 1, 1)


def _ts(seconds: int) -> str:
    return (EPOCH + dt.timedelta(seconds=seconds)).strftime("%Y-%m-%d %H:%M:%S")


def file_hash(url: str, algo_id: int) -> bytes:
    """The hash value stored for a file URL: md5 (16 bytes) for algo 1,
    sha256 (32 bytes) for algo 2."""
    h = hashlib.md5 if algo_id == 1 else hashlib.sha256
    return h(url.encode()).digest()


@dataclass
class Entity:
    """Expected merged state of one submission, from the merge rules:
    newest non-null title, newest is_deleted, keywords of the newest
    snapshot that recorded any, the clash-reset file (newest URL
    version), and extra_data layered oldest to newest."""

    website_id: str
    site_id: str
    snapshot_count: int
    title: str | None
    is_deleted: bool
    keywords: list[tuple[int, str]]
    file_url: str
    file_hashes: dict[int, bytes]
    extra_data: dict
    last_scan: int


@dataclass
class UserEntity:
    website_id: str
    site_id: str
    snapshot_count: int
    display_name: str | None
    is_deleted: bool
    extra_data: dict
    last_scan: int


@dataclass
class ArchiveDump:
    """A multi-site dump in the push-ingest ``submission``/``user``
    shape, plus the answers after merge."""

    submissions: list[dict]
    users: list[dict]
    entities: dict[tuple[str, str], Entity]
    users_expected: dict[tuple[str, str], UserEntity]
    # store rows per table
    rows: dict[str, int]
    # hash bytes -> (entity key, number of snapshots carrying it)
    hashes: dict[bytes, tuple[tuple[str, str], int]]

    @property
    def raw_bytes(self) -> int:
        """Bytes of the dump as JSON lines."""
        return sum(len(json.dumps(p)) + 1 for p in self.submissions + self.users)


def pick_site(rng: random.Random) -> str:
    r = rng.random()
    acc = 0.0
    for site, share in SITES:
        acc += share
        if r < acc:
            return site
    return SITES[-1][0]


def _submission_history(rng: random.Random, site: str, sid: str, n_scrapes: int, t0: int):
    """Payload dicts for one entity, oldest first, and its expected state."""
    scans = sorted(rng.sample(range(t0, t0 + 86_400 * 30), n_scrapes))
    posted = _ts(t0 - rng.randrange(86_400, 86_400 * 365))
    uploader = f"u{rng.randrange(1000)}"
    version = 0
    algos = [1] if rng.random() < 0.6 else [1, 2]
    payloads = []
    title = None
    keywords: list[tuple[int, str]] = []
    extra: dict = {}
    is_deleted = False
    for i, scan in enumerate(scans):
        if i and rng.random() < 0.25:
            version += 1  # new file URL and size: the clash reset
        url = f"https://{site}.example/art/{sid}/v{version}.png"
        p = {
            "website_id": site,
            "site_submission_id": sid,
            "scan_datetime": _ts(scan),
            "uploader_site_user_id": uploader,
            "is_deleted": is_deleted if rng.random() > 0.05 else not is_deleted,
            "title": None if (i and rng.random() < 0.3) else f"{sid} title {i}",
            "description": f"description of {sid} at scrape {i}",
            "datetime_posted": posted,
            "files": [
                {
                    "site_file_id": "0",
                    "file_url": url,
                    "file_size": 1000 + 7 * version + len(sid),
                    "extra_data": {"w": str(100 + version), "h": str(80 + version)},
                    "file_hashes": [
                        {
                            "algo_id": a,
                            "hash_value": base64.b64encode(file_hash(url, a)).decode(),
                        }
                        for a in algos
                    ],
                }
            ],
        }
        if i == 0 or rng.random() < 0.7:
            kws = rng.sample(WORDS, rng.randrange(1, 5))
            p["ordered_keywords"] = kws
            keywords = list(enumerate(kws))
        if i == 0 or rng.random() < 0.8:
            layer = {"views": 10 * (i + 1) + rng.randrange(10), f"seen_{i}": "yes"}
            if rng.random() < 0.5:
                layer["rating"] = rng.choice(["general", "mature"])
            p["extra_data"] = layer
            extra = {**extra, **layer}
        if p["title"] is not None:
            title = p["title"]
        is_deleted = p["is_deleted"]
        payloads.append(p)
    last_url = payloads[-1]["files"][0]["file_url"]
    entity = Entity(
        website_id=site,
        site_id=sid,
        snapshot_count=n_scrapes,
        title=title,
        is_deleted=is_deleted,
        keywords=sorted(keywords),
        file_url=last_url,
        file_hashes={a: file_hash(last_url, a) for a in algos},
        extra_data=extra,
        last_scan=scans[-1],
    )
    return payloads, entity


def _user_history(rng: random.Random, site: str, uid: str, n_scrapes: int, t0: int):
    scans = sorted(rng.sample(range(t0, t0 + 86_400 * 30), n_scrapes))
    payloads = []
    name = None
    extra: dict = {}
    for i, scan in enumerate(scans):
        p = {
            "website_id": site,
            "site_user_id": uid,
            "scan_datetime": _ts(scan),
            "is_deleted": rng.random() < 0.05,
            "display_name": None if (i and rng.random() < 0.3) else f"{uid} name {i}",
        }
        if rng.random() < 0.7:
            layer = {"watchers": rng.randrange(500), f"bio_{i}": "set"}
            p["extra_data"] = layer
            extra = {**extra, **layer}
        if p["display_name"] is not None:
            name = p["display_name"]
        payloads.append(p)
    user = UserEntity(
        website_id=site,
        site_id=uid,
        snapshot_count=n_scrapes,
        display_name=name,
        is_deleted=payloads[-1]["is_deleted"],
        extra_data=extra,
        last_scan=scans[-1],
    )
    return payloads, user


def submission_rows(p: dict) -> dict[str, int]:
    """Store rows one submission payload becomes."""
    files = p["files"]
    return {
        "submission_snapshots": 1,
        "submission_snapshot_keywords": len(p.get("ordered_keywords") or []),
        "submission_snapshot_files": len(files),
        "submission_snapshot_file_hashes": sum(len(f["file_hashes"]) for f in files),
    }


def new_submission(rng: random.Random, sid: str, t0: int) -> tuple[dict, Entity]:
    """A single-scrape submission payload on a site drawn with the skew."""
    payloads, entity = _submission_history(rng, pick_site(rng), sid, 1, t0)
    return payloads[0], entity


def archive_dump(seed: int, n_submissions: int, n_users: int, max_scrapes: int = 4) -> ArchiveDump:
    """Submissions with 1..``max_scrapes`` scrapes each and users with
    1..3, on skewed sites, with their merged answers."""
    rng = random.Random(seed)
    subs: list[dict] = []
    entities: dict[tuple[str, str], Entity] = {}
    for e in range(n_submissions):
        site = pick_site(rng)
        sid = f"s{e}"
        payloads, ent = _submission_history(
            rng, site, sid, rng.randrange(1, max_scrapes + 1), rng.randrange(0, 86_400 * 300)
        )
        subs.extend(payloads)
        entities[(site, sid)] = ent
    users: list[dict] = []
    users_expected: dict[tuple[str, str], UserEntity] = {}
    for u in range(n_users):
        site = pick_site(rng)
        uid = f"u{u}"
        payloads, ue = _user_history(
            rng, site, uid, rng.randrange(1, 4), rng.randrange(0, 86_400 * 300)
        )
        users.extend(payloads)
        users_expected[(site, uid)] = ue

    rows = dict.fromkeys(submission_rows(subs[0]), 0)
    hashes: dict[bytes, tuple[tuple[str, str], int]] = {}
    for p in subs:
        for k, v in submission_rows(p).items():
            rows[k] += v
        key = (p["website_id"], p["site_submission_id"])
        for h in p["files"][0]["file_hashes"]:
            raw = base64.b64decode(h["hash_value"])
            prev = hashes.get(raw)
            hashes[raw] = (key, (prev[1] if prev else 0) + 1)
    rows["user_snapshots"] = len(users)
    return ArchiveDump(subs, users, entities, users_expected, rows, hashes)


def store_rows(dump: ArchiveDump) -> dict[str, list[tuple]]:
    """The dump as rows of the store tables, in the layout
    ``ingest.explode_to_store`` produces, with ids minted densely."""

    def when(text: str) -> dt.datetime:
        return dt.datetime.strptime(text, "%Y-%m-%d %H:%M:%S").replace(tzinfo=dt.timezone.utc)

    def compact(d: dict | None) -> str | None:
        return None if d is None else json.dumps(d, separators=(",", ":"))

    ingested = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
    snaps, keywords, files, hashes, users = [], [], [], [], []
    for p in dump.submissions:
        sid = len(snaps)
        kws = p.get("ordered_keywords")
        snaps.append((
            sid, p["website_id"], p["site_submission_id"], when(p["scan_datetime"]),
            CONTRIBUTOR_ID, ingested, p["uploader_site_user_id"], p["is_deleted"],
            p["title"], p["description"], when(p["datetime_posted"]),
            compact(p.get("extra_data")), kws is not None,
        ))
        for ordinal, kw in enumerate(kws or []):
            keywords.append((len(keywords), sid, kw, ordinal))
        for f in p["files"]:
            fid = len(files)
            files.append(
                (fid, sid, f["site_file_id"], f["file_url"], f["file_size"], compact(f["extra_data"]))
            )
            for h in f["file_hashes"]:
                hashes.append((len(hashes), fid, h["algo_id"], base64.b64decode(h["hash_value"])))
    for p in dump.users:
        users.append((
            len(users), p["website_id"], p["site_user_id"], when(p["scan_datetime"]),
            CONTRIBUTOR_ID, ingested, p["is_deleted"], p["display_name"],
            compact(p.get("extra_data")),
        ))
    return {
        "submission_snapshots": snaps,
        "submission_snapshot_keywords": keywords,
        "submission_snapshot_files": files,
        "submission_snapshot_file_hashes": hashes,
        "user_snapshots": users,
        "websites": [(site, site.upper(), None) for site, _ in SITES],
        "archive_contributors": [(CONTRIBUTOR_ID, "perfbench", "key")],
        "hash_algos": [(1, "any", "md5"), (2, "any", "sha256")],
    }


# ---------------------------------------------------------------------------
# analytics catalog tables
# ---------------------------------------------------------------------------

# Row counts per unit of scale factor, as in the fixture tables
# (sf 0.1 holds 600k lineitem rows).
CATALOG_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
DOC_WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
EMBED_DIM = 64


@dataclass
class Catalog:
    directory: str
    rows: dict[str, int]
    # planted near-duplicate documents: (original id, copy id)
    doc_pairs: list[tuple[int, int]]
    # planted exact-duplicate documents (identical text)
    doc_exact_pairs: list[tuple[int, int]]
    # planted near-duplicate vectors (cosine well above 0.95)
    vec_pairs: list[tuple[int, int]]


def catalog_tables(seed: int, sf: float, directory: str) -> Catalog:
    """The fixture tables (same names, schemas and value domains) at
    scale ``sf``, written as one parquet file each under ``directory``,
    with near-duplicate documents and vectors planted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in CATALOG_ROWS.items()}
    day = 86_400_000_000  # µs

    def dates(count: int, start: dt.datetime, days: int) -> pa.Array:
        base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        return pa.array(base + rng.integers(0, days, count) * day, pa.timestamp("us"))

    def money(lo: float, hi: float, count: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, count), 2)

    def pick(values, count: int) -> list:
        return [values[i] for i in rng.integers(0, len(values), count)]

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, c),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    su = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(su), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(su)],
        "s_nationkey": pa.array(rng.integers(0, 25, su), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, su),
    })
    pt = n["part"]
    adjectives = ["red", "blue", "hot", "cold", "old", "new", "small", "large"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(pt), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adjectives, pt), pick(nouns, pt))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, pt)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], pt),
        "p_size": pa.array(rng.integers(1, 51, pt), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(pt) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": money(1000.0, 500000.0, o),
        "o_orderdate": dates(o, dt.datetime(1995, 1, 1), 2405),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, pt, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, su, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": dates(li, dt.datetime(1995, 1, 2), 2499),
    })
    ev = n["events"]
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    # distinct, sorted event times: no ties within a user's history
    ts = base + np.sort(rng.choice(30 * day, ev, replace=False))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, ev // 66), ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], ev),
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)],
    })

    nd = n["documents"]
    texts = [
        " ".join(pick(DOC_WORDS, int(rng.integers(10, 101)))) for _ in range(nd)
    ]
    doc_pairs, exact_pairs = [], []
    copies = rng.choice(nd, size=max(2, nd // 10), replace=False)
    half = len(copies) // 2
    for a, b in zip(copies[:half:2], copies[1:half:2]):
        texts[b] = texts[a] + " dup"  # near-duplicate: one token appended
        doc_pairs.append((int(min(a, b)), int(max(a, b))))
    for a, b in zip(copies[half::2], copies[half + 1::2]):
        texts[b] = texts[a]  # exact duplicate
        exact_pairs.append((int(min(a, b)), int(max(a, b))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, EMBED_DIM)).astype(np.float32)
    vec_pairs = []
    planted = rng.choice(nv, size=max(2, nv // 20), replace=False)
    for a, b in zip(planted[::2], planted[1::2]):
        vecs[b] = vecs[a] + rng.normal(scale=0.05, size=EMBED_DIM).astype(np.float32)
        vec_pairs.append((int(min(a, b)), int(max(a, b))))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })

    os.makedirs(directory, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    return Catalog(
        directory=directory,
        rows={k: t.num_rows for k, t in tables.items()},
        doc_pairs=doc_pairs,
        doc_exact_pairs=exact_pairs,
        vec_pairs=vec_pairs,
    )
