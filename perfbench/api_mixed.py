"""``api_mixed``: closed-loop API traffic from one client against a
persisted store.

Set-up writes a generated store (laid out as the engine's parquet store:
one directory per table, snapshot tables partitioned by site) and warms
every call kind. The measured loop then sends whole rounds of a fixed
call mix: ``serve`` point reads, hash searches and listings, and
``serve.push_ingest`` writes whose redelivered duplicates
``maintenance.dedup`` drops before the rows are appended through
``datamodel.table_format`` and the store is re-read. Every call into
the engine sits in a tracer span. README.md gives the source of each
traffic parameter below, or says that it is an assumption.
"""

from __future__ import annotations

import base64
import bisect
import json
import os
import random
import time

import gen
from check import Checker
from metrics import Result, median_ms, tail, tree_cpu_seconds

API_SUBMISSIONS = 2000
API_USERS = 500
# The reference's push ingest takes one payload per request. Every push
# also carries that payload a second time, as a client retry would
# (assumed), so the dedup step has work.
PUSH_BATCH = 1
LIST_LIMIT = 50
# Request popularity: Zipf-like with an exponent below 1, as measured
# on web proxy traces (0.64-0.83).
ZIPF_S = 0.8
# The mix, assumed: a deck of calls, shuffled per round; runs measure
# whole rounds, so every run sees the same mix. Mostly merged-entity
# views (8 of 13), one of each other read, one write.
DECK = (
    ["view_submission"] * 8
    + ["search_hash_hit", "search_hash_miss", "view_user", "list_submissions", "push_ingest"]
)
# Every call kind before measuring, so JIT compilation and the first
# reads of each table land in set-up. Views dominate it: in a fresh JVM
# the first takes ~6x the settled latency and the next ones fall slowly.
WARMUP = (
    ["view_submission"] * 3
    + ["search_hash_hit", "search_hash_miss", "view_user", "list_submissions", "push_ingest"]
    + ["view_submission"] * 3
)

# Traced runs probe the merge operator on every PROBE_EVERY-th view
# (each probe costs about a view).
PROBE_EVERY = 4

ID_COLUMNS = {
    "submission_snapshots": "submission_snapshot_id",
    "submission_snapshot_keywords": "keyword_id",
    "submission_snapshot_files": "file_id",
    "submission_snapshot_file_hashes": "hash_id",
}
PARTITIONED = {"submission_snapshots", "user_snapshots"}


class ApiMixed:
    """One client, closed loop: each call is sent when the previous one
    has answered. Keys are Zipf-skewed over entities ordered newest
    first, so recent writes are read soon after they are acknowledged.
    One operation is one API call."""

    name = "api_mixed"

    def __init__(self, seed: int, workdir: str) -> None:
        self.seed = seed
        self.workdir = workdir

    def setup(self, spark, tracer) -> None:
        dump = gen.archive_dump(self.seed, API_SUBMISSIONS, API_USERS)
        self.paths = write_store(gen.store_rows(dump), os.path.join(self.workdir, "store"))
        self.tables = read_store(spark, self.paths)
        self.next_id = self._next_ids()
        self.input_bytes = dump.raw_bytes
        self.model = ApiModel(dump, self.seed)
        self.acked: list[tuple[str, str]] = []
        self.bytes_written: list[int] = []
        self.probed_rows: list[tuple[int, int]] = []
        self.views = 0
        self.warmup = []
        for kind in WARMUP:
            chk = Checker()
            self.call(spark, tracer, kind, chk)
            self.warmup.append((kind, chk))

    def verify(self) -> None:
        for kind, chk in self.warmup:
            if not chk.ok:
                raise RuntimeError(f"warm-up {kind} incorrect: {chk.problems[:3]}")

    def describe(self) -> dict:
        return {
            "store_rows": self.model.rows,
            "submissions": len(self.model.entities),
            "users": len(self.model.users),
            "mix": {k: DECK.count(k) / len(DECK) for k in sorted(set(DECK))},
            "push_batch": PUSH_BATCH,
            "redelivered_per_push": 1,
            "zipf_s": ZIPF_S,
            "clients": 1,
            "loop": "closed",
        }

    # -- calls -------------------------------------------------------------

    def call(self, spark, tracer, kind: str, chk: Checker) -> tuple[float, float]:
        """Send one call of ``kind`` and check its answer; returns its
        latency and its process-tree CPU time in seconds (the check is
        not timed)."""
        from faexport_db_spark.serve import api

        m = self.model
        if kind == "view_submission":
            key = m.pick_submission()
            c0, t0 = tree_cpu_seconds(), time.perf_counter()
            with tracer.span("serve.view_submission"):
                got = api.view_submission(self.tables, *key)
            dt, cpu = time.perf_counter() - t0, tree_cpu_seconds() - c0
            check_submission(chk, f"view {key}", got, m.entities[key])
            self.views += 1
            if tracer.enabled and self.views % PROBE_EVERY == 1:
                self.probe_merge(tracer, "submission", key, m.entities[key].snapshot_count, chk)
        elif kind == "view_user":
            key = m.pick_user()
            c0, t0 = tree_cpu_seconds(), time.perf_counter()
            with tracer.span("serve.view_user"):
                got = api.view_user(self.tables, *key)
            dt, cpu = time.perf_counter() - t0, tree_cpu_seconds() - c0
            check_user(chk, f"view user {key}", got, m.users[key])
            if tracer.enabled:
                self.probe_merge(tracer, "user", key, m.users[key].snapshot_count, chk)
        elif kind in ("search_hash_hit", "search_hash_miss"):
            algo, value, want = m.pick_hash(hit=kind == "search_hash_hit")
            c0, t0 = tree_cpu_seconds(), time.perf_counter()
            with tracer.span("serve.search_hash"):
                got = api.search_hash(self.tables, algo, value)
            dt, cpu = time.perf_counter() - t0, tree_cpu_seconds() - c0
            chk.equal(
                f"search {value.hex()}",
                sorted((r["website_id"], r["site_submission_id"]) for r in got),
                want,
            )
        elif kind == "list_submissions":
            site = m.pick_site()
            c0, t0 = tree_cpu_seconds(), time.perf_counter()
            with tracer.span("serve.list_submissions"):
                got = api.list_submissions(self.tables, site, limit=LIST_LIMIT)
            dt, cpu = time.perf_counter() - t0, tree_cpu_seconds() - c0
            ids = m.site_ids(site)
            chk.equal(
                f"list {site}",
                (got["submission_ids"], got["truncated"]),
                (ids[:LIST_LIMIT], len(ids) > LIST_LIMIT),
            )
        elif kind == "push_ingest":
            batch = m.new_batch()
            c0, t0 = tree_cpu_seconds(), time.perf_counter()
            self.push(spark, tracer, batch, chk)
            dt, cpu = time.perf_counter() - t0, tree_cpu_seconds() - c0
            self.next_id = self._next_ids()
            m.acknowledge(batch)
            self.acked.extend(batch.keys)
            if tracer.enabled:
                self.probe_push(spark, tracer, batch, chk)
        else:
            raise ValueError(kind)
        return dt, cpu

    def push(self, spark, tracer, batch: "Batch", chk: Checker) -> None:
        """POST /api/ingest/submission as a server runs it: parse and mint
        ids, drop the batch's redelivered duplicate, append the rows to
        the store and re-open it. The write is acknowledged when this
        returns: persisted and readable."""
        from pyspark.sql import functions as F

        from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT
        from faexport_db_spark.maintenance import dedup
        from faexport_db_spark.serve import api

        df = spark.createDataFrame([(p,) for p in batch.payloads], "payload string")
        with tracer.span("serve.push_ingest"):
            out = api.push_ingest(self.tables, df, gen.CONTRIBUTOR_ID, format="submission")
            # push_ingest returns store ∪ batch; the batch is every row
            # with an id past the store's. The dedup plan is built here
            # and runs in the write.
            new = {n: out[n].filter(F.col(ID_COLUMNS[n]) >= v) for n, v in self.next_id.items()}
            new = dedup.cleanup(new)
        if tracer.enabled:
            before = sum(dir_bytes(self.paths[n]) for n in new)
        with tracer.span("datamodel.write"):
            for name, df in new.items():
                DEFAULT_FORMAT.append(
                    df, self.paths[name], ["website_id"] if name in PARTITIONED else None
                )
        if tracer.enabled:
            self.bytes_written.append(sum(dir_bytes(self.paths[n]) for n in new) - before)
        with tracer.span("datamodel.read"):
            self.tables.update(read_store(spark, {n: self.paths[n] for n in new}))

    def probe_push(self, spark, tracer, batch: "Batch", chk: Checker) -> None:
        """Traced runs: the layers of a push, run apart on the same
        payloads, each materialised inside its own span (in the push
        itself all of them run inside the write): parse
        (``ingest.simple``), explode into store tables and mint ids
        (``ingest.explode_to_store``), drop the duplicate
        (``maintenance.dedup.cleanup``). Checks the rows at each step."""
        from faexport_db_spark.ingest import explode_to_store, simple
        from faexport_db_spark.maintenance import dedup

        df = spark.createDataFrame([(p,) for p in batch.payloads], "payload string")
        with tracer.span("ingest.simple.submission_snapshots", probe=True):
            nested = simple.submission_snapshots(df, gen.CONTRIBUTOR_ID).localCheckpoint()
        with tracer.span("ingest.explode_to_store", probe=True):
            exploded = {n: t.localCheckpoint() for n, t in explode_to_store(nested).items()}
        with tracer.span("maintenance.dedup.cleanup", probe=True):
            kept = {n: t.localCheckpoint() for n, t in dedup.cleanup(exploded).items()}
        scanned = {n: t.count() for n, t in exploded.items()}
        remaining = {n: t.count() for n, t in kept.items()}
        chk.equal("rows parsed", nested.count(), len(batch.payloads))
        chk.equal("rows before dedup", scanned, batch.rows_in)
        chk.equal("rows after dedup", remaining, batch.rows_out)
        self.probed_rows.append((sum(scanned.values()), sum(remaining.values())))

    def probe_merge(self, tracer, kind: str, key: tuple[str, str], snapshots: int, chk: Checker) -> None:
        """Traced runs: the merge operator alone on the entity just viewed
        (in the view it runs inside the call's action), with its
        snapshot count checked."""
        from pyspark.sql import functions as F

        from faexport_db_spark.operators import merge

        t = self.tables
        site = F.col("website_id") == key[0]
        if kind == "submission":
            snaps = t["submission_snapshots"].filter(site & (F.col("site_submission_id") == key[1]))
            with tracer.span("operators.merge.merged_submissions", probe=True):
                rows = merge.merged_submissions(
                    snaps,
                    keywords=t["submission_snapshot_keywords"],
                    files=t["submission_snapshot_files"],
                    file_hashes=t["submission_snapshot_file_hashes"],
                ).collect()
        else:
            snaps = t["user_snapshots"].filter(site & (F.col("site_user_id") == key[1]))
            with tracer.span("operators.merge.merged_users", probe=True):
                rows = merge.merged_users(snaps).collect()
        chk.equal(f"merged {kind} {key}", [r["snapshot_count"] for r in rows], [snapshots])

    def _next_ids(self) -> dict[str, int]:
        """Where a push's minted ids start in each table (the store's max
        id + 1, as push_ingest mints them)."""
        from pyspark.sql import functions as F

        return {
            n: self.tables[n].agg(F.max(col)).first()[0] + 1 for n, col in ID_COLUMNS.items()
        }

    # -- measured loop -----------------------------------------------------

    def measure(self, spark, tracer, seconds: float, tally) -> Result:
        lat: dict[str, list[float]] = {k: [] for k in set(DECK)}
        cpu: dict[str, list[float]] = {k: [] for k in set(DECK)}
        ops = []
        busy = 0.0
        deck_rng = random.Random(self.seed * 7919 + 1)
        if tracer.enabled:  # the layer figures cover the measured phase only
            self.bytes_written, self.probed_rows = [], []
        start = time.perf_counter()
        while not ops or time.perf_counter() - start < seconds:
            deck = list(DECK)
            deck_rng.shuffle(deck)
            for kind in deck:
                chk = Checker()
                try:
                    dt, used = self.call(spark, tracer, kind, chk)
                except Exception as exc:  # a failed call counts against error_rate
                    tally.error(kind, exc)
                    continue
                busy += dt
                if tally.add(chk, kind):
                    lat[kind].append(dt)
                    cpu[kind].append(used)
                    ops.append(dt)
        self._check_durable(spark, tally)
        hashes = lat["search_hash_hit"] + lat["search_hash_miss"]
        figures = {
            "api_ops_per_s": len(ops) / busy,
            "view_p50_ms": median_ms(lat["view_submission"]),
            "view_tail": tail(lat["view_submission"]),
            "hash_search_p50_ms": median_ms(hashes),
            "view_user_p50_ms": median_ms(lat["view_user"]),
            "list_p50_ms": median_ms(lat["list_submissions"]),
            "push_ingest_p50_ms": median_ms(lat["push_ingest"]),
            "calls": {k: len(v) for k, v in sorted(lat.items())},
            "acknowledged_writes": len(self.acked),
            "store_bytes_per_input_byte": sum(dir_bytes(p) for p in self.paths.values())
            / (self.input_bytes + self.model.pushed_bytes),
            "files_per_table": {n: data_files(self.paths[n]) for n in ID_COLUMNS},
        }
        return Result(
            op_seconds=ops,
            cpu_seconds=sum(sum(v) for v in cpu.values()),
            primary_cpu=cpu["view_submission"],
            secondary_cpu=cpu["push_ingest"],
            figures=figures,
        )

    def _check_durable(self, spark, tally) -> None:
        """A fresh reader of the store finds every acknowledged write,
        exactly once, and every table holds the expected rows."""
        from pyspark.sql import functions as F

        chk = Checker()
        fresh = {n: spark.read.parquet(self.paths[n]) for n in ID_COLUMNS}
        keys = F.struct("website_id", "site_submission_id").isin(
            [F.struct(F.lit(w), F.lit(s)) for w, s in self.acked]
        )
        found = sorted(
            (r["website_id"], r["site_submission_id"])
            for r in fresh["submission_snapshots"].filter(keys).collect()
        )
        chk.equal("acknowledged writes on disk", found, sorted(self.acked))
        for n, df in fresh.items():
            chk.equal(f"rows of {n} on disk", df.count(), self.model.rows[n])
        tally.add(chk, "durability check")

    def layer_report(self, tracer, result: Result) -> dict:
        out = {}
        for name, r in tracer.report().items():
            calls = r["calls"]
            out[name] = {
                "calls": calls,
                "busy_s": r["busy_s"],
                "busy_s_per_call": r["busy_s"] / calls,
                "jobs_per_call": r["jobs"] / calls,
                "stages_per_call": r["stages"] / calls,
                "tasks_per_call": r["tasks"] / calls,
            }
        parse, explode = out["ingest.simple.submission_snapshots"], out["ingest.explode_to_store"]
        parse["rows_per_s"] = len(self.probed_rows) * (PUSH_BATCH + 1) / parse["busy_s"]
        explode["rows_per_s"] = sum(s for s, _ in self.probed_rows) / explode["busy_s"]
        scanned = sum(s for s, _ in self.probed_rows)
        kept = sum(k for _, k in self.probed_rows)
        cleanup = out["maintenance.dedup.cleanup"]
        cleanup["rows_removed_per_row_scanned"] = (scanned - kept) / scanned
        cleanup["planted_duplicate_row_share"] = self.model.last_duplicate_share
        write = out["datamodel.write"]
        write["bytes_written_per_call"] = sum(self.bytes_written) / len(self.bytes_written)
        write["files_per_table"] = result.figures["files_per_table"]
        return out


# ---------------------------------------------------------------------------
# the store
# ---------------------------------------------------------------------------


def read_store(spark, paths: dict[str, str]) -> dict:
    from faexport_db_spark.datamodel.table_format import DEFAULT_FORMAT

    return {name: DEFAULT_FORMAT.read(spark, path) for name, path in paths.items()}


def write_store(rows: dict[str, list[tuple]], store_dir: str) -> dict[str, str]:
    """Generated rows → one parquet directory per table, snapshot tables
    hive-partitioned by ``website_id`` (the layout
    ``datamodel.table_format.ParquetFormat`` appends to and reads)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = {}
    for name, columns in _store_columns().items():
        schema = pa.schema(columns)
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows[name]], schema=schema)
        paths[name] = os.path.join(store_dir, name)
        if name in PARTITIONED:
            pq.write_to_dataset(table, paths[name], partition_cols=["website_id"])
        else:
            os.makedirs(paths[name])
            pq.write_table(table, os.path.join(paths[name], "part-0.parquet"))
    return paths


def _store_columns() -> dict[str, list]:
    """Column names and types of each store table, in the order of
    ``gen.store_rows``; they mirror ``datamodel.schemas``."""
    import pyarrow as pa

    ts = pa.timestamp("us", tz="UTC")
    s, i64, i32, b = pa.string(), pa.int64(), pa.int32(), pa.bool_()
    return {
        "submission_snapshots": [
            ("submission_snapshot_id", i64), ("website_id", s), ("site_submission_id", s),
            ("scan_datetime", ts), ("archive_contributor_id", i64), ("ingest_datetime", ts),
            ("uploader_site_user_id", s), ("is_deleted", b), ("title", s), ("description", s),
            ("datetime_posted", ts), ("extra_data", s), ("keywords_recorded", b),
        ],
        "submission_snapshot_keywords": [
            ("keyword_id", i64), ("submission_snapshot_id", i64), ("keyword", s), ("ordinal", i32),
        ],
        "submission_snapshot_files": [
            ("file_id", i64), ("submission_snapshot_id", i64), ("site_file_id", s),
            ("file_url", s), ("file_size", i64), ("extra_data", s),
        ],
        "submission_snapshot_file_hashes": [
            ("hash_id", i64), ("file_id", i64), ("algo_id", i64), ("hash_value", pa.binary()),
        ],
        "user_snapshots": [
            ("user_snapshot_id", i64), ("website_id", s), ("site_user_id", s),
            ("scan_datetime", ts), ("archive_contributor_id", i64), ("ingest_datetime", ts),
            ("is_deleted", b), ("display_name", s), ("extra_data", s),
        ],
        "websites": [("website_id", s), ("full_name", s), ("link", s)],
        "archive_contributors": [("contributor_id", i64), ("name", s), ("api_key", s)],
        "hash_algos": [("algo_id", i64), ("language", s), ("algorithm_name", s)],
    }


def data_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_")))


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksums and markers
    left out)."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


# ---------------------------------------------------------------------------
# expected answers
# ---------------------------------------------------------------------------


def check_submission(chk: Checker, what: str, got: dict | None, want: gen.Entity) -> None:
    if got is None:
        chk.fail(what, "missing")
        return
    data = got["submission_data"]
    files = data["files"]
    one = files[0] if len(files) == 1 else None
    seen = {
        "snapshot_count": got["cache_data"]["snapshot_count"],
        "title": data["title"],
        "is_deleted": data["is_deleted"],
        "keywords": sorted((k["ordinal"], k["keyword"]) for k in data["keywords"]),
        "file_url": one["file_url"] if one else files,
        "file_hashes": {h["algo_id"]: h["hash_value"] for h in one["file_hashes"]} if one else None,
        "extra_data": data["extra_data"],
    }
    expect = {
        "snapshot_count": want.snapshot_count,
        "title": want.title,
        "is_deleted": want.is_deleted,
        "keywords": want.keywords,
        "file_url": want.file_url,
        "file_hashes": {a: base64.b64encode(h).decode() for a, h in want.file_hashes.items()},
        "extra_data": want.extra_data,
    }
    chk.equal(what, seen, expect)


def check_user(chk: Checker, what: str, got: dict | None, want: gen.UserEntity) -> None:
    if got is None:
        chk.fail(what, "missing")
        return
    seen = {
        "snapshot_count": got["cache_data"]["snapshot_count"],
        "display_name": got["user_data"]["display_name"],
        "is_deleted": got["user_data"]["is_deleted"],
        "extra_data": got["user_data"]["extra_data"],
    }
    expect = {
        "snapshot_count": want.snapshot_count,
        "display_name": want.display_name,
        "is_deleted": want.is_deleted,
        "extra_data": want.extra_data,
    }
    chk.equal(what, seen, expect)


class Batch:
    """One push: its payload lines (one of them twice), the new entity
    keys, and the store rows it should add before and after dedup."""

    def __init__(self, payloads: list[dict], entities: list[gen.Entity], duplicate: int) -> None:
        self.payloads = [json.dumps(p) for p in payloads] + [json.dumps(payloads[duplicate])]
        self.entities = entities
        self.keys = [(e.website_id, e.site_id) for e in entities]
        self.rows_out = {n: 0 for n in ID_COLUMNS}
        for p in payloads:
            for n, v in gen.submission_rows(p).items():
                self.rows_out[n] += v
        dup = gen.submission_rows(payloads[duplicate])
        self.rows_in = {n: v + dup[n] for n, v in self.rows_out.items()}
        self.bytes = sum(len(p) + 1 for p in self.payloads)


class ApiModel:
    """The expected store state and the seeded choice of keys."""

    def __init__(self, dump: gen.ArchiveDump, seed: int) -> None:
        self.rng = random.Random(seed * 31 + 7)
        self.entities = dict(dump.entities)
        self.users = dict(dump.users_expected)
        # newest first: recency rank 0 is the most recently scanned
        self.recent = sorted(self.entities, key=lambda k: -self.entities[k].last_scan)
        self.recent_users = sorted(self.users, key=lambda k: -self.users[k].last_scan)
        self.hashes = dict(dump.hashes)
        self.rows = dict(dump.rows)
        self.pushes = 0
        self.pushed_bytes = 0
        self.last_duplicate_share = 0.0
        self._cum: list[float] = []

    def _rank(self, n: int) -> int:
        """A Zipf(ZIPF_S) rank in [0, n)."""
        while len(self._cum) < n:
            k = len(self._cum)
            self._cum.append((self._cum[-1] if self._cum else 0.0) + 1.0 / (k + 1) ** ZIPF_S)
        return bisect.bisect_right(self._cum, self.rng.random() * self._cum[n - 1], 0, n - 1)

    def pick_submission(self) -> tuple[str, str]:
        return self.recent[self._rank(len(self.recent))]

    def pick_user(self) -> tuple[str, str]:
        return self.recent_users[self._rank(len(self.recent_users))]

    def pick_site(self) -> str:
        return gen.pick_site(self.rng)

    def pick_hash(self, hit: bool) -> tuple[int, bytes, list]:
        """(algo, value, expected sorted entity keys of the matches)."""
        if not hit:
            return 1, self.rng.randbytes(16), []
        ent = self.entities[self.pick_submission()]
        algo = self.rng.choice(sorted(ent.file_hashes))
        value = ent.file_hashes[algo]
        owner, n = self.hashes[value]
        return algo, value, [owner] * n

    def site_ids(self, site: str) -> list[str]:
        return sorted(s for w, s in self.entities if w == site)

    def new_batch(self) -> Batch:
        """PUSH_BATCH new entities, newer than anything in the store."""
        self.pushes += 1
        payloads, entities = [], []
        for i in range(PUSH_BATCH):
            p, ent = gen.new_submission(self.rng, f"p{self.pushes}_{i}", 86_400 * 400 + self.pushes)
            payloads.append(p)
            entities.append(ent)
        return Batch(payloads, entities, self.rng.randrange(PUSH_BATCH))

    def acknowledge(self, batch: Batch) -> None:
        for key, ent in zip(batch.keys, batch.entities):
            self.entities[key] = ent
            self.recent.insert(0, key)
            for value in ent.file_hashes.values():
                self.hashes[value] = (key, 1)
        for n, v in batch.rows_out.items():
            self.rows[n] += v
        self.pushed_bytes += batch.bytes
        total_in = sum(batch.rows_in.values())
        self.last_duplicate_share = (total_in - sum(batch.rows_out.values())) / total_in
