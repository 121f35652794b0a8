"""The micro-batch commit protocol and the one function every stream
starts through.

Every stream in this package is a batch function — one micro-batch in,
its appends out — started with ``start_batch_stream``, which mints the
checkpoint's stream token once and hands each micro-batch to the
function with its ``batch_id`` and ``stream_id``. The batch functions
stay callable directly (tests, replays, batch jobs); ``batch_id=None``
there disables the commit marker.

ATOMICITY of the two appends (store + index): a per-batch commit
marker under ``<index>/_batch_committed/<id>`` is written only after
BOTH appends succeed, and a batch whose marker exists is skipped
entirely on re-delivery — the common foreachBatch retry therefore
re-appends NOTHING. The two crash windows in between converge on
retry (ADVICE r03): (a) crash after the store append — the fresh
store rows have no index rows yet, so they produce no candidates, the
survivor set recomputes identically, and the retry re-appends them
(exact duplicates, collapsed by maintenance dedup) plus the index
rows that were missing, closing the stored-but-invisible-to-the-index
hole; (b) crash after the index append — the batch's own index rows
match only their own ids (filtered by ``vid != new_id``), so the
survivor set again recomputes identically and the retry completes the
marker. Either way the index ends up covering every stored row.
"""

from __future__ import annotations

from functools import reduce

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from faexport_db_spark.datamodel.table_format import TableFormat


def _read_store_or_none(fmt: TableFormat, spark: SparkSession, store_path: str):
    """The store before the first committed batch reads as ``None``.
    Only the no-committed-data conditions qualify: a missing path, a
    directory a crashed first write left with zero parquet footers
    (``UNABLE_TO_INFER_SCHEMA``), or — manifest strategies — no
    committed manifest (``FileNotFoundError``). Any other failure
    propagates so the micro-batch retries; a swallowed transient error
    here would let duplicates through silently."""
    try:
        return fmt.read(spark, store_path)
    except FileNotFoundError:
        return None
    except AnalysisException as exc:
        if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return None


def _batch_marker(
    spark: SparkSession,
    index_path: str,
    batch_id: int | None,
    stream_id: str | None,
):
    """(committed?, mark_fn) for the per-batch commit marker — see the
    module docstring's atomicity contract. Batch ids are only unique
    WITHIN one stream-checkpoint lifetime (a fresh or wiped checkpoint
    renumbers from 0), so markers are namespaced by ``stream_id`` —
    the checkpoint-resident token ``_stream_id`` mints.
    ``batch_id=None`` (direct batch-API callers outside a stream)
    disables the protocol."""
    if batch_id is None:
        return False, lambda: None
    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    fs = HadoopFs(spark, index_path)
    ns = stream_id or "direct"
    ns_dir = f"{index_path.rstrip('/')}/_batch_committed/{ns}"
    marker = f"{ns_dir}/{batch_id}"

    def mark() -> None:
        fs.write_text(marker, "")
        # Markers only matter for RECENT batches (a re-delivery is
        # always near the checkpoint's tail), so prune the long tail —
        # without this, one empty file per batch accumulates forever.
        # Prune every ~50 batches, not every batch: the directory LIST
        # is an RPC worth amortizing on object stores.
        if batch_id % 50 == 0:
            for name in fs.list_names(ns_dir):
                if name.isdigit() and int(name) < batch_id - 200:
                    fs.delete(f"{ns_dir}/{name}")

    return fs.exists(marker), mark


def _stream_id(spark: SparkSession, checkpoint: str) -> str:
    """Stream-instance namespace for batch markers: a token file
    INSIDE the checkpoint directory, created on first use. Batch ids
    are only meaningful relative to a checkpoint's lifetime — if the
    checkpoint is wiped, Spark renumbers batches from 0, and a
    path-derived namespace would then skip brand-new batches 0..N as
    'already committed' (review finding: silent data loss). The token
    dies with the checkpoint, so a wiped checkpoint gets a fresh
    namespace while restarts of a live checkpoint keep their markers."""
    import uuid

    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    fs = HadoopFs(spark, checkpoint)
    token_path = f"{checkpoint.rstrip('/')}/_dedup_stream_token"
    if fs.exists(token_path):
        token = fs.read_text(token_path).strip()
        # An empty/truncated token (crash mid-create) must re-mint —
        # falling through to the shared 'direct' namespace could skip
        # batches whose ids collide with another degraded stream's
        # markers (review finding).
        if token:
            return token
    token = uuid.uuid4().hex[:12]
    fs.mkdirs(checkpoint.rstrip("/"))
    fs.write_text(token_path, token)
    return token


def start_batch_stream(
    source: DataFrame,
    checkpoint: str,
    step,
    *args,
    trigger: dict | None = None,
    **kwargs,
):
    """Run ``step(batch_df, *args, batch_id=…, stream_id=…, **kwargs)``
    for every micro-batch of the streaming DataFrame ``source``;
    returns the StreamingQuery. The stream token is minted once, here,
    so every batch of one checkpoint lifetime shares one marker
    namespace. ``trigger`` is passed to ``DataStreamWriter.trigger``
    (unset: Spark's default, run each batch as soon as the previous
    one finishes)."""
    sid = _stream_id(source.sparkSession, checkpoint)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        step(batch_df, *args, batch_id=batch_id, stream_id=sid, **kwargs)

    writer = source.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def index_exists(spark: SparkSession, index_path: str) -> bool:
    """Whether the index's parameter sidecar exists — absent until the
    first batch bootstraps the index."""
    from faexport_db_spark.operators.hadoop_fs import HadoopFs
    from faexport_db_spark.training.indexmeta import INDEX_META_NAME

    return HadoopFs(spark, index_path).exists(
        f"{index_path.rstrip('/')}/{INDEX_META_NAME}"
    )


def append_survivors(
    batch: DataFrame,
    dup_ids: list[DataFrame],
    id_col: str,
    store_path: str,
    fmt: TableFormat,
) -> DataFrame:
    """Store-first tail of the id-keyed dedup streams: drop every id in
    ``dup_ids`` (single-column ``id_col`` frames — index hits and
    within-batch duplicates) from the batch, pin the survivors, and
    append them to the store. Pinning materializes them ONCE before
    the two appends (probe + anti-join would otherwise recompute per
    sink write, against an index the second append mutates); the
    caller appends the index rows of the returned survivors next."""
    dups = reduce(DataFrame.unionByName, dup_ids).distinct()
    survivors = batch.join(F.broadcast(dups), id_col, "left_anti").localCheckpoint(
        eager=True
    )
    fmt.append(survivors, store_path)
    return survivors


def nonempty_cleaned(cleaned: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The documents a cutting dedup (line/passage/substring) left
    text in, as (id, text): a doc cleaned to empty is dropped, not
    stored."""
    return cleaned.filter(F.length("clean_text") > 0).select(
        F.col(id_col), F.col("clean_text").alias(text_col)
    )


def publish_batch_partition(
    table: DataFrame,
    store_path: str,
    batch_id: int | None,
    stream_id: str | None,
) -> None:
    """Publish one batch's table under its own ``batch=<stream>-<id>``
    partition directory: write to a hidden dir, then rename. Spark's
    parquet reader skips dot-prefixed paths, so a concurrent reader
    never observes partial files — at worst it misses a not-yet-renamed
    partition. A re-delivered batch rewrites the identical rows under
    the same name, so the publish is idempotent and needs no commit
    marker."""
    from faexport_db_spark.operators.hadoop_fs import HadoopFs

    ns = stream_id or "direct"
    base = store_path.rstrip("/")
    tag = f"{ns}-{batch_id if batch_id is not None else 0}"
    part = f"{base}/batch={tag}"
    tmp = f"{base}/.tmp-batch={tag}"
    table.write.mode("overwrite").parquet(tmp)
    fs = HadoopFs(table.sparkSession, base)
    if fs.exists(part):
        fs.delete(part, recursive=True)
    fs.rename(tmp, part)
