"""Transactional table with a file-based commit log — E2's missing
MERGE story, self-contained (the container ships no Delta/Iceberg).

The reference's production load is a DuckDB ``INSERT … ON CONFLICT``
(`/root/reference/sql/load/load_population_production.sql:30-32`);
`operators/upsert.py` reproduces those semantics as a deterministic
join. What that fallback lacks is TRANSACTIONALITY: readers must never
see a half-written merge, retries must not double-apply, and history
must stay queryable. This module supplies exactly that protocol, the
same way Delta/Iceberg do at their core:

- data lives in immutable parquet files under ``data/``
- a commit is one JSON file ``_log/{version:08d}.json`` listing files
  added and removed; the log is the table
- commits are ATOMIC: written to a temp name then hard-linked into
  place with ``os.link`` — link(2) fails with EEXIST if the target
  already exists, so two concurrent writers cannot both claim a
  version (optimistic concurrency; the loser re-reads and retries).
  Plain ``os.rename`` would NOT give this guarantee: POSIX rename
  silently replaces an existing target, so the pre-check + rename
  pair is a TOCTOU lost-update window, not a lock.
- each commit records per-file min/max statistics for the table's
  declared stat columns (Delta's add-action stats): pruning decisions
  read the tiny log, never the data files
- a snapshot at version V = replay log entries 0..V: live files =
  added minus removed. Readers only ever list the log, so an
  in-flight writer's data files are invisible until its commit lands
- MERGE = read current snapshot → deterministic upsert
  (operators.upsert — last-write-wins on the order column, partial
  column update) → write the result as new files → one commit that
  removes every previously-live file and adds the new ones

Scale notes: ``merge`` rewrites the full table (correct, simplest);
``merge_pruned`` rewrites only files whose logged [min, max] range of
the first merge key intersects the updates — O(log-read) per merge,
not O(files) footer RPCs. The log itself stays tiny (one small JSON
per commit), and a checkpoint every ``CHECKPOINT_INTERVAL`` commits
materializes the live set so replay is O(interval), not O(history) —
a decade-old table with 10^5 commits replays 10 files, not 10^5.
A merge that loses the optimistic-concurrency race deletes its own
uncommitted data files before retrying (nothing references them, so
they would otherwise leak past vacuum forever).
Cite: Armbrust et al., "Delta Lake: High-Performance ACID Table
Storage over Cloud Object Stores", VLDB 2020 — this is that design's
minimum viable core.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bow_hunter_pipeline_spark.functions.localframe import (
    local_df,
    local_keys_df,
    write_parquet_rows,
)
from bow_hunter_pipeline_spark.operators.upsert import upsert

_LOG_DIR = "_log"
_DATA_DIR = "data"
_DV_DIR = "_dv"
# Writer-side CHANGE FILES (Delta's _change_data / cdc- actions): a
# rewriting commit can record its row-level change images at WRITE
# time — computed distributedly by the engine that just computed the
# rewrite anyway — so CDF consumers read them per-file-parallel
# instead of re-deriving the diff (the streaming source's rewriting-
# commit fallback is a single diff task per commit; see
# sources/tx_stream.py). Commit entry: {"cdc": {"f": dir, "n": rows}}.
_CDC_DIR = "_cdc"

# Deletion-vector representation thresholds. A DELETE_DV commit whose
# FULL vector set (new matches + replaced priors) holds at most
# DV_INLINE_MAX positions inlines them as JSON int lists in the log —
# the common GDPR-few-rows case, self-contained and human-readable.
# Above that, positions are written EXECUTOR-SIDE as a parquet blob
# dataset under _dv/ (sorted per file, so parquet delta/RLE encoding
# compresses them — the same role as Delta's roaring bitmaps) and the
# commit records only {path, cardinality}: the driver never holds
# O(deleted rows) of anything. Readers broadcast the vector side of
# the anti-join only while the total cardinality (known from log
# metadata alone) stays under DV_BROADCAST_MAX; past that the join is
# left unhinted for AQE to plan — a 10^8-position broadcast would OOM
# executors just as surely as the driver.
DV_INLINE_MAX = 10_000
DV_BROADCAST_MAX = 5_000_000

# Write a log checkpoint every N commits (Delta paper §3.2's answer to
# unbounded log replay): the checkpoint materializes the live-file set
# + stats at a version, so _replay is O(N) commits past the newest
# checkpoint instead of O(all history) forever.
CHECKPOINT_INTERVAL = 10

# Spark types whose parquet footer min/max are exact and totally
# ordered the way pruning assumes. String statistics can be TRUNCATED
# by exotic writers (max not exact), so pruning is gated to integrals.
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


class VersionVacuumedError(Exception):
    """AS OF read below the vacuum retention window: the log entry
    still exists (history metadata is kept) but its data files were
    deleted. Matches Delta's behavior, with a crisp error instead of
    a raw path-not-found from the scan."""


class SchemaEnforcementError(Exception):
    """Write-time schema enforcement (Delta's core contract): the
    incoming frame has a column the table lacks, or a type that
    differs from the table's. Pass ``evolve_schema=True`` (additive
    evolution) or migrate explicitly."""


class TxnAlreadyApplied(Exception):
    """In-commit transaction validation: the (app_id, txn_version)
    this merge carries is already committed AT THE PINNED READ
    VERSION, so applying it again would double-apply the batch.
    Raised from inside :func:`merge` (not pre-checked by the caller)
    so the check is serialized against the same version the commit
    claims — mirroring Delta's in-commit txn validation."""


def _log_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"{version:08d}.json")


def _checkpoint_path(table: str, version: int) -> str:
    return os.path.join(table, _LOG_DIR, f"checkpoint-{version:08d}.json")


def _versions(table: str) -> list[int]:
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f.split(".")[0])
        for f in os.listdir(log_dir)
        if f.endswith(".json") and f.split(".")[0].isdigit()
    )


def _checkpoint_versions(table: str) -> list[int]:
    log_dir = os.path.join(table, _LOG_DIR)
    if not os.path.isdir(log_dir):
        return []
    return sorted(
        int(f[len("checkpoint-"):].split(".")[0])
        for f in os.listdir(log_dir)
        if f.startswith("checkpoint-") and f.endswith(".json")
    )


def _footer_stats(path: str, cols: list[str]) -> dict[str, list]:
    """Footer-only min/max for ``cols`` of one just-written file (no
    data scan — parquet row-group stats). Used once at WRITE time to
    populate the commit's add-action stats; production engines get
    the same numbers from task-commit messages without reopening the
    file. Columns with absent or non-JSON-safe stats are skipped
    (pruning then falls back to rewrite for that file)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    arrow_schema = md.schema.to_arrow_schema()
    out: dict[str, list] = {}
    for col in cols:
        idx = arrow_schema.get_field_index(col)
        if idx < 0:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and isinstance(lo, (int, float, str)) and not isinstance(lo, bool):
            out[col] = [lo, hi]
    return out


def _write_data(
    df: DataFrame,
    table: str,
    version: int,
    stats_cols: list[str] | None = None,
) -> tuple[list[str], dict[str, dict[str, list]]]:
    """Write df as immutable parquet files; returns (table-relative
    paths, per-file stats for ``stats_cols``). Files land under a
    unique directory so a failed writer never collides with a
    committed one."""
    m = _column_mapping(table) if os.path.isdir(table) else {}
    if m:
        # column mapping: frames compute in LOGICAL names, files are
        # written PHYSICAL forever — translate both data and stats
        inv = {l: p for p, l in m.items()}
        df = df.select(
            *[F.col(c).alias(inv.get(c, c)) for c in df.columns]
        )
        if stats_cols:
            stats_cols = [inv.get(c, c) for c in stats_cols]
    rel_dir = os.path.join(_DATA_DIR, f"v{version}-{uuid.uuid4().hex[:8]}")
    out_dir = os.path.join(table, rel_dir)
    df.write.mode("errorifexists").parquet(out_dir)
    rels = [
        os.path.join(rel_dir, f)
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    ]
    stats: dict[str, dict[str, list]] = {}
    if stats_cols:
        for rel in rels:
            s = _footer_stats(os.path.join(table, rel), stats_cols)
            if s:
                stats[rel] = s
    return rels, stats


def _discard_uncommitted(table: str, rels: list[str]) -> None:
    """Delete data files a writer produced but failed to commit (lost
    the optimistic-concurrency race). No log entry references them —
    vacuum only walks the log — so without this they would leak on
    disk forever. All of one attempt's files share one unique
    directory (see :func:`_write_data`), so removing that directory is
    exact: it cannot contain any committed file."""
    if not rels:
        return
    shutil.rmtree(
        os.path.join(table, os.path.dirname(rels[0])), ignore_errors=True
    )


def _commit(
    table: str,
    version: int,
    add: list[str],
    remove: list[str],
    stats: dict[str, dict[str, list]] | None = None,
    txn: tuple[str, int] | None = None,
    dv: dict[str, list[int]] | None = None,
    op: str | None = None,
    schema_json: str | None = None,
    cdc: dict | None = None,
    props: dict | None = None,
    rename: dict | None = None,
    retire: str | None = None,
) -> None:
    """Atomic commit: temp write + ``os.link`` to the final name.
    link(2) fails with EEXIST if the version file already exists, so
    exactly one writer can claim a version — the loser gets a
    conflict error and retries against the newer snapshot. The
    ``exists`` check is only a fast path; the link is the lock.

    ``txn=(app_id, txn_version)`` stamps the commit with a writer
    transaction identity (Delta's txnAppId/txnVersion): idempotent
    writers (streaming foreachBatch sinks) record their batch id here
    and consult :func:`last_txn_version` before re-applying — the
    exactly-once handshake for at-least-once batch re-delivery.

    ``dv`` records DELETION VECTORS: per file, the sorted row indexes
    readers must skip (merge-on-read DELETE). A file's dv entry
    REPLACES any earlier entry for that file — writers always publish
    the full survivor-complement, never a delta — and removing a file
    drops its vector."""
    os.makedirs(os.path.join(table, _LOG_DIR), exist_ok=True)
    final = _log_path(table, version)
    if os.path.exists(final):
        raise RuntimeError(f"concurrent commit for version {version}")
    tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
    entry = {
        "version": version,
        "add": add,
        "remove": remove,
        "stats": stats or {},
    }
    if txn is not None:
        entry["txn"] = [txn[0], txn[1]]
    if dv is not None:
        # list/set → inline positions; dict → executor-written blob
        # ref {"f": parquet dir, "n": cardinality, "k": key stored in
        # the blob's rows (differs from the log key after a clone
        # re-keys data files to absolute paths)}
        entry["dv"] = {
            r: (
                {"f": v["f"], "n": int(v["n"]), "k": v.get("k", r)}
                if isinstance(v, dict)
                else sorted(int(i) for i in v)
            )
            for r, v in dv.items()
        }
    if op is not None:
        entry["op"] = op
    if rename is not None:
        entry["rename"] = {"old": rename["old"], "new": rename["new"]}
    if retire is not None:
        entry["retire"] = retire
    if schema_json is not None:
        entry["schema"] = schema_json
    if cdc is not None:
        entry["cdc"] = {"f": cdc["f"], "n": int(cdc["n"])}
    if props:
        entry["props"] = dict(props)
    with open(tmp, "w") as f:
        json.dump(entry, f)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise RuntimeError(f"concurrent commit for version {version}")
    finally:
        os.unlink(tmp)
    if version > 0 and version % CHECKPOINT_INTERVAL == 0:
        # The version is already durable here. Checkpoints are derived
        # data (the next interval commit retries), so a failure MUST
        # NOT escape as a commit failure: merge/compact/merge_pruned
        # treat RuntimeError from _commit as "commit lost" and delete
        # the just-committed data files — a table-corruption path if
        # a checkpoint exception ever propagated past this point.
        try:
            _write_checkpoint(table, version)
        except Exception:  # noqa: BLE001 — best-effort derived data
            pass


def _write_checkpoint(table: str, version: int) -> None:
    """Materialize the live-file set + stats at ``version`` as a
    checkpoint file. Deterministic from the log, so concurrent writers
    producing the same checkpoint is harmless (last rename wins with
    identical content); a crash before the rename just means the next
    interval commit retries. Plain rename suffices here — checkpoints
    are derived data, not the lock."""
    live, stats = _replay(table, version)
    txns = _replay_txns(table, version)
    dvs = _replay_dvs(table, version, use_checkpoint=False)
    schema = table_schema(table, version)
    tmp = _checkpoint_path(table, version) + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "live": live,
                "stats": stats,
                "txns": txns,
                "dvs": dvs,
                "schema": schema.json() if schema is not None else None,
            },
            f,
        )
    os.replace(tmp, _checkpoint_path(table, version))


def _replay_txns(
    table: str,
    version: int | None = None,
    *,
    use_checkpoint: bool = True,
) -> dict[str, int]:
    """Per-app max committed transaction version up to ``version``
    (checkpoint-seeded like :func:`_replay` — checkpoints written
    before txn support carry no ``txns`` map, which is correct only
    if no earlier commit used one; txn support and checkpointing ship
    together, so that mix does not occur in practice)."""
    versions = _versions(table)
    if not versions:
        raise FileNotFoundError(f"no commits at {table}")
    upto = versions[-1] if version is None else version
    txns: dict[str, int] = {}
    start = 0
    if use_checkpoint:
        ckpts = [c for c in _checkpoint_versions(table) if c <= upto]
        if ckpts:
            with open(_checkpoint_path(table, ckpts[-1])) as f:
                snap = json.load(f)
            txns = {k: int(v) for k, v in snap.get("txns", {}).items()}
            start = snap["version"] + 1
    for v in versions:
        if v < start:
            continue
        if v > upto:
            break
        with open(_log_path(table, v)) as f:
            entry = json.load(f)
        t = entry.get("txn")
        if t is not None:
            app, ver = t[0], int(t[1])
            txns[app] = max(txns.get(app, -1), ver)
    return txns


def last_txn_version(table: str, app_id: str) -> int:
    """Highest transaction version committed by ``app_id`` (-1 if
    none) — the read half of the exactly-once handshake."""
    return _replay_txns(table).get(app_id, -1)


def _replay_dvs(
    table: str,
    version: int | None = None,
    *,
    use_checkpoint: bool = True,
) -> dict[str, list[int] | dict]:
    """Deletion-vector state at ``version``: per live file, either
    the inline row indexes readers must skip (small vectors) or a
    blob ref ``{"f": parquet dir, "n": cardinality, "k": blob row
    key}`` for executor-written vectors. Replay rules: a file's dv
    entry replaces earlier ones; removing a file drops its vector;
    empty vectors are dropped (a cleared file reads plainly again).
    Checkpoint-seeded like :func:`_replay`. Replay itself touches
    only log metadata — O(files) refs, never O(positions)."""

    def _parse(v):
        return v if isinstance(v, dict) else [int(i) for i in v]

    versions = _versions(table)
    if not versions:
        raise FileNotFoundError(f"no commits at {table}")
    upto = versions[-1] if version is None else version
    dvs: dict[str, list[int] | dict] = {}
    start = 0
    if use_checkpoint:
        ckpts = [c for c in _checkpoint_versions(table) if c <= upto]
        if ckpts:
            with open(_checkpoint_path(table, ckpts[-1])) as f:
                snap = json.load(f)
            dvs = {k: _parse(v) for k, v in snap.get("dvs", {}).items()}
            start = snap["version"] + 1
    for v in versions:
        if v < start:
            continue
        if v > upto:
            break
        with open(_log_path(table, v)) as f:
            entry = json.load(f)
        for rel in entry["remove"]:
            dvs.pop(rel, None)
        for rel, ids in entry.get("dv", {}).items():
            if ids:
                dvs[rel] = _parse(ids)
            else:
                dvs.pop(rel, None)
    return dvs


def _write_cdc(
    table: str, version: int, changes: DataFrame
) -> dict | None:
    """Write a commit's change images (data columns +
    ``_change_type``) as a parquet dir under ``_cdc/`` — executor-
    side, partition-parallel, exactly like a data write. Returns the
    commit ref ``{"f": rel dir, "n": row count}`` (count from parquet
    footers — O(files) driver metadata), or None for an empty change
    set (a no-op rewrite needs no change files)."""
    import pyarrow.parquet as pq

    rel = os.path.join(_CDC_DIR, f"{version:08d}-{uuid.uuid4().hex[:8]}")
    path = os.path.join(table, rel)
    changes.write.mode("error").parquet(path)
    n = sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    if n == 0:
        shutil.rmtree(path, ignore_errors=True)
        return None
    return {"f": rel, "n": int(n)}


def _write_data_or_discard_cdc(
    df: DataFrame,
    table: str,
    version: int,
    stat_cols: list[str] | None,
    cdc: dict | None,
) -> tuple[list[str], dict[str, dict[str, list]]]:
    """:func:`_write_data` with change-dir hygiene: the ``_cdc`` dir
    is written BEFORE the data files, so if the data write (or its
    stats step) fails with anything — not just the commit-race
    RuntimeError the callers already handle — the uncommitted change
    dir must go too, or it lingers unreferenced until version-based
    vacuum expiry."""
    try:
        return _write_data(df, table, version, stat_cols)
    except BaseException:
        if cdc is not None:
            shutil.rmtree(
                os.path.join(table, cdc["f"]), ignore_errors=True
            )
        raise


def _diff_changes(old: DataFrame, new: DataFrame) -> DataFrame:
    """Row-image diff as change images: rows only in ``new`` are
    inserts, rows only in ``old`` are deletes; carried rows cancel
    (multiset). The same semantics :func:`change_feed` derives at
    read time — writer and reader agree by construction."""
    return (
        new.exceptAll(old)
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(
            old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        )
    )


def _dv_total(dvs: dict[str, list[int] | dict]) -> int:
    """Total position cardinality of a DV mapping, from metadata
    alone (inline lengths + blob-ref counts — no blob I/O)."""
    return sum(
        int(ref["n"]) if isinstance(ref, dict) else len(ref)
        for ref in dvs.values()
    )


def _dv_blob_dir(ref_f: str, table: str) -> str:
    """A blob ref's parquet directory, resolved against the table
    root (clone-published refs are already absolute)."""
    return ref_f if os.path.isabs(ref_f) else os.path.join(table, ref_f)


def _dv_rows(
    spark: SparkSession, table: str, dvs: dict[str, list[int] | dict]
) -> DataFrame:
    """The ``(__dv_key, __dv_idx)`` rows of a DV mapping, built
    WITHOUT materializing positions on the driver: inline vectors
    (bounded by the DV_INLINE_MAX write invariant) become a local
    DataFrame; blob vectors are parquet scans of their
    executor-written position files. A blob dir written by one commit
    can serve several files, and a LATER commit may have replaced
    some file's vector in a newer blob — so blob rows are filtered to
    the CURRENT (key → blob dir) mapping via a broadcast of O(files)
    metadata."""
    inline = {k: ref for k, ref in dvs.items() if isinstance(ref, list)}
    blobs = {k: ref for k, ref in dvs.items() if isinstance(ref, dict)}
    parts: list[DataFrame] = []
    schema_ddl = "__dv_key string, __dv_idx bigint"
    if inline:
        pairs = [(k, int(i)) for k, ids in inline.items() for i in ids]
        parts.append(local_df(spark, pairs, schema_ddl))
    if blobs:
        dirs = sorted(
            {_dv_blob_dir(ref["f"], table) for ref in blobs.values()}
        )
        cur = local_df(
            spark,
            [
                (
                    k,
                    ref.get("k", k),
                    os.path.basename(
                        os.path.abspath(_dv_blob_dir(ref["f"], table))
                    ),
                )
                for k, ref in blobs.items()
            ],
            "__dv_key string, __blob_k string, __blob_dir string",
        )
        bdf = spark.read.schema("k string, idx bigint").parquet(
            *dirs
        ).withColumn(
            "__src_dir",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -2),
        )
        parts.append(
            bdf.join(
                F.broadcast(cur),
                (bdf["k"] == cur["__blob_k"])
                & (bdf["__src_dir"] == cur["__blob_dir"]),
            ).select(
                F.col("__dv_key"), F.col("idx").alias("__dv_idx")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_schema(table: str, version: int | None = None):
    """The table's logged schema AS OF ``version`` (StructType), or
    None for pre-schema-protocol tables (their snapshot falls back to
    parquet inference). The LAST schema action at or below the
    version wins — schema changes are commits like any other, so time
    travel below an evolution sees the OLD schema."""
    versions = _versions(table)
    if not versions:
        raise FileNotFoundError(f"no commits at {table}")
    upto = versions[-1] if version is None else version
    schema_json = None
    start = 0
    ckpts = [c for c in _checkpoint_versions(table) if c <= upto]
    if ckpts:
        with open(_checkpoint_path(table, ckpts[-1])) as f:
            snap = json.load(f)
        schema_json = snap.get("schema")
        start = snap["version"] + 1
    for v in versions:
        if v < start:
            continue
        if v > upto:
            break
        with open(_log_path(table, v)) as f:
            entry = json.load(f)
        if "schema" in entry:
            schema_json = entry["schema"]
    if schema_json is None:
        return None
    return T.StructType.fromJson(json.loads(schema_json))


def _column_mapping(
    table: str, version: int | None = None
) -> dict[str, str]:
    """COLUMN MAPPING state as of ``version``: physical name (the name
    in the data files and the logged schema, fixed at create time) →
    current logical name, for every column a :func:`rename_column`
    commit has touched. Identity entries are omitted, so an empty dict
    means no renames and every mapped code path no-ops. Renames chain:
    a→b then b→c leaves {a: c}."""
    versions = _versions(table)
    if not versions:
        return {}
    upto = versions[-1] if version is None else version
    m: dict[str, str] = {}
    for v in versions:
        if v > upto:
            break
        with open(_log_path(table, v)) as f:
            entry = json.load(f)
        r = entry.get("rename")
        if r:
            old, new = r["old"], r["new"]
            phys = next((p for p, l in m.items() if l == old), old)
            m[phys] = new
        retired = entry.get("retire")
        if retired:
            # DROP COLUMN removes the physical column from the logged
            # schema; its mapping entry must go with it, or the stale
            # logical name stays claimable AND a later rename chain
            # (`next(p for p, l ...)`) can resolve onto the dropped
            # physical — committing a rename of a nonexistent column
            # (silent no-op) and leaving two physicals mapped to one
            # logical name. Versioned like the renames: time travel
            # below the drop still sees the old mapping.
            m.pop(retired, None)
    return {p: l for p, l in m.items() if p != l}


def _physical_name(
    table: str, col: str, version: int | None = None
) -> str:
    """A logical column name → its physical (at-rest) name."""
    m = _column_mapping(table, version)
    inv = {l: p for p, l in m.items()}
    return inv.get(col, col)


def logical_schema(table: str, version: int | None = None):
    """:func:`table_schema` (always physical names) presented under
    the column mapping as of ``version`` — what :func:`snapshot`
    returns."""
    sch = table_schema(table, version)
    if sch is None:
        return None
    m = _column_mapping(table, version)
    if not m:
        return sch
    return T.StructType(
        [
            T.StructField(m.get(f.name, f.name), f.dataType, f.nullable)
            for f in sch.fields
        ]
    )


def _physical_schema_json(table: str, schema) -> str:
    """A logical-named StructType rendered with physical names for the
    log (identity when no renames exist)."""
    m = _column_mapping(table)
    if not m:
        return schema.json()
    inv = {l: p for p, l in m.items()}
    return T.StructType(
        [
            T.StructField(inv.get(f.name, f.name), f.dataType, f.nullable)
            for f in schema.fields
        ]
    ).json()


def rename_column(spark: SparkSession, table: str, old: str, new: str) -> int:
    """Delta's column-mapping RENAME COLUMN: a METADATA-ONLY commit —
    zero data bytes move at any table size. Files keep their physical
    column names forever; the log records the logical mapping and
    every read (:func:`snapshot`, and the frames the mutation
    operators compute on via :func:`_read_live`) presents logical
    names, while every write (:func:`_write_data`) translates back to
    physical. Time travel below the rename sees the OLD name — the
    mapping is versioned like any other commit.

    Name-space law: the new name must collide with neither a current
    logical name nor ANY physical name — names are this protocol's
    field ids (Delta uses numeric ids for the same purpose), and a
    logical name shadowing a physical one would make the translation
    ambiguous. ``ValueError`` on violation, nothing committed.

    CDF caveat: change files written before a rename keep their
    at-write names (like parquet files, they are immutable); CDF
    consumers reading across a rename see the old names for old
    commits.
    """
    read_v = _versions(table)[-1]
    sch = table_schema(table, read_v)
    if sch is None:
        raise ValueError(f"{table} has no logged schema to rename in")
    m = _column_mapping(table, read_v)
    physical = [f.name for f in sch.fields]
    logical = [m.get(p, p) for p in physical]
    if old not in logical:
        raise ValueError(f"no column {old!r} in {table} (have {logical})")
    if new in logical or new in physical:
        raise ValueError(
            f"{new!r} collides with an existing logical or physical "
            f"column name of {table}"
        )
    if new in _retired_columns(table, read_v):
        raise ValueError(
            f"{new!r} was retired by DROP COLUMN on {table}: old data "
            "files still carry values under the name"
        )
    next_v = read_v + 1
    _commit(
        table, next_v, add=[], remove=[], op="RENAME_COLUMN",
        rename={"old": old, "new": new},
    )
    return next_v


def _retired_columns(table: str, version: int | None = None) -> set[str]:
    """Physical names retired by DROP COLUMN commits at or below
    ``version``. Retirement is PERMANENT: the name still exists in
    old data files, so letting a later append re-introduce it would
    silently RESURRECT pre-drop values under the logged-schema scan
    (Delta avoids this with numeric field ids; this protocol uses
    names as ids, so the name is simply never reusable). O(versions)
    metadata replay, like the rename map."""
    versions = _versions(table)
    if not versions:
        return set()
    upto = versions[-1] if version is None else version
    out: set[str] = set()
    for v in versions:
        if v > upto:
            break
        with open(_log_path(table, v)) as f:
            entry = json.load(f)
        r = entry.get("retire")
        if r:
            out.add(r)
    return out


def drop_column(spark: SparkSession, table: str, col: str) -> int:
    """Delta's column-mapping DROP COLUMN: a METADATA-ONLY commit —
    zero data bytes move at any table size. The commit publishes the
    logged schema MINUS the column (schema actions version like any
    other, so time travel below the drop still sees it) and RETIRES
    the physical name. Data files keep the column forever; the
    logged-schema scan simply never reads it — parquet column
    pruning makes the drop free at read time too.

    Retirement is what keeps the drop sound: the append path's
    additive evolution and :func:`rename_column` both refuse a
    retired name, because old files still carry values under it and
    re-introducing the name would resurrect them (see
    :func:`_retired_columns`). A full-rewrite merge with
    ``evolve_schema`` may reuse the name safely — it removes every
    old file in the same commit — but the uniform refusal keeps the
    rule auditable.

    ``ValueError`` on unknown column or dropping the last column.
    """
    read_v = _versions(table)[-1]
    sch = table_schema(table, read_v)
    if sch is None:
        raise ValueError(f"{table} has no logged schema to drop from")
    p = _physical_name(table, col, read_v)
    names = [f.name for f in sch.fields]
    if p not in names:
        m = _column_mapping(table, read_v)
        raise ValueError(
            f"no column {col!r} in {table} "
            f"(have {[m.get(n, n) for n in names]})"
        )
    if len(names) == 1:
        raise ValueError(f"cannot drop the only column of {table}")
    new_schema = T.StructType([f for f in sch.fields if f.name != p])
    next_v = read_v + 1
    _commit(
        table, next_v, add=[], remove=[], op="DROP_COLUMN",
        schema_json=new_schema.json(), retire=p,
    )
    return next_v


def _apply_generated_exprs(df: DataFrame, gen: dict[str, str]) -> DataFrame:
    """Delta's GENERATED ALWAYS AS write contract: a declared column
    the writer OMITS is computed from its expression; a column the
    writer PROVIDES must match the expression on every row (one
    codegen'd scan of the batch) or the write is refused — otherwise
    readers could never trust the invariant the declaration promises.
    Expressions reference physical column names (they are declared at
    create time, before any rename can exist)."""
    for col, expr in gen.items():
        if col in df.columns:
            bad = df.filter(
                ~F.col(col).eqNullSafe(F.expr(expr))
            ).count()
            if bad:
                raise ValueError(
                    f"generated column {col!r}: {bad} rows violate "
                    f"GENERATED ALWAYS AS ({expr})"
                )
        else:
            df = df.withColumn(col, F.expr(expr))
    return df


def _generated_columns(table: str) -> dict[str, str]:
    return dict(table_properties(table).get("generated", {}))


def create_table(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    properties: dict | None = None,
) -> None:
    """Create (or replace) the table as commit version 0. Declaring
    ``stats_cols`` (the future merge keys) records per-file min/max in
    the commit so later ``merge_pruned`` calls never open a footer.

    ``properties`` land in the version-0 commit (Delta's
    TBLPROPERTIES): ``{"cdc": True}`` opts every rewriting commit
    (merge/delete_where/update_where) into writer-side change files
    by default, so a CDF stream over the table always plans per-file
    ``cdc`` partitions instead of the read-time diff fallback — the
    property a table created BY a streaming pipeline should declare."""
    if properties and properties.get("generated"):
        df = _apply_generated_exprs(df, dict(properties["generated"]))
    shutil.rmtree(table, ignore_errors=True)
    os.makedirs(table)
    files, stats = _write_data(df, table, 0, stats_cols)
    _commit(
        table, 0, add=files, remove=[], stats=stats, op="CREATE",
        schema_json=df.schema.json(), props=properties,
    )


def table_properties(table: str) -> dict:
    """Properties declared at table creation (the version-0 commit).
    Immutable by design here — a property that changes mid-history
    (e.g. cdc off→on) would make CDF serveability version-dependent;
    declare at create time instead."""
    versions = _versions(table)
    if not versions:
        return {}
    with open(_log_path(table, versions[0])) as f:
        return json.load(f).get("props", {})


def _replay(
    table: str,
    version: int | None = None,
    *,
    use_checkpoint: bool = True,
) -> tuple[list[str], dict[str, dict[str, list]]]:
    """Replay the log up to ``version`` (default: latest); returns
    (sorted live files, per-live-file stats where recorded).

    Starts from the newest checkpoint at or below the target version
    (written every :data:`CHECKPOINT_INTERVAL` commits), so the cost
    is O(interval) commit reads regardless of table age — the Delta
    paper's checkpointing, minus the parquet encoding (a single JSON
    is fine at one small record per live file). ``use_checkpoint=
    False`` forces a full from-zero replay (the property test's
    ground truth)."""
    versions = _versions(table)
    if not versions:
        raise FileNotFoundError(f"no commits at {table}")
    upto = versions[-1] if version is None else version
    live: set[str] = set()
    stats: dict[str, dict[str, list]] = {}
    start = 0
    if use_checkpoint:
        ckpts = [c for c in _checkpoint_versions(table) if c <= upto]
        if ckpts:
            with open(_checkpoint_path(table, ckpts[-1])) as f:
                snap = json.load(f)
            live = set(snap["live"])
            stats = dict(snap["stats"])
            start = snap["version"] + 1
    for v in versions:
        if v < start:
            continue
        if v > upto:
            break
        with open(_log_path(table, v)) as f:
            entry = json.load(f)
        for rel in entry["remove"]:
            live.discard(rel)
            stats.pop(rel, None)
        live |= set(entry["add"])
        stats.update(entry.get("stats", {}))
    return sorted(live), stats


def live_files(table: str, version: int | None = None) -> list[str]:
    """Replay the log up to ``version`` (default: latest)."""
    return _replay(table, version)[0]


def snapshot(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """Read the table AS OF a version (time travel; default latest).

    Raises :class:`VersionVacuumedError` if the version's data files
    were deleted by :func:`vacuum` (log history outlives data, exactly
    Delta's retention trade). The existence probe is a driver-side
    listing of the snapshot's own files — O(files-in-snapshot) stat
    calls, the same metadata the scan is about to open anyway.
    """
    rels = live_files(table, version)
    dvs = _replay_dvs(table, version)
    paths = [os.path.join(table, p) for p in rels]
    # DV blob dirs are part of the snapshot too: a vacuumed blob would
    # otherwise surface as a raw path-not-found mid-plan
    paths += [
        _dv_blob_dir(ref["f"], table)
        for r, ref in dvs.items()
        if r in set(rels) and isinstance(ref, dict)
    ]
    gone = [p for p in paths if not os.path.exists(p)]
    if gone:
        raise VersionVacuumedError(
            f"version {version if version is not None else 'latest'} of "
            f"{table} references {len(gone)} vacuumed data file(s) "
            f"(e.g. {gone[0]}); re-read at or above the retention window"
        )
    return _read_live(
        spark, table, rels, dvs,
        schema=table_schema(table, version), version=version,
    )


def snapshot_count(
    spark: SparkSession, table: str, version: int | None = None
) -> int:
    """``snapshot(...).count()`` without a Spark job when the version
    carries no deletion vectors: committed files are immutable
    parquet, so their footer row counts are authoritative — the same
    metadata a count() scan opens, minus the job (guide §1.2). A
    DV-bearing version falls back to the scan-based count so the
    anti-join arithmetic stays in one code path."""
    rels = live_files(table, version)
    live = set(rels)
    dvs = {
        r: ref
        for r, ref in _replay_dvs(table, version).items()
        if r in live and ref
    }
    if dvs:
        return snapshot(spark, table, version).count()
    import pyarrow.parquet as pq

    try:
        return sum(
            pq.read_metadata(os.path.join(table, r)).num_rows
            for r in rels
        )
    except FileNotFoundError:
        raise VersionVacuumedError(
            f"version {version if version is not None else 'latest'} "
            f"of {table} references vacuumed data file(s); re-read at "
            "or above the retention window"
        )


def _norm_file_path() -> "F.Column":
    """``_metadata.file_path`` (a ``file:///...`` URI) normalized to a
    plain absolute path, for joining against log-relative names."""
    return F.regexp_replace(F.col("_metadata.file_path"), "^file:/+", "/")


def _read_live(
    spark: SparkSession,
    table: str,
    rels: list[str],
    dvs: dict[str, list[int] | dict],
    *,
    with_file: bool = False,
    with_pos: bool = False,
    schema=None,
    version: int | None = None,
) -> DataFrame:
    """Scan ``rels`` applying deletion vectors (merge-on-read): rows
    whose (file, row_index) appear in a DV are anti-joined away using
    the scan's own ``_metadata`` row position — no data rewrite ever
    happened for them. Inline vectors and executor-written blob refs
    both flow through :func:`_dv_rows`, so the driver never holds
    O(positions). The DV side broadcasts while its total cardinality
    (log metadata) stays under DV_BROADCAST_MAX; larger vector sets
    leave the join strategy to AQE (production engines use roaring
    bitmaps pushed into the scan, same join shape). ``with_file``
    keeps the normalized file path as ``__file`` for callers that
    need file attribution."""
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(*[os.path.join(table, r) for r in rels])
    m = _column_mapping(table, version)

    def _to_logical(frame: DataFrame, keep: list[str]) -> DataFrame:
        # column mapping: files are physical, frames are LOGICAL —
        # alias mapped data columns on the way out (the DV anti-join
        # above runs on __file/__idx, untouched by the aliasing)
        if not m:
            return frame.select(*keep)
        return frame.select(
            *[F.col(c).alias(m.get(c, c)) for c in keep]
        )

    live_dvs = {r: ref for r, ref in dvs.items() if r in set(rels) and ref}
    if not live_dvs and not (with_file or with_pos):
        return _to_logical(df, df.columns) if m else df
    cols = df.columns
    df = df.withColumn("__file", _norm_file_path()).withColumn(
        "__idx", F.col("_metadata.row_index")
    )
    if live_dvs:
        key_map = local_df(
            spark,
            [
                (k, os.path.abspath(os.path.join(table, k)))
                for k in live_dvs
            ],
            "__dv_key string, __dv_file string",
        )
        dv_df = (
            _dv_rows(spark, table, live_dvs)
            .join(F.broadcast(key_map), "__dv_key")
            .select("__dv_file", "__dv_idx")
        )
        if _dv_total(live_dvs) <= DV_BROADCAST_MAX:
            dv_df = F.broadcast(dv_df)
        df = df.join(
            dv_df,
            (df["__file"] == dv_df["__dv_file"])
            & (df["__idx"] == dv_df["__dv_idx"]),
            "left_anti",
        )
    keep = list(cols)
    if with_file:
        keep.append("__file")
    if with_pos:
        keep.append("__idx")
    return _to_logical(df, keep)


def _align_schemas(
    current: DataFrame, updates: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Additive schema evolution (Delta's autoMerge semantics): pad
    each side with typed NULLs for columns only the other side has,
    so an updates batch can INTRODUCE a column — existing rows carry
    NULL for it, and the upsert's partial-update rule applies to it
    like any other column. Column renames/drops are intentionally not
    inferred (destructive evolution needs an explicit migration)."""
    for f in updates.schema.fields:
        if f.name not in current.columns:
            current = current.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    for f in current.schema.fields:
        if f.name not in updates.columns:
            updates = updates.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    return current, updates.select(*current.columns)


def merge(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str],
    *,
    evolve_schema: bool = False,
    txn: tuple[str, int] | None = None,
    guard_cols: list[str] | None = None,
    write_cdc: bool | None = None,
) -> int:
    """Transactional MERGE: deterministic upsert of ``updates`` into
    the current snapshot, committed as the next version. Returns the
    new version number. With ``evolve_schema=True``, columns new to
    the updates batch are added to the table (additive evolution —
    the full rewrite makes every live file carry the evolved schema,
    so readers never need mergeSchema).

    ``write_cdc=True`` records the commit's row-level change images
    as writer-side CHANGE FILES (Delta's ``_change_data``): the diff
    of the new snapshot against the old — computed distributedly here,
    where the engine holds both frames anyway — lands under ``_cdc/``
    and CDF consumers read it per-file-parallel instead of
    re-deriving the multiset diff per commit (proportional extra cost
    on a rewrite that scans both states regardless; guards and
    schema evolution compose, since the diff runs on the final
    frames). The default (``None``) consults the table's ``cdc``
    property (:func:`table_properties`), so a table created with
    ``properties={"cdc": True}`` gets change files on EVERY rewrite
    without per-call opt-ins — the streamed-table contract.

    OCC correctness: the version read is PINNED first and the commit
    targets exactly ``read_v + 1`` — a competing commit that lands
    between our snapshot read and our claim makes the link fail, so a
    merge computed on stale state can never land (targeting "latest
    + 1" at commit time instead would silently erase the interleaved
    writer's update).

    Txn validation rides the same pin: with ``txn=(app, ver)``, the
    per-app committed-version map is evaluated AS OF ``read_v`` and
    the commit targets ``read_v + 1`` — an interleaved same-app
    commit necessarily claims ``read_v + 1`` first, forcing this
    attempt into a conflict-retry that re-pins and re-checks. The
    check-then-commit pair is therefore atomic; a pre-check outside
    the pin (the old merge_idempotent shape) admits the zombie-driver
    double-apply: check-B / commit-A / merge-B(pins post-A, no
    conflict)."""
    if write_cdc is None:
        write_cdc = bool(table_properties(table).get("cdc", False))
    gen = _generated_columns(table)
    if gen:  # GENERATED ALWAYS AS holds for merge inserts/updates too
        updates = _apply_generated_exprs(updates, gen)
    read_v = _versions(table)[-1]
    if txn is not None:
        app_id, txn_version = txn
        if txn_version <= _replay_txns(table, read_v).get(app_id, -1):
            raise TxnAlreadyApplied(
                f"txn ({app_id}, {txn_version}) already committed at "
                f"version {read_v} of {table}"
            )
    current = snapshot(spark, table, read_v)
    schema_json = None
    if evolve_schema:
        current, updates = _align_schemas(current, updates)
        if table_schema(table, read_v) is not None:
            # the logged schema stays PHYSICAL under column mapping
            schema_json = _physical_schema_json(table, current.schema)
    merged = upsert(
        current, updates, keys, update_cols, guard_cols=guard_cols
    )
    next_v = read_v + 1
    cdc = (
        _write_cdc(table, next_v, _diff_changes(current, merged))
        if write_cdc
        else None
    )
    new_files, stats = _write_data_or_discard_cdc(
        merged, table, next_v, keys, cdc
    )
    try:
        _commit(
            table, next_v, add=new_files,
            remove=live_files(table, read_v), stats=stats, txn=txn,
            op="MERGE", schema_json=schema_json, cdc=cdc,
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        if cdc is not None:
            shutil.rmtree(
                os.path.join(table, cdc["f"]), ignore_errors=True
            )
        raise
    return next_v


def merge_sync(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    update_cols: list[str],
    *,
    scope: str | None = None,
    write_cdc: bool | None = None,
) -> tuple[int, int, int, int]:
    """Full tri-clause MERGE — the mirror-sync statement:

    * WHEN MATCHED → update ``update_cols`` from the source row;
    * WHEN NOT MATCHED → insert the source row;
    * WHEN NOT MATCHED BY SOURCE → DELETE, restricted to rows where
      ``scope`` is TRUE (SQL semantics: a NULL scope keeps the row).

    ``scope`` is what makes the delete clause usable in practice: a
    CDC mirror syncs one region/day at a time, and rows outside the
    synced region must never be deleted just because the source batch
    doesn't mention them (Delta's ``whenNotMatchedBySourceDelete``
    carries the same condition for the same reason).

    ``write_cdc`` follows :func:`merge`'s contract exactly — default
    ``None`` consults the table's ``cdc`` property, so a streamed
    table gets change files on THIS rewrite too (a cdc table whose
    most natural op — the mirror sync — skipped change files would
    silently push CDF consumers onto the read-time diff fallback).

    Returns ``(new_version, n_updated, n_inserted, n_deleted)``. The
    commit is the same pinned-read full rewrite as :func:`merge` —
    OCC applies unchanged.

    Scale: the delete clause is one anti-join of the scoped snapshot
    against the source keys; the three audit scalars come out of ONE
    conditional aggregate over a single left-join pass (plus an
    O(batch) count of the distinct source keys), not a scan per
    clause. At 100 TB the scoped region is the unit of sync, so the
    sync-specific legs are O(region + batch); the audit pass and the
    rewrite scan the snapshot once each, which the merge pays anyway.
    """
    if write_cdc is None:
        write_cdc = bool(table_properties(table).get("cdc", False))
    read_v = _versions(table)[-1]
    current = snapshot(spark, table, read_v)
    src_keys = source.select(*keys).distinct()
    if scope is None:
        in_scope = F.lit(True)
    else:
        in_scope = F.expr(scope).eqNullSafe(F.lit(True))
    scoped = current.filter(in_scope)
    kept = current.filter(~in_scope).unionByName(
        scoped.join(F.broadcast(src_keys), keys, "semi")
    )
    # audit scalars: one conditional aggregate over one left join.
    # The match-flag helper column gets a collision-proof name — a
    # table that legitimately owns a column named "_m" would make a
    # bare F.col("_m") ambiguous and fail the merge (ADVICE r11 #3).
    mcol = "_m"
    while mcol in current.columns:
        mcol = "_" + mcol
    flagged = current.join(
        F.broadcast(src_keys.withColumn(mcol, F.lit(1))), keys, "left"
    )
    audit = flagged.agg(
        F.sum(F.when(F.col(mcol) == 1, 1).otherwise(0)).alias("n_upd"),
        F.sum(
            F.when(in_scope & F.col(mcol).isNull(), 1).otherwise(0)
        ).alias("n_del"),
        F.count_distinct(
            F.when(F.col(mcol) == 1, F.struct(*keys))
        ).alias("n_matched_keys"),
    ).collect()[0]
    n_updated = int(audit.n_upd or 0)
    n_deleted = int(audit.n_del or 0)
    n_inserted = src_keys.count() - int(audit.n_matched_keys or 0)
    merged = upsert(kept, source, keys, update_cols)
    next_v = read_v + 1
    cdc = (
        _write_cdc(table, next_v, _diff_changes(current, merged))
        if write_cdc
        else None
    )
    new_files, stats = _write_data_or_discard_cdc(
        merged, table, next_v, keys, cdc
    )
    try:
        _commit(
            table, next_v, add=new_files,
            remove=live_files(table, read_v), stats=stats,
            op="MERGE_SYNC", cdc=cdc,
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        raise
    return next_v, n_updated, n_inserted, n_deleted


def merge_retrying(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str],
    max_attempts: int = 3,
) -> int:
    """MERGE with the optimistic-concurrency retry loop the commit
    protocol is designed for: on a version-claim conflict (another
    writer committed first), re-read the NOW-CURRENT snapshot and
    re-apply the merge against it — the loser's work is recomputed on
    fresh state, never silently dropped or double-applied. This is the
    client-side half of OCC; :func:`_commit`'s ``os.link`` EEXIST is
    the server-side half. Raises after ``max_attempts`` conflicts
    (pathological contention — callers should back off and requeue).

    Retry safety: each attempt reads the snapshot fresh inside
    :func:`merge`, and an attempt that lost the race committed
    NOTHING (the version file claim is all-or-nothing), so reapplying
    is exactly-once by construction.
    """
    last: RuntimeError | None = None
    for _ in range(max_attempts):
        try:
            return merge(spark, table, updates, keys, update_cols)
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                raise
            last = e
    raise RuntimeError(
        f"merge lost {max_attempts} optimistic-concurrency races on "
        f"{table}; giving up"
    ) from last


def compact(spark: SparkSession, table: str, target_files: int = 1) -> int:
    """OPTIMIZE: rewrite the current live set into ``target_files``
    files — the small-files compaction, expressed as an ordinary
    commit (add the compacted files, remove the fragmented ones).
    Readers of any version are untouched; time travel still resolves
    pre-compaction versions to the old files until vacuum removes
    them. Returns the new version."""
    read_v = _versions(table)[-1]
    rels, stats = _replay(table, read_v)
    stat_cols = sorted({c for s in stats.values() for c in s})
    current = snapshot(spark, table, read_v).coalesce(target_files)
    next_v = read_v + 1
    new_files, new_stats = _write_data(current, table, next_v, stat_cols)
    try:
        _commit(
            table, next_v, add=new_files, remove=rels,
            stats=new_stats, op="OPTIMIZE",
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        raise
    return next_v


def compact_binpack(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
) -> tuple[int, int, int]:
    """OPTIMIZE with SIZE-based bin packing — Delta's actual OPTIMIZE
    semantics, refining :func:`compact`'s rewrite-everything shape:
    only files smaller than ``min_file_bytes`` (default
    ``target_bytes // 2``) are eligible; they are packed into
    ``ceil(total_small_bytes / target_bytes)`` output files and
    rewritten in ONE commit, while every right-sized file carries
    over untouched — churn proportional to the small-file debt, not
    the table. File sizes come from filesystem metadata (O(files)
    driver-side, the same listing vacuum does); the rewrite reads
    DV-aware, so vectored rows stay deleted and the rewritten files'
    vectors drop with them. Fewer than two eligible files is a no-op
    (nothing to pack). Returns
    ``(version, n_rewritten, n_carried)``."""
    read_v = _versions(table)[-1]
    rels, stats = _replay(table, read_v)
    if min_file_bytes is None:
        min_file_bytes = target_bytes // 2
    sizes = {r: os.path.getsize(os.path.join(table, r)) for r in rels}
    small = [r for r in rels if sizes[r] < min_file_bytes]
    if len(small) < 2:
        return read_v, 0, len(rels)
    carry_rels = [r for r in rels if r not in set(small)]
    n_bins = max(
        1, -(-sum(sizes[r] for r in small) // target_bytes)
    )
    dvs = _replay_dvs(table, read_v)
    packed = _read_live(
        spark, table, small, dvs, schema=table_schema(table, read_v)
    ).repartition(n_bins)
    stat_cols = sorted({c for s in stats.values() for c in s})
    next_v = read_v + 1
    new_files, new_stats = _write_data(packed, table, next_v, stat_cols)
    carry = {r: s for r, s in stats.items() if r in set(carry_rels)}
    try:
        _commit(
            table, next_v, add=new_files, remove=small,
            stats={**carry, **new_stats}, op="OPTIMIZE",
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        raise
    return next_v, len(small), len(carry_rels)


def vacuum(
    spark: SparkSession,
    table: str,
    keep_versions: int = 1,
    dry_run: bool = False,
    keep_exact: list[int] | None = None,
) -> int:
    """VACUUM: delete data files unreachable from the retained version
    window (the newest ``keep_versions`` commits). Time travel below
    the window raises :class:`VersionVacuumedError` — exactly Delta's
    retention trade. The log entries stay (history metadata is cheap);
    only data files go. Returns the number of files deleted.

    ``keep_exact`` replaces the newest-window rule with an EXPLICIT
    retained-version list (files live at ANY listed version survive) —
    the retention shape a catalog-level collector needs, where the
    versions worth keeping are the ones a pipeline manifest still
    references, not a contiguous tail (``declarative.pipeline_vacuum``
    is the caller). Versions not in the table's log are ignored.

    ``dry_run=True`` (Delta's ``VACUUM ... DRY RUN``) counts the
    files the delete WOULD remove and touches nothing — the
    look-before-you-leap a 100 TB table owner runs first."""
    versions = _versions(table)
    if keep_exact is not None:
        retained = sorted(set(keep_exact) & set(versions))
        if not retained:
            raise ValueError(
                f"keep_exact {sorted(set(keep_exact))} retains no "
                f"version of {table} (log has {versions})"
            )
    else:
        retained = versions[-keep_versions:]
    keep: set[str] = set()
    keep_dv_dirs: set[str] = set()
    for v in retained:
        keep |= set(live_files(table, v))
        # blob-backed deletion vectors reachable from the window pin
        # their _dv/ dirs too (clone-owned ABSOLUTE refs point into
        # the source table — not ours to track or delete)
        for ref in _replay_dvs(table, v).values():
            if isinstance(ref, dict) and not os.path.isabs(ref["f"]):
                keep_dv_dirs.add(os.path.normpath(ref["f"]))
    deleted = 0
    data_root = os.path.join(table, _DATA_DIR)
    if os.path.isdir(data_root):
        for sub in sorted(os.listdir(data_root)):
            subdir = os.path.join(data_root, sub)
            for f in os.listdir(subdir):
                rel = os.path.join(_DATA_DIR, sub, f)
                if f.endswith(".parquet") and rel not in keep:
                    if not dry_run:
                        os.remove(os.path.join(table, rel))
                    deleted += 1
    # unreachable DV blob dirs go with the same retention window; a
    # whole dir counts as ONE deleted object (it is one log-level ref)
    dv_root = os.path.join(table, _DV_DIR)
    if os.path.isdir(dv_root):
        for sub in sorted(os.listdir(dv_root)):
            rel = os.path.normpath(os.path.join(_DV_DIR, sub))
            if rel not in keep_dv_dirs:
                if not dry_run:
                    shutil.rmtree(
                        os.path.join(table, rel), ignore_errors=True
                    )
                deleted += 1
    # change files expire with the retention window too. Serveability
    # caveat: only a retained commit's WRITER-SIDE change files are
    # guaranteed servable — its dv_delta and remove partitions need
    # PRE-images (prior DV blobs / removed data files) that may be
    # reachable only from versions below the window and were collected
    # above. That is Delta's trade too: CDF below/straddling the
    # retention boundary raises (VersionVacuumedError here), and a
    # table whose full CDF history must stay servable declares
    # cdc=True so every rewrite materializes its images at commit
    # time. Older change history goes with its time-travel snapshots
    # (each dir is one log-level ref — one deleted object).
    cdc_root = os.path.join(table, _CDC_DIR)
    if os.path.isdir(cdc_root):
        oldest_kept = retained[0]
        for sub in sorted(os.listdir(cdc_root)):
            ver = int(sub.split("-", 1)[0])
            if ver < oldest_kept:
                if not dry_run:
                    shutil.rmtree(
                        os.path.join(cdc_root, sub), ignore_errors=True
                    )
                deleted += 1
    return deleted


def _file_key_stats(
    spark: SparkSession, table: str, rel: str, key: str
) -> tuple:
    """Footer-only min/max of the merge key for one data file — the
    LEGACY fallback for commits written before stats lived in the log.
    Current-format commits never hit this path (merge_pruned reads the
    log's add-action stats instead)."""
    stats = _footer_stats(os.path.join(table, rel), [key])
    if key not in stats:
        return (None, None)  # no stats → must rewrite
    return tuple(stats[key])


def merge_pruned(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str],
    bloom_index: str | None = None,
) -> tuple[int, int, int]:
    """MERGE with file pruning — the scale refinement the plain merge
    documents: only data files that may hold a matched row are
    rewritten; everything else carries over untouched in the commit.
    This is the Delta/Iceberg data-skipping rewrite, driven by the
    add-action stats recorded in the commit log at write time —
    reading the (tiny) log, not one footer per live file. The find
    phase (:func:`_merge_find`) composes two pruners:

    1. Per-column stats intersection over EVERY integral merge key —
       sound because a matching row must equal an update on ALL key
       columns, so ONE disjoint column range already proves a file
       clean. A 1-key merge is simply the 1-column case.
    2. An optional composite-key BLOOM probe (``bloom_index`` from
       :func:`build_bloom_index_table` over the same key list) over
       the stats survivors — the point-set discriminator range stats
       cannot be: on a hash-distributed layout every file spans every
       column's full range, yet almost no file holds the probed key
       TUPLES. Files the index does not cover stay candidates.

    Pruning is gated to INTEGRAL merge keys: string footer statistics
    can be truncated by exotic writers (max not exact), which would
    make skipping unsafe. Non-integral keys never prune — correct,
    just unpruned.

    Returns (new_version, n_rewritten_files, n_carried_files).
    Correctness: no pruner has false negatives, so carried files can
    contain no matched rows; updates whose keys miss every file are
    inserts and land in the rewritten output. An EMPTY updates frame
    is a no-op: the current version is returned unchanged (no
    zero-row file, no log growth).
    """
    # OCC: pin the read version; the commit targets read_v + 1 so an
    # interleaved writer forces a conflict instead of being erased
    read_v = _versions(table)[-1]
    found = _merge_find(spark, table, updates, keys, read_v, bloom_index)
    if found is None:  # empty updates: nothing to merge, nothing to write
        return read_v, 0, len(live_files(table, read_v))
    rewrite, carry, _ = found
    next_v = _merge_rewrite_commit(
        spark, table, rewrite, updates, keys, update_cols, read_v,
        "MERGE_PRUNED",
    )
    return next_v, len(rewrite), len(carry)


def _merge_find(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    read_v: int,
    bloom_index: str | None = None,
) -> tuple[list[str], list[str], int] | None:
    """The MERGE find phase at ``read_v``: ``(rewrite, carry,
    n_stats_survivors)`` — the last is what the stats stage alone
    would rewrite, so callers can assert the bloom stage tightened
    the set — or None when ``updates`` holds no key. One bounded
    scalar job (per-key bounds of the updates), then a driver loop
    over the replayed add-action stats; files from legacy commits
    without logged stats fall back to a one-time footer read."""
    aggs = []
    for k in keys:
        aggs += [F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}")]
    b = updates.agg(*aggs).collect()[0]
    if all(b[f"__lo_{k}"] is None for k in keys):
        return None
    rels, logged = _replay(table, read_v)
    # stats are keyed by at-rest names; resolve the mapping ONCE (each
    # _column_mapping call re-reads every log entry)
    inv = {l: p for p, l in _column_mapping(table, read_v).items()}
    prunable = [
        (inv.get(k, k), b[f"__lo_{k}"], b[f"__hi_{k}"])
        for k in keys
        if isinstance(updates.schema[k].dataType, _INTEGRAL_TYPES)
        and b[f"__lo_{k}"] is not None
    ]
    survivors, carry = [], []
    for rel in rels:
        clean = False
        for pk, lo, hi in prunable:
            if rel in logged and pk in logged[rel]:
                f_lo, f_hi = logged[rel][pk]
            else:  # legacy commit without stats: one-time footer read
                f_lo, f_hi = _file_key_stats(spark, table, rel, pk)
            if f_lo is None:
                continue  # no stats on this column: can't prove clean
            if f_hi < lo or f_lo > hi:
                clean = True  # one disjoint key column proves it
                break
        (carry if clean else survivors).append(rel)

    rewrite = survivors
    if bloom_index is not None and survivors:
        probes = updates.select(_bloom_key_expr(keys).alias("k"))
        cand, _ = _bloom_candidates_join_df(
            spark, table, bloom_index, probes, read_v
        )
        cand_set = set(cand)
        rewrite = [r for r in survivors if r in cand_set]
        carry = carry + [r for r in survivors if r not in cand_set]
    return rewrite, carry, len(survivors)


def _merge_rewrite_commit(
    spark: SparkSession,
    table: str,
    rewrite: list[str],
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str],
    read_v: int,
    op: str,
) -> int:
    """The shared MERGE tail: read only the rewrite set DV-aware,
    upsert, commit (add new files, remove the rewrite set)."""
    if rewrite:
        touched = _read_live(
            spark, table, rewrite, _replay_dvs(table, read_v),
            schema=table_schema(table, read_v),
        )
    else:
        touched = snapshot(spark, table, read_v).limit(0)
    merged = upsert(touched, updates, keys, update_cols)
    next_v = read_v + 1
    new_files, stats = _write_data(merged, table, next_v, keys)
    try:
        _commit(
            table, next_v, add=new_files, remove=rewrite, stats=stats,
            op=op,
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        raise
    return next_v


def merge_with_constraints(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str],
    constraints: dict[str, str],
    *,
    evolve_schema: bool = False,
) -> tuple[int, DataFrame]:
    """MERGE with CHECK-constraint enforcement — Delta's table
    constraints / Declarative Pipelines' expectations as a batch
    primitive: each constraint is a named boolean SQL expression a
    row must satisfy to enter the table. Rows failing ANY constraint
    (including a NULL verdict — three-valued logic never admits an
    unproven row) are diverted to a returned quarantine frame tagged
    with the list of violated constraint names; the clean rows merge
    transactionally as usual. Returns ``(new_version, quarantined)``.

    The quarantine frame is the operational half: production lands it
    in its own table for replay after upstream fixes — nothing is
    silently dropped, and the merge commit only ever contains rows
    that satisfy every invariant (readers never see a violation, the
    same guarantee Delta enforces at write time).

    Scale: the classification is one codegen'd projection over the
    updates batch (no shuffle, no second scan); the merge path is
    unchanged.
    """
    verdicts = {
        name: F.expr(sql).eqNullSafe(F.lit(True))
        for name, sql in constraints.items()
    }
    tags = F.array_compact(
        F.array(
            *[
                F.when(~ok, F.lit(name))
                for name, ok in verdicts.items()
            ]
        )
    )
    marked = updates.withColumn("_violations", tags)
    quarantined = (
        marked.filter(F.size("_violations") > 0)
        .withColumnRenamed("_violations", "violations")
    )
    valid = marked.filter(F.size("_violations") == 0).drop("_violations")
    version = merge(
        spark, table, valid, keys, update_cols, evolve_schema=evolve_schema
    )
    return version, quarantined


def merge_idempotent(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: list[str],
    update_cols: list[str],
    txn: tuple[str, int],
    max_attempts: int = 3,
    guard_cols: list[str] | None = None,
) -> tuple[int, bool]:
    """Exactly-once MERGE for at-least-once delivery — Delta's
    txnAppId/txnVersion protocol: the caller names its write with a
    monotonically increasing per-app transaction version (a streaming
    sink's micro-batch id), and a re-delivered batch whose version is
    already committed is SKIPPED instead of double-applied.

    The skip check is IN-COMMIT (inside :func:`merge`, evaluated at
    the pinned read version the commit serializes against), so two
    concurrent deliveries of the same (app_id, txn_version) — the
    zombie-driver redelivery scenario — cannot both apply: whichever
    commits second either hits the version-claim conflict (retry →
    re-pin → sees the first's txn → skips) or saw the first's txn at
    its own pin. A pre-commit check here would NOT be atomic with the
    pin and admits check/commit/merge interleavings that double-apply.

    Returns ``(current_version, applied)`` — ``applied`` False means
    the batch was recognized as already committed.

    Scale: the txn map replays checkpoint-seeded like the file list
    (O(interval), not O(history)); state per app is one integer.
    """
    last: RuntimeError | None = None
    for _ in range(max_attempts):
        try:
            return (
                merge(
                    spark, table, updates, keys, update_cols,
                    txn=txn, guard_cols=guard_cols,
                ),
                True,
            )
        except TxnAlreadyApplied:
            return _versions(table)[-1], False
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                raise
            last = e
    raise RuntimeError(
        f"idempotent merge lost {max_attempts} races on {table}"
    ) from last


def clone_table(src: str, dst: str) -> None:
    """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``):
    ``dst``'s version-0 commit references ``src``'s current live data
    files by ABSOLUTE path — zero bytes copied, instant at any table
    size. The clone then diverges independently: its merges write new
    files under its own ``data/`` and its commits remove the absolute
    references, while the source is never touched (``vacuum`` on the
    clone walks only the clone's own data directory, so it can never
    delete source files — the one sharp edge of shallow clones, made
    structurally impossible here; vacuum on the SOURCE can still
    strand a clone, exactly Delta's documented caveat).

    Works through the unmodified read path because ``os.path.join(
    table, p)`` returns ``p`` unchanged when ``p`` is absolute — the
    same trick object-store manifests use with fully-qualified URIs.

    Use cases are the production ones: dev/test snapshots of a
    production table, experiment branches, and point-in-time
    archiving without duplicating 100 TB.
    """
    src_abs = os.path.abspath(src)
    rels, stats = _replay(src)
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    abs_files = [os.path.join(src_abs, r) for r in rels]
    abs_stats = {
        os.path.join(src_abs, k): v for k, v in stats.items()
    }
    # the clone must carry the source's CURRENT deletion vectors
    # (else rows the source deleted merge-on-read would resurrect in
    # the clone) and its logged schema (else a mixed-schema source
    # reads inconsistently through parquet inference)
    src_dvs = _replay_dvs(src)
    # blob refs re-key data files to absolute paths but must keep the
    # blob's STORED row key ("k", the source-relative path) and point
    # "f" at the source's blob dir absolutely — the clone never owns
    # the blob file, same as it never owns data files
    abs_dvs = {
        os.path.join(src_abs, k): (
            {
                "f": os.path.join(src_abs, v["f"])
                if not os.path.isabs(v["f"])
                else v["f"],
                "n": v["n"],
                "k": v.get("k", k),
            }
            if isinstance(v, dict)
            else v
        )
        for k, v in src_dvs.items()
    }
    src_schema = table_schema(src)
    _commit(
        dst, 0, add=abs_files, remove=[], stats=abs_stats,
        dv=abs_dvs or None, op="CLONE",
        schema_json=src_schema.json() if src_schema is not None else None,
    )



def _prune_candidates(
    table: str,
    rels: list[str],
    stats: dict[str, dict[str, list]],
    key_range: tuple[str, int, int] | None,
) -> list[str]:
    """Files that MAY contain rows in ``key_range=(col, lo, hi)``,
    from the commit log's per-file min/max alone (no file I/O). Files
    without logged stats for the column stay candidates. The caller
    asserts its predicate implies the range — same contract as a
    partition-pruning hint; the subsequent per-row filter still
    decides exactly. ``col`` is a LOGICAL name; logged stats are
    at-rest (physical) names, translated here."""
    if key_range is None:
        return list(rels)
    col, lo, hi = key_range
    col = _physical_name(table, col)
    out = []
    for rel in rels:
        st = stats.get(rel, {}).get(col)
        if st is None or (st[1] >= lo and st[0] <= hi):
            out.append(rel)
    return out


def delete_where(
    spark: SparkSession,
    table: str,
    condition: str,
    key_range: tuple[str, int, int] | None = None,
    write_cdc: bool | None = None,
) -> tuple[int, int]:
    """Row-level DELETE (Delta's ``DELETE FROM t WHERE ...``), copy-on-
    write at file granularity: a find phase locates the live files
    that CONTAIN matching rows (predicate pushed into the scan, so
    untouched files cost only footer metadata), then exactly those
    files are rewritten without their matching rows and swapped in one
    commit. Files with no matches carry over untouched — the GDPR
    delete against a 100 TB table rewrites only the files the keys
    live in, same as ``merge_pruned``.

    Returns ``(new_version, n_deleted)``; a no-match delete commits
    nothing and returns the current version.

    NULL semantics are SQL DELETE's: rows where the predicate is NULL
    are KEPT (only predicate-TRUE rows are deleted).

    ``write_cdc=None`` (default) consults the table's ``cdc``
    property, like :func:`merge`.
    """
    if write_cdc is None:
        write_cdc = bool(table_properties(table).get("cdc", False))
    read_v = _versions(table)[-1]
    rels, stats = _replay(table, read_v)
    dvs = _replay_dvs(table, read_v)
    candidates = _prune_candidates(table, rels, stats, key_range)
    if not candidates:
        return read_v, 0
    abs_to_rel = {
        os.path.abspath(os.path.join(table, r)): r for r in rels
    }
    cond = F.expr(condition)
    sch = table_schema(table, read_v)
    df = _read_live(
        spark, table, candidates, dvs, with_file=True, schema=sch
    )
    per_file = (
        df.filter(cond)
        .groupBy("__file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not per_file:
        return read_v, 0
    hit_rels = [abs_to_rel[r["__file"]] for r in per_file]
    n_deleted = sum(r["n"] for r in per_file)

    stat_cols = sorted({c for s in stats.values() for c in s})
    hit = _read_live(spark, table, hit_rels, dvs, schema=sch)
    is_hit = F.coalesce(cond.cast("boolean"), F.lit(False))
    keep = hit.filter(~is_hit)
    next_v = read_v + 1
    # change files: the deleted rows ARE the change set — no diff
    # needed, the find phase's predicate names them directly
    cdc = (
        _write_cdc(
            table, next_v,
            hit.filter(is_hit).withColumn(
                "_change_type", F.lit("delete")
            ),
        )
        if write_cdc
        else None
    )
    new_files, new_stats = _write_data_or_discard_cdc(
        keep, table, next_v, stat_cols, cdc
    )
    carry = {r: s for r, s in stats.items() if r not in set(hit_rels)}
    try:
        _commit(
            table, next_v, add=new_files, remove=hit_rels,
            stats={**carry, **new_stats}, op="DELETE", cdc=cdc,
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        if cdc is not None:
            shutil.rmtree(
                os.path.join(table, cdc["f"]), ignore_errors=True
            )
        raise
    return next_v, n_deleted


def overwrite_table(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    evolve_schema: bool = False,
) -> int:
    """Full-content replace as a NEW COMMIT (op=OVERWRITE): the next
    version adds the rewritten files and removes every live file.
    Unlike :func:`create_table` (rmtree + fresh v0), history survives
    — time travel, CDF diffs, and concurrent readers of older
    versions keep working, and the new version stays INVISIBLE to any
    reader pinned to an older one. The multi-table pipeline publisher
    (``declarative.Pipeline.run_atomic``) is built on exactly this
    property: each DAG output lands as an unpublished next version,
    and one manifest swap publishes the whole set.

    Schema is enforced against the logged schema (same contract as
    :func:`append`: missing columns land as typed NULLs, extra or
    mistyped columns raise unless ``evolve_schema=True``, which logs
    the additively-evolved schema in the commit). Returns the new
    version."""
    read_v = _versions(table)[-1]
    df, schema_json = _align_to_table_schema(
        table, df, read_v, evolve_schema=evolve_schema
    )
    new_files, stats = _write_data(df, table, read_v + 1, stats_cols)
    try:
        _commit(
            table, read_v + 1, add=new_files,
            remove=live_files(table, read_v), stats=stats,
            op="OVERWRITE", schema_json=schema_json,
        )
    except Exception:
        _discard_uncommitted(table, new_files)
        raise
    return read_v + 1


def replace_where(
    spark: SparkSession,
    table: str,
    condition: str,
    df: DataFrame,
    key_range: tuple[str, int, int] | None = None,
) -> tuple[int, int, int]:
    """Delta's ``INSERT OVERWRITE ... replaceWhere``: ONE commit that
    deletes every row matching ``condition`` and inserts ``df`` in its
    place — the idempotent region-rebuild primitive (re-run a day's
    pipeline: the day's partition-predicate region is atomically
    swapped for the recomputed rows, readers never see the gap).

    Delta's write contract is enforced: every inserted row must itself
    satisfy ``condition`` (otherwise the operation would not be
    idempotent — a second run would not reclaim the stray rows);
    violations raise ``ValueError`` before anything is written.

    Find phase is :func:`delete_where`'s: only files CONTAINING
    matching rows rewrite (predicate pushed into the scan; optional
    ``key_range`` prunes on logged stats first); the rewrite is
    DV-aware. Inserts land even when nothing matches — replaceWhere
    into an empty region is just a guarded append.

    Returns ``(new_version, n_deleted, n_inserted)``.
    """
    cond = F.expr(condition)
    is_hit = F.coalesce(cond.cast("boolean"), F.lit(False))
    n_bad = df.filter(~is_hit).count()
    if n_bad:
        raise ValueError(
            f"replaceWhere: {n_bad} insert rows violate `{condition}`"
        )
    n_inserted = df.count()

    read_v = _versions(table)[-1]
    rels, stats = _replay(table, read_v)
    dvs = _replay_dvs(table, read_v)
    sch = table_schema(table, read_v)
    candidates = _prune_candidates(table, rels, stats, key_range)
    abs_to_rel = {
        os.path.abspath(os.path.join(table, r)): r for r in rels
    }
    hit_rels: list[str] = []
    n_deleted = 0
    if candidates:
        scan = _read_live(
            spark, table, candidates, dvs, with_file=True, schema=sch
        )
        per_file = (
            scan.filter(cond)
            .groupBy("__file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        hit_rels = [abs_to_rel[r["__file"]] for r in per_file]
        n_deleted = sum(r["n"] for r in per_file)
    if not hit_rels and n_inserted == 0:
        return read_v, 0, 0

    stat_cols = sorted({c for s in stats.values() for c in s})
    if hit_rels:
        keep = _read_live(spark, table, hit_rels, dvs, schema=sch).filter(
            ~is_hit
        )
        out = keep.unionByName(df.select(*keep.columns))
    else:
        out = df if sch is None else df.select(*[f.name for f in sch.fields])
    next_v = read_v + 1
    new_files, new_stats = _write_data(out, table, next_v, stat_cols)
    carry = {r: s for r, s in stats.items() if r not in set(hit_rels)}
    try:
        _commit(
            table, next_v, add=new_files, remove=hit_rels,
            stats={**carry, **new_stats}, op="REPLACE_WHERE",
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        raise
    return next_v, n_deleted, n_inserted


def restore(spark: SparkSession, table: str, version: int) -> int:
    """RESTORE TABLE ... TO VERSION AS OF — roll the CURRENT state
    back to an earlier snapshot as a new commit (history is append-
    only; the rollback itself is versioned and revertible, exactly
    Delta's RESTORE). Metadata-only: the commit re-adds the target
    version's live files and removes the current extras — zero data
    bytes move at any table size.

    Raises :class:`VersionVacuumedError` if the target snapshot's
    files were already vacuumed (same retention trade as AS OF
    reads)."""
    read_v = _versions(table)[-1]
    target_rels, target_stats = _replay(table, version)
    target_dvs = _replay_dvs(table, version)
    gone = [
        r for r in target_rels
        if not os.path.exists(os.path.join(table, r))
    ] + [
        ref["f"]
        for r, ref in target_dvs.items()
        if r in set(target_rels)
        and isinstance(ref, dict)
        and not os.path.exists(_dv_blob_dir(ref["f"], table))
    ]
    if gone:
        raise VersionVacuumedError(
            f"cannot restore {table} to version {version}: "
            f"{len(gone)} data file(s) vacuumed (e.g. {gone[0]})"
        )
    current = set(live_files(table, read_v))
    target = set(target_rels)
    add = sorted(target - current)
    remove = sorted(current - target)
    # deletion vectors roll back with the snapshot: publish the target
    # version's vector for every target file whose current vector
    # differs (an empty vector clears — rows come back without any
    # data movement)
    current_dvs = _replay_dvs(table, read_v)
    dv = {
        r: target_dvs.get(r, [])
        for r in sorted(target)
        if target_dvs.get(r, []) != current_dvs.get(r, [])
    }
    # the SCHEMA restores with the snapshot (Delta: RESTORE is data +
    # metadata): if the target version's schema differs from the
    # current one, re-publish it as this commit's schema action
    t_schema = table_schema(table, version)
    c_schema = table_schema(table, read_v)
    schema_json = (
        t_schema.json()
        if t_schema is not None and t_schema != c_schema
        else None
    )
    next_v = read_v + 1
    _commit(
        table, next_v, add=add, remove=remove,
        stats={r: target_stats[r] for r in add if r in target_stats},
        dv=dv or None, op="RESTORE", schema_json=schema_json,
    )
    return next_v


def history(table: str) -> list[dict]:
    """DESCRIBE HISTORY — one summary record per commit, oldest
    first: version, files added/removed, writer txn stamp if any.
    Reads only the log (never data); O(versions) driver-side, the
    audit surface a table owner queries, not a per-read path."""
    out = []
    for v in _versions(table):
        with open(_log_path(table, v)) as f:
            entry = json.load(f)
        out.append(
            {
                "version": v,
                "op": entry.get("op"),
                "n_added": len(entry["add"]),
                "n_removed": len(entry["remove"]),
                "n_dv_files": len(entry.get("dv", {})),
                "txn_app": (entry.get("txn") or [None, None])[0],
                "txn_version": (entry.get("txn") or [None, None])[1],
            }
        )
    return out


def update_where(
    spark: SparkSession,
    table: str,
    condition: str,
    assignments: dict[str, str],
    key_range: tuple[str, int, int] | None = None,
    write_cdc: bool | None = None,
) -> tuple[int, int]:
    """Row-level UPDATE (Delta's ``UPDATE t SET ... WHERE ...``),
    copy-on-write at file granularity like :func:`delete_where`: the
    find phase locates files containing predicate-TRUE rows, and only
    those files are rewritten with ``assignments`` (column → SQL
    expression, evaluated per matching row; non-matching rows in the
    same file are carried through unchanged). Returns
    ``(new_version, n_updated)``; a no-match update commits nothing.

    NULL predicate rows are NOT updated (SQL UPDATE semantics).
    ``write_cdc=None`` (default) consults the table's ``cdc``
    property, like :func:`merge`."""
    if write_cdc is None:
        write_cdc = bool(table_properties(table).get("cdc", False))
    read_v = _versions(table)[-1]
    rels, stats = _replay(table, read_v)
    dvs = _replay_dvs(table, read_v)
    candidates = _prune_candidates(table, rels, stats, key_range)
    if not candidates:
        return read_v, 0
    abs_to_rel = {
        os.path.abspath(os.path.join(table, r)): r for r in rels
    }
    cond = F.expr(condition)
    sch = table_schema(table, read_v)
    df = _read_live(
        spark, table, candidates, dvs, with_file=True, schema=sch
    )
    per_file = (
        df.filter(cond)
        .groupBy("__file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not per_file:
        return read_v, 0
    hit_rels = [abs_to_rel[r["__file"]] for r in per_file]
    n_updated = sum(r["n"] for r in per_file)

    hit = _read_live(spark, table, hit_rels, dvs, schema=sch)
    is_hit = F.coalesce(cond.cast("boolean"), F.lit(False))
    rewritten = hit.select(
        *[
            F.when(is_hit, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in hit.columns
        ]
    )
    stat_cols = sorted({c for s in stats.values() for c in s})
    next_v = read_v + 1
    # change files via the same multiset diff the reader derives —
    # no-op assignments (new value == old) cancel, matching the
    # read-time CDF exactly
    cdc = (
        _write_cdc(table, next_v, _diff_changes(hit, rewritten))
        if write_cdc
        else None
    )
    new_files, new_stats = _write_data_or_discard_cdc(
        rewritten, table, next_v, stat_cols, cdc
    )
    carry = {r: s for r, s in stats.items() if r not in set(hit_rels)}
    try:
        _commit(
            table, next_v, add=new_files, remove=hit_rels,
            stats={**carry, **new_stats}, op="UPDATE", cdc=cdc,
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        if cdc is not None:
            shutil.rmtree(
                os.path.join(table, cdc["f"]), ignore_errors=True
            )
        raise
    return next_v, n_updated


def change_feed(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change data feed between two versions (Delta's
    ``table_changes``), derived from the snapshots: rows present at
    ``v_to`` but not ``v_from`` tagged ``insert``, rows present at
    ``v_from`` but not ``v_to`` tagged ``delete`` (an update appears
    as its delete+insert pair — the exact row images). Diffing reads
    ONLY the files the two versions do not share: common files cancel
    by construction, so the scan cost tracks the churn between the
    versions, not the table size.

    Columns: the table's columns plus ``_change_type``.
    """
    from_rels = set(live_files(table, v_from))
    to_rels = set(live_files(table, v_to))
    from_dvs = _replay_dvs(table, v_from)
    to_dvs = _replay_dvs(table, v_to)
    # a deletion-vector change is a row change with NO file change —
    # common files whose vector differs must enter the diff too
    dv_changed = {
        r
        for r in from_rels & to_rels
        if from_dvs.get(r, []) != to_dvs.get(r, [])
    }
    only_from = sorted((from_rels - to_rels) | dv_changed)
    only_to = sorted((to_rels - from_rels) | dv_changed)

    # one COMMON schema for both sides (the newer version's, falling
    # back to the older): across a schema evolution the pre-image
    # rows project with NULL for the added columns, keeping the
    # exceptAll diff well-typed
    sch = table_schema(table, v_to)
    if sch is None:
        sch = table_schema(table, v_from)

    def read(
        rels: list[str], dvs: dict[str, list[int]]
    ) -> DataFrame | None:
        if not rels:
            return None
        return _read_live(spark, table, rels, dvs, schema=sch)

    old, new = read(only_from, from_dvs), read(only_to, to_dvs)
    if old is None and new is None:
        empty = snapshot(spark, table, v_from).limit(0)
        return empty.withColumn("_change_type", F.lit("insert")).limit(0)
    inserts = deletes = None
    if new is not None:
        inserts = (new.exceptAll(old) if old is not None else new)
        inserts = inserts.withColumn("_change_type", F.lit("insert"))
    if old is not None:
        deletes = (old.exceptAll(new) if new is not None else old)
        deletes = deletes.withColumn("_change_type", F.lit("delete"))
    if inserts is None:
        return deletes
    if deletes is None:
        return inserts
    return inserts.unionByName(deletes)


def _align_to_table_schema(
    table: str,
    df: DataFrame,
    read_v: int,
    evolve_schema: bool = False,
) -> tuple[DataFrame, str | None]:
    """The shared write-time schema contract for every append path:
    column-mapping translation (logical → physical names), generated-
    column compute/enforce, type-mismatch and extra-column enforcement
    (additive evolution only when ``evolve_schema``), missing-column
    typed-NULL fill, and column ordering. Returns the aligned frame
    plus the evolved schema JSON to log (None when unchanged)."""
    cmap = _column_mapping(table, read_v)
    if cmap:
        # column mapping: callers append LOGICAL-named frames; schema
        # enforcement below compares against the (physical) logged
        # schema, so translate first — unknown names pass through and
        # hit the evolution path as genuinely new columns
        inv = {l: p for p, l in cmap.items()}
        df = df.select(
            *[F.col(c).alias(inv.get(c, c)) for c in df.columns]
        )
    gen = _generated_columns(table)
    if gen:  # GENERATED ALWAYS AS: compute omitted, enforce provided
        df = _apply_generated_exprs(df, gen)
    target = table_schema(table, read_v)
    schema_json = None
    if target is not None:
        tf = {f.name: f.dataType for f in target.fields}
        mismatch = [
            f.name
            for f in df.schema.fields
            if f.name in tf and f.dataType != tf[f.name]
        ]
        if mismatch:
            raise SchemaEnforcementError(
                f"type mismatch on {mismatch} vs table schema of {table}"
            )
        extra = [f for f in df.schema.fields if f.name not in tf]
        if extra and not evolve_schema:
            raise SchemaEnforcementError(
                f"columns {[f.name for f in extra]} not in table schema "
                f"of {table}; pass evolve_schema=True for additive "
                "evolution"
            )
        if extra:
            resurrected = [
                f.name
                for f in extra
                if f.name in _retired_columns(table, read_v)
            ]
            if resurrected:
                raise SchemaEnforcementError(
                    f"columns {resurrected} were retired by DROP COLUMN "
                    f"on {table}: old data files still carry values "
                    "under the name, and additive evolution would "
                    "resurrect them — use a new column name"
                )
        new_schema = target
        if extra:
            new_schema = T.StructType(list(target.fields) + list(extra))
            schema_json = new_schema.json()
        for f in new_schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        df = df.select(*[f.name for f in new_schema.fields])
    return df, schema_json


def append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    max_attempts: int = 5,
    evolve_schema: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """Blind INSERT INTO — an append-only commit: new files added,
    nothing removed, existing files untouched. The cheapest write the
    protocol supports (no snapshot read, no join), and the commit
    shape a streaming source can tail incrementally.

    Appends never LOGICALLY conflict with other writers (they read no
    snapshot), so a lost version claim retries by RE-COMMITTING the
    same already-written files at the next version — no recompute, no
    rewrite. This is Delta's conflict matrix in miniature: append vs
    anything commutes; only the version number is contended.
    ``txn=(app_id, txn_version)`` adds the exactly-once handshake for
    callers that may REDELIVER the same batch (a different failure
    mode than the version race): the check runs in-loop against the
    version the commit serializes with, so a redelivered batch raises
    :class:`TxnAlreadyApplied` instead of double-appending —
    :func:`append_idempotent` wraps this as a (version, applied)
    return.

    SCHEMA ENFORCEMENT (Delta's write-time contract): against the
    table's logged schema, a type mismatch always raises; an extra
    column raises unless ``evolve_schema=True``, which appends it to
    the table schema IN THE COMMIT — old files read NULL for it via
    the logged-schema scan, no rewrite. Missing columns land as typed
    NULLs."""
    read_v = _versions(table)[-1]
    df, schema_json = _align_to_table_schema(
        table, df, read_v, evolve_schema=evolve_schema
    )
    _, stats = _replay(table, read_v)
    stat_cols = sorted({c for s in stats.values() for c in s})
    new_files, new_stats = _write_data(df, table, read_v + 1, stat_cols)

    def _schema_action_at(v: int) -> str | None:
        """Recompute the evolve-append's schema action against the
        logged schema at version ``v``. The retry loop calls this on
        every lost version race: a CONCURRENT commit may itself have
        evolved the schema between our read and the winning attempt,
        and re-committing the schema_json computed at read_v would
        publish a LATER schema action lacking the concurrent column —
        silently dropping its data from every logged-schema read. A
        concurrent same-name/different-type column is a true conflict
        and raises (files are discarded by the caller)."""
        cur = table_schema(table, v)
        if cur is None:
            return schema_json
        cf = {f.name: f.dataType for f in cur.fields}
        clash = [
            f.name
            for f in df.schema.fields
            if f.name in cf and f.dataType != cf[f.name]
        ]
        if clash:
            raise SchemaEnforcementError(
                f"concurrent schema evolution of {table} conflicts on "
                f"{clash} (type mismatch vs this append's files)"
            )
        extra2 = [f for f in df.schema.fields if f.name not in cf]
        if not extra2:
            return None  # current schema already covers our columns
        return T.StructType(list(cur.fields) + list(extra2)).json()

    last: RuntimeError | None = None
    for _ in range(max_attempts):
        next_v = _versions(table)[-1] + 1
        # In-loop txn validation against the version this commit will
        # serialize with: if a concurrent delivery of the same
        # (app_id, txn_version) lands between this check and the
        # os.link, our claim fails with a version conflict → retry →
        # re-check sees it → skip. Mirrors merge's in-commit check.
        if txn is not None and txn[1] <= _replay_txns(
            table, next_v - 1
        ).get(txn[0], -1):
            _discard_uncommitted(table, new_files)
            raise TxnAlreadyApplied(
                f"txn ({txn[0]}, {txn[1]}) already committed at "
                f"version <= {next_v - 1} of {table}"
            )
        commit_schema = schema_json
        if next_v - 1 > read_v and schema_json is not None:
            try:
                commit_schema = _schema_action_at(next_v - 1)
            except SchemaEnforcementError:
                _discard_uncommitted(table, new_files)
                raise
        try:
            _commit(
                table, next_v, add=new_files, remove=[],
                stats=new_stats, op="APPEND", schema_json=commit_schema,
                txn=txn,
            )
            return next_v
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                _discard_uncommitted(table, new_files)
                raise
            last = e  # another writer took the version: re-aim, no rewrite
    _discard_uncommitted(table, new_files)
    raise RuntimeError(
        f"append lost {max_attempts} version races on {table}"
    ) from last


def append_idempotent(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    txn: tuple[str, int],
    max_attempts: int = 5,
    evolve_schema: bool = False,
) -> tuple[int, bool]:
    """Exactly-once APPEND for at-least-once delivery — the blind-
    insert twin of :func:`merge_idempotent`: a redelivered
    (app_id, txn_version) batch is recognized and SKIPPED instead of
    double-appended. The fast path skips even the data write; the
    race-safe path is the in-loop check inside :func:`append`.

    Returns ``(current_version, applied)``."""
    if last_txn_version(table, txn[0]) >= txn[1]:
        return _versions(table)[-1], False
    try:
        return (
            append(
                spark, table, df, max_attempts, evolve_schema, txn=txn
            ),
            True,
        )
    except TxnAlreadyApplied:
        return _versions(table)[-1], False


def purge_deletion_vectors(
    spark: SparkSession, table: str
) -> tuple[int, int, int]:
    """The OPTIMIZE step that MATERIALIZES deletion vectors (Delta's
    ``REORG TABLE ... APPLY (PURGE)``): rewrite ONLY the files
    carrying vectors — read them vector-applied, land the survivors —
    and commit add+remove in one version; removing a file drops its
    vector by replay rule, so the post-purge snapshot reads plainly
    again with zero per-read anti-joins. Every vector-free file is
    untouched (callers assert byte identity).

    This closes the merge-on-read loop ``delete_where_dv`` opens: the
    GDPR delete pays a metadata-only commit at delete time, reads pay
    the broadcast anti-join until the maintenance window, and THIS is
    the maintenance window — I/O proportional to the files actually
    carrying vectors, never the table.

    Returns ``(new_version, n_files_purged, n_rows_dropped)``; a
    vector-free table commits nothing.
    """
    read_v = _versions(table)[-1]
    dvs = {r: ref for r, ref in _replay_dvs(table, read_v).items() if ref}
    live = live_files(table, read_v)
    targets = sorted(r for r in live if r in dvs)
    if not targets:
        return read_v, 0, 0
    # _replay_dvs keys are live by replay rule, so dvs == targets
    n_dropped = sum(
        int(ref["n"]) if isinstance(ref, dict) else len(ref)
        for ref in dvs.values()
    )
    frame = _read_live(
        spark, table, targets, dvs, schema=table_schema(table, read_v)
    )
    _, stats0 = _replay(table, read_v)
    stat_cols = sorted({c for s in stats0.values() for c in s})
    next_v = read_v + 1
    new_files, stats = _write_data(frame, table, next_v, stat_cols)
    try:
        _commit(
            table, next_v, add=new_files, remove=targets, stats=stats,
            op="PURGE_DV",
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        raise
    return next_v, len(targets), n_dropped


def delete_where_dv(
    spark: SparkSession,
    table: str,
    condition: str,
    key_range: tuple[str, int, int] | None = None,
) -> tuple[int, int]:
    """Row-level DELETE, MERGE-ON-READ: instead of rewriting files
    (:func:`delete_where`'s copy-on-write), record the matching rows'
    positions as DELETION VECTORS in the commit — zero data bytes
    move, at any table size. Readers apply the vectors as a broadcast
    anti-join on the scan's own ``_metadata.row_index``; the next
    rewriting operation (merge/compact/delete_where) materializes the
    survivors and drops the vectors.

    This is the 100 TB GDPR-delete trade: copy-on-write pays the
    rewrite now and keeps reads pure; merge-on-read pays a tiny
    metadata commit now and a per-read anti-join until the next
    compaction. Both live here so the caller chooses per table.

    A file's published vector is always the FULL set of its deleted
    rows (prior vector ∪ new matches) — replace semantics, never a
    delta. Returns ``(new_version, n_newly_deleted)``; no matches
    commits nothing.

    SCALE: the find phase never collects positions. Matched (file,
    row_index) pairs stay a DataFrame; the driver sees only O(touched
    files) per-file counts. If the full vector set fits DV_INLINE_MAX
    the (bounded) positions inline into the commit JSON; otherwise
    they are written executor-side as a sorted parquet blob under
    ``_dv/`` and the commit records ``{path, cardinality}`` per file
    — a predicate matching 10^8 rows moves zero position data
    through the driver.

    NULL predicate rows are KEPT (SQL DELETE semantics)."""
    read_v = _versions(table)[-1]
    rels, stats = _replay(table, read_v)
    dvs = _replay_dvs(table, read_v)
    candidates = _prune_candidates(table, rels, stats, key_range)
    if not candidates:
        return read_v, 0
    cond = F.expr(condition)
    # the DV-applied read cannot re-match already-deleted rows
    df = _read_live(
        spark, table, candidates, dvs, with_file=True, with_pos=True,
        schema=table_schema(table, read_v),
    )
    rel_map = local_df(
        spark,
        [(os.path.abspath(os.path.join(table, r)), r) for r in candidates],
        "__abs string, k string",
    )
    matches = (
        df.filter(cond)
        .select("__file", F.col("__idx").alias("idx"))
        .join(F.broadcast(rel_map), F.col("__file") == F.col("__abs"))
        .select("k", "idx")
        # r15 (guide §1.2): materialize the find result ONCE — the old
        # shape ran the predicate scan for the counts collect and then
        # AGAIN for whichever position path won (the inline collect or
        # the executor-side blob write). Positions still never cross
        # to the driver unbounded: the checkpoint is executor-side
        # block storage, the same O(deleted-in-touched-files) rows the
        # blob write materializes anyway (reliable checkpoint on a
        # real cluster).
        .localCheckpoint()
    )
    counts = {
        row["k"]: int(row["n"])
        for row in matches.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # O(touched files), same as MERGE's find phase
    }
    if not counts:
        return read_v, 0
    n_deleted = sum(counts.values())
    touched_prior = {r: dvs[r] for r in counts if dvs.get(r)}
    full_counts = dict(counts)
    for r, ref in touched_prior.items():
        full_counts[r] += (
            int(ref["n"]) if isinstance(ref, dict) else len(ref)
        )
    total_full = sum(full_counts.values())
    next_v = read_v + 1
    blob_abs = None
    if total_full <= DV_INLINE_MAX:
        # bounded: at most DV_INLINE_MAX rows cross to the driver
        new_ids: dict[str, set[int]] = {r: set() for r in counts}
        for row in matches.collect():
            new_ids[row["k"]].add(int(row["idx"]))
        if touched_prior:
            for row in _dv_rows(spark, table, touched_prior).collect():
                new_ids.setdefault(row["__dv_key"], set()).add(
                    int(row["__dv_idx"])
                )
        dv: dict[str, list[int] | dict] = {
            r: sorted(ids) for r, ids in new_ids.items()
        }
    else:
        full = matches
        if touched_prior:
            full = full.unionByName(
                _dv_rows(spark, table, touched_prior).select(
                    F.col("__dv_key").alias("k"),
                    F.col("__dv_idx").alias("idx"),
                )
            )
        blob_rel = os.path.join(
            _DV_DIR, f"{next_v:08d}-{uuid.uuid4().hex[:8]}"
        )
        blob_abs = os.path.join(table, blob_rel)
        (
            full.repartition(max(1, total_full // 8_000_000), "k")
            .sortWithinPartitions("k", "idx")
            .write.mode("error")
            .parquet(blob_abs)
        )
        dv = {
            r: {"f": blob_rel, "n": int(n), "k": r}
            for r, n in full_counts.items()
        }
    try:
        _commit(table, next_v, add=[], remove=[], dv=dv, op="DELETE_DV")
    except RuntimeError:
        if blob_abs is not None:
            shutil.rmtree(blob_abs, ignore_errors=True)
        raise
    return next_v, n_deleted


ZORDER_RESOLUTION_BITS = 8  # per-dimension bucket resolution (256)


def optimize_zorder(
    spark: SparkSession,
    table: str,
    cols: list[str],
    target_files: int | None = None,
) -> int:
    """OPTIMIZE ... ZORDER BY (c1, c2) — rewrite the live set in
    Morton-curve order over two columns, so each output file covers a
    TIGHT range of BOTH dimensions and the per-file min/max stats
    recorded in the commit prune scans/merges/deletes on either one.
    Single-key clustering (compact + sort) gives locality on one
    column; the interleaved curve is what buys two.

    Dimension values are QUANTILE-bucketed into 2^8 cells: cut points
    come from one ``approxQuantile`` pass (a tiny sketch aggregate,
    cuts broadcast back as literals), so each cell holds ~equal row
    mass even under heavy skew — Delta's OPTIMIZE range-id
    normalization WITH the skew handling. Linear min/max bucketing
    collapses a skewed dimension (one hot value + a long tail) into a
    single effective cell, and every file then spans the full hot
    range: zero pruning. Ordinary commit semantics: old versions stay
    readable until vacuum; deletion vectors are materialized by the
    rewrite. Per-file stats are recorded for the Z-order columns AND
    every previously-stats-tracked column (e.g. the merge key from
    create_table), so existing key-range pruning keeps working after
    the rewrite.

    Returns the new version."""
    if len(cols) != 2:
        raise ValueError("optimize_zorder takes exactly two columns")
    read_v = _versions(table)[-1]
    rels, prior_stats = _replay(table, read_v)
    cur = snapshot(spark, table, read_v)
    cells_n = (1 << ZORDER_RESOLUTION_BITS) - 1
    qs = [i / (cells_n + 1) for i in range(1, cells_n + 1)]
    casted = cur.select(
        *[F.col(c).cast("double").alias(f"__q_{i}") for i, c in enumerate(cols)]
    )
    cuts = {
        c: sorted(set(pts))
        for c, pts in zip(
            cols,
            casted.stat.approxQuantile(
                [f"__q_{i}" for i in range(len(cols))], qs, 0.01
            ),
        )
    }

    def bucket(c: str) -> "F.Column":
        # bucket = #cuts <= value, RESCALED over the full cell range.
        # Duplicate cuts (skew ties) dedupe above, which can leave far
        # fewer unique cuts than cells (e.g. a 16-distinct-value
        # dimension); without the rescale those buckets occupy only
        # the curve's LOW bits and contribute nothing to file
        # boundaries. Cut arrays are <=255-element literals —
        # evaluated columnar, no shuffle, no per-row Python.
        pts = cuts[c]
        if not pts:
            return F.lit(0).cast("bigint")
        arr = F.array(*[F.lit(float(p)) for p in pts])
        val = F.col(c).cast("double")
        n_le = F.coalesce(
            F.size(F.filter(arr, lambda x: x <= val)), F.lit(0)
        )
        scaled = F.floor(n_le * F.lit(cells_n) / F.lit(len(pts)))
        return F.least(F.lit(cells_n), scaled).cast("bigint")

    a, b = bucket(cols[0]), bucket(cols[1])
    z = F.lit(0)
    for i in range(ZORDER_RESOLUTION_BITS):
        z = (
            z
            + F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    n_files = target_files or max(1, len(rels))
    clustered = (
        cur.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    next_v = read_v + 1
    stat_cols = sorted(
        set(cols) | {c for s in prior_stats.values() for c in s}
    )
    new_files, stats = _write_data(clustered, table, next_v, stat_cols)
    try:
        _commit(
            table, next_v, add=new_files, remove=rels, stats=stats,
            op="OPTIMIZE_ZORDER",
        )
    except RuntimeError:
        _discard_uncommitted(table, new_files)
        raise
    return next_v


_MANIFEST_DIR = "_symlink_format_manifest"


def generate_manifest(table: str, version: int | None = None) -> str:
    """Export a snapshot as a SYMLINK-FORMAT MANIFEST — Delta's
    ``GENERATE symlink_format_manifest`` interop surface: one text
    file of absolute parquet paths (one per line, sorted) that any
    engine with no knowledge of the commit log (Presto/Trino/Athena/
    plain ``spark.read.parquet``) can serve a CONSISTENT snapshot
    from. The manifest names this table's files only; it is published
    with a single atomic rename, and later commits never mutate it —
    a manifest is a frozen view of its version, so readers holding it
    keep snapshot isolation for free (until :func:`vacuum` reclaims
    the version's files, the same retention trade as time travel).

    Refuses tables whose snapshot carries live DELETION VECTORS
    (exactly Delta's rule): a raw-parquet reader would resurrect the
    vectored rows. Rewrite them away first (merge/compact/
    delete_where) and regenerate.

    Scale: O(files) driver metadata — replay the log, write one text
    file; no data bytes move.
    """
    versions = _versions(table)
    if version is None:
        version = versions[-1]
    rels = live_files(table, version)
    dvs = _replay_dvs(table, version)
    vectored = sorted(f for f, v in dvs.items() if _dv_total({f: v}))
    if vectored:
        raise RuntimeError(
            "cannot generate a symlink manifest while deletion "
            f"vectors are live on {len(vectored)} file(s) (a raw "
            "parquet reader would resurrect deleted rows) — rewrite "
            "them away (merge/compact/delete_where) first: "
            + ", ".join(vectored[:3])
        )
    out_dir = os.path.join(table, _MANIFEST_DIR)
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, f"manifest-v{version:08d}.txt")
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        for rel in sorted(rels):
            f.write(os.path.abspath(os.path.join(table, rel)) + "\n")
    os.replace(tmp, final)
    return final


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """What an EXTERNAL engine does with the manifest: read exactly
    the listed parquet files — no log replay, no library. Kept here
    so the interop contract is testable in-repo."""
    with open(manifest_path) as f:
        paths = [line.strip() for line in f if line.strip()]
    return spark.read.parquet(*paths)


_BLOOM_DIR = "_bloom"
BLOOM_FILE_BITS = 16_384  # m per file: 512 x 32-bit words
BLOOM_FILE_K = 4  # seeded hashes per key


def _bloom_key_expr(cols: list[str]) -> "F.Column":
    """The indexed key rendered as ONE string — unit-separator-joined
    casts, so a composite key hashes as a single value and the build
    and probe sides can never disagree on the rendering."""
    return F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])


_BLOOM_WORDS_SCHEMA = "file string, w int, bits bigint"


def _bloom_words_for_files(
    spark: SparkSession,
    table: str,
    rels: list[str],
    cols: list[str],
    bits: int,
) -> DataFrame:
    """The per-file filter words for exactly ``rels`` — ONE code path
    owns the bit layout for the full build
    (:func:`build_bloom_index_table`), the incremental refresh
    (:func:`refresh_bloom_index`), and the probe side (same seeded
    ``hash64`` exprs as :func:`_bloom_probe_positions_df`). Filters
    are FILE-LOCAL, which is what makes incremental maintenance
    exact: the words of an untouched file never change, so
    filter-old ∪ scan-new is bit-identical to a full rebuild."""
    if not rels:
        return local_df(spark, [], _BLOOM_WORDS_SCHEMA)
    abs_table = os.path.abspath(table)
    paths = [os.path.join(table, r) for r in rels]
    df = spark.read.parquet(*paths).select(
        _bloom_key_expr(cols).alias("k"), _norm_file_path().alias("fp")
    )
    positions = _bloom_positions_sql(bits)
    return (
        df.select(
            # log-relative file name, derived executor-side
            F.expr(f"substr(fp, {len(abs_table) + 2})").alias("file"),
            F.explode(positions).alias("p"),
        )
        .groupBy("file", F.expr("cast(p div 32 as int)").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))")
            ).alias("bits")
        )
    )


_BLOOM_CONFIG = "config.json"


def _bloom_incr_dir(table: str, cols: list[str], bits: int) -> str:
    # a DIRECTORY that ends in .bloom.parquet: spark.read.parquet
    # reads it exactly like the monolithic sidecar file, and
    # _bloom_index_bits parses the -m tag off the directory name, so
    # every probe-side code path works on it unchanged
    return os.path.join(
        table, _BLOOM_DIR, f"incr-{'-'.join(cols)}-m{bits}.bloom.parquet"
    )


def register_bloom_index(
    spark: SparkSession,
    table: str,
    col: str | list[str],
    bits: int = BLOOM_FILE_BITS,
) -> str:
    """Register ``col`` for WRITE-TIME bloom maintenance and backfill
    the incremental index over the current live files. After this,
    :func:`append_indexed` keeps the index current by hashing ONLY
    each commit's new files — a daily-CDC table never re-pays the
    full-corpus build that :func:`build_bloom_index_table` is
    (VERDICT r09, What's-missing #2). The index is a PARTS DIRECTORY:
    one parquet part per refresh, schema ``(file, w, bits)``, read by
    the same broadcast-probe join as the monolithic sidecar.

    Laws that keep it exact at any cadence:

    * per-file filters are file-local ⇒ an untouched file's words
      never change ⇒ carry-old ∪ hash-new == full rebuild, bit-equal;
    * :func:`_bloom_candidates_join_df` treats live files ABSENT from
      the index as candidates ⇒ a stale index is merely less
      effective, never wrong;
    * dead files' words may linger in old parts ⇒ candidates are
      intersected with the live set at probe time, so they cost
      bytes, not answers (:func:`vacuum_bloom_index` reclaims them).

    Registration is idempotent; the config rides in
    ``_bloom/config.json`` so maintenance jobs discover indexes
    without out-of-band state.
    """
    cols = [col] if isinstance(col, str) else list(col)
    cfg_dir = os.path.join(table, _BLOOM_DIR)
    os.makedirs(cfg_dir, exist_ok=True)
    cfg_path = os.path.join(cfg_dir, _BLOOM_CONFIG)
    cfg = {"indexes": []}
    if os.path.exists(cfg_path):
        with open(cfg_path) as fh:
            cfg = json.load(fh)
    entry = {"cols": cols, "bits": bits}
    if entry not in cfg["indexes"]:
        cfg["indexes"].append(entry)
        tmp = cfg_path + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(cfg, fh)
        os.replace(tmp, cfg_path)
    idx_dir = _bloom_incr_dir(table, cols, bits)
    if not os.path.isdir(idx_dir):
        os.makedirs(idx_dir, exist_ok=True)
        # one empty typed part so the parts dir is always readable
        _bloom_seed_part(idx_dir)
    refresh_bloom_index(spark, table, cols, bits=bits)
    return idx_dir


def registered_bloom_indexes(table: str) -> list[dict]:
    cfg_path = os.path.join(table, _BLOOM_DIR, _BLOOM_CONFIG)
    if not os.path.exists(cfg_path):
        return []
    with open(cfg_path) as fh:
        return json.load(fh)["indexes"]


def _bloom_seed_part(idx_dir: str) -> str:
    """Land one EMPTY typed part so the parts dir is always readable
    — written driver-side with pyarrow (an empty frame is driver
    data; routing it through a Spark write paid a full shuffle+write
    job, and ``_bloom_write_part``'s empty-repartition fallback paid
    two). Same schema the Spark-written parts carry."""
    dest = os.path.join(
        idx_dir, f"part-{uuid.uuid4().hex[:12]}-0.parquet"
    )
    tmp = dest + f".{uuid.uuid4().hex[:8]}.tmp"
    write_parquet_rows([], _BLOOM_WORDS_SCHEMA, tmp)
    os.replace(tmp, dest)
    return dest


def _bloom_write_part(
    spark: SparkSession, idx_dir: str, words: DataFrame
) -> list[str]:
    """Land ``words`` as immutable part file(s) inside the parts dir
    (write to a temp dir, move under final names — readers never see
    a partial part).

    Parts are clustered BY FILE before landing: every data file's
    words AND its coverage sentinel live in the same part, so the
    one-``os.replace``-per-part move loop is crash-safe as a unit —
    a crash mid-loop leaves each data file either fully indexed
    (its part moved) or fully absent (rescanned by the next
    refresh). Without the clustering, a sentinel could land without
    its words and the file would read as covered-but-empty — a
    probe false negative, breaking the 'stale is less effective,
    never wrong' law (ADVICE r10)."""
    import glob as _glob
    import shutil

    tmp = idx_dir + f".{uuid.uuid4().hex}.tmp"
    words.repartition(F.col("file")).write.parquet(tmp)
    moved = []
    for i, part in enumerate(
        sorted(_glob.glob(os.path.join(tmp, "*.parquet")))
    ):
        dest = os.path.join(
            idx_dir, f"part-{uuid.uuid4().hex[:12]}-{i}.parquet"
        )
        os.replace(part, dest)
        moved.append(dest)
    shutil.rmtree(tmp, ignore_errors=True)
    if not moved and not _glob.glob(os.path.join(idx_dir, "*.parquet")):
        # empty frame can emit zero data parts under repartition;
        # land one empty TYPED part so the parts dir stays readable
        moved.append(_bloom_seed_part(idx_dir))
    return moved


def refresh_bloom_index(
    spark: SparkSession,
    table: str,
    col: str | list[str],
    version: int | None = None,
    bits: int = BLOOM_FILE_BITS,
) -> tuple[str, int, int]:
    """Bring the incremental index current by scanning ONLY live
    files no part covers yet. Returns ``(index_dir, n_scanned,
    n_already_covered)`` — callers assert ``n_scanned`` equals the
    commit's new-file count to prove the O(new) property. Concurrent
    refreshes can double-cover a file; duplicate words only ADD false
    positives at probe time (bloom semantics), never false
    negatives."""
    cols = [col] if isinstance(col, str) else list(col)
    idx_dir = _bloom_incr_dir(table, cols, bits)
    rels = live_files(table, version)
    covered: set[str] = set()
    if os.path.isdir(idx_dir):
        # the coverage column is read with pyarrow on the driver —
        # zero Spark jobs for the steady-state "nothing new" refresh.
        # Driver memory is the same O(files) set the old collect
        # materialized; the sidecar parts are plain parquet wherever
        # the table lives.
        import pyarrow.dataset as _ds

        covered = set(
            _ds.dataset(idx_dir, format="parquet")
            .to_table(columns=["file"])
            .column("file")
            .to_pylist()
        )
    else:
        os.makedirs(idx_dir, exist_ok=True)
        _bloom_seed_part(idx_dir)
    to_scan = [r for r in rels if r not in covered]
    if to_scan:
        # one COVERAGE SENTINEL row (w = -1) per scanned file: a
        # zero-row file produces no words, and without a row carrying
        # its name every later refresh would rescan it. Sentinels
        # never match a probe position (positions are >= 0), and a
        # sentinel-only file is correctly never a candidate — a
        # zero-row file holds nothing.
        sentinels = local_df(
            spark, [(r, -1, 0) for r in to_scan], _BLOOM_WORDS_SCHEMA
        )
        _bloom_write_part(
            spark,
            idx_dir,
            _bloom_words_for_files(spark, table, to_scan, cols, bits)
            .unionByName(sentinels),
        )
    return idx_dir, len(to_scan), len(covered)


def vacuum_bloom_index(
    spark: SparkSession,
    table: str,
    col: str | list[str],
    version: int | None = None,
    bits: int = BLOOM_FILE_BITS,
) -> tuple[int, int]:
    """Rewrite the parts dir keeping only LIVE files' words (drops
    rows for files removed by merges/deletes and dedups double
    coverage). Returns ``(n_rows_kept, n_parts_now)``. Word content
    for kept files is carried, not recomputed — no data-file I/O."""
    cols = [col] if isinstance(col, str) else list(col)
    idx_dir = _bloom_incr_dir(table, cols, bits)
    rels = set(live_files(table, version))
    live_df = local_df(
        spark, [(r,) for r in sorted(rels)], "file string"
    )
    kept = (
        spark.read.parquet(idx_dir)
        .join(F.broadcast(live_df), "file")
        .groupBy("file", "w")
        .agg(F.first("bits").alias("bits"))
    )
    # the kept-row count rides the rewrite job as an Observation
    # metric instead of a separate count() pass over the parts
    kept_obs = Observation()
    kept = kept.observe(kept_obs, F.count(F.lit(1)).alias("n"))
    import glob as _glob

    old_parts = _glob.glob(os.path.join(idx_dir, "*.parquet"))
    new_parts = _bloom_write_part(spark, idx_dir, kept)
    kept_rows = int(kept_obs.get["n"])
    for p in old_parts:
        os.unlink(p)
    if not new_parts:  # zero-row table: keep the dir readable
        _bloom_seed_part(idx_dir)
    return kept_rows, len(new_parts) or 1


def append_indexed(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    **kwargs,
) -> tuple[int, dict[str, int]]:
    """:func:`append` + write-time index maintenance: after the commit
    lands, every registered bloom index is refreshed by hashing ONLY
    the files this commit added (the refresh diff is exactly the new
    files, because everything older was covered at register/previous
    append time). Returns ``(new_version, {index_dir: n_files_
    hashed})``. This is the add-action-path folding VERDICT r09 asked
    for: a CDC table's arrivals are pre-indexed the moment they
    commit, and pruning never re-pays a full build."""
    v = append(spark, table, df, **kwargs)
    scanned: dict[str, int] = {}
    for idx in registered_bloom_indexes(table):
        d, n, _ = refresh_bloom_index(
            spark, table, idx["cols"], version=v, bits=idx["bits"]
        )
        scanned[d] = n
    return v, scanned


def build_bloom_index_table(
    spark: SparkSession,
    table: str,
    col: str | list[str],
    version: int | None = None,
    bits: int = BLOOM_FILE_BITS,
) -> str:
    """PER-FILE BLOOM INDEX — the file-skipping structure for point
    lookups on HIGH-CARDINALITY keys, where min/max stats are useless
    (a hash-distributed write gives every file the full key range, so
    range pruning keeps everything; Delta's bloom filter index and
    Iceberg's bloom write the same sidecar). One distributed pass over
    the snapshot builds a ``bits``-bit / 4-hash filter per live file
    (explode key positions, ``bit_or`` per (file, word) — map-side
    combined), stored as a PARQUET SIDECAR ``(file, w, bits)`` under
    ``_bloom/``, atomically renamed and keyed by version. The words
    never leave the executors, and candidate computation is a
    broadcast-probe JOIN (:func:`_bloom_candidates_join`), so the
    driver holds only file NAMES (the same O(files) listing every log
    replay already holds). Probe-side bit positions are computed with
    the same executor-side hash exprs as the build — one code path
    owns the bit layout. Rows deleted by deletion vectors stay IN a
    file's filter — that only adds false positives, never false
    negatives, so pruning stays sound.

    ``col`` may be a LIST of columns: the composite key is hashed as
    one unit-separator-joined string (:func:`_bloom_key_expr`), the
    structure a real CDC merge keys on (the reference's own PK is the
    4-column ``(state, species, year, unit)``,
    load_population_production.sql:30) — per-column range stats
    cannot see a composite POINT set; this can.

    ``bits`` sizes the PER-FILE filter and must track per-file key
    cardinality — a 16384-bit filter saturates around ~4k keys/file
    (every probe false-positives and pruning silently dies), so big
    tables size it up: ~16 bits/key keeps the false-positive rate
    under 1e-3 at any scale, and the sidecar stays ~0.2% of key
    bytes. The chosen size rides in the sidecar's filename, so probes
    self-configure and build/probe can never disagree.
    """
    versions = _versions(table)
    if version is None:
        version = versions[-1]
    rels = live_files(table, version)
    cols = [col] if isinstance(col, str) else list(col)
    words = _bloom_words_for_files(spark, table, rels, cols, bits)
    out_dir = os.path.join(table, _BLOOM_DIR)
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(
        out_dir,
        f"{'-'.join(cols)}-v{version:08d}-m{bits}.bloom.parquet",
    )
    tmp = final + f".{uuid.uuid4().hex}.tmp"
    words.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(final):
        import shutil

        shutil.rmtree(final)
    os.rename(tmp, final)
    return final


def _bloom_index_bits(index_path: str) -> int:
    """The filter size the sidecar was built with, parsed from its
    ``-m<bits>`` filename tag (pre-tag sidecars used the default)."""
    m = re.search(r"-m(\d+)\.bloom\.parquet$", index_path)
    return int(m.group(1)) if m else BLOOM_FILE_BITS


def _bloom_positions_sql(bits: int) -> "F.Column":
    """The ``BLOOM_FILE_K`` probe positions of key column ``k`` as ONE
    parsed SQL expression — a single py4j hop where the per-position
    Python tree (md5 → substring → conv → cast → ``%``) paid four
    constructions per call site (~0.15-0.3 s of driver wall under
    load, measured r14). The SQL text is the :func:`hash64` tree
    verbatim, so build and probe bit layouts stay byte-identical."""
    return F.expr(
        "array(%s)"
        % ",".join(
            "CAST(conv(substring(md5(concat('fbloom%d|',"
            "CAST(k AS STRING))),1,15),16,10) AS BIGINT) %% %d"
            % (j, bits)
            for j in range(BLOOM_FILE_K)
        )
    )


def _bloom_probe_positions_df(
    probes: DataFrame, bits: int = BLOOM_FILE_BITS
) -> DataFrame:
    """DataFrame twin: ``probes`` carries one DISTINCT key per row in
    column ``k`` (the composite rendering for multi-column keys)."""
    pos = _bloom_positions_sql(bits)
    return (
        probes.select("k", F.array_distinct(pos).alias("ps"))
        .select("k", F.size("ps").alias("n_pos"), F.explode("ps").alias("p"))
        .select(
            "k",
            "n_pos",
            F.expr("cast(p div 32 as int)").alias("w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(p % 32 as int))"
            ).alias("mask"),
        )
    )


def _bloom_candidates_join(
    spark: SparkSession,
    table: str,
    index_path: str,
    values: list,
    version: int | None = None,
) -> tuple[list[str], list[str]]:
    """Candidate files via the parquet sidecar: broadcast the probes'
    (word, mask) rows onto the sidecar, count fully-hit probes per
    file — a file is a candidate if ANY probe has all its distinct
    positions set, or if the sidecar does not cover it (unindexed
    files always scan; a stale index is less effective, never wrong).
    The driver materializes file NAMES only."""
    if not values:
        return [], live_files(table, version)
    probes = local_keys_df(spark, dict.fromkeys(values))
    return _bloom_candidates_join_df(spark, table, index_path, probes, version)


def _bloom_candidates_join_df(
    spark: SparkSession,
    table: str,
    index_path: str,
    probes: DataFrame,
    version: int | None = None,
) -> tuple[list[str], list[str]]:
    """:func:`_bloom_candidates_join` with the probes as a DataFrame —
    the merge find-phase shape, where the probe keys come from the
    updates batch and never route through a driver list. ``probes``
    must carry the key rendering in column ``k``; it is distinct-ed
    here (duplicates would inflate per-position hit counts past
    n_pos and mask every candidate)."""
    rels = live_files(table, version)
    # ONE collect for both sets: the marks frame carries the hit flag
    # and the indexed set in the same bounded O(files-in-index) job
    cover = _bloom_marks_df(spark, index_path, probes).collect()
    indexed = {r.file for r in cover}
    cand_set = {r.file for r in cover if r["__hit"]}
    return [r for r in rels if r in cand_set or r not in indexed], rels


def _bloom_marks_df(
    spark: SparkSession, index_path: str, probes: DataFrame
) -> DataFrame:
    """ONE row per file the index covers: ``__hit`` TRUE when some
    probe's every distinct position is set in the file's filter — the
    executor-side half of the candidate law ``candidates = hits ∪
    (live ∖ indexed)`` that :func:`_bloom_candidates_join_df` applies.

    Single-pass shape: the sidecar is hash-clustered by ``file``
    once, the probe positions broadcast onto it as a LEFT join (a
    file none of whose words match any probe keeps its row — that IS
    the coverage set), and both aggregation levels (distinct
    positions per (file, probe), any-full-hit per file) ride the one
    clustering exchange-free. The previous hits/indexed subtree pair
    re-scanned the sidecar and paid three aggregation exchanges —
    8 AQE stage-jobs per probe batch in the r14 job audit, all of
    them this plan.

    Duplicate word rows (a double-covered file) can only over-count
    position hits, i.e. add false positives — never false negatives:
    DISTINCT (w, mask) counts each probe position once no matter how
    many parts repeat it (a raw row count would overshoot n_pos and
    turn the full-hit test into a FALSE NEGATIVE)."""
    side = spark.read.parquet(index_path).repartition(F.col("file"))
    pb = _bloom_probe_positions_df(
        probes.select("k").distinct(), _bloom_index_bits(index_path)
    ).select(
        "k",
        "n_pos",
        F.col("w").alias("pw"),
        F.col("mask").alias("pmask"),
    )
    per_probe = (
        side.join(
            F.broadcast(pb),
            (F.col("w") == F.col("pw"))
            & (F.col("bits").bitwiseAND(F.col("pmask")) != 0),
            "left",
        )
        # unmatched sidecar rows group under (file, NULL, NULL):
        # nhit == n_pos is NULL there, max() ignores it — the file
        # stays covered without ever counting as a hit
        .groupBy("file", "k", "n_pos")
        .agg(F.count_distinct(F.col("pw"), F.col("pmask")).alias("nhit"))
    )
    return per_probe.groupBy("file").agg(
        F.max(F.col("nhit") == F.col("n_pos")).alias("__hit")
    )


def bloom_point_lookup(
    spark: SparkSession,
    table: str,
    index_path: str,
    col: str,
    values: list,
    version: int | None = None,
) -> DataFrame:
    """Point lookup THROUGH the bloom index: open only candidate
    files (no false negatives — a non-candidate provably lacks every
    probe), then apply the exact predicate. Candidates come from the
    parquet sidecar (:func:`build_bloom_index_table`) via the
    broadcast-probe join (:func:`_bloom_candidates_join`).

    Deletion vectors do NOT disable pruning: a row deleted by a DV
    stays in its file's filter, which only ADDS false positives —
    a non-candidate file provably lacked every probe even before the
    delete, so skipping it stays sound. Candidate files are read
    DV-aware (:func:`_read_live`), so vectored rows drop from the
    result while the scan still opens O(candidates) files."""
    if index_path.endswith(".json"):
        # tables indexed before the JSON sidecar was retired still
        # carry one on disk: refuse it by name instead of misreading it
        raise ValueError(
            f"{index_path} is a retired JSON bloom sidecar; rebuild the "
            "index with build_bloom_index_table"
        )
    cand, rels = _bloom_candidates_join(
        spark, table, index_path, values, version
    )
    read = cand if cand else rels[:1]  # keep schema for empty result
    dvs = _replay_dvs(table, version)
    return _read_live(
        spark, table, read, dvs, schema=table_schema(table, version)
    ).filter(F.col(col).isin(values))


# --- Iceberg-style partition specs with evolution ----------------------

_SPEC_FILE = "_partition_spec.json"

# transforms are EXACT integer derivations of a source column — the
# hidden-partitioning contract: queries filter the SOURCE column and
# pruning happens on the derived value, so a user can never "forget
# the partition predicate" (Iceberg's core fix to hive tables)
_P_TRANSFORMS = ("identity", "month", "day", "bucket", "truncate")


def _pcol_name(src: str, transform: str, arg: int | None) -> str:
    tag = transform if arg is None else f"{transform}{arg}"
    return f"__p_{tag}_{src}"


def _parse_transform(t: str) -> tuple[str, int | None]:
    if "[" in t:
        base, arg = t[:-1].split("[", 1)
        return base, int(arg)
    return t, None


def _ptransform_expr(src: str, transform: str) -> "F.Column":
    """The derived partition value as a Column. month/day are epoch
    ordinals (exact ints), bucket is the portable md5 hash64 mod N,
    truncate is integer floor-division — every one replayable by the
    SQL oracle bit-for-bit."""
    from bow_hunter_pipeline_spark.functions.text import hash64

    base, arg = _parse_transform(transform)
    c = F.col(src)
    if base == "identity":
        return c.cast("bigint")
    if base == "month":
        return (
            (F.year(c) - F.lit(1970)) * 12 + F.month(c) - F.lit(1)
        ).cast("bigint")
    if base == "day":
        return F.datediff(F.to_date(c), F.lit("1970-01-01")).cast("bigint")
    if base == "bucket":
        return F.pmod(
            hash64(F.concat(F.lit("pbkt|"), c.cast("string"))), F.lit(arg)
        ).cast("bigint")
    if base == "truncate":
        return F.expr(f"cast({src} div {arg} as bigint)")
    raise ValueError(f"unknown partition transform {transform!r}")


def set_partition_spec(
    table: str, fields: list[tuple[str, str]]
) -> int:
    """Register a new partition spec — a METADATA-ONLY evolution (no
    data rewrite, Iceberg's ``ALTER TABLE ... ADD PARTITION FIELD``):
    files already written keep pruning under the spec they were
    written with; files written after this carry the new spec's
    derived-value stats. ``fields`` is ``[(source_col, transform)]``
    with transforms ``identity | month | day | bucket[N] |
    truncate[W]``. Returns the new spec id."""
    history = partition_spec_history(table)
    for src, t in fields:
        base, arg = _parse_transform(t)
        if base not in _P_TRANSFORMS:
            raise ValueError(f"unknown partition transform {t!r}")
        if base in ("bucket", "truncate") and not arg:
            raise ValueError(f"{base} needs an argument: {base}[N]")
    history.append({"spec_id": len(history), "fields": [
        {"src": s, "transform": t} for s, t in fields
    ]})
    os.makedirs(table, exist_ok=True)
    tmp = os.path.join(table, _SPEC_FILE + f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(history, fh)
    os.replace(tmp, os.path.join(table, _SPEC_FILE))
    return len(history) - 1


def partition_spec_history(table: str) -> list[dict]:
    path = os.path.join(table, _SPEC_FILE)
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return json.load(fh)


def append_partitioned(
    spark: SparkSession, table: str, df: DataFrame, max_attempts: int = 5
) -> int:
    """INSERT INTO under the ACTIVE partition spec: rows are
    range-clustered on the derived partition values (tight per-file
    min/max, unlike hash placement) and the derived values are
    written as extra PHYSICAL ``__p_*`` columns the logged schema
    never mentions — :func:`_read_live` reads with the logged schema,
    so readers can't see them, but the commit's per-file stats can:
    that is hidden partitioning with the partition tuple riding in
    the same stats machinery every pruner already consults
    (:func:`_prune_candidates`, the DF find phase, Z-order deletes).
    """
    history = partition_spec_history(table)
    if not history:
        return append(spark, table, df)
    spec = history[-1]
    pcols = {
        _pcol_name(f["src"], *_parse_transform(f["transform"])):
            _ptransform_expr(f["src"], f["transform"])
        for f in spec["fields"]
    }
    if not pcols:  # evolved BACK to unpartitioned: plain append
        return append(spark, table, df)
    read_v0 = _versions(table)[-1]
    # the SAME write contract as append() (ADVICE r10: bypassing it
    # let a typo'd column land as a physical column the logged schema
    # never mentions — silently invisible to every read instead of a
    # SchemaEnforcementError); alignment runs BEFORE the derived
    # __p_* columns attach, so they stay hidden from enforcement
    df, _ = _align_to_table_schema(table, df, read_v0)
    aug = df
    for name, expr in pcols.items():
        aug = aug.withColumn(name, expr)
    # EXPLICIT range-partition count: without it AQE coalesces small
    # shuffles into one output file whose partition-value range spans
    # everything — stats stay true but prune nothing. Range placement
    # (not hash) is what makes per-file [lo, hi] tight.
    n_rows = aug.count()  # bounded scalar, the sizing call every
    # OPTIMIZE makes; production sizes by target file bytes instead
    n_parts = max(1, min(256, -(-n_rows // 1000)))
    aug = aug.repartitionByRange(n_parts, *pcols.keys())
    read_v = _versions(table)[-1]
    _, logged = _replay(table, read_v)
    stat_cols = sorted(
        {c for s in logged.values() for c in s} | set(pcols)
    )
    new_files, stats = _write_data(aug, table, read_v + 1, stat_cols)
    last: RuntimeError | None = None
    for _ in range(max_attempts):
        next_v = _versions(table)[-1] + 1
        try:
            _commit(
                table, next_v, add=new_files, remove=[], stats=stats,
                op="APPEND_PARTITIONED",
                props={"spec_id": spec["spec_id"]},
            )
            return next_v
        except RuntimeError as e:
            if "concurrent commit" not in str(e):
                _discard_uncommitted(table, new_files)
                raise
            last = e  # appends commute: re-aim at the next version
    _discard_uncommitted(table, new_files)
    raise RuntimeError(
        f"append_partitioned lost {max_attempts} version races"
    ) from last


def _derive_partition_hints(
    table: str, col_ranges: dict[str, tuple]
) -> list[tuple[str, int, int]]:
    """Source-column ranges → derived-column ranges for EVERY spec in
    the table's history (old files prune under their own spec; a spec
    whose transform is not order-preserving over ranges — bucket — is
    skipped for range hints). Dates/datetimes map through the same
    epoch ordinals as :func:`_ptransform_expr`."""
    import datetime as _dt

    def _as_date(v):
        if isinstance(v, _dt.datetime):
            return v.date()
        if isinstance(v, _dt.date):
            return v
        return _dt.date.fromisoformat(str(v)[:10])

    hints: list[tuple[str, int, int]] = []
    for spec in partition_spec_history(table):
        for f in spec["fields"]:
            src, t = f["src"], f["transform"]
            if src not in col_ranges:
                continue
            lo, hi = col_ranges[src]
            base, arg = _parse_transform(t)
            if base == "bucket":
                continue  # not monotone: range hints unsound
            if base == "identity":
                dlo, dhi = int(lo), int(hi)
            elif base == "month":
                dl, dh = _as_date(lo), _as_date(hi)
                dlo = (dl.year - 1970) * 12 + dl.month - 1
                dhi = (dh.year - 1970) * 12 + dh.month - 1
            elif base == "day":
                epoch = _dt.date(1970, 1, 1)
                dlo = (_as_date(lo) - epoch).days
                dhi = (_as_date(hi) - epoch).days
            elif base == "truncate":
                # Spark `div` (the write-side transform) truncates
                # TOWARD ZERO; Python // floors. They differ on
                # negatives (-1 div 500 = 0, -1 // 500 = -1), and a
                # floored hi bound below a file's true stat would
                # prune a file that contains matching rows — silent
                # row loss. Derive with trunc-toward-zero to match.
                dlo, dhi = _trunc_div(int(lo), arg), _trunc_div(int(hi), arg)
            hints.append((_pcol_name(src, base, arg), dlo, dhi))
    return hints


def _trunc_div(x: int, d: int) -> int:
    """Integer division truncating toward zero — Spark/SQL ``div``
    semantics (Python ``//`` floors, diverging for negative x)."""
    return -((-x) // d) if x < 0 else x // d


def snapshot_pruned(
    spark: SparkSession,
    table: str,
    col_ranges: dict[str, tuple],
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Snapshot scan with TRANSFORM-AWARE partition pruning: the
    caller states ranges on SOURCE columns; every spec era's derived
    hints plus the raw-column stats intersect the candidate set, and
    files carrying neither stat stay candidates (no false negatives —
    pruning can only skip a file PROVEN disjoint). Returns
    ``(frame, n_candidates, n_live)``; the frame still needs the
    exact row predicate — pruning is an I/O optimization, never a
    filter. This is the read side of spec evolution: a query written
    once keeps pruning correctly across re-partitionings."""
    if version is None:
        version = _versions(table)[-1]
    rels, logged = _replay(table, version)
    # raw-column stats join the intersection only for integer ranges
    # (timestamp stats round-trip the JSON log as strings; the derived
    # epoch ordinals carry date pruning instead)
    hints = _derive_partition_hints(table, col_ranges) + [
        (src, lo, hi)
        for src, (lo, hi) in col_ranges.items()
        if isinstance(lo, int) and isinstance(hi, int)
    ]
    cands = list(rels)
    for col, lo, hi in hints:
        cands = _prune_candidates(table, cands, logged, (col, lo, hi))
    if cands:
        frame = _read_live(
            spark, table, cands, _replay_dvs(table, version),
            schema=table_schema(table, version),
        )
    else:
        frame = snapshot(spark, table, version).limit(0)
    return frame, len(cands), len(rels)


def version_asof(table: str, ts) -> int:
    """``TIMESTAMP AS OF`` → version: the newest commit whose log
    entry was written at or before ``ts`` (Delta resolves timestamp
    travel from commit-file times the same way — the log file IS the
    commit's clock). ``ts`` may be an epoch number or a datetime.
    Raises ``ValueError`` for a timestamp older than the first commit
    — there is no table state to serve there, and silently returning
    v0 would claim one."""
    import datetime as _dt

    if isinstance(ts, (int, float)):
        epoch = float(ts)
    else:
        t = ts
        if isinstance(t, _dt.date) and not isinstance(t, _dt.datetime):
            t = _dt.datetime(t.year, t.month, t.day)
        epoch = t.timestamp()
    best = None
    for v in _versions(table):
        if os.path.getmtime(_log_path(table, v)) <= epoch:
            best = v
    if best is None:
        raise ValueError(
            f"timestamp {ts!r} predates the first commit of {table}"
        )
    return best


def snapshot_asof(spark: SparkSession, table: str, ts) -> DataFrame:
    """Read the table ``TIMESTAMP AS OF ts`` — version resolution via
    :func:`version_asof`, then the ordinary snapshot scan (all
    version-travel guarantees, including the vacuum-retention error,
    apply unchanged)."""
    return snapshot(spark, table, version_asof(table, ts))
