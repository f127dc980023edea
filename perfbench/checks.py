"""Output checks. All of them run outside the timed region; every
mismatch counts as a failed operation in ``error_rate``."""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "fixtures", "oracle_hashes.json")


def arrow_hash(tbl: pa.Table) -> str:
    """Canonical value hash of an Arrow table, the same form as
    ``tools/verify_driver.py::arrow_hash``: columns sorted by name,
    rows sorted by every column, ``str`` of each Arrow scalar hashed
    (type-faithful: tz, decimal scale and date-vs-timestamp surface)."""
    cols = sorted(tbl.schema.names)
    tbl = tbl.select(cols).combine_chunks()
    if tbl.num_rows:
        idx = pc.sort_indices(tbl, sort_keys=[(c, "ascending") for c in cols])
        tbl = tbl.take(idx)
    h = hashlib.sha256()
    h.update("|".join(f"{c}:{tbl.schema.field(c).type}" for c in cols).encode())
    for c in cols:
        for v in tbl[c]:
            h.update(str(v).encode())
            h.update(b"\x00")
    return h.hexdigest()


def pinned_hashes(size: str, names: list[str]) -> dict[str, str]:
    """The registry's DuckDB-oracle hashes on the fixture of ``size``,
    pinned once by ``pin_oracles.py``."""
    with open(PINNED) as f:
        pinned = json.load(f)[size]
    return {n: pinned[n] for n in names}


class TxReplay:
    """Independent replay of the ``tx_upsert`` write stream in DuckDB:
    last write wins per key, deletes remove, appends add."""

    KEYS = ("l_orderkey", "l_linenumber")

    def __init__(self, base_glob: str) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{base_glob}')")

    def apply(self, w: dict) -> None:
        on = " AND ".join(f"t.{k} = b.{k}" for k in self.KEYS)
        if w["kind"] == "merge_pruned":
            b = f"read_parquet('{w['path']}')"
            self.con.execute(f"UPDATE t SET l_quantity = b.l_quantity FROM {b} b WHERE {on}")
            self.con.execute(
                f"INSERT INTO t SELECT * FROM {b} b WHERE NOT EXISTS "
                f"(SELECT 1 FROM t WHERE {on})"
            )
        elif w["kind"] == "append":
            self.con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{w['path']}')")
        elif w["kind"] == "delete_where_dv":
            self.con.execute(f"DELETE FROM t WHERE {w['condition']}")
        else:
            raise ValueError(w["kind"])

    def aggregate(self) -> tuple[int, float]:
        n, s = self.con.execute("SELECT count(*), sum(l_quantity) FROM t").fetchone()
        return int(n), float(s)

    def same_rows(self, got: pa.Table) -> bool:
        """``got`` holds exactly the replayed rows (as a multiset)."""
        self.con.register("got", got)
        n_got, n_want = self.con.execute(
            "SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM t)").fetchone()
        diff = self.con.execute(
            "SELECT count(*) FROM ((SELECT * FROM got EXCEPT ALL SELECT * FROM t) "
            "UNION ALL (SELECT * FROM t EXCEPT ALL SELECT * FROM got))").fetchone()[0]
        return n_got == n_want and diff == 0
