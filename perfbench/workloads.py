"""The benchmark's workloads. Each is closed loop with one client and
drives the engine only through its public functions.

A workload has four phases, called in order by ``run.py``:
``prepare`` (input preparation, cached in the checkout, not timed),
``setup`` (timed into ``setup_s``), ``run`` (the measured loop) and
``check`` (output checks, outside the timed region). ``metrics``
returns the workload's named end-to-end metrics, its per-layer metrics
and its headline throughput and p50 latency; layers a workload does not
exercise report 0. ``tx_ingest`` is built from two loads, ``TxUpsert``
and ``IngestPublish``, which have the same phases except that the
workload's loop calls their ``cycle``.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from harness import median, p90, rate

HERE = os.path.dirname(os.path.abspath(__file__))
SIZES = {"full": "sf0.1", "smoke": "sf0.001"}


def fixture_dir(size: str) -> str:
    """The repo's read-only star-schema fixture (``TESTDATA.md``: seed
    42, sf0.1 = 600k lineitem rows), copied byte for byte under
    ``fixtures/`` so a checkout holds its own inputs."""
    return os.path.join(HERE, "fixtures", SIZES[size])


# The dashboard round: four of the dashboard's twelve registry queries,
# one per query family (single-table aggregate, six-way join, event
# sessionization, MinHash/LSH self-join). The other eight are left out
# to fit the run budget (see NOTES.md).
SERVE_QUERIES = [
    "g1_pricing_summary", "f_q9_product_profit", "h4_sessionize",
    "h1_minhash_lsh_pairs",
]
TX_OPS = ["merge_pruned", "append", "delete_where_dv", "snapshot",
          "compact_binpack", "vacuum"]


class Context:
    def __init__(self, args, cache_dir: str, run_dir: str) -> None:
        self.seed = args.seed
        self.size = args.size
        self.trace = bool(args.trace)
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.spark = None
        self.rec = None


def layer_zeros() -> dict:
    z = {
        "session.get_spark_s": 0.0, "session.warmup_s": 0.0,
        "plans.construct_s": 0.0, "plans.execute_s": 0.0,
        "tx.files_rewritten": 0.0, "tx.files_carried": 0.0,
        "tx.prune_ratio": 0.0, "tx.replay_s": 0.0, "tx.live_files": 0.0,
        "tx.log_bytes": 0.0, "tx.write_amp": 0.0, "tx.read_p50_s": 0.0,
        "sources.extract_cells_s": 0.0,
        "sources.minipdf.extract_ms_per_doc": 0.0,
        "sources.cells_per_doc": 0.0,
        "declarative.run_atomic_s": 0.0, "declarative.jobs_per_publish": 0.0,
        "declarative.quarantined_rows": 0.0,
        "declarative.pipeline_snapshot_s": 0.0,
    }
    z.update({f"plans.{q}.jobs": 0.0 for q in SERVE_QUERIES})
    for op in TX_OPS:
        z[f"tx.{op}.wall_s"] = 0.0
        z[f"tx.{op}.jobs"] = 0.0
    return z


# --------------------------------------------------------------------
# serve_sf01: the analyst's dashboard
# --------------------------------------------------------------------
class Serve:
    name = "serve_sf01"

    def prepare(self, ctx: Context) -> None:
        self.sf_dir = fixture_dir(ctx.size)
        self.expected = checks.pinned_hashes(ctx.size, SERVE_QUERIES)

    def _query(self, ctx: Context, name: str, measured: bool) -> None:
        fn = self.qs[name]
        with ctx.rec.op("query", measured, query=name) as r:
            t0 = time.perf_counter()
            with ctx.rec.span("plans.construct"):
                df = fn(ctx.spark, self.sf_dir)
            t1 = time.perf_counter()
            # what a user pays: the full result, collected (count()
            # would let column pruning drop output columns)
            with ctx.rec.span("plans.execute"):
                r["result"] = df.toArrow()
            r["construct_s"] = t1 - t0
            r["execute_s"] = time.perf_counter() - t1
        if r["ok"]:  # the check's hashing is not part of the op
            r["hash"] = checks.arrow_hash(r.pop("result"))

    def setup(self, ctx: Context) -> None:
        from bow_hunter_pipeline_spark import registry

        self.qs = registry.queries()
        for q in SERVE_QUERIES:
            self._query(ctx, q, measured=False)

    def run(self, ctx: Context, deadline: float) -> None:
        rnd = 0
        # whole rounds only, so every run weighs each query equally
        while time.time() < deadline:
            order = np.random.default_rng([ctx.seed, rnd]).permutation(len(SERVE_QUERIES))
            for i in order:
                self._query(ctx, SERVE_QUERIES[i], measured=True)
            rnd += 1

    def check(self, ctx: Context) -> None:
        for o in ctx.rec.ops:
            if o["ok"] and o["hash"] != self.expected[o["query"]]:
                o["ok"] = False
                o["error"] = "result hash differs from the DuckDB oracle"

    def metrics(self, ctx: Context) -> tuple[dict, dict, float, float]:
        ops = ctx.rec.measured(["query"], ok=True)
        lat = [o["wall_s"] for o in ops]
        named = {
            "serve.qps": rate(len(lat), lat),
            "serve.latency_p50_s": median(lat),
        }
        if len(lat) >= 100:
            named["serve.latency_p90_s"] = p90(lat)
        layer = {
            "plans.construct_s": median(o["construct_s"] for o in ops),
            "plans.execute_s": median(o["execute_s"] for o in ops),
        }
        for o in ops:  # jobs per query: identical on every execution
            layer[f"plans.{o['query']}.jobs"] = float(o["jobs"])
        return named, layer, named["serve.qps"], named["serve.latency_p50_s"]


# --------------------------------------------------------------------
# tx_upsert: keyed upserts, appends and DV deletes on warehouse_tx
# --------------------------------------------------------------------
KEYS = ["l_orderkey", "l_linenumber"]
# The seeded write stream: (kind, scattered). Setup runs one write of
# each kind; the measured loop then runs whole cycles, so every run
# weighs each kind of write the same. A cycle holds three merges, two
# over a clustered key range and the last scattered over all files; the
# scattered one comes last because its rewrite leaves every file
# spanning the whole key range, so a merge after it could no longer be
# pruned. After the second and the fifth write comes an AS OF read;
# after the fifth, compact_binpack + vacuum.
WARM = [("merge_pruned", False), ("append", False), ("delete_where_dv", False)]
PATTERN = [
    ("merge_pruned", False), ("append", False), ("merge_pruned", False),
    ("delete_where_dv", False), ("merge_pruned", True),
]
ASOF_AFTER = (1, 4)  # cycle positions
MAINTAIN_AFTER = 4


class TxUpsert:
    def prepare(self, ctx: Context) -> None:
        star = fixture_dir(ctx.size)
        self.base_dir = os.path.join(ctx.cache_dir, f"tx_base_{SIZES[ctx.size]}")
        if not os.path.exists(os.path.join(self.base_dir, "_done")):
            import duckdb

            tmp = self.base_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            con = duckdb.connect()
            res = con.execute(
                f"SELECT * FROM read_parquet('{star}/lineitem.parquet') "
                "QUALIFY row_number() OVER (PARTITION BY l_orderkey, l_linenumber "
                "ORDER BY l_partkey, l_suppkey, l_shipdate) = 1 "
                "ORDER BY l_orderkey, l_linenumber"
            ).fetch_arrow_table()
            tbl = res.read_all() if hasattr(res, "read_all") else res
            pq.write_table(tbl, os.path.join(tmp, "lineitem.parquet"))
            open(os.path.join(tmp, "_done"), "w").close()
            shutil.rmtree(self.base_dir, ignore_errors=True)
            os.replace(tmp, self.base_dir)
        self.base = pq.read_table(os.path.join(self.base_dir, "lineitem.parquet"))
        self.okeys = self.base.column("l_orderkey").to_numpy()
        n_orders = int(self.okeys.max()) + 1
        # ~0.5% of the rows per merge batch, ~20% of them inserts
        self.span = max(10, int(0.005 * n_orders))
        self.table = os.path.join(ctx.run_dir, "lineitem_tx")
        self.batch_dir = os.path.join(ctx.run_dir, "batches")
        os.makedirs(self.batch_dir)
        self.writes: list[dict] = []

    # -- the seeded write stream ---------------------------------------
    def _batch(self, ctx: Context, i: int, kind: str, scattered: bool) -> dict:
        rng = np.random.default_rng([ctx.seed, i])
        w = {"i": i, "kind": kind}
        if kind == "merge_pruned":
            if scattered:
                pool = np.arange(len(self.okeys))
                k = int(np.sum((self.okeys >= 0) & (self.okeys < self.span)))
            else:
                lo = int(rng.integers(0, int(self.okeys.max()) - self.span))
                pool = np.nonzero((self.okeys >= lo) & (self.okeys < lo + self.span))[0]
                k = len(pool)
            n_upd = max(1, int(0.8 * k))
            idx = np.sort(rng.choice(pool, min(n_upd, len(pool)), replace=False))
            upd = self.base.take(pa.array(idx))
            n_ins = max(1, k - n_upd)
            ins = self.base.take(pa.array(idx[rng.integers(0, len(idx), n_ins)]))
            # new keys: line numbers above the base's 1..7, unique per write
            ins = ins.set_column(
                ins.schema.get_field_index("l_linenumber"), "l_linenumber",
                pa.array(np.full(n_ins, 8 + i, np.int32)))
            batch = pa.concat_tables([upd, ins])
            # dedupe the inserts' keys (two picks of one order collide)
            keys = np.stack([batch.column(0).to_numpy(),
                             batch.column("l_linenumber").to_numpy()], 1)
            _, first = np.unique(keys, axis=0, return_index=True)
            batch = batch.take(pa.array(np.sort(first)))
            qty = rng.integers(1, 51, batch.num_rows).astype(np.float64)
            batch = batch.set_column(
                batch.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty))
        elif kind == "append":
            n = max(2, self.span)
            pick = self.base.take(pa.array(rng.integers(0, len(self.okeys), n)))
            batch = pick.set_column(0, "l_orderkey", pa.array(
                10_000_000 + i * 100_000 + np.arange(n, dtype=np.int64)))
        else:
            lo = int(rng.integers(0, int(self.okeys.max()) - 6))
            w["range"] = (lo, lo + 5)
            w["condition"] = f"l_orderkey BETWEEN {lo} AND {lo + 5}"
            return w
        w["path"] = os.path.join(self.batch_dir, f"b{i:05d}.parquet")
        pq.write_table(batch, w["path"])
        w["bytes"] = os.path.getsize(w["path"])
        return w

    def _read(self, ctx, measured: bool, version: int | None = None) -> None:
        from pyspark.sql import functions as F

        from bow_hunter_pipeline_spark import warehouse_tx as tx

        with ctx.rec.op("snapshot", measured, version=version) as r:
            with ctx.rec.span("warehouse_tx.snapshot"):
                row = tx.snapshot(ctx.spark, self.table, version).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q")
                ).collect()[0]
            r["agg"] = [int(row.n), float(row.q)]
        if r["ok"] and version is None:
            r["version"] = self.version

    def _table_state(self, r: dict) -> None:
        from bow_hunter_pipeline_spark import warehouse_tx as tx

        log = os.path.join(self.table, "_log")
        r["live_files"] = len(tx.live_files(self.table))
        r["log_bytes"] = sum(os.path.getsize(os.path.join(log, f)) for f in os.listdir(log))

    def _write(self, ctx: Context, kind: str, scattered: bool, measured: bool,
               pos: int | None = None) -> None:
        """One write of the stream and its reads; ``pos`` is the
        write's position in a measured cycle."""
        from bow_hunter_pipeline_spark import warehouse_tx as tx

        i = len(self.writes)
        w = self._batch(ctx, i, kind, scattered)
        spark, rec = ctx.spark, ctx.rec
        with rec.op(w["kind"], measured, write=i) as r:
            with rec.span(f"warehouse_tx.{w['kind']}"):
                if w["kind"] == "merge_pruned":
                    v, rw, ca = tx.merge_pruned(
                        spark, self.table, spark.read.parquet(w["path"]), KEYS, ["l_quantity"])
                    r.update(files_rewritten=rw, files_carried=ca)
                elif w["kind"] == "append":
                    v = tx.append(spark, self.table, spark.read.parquet(w["path"]))
                else:
                    v, n = tx.delete_where_dv(
                        spark, self.table, w["condition"], key_range=("l_orderkey", *w["range"]))
                    r["rows"] = n
            r["version"] = self.version = v
        if r["ok"]:
            with open(os.path.join(self.table, "_log", f"{v:08d}.json")) as f:
                added = json.load(f)["add"]
            r["added_bytes"] = sum(os.path.getsize(os.path.join(self.table, a)) for a in added)
            r["batch_bytes"] = w.get("bytes", 0)
            self._table_state(r)
        self.writes.append(w)
        self._read(ctx, measured)
        if pos in ASOF_AFTER:
            self._read(ctx, measured, version=max(0, self.version - 3))
        if pos == MAINTAIN_AFTER:
            with rec.op("compact_binpack", measured) as r:
                with rec.span("warehouse_tx.compact_binpack"):
                    self.version, r["files_rewritten"], r["files_carried"] = tx.compact_binpack(
                        spark, self.table, target_bytes=self.file_bytes)
            with rec.op("vacuum", measured) as r:
                with rec.span("warehouse_tx.vacuum"):
                    r["rows"] = tx.vacuum(spark, self.table, keep_versions=10)
            self._table_state(r)

    def setup(self, ctx: Context) -> None:
        from bow_hunter_pipeline_spark import warehouse_tx as tx

        with ctx.rec.op("create_table", False) as r:
            df = ctx.spark.read.parquet(self.base_dir).repartitionByRange(
                16, "l_orderkey").sortWithinPartitions(*KEYS)
            tx.create_table(ctx.spark, self.table, df, stats_cols=KEYS)
        if not r["ok"]:
            raise RuntimeError(r["error"])
        self.version = 0
        sizes = [os.path.getsize(os.path.join(self.table, f)) for f in tx.live_files(self.table)]
        # compaction packs files under half the created file size
        self.file_bytes = int(median(sizes))
        for kind, scattered in WARM:
            self._write(ctx, kind, scattered, measured=False)
        self._read(ctx, False, version=max(0, self.version - 3))

    def cycle(self, ctx: Context) -> None:
        for pos, (kind, scattered) in enumerate(PATTERN):
            self._write(ctx, kind, scattered, measured=True, pos=pos)

    def check(self, ctx: Context) -> None:
        from bow_hunter_pipeline_spark import warehouse_tx as tx

        replay = checks.TxReplay(os.path.join(self.base_dir, "lineitem.parquet"))
        at_version = {0: replay.aggregate()}
        writes = {w["i"]: w for w in self.writes}
        for o in ctx.rec.ops:
            if o["kind"] in ("merge_pruned", "append", "delete_where_dv") and o["ok"]:
                replay.apply(writes[o["write"]])
                at_version[o["version"]] = replay.aggregate()
        for o in ctx.rec.ops:
            if o["kind"] == "snapshot" and o["ok"]:
                v = o["version"]
                want = at_version[max(k for k in at_version if k <= v)]
                if tuple(o["agg"]) != want:
                    o["ok"] = False
                    o["error"] = f"read {o['agg']} at v{v}, replay says {list(want)}"
        with ctx.rec.op("check_final_table", measured=False):
            if not replay.same_rows(tx.snapshot(ctx.spark, self.table).toArrow()):
                raise AssertionError("final table differs from the replay of the write stream")

    def metrics(self, ctx: Context) -> tuple[dict, dict]:
        from bow_hunter_pipeline_spark import warehouse_tx as tx

        rec = ctx.rec
        writes = rec.measured(["merge_pruned", "append", "delete_where_dv"], ok=True)
        reads = rec.measured(["snapshot"], ok=True)
        wl = [o["wall_s"] for o in writes]
        named = {
            "tx.writes_per_s": rate(len(wl), wl),
            "tx.write_p50_s": median(wl),
            "tx.read_p50_s": median(o["wall_s"] for o in reads),
            "tx.write_amp": sum(o.get("added_bytes", 0) for o in writes)
            / max(1, sum(o.get("batch_bytes", 0) for o in writes)),
        }
        if len(wl) >= 100:
            named["tx.write_p90_s"] = p90(wl)
        layer = {"tx.read_p50_s": named["tx.read_p50_s"], "tx.write_amp": named["tx.write_amp"]}
        for op in TX_OPS:
            mine = rec.measured([op], ok=True)
            layer[f"tx.{op}.wall_s"] = median(o["wall_s"] for o in mine)
            layer[f"tx.{op}.jobs"] = median(o["jobs"] for o in mine)
        merges = rec.measured(["merge_pruned"], ok=True)
        rw = sum(o["files_rewritten"] for o in merges)
        ca = sum(o["files_carried"] for o in merges)
        layer["tx.files_rewritten"] = rw / max(1, len(merges))
        layer["tx.files_carried"] = ca / max(1, len(merges))
        layer["tx.prune_ratio"] = ca / max(1, rw + ca)
        last = [o for o in rec.ops if "live_files" in o]
        if last:
            layer["tx.live_files"] = float(last[-1]["live_files"])
            layer["tx.log_bytes"] = float(last[-1]["log_bytes"])
        if ctx.trace:
            t = []
            for v in range(self.version + 1):
                t0 = time.perf_counter()
                tx.live_files(self.table, v)
                t.append(time.perf_counter() - t0)
            layer["tx.replay_s"] = median(t)
        return named, layer


# --------------------------------------------------------------------
# ingest_publish: PDFs -> cells -> grid -> table -> parses -> publish
# --------------------------------------------------------------------
HEADERS = ["Unit #", "Total Harvest", "Percent Success"]
EXPECTATIONS = {
    "harvest_known": "total_harvest IS NOT NULL AND total_harvest > 0",
    "success_in_range": "percent_success BETWEEN 0 AND 100",
}
GOLD_BUCKETS = 13
WARM_INCREMENTS = 1
CYCLE_INCREMENTS = 1


def _doc(seed: int, d: int) -> tuple[bytes, list[tuple]]:
    """One seeded two-page harvest table as PDF bytes, and the rows a
    correct parse yields: (unit, total_harvest, percent_success)."""
    from bow_hunter_pipeline_spark.sources.minipdf import write_pdf

    rng = np.random.default_rng([seed, d])
    cells, rows = [], []
    for i in range(3):
        unit = d * 10 + i
        h = int(rng.integers(1000, 10000))
        s = int(rng.integers(0, 1001))
        harvest, success = f"{h // 1000},{h % 1000:03d}", f"{s // 10}.{s % 10}"
        u = rng.random()
        if u < 0.05:  # out-of-range percentage: quarantined
            success, s = "104.5", 1045
        elif u < 0.08:  # unreadable count: parses to NULL, quarantined
            harvest, h = "n/a", None
        cells.append([f"0{unit}", harvest, success])
        rows.append((unit, h, s / 10.0))
    pages = [[HEADERS, cells[0], cells[1]], [cells[2], ["Total", "9,999", "n/a"]]]
    return write_pdf(pages, compress=bool(rng.random() < 0.5)), rows


def _parse_table(table):
    """C1 header sanitize, B1 footer drop, C2/C3 typed parses — the
    ``plans/ingest_demo.py`` chain over the grid table."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark.functions.parsing import parse_double, parse_long, parse_unit

    sane = F.transform(
        F.col("header"),
        lambda h: F.regexp_replace(
            F.regexp_replace(F.lower(F.trim(h)), " ", "_"), "[^a-z0-9_]", ""),
    )
    by_name = F.map_from_arrays(sane, F.col("cells"))
    named = table.select(
        "path",
        by_name["unit_"].alias("unit_raw"),
        by_name["total_harvest"].alias("harvest_raw"),
        by_name["percent_success"].alias("success_raw"),
        F.col("cells")[0].alias("first_cell"),
    )
    return named.filter(F.lower(F.trim(F.col("first_cell"))) != "total").select(
        "path",
        parse_unit("unit_raw").alias("unit"),
        parse_long("harvest_raw").alias("total_harvest"),
        parse_double("success_raw").alias("percent_success"),
    )


class IngestPublish:
    def prepare(self, ctx: Context) -> None:
        self.per_inc = 40 if ctx.size == "full" else 20
        self.root = os.path.join(ctx.run_dir, "pipeline")
        self.land = os.path.join(ctx.run_dir, "landing")
        self.rows: list[tuple] = []  # generator truth of published docs
        self._want: dict = {}  # gold as of the last good publish
        self.inc = 0

    def _land(self, ctx: Context) -> tuple[str, list[bytes], list[tuple]]:
        d0 = self.inc * self.per_inc
        path = os.path.join(self.land, f"inc-{self.inc:05d}")
        os.makedirs(path)
        blobs, truth = [], []
        for d in range(d0, d0 + self.per_inc):
            pdf, rows = _doc(ctx.seed, d)
            with open(os.path.join(path, f"doc-{d:07d}.pdf"), "wb") as f:
                f.write(pdf)
            blobs.append(pdf)
            truth += rows
        return path, blobs, truth

    def _pipeline(self, inc_dir: str):
        from pyspark.sql import functions as F

        from bow_hunter_pipeline_spark.declarative import Pipeline
        from bow_hunter_pipeline_spark.io.readers import read_binary_files
        from bow_hunter_pipeline_spark.sources.pdf_tables import (
            cells_to_grid, extract_cells, grid_to_table)

        pipe = Pipeline(self.root)

        @pipe.table(mode="append")
        def bronze(spark, up):
            docs = read_binary_files(spark, inc_dir)
            return _parse_table(grid_to_table(cells_to_grid(extract_cells(docs))))

        @pipe.table(mode="append", inputs=("bronze",), expectations=EXPECTATIONS)
        def silver(spark, up):
            return up["bronze"]

        @pipe.table(inputs=("silver",))
        def gold(spark, up):
            return up["silver"].groupBy(
                F.pmod(F.col("unit"), F.lit(GOLD_BUCKETS)).alias("bucket")
            ).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum("total_harvest").cast("bigint").alias("harvest"),
                F.max("percent_success").alias("best_success"),
            )

        return pipe

    def _increment(self, ctx: Context, measured: bool) -> None:
        from bow_hunter_pipeline_spark import declarative

        spark, rec = ctx.spark, ctx.rec
        inc_dir, blobs, truth = self._land(ctx)
        if ctx.trace:
            from bow_hunter_pipeline_spark.io.readers import read_binary_files
            from bow_hunter_pipeline_spark.sources.minipdf import extract_pdf_cells
            from bow_hunter_pipeline_spark.sources.pdf_tables import extract_cells

            with rec.op("extract_cells", False, docs=len(blobs)) as r:
                with rec.span("sources.extract_cells"):
                    r["cells"] = extract_cells(read_binary_files(spark, inc_dir)).count()
            t0 = time.perf_counter()
            with rec.span("sources.minipdf.extract_pdf_cells"):
                n = sum(len(extract_pdf_cells(b)) for b in blobs)
            r.update(driver_ms_per_doc=1e3 * (time.perf_counter() - t0) / len(blobs),
                     driver_cells=n)
        with rec.op("publish", measured, docs=len(blobs), inc=self.inc) as r:
            with rec.span("declarative.run_atomic"):
                stats = self._pipeline(inc_dir).run_atomic(spark)
            r["quarantined"] = sum(stats["silver"]["quarantined"].values())
            r["rows"] = stats["silver"]["rows"]
        if r["ok"]:
            self.rows += truth
        with rec.op("pipeline_snapshot", measured) as r:
            with rec.span("declarative.pipeline_snapshot"):
                r["gold"] = declarative.pipeline_snapshot(spark, self.root, "gold").toArrow()
        self.inc += 1

    def setup(self, ctx: Context) -> None:
        for _ in range(WARM_INCREMENTS):
            self._increment(ctx, measured=False)

    def cycle(self, ctx: Context) -> None:
        for _ in range(CYCLE_INCREMENTS):
            self._increment(ctx, measured=True)

    def _expected(self, rows) -> tuple[dict, int, int]:
        gold: dict[int, list] = {}
        clean = bad = 0
        for unit, h, s in rows:
            if h is None or not (0 <= s <= 100):
                bad += 1
                continue
            clean += 1
            g = gold.setdefault(unit % GOLD_BUCKETS, [0, 0, 0.0])
            g[0] += 1
            g[1] += h
            g[2] = max(g[2], s)
        return gold, clean, bad

    def check(self, ctx: Context) -> None:
        per_inc = 3 * self.per_inc
        seen = 0
        for o in ctx.rec.ops:
            if o["kind"] == "publish" and o["ok"]:
                seen += 1
                gold, clean, bad = self._expected(self.rows[:seen * per_inc])
                _, _, inc_bad = self._expected(self.rows[(seen - 1) * per_inc:seen * per_inc])
                if (o["rows"], o["quarantined"]) != (clean, inc_bad):
                    o["ok"] = False
                    o["error"] = f"silver rows/quarantined {o['rows']}/{o['quarantined']}"
                self._want = gold
            elif o["kind"] == "pipeline_snapshot" and o["ok"]:
                got = {r["bucket"]: [r["rows"], r["harvest"], r["best_success"]]
                       for r in o.pop("gold").to_pylist()}
                if got != self._want:
                    o["ok"] = False
                    o["error"] = "gold rollup differs from the generator's values"

    def metrics(self, ctx: Context) -> tuple[dict, dict]:
        rec = ctx.rec
        pubs = rec.measured(["publish"], ok=True)
        walls = [o["wall_s"] for o in pubs]
        named = {
            "ingest.docs_per_s": rate(sum(o["docs"] for o in pubs), walls),
            "ingest.publish_p50_s": median(walls),
        }
        layer = {
            "declarative.run_atomic_s": median(walls),
            "declarative.jobs_per_publish": median(o["jobs"] for o in pubs),
            "declarative.quarantined_rows": float(sum(o["quarantined"] for o in pubs)),
            "declarative.pipeline_snapshot_s": median(
                o["wall_s"] for o in rec.measured(["pipeline_snapshot"], ok=True)),
        }
        if ctx.trace:
            ex = [o for o in rec.ops if o["kind"] == "extract_cells" and o["ok"]]
            ex = ex[WARM_INCREMENTS:] or ex  # the warm ones ran in setup
            layer["sources.extract_cells_s"] = median(o["wall_s"] for o in ex)
            layer["sources.minipdf.extract_ms_per_doc"] = median(o["driver_ms_per_doc"] for o in ex)
            layer["sources.cells_per_doc"] = sum(o["cells"] for o in ex) / max(
                1, sum(o["docs"] for o in ex))
        return named, layer


# --------------------------------------------------------------------
# tx_ingest: the reference's write path, keyed upserts and PDF ingest
# --------------------------------------------------------------------
class TxIngest:
    """The planned tx_upsert and ingest_publish loads in one process: each
    cycle runs the five tx writes (with their reads and maintenance) and
    then lands and publishes one PDF increment. They share one workload
    so the benchmark's runs fit its time budget (see NOTES.md); the
    end-to-end rate and p50 are over all six writes a user waits for."""

    name = "tx_ingest"
    WRITES = ["merge_pruned", "append", "delete_where_dv", "publish"]

    def __init__(self) -> None:
        self.parts = (TxUpsert(), IngestPublish())

    def prepare(self, ctx: Context) -> None:
        for p in self.parts:
            p.prepare(ctx)

    def setup(self, ctx: Context) -> None:
        for p in self.parts:
            p.setup(ctx)

    def run(self, ctx: Context, deadline: float) -> None:
        # whole cycles only, so every run weighs each kind of write the same
        while time.time() < deadline:
            for p in self.parts:
                p.cycle(ctx)

    def check(self, ctx: Context) -> None:
        for p in self.parts:
            p.check(ctx)

    def metrics(self, ctx: Context) -> tuple[dict, dict, float, float]:
        named, layer = {}, {}
        for p in self.parts:
            n, lay = p.metrics(ctx)
            named.update(n)
            layer.update(lay)
        walls = [o["wall_s"] for o in ctx.rec.measured(self.WRITES, ok=True)]
        return named, layer, rate(len(walls), walls), median(walls)


WORKLOADS = {w.name: w for w in (Serve, TxIngest)}
