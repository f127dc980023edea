"""End-to-end warehouse pipeline test (EP3 analog, SURVEY §3) on
reference-domain fixtures (FIXTURES.md B1/B2): stage rows with junk
gmu_lists and a footer row → production via gate/split/explode →
merge with partial-update semantics → PK uniqueness.
"""

from __future__ import annotations

import pytest

from bow_hunter_pipeline_spark import warehouse
from bow_hunter_pipeline_spark.operators.normalize import drop_footer_rows
from bow_hunter_pipeline_spark.schema import POPULATION_STAGE_SCHEMA

STAGE_ROWS = [
    # state, species, herd_name, post_hunt_estimate, male_female_ratio, year, gmu_list
    ("co", "elk", "DAU_E-1", 12000, 25.0, 2023, "1, 2, 14"),
    ("co", "elk", "DAU_E-2", 8000, 30.5, 2023, "15,16"),
    ("co", "deer", "DAU_D-1", 5000, None, 2023, "01,02"),
    ("wy", "elk", "DAU_W-1", 9000, 41.0, 2023, "see map"),   # junk → gated out
    ("wy", "elk", "DAU_W-2", 7000, 38.0, 2023, "3,4a"),      # junk → gated out
    ("wy", "elk", "DAU_W-3", 6000, 33.0, 2023, ""),          # empty → gated out
    ("Total", None, None, None, None, None, None),            # footer row
]


@pytest.fixture()
def stage(spark):
    df = spark.createDataFrame(STAGE_ROWS, POPULATION_STAGE_SCHEMA)
    return drop_footer_rows(df, "state")


def test_production_rows_explode_and_gate(stage):
    prod = warehouse.production_rows(stage)
    rows = {(r.state, r.species, r.year, r.unit): r for r in prod.collect()}
    assert set(rows) == {
        ("co", "elk", 2023, 1),
        ("co", "elk", 2023, 2),
        ("co", "elk", 2023, 14),
        ("co", "elk", 2023, 15),
        ("co", "elk", 2023, 16),
        ("co", "deer", 2023, 1),   # "01" → 1
        ("co", "deer", 2023, 2),
    }
    assert rows[("co", "deer", 2023, 1)].male_female_ratio is None


def test_merge_production_semantics(spark, stage):
    prod = warehouse.production_rows(stage)
    updates = spark.createDataFrame(
        [("co", "elk", "DAU_RENAMED", 99999, 11.5, 2023, 1)],
        "state string, species string, herd_name string, "
        "post_hunt_estimate bigint, male_female_ratio double, "
        "year int, unit int",
    )
    merged = warehouse.merge_production(prod, updates)
    rows = {(r.state, r.species, r.year, r.unit): r for r in merged.collect()}
    hit = rows[("co", "elk", 2023, 1)]
    assert hit.post_hunt_estimate == 99999       # update col
    assert hit.male_female_ratio == 11.5         # update col
    assert hit.herd_name == "DAU_E-1"            # preserved (the quirk)
    assert len(rows) == 7


def test_ddl_and_stage_load_roundtrip(spark, tmp_path):
    lake = str(tmp_path / "lake")
    wh = str(tmp_path / "wh")
    df = spark.createDataFrame(STAGE_ROWS[:3], POPULATION_STAGE_SCHEMA)
    # partitioned lake write (A4) then glob re-read (A5) into the stage
    df.write.partitionBy("state", "species", "year").parquet(lake)
    spark.sql(f"DROP TABLE IF EXISTS {warehouse.STAGE_TABLE}")
    spark.sql(f"DROP TABLE IF EXISTS {warehouse.PRODUCTION_TABLE}")
    warehouse.ddl(spark, location=wh)
    back = spark.read.parquet(lake)
    assert back.count() == 3
    # E1 full refresh twice → still 3 rows (overwrite, not append)
    for _ in range(2):
        back.select(
            "state", "species", "herd_name", "post_hunt_estimate",
            "male_female_ratio", "year", "gmu_list",
        ).write.mode("overwrite").insertInto(warehouse.STAGE_TABLE)
    assert spark.table(warehouse.STAGE_TABLE).count() == 3


def test_tx_table_commit_protocol(spark, tmp_path):
    """warehouse_tx transactional guarantees: snapshot isolation (v0
    unchanged after a merge commits), AS OF reads, optimistic-conflict
    detection, and invisibility of uncommitted data files."""
    import os

    import pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k bigint, s string, v double"
    )
    tx.create_table(spark, table, base)
    assert {tuple(r) for r in tx.snapshot(spark, table).collect()} == {
        (1, "a", 10.0),
        (2, "b", 20.0),
    }

    updates = spark.createDataFrame(
        [(2, "XX", 99.0), (3, "c", 30.0)], "k bigint, s string, v double"
    )
    v = tx.merge(spark, table, updates, ["k"], ["v"])
    assert v == 1
    # current state: k=2 keeps its old s (partial update), new v
    assert {tuple(r) for r in tx.snapshot(spark, table).collect()} == {
        (1, "a", 10.0),
        (2, "b", 99.0),
        (3, "c", 30.0),
    }
    # time travel: version 0 is byte-identical to the original
    assert {tuple(r) for r in tx.snapshot(spark, table, 0).collect()} == {
        (1, "a", 10.0),
        (2, "b", 20.0),
    }
    # optimistic conflict: a second writer claiming version 1 loses
    with pytest.raises(RuntimeError, match="concurrent commit"):
        tx._commit(table, 1, add=[], remove=[])
    # uncommitted data files are invisible to readers (log is truth)
    stray, _ = tx._write_data(base, table, 99)
    assert all(p not in tx.live_files(table) for p in stray)
    assert tx.snapshot(spark, table).count() == 3


def test_tx_table_compact_and_vacuum(spark, tmp_path):
    """The lakehouse ops pair: OPTIMIZE rewrites the live set into few
    files under a normal commit (old versions still readable), and
    VACUUM deletes files outside the retention window (time travel
    below it ends — Delta's retention trade)."""
    import glob
    import os

    import pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.range(100).selectExpr("id as k", "id * 1.0 as v")
    tx.create_table(spark, table, base.repartition(6))
    updates = spark.range(50, 150).selectExpr("id as k", "id * 2.0 as v")
    tx.merge(spark, table, updates, ["k"], ["v"])

    n_before = len(glob.glob(os.path.join(table, "data", "*", "*.parquet")))
    v = tx.compact(spark, table, target_files=1)
    assert len(tx.live_files(table, v)) == 1
    # pre-compaction version still resolves (files not yet vacuumed)
    assert tx.snapshot(spark, table, v - 1).count() == 150
    assert tx.snapshot(spark, table).count() == 150

    deleted = tx.vacuum(spark, table, keep_versions=1)
    assert deleted > 0
    n_after = len(glob.glob(os.path.join(table, "data", "*", "*.parquet")))
    assert n_after < n_before
    # current version unaffected; history below the window raises the
    # dedicated error (log entry kept, data files gone — Delta's trade)
    assert tx.snapshot(spark, table).count() == 150
    with pytest.raises(tx.VersionVacuumedError, match="vacuumed"):
        tx.snapshot(spark, table, 0)


def test_tx_merge_pruned_rewrites_only_intersecting_files(spark, tmp_path):
    """File-pruned MERGE: with a range-partitioned layout, only the
    file whose footer min/max intersects the updates' key range is
    rewritten; the rest carry over byte-identical — and the result
    equals the full-rewrite merge exactly. This is the data-skipping
    rewrite the Z-order layout exists to maximize."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    t_full = str(tmp_path / "full")
    t_pruned = str(tmp_path / "pruned")
    base = spark.range(1000).selectExpr(
        "id as k", "id * 1.0 as v"
    ).repartitionByRange(4, "k")
    for t in (t_full, t_pruned):
        tx.create_table(spark, t, base)
    before_live = set(tx.live_files(t_pruned))

    updates = spark.range(900, 1100).selectExpr("id as k", "id * 9.0 as v")
    tx.merge(spark, t_full, updates, ["k"], ["v"])
    _, n_rewritten, n_carried = tx.merge_pruned(
        spark, t_pruned, updates, ["k"], ["v"]
    )
    assert n_rewritten == 1 and n_carried == 3
    # carried files are literally the same paths, untouched
    after_live = set(tx.live_files(t_pruned))
    assert len(before_live & after_live) == 3

    a = sorted(map(tuple, tx.snapshot(spark, t_full).collect()))
    b = sorted(map(tuple, tx.snapshot(spark, t_pruned).collect()))
    assert a == b and len(b) == 1100


def test_tx_pruned_merge_reads_stats_from_log_not_footers(
    spark, tmp_path, monkeypatch
):
    """With stats_cols declared at create time, merge_pruned's pruning
    decision comes entirely from the commit log's add-action stats —
    ZERO parquet footer reads on the merge path (the legacy fallback
    is poisoned to prove it). A second merge prunes off the stats the
    FIRST merge recorded, closing the loop."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.range(1000).selectExpr(
        "id as k", "id * 1.0 as v"
    ).repartitionByRange(4, "k")
    tx.create_table(spark, table, base, stats_cols=["k"])

    def _boom(*a, **kw):
        raise AssertionError("footer read on the pruned-merge path")

    monkeypatch.setattr(tx, "_file_key_stats", _boom)

    updates = spark.range(900, 950).selectExpr("id as k", "id * 9.0 as v")
    _, n_rw, n_carry = tx.merge_pruned(spark, table, updates, ["k"], ["v"])
    assert n_rw == 1 and n_carry == 3
    # second merge: pruning driven by stats the previous MERGE logged
    updates2 = spark.range(0, 50).selectExpr("id as k", "id * 5.0 as v")
    _, n_rw2, n_carry2 = tx.merge_pruned(spark, table, updates2, ["k"], ["v"])
    assert n_rw2 == 1 and n_carry2 >= 3
    assert tx.snapshot(spark, table).count() == 1000


def test_tx_pruned_merge_empty_updates_is_noop(spark, tmp_path):
    """An empty updates frame must not write a zero-row file or grow
    the log — the current version comes back unchanged."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.range(100).selectExpr("id as k", "id * 1.0 as v")
    tx.create_table(spark, table, base, stats_cols=["k"])
    before_versions = tx._versions(table)
    before_live = tx.live_files(table)

    empty = spark.range(0).selectExpr("id as k", "id * 1.0 as v")
    v, n_rw, n_carry = tx.merge_pruned(spark, table, empty, ["k"], ["v"])
    assert v == before_versions[-1]
    assert n_rw == 0 and n_carry == len(before_live)
    assert tx._versions(table) == before_versions
    assert tx.live_files(table) == before_live


def test_tx_pruned_merge_string_key_falls_back_to_full_rewrite(
    spark, tmp_path
):
    """Non-integral merge keys are not prunable (string footer stats
    can be truncated by exotic writers): every live file is rewritten,
    and the result still matches the plain merge exactly."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.range(100).selectExpr(
        "format_string('k%05d', id) as k", "id * 1.0 as v"
    ).repartitionByRange(4, "k")
    tx.create_table(spark, table, base, stats_cols=["k"])
    updates = spark.range(90, 95).selectExpr(
        "format_string('k%05d', id) as k", "id * 9.0 as v"
    )
    _, n_rw, n_carry = tx.merge_pruned(spark, table, updates, ["k"], ["v"])
    assert n_carry == 0 and n_rw == 4  # conservative: no pruning
    got = {
        (r.k, r.v) for r in tx.snapshot(spark, table).collect()
    }
    assert ("k00090", 810.0) in got and ("k00010", 10.0) in got
    assert len(got) == 100


def test_tx_commit_is_atomic_under_link_collision(tmp_path, monkeypatch):
    """The commit lock is os.link (EEXIST on collision), not the
    exists() fast path: with the fast path blinded, a second writer
    claiming the same version must still lose — and must NOT clobber
    the winner's commit (the rename-based design silently would)."""
    import json
    import os

    import pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    os.makedirs(os.path.join(table, "_log"))
    tx._commit(table, 0, add=["data/a.parquet"], remove=[])

    monkeypatch.setattr(os.path, "exists", lambda p: False)
    with pytest.raises(RuntimeError, match="concurrent commit"):
        tx._commit(table, 0, add=["data/EVIL.parquet"], remove=[])
    monkeypatch.undo()

    with open(tx._log_path(table, 0)) as f:
        entry = json.load(f)
    assert entry["add"] == ["data/a.parquet"]  # winner intact
    # no temp litter left behind
    leftovers = [
        f for f in os.listdir(os.path.join(table, "_log")) if ".tmp-" in f
    ]
    assert leftovers == []


def test_tx_merge_retrying_wins_after_conflict(spark, tmp_path):
    """OCC client loop: another writer claims the next version first;
    merge_retrying loses round 1, re-reads the fresh snapshot, and
    lands its merge at the following version — applied exactly once,
    on top of the interloper's commit."""
    import pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k bigint, s string, v double"
    )
    tx.create_table(spark, table, base)
    # interloper: claim version 1 directly (a competing writer's
    # commit that lands between our snapshot read and our commit).
    # It removes nothing and adds nothing — state unchanged, but the
    # version is consumed.
    tx._commit(table, 1, add=[], remove=[])

    updates = spark.createDataFrame(
        [(2, "XX", 99.0), (3, "c", 30.0)], "k bigint, s string, v double"
    )
    v = tx.merge_retrying(spark, table, updates, ["k"], ["v"])
    assert v == 2  # lost version 1, won version 2
    got = {tuple(r) for r in tx.snapshot(spark, table).collect()}
    assert got == {(1, "a", 10.0), (2, "b", 99.0), (3, "c", 30.0)}

    # exhaustion: a merge that loses every race gives up after 3 tries
    import bow_hunter_pipeline_spark.warehouse_tx as txm

    orig_merge = txm.merge
    calls = {"n": 0}

    def losing_merge(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("concurrent commit for version 99")

    txm.merge = losing_merge
    try:
        with pytest.raises(RuntimeError, match="optimistic-concurrency"):
            txm.merge_retrying(spark, table, updates, ["k"], ["v"])
        assert calls["n"] == 3
    finally:
        txm.merge = orig_merge


def test_tx_checkpoint_replay_equals_full_replay(spark, tmp_path):
    """Property: replay-from-checkpoint == full from-zero replay at
    EVERY version of an arbitrary commit sequence (merges, pruned
    merges, compaction) long enough to cross two checkpoint
    intervals. Also proves checkpoints actually exist and that the
    newest one bounds replay cost."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(k, float(k)) for k in range(8)], "k bigint, v double"
    )
    tx.create_table(spark, table, base, stats_cols=["k"])
    n_commits = 2 * tx.CHECKPOINT_INTERVAL + 3
    for i in range(1, n_commits + 1):
        upd = spark.createDataFrame(
            [(i % 11, 100.0 + i), (100 + i, float(i))],
            "k bigint, v double",
        )
        if i % 7 == 3:
            tx.compact(spark, table)
        elif i % 2 == 0:
            tx.merge_pruned(spark, table, upd, ["k"], ["v"])
        else:
            tx.merge(spark, table, upd, ["k"], ["v"])

    ckpts = tx._checkpoint_versions(table)
    assert len(ckpts) >= 2, ckpts
    for v in tx._versions(table):
        fast = tx._replay(table, v)
        full = tx._replay(table, v, use_checkpoint=False)
        assert fast == full, f"checkpoint replay diverged at v{v}"
    # snapshot content through the checkpointed path stays correct
    assert tx.snapshot(spark, table).count() >= 8


def test_tx_conflict_loser_files_are_cleaned_up(spark, tmp_path):
    """A merge that loses the optimistic-concurrency race must delete
    its own uncommitted data files: nothing references them, vacuum
    never would, so without cleanup they leak forever."""
    import json
    import os

    import pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k bigint, v double"
    )
    tx.create_table(spark, table, base)
    updates = spark.createDataFrame([(2, 99.0)], "k bigint, v double")

    # interloper lands AFTER the merge pins its read version but
    # BEFORE its commit: steal the target version from inside the
    # merge's own data write, the realistic mid-flight race
    orig_write = tx._write_data

    def stealing_write(df, tbl, version, stats_cols=None):
        out = orig_write(df, tbl, version, stats_cols)
        tx._commit(tbl, version, add=[], remove=[])
        return out

    tx._write_data = stealing_write
    try:
        with pytest.raises(RuntimeError, match="concurrent commit"):
            tx.merge(spark, table, updates, ["k"], ["v"])
    finally:
        tx._write_data = orig_write
    # every parquet on disk is referenced by some log entry
    referenced: set[str] = set()
    for v in tx._versions(table):
        with open(tx._log_path(table, v)) as f:
            referenced |= set(json.load(f)["add"])
    on_disk = set()
    data_root = os.path.join(table, "data")
    for sub in os.listdir(data_root):
        for f in os.listdir(os.path.join(data_root, sub)):
            if f.endswith(".parquet"):
                on_disk.add(os.path.join("data", sub, f))
    assert on_disk <= referenced, on_disk - referenced


def test_tx_multi_writer_occ_stress(spark, tmp_path):
    """N-writer OCC stress: 4 concurrent threads x 5 merges each on a
    shared table, every merge inserting one unique key and updating
    one shared key. Serializability assertions: every commit claimed
    a distinct version, no inserted key was ever lost (no lost
    updates), the shared key holds one of the writers' values, and no
    conflict-loser data file leaks on disk."""
    import json
    import os
    import threading

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame([(0, -1.0)], "k bigint, v double")
    tx.create_table(spark, table, base, stats_cols=["k"])

    n_writers, n_merges = 4, 5
    errors: list[Exception] = []

    def writer(wid: int) -> None:
        try:
            for i in range(n_merges):
                uniq = 1000 * (wid + 1) + i
                upd = spark.createDataFrame(
                    [(0, float(uniq)), (uniq, float(wid))],
                    "k bigint, v double",
                )
                tx.merge_retrying(
                    spark, table, upd, ["k"], ["v"], max_attempts=60
                )
        except Exception as e:  # surface in main thread
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    total = n_writers * n_merges
    # every merge claimed its own version: 0 (create) + total merges
    assert tx._versions(table) == list(range(total + 1))
    rows = {r.k: r.v for r in tx.snapshot(spark, table).collect()}
    expected_keys = {0} | {
        1000 * (w + 1) + i for w in range(n_writers) for i in range(n_merges)
    }
    assert set(rows) == expected_keys  # zero lost updates
    assert rows[0] in {float(k) for k in expected_keys - {0}}
    # no orphan files from conflict losers
    referenced: set[str] = set()
    for v in tx._versions(table):
        with open(tx._log_path(table, v)) as f:
            referenced |= set(json.load(f)["add"])
    on_disk = set()
    data_root = os.path.join(table, "data")
    for sub in os.listdir(data_root):
        for f in os.listdir(os.path.join(data_root, sub)):
            if f.endswith(".parquet"):
                on_disk.add(os.path.join("data", sub, f))
    assert on_disk <= referenced, on_disk - referenced


def test_tx_merge_with_constraints_quarantines_null_verdicts(spark, tmp_path):
    """Three-valued logic: a constraint evaluating to NULL (not just
    FALSE) must quarantine the row — an unproven invariant never
    enters the table — and the violations tag lists every failed
    constraint by name."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10.0, "a")], "k bigint, v double, s string"
    )
    tx.create_table(spark, table, base)
    updates = spark.createDataFrame(
        [
            (1, 20.0, "b"),      # clean: updates v
            (2, -5.0, "c"),      # violates positive_v
            (3, None, "d"),      # NULL verdict on positive_v → quarantined
            (4, -1.0, None),     # violates both
        ],
        "k bigint, v double, s string",
    )
    version, quarantined = tx.merge_with_constraints(
        spark,
        table,
        updates,
        ["k"],
        ["v"],
        {"positive_v": "v > 0", "has_s": "s IS NOT NULL"},
    )
    assert version == 1
    state = {r.k: r.v for r in tx.snapshot(spark, table).collect()}
    assert state == {1: 20.0}  # only the clean row merged
    quar = {r.k: sorted(r.violations) for r in quarantined.collect()}
    assert quar == {
        2: ["positive_v"],
        3: ["positive_v"],
        4: ["has_s", "positive_v"],
    }


def test_tx_idempotent_merge_and_txn_checkpoint_replay(spark, tmp_path):
    """Exactly-once protocol: a txn version at or below the last
    committed one is skipped (applied=False, version unchanged) even
    with a poison frame; txn state replays identically through
    checkpoints (cross a checkpoint interval, then compare the
    checkpointed and full-replay txn maps)."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame([(0, 0.0)], "k bigint, v double")
    tx.create_table(spark, table, base)

    n = tx.CHECKPOINT_INTERVAL + 3  # cross one checkpoint
    for i in range(n):
        upd = spark.createDataFrame([(i + 1, float(i))], "k bigint, v double")
        v, applied = tx.merge_idempotent(
            spark, table, upd, ["k"], ["v"], txn=("app", i)
        )
        assert applied and v == i + 1
    assert tx.last_txn_version(table, "app") == n - 1
    assert tx.last_txn_version(table, "other") == -1
    # checkpointed txn replay == full replay
    assert tx._replay_txns(table) == tx._replay_txns(
        table, use_checkpoint=False
    )
    assert tx._checkpoint_versions(table)  # a checkpoint exists

    # redelivery of every earlier txn with a poison frame: all skipped
    poison = spark.createDataFrame([(0, -999.0)], "k bigint, v double")
    v_before = tx._versions(table)[-1]
    for i in range(n):
        v, applied = tx.merge_idempotent(
            spark, table, poison, ["k"], ["v"], txn=("app", i)
        )
        assert not applied and v == v_before
    state = {r.k: r.v for r in tx.snapshot(spark, table).collect()}
    assert state[0] == 0.0  # poison never applied
    assert len(state) == n + 1


def test_cdc_table_property_defaults_rewrites_to_change_files(
    spark, tmp_path
):
    """A table created with ``properties={"cdc": True}`` gets
    writer-side change files on EVERY rewriting commit without a
    per-call opt-in — merge, update_where, delete_where — so the CDF
    stream planner (sources/tx_stream.py) takes its per-file ``cdc``
    branch for those commits; the single-task ``diff`` fallback is
    unreachable for them because ``entry['cdc']`` is checked BEFORE
    the add∧remove shape. An explicit ``write_cdc=False`` still wins
    (call-site override), and a property-less table keeps the old
    default (no change files)."""
    import json
    import os

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    def entry(table, v):
        with open(tx._log_path(table, v)) as f:
            return json.load(f)

    table = str(tmp_path / "cdc_t")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k bigint, v double"
    )
    tx.create_table(spark, table, base, properties={"cdc": True})
    assert tx.table_properties(table) == {"cdc": True}

    upd = spark.createDataFrame([(3, 33.0)], "k bigint, v double")
    v1 = tx.merge(spark, table, upd, ["k"], ["v"])
    e1 = entry(table, v1)
    # a rewriting commit (add ∧ remove) — exactly the shape that would
    # otherwise fall to the diff partition — carries change files
    assert e1["add"] and e1["remove"]
    assert "cdc" in e1 and e1["cdc"]["n"] == 2  # delete+insert images

    v2, n_upd = tx.update_where(spark, table, "k = 5", {"v": "v + 1"})
    assert n_upd == 1 and "cdc" in entry(table, v2)

    v3, n_del = tx.delete_where(spark, table, "k = 7")
    assert n_del == 1 and "cdc" in entry(table, v3)

    # the change images match the read-time diff exactly
    cf = spark.read.parquet(
        *[os.path.join(table, entry(table, v1)["cdc"]["f"])]
    )
    got = {
        (r.k, r.v, r._change_type) for r in cf.collect()
    }
    assert got == {(3, 3.0, "delete"), (3, 33.0, "insert")}

    # call-site override beats the property
    v4 = tx.merge(
        spark, table,
        spark.createDataFrame([(4, 44.0)], "k bigint, v double"),
        ["k"], ["v"], write_cdc=False,
    )
    assert "cdc" not in entry(table, v4)

    # property-less table: unchanged default
    plain = str(tmp_path / "plain_t")
    tx.create_table(spark, plain, base)
    assert tx.table_properties(plain) == {}
    v5 = tx.merge(spark, plain, upd, ["k"], ["v"])
    assert "cdc" not in entry(plain, v5)


def test_tx_shallow_clone_is_zero_copy_and_isolated(spark, tmp_path):
    """Shallow clone: version 0 of the clone copies NO data (its data/
    directory doesn't exist yet), reads resolve to the source's files,
    a merge into the clone writes only under the clone, and the source
    is untouched — including after vacuum on the clone (which must
    never delete source files)."""
    import glob
    import os

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    base = spark.createDataFrame(
        [(k, float(k)) for k in range(20)], "k bigint, v double"
    )
    tx.create_table(spark, src, base)
    tx.clone_table(src, dst)

    # zero-copy: no parquet under the clone yet, but reads work
    assert not glob.glob(os.path.join(dst, "data", "*", "*.parquet"))
    assert tx.snapshot(spark, dst).count() == 20

    upd = spark.createDataFrame([(1, 100.0), (99, 9.0)], "k bigint, v double")
    tx.merge(spark, dst, upd, ["k"], ["v"])
    # clone diverged; source untouched
    assert tx.snapshot(spark, dst).count() == 21
    assert {r.k: r.v for r in tx.snapshot(spark, dst).collect()}[1] == 100.0
    assert {r.k: r.v for r in tx.snapshot(spark, src).collect()}[1] == 1.0

    src_files = set(glob.glob(os.path.join(src, "data", "*", "*.parquet")))
    tx.vacuum(spark, dst, keep_versions=1)
    # vacuum on the clone never deletes source data
    assert src_files == set(
        glob.glob(os.path.join(src, "data", "*", "*.parquet"))
    )
    assert tx.snapshot(spark, src).count() == 20


def test_tx_in_commit_txn_validation_beats_zombie_race(
    spark, tmp_path, monkeypatch
):
    """The zombie-driver double-apply interleaving (check-B / commit-A
    / merge-B) that a PRE-commit idempotence check admits: writer A
    commits (app, 1) while writer B is mid-merge with the SAME txn.
    With the check evaluated in-commit at B's pinned read version,
    B's commit must conflict, and the retry must recognize A's txn
    and skip — the poison batch never lands."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 10.0)], "k bigint, v double")
    tx.create_table(spark, table, base)
    app = "zombie"
    good = spark.createDataFrame([(1, 11.0)], "k bigint, v double")
    poison = spark.createDataFrame([(1, -1.0)], "k bigint, v double")

    real_write = tx._write_data
    fired = {"done": False}

    def interleaved_write(df, table_, version, stats_cols=None):
        if not fired["done"]:
            fired["done"] = True
            # writer A lands the same-txn commit AFTER B pinned its
            # read version (B is already past its skip check)
            monkeypatch.setattr(tx, "_write_data", real_write)
            tx.merge(spark, table, good, ["k"], ["v"], txn=(app, 1))
            monkeypatch.setattr(tx, "_write_data", interleaved_write)
        return real_write(df, table_, version, stats_cols)

    monkeypatch.setattr(tx, "_write_data", interleaved_write)
    v, applied = tx.merge_idempotent(
        spark, table, poison, ["k"], ["v"], txn=(app, 1)
    )
    monkeypatch.setattr(tx, "_write_data", real_write)
    assert not applied, "redelivered txn must be skipped, not applied"
    assert v == tx._versions(table)[-1]
    got = {r.k: r.v for r in tx.snapshot(spark, table).collect()}
    assert got == {1: 11.0}, "writer A's batch wins; poison never lands"


def test_tx_merge_guard_cols_ignores_stale_updates(spark, tmp_path):
    """Order-aware MERGE (WHEN MATCHED AND s.guard > t.guard): a late
    batch carrying an OLDER guard tuple than table state must leave
    the row untouched; a newer one must win; ties lose (strict >)."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 100, 5, 1.0), (2, 200, 7, 2.0)],
        "k bigint, t bigint, seq bigint, v double",
    )
    tx.create_table(spark, table, base)
    late = spark.createDataFrame(
        [
            (1, 90, 9, -1.0),   # older t: stale, must NOT apply
            (2, 200, 7, -2.0),  # tie on (t, seq): must NOT apply
            (3, 50, 1, 3.0),    # new key: inserts regardless of guard
        ],
        "k bigint, t bigint, seq bigint, v double",
    )
    tx.merge(
        spark, table, late, ["k"], ["t", "seq", "v"],
        guard_cols=["t", "seq"],
    )
    got = {r.k: (r.t, r.seq, r.v) for r in tx.snapshot(spark, table).collect()}
    assert got == {
        1: (100, 5, 1.0),
        2: (200, 7, 2.0),
        3: (50, 1, 3.0),
    }
    fresh = spark.createDataFrame(
        [(1, 100, 6, 9.0)], "k bigint, t bigint, seq bigint, v double"
    )
    tx.merge(
        spark, table, fresh, ["k"], ["t", "seq", "v"],
        guard_cols=["t", "seq"],
    )
    got = {r.k: (r.t, r.seq, r.v) for r in tx.snapshot(spark, table).collect()}
    assert got[1] == (100, 6, 9.0), "lexicographically newer tuple wins"


def test_tx_vacuum_on_fresh_shallow_clone_is_noop(spark, tmp_path):
    """vacuum on a clone that has not written yet owns no data/ dir —
    it must return 0, not raise, and must not touch source files."""
    import glob
    import os

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx.create_table(
        spark, src, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )
    tx.clone_table(src, dst)
    src_files = set(glob.glob(os.path.join(src, "data", "*", "*.parquet")))
    assert tx.vacuum(spark, dst) == 0
    assert src_files == set(
        glob.glob(os.path.join(src, "data", "*", "*.parquet"))
    )
    assert tx.snapshot(spark, dst).count() == 1


def test_tx_checkpoint_failure_never_poisons_a_landed_commit(
    spark, tmp_path, monkeypatch
):
    """A checkpoint write failure after the version file is durable
    must NOT escape _commit: merge would treat it as a failed commit
    and delete the just-committed data files (table corruption)."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )

    def boom(table_, version):
        raise RuntimeError("checkpoint io failure")

    monkeypatch.setattr(tx, "_write_checkpoint", boom)
    up = spark.createDataFrame([(1, 2.0)], "k bigint, v double")
    for i in range(tx.CHECKPOINT_INTERVAL):
        tx.merge(spark, table, up, ["k"], ["v"])
    # the interval commit (version == CHECKPOINT_INTERVAL) crossed the
    # checkpoint path with a raising writer — table must be intact
    assert tx._versions(table)[-1] == tx.CHECKPOINT_INTERVAL
    assert {r.v for r in tx.snapshot(spark, table).collect()} == {2.0}


def test_tx_delete_where_rewrites_only_files_with_matches(spark, tmp_path):
    """Copy-on-write DELETE: files without matching rows must carry
    over by identity (same relative path in the new live set), and
    only the touched files are replaced."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    # two files with disjoint key ranges via repartitionByRange
    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    ).repartitionByRange(2, "k")
    tx.create_table(spark, table, df, stats_cols=["k"])
    before = set(tx.live_files(table))
    assert len(before) == 2

    v, n = tx.delete_where(spark, table, "k >= 90")
    assert n == 10
    after = set(tx.live_files(table, v))
    # the low-range file is untouched, the high-range file replaced
    assert len(before & after) == 1
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == set(range(90))
    # no-match delete: no commit, same version
    v2, n2 = tx.delete_where(spark, table, "k > 1000")
    assert (v2, n2) == (v, 0)
    # NULL predicate rows are KEPT (SQL DELETE semantics)
    tbl2 = str(tmp_path / "t2")
    d2 = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 50.0)], "k bigint, v double"
    )
    tx.create_table(spark, tbl2, d2)
    _, n3 = tx.delete_where(spark, tbl2, "v > 10")
    assert n3 == 1
    assert {r.k for r in tx.snapshot(spark, tbl2).collect()} == {1, 2}


def test_tx_restore_is_metadata_only_and_versioned(spark, tmp_path):
    """RESTORE re-points the live set without moving data, lands as a
    new commit (the rollback itself is in history and revertible),
    and refuses to resurrect a vacuumed snapshot."""
    import pytest as _pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k bigint, v double"
    )
    tx.create_table(spark, table, base)
    up = spark.createDataFrame([(1, -1.0), (99, 9.0)], "k bigint, v double")
    tx.merge(spark, table, up, ["k"], ["v"])
    v0_files = set(tx.live_files(table, 0))

    v_restore = tx.restore(spark, table, 0)
    assert v_restore == 2
    # live set is exactly version 0's files — no new data written
    assert set(tx.live_files(table)) == v0_files
    assert {(r.k, r.v) for r in tx.snapshot(spark, table).collect()} == {
        (i, float(i)) for i in range(20)
    }
    # the restore is itself revertible: roll forward to the merge state
    tx.restore(spark, table, 1)
    got = {r.k: r.v for r in tx.snapshot(spark, table).collect()}
    assert got[1] == -1.0 and got[99] == 9.0

    hist = tx.history(table)
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    # restore-to-0 removed the merge's files and re-added v0's
    assert hist[2]["n_added"] == len(v0_files)

    # vacuum the old merge snapshot, then restoring to it must fail
    tx.restore(spark, table, 0)
    tx.vacuum(spark, table, keep_versions=1)
    with _pytest.raises(tx.VersionVacuumedError):
        tx.restore(spark, table, 1)


def test_tx_update_where_and_change_feed_round_trip(spark, tmp_path):
    """UPDATE rewrites only touched files; the change feed shows the
    exact delete+insert pair per updated row and nothing for
    unchanged rows — even ones that shared a rewritten file."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(2, "k")
    tx.create_table(spark, table, df, stats_cols=["k"])
    before = set(tx.live_files(table))

    v, n = tx.update_where(spark, table, "k IN (30, 35)", {"v": "v + 100"})
    assert n == 2
    # only the high-range file was rewritten
    assert len(before & set(tx.live_files(table, v))) == 1
    got = {r.k: r.v for r in tx.snapshot(spark, table).collect()}
    assert got[30] == 130.0 and got[35] == 135.0 and got[0] == 0.0

    feed = tx.change_feed(spark, table, 0, v).collect()
    changes = {(r._change_type, r.k, r.v) for r in feed}
    assert changes == {
        ("delete", 30, 30.0),
        ("delete", 35, 35.0),
        ("insert", 30, 130.0),
        ("insert", 35, 135.0),
    }
    # no-match update: nothing committed
    v3, n3 = tx.update_where(spark, table, "k > 900", {"v": "0.0"})
    assert (v3, n3) == (v, 0)
    # identical-version feed is empty
    assert tx.change_feed(spark, table, v, v).count() == 0


def test_tx_deletion_vectors_merge_on_read(spark, tmp_path):
    """delete_where_dv: zero data movement (live files unchanged),
    reads skip the vectored rows, repeat deletes union into the
    vector, and AS OF below the delete still sees every row."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(2, "k")
    tx.create_table(spark, table, df)
    files_v0 = set(tx.live_files(table))

    v1, n1 = tx.delete_where_dv(spark, table, "k % 10 = 0")
    assert n1 == 5
    assert set(tx.live_files(table, v1)) == files_v0, "no files rewritten"
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {k for k in range(50) if k % 10 != 0}
    # time travel below the DV commit sees everything
    assert tx.snapshot(spark, table, 0).count() == 50

    # second DV delete unions; already-deleted rows never re-match
    v2, n2 = tx.delete_where_dv(spark, table, "k % 5 = 0")
    assert n2 == 5  # 5,15,25,35,45 — the %10 rows are already gone
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {k for k in range(50) if k % 5 != 0}
    # no-match: nothing committed
    assert tx.delete_where_dv(spark, table, "k > 999") == (v2, 0)


def test_tx_deletion_vectors_survive_rewrites_and_restore(spark, tmp_path):
    """DV interplay with the rest of the protocol: a merge
    materializes survivors (vectored rows stay deleted, vectors drop
    with the removed files); restore rolls the vector state back; the
    change feed reports a DV delete as row deletes even though no
    file changed; checkpointed DV replay equals full replay."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    tx.create_table(spark, table, df)
    v_dv, _ = tx.delete_where_dv(spark, table, "k < 10")

    # change feed across the DV commit: 10 deletes, 0 inserts
    feed = tx.change_feed(spark, table, 0, v_dv).collect()
    assert {r._change_type for r in feed} == {"delete"}
    assert {r.k for r in feed} == set(range(10))

    # merge materializes: vectored rows remain deleted afterwards
    up = spark.createDataFrame([(29, -1.0)], "k bigint, v double")
    v_m = tx.merge(spark, table, up, ["k"], ["v"])
    assert tx._replay_dvs(table, v_m) == {}, "rewrite drops vectors"
    got = {r.k: r.v for r in tx.snapshot(spark, table).collect()}
    assert set(got) == set(range(10, 30)) and got[29] == -1.0

    # restore to the DV state and to the pre-DV state
    tx.restore(spark, table, v_dv)
    assert {r.k for r in tx.snapshot(spark, table).collect()} == set(
        range(10, 30)
    )
    tx.restore(spark, table, 0)
    assert tx.snapshot(spark, table).count() == 30

    # checkpoint-seeded DV replay == full replay at every version
    for _ in range(tx.CHECKPOINT_INTERVAL):
        tx.delete_where_dv(spark, table, f"k = {_}")
    assert tx._checkpoint_versions(table)
    for v in tx._versions(table):
        assert tx._replay_dvs(table, v) == tx._replay_dvs(
            table, v, use_checkpoint=False
        )


def test_tx_copy_on_write_delete_respects_existing_vectors(spark, tmp_path):
    """delete_where (copy-on-write) on a table carrying DVs must not
    resurrect vectored rows when it rewrites their file."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    tx.create_table(spark, table, df)
    tx.delete_where_dv(spark, table, "k = 3")
    v, n = tx.delete_where(spark, table, "k >= 15")
    assert n == 5
    got = {r.k for r in tx.snapshot(spark, table, v).collect()}
    assert got == set(range(15)) - {3}
    # vectors only ever reference live files; any vector on a file the
    # rewrite removed was materialized (dropped), any survivor's
    # vector still hides its rows (k=3 stayed deleted above)
    live = set(tx.live_files(table, v))
    assert set(tx._replay_dvs(table, v)) <= live


def test_tx_append_retries_version_race_without_rewrite(
    spark, tmp_path, monkeypatch
):
    """Appends never logically conflict: when another writer claims
    the version mid-append, the SAME already-written files re-commit
    at the next version — no recompute, no new data files."""
    import glob
    import os

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )

    real_commit = tx._commit
    fired = {"done": False}

    def racing_commit(table_, version, add, remove, stats=None, **kw):
        if not fired["done"] and add and not remove:
            fired["done"] = True
            # interleaved writer wins the version first
            monkeypatch.setattr(tx, "_commit", real_commit)
            tx.append(
                spark, table,
                spark.createDataFrame([(2, 2.0)], "k bigint, v double"),
            )
            monkeypatch.setattr(tx, "_commit", racing_commit)
        return real_commit(table_, version, add, remove, stats=stats, **kw)

    monkeypatch.setattr(tx, "_commit", racing_commit)
    v = tx.append(
        spark, table,
        spark.createDataFrame([(3, 3.0)], "k bigint, v double"),
    )
    monkeypatch.setattr(tx, "_commit", real_commit)
    assert v == 2, "loser re-aimed at the next version"
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {1, 2, 3}, "both appends landed, nothing lost"
    # every data file on disk is referenced by the log (no leaks)
    live = {
        os.path.join(table, r) for r in tx.live_files(table)
    }
    on_disk = set(glob.glob(os.path.join(table, "data", "*", "*.parquet")))
    assert on_disk == live


def test_tx_optimize_zorder_tightens_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: after clustering on (k, d), per-file logged
    stats cover tight ranges of BOTH columns, so a selective predicate
    on either dimension prunes most files — which a single-column sort
    cannot give for the second column."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    n, files = 4096, 8
    # two independent dimensions: k counts up, d strides so a k-sort
    # scatters d and vice versa
    df = spark.range(n).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % n).alias("d"),
        (F.col("id") * 1.0).alias("v"),
    ).repartition(files)
    tx.create_table(spark, table, df, stats_cols=["k", "d"])

    v = tx.optimize_zorder(spark, table, ["k", "d"], target_files=files)
    _, stats = tx._replay(table, v)
    assert len(stats) == files

    def files_hit(col, lo, hi):
        return sum(
            1
            for s in stats.values()
            if col in s and s[col][1] >= lo and s[col][0] <= hi
        )

    span = n // 8  # a 1/8th-range predicate on either dimension
    hits_k = files_hit("k", 0, span - 1)
    hits_d = files_hit("d", 0, span - 1)
    # baseline: the same data single-column sorted on k — perfect for
    # k (1 file) but the second dimension scatters over EVERY file
    t_sorted = str(tmp_path / "sorted")
    tx.create_table(
        spark, t_sorted,
        df.repartitionByRange(files, "k").sortWithinPartitions("k"),
        stats_cols=["k", "d"],
    )
    _, sorted_stats = tx._replay(t_sorted)
    hits_d_sorted = sum(
        1
        for s in sorted_stats.values()
        if "d" in s and s["d"][1] >= 0 and s["d"][0] <= span - 1
    )
    assert hits_d_sorted == files, "k-sort gives d no locality"
    # the curve prunes on BOTH: each dimension skips files, and the
    # second dimension strictly beats the single-sort layout
    assert hits_k < files, f"k-range hits {hits_k}/{files} files"
    assert hits_d < files, f"d-range hits {hits_d}/{files} files"
    assert hits_k + hits_d <= files + files // 2, (
        f"joint pruning too weak: {hits_k}+{hits_d} of 2x{files}"
    )
    # table content unchanged by the rewrite
    assert tx.snapshot(spark, table).count() == n
    assert {r.k for r in tx.snapshot(spark, table).collect()} == set(
        range(n)
    )


def test_tx_row_ops_key_range_prunes_find_phase(spark, tmp_path):
    """key_range hints: the find phase considers only files whose
    logged min/max intersect the range — same result, and a range
    outside every file touches nothing at all."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(4, "k")
    tx.create_table(spark, table, df, stats_cols=["k"])
    rels, stats = tx._replay(table)
    assert len(rels) == 4 and all("k" in s for s in stats.values())
    # a range covering one file's span keeps 1 candidate
    assert len(tx._prune_candidates(table, rels, stats, ("k", 0, 50))) == 1
    # out-of-range ops are free no-ops (no scan, no commit)
    v0 = tx._versions(table)[-1]
    assert tx.delete_where(
        spark, table, "k > 9000", key_range=("k", 9001, 9999)
    ) == (v0, 0)
    assert tx.delete_where_dv(
        spark, table, "k > 9000", key_range=("k", 9001, 9999)
    ) == (v0, 0)
    assert tx.update_where(
        spark, table, "k > 9000", {"v": "0.0"},
        key_range=("k", 9001, 9999),
    ) == (v0, 0)
    # pruned delete equals the unpruned result
    v, n = tx.delete_where(
        spark, table, "k BETWEEN 10 AND 20", key_range=("k", 10, 20)
    )
    assert n == 11
    got = {r.k for r in tx.snapshot(spark, table, v).collect()}
    assert got == set(range(400)) - set(range(10, 21))


def test_tx_schema_enforcement_and_append_evolution(spark, tmp_path):
    """Write-time schema contract: a type-mismatched append always
    raises; an extra column raises unless evolve_schema=True, which
    records the new schema IN THE COMMIT — old files read NULL for it
    with no rewrite, and time travel below the evolution still sees
    the old schema."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table,
        spark.createDataFrame([(1, 1.0)], "k bigint, v double"),
    )
    # type mismatch: always rejected
    with _pytest.raises(tx.SchemaEnforcementError, match="type mismatch"):
        tx.append(
            spark, table,
            spark.createDataFrame([(2, "oops")], "k bigint, v string"),
        )
    # extra column: rejected without the evolution flag
    with _pytest.raises(tx.SchemaEnforcementError, match="evolve_schema"):
        tx.append(
            spark, table,
            spark.createDataFrame(
                [(2, 2.0, "x")], "k bigint, v double, tag string"
            ),
        )
    # additive evolution: schema action in the commit, no rewrite
    files_before = set(tx.live_files(table))
    v = tx.append(
        spark, table,
        spark.createDataFrame(
            [(2, 2.0, "x")], "k bigint, v double, tag string"
        ),
        evolve_schema=True,
    )
    assert files_before < set(tx.live_files(table, v)), "pure append"
    got = {r.k: (r.v, r.tag) for r in tx.snapshot(spark, table).collect()}
    assert got == {1: (1.0, None), 2: (2.0, "x")}
    # missing columns in later appends land as typed NULLs
    tx.append(
        spark, table, spark.createDataFrame([(3, 3.0)], "k bigint, v double")
    )
    got = {r.k: r.tag for r in tx.snapshot(spark, table).collect()}
    assert got == {1: None, 2: "x", 3: None}
    # time travel below the evolution: old 2-column schema
    assert tx.snapshot(spark, table, 0).columns == ["k", "v"]
    assert [f.name for f in tx.table_schema(table).fields] == [
        "k", "v", "tag"
    ]
    # row-level ops on the mixed-schema file set see the full schema
    v_del, n = tx.delete_where(spark, table, "tag IS NOT NULL")
    assert n == 1
    assert {r.k for r in tx.snapshot(spark, table).collect()} == {1, 3}


def test_tx_history_reports_operations(spark, tmp_path):
    """DESCRIBE HISTORY carries the operation per commit — the audit
    trail a table owner reads before trusting a restore."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    tx.create_table(spark, table, df)
    tx.append(spark, table, spark.createDataFrame([(10, 1.0)], "k bigint, v double"))
    tx.merge(
        spark, table,
        spark.createDataFrame([(1, -1.0)], "k bigint, v double"),
        ["k"], ["v"],
    )
    tx.delete_where_dv(spark, table, "k = 2")
    tx.delete_where(spark, table, "k = 3")
    tx.update_where(spark, table, "k = 4", {"v": "0.0"})
    tx.compact(spark, table)
    tx.restore(spark, table, 0)
    ops = [h["op"] for h in tx.history(table)]
    assert ops == [
        "CREATE", "APPEND", "MERGE", "DELETE_DV", "DELETE",
        "UPDATE", "OPTIMIZE", "RESTORE",
    ]
    dv_row = tx.history(table)[3]
    assert dv_row["n_dv_files"] == 1 and dv_row["n_added"] == 0


def test_tx_restore_rolls_back_schema_too(spark, tmp_path):
    """RESTORE is data + metadata: restoring below a schema evolution
    must bring back the OLD schema (Delta semantics), and rolling
    forward again must re-surface the evolved column."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )
    v_evo = tx.append(
        spark, table,
        spark.createDataFrame([(2, 2.0, "x")], "k bigint, v double, tag string"),
        evolve_schema=True,
    )
    tx.restore(spark, table, 0)
    assert tx.snapshot(spark, table).columns == ["k", "v"]
    assert [f.name for f in tx.table_schema(table).fields] == ["k", "v"]
    tx.restore(spark, table, v_evo)
    assert tx.snapshot(spark, table).columns == ["k", "v", "tag"]
    got = {r.k: r.tag for r in tx.snapshot(spark, table).collect()}
    assert got == {1: None, 2: "x"}


def test_tx_clone_carries_deletion_vectors_and_schema(spark, tmp_path):
    """A shallow clone of a source with live deletion vectors and an
    evolved schema must see exactly the source's current state — not
    resurrect vectored rows, not lose the evolved column."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    tx.create_table(
        spark, src,
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k bigint, v double"
        ),
    )
    tx.append(
        spark, src,
        spark.createDataFrame([(10, 1.0, "x")], "k bigint, v double, tag string"),
        evolve_schema=True,
    )
    tx.delete_where_dv(spark, src, "k IN (2, 4)")
    tx.clone_table(src, dst)
    got = {r.k: r.tag for r in tx.snapshot(spark, dst).collect()}
    assert set(got) == set(range(10)) - {2, 4} | {10}
    assert got[10] == "x" and got[0] is None
    assert tx.snapshot(spark, dst).columns == ["k", "v", "tag"]


def test_tx_change_feed_across_schema_evolution(spark, tmp_path):
    """CDF spanning an append-evolution: both sides diff under the
    newer schema — the appended rows arrive as inserts with the new
    column, and nothing else appears (old files are unchanged)."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )
    v = tx.append(
        spark, table,
        spark.createDataFrame([(2, 2.0, "x")], "k bigint, v double, tag string"),
        evolve_schema=True,
    )
    feed = tx.change_feed(spark, table, 0, v).collect()
    assert {(r._change_type, r.k, r.tag) for r in feed} == {
        ("insert", 2, "x")
    }


def test_tx_concurrent_appends_all_land(spark, tmp_path):
    """Append never logically conflicts: N threads appending
    concurrently must all land (distinct versions, zero losses, no
    leaked files) — the version-race retry re-aims without rewriting."""
    import glob
    import os
    import threading

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(0, 0.0)], "k bigint, v double")
    )
    n_writers, errors = 6, []

    def write(i: int) -> None:
        try:
            tx.append(
                spark, table,
                spark.createDataFrame(
                    [(100 + i, float(i))], "k bigint, v double"
                ),
                max_attempts=2 * n_writers,
            )
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=write, args=(i,)) for i in range(n_writers)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert tx._versions(table)[-1] == n_writers
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {0} | {100 + i for i in range(n_writers)}
    live = {os.path.join(table, r) for r in tx.live_files(table)}
    on_disk = set(glob.glob(os.path.join(table, "data", "*", "*.parquet")))
    assert on_disk == live, "no leaked or lost files under contention"


def test_tx_vacuum_dry_run_counts_without_deleting(spark, tmp_path):
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )
    tx.merge(
        spark, table,
        spark.createDataFrame([(1, 2.0)], "k bigint, v double"),
        ["k"], ["v"],
    )
    would = tx.vacuum(spark, table, keep_versions=1, dry_run=True)
    assert would > 0
    # nothing deleted: v0 still readable, and the real run matches
    assert tx.snapshot(spark, table, 0).count() == 1
    assert tx.vacuum(spark, table, keep_versions=1) == would


def test_tx_vacuum_breaks_cdf_stream_with_clear_error(spark, tmp_path):
    """Streaming CDF from a range whose pre-images were vacuumed must
    fail loudly (retention contract, as in Delta), never emit a
    partial diff."""
    import pyspark.errors
    import pytest as _pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx
    from bow_hunter_pipeline_spark.sources.tx_stream import (
        read_tx_cdf_stream,
    )

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table,
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"),
    )
    tx.merge(
        spark, table,
        spark.createDataFrame([(1, -1.0)], "k bigint, v double"),
        ["k"], ["v"],
    )
    tx.vacuum(spark, table, keep_versions=1)  # v0 pre-images gone

    q = (
        read_tx_cdf_stream(spark, table)
        .writeStream.format("memory")
        .queryName("tx_cdf_vacuumed")
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    with _pytest.raises(pyspark.errors.StreamingQueryException):
        q.awaitTermination(30)
        raise AssertionError("stream should fail on vacuumed pre-images")


def test_tx_zorder_skewed_dimension_prunes_via_quantile_buckets(
    spark, tmp_path
):
    """Skew-proof Z-order: with one hot range (99%+ of d mass packed
    into 0..15) plus far outliers (~1e9), LINEAR min/max bucketing
    collapses the whole hot range into a single cell — every file then
    spans it and a sub-range predicate prunes nothing. Quantile cut
    points (approxQuantile over the data) split cells by ROW MASS, so
    the hot range spreads over many cells and a narrow predicate on it
    skips most files."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    n, files = 4096, 8
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(
            F.col("id") % 512 == 0, F.lit(1_000_000_000) + F.col("id")
        ).otherwise(F.col("id") % 16).alias("d"),
        (F.col("id") * 1.0).alias("v"),
    ).repartition(files)
    tx.create_table(spark, table, df, stats_cols=["k", "d"])
    v = tx.optimize_zorder(spark, table, ["k", "d"], target_files=files)
    _, stats = tx._replay(table, v)
    assert len(stats) == files

    def files_hit(col, lo, hi):
        return sum(
            1
            for s in stats.values()
            if col in s and s[col][1] >= lo and s[col][0] <= hi
        )

    # a 2-of-16 slice of the hot range: under linear bucketing every
    # file contains cell 0 (the whole hot range) and hits = files
    hits_hot_slice = files_hit("d", 0, 1)
    assert hits_hot_slice <= files // 2, (
        f"skewed dimension not pruned: hot-slice predicate hits "
        f"{hits_hot_slice}/{files} files (linear-bucket collapse)"
    )
    # content unchanged by the rewrite
    assert tx.snapshot(spark, table).count() == n
    assert {r.k for r in tx.snapshot(spark, table).collect()} == set(
        range(n)
    )


def test_tx_zorder_preserves_prior_stat_columns(spark, tmp_path):
    """OPTIMIZE ZORDER must not narrow the stats surface: a table
    created with stats_cols=['k'] (the merge key) keeps per-file k
    stats after a Z-order rewrite on (a, b), so merge_pruned/key_range
    pruning on k still skips files."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(1024).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("a"),
        ((F.col("id") * 37) % 1024).alias("b"),
    ).repartition(4)
    tx.create_table(spark, table, df, stats_cols=["k"])
    v = tx.optimize_zorder(spark, table, ["a", "b"], target_files=4)
    _, stats = tx._replay(table, v)
    for rel, s in stats.items():
        assert set(s) == {"a", "b", "k"}, (
            f"{rel}: zorder rewrite dropped stat columns, got {set(s)}"
        )


def test_tx_append_evolution_race_remerges_concurrent_schema(
    spark, tmp_path, monkeypatch
):
    """Evolve-append losing a version race to ANOTHER evolve-append
    must re-merge the concurrent schema before re-committing: its
    stale schema_json (computed at read time) lacks the concurrently
    added column, and publishing it as a LATER schema action would
    silently drop that column from every logged-schema read."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )

    real_commit = tx._commit
    fired = {"done": False}

    def racing_commit(table_, version, add, remove, stats=None, **kw):
        if not fired["done"] and kw.get("op") == "APPEND":
            fired["done"] = True
            monkeypatch.setattr(tx, "_commit", real_commit)
            # interleaved writer wins the version AND evolves: adds y
            tx.append(
                spark, table,
                spark.createDataFrame(
                    [(2, 2.0, "why")], "k bigint, v double, y string"
                ),
                evolve_schema=True,
            )
            monkeypatch.setattr(tx, "_commit", racing_commit)
        return real_commit(table_, version, add, remove, stats=stats, **kw)

    monkeypatch.setattr(tx, "_commit", racing_commit)
    # our evolve-append adds x; it loses the race to the y-append
    v = tx.append(
        spark, table,
        spark.createDataFrame(
            [(3, 3.0, 9)], "k bigint, v double, x bigint"
        ),
        evolve_schema=True,
    )
    monkeypatch.setattr(tx, "_commit", real_commit)
    final = tx.table_schema(table, v)
    names = [f.name for f in final.fields]
    assert set(names) == {"k", "v", "x", "y"}, (
        f"retry published a stale schema: {names}"
    )
    got = {
        (r.k, r.y, r.x)
        for r in tx.snapshot(spark, table)
        .select("k", "y", "x")
        .collect()
    }
    assert got == {(1, None, None), (2, "why", None), (3, None, 9)}, (
        "concurrent column's data lost after the losing retry"
    )


def test_tx_vacuum_never_races_a_retained_reader(spark, tmp_path):
    """Vacuum-vs-reader contract: a snapshot DataFrame constructed at
    a RETAINED version keeps every file through a concurrent vacuum
    (retention math deletes only below the window), and a read BELOW
    the window raises VersionVacuumedError eagerly at snapshot
    construction — never as a mid-scan FileNotFound."""
    import pytest as _pytest

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    tx.create_table(
        spark, table, spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    )
    tx.merge(
        spark, table,
        spark.createDataFrame([(1, -1.0), (2, 2.0)], "k bigint, v double"),
        ["k"], ["v"],
    )  # v1 rewrites v0's file
    tx.append(
        spark, table, spark.createDataFrame([(3, 3.0)], "k bigint, v double")
    )  # v2
    # reader pins v1 (inside the keep_versions=2 window) BEFORE vacuum
    pinned = tx.snapshot(spark, table, 1)
    tx.vacuum(spark, table, keep_versions=2)
    got = {(r.k, r.v) for r in pinned.collect()}
    assert got == {(1, -1.0), (2, 2.0)}, "retained reader lost files"
    # below the window: eager error at construction, no DataFrame
    with _pytest.raises(tx.VersionVacuumedError):
        tx.snapshot(spark, table, 0)


def test_tx_dv_blob_path_end_to_end(spark, tmp_path, monkeypatch):
    """Executor-written DV blobs (the at-scale representation): with
    DV_INLINE_MAX forced to 0 every delete_where_dv writes its
    positions as a sorted parquet blob under _dv/ and the commit log
    holds only {path, cardinality} — O(files) driver metadata, never
    O(deleted rows). The whole protocol must keep working through
    blob refs: merge-on-read reads, vector union across deletes,
    time travel, restore, batch change feed, clone, and vacuum of
    unreachable blob dirs."""
    import json as _json
    import os as _os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    monkeypatch.setattr(tx, "DV_INLINE_MAX", 0)
    table = str(tmp_path / "t")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(3, "k")
    tx.create_table(spark, table, df)
    files_v0 = set(tx.live_files(table))

    v1, n1 = tx.delete_where_dv(spark, table, "k % 10 = 0")
    assert n1 == 6
    assert set(tx.live_files(table, v1)) == files_v0, "no rewrite"
    # the commit holds blob REFS, not positions
    with open(_os.path.join(table, "_log", f"{v1:08d}.json")) as f:
        entry = _json.load(f)
    refs = list(entry["dv"].values())
    assert refs and all(
        isinstance(r, dict) and set(r) >= {"f", "n"} for r in refs
    ), "positions leaked inline into the log"
    assert _os.path.isdir(_os.path.join(table, "_dv"))
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {k for k in range(60) if k % 10 != 0}
    assert tx.snapshot(spark, table, 0).count() == 60

    # second delete unions prior BLOB vectors with new matches
    v2, n2 = tx.delete_where_dv(spark, table, "k % 5 = 0")
    assert n2 == 6  # 5,15,...,55 — %10 rows already vectored out
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {k for k in range(60) if k % 5 != 0}

    # batch change feed across the blob-DV commit: pure row deletes
    feed = tx.change_feed(spark, table, v1, v2)
    rows = {(r.k, r._change_type) for r in feed.collect()}
    assert rows == {(k, "delete") for k in (5, 15, 25, 35, 45, 55)}

    # restore below both deletes clears the vectors
    v3 = tx.restore(spark, table, 0)
    assert tx.snapshot(spark, table).count() == 60

    # restore back ONTO a blob-DV version re-publishes its refs
    v4 = tx.restore(spark, table, v2)
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {k for k in range(60) if k % 5 != 0}

    # clone carries blob refs absolutely (no blob copy)
    dst = str(tmp_path / "c")
    tx.clone_table(table, dst)
    got = {r.k for r in tx.snapshot(spark, dst).collect()}
    assert got == {k for k in range(60) if k % 5 != 0}
    assert not _os.path.isdir(_os.path.join(dst, "_dv"))

    # vacuum keeps reachable blob dirs; full-history retention first
    assert tx.vacuum(spark, table, keep_versions=100, dry_run=True) == 0
    # retain only the latest version: v1's and v2's blobs stay
    # reachable (v4 = restore to v2 re-published both refs)
    tx.vacuum(spark, table, keep_versions=1)
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == {k for k in range(60) if k % 5 != 0}

    # drop the vectors via copy-on-write delete of everything left,
    # then vacuum: the now-unreachable blob dirs are collected
    tx.delete_where(spark, table, "k >= 0")
    assert tx.snapshot(spark, table).count() == 0
    tx.vacuum(spark, table, keep_versions=1)
    dv_root = _os.path.join(table, "_dv")
    assert (not _os.path.isdir(dv_root)) or _os.listdir(dv_root) == []

    # a vacuumed blob dir makes pinned reads fail EAGERLY
    with _pytest.raises(tx.VersionVacuumedError):
        tx.snapshot(spark, table, v2)


def test_tx_dv_blob_streams_through_cdf_source(spark, tmp_path, monkeypatch):
    """The CDF streaming source resolves blob-backed vectors: a
    DELETE_DV commit whose positions live in a _dv/ parquet blob
    streams the same per-row deletes an inline commit would."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx
    from bow_hunter_pipeline_spark.sources.tx_stream import (
        read_tx_cdf_stream,
    )

    monkeypatch.setattr(tx, "DV_INLINE_MAX", 0)
    table = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    tx.create_table(spark, table, df)
    tx.delete_where_dv(spark, table, "k < 4")

    q = (
        read_tx_cdf_stream(spark, table)
        .writeStream.format("memory")
        .queryName("txcdf_blob_sink")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        import time as _time

        deadline = _time.time() + 60
        while _time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM txcdf_blob_sink"
            ).collect()
            dels = {
                int(r.k)
                for r in rows
                if r._change_type == "delete"
            }
            if dels == {0, 1, 2, 3}:
                break
            _time.sleep(1)
        assert dels == {0, 1, 2, 3}
    finally:
        q.stop()


def test_tx_writer_side_change_files(spark, tmp_path):
    """Writer-side CDC change files (Delta's _change_data): rewriting
    commits record their row-level change images at write time; the
    CDF stream source plans one partition per change file instead of
    re-deriving the diff; empty change sets write nothing; vacuum
    expires change dirs with the retention window."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from bow_hunter_pipeline_spark import warehouse_tx as tx
    from bow_hunter_pipeline_spark.sources.tx_stream import (
        register_tx_cdf_stream,
    )

    table = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartitionByRange(3, "k")
    tx.create_table(spark, table, df)

    def entry(v):
        with open(_os.path.join(table, "_log", f"{v:08d}.json")) as f:
            return _json.load(f)

    # UPDATE with change files: n = delete+insert pair per changed row
    v1, n1 = tx.update_where(
        spark, table, "k % 10 = 0", {"v": "v + 100"}, write_cdc=True
    )
    assert n1 == 3
    ref = entry(v1)["cdc"]
    assert ref["n"] == 6 and _os.path.isdir(_os.path.join(table, ref["f"]))

    # MERGE with change files: 2 updated keys + 1 new key -> 2*2+1
    upd = spark.createDataFrame(
        [(0, 999.0), (15, 999.0), (1000, 999.0)], "k bigint, v double"
    )
    v2 = tx.merge(spark, table, upd, ["k"], ["v"], write_cdc=True)
    assert entry(v2)["cdc"]["n"] == 5

    # DELETE with change files: pure delete images, no diff needed
    v3, n3 = tx.delete_where(spark, table, "k >= 25 AND k < 30",
                             write_cdc=True)
    assert n3 == 5 and entry(v3)["cdc"]["n"] == 5

    # a no-op rewrite writes NO change files and leaves no dir behind
    v4, n4 = tx.update_where(
        spark, table, "k % 7 = 1", {"v": "v"}, write_cdc=True
    )
    assert n4 > 0 and "cdc" not in entry(v4)
    assert len(_os.listdir(_os.path.join(table, "_cdc"))) == 3

    # white-box: the CDF reader plans per-change-file partitions for
    # cdc commits (never the single diff partition)
    cls = register_tx_cdf_stream(spark)
    src = cls(options={"table": table})
    reader = src.streamReader(StructType.fromDDL(src.schema()))
    for v in (v1, v2, v3):
        parts = reader.partitions({"version": v - 1}, {"version": v})
        assert {p.value["kind"] for p in parts} == {"cdc"}, v
    # the no-op commit (no cdc entry, add+remove) falls back to diff
    parts4 = reader.partitions({"version": v4 - 1}, {"version": v4})
    assert [p.value["kind"] for p in parts4] == ["diff"]
    assert sorted(r for p in parts4 for r in reader.read(p)) == []

    # per-partition reads reproduce the change images exactly
    got1 = sorted(r for p in reader.partitions(
        {"version": v1 - 1}, {"version": v1}
    ) for r in reader.read(p))
    assert got1 == sorted(
        [(k, 1.0 * k, "delete", v1) for k in (0, 10, 20)]
        + [(k, 1.0 * k + 100, "insert", v1) for k in (0, 10, 20)]
    )
    got3 = sorted(r for p in reader.partitions(
        {"version": v3 - 1}, {"version": v3}
    ) for r in reader.read(p))
    assert got3 == [(k, 1.0 * k, "delete", v3) for k in range(25, 30)]

    # vacuum to the latest version only: all change dirs (< v4+1 but
    # >= oldest retained? retained=[v4]; v1..v3 < v4 -> expired)
    n_gone = tx.vacuum(spark, table, keep_versions=1)
    assert not _os.path.isdir(_os.path.join(table, "_cdc")) or (
        _os.listdir(_os.path.join(table, "_cdc")) == []
    )
    assert n_gone >= 3


def test_tx_compact_binpack_rewrites_only_small_files(spark, tmp_path):
    """Size-based OPTIMIZE: only files under the min-size threshold
    are packed and rewritten; right-sized files carry over untouched
    (churn proportional to small-file debt). DV-aware: a vectored row
    in a packed file stays deleted and its vector drops with the
    rewrite; time travel still resolves the fragmented layout."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    big = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).coalesce(1)
    tx.create_table(spark, table, big)
    for i in range(4):  # four tiny appends = small-file debt
        tx.append(
            spark,
            table,
            spark.range(20000 + i * 10, 20010 + i * 10).select(
                F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
            ).coalesce(1),
        )
    # vector a row inside one of the small files
    v_dv, n_dv = tx.delete_where_dv(spark, table, "k = 20005")
    assert n_dv == 1
    files_before = tx.live_files(table)
    import os as _os

    sizes = {
        r: _os.path.getsize(_os.path.join(table, r))
        for r in files_before
    }
    big_rel = max(sizes, key=sizes.get)

    v, n_rw, n_carry = tx.compact_binpack(
        spark, table, target_bytes=1 << 20, min_file_bytes=64 << 10
    )
    assert n_rw == 4 and n_carry == 1
    after = tx.live_files(table, v)
    assert big_rel in after, "right-sized file must carry over"
    assert len(after) < len(files_before)
    # content identical minus the vectored row, vector gone from log
    got = {r.k for r in tx.snapshot(spark, table).collect()}
    assert got == set(range(20040)) - {20005}
    assert tx._replay_dvs(table, v) == {}
    # time travel still sees the fragmented pre-compaction layout
    assert set(tx.live_files(table, v_dv)) == set(files_before)
    # a second pass finds nothing left to pack: no-op
    v2, n2, _ = tx.compact_binpack(
        spark, table, target_bytes=1 << 20, min_file_bytes=64 << 10
    )
    assert (v2, n2) == (v, 0)


def test_tx_manifest_export_contract(spark, tmp_path):
    """Symlink-manifest interop laws: (1) a manifest is a frozen view
    — commits after generation never change what it serves; (2) a
    table with live deletion vectors REFUSES to export (a raw parquet
    reader would resurrect the vectored rows), and exports again once
    a rewrite materializes the survivors; (3) the manifest lists only
    live files — compacted-away files of older versions are absent."""
    import pytest
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    tx.create_table(spark, table, df)
    m0 = tx.generate_manifest(table)
    tx.append(spark, table, df.withColumn("k", F.col("k") + 100))
    assert tx.read_manifest(spark, m0).count() == 100  # frozen at v0
    m1 = tx.generate_manifest(table)
    assert tx.read_manifest(spark, m1).count() == 200

    tx.delete_where_dv(spark, table, "v = 3")
    with pytest.raises(RuntimeError, match="deletion vectors"):
        tx.generate_manifest(table)
    tx.compact(spark, table)  # rewrite materializes survivors
    m3 = tx.generate_manifest(table)
    live = tx.read_manifest(spark, m3)
    assert live.count() == tx.snapshot(spark, table).count()
    assert live.filter(F.col("v") == 3).count() == 0
    with open(m3) as f:
        listed = {line.strip() for line in f if line.strip()}
    import os

    expected = {
        os.path.abspath(os.path.join(table, r))
        for r in tx.live_files(table)
    }
    assert listed == expected


def test_tx_bloom_index_prunes_without_false_negatives(spark, tmp_path):
    """Bloom file-skip laws of the parquet sidecar: (1) on a
    hash-distributed layout the index prunes most files for a
    single-key probe (min/max stats would keep all of them); (2) no
    false negatives — for every key in the table, the pruned lookup
    returns exactly the snapshot filter's rows; (3) files appended
    after the build are unindexed and therefore always candidates
    (stale index = conservative, not wrong); (4) with live deletion
    vectors the lookup still PRUNES and reads candidates DV-aware
    (deleted key gone, survivor intact); (5) a retired JSON sidecar
    path is refused by name."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(8)
    tx.create_table(spark, table, df)
    index = tx.build_bloom_index_table(spark, table, "k")

    # (1) pruning: a point probe keeps strictly fewer than all files
    cand, rels = tx._bloom_candidates_join(spark, table, index, [1234])
    assert len(rels) == 8
    assert 1 <= len(cand) < 8, f"no pruning: {len(cand)}/8"
    # misses and repeated probes keep the candidate law
    for probes in ([-5], [7, 7, 7], [0, 3999]):
        cand, _ = tx._bloom_candidates_join(spark, table, index, probes)
        assert len(cand) < 8, probes

    # (2) no false negatives, probed across the whole key domain
    for k in range(0, 4000, 397):
        got = sorted(
            map(
                tuple,
                tx.bloom_point_lookup(
                    spark, table, index, "k", [k]
                ).collect(),
            )
        )
        assert got == [(k, k % 13)], k

    # (3) staleness: appended file is always a candidate
    tx.append(
        spark,
        table,
        spark.range(4000, 4200).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("v")
        ).coalesce(1),
    )
    got = tx.bloom_point_lookup(spark, table, index, "k", [4100]).collect()
    assert [tuple(r) for r in got] == [(4100, 4100 % 13)]

    # (4) DV-selective pruning: delete one key merge-on-read, then a
    # point lookup still opens fewer files than the table holds
    tx.delete_where_dv(spark, table, "k = 777")
    pruned = tx.bloom_point_lookup(spark, table, index, "k", [777])
    n_live = len(tx.live_files(table))
    assert n_live == 9
    assert 0 < len(pruned.inputFiles()) < n_live, pruned.inputFiles()
    assert pruned.count() == 0  # DV applied on the candidate read
    assert (
        tx.bloom_point_lookup(spark, table, index, "k", [778]).count() == 1
    )

    # (5) JSON sidecars are no longer read
    with pytest.raises(ValueError, match="build_bloom_index_table"):
        tx.bloom_point_lookup(
            spark, table, str(tmp_path / "k-v00000000.json"), "k", [1]
        )


def _bloom_candidates_json_reference(spark, table, index_path, values):
    """Driver-side reference for the sidecar's candidate law, in the
    JSON sidecar's shape: the parquet words dumped to
    ``{"files": {rel: {str(w): bits}}}`` and probed in Python with
    the md5 hash family (first 15 hex chars of ``md5('fbloom<j>|k')``
    mod the filter size). Unindexed live files are always candidates."""
    import hashlib
    import json

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    bits = tx._bloom_index_bits(index_path)
    files: dict[str, dict[str, int]] = {}
    for r in spark.read.parquet(index_path).collect():
        files.setdefault(r.file, {})[str(r.w)] = int(r.bits)
    idx = json.loads(json.dumps({"files": files}))
    probe_bits = [
        [
            int(hashlib.md5(f"fbloom{j}|{v}".encode()).hexdigest()[:15], 16)
            % bits
            for j in range(tx.BLOOM_FILE_K)
        ]
        for v in values
    ]

    def might_contain(rel: str) -> bool:
        words = idx["files"].get(rel)
        if words is None:
            return True
        return any(
            all((words.get(str(p // 32), 0) >> (p % 32)) & 1 for p in pb)
            for pb in probe_bits
        )

    rels = tx.live_files(table)
    return [r for r in rels if might_contain(r)], rels


def test_tx_bloom_table_sidecar_matches_json_and_prunes_with_dvs(
    spark, tmp_path
):
    """The parquet bloom sidecar's laws: (1) the broadcast-probe join
    computes EXACTLY the candidate set a driver-side probe of the
    same words in the JSON sidecar layout computes (the executor hash
    exprs own the bit layout; the Python md5 twin must agree); (2)
    unindexed (post-build) files are always candidates on both paths;
    (3) with live deletion vectors the lookup still PRUNES — the scan
    opens fewer than all files — while staying DV-correct: the
    deleted key returns nothing, its file-mates survive."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(8)
    tx.create_table(spark, table, df)
    idx_tab = tx.build_bloom_index_table(spark, table, "k")

    # (1) candidate parity across probe shapes, including misses
    for probes in ([1234], [0, 3999], [-5], [7, 7, 7], [17, -1]):
        cand_j, rels_j = _bloom_candidates_json_reference(
            spark, table, idx_tab, probes
        )
        cand_t, rels_t = tx._bloom_candidates_join(
            spark, table, idx_tab, probes
        )
        assert rels_j == rels_t
        assert sorted(cand_j) == sorted(cand_t), probes

    # value parity through the full lookup
    for k in range(0, 4000, 397):
        got = sorted(
            map(
                tuple,
                tx.bloom_point_lookup(
                    spark, table, idx_tab, "k", [k]
                ).collect(),
            )
        )
        assert got == [(k, k % 13)], k

    # (2) staleness: appended file is always a candidate
    tx.append(
        spark,
        table,
        spark.range(4000, 4200).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("v")
        ).coalesce(1),
    )
    cand_j, rels = _bloom_candidates_json_reference(
        spark, table, idx_tab, [4100]
    )
    cand_t, _ = tx._bloom_candidates_join(spark, table, idx_tab, [4100])
    assert sorted(cand_j) == sorted(cand_t)
    assert set(rels) - set(tx.live_files(table, 0)) <= set(cand_t)
    got = tx.bloom_point_lookup(spark, table, idx_tab, "k", [4100])
    assert [tuple(r) for r in got.collect()] == [(4100, 4100 % 13)]

    # (3) DV-selective pruning: delete one key merge-on-read, then a
    # point lookup still opens fewer files than the table holds
    tx.delete_where_dv(spark, table, "k = 777")
    pruned = tx.bloom_point_lookup(spark, table, idx_tab, "k", [777])
    n_live = len(tx.live_files(table))
    assert n_live == 9
    assert 0 < len(pruned.inputFiles()) < n_live, pruned.inputFiles()
    assert pruned.count() == 0  # DV applied on the candidate read
    assert (
        tx.bloom_point_lookup(spark, table, idx_tab, "k", [778]).count()
        == 1
    )


def test_merge_pruned_composite_stats_and_bloom_stages(spark, tmp_path):
    """merge_pruned's composite-key find phase, its two stages
    isolated: (1) stats — a file whose SECOND key column's range is
    disjoint from the updates' is carried even though the FIRST
    column's range overlaps; (2) bloom — on a hash-distributed layout where stats keep
    everything, the composite-key probe cuts the rewrite set; (3) the
    merged content is the plain upsert either way."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    # (1) range-clustered on k2: every file spans all of k1
    t1 = str(tmp_path / "t1")
    df = spark.range(1000).select(
        (F.col("id") % 100).alias("k1"),
        F.expr("id div 100").alias("k2"),
        F.lit(1.0).alias("v"),
    ).repartitionByRange(5, "k2")
    tx.create_table(spark, t1, df)
    ups = spark.createDataFrame(
        [(7, 0, 100.0), (55, 1, 100.0)], "k1 bigint, k2 bigint, v double"
    )
    _, n_rw, n_carry = tx.merge_pruned(spark, t1, ups, ["k1", "k2"], ["v"])
    assert 0 < n_rw < n_rw + n_carry, (n_rw, n_carry)
    got = tx.snapshot(spark, t1)
    assert got.filter("v = 100.0").count() == 2
    assert got.count() == 1000

    # (2) hash-distributed: stats keep all files, bloom prunes
    t2 = str(tmp_path / "t2")
    df2 = spark.range(4000).select(
        (F.col("id") % 63).alias("k1"),
        (F.col("id") % 61).alias("k2"),
        F.col("id").cast("double").alias("v"),
    ).repartition(8)
    tx.create_table(spark, t2, df2)
    idx = tx.build_bloom_index_table(spark, t2, ["k1", "k2"])
    ups2 = spark.createDataFrame(
        [(5, 5, -1.0)], "k1 bigint, k2 bigint, v double"
    )
    read_v = tx._versions(t2)[-1]
    _, _, n_stats2 = tx._merge_find(spark, t2, ups2, ["k1", "k2"], read_v)
    assert n_stats2 == 8  # every file spans both full ranges
    _, n_rw2, _ = tx.merge_pruned(
        spark, t2, ups2, ["k1", "k2"], ["v"], bloom_index=idx
    )
    assert n_rw2 < 8, n_rw2
    got2 = tx.snapshot(spark, t2)
    assert got2.count() == 4000
    assert got2.filter("k1 = 5 AND k2 = 5 AND v = -1.0").count() == (
        df2.filter("k1 = 5 AND k2 = 5").count()
    )


def test_replace_where_laws(spark, tmp_path):
    """replaceWhere's contract, isolated: (1) file-level isolation —
    on a region-clustered layout only the region's files rewrite
    (carried files keep their identity across the commit); (2) the
    write contract: an insert row outside the predicate raises BEFORE
    anything is written; (3) idempotence: re-running the same
    replaceWhere yields the same snapshot; (4) replace into an empty
    region is a guarded append; (5) the swap is one commit (version
    advances by exactly 1) and time travel still serves the
    pre-replace state."""
    import pytest
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("region"),
        F.lit(1.0).alias("v"),
    ).repartition(4, "region")
    tx.create_table(spark, table, df)
    v0 = tx._versions(table)[-1]
    files0 = set(tx.live_files(table, v0))

    # (2) contract: stray insert row refused, nothing committed
    bad = spark.createDataFrame(
        [(9999, 3, 2.0)], "k bigint, region bigint, v double"
    )
    with pytest.raises(ValueError, match="violate"):
        tx.replace_where(spark, table, "region = 2", bad)
    assert tx._versions(table)[-1] == v0

    # (1) + (5): rebuild region 2 keeping only even k, v doubled
    repl = df.filter(
        (F.col("region") == 2) & (F.col("k") % 8 == 2)
    ).withColumn("v", F.lit(2.0))
    v1, n_del, n_ins = tx.replace_where(spark, table, "region = 2", repl)
    assert v1 == v0 + 1
    assert n_del == 250 and n_ins == 125
    files1 = set(tx.live_files(table, v1))
    # carried files persist by identity; at least one file was swapped
    assert files0 - files1, "no file was rewritten"
    assert files0 & files1, "isolation failed: every file rewritten"
    snap = tx.snapshot(spark, table)
    assert snap.count() == 875
    assert snap.filter("region = 2").count() == 125
    assert snap.filter("region = 2 AND v != 2.0").count() == 0
    # time travel below the swap still serves the old region
    old = tx.snapshot(spark, table, v0)
    assert old.filter("region = 2").count() == 250

    # (3) idempotence: same replace again, same result
    v2, n_del2, n_ins2 = tx.replace_where(spark, table, "region = 2", repl)
    assert (n_del2, n_ins2) == (125, 125)
    snap2 = tx.snapshot(spark, table)
    assert snap2.count() == 875
    assert snap2.filter("region = 2 AND v != 2.0").count() == 0

    # (4) empty region: pure guarded append
    ins = spark.createDataFrame(
        [(5000, 9, 1.0)], "k bigint, region bigint, v double"
    )
    v3, n_del3, n_ins3 = tx.replace_where(spark, table, "region = 9", ins)
    assert (n_del3, n_ins3) == (0, 1)
    assert tx.snapshot(spark, table).filter("region = 9").count() == 1


def test_column_mapping_rename_laws(spark, tmp_path):
    """Column mapping's laws, isolated: (1) rename is metadata-only
    (live file set identical); (2) files stay PHYSICAL forever — raw
    parquet written before AND after the rename carries the original
    name, while snapshot presents the logical one; (3) time travel
    below the rename serves the old name; (4) appends and merges
    accept logical-named frames; (5) renames chain and the name-space
    law refuses collisions with logical or physical names; (6) stats
    pruning keyed on a RENAMED merge key still prunes (logged stats
    are physical, lookups translate)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.expr("id % 10").alias("grp"),
        F.lit(1.0).alias("v"),
    ).repartitionByRange(5, "k")
    tx.create_table(spark, table, df, stats_cols=["k"])
    v0 = tx._versions(table)[-1]
    files0 = tx.live_files(table, None)

    # (1) + (3)
    v1 = tx.rename_column(spark, table, "v", "val")
    assert tx.live_files(table, None) == files0
    assert "v" in tx.snapshot(spark, table, v0).columns
    snap = tx.snapshot(spark, table)
    assert "val" in snap.columns and "v" not in snap.columns

    # (2) physical-at-rest before and after
    raw0 = spark.read.parquet(os.path.join(table, files0[0]))
    assert "v" in raw0.columns
    tx.append(
        spark,
        table,
        spark.createDataFrame(
            [(5000, 3, 9.0)], "k bigint, grp bigint, val double"
        ).coalesce(1),
    )
    new_file = [
        r for r in tx.live_files(table, None) if r not in set(files0)
    ]
    assert len(new_file) == 1
    raw1 = spark.read.parquet(os.path.join(table, new_file[0]))
    assert "v" in raw1.columns and "val" not in raw1.columns
    assert tx.snapshot(spark, table).filter("val = 9.0").count() == 1

    # (5) chain + collisions
    v2 = tx.rename_column(spark, table, "val", "value")
    assert tx._column_mapping(table) == {"v": "value"}
    with pytest.raises(ValueError, match="collides"):
        tx.rename_column(spark, table, "k", "value")  # logical clash
    with pytest.raises(ValueError, match="collides"):
        tx.rename_column(spark, table, "grp", "v")  # physical clash
    with pytest.raises(ValueError, match="no column"):
        tx.rename_column(spark, table, "val", "x")  # old name is gone

    # (4) + (6): rename the MERGE KEY, then a pruned merge still
    # carries files (stats logged under physical 'k', lookup maps)
    tx.rename_column(spark, table, "k", "key_id")
    ups = spark.createDataFrame(
        [(7, 0, 100.0)], "key_id bigint, grp bigint, value double"
    )
    _, n_rw, n_carry = tx.merge_pruned(
        spark, table, ups, ["key_id"], ["value"]
    )
    assert n_carry > 0, "stats pruning died under the renamed key"
    got = tx.snapshot(spark, table)
    assert got.filter("key_id = 7 AND value = 100.0").count() == 1
    assert got.count() == 1001


def test_tx_manifest_expires_with_vacuum_retention(spark, tmp_path):
    """The manifest's retention trade, pinned: a manifest is a frozen
    view of its version's files, so once vacuum reclaims versions
    below the retention window the old manifest's reads fail loudly
    (files gone) while a fresh manifest of the live version still
    serves — exactly the time-travel trade documented for snapshots."""
    import pytest
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"))
    tx.create_table(spark, table, df)
    m0 = tx.generate_manifest(table)
    tx.compact(spark, table)  # v1 rewrites the live set
    tx.vacuum(spark, table, keep_versions=1)  # v0's files reclaimed
    with pytest.raises(Exception):
        tx.read_manifest(spark, m0).count()
    m1 = tx.generate_manifest(table)
    assert tx.read_manifest(spark, m1).count() == 50


def test_incremental_bloom_index_laws(spark, tmp_path):
    """register → append_indexed keeps the parts index bit-equal to a
    full rebuild while hashing only each commit's new files; vacuum
    drops dead files' words; probes stay exact throughout."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    bits = 1 << 15
    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(4)
    tx.create_table(spark, table, df)
    idx = tx.register_bloom_index(spark, table, "k", bits)
    assert tx.registered_bloom_indexes(table) == [
        {"cols": ["k"], "bits": bits}
    ]
    # registration is idempotent (no duplicate config, no extra scan)
    assert tx.register_bloom_index(spark, table, "k", bits) == idx
    assert len(tx.registered_bloom_indexes(table)) == 1

    # O(new): each append hashes exactly its own files
    batch = spark.range(2000, 2500).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(2)
    before = len(tx.live_files(table))
    v, scanned = tx.append_indexed(spark, table, batch)
    n_new = len(tx.live_files(table, v)) - before
    assert scanned == {idx: n_new} and n_new == 2
    _, rescanned, covered = tx.refresh_bloom_index(spark, table, "k", bits=bits)
    assert rescanned == 0 and covered == before + n_new

    # bit-equality with a from-scratch build over the same snapshot
    full = tx.build_bloom_index_table(spark, table, "k", bits=bits)
    inc = spark.read.parquet(idx).filter("w >= 0")  # drop sentinels
    ful = spark.read.parquet(full)
    assert inc.exceptAll(ful).count() == 0
    assert ful.exceptAll(inc).count() == 0

    # exactness: base key, CDC key, absent key
    for k, expect in [(7, [(7, 7 % 13)]), (2400, [(2400, 2400 % 13)]),
                      (999_999, [])]:
        got = sorted(
            map(tuple, tx.bloom_point_lookup(
                spark, table, idx, "k", [k]).collect())
        )
        assert got == expect, (k, got)

    # vacuum after a rewrite: dead files' words leave the index
    tx.delete_where(spark, table, "k < 100")
    live_now = set(tx.live_files(table))
    tx.refresh_bloom_index(spark, table, "k", bits=bits)  # cover rewrite
    kept_rows, _ = tx.vacuum_bloom_index(spark, table, "k", bits=bits)
    files_in_idx = {
        r.file for r in spark.read.parquet(idx).select("file")
        .distinct().collect()
    }
    assert files_in_idx <= live_now
    got = sorted(map(tuple, tx.bloom_point_lookup(
        spark, table, idx, "k", [7, 150]).collect()))
    assert got == [(150, 150 % 13)]


def test_bloom_parts_land_file_complete(spark, tmp_path):
    """Crash-safety law for the one-os.replace-per-part move loop
    (ADVICE r10): every landed part must be SELF-CONTAINED per data
    file — a file's words and its coverage sentinel share one part —
    so an interrupted refresh leaves each file either fully indexed
    or fully absent (rescanned next refresh), never covered-but-
    under-indexed (a probe false negative)."""
    import glob
    import os
    from collections import defaultdict

    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(3000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    ).repartition(6)
    tx.create_table(spark, table, df)
    idx = tx.register_bloom_index(spark, table, "k", 1 << 15)
    tx.append_indexed(
        spark,
        table,
        spark.range(3000, 3400).select(
            F.col("id").alias("k"), (F.col("id") % 13).alias("v")
        ).repartition(2),
    )
    parts_of: dict[str, set[str]] = defaultdict(set)
    sentinel_parts: dict[str, set[str]] = defaultdict(set)
    for part in glob.glob(os.path.join(idx, "*.parquet")):
        rows = spark.read.parquet(part).collect()
        for r in rows:
            parts_of[r.file].add(os.path.basename(part))
            if r.w == -1:
                sentinel_parts[r.file].add(os.path.basename(part))
    assert parts_of, "index is empty"
    for f, parts in parts_of.items():
        assert len(parts) == 1, (f, parts)  # one part owns the file
        assert sentinel_parts[f] == parts, f  # sentinel rides along


def test_merge_find_footer_fallback_on_legacy_stat_less_table(
    spark, tmp_path
):
    """ADVICE r10: commits logged WITHOUT stats (legacy format) still
    prune — the find phase falls back to a per-file footer read, so
    narrow update bounds on a range-clustered layout rewrite exactly
    the file(s) whose key range holds the update and carry the rest."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(4000).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(8, "a")
    # stats_cols=[] writes commits with NO logged stats (legacy shape)
    tx.create_table(spark, table, df, stats_cols=[])
    read_v = tx._versions(table)[-1]
    rels, logged = tx._replay(table, read_v)
    assert not any(logged.get(r) for r in rels)  # genuinely stat-less

    # ground truth from the data itself, not from any stats
    holds = set()
    for rel in rels:
        a = pq.read_table(os.path.join(table, rel), columns=["a"])["a"]
        if len(a) and min(a.to_pylist()) <= 100 <= max(a.to_pylist()):
            holds.add(rel)
    assert len(holds) == 1

    updates = spark.createDataFrame([(100, -1)], "a bigint, v bigint")
    rewrite, carry, n_stats = tx._merge_find(
        spark, table, updates, ["a"], read_v
    )
    assert set(rewrite) == holds
    assert set(carry) == set(rels) - holds
    assert n_stats == len(rewrite)


def test_merge_pruned_prunes_on_every_integral_key(spark, tmp_path):
    """Stats pruning intersects EVERY integral merge key, not just the
    first: a file that overlaps the updates on k1 but is disjoint on
    k2 cannot hold a matched row, so merge_pruned carries it."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    # two files, both spanning k1 0..9: one with k2 0..9, one with
    # k2 100..109
    df = spark.range(20).select(
        (F.col("id") % 10).alias("k1"),
        F.when(F.col("id") < 10, F.col("id") + 100)
        .otherwise(F.col("id") - 10)
        .alias("k2"),
        F.lit(1.0).alias("v"),
    ).repartitionByRange(2, "k2")
    tx.create_table(spark, table, df, stats_cols=["k1", "k2"])
    rels, logged = tx._replay(table)
    assert len(rels) == 2
    far = [r for r in rels if logged[r]["k2"][0] >= 100]
    assert len(far) == 1

    ups = spark.createDataFrame([(5, 5, 9.0)], "k1 bigint, k2 bigint, v double")
    _, n_rw, n_carry = tx.merge_pruned(spark, table, ups, ["k1", "k2"], ["v"])
    assert (n_rw, n_carry) == (1, 1)
    assert far[0] in tx.live_files(table)  # carried, untouched
    got = tx.snapshot(spark, table)
    assert got.count() == 20
    assert got.filter("k1 = 5 AND k2 = 5 AND v = 9.0").count() == 1


def test_merge_pruned_reads_column_mapping_once_per_merge(
    spark, tmp_path, monkeypatch
):
    """The find phase resolves physical key names once per merge: the
    number of _column_mapping calls (each re-reads every log entry)
    must not grow with the live file count."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    real = tx._column_mapping
    calls = []

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    counts = {}
    for n_files in (2, 12):
        table = str(tmp_path / f"t{n_files}")
        df = spark.range(600).select(
            F.col("id").alias("a"),
            (F.col("id") % 3).alias("g"),
            F.lit(1.0).alias("v"),
        ).repartitionByRange(n_files, "a")
        tx.create_table(spark, table, df, stats_cols=["a", "g"])
        assert len(tx.live_files(table)) == n_files
        ups = spark.createDataFrame(
            [(5, 2, 9.0)], "a bigint, g bigint, v double"
        )
        monkeypatch.setattr(tx, "_column_mapping", counting)
        calls.clear()
        tx.merge_pruned(spark, table, ups, ["a", "g"], ["v"])
        monkeypatch.setattr(tx, "_column_mapping", real)
        counts[n_files] = len(calls)
    assert counts[2] == counts[12], counts


def test_partition_spec_evolution_laws(spark, tmp_path):
    """Spec evolution is metadata-only; every era prunes under its own
    spec from SOURCE-column predicates; bucket transforms never feed
    range hints; pruning never changes answers; plain appends and
    snapshot reads stay oblivious to partitioning."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(8000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4000).alias("ts_day"),
        (F.col("id") % 7).alias("v"),
    )
    tx.create_table(spark, table, df.filter("k % 2 = 0").repartition(4))
    v_before = tx._versions(table)[-1]
    assert tx.set_partition_spec(table, [("ts_day", "truncate[500]")]) == 0
    assert tx._versions(table)[-1] == v_before  # metadata-only: no commit
    tx.append_partitioned(spark, table, df.filter("k % 4 = 1"))
    assert tx.set_partition_spec(
        table, [("ts_day", "identity"), ("v", "bucket[3]")]
    ) == 1
    tx.append_partitioned(spark, table, df.filter("k % 4 = 3"))

    # logical schema untouched; snapshot equals the plain union
    snap = tx.snapshot(spark, table)
    assert snap.columns == ["k", "ts_day", "v"]
    assert snap.count() == 8000

    # pruning: a tight ts_day range opens fewer files, same answer
    frame, n_cand, n_live = tx.snapshot_pruned(
        spark, table, {"ts_day": (100, 120)}
    )
    assert n_cand < n_live
    got = frame.filter("ts_day between 100 and 120").count()
    want = df.filter("ts_day between 100 and 120").count()
    assert got == want
    # era hints: truncate era prunes via __p_truncate500_ts_day,
    # identity era via __p_identity_ts_day — both stats logged
    _, logged = tx._replay(table)
    stat_cols = {c for s in logged.values() for c in s}
    assert "__p_truncate500_ts_day" in stat_cols
    assert "__p_identity_ts_day" in stat_cols
    # bucket is not order-preserving: no range hint derived from it
    hints = dict(
        (c, (lo, hi))
        for c, lo, hi in tx._derive_partition_hints(
            table, {"ts_day": (100, 120), "v": (1, 2)}
        )
    )
    assert "__p_bucket3_v" not in hints
    assert hints["__p_truncate500_ts_day"] == (0, 0)
    assert hints["__p_identity_ts_day"] == (100, 120)

    # spec'd tables still take plain appends (stat machinery intact)
    tx.append(spark, table, df.filter("k % 2 = 0").limit(0))
    assert tx.snapshot(spark, table).count() == 8000

    # NEGATIVE source values (ADVICE r10): the write side derives
    # truncate with Spark `div` (trunc toward zero: -1 div 500 = 0),
    # so hint bounds must NOT floor (-1 // 500 = -1 would place hi
    # below the file's true stat and prune a file that contains
    # matching rows). Both the scalar law and end-to-end no-row-loss.
    assert tx._trunc_div(-1, 500) == 0
    assert tx._trunc_div(-500, 500) == -1
    assert tx._trunc_div(-501, 500) == -1
    assert tx._trunc_div(499, 500) == 0
    neg_table = str(tmp_path / "neg")
    neg = spark.range(2000).select(
        F.col("id").alias("k"),
        (F.col("id") - 1000).alias("ts_day"),
        (F.col("id") % 7).alias("v"),
    )
    tx.create_table(spark, neg_table, neg.limit(0))
    tx.set_partition_spec(neg_table, [("ts_day", "truncate[500]")])
    tx.append_partitioned(spark, neg_table, neg.repartitionByRange(4, "ts_day"))
    nhints = dict(
        (c, (lo, hi))
        for c, lo, hi in tx._derive_partition_hints(
            neg_table, {"ts_day": (-10, -1)}
        )
    )
    # trunc-toward-zero: both bounds land in derived partition 0,
    # matching what Spark `div` wrote into the files' stats
    assert nhints["__p_truncate500_ts_day"] == (0, 0)
    nframe, n_cand, n_live = tx.snapshot_pruned(
        spark, neg_table, {"ts_day": (-10, -1)}
    )
    ngot = nframe.filter("ts_day between -10 and -1").count()
    assert ngot == 10  # every matching row survived pruning
    assert n_cand <= n_live

    # append_partitioned enforces the SAME write contract as append()
    # (ADVICE r10): a typo'd extra column raises instead of landing as
    # a physically-present, logically-invisible column; a missing
    # column null-fills
    import pytest as _pytest

    with _pytest.raises(tx.SchemaEnforcementError):
        tx.append_partitioned(
            spark, neg_table, neg.withColumn("typod", F.lit(1))
        )
    before_rows = tx.snapshot(spark, neg_table).count()
    tx.append_partitioned(
        spark,
        neg_table,
        spark.createDataFrame([(99999,)], "k bigint"),
    )
    filled = tx.snapshot(spark, neg_table).filter("k = 99999")
    assert filled.count() == 1
    assert filled.collect()[0].ts_day is None  # typed NULL fill
    assert tx.snapshot(spark, neg_table).count() == before_rows + 1


def test_merge_sync_tri_clause(spark, tmp_path):
    """Full MERGE semantics: matched update, unmatched insert,
    not-matched-by-source delete restricted to the scope; NULL scope
    rows are KEPT (SQL semantics)."""
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [
            (1, "a", 10),   # in scope, in source -> update
            (2, "a", 20),   # in scope, NOT in source -> delete
            (3, "b", 30),   # out of scope, not in source -> kept
            (4, None, 40),  # NULL scope -> kept (not TRUE)
        ],
        "k bigint, region string, v bigint",
    )
    tx.create_table(spark, table, base)
    src = spark.createDataFrame(
        [(1, "a", -10), (9, "a", 90)], "k bigint, region string, v bigint"
    )
    v, n_up, n_ins, n_del = tx.merge_sync(
        spark, table, src, ["k"], ["v"], scope="region = 'a'"
    )
    assert (n_up, n_ins, n_del) == (1, 1, 1)
    got = {
        r.k: (r.region, r.v)
        for r in tx.snapshot(spark, table, v).collect()
    }
    assert got == {
        1: ("a", -10),   # updated
        3: ("b", 30),    # out of scope
        4: (None, 40),   # NULL scope kept
        9: ("a", 90),    # inserted
    }
    # scope=None: the source is authoritative for the WHOLE table
    v2, n_up2, n_ins2, n_del2 = tx.merge_sync(
        spark, table, src, ["k"], ["v"]
    )
    assert (n_up2, n_ins2, n_del2) == (2, 0, 2)
    assert {
        r.k for r in tx.snapshot(spark, table, v2).collect()
    } == {1, 9}


def test_merge_sync_m_column_collision(spark, tmp_path):
    """A table that legitimately owns a column named "_m" must not
    collide with merge_sync's internal match-flag helper column."""
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200)], "k bigint, _m bigint, v bigint"
    )
    tx.create_table(spark, table, base)
    src = spark.createDataFrame(
        [(1, 11, -100), (3, 33, 300)], "k bigint, _m bigint, v bigint"
    )
    v, n_up, n_ins, n_del = tx.merge_sync(
        spark, table, src, ["k"], ["_m", "v"]
    )
    assert (n_up, n_ins, n_del) == (1, 1, 1)
    got = {
        r.k: (r._m, r.v) for r in tx.snapshot(spark, table, v).collect()
    }
    assert got == {1: (11, -100), 3: (33, 300)}


def test_purge_deletion_vectors(spark, tmp_path):
    """Purge materializes DVs: answers unchanged, vector state empty,
    only vector-carrying files rewritten, idempotent when clean."""
    import glob
    import os

    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).repartitionByRange(4, "k")
    tx.create_table(spark, table, df, stats_cols=["k"])
    # layered vectors, range-pruned to a subset of files
    tx.delete_where_dv(spark, table, "k % 10 = 1", ("k", 0, 499))
    tx.delete_where_dv(spark, table, "k % 10 = 2", ("k", 0, 499))
    dv_files = set(tx._replay_dvs(table))
    assert dv_files  # vectors exist
    clean = [r for r in tx.live_files(table) if r not in dv_files]
    assert clean  # and some files never saw one
    pre = sorted(map(tuple, tx.snapshot(spark, table).collect()))
    mtimes = {
        r: os.path.getmtime(os.path.join(table, r)) for r in clean
    }
    v, n_files, n_dropped = tx.purge_deletion_vectors(spark, table)
    assert n_files == len(dv_files)
    assert n_dropped == 100  # k in [0,500) with k%10 in (1,2)
    assert not tx._replay_dvs(table)
    assert sorted(map(tuple, tx.snapshot(spark, table).collect())) == pre
    for r in clean:
        assert os.path.getmtime(os.path.join(table, r)) == mtimes[r]
    # clean table: purge is a no-op at the same version
    assert tx.purge_deletion_vectors(spark, table) == (v, 0, 0)


def test_drop_column_metadata_only_and_retirement(spark, tmp_path):
    """DROP COLUMN is a schema action: zero data movement, versioned
    visibility (time travel below the drop sees the column), and the
    retired name can never return through append evolution or rename
    — old files still carry values under it. Chained with RENAME:
    dropping a renamed column retires the PHYSICAL name."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    table = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        (F.col("id") % 7).alias("w"),
    )
    tx.create_table(spark, table, df)
    # rename first: drop must resolve the logical name to physical
    tx.rename_column(spark, table, "v", "val")
    v_before = tx._versions(table)[-1]
    v_drop = tx.drop_column(spark, table, "val")
    assert v_drop == v_before + 1
    assert tx.snapshot(spark, table).columns == ["k", "w"]
    assert tx._retired_columns(table) == {"v"}  # the physical name
    # time travel below the drop (and below the rename)
    assert tx.snapshot(spark, table, v_before).columns == ["k", "val"] or \
        set(tx.snapshot(spark, table, v_before).columns) == {"k", "val", "w"}
    # resurrect guards: physical OR logical reuse refused
    with _pytest.raises(tx.SchemaEnforcementError, match="retired"):
        tx.append(
            spark, table,
            spark.createDataFrame([(1, 2, 3)], "k bigint, w bigint, v bigint"),
            evolve_schema=True,
        )
    with _pytest.raises(ValueError, match="retired"):
        tx.rename_column(spark, table, "w", "v")
    # a FRESH name evolves fine
    tx.append(
        spark, table,
        spark.createDataFrame([(1000, 3, 9)], "k bigint, w bigint, u bigint"),
        evolve_schema=True,
    )
    snap = tx.snapshot(spark, table)
    assert set(snap.columns) == {"k", "w", "u"}
    assert snap.count() == 101
    # dropped values never leak into reads
    assert snap.filter("k < 100").select("u").distinct().collect() == [
        snap.sparkSession.createDataFrame([(None,)], "u bigint").collect()[0]
    ]
    # can't drop the last column / unknown column
    with _pytest.raises(ValueError, match="no column"):
        tx.drop_column(spark, table, "nope")
    t2 = str(tmp_path / "one")
    tx.create_table(spark, t2, spark.range(3).select(F.col("id").alias("x")))
    with _pytest.raises(ValueError, match="only column"):
        tx.drop_column(spark, t2, "x")
