"""CLI — the engine's answer to the reference's argparse entry points.

The reference is driven as ``python src/etl/ingest_*.py --state co
--species elk`` (SURVEY §3 EP1/EP2); this engine's whole surface is the
query registry, so the CLI exposes it directly:

    python -m bow_hunter_pipeline_spark list [--prefix h6]
    python -m bow_hunter_pipeline_spark run h1_minhash_lsh_pairs \\
        [--sf-dir /root/testdata/sf0.01] [--limit 20]
    python -m bow_hunter_pipeline_spark explain g2_revenue_by_nation

``run`` prints the result as Spark's tabular show() plus a row count;
``explain`` prints the formatted physical plan (the 100 TB design
review surface). Exit code 2 for unknown query names.
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="bow_hunter_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("--prefix", default="", help="name prefix filter")

    for cmd, help_text in (
        ("run", "execute a query and print rows"),
        ("explain", "print a query's formatted physical plan"),
    ):
        s = sub.add_parser(cmd, help=help_text)
        s.add_argument("name", help="registry query name")
        s.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
        if cmd == "run":
            s.add_argument("--limit", type=int, default=20)

    # table-maintenance commands over the commit-log table (the
    # delta-cli workflow: inspect history, reclaim space, recluster,
    # roll back) — each takes the table path
    p_tx = sub.add_parser("tx", help="commit-log table maintenance")
    tx_sub = p_tx.add_subparsers(dest="tx_cmd", required=True)
    t_hist = tx_sub.add_parser("history", help="DESCRIBE HISTORY")
    t_hist.add_argument("table")
    t_vac = tx_sub.add_parser("vacuum", help="delete unreferenced files")
    t_vac.add_argument("table")
    t_vac.add_argument("--keep-versions", type=int, default=1)
    t_opt = tx_sub.add_parser("optimize", help="compact the live set")
    t_opt.add_argument("table")
    t_opt.add_argument("--target-files", type=int, default=1)
    t_opt.add_argument(
        "--zorder-by", default=None,
        help="comma-separated column pair for Morton clustering",
    )
    t_res = tx_sub.add_parser("restore", help="roll back to a version")
    t_res.add_argument("table")
    t_res.add_argument("version", type=int)
    t_man = tx_sub.add_parser(
        "manifest", help="export a symlink-format manifest"
    )
    t_man.add_argument("table")
    t_man.add_argument("--version", type=int, default=None)
    t_blm = tx_sub.add_parser(
        "bloom", help="build a per-file bloom file-skip index"
    )
    t_blm.add_argument("table")
    t_blm.add_argument("column")
    t_blm.add_argument("--version", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.cmd == "tx":
        from bow_hunter_pipeline_spark import warehouse_tx as tx
        from bow_hunter_pipeline_spark.session import get_spark

        if args.tx_cmd == "history":
            for h in tx.history(args.table):
                print(h)
            return 0
        spark = get_spark()
        if args.tx_cmd == "vacuum":
            n = tx.vacuum(spark, args.table, keep_versions=args.keep_versions)
            print(f"vacuumed {n} file(s)")
        elif args.tx_cmd == "optimize":
            if args.zorder_by:
                cols = [c.strip() for c in args.zorder_by.split(",")]
                v = tx.optimize_zorder(
                    spark, args.table, cols, target_files=args.target_files
                )
                print(f"z-ordered on {cols} as version {v}")
            else:
                v = tx.compact(
                    spark, args.table, target_files=args.target_files
                )
                print(f"compacted as version {v}")
        elif args.tx_cmd == "restore":
            v = tx.restore(spark, args.table, args.version)
            print(f"restored to version {args.version} as version {v}")
        elif args.tx_cmd == "manifest":
            path = tx.generate_manifest(args.table, args.version)
            print(f"manifest at {path}")
        elif args.tx_cmd == "bloom":
            path = tx.build_bloom_index_table(
                spark, args.table, args.column, args.version
            )
            print(f"bloom index at {path}")
        return 0

    from bow_hunter_pipeline_spark import registry

    queries = registry.queries()
    if args.cmd == "list":
        for name in queries:
            if name.startswith(args.prefix):
                print(name)
        return 0

    if args.name not in queries:
        print(f"unknown query: {args.name!r} (see `list`)", file=sys.stderr)
        return 2

    from bow_hunter_pipeline_spark.session import get_spark

    spark = get_spark()
    df = queries[args.name](spark, args.sf_dir)
    if args.cmd == "explain":
        df.explain("formatted")
        return 0
    df.show(args.limit, truncate=False)
    print(f"[{args.name}] {df.count()} rows @ {args.sf_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
