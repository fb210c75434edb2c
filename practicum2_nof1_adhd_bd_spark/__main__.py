"""Engine CLI — the reference's per-stage module CLIs re-expressed.

Reference entry points (SURVEY.md §3.2-3.3): every pipeline stage is a
``python -m`` CLI (`stage_csv_aggregation.py:1294-1308`,
`stage_unify_daily.py:539-555`, `stage_apply_labels.py:293-308`) and the
Makefile's ``qc-*`` targets gate CI on `etl_audit.py`'s exit code. Here
the uniform surface is the query registry:

    python -m practicum2_nof1_adhd_bd_spark list [substring]
    python -m practicum2_nof1_adhd_bd_spark run <query> [--sf-dir D]
        [--limit N] [--out PARQUET_DIR] [--explain]
    python -m practicum2_nof1_adhd_bd_spark audit [--sf-dir D]
    python -m practicum2_nof1_adhd_bd_spark pipeline ...  (medallion CLI)
    python -m practicum2_nof1_adhd_bd_spark ann build --index DIR
        [--sf-dir D] [--n-bits B]           (bucket-partitioned artifact)
    python -m practicum2_nof1_adhd_bd_spark ann query --index DIR
        --vector=0.1,-0.2,... [--k K] [--probe-hamming d]  (pruned probe)

``run`` prints the first rows (or writes parquet with --out); ``audit``
runs the full ETL audit battery and exits with the reference's severity
code (2 CRITICAL / 1 WARNING / 0 OK) so schedulers can gate on it. On a
cluster the same module is the ``spark-submit`` payload — the session
factory only builds a local master when none is configured.
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="practicum2_nof1_adhd_bd_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registered queries")
    p_list.add_argument("filter", nargs="?", default="")

    p_run = sub.add_parser("run", help="run one registered query")
    p_run.add_argument("query")
    p_run.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument("--out", default=None, help="write parquet here instead of printing")
    p_run.add_argument("--explain", action="store_true")

    p_audit = sub.add_parser("audit", help="ETL audit battery; exit code = severity")
    p_audit.add_argument("--sf-dir", default=DEFAULT_SF_DIR)

    sub.add_parser("pipeline", add_help=False)

    p_ann = sub.add_parser(
        "ann", help="vector-index serving: build / query the partitioned artifact"
    )
    p_ann.add_argument("action", choices=["build", "query"])
    p_ann.add_argument("--index", required=True, help="artifact directory")
    p_ann.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    p_ann.add_argument("--n-bits", type=int, default=4)
    p_ann.add_argument("--vector", default=None,
                       help="comma-separated query components")
    p_ann.add_argument("--k", type=int, default=10)
    p_ann.add_argument("--probe-hamming", type=int, default=0)

    args, rest = ap.parse_known_args(argv)

    if args.cmd == "pipeline":
        from .pipeline import main as pipeline_main

        return pipeline_main(rest) or 0

    from . import registry

    if args.cmd == "list":
        for name in registry.QUERIES:
            if args.filter in name:
                oracle = "oracle" if name in registry.ORACLES else "rows-only"
                print(f"{name}\t{oracle}")
        return 0

    if args.cmd == "run" and args.query not in registry.QUERIES:
        print(f"unknown query: {args.query} (try `list`)", file=sys.stderr)
        return 2

    from .session import get_spark

    spark = get_spark("engine-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "ann":
        from .operators import similarity as sim
        from .sources.readers import Catalog

        if args.action == "build":
            emb = Catalog(spark, args.sf_dir).embeddings
            sim.write_vector_index(emb, args.index, n_bits=args.n_bits)
            print(f"wrote bucket-partitioned int8 index at {args.index}")
            return 0
        if not args.vector:
            print("ann query needs --vector", file=sys.stderr)
            return 2
        qvec = [float(x) for x in args.vector.split(",")]
        sim.query_vector_index(
            spark, args.index, qvec, k=args.k,
            n_bits=args.n_bits, probe_hamming=args.probe_hamming,
        ).show(args.k, truncate=False)
        return 0

    if args.cmd == "audit":
        from .operators.audit import audit_exit_code

        report = registry.QUERIES["etl_audit_report"](spark, args.sf_dir)
        for r in report.collect():
            print(f"{r['severity']:8s} {r['check_name']:32s} "
                  f"metric={r['metric']} threshold={r['threshold']}")
        return audit_exit_code(report)

    df = registry.QUERIES[args.query](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
