"""CLI entry point (reference osarchiver/main.py:17-56 shape):

    python -m osarchiver_spark --config archiver.ini [--dry-run]
        [--log-level info] [--log-file path] [--debug]

Each enabled ``[archiver:*]`` section runs as one Archiver over its
parquet catalog; results print per table. Exit code 1 if any table
recorded an error (run continues across tables either way — the
per-table isolation contract)."""

from __future__ import annotations

import argparse
import logging
import os
import sys

from osarchiver_spark import storage
from osarchiver_spark.operators.archive import Archiver
from osarchiver_spark.plans.config import load_config
from osarchiver_spark.session import get_spark


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(prog="osarchiver_spark")

    def file_exists(one_file: str) -> str:
        if not os.path.exists(one_file):
            raise argparse.ArgumentTypeError(f"{one_file} no such file")
        return one_file

    parser.add_argument("--config", type=file_exists,
                        help="INI configuration file to read")
    parser.add_argument("--explain", default=None, metavar="QUERY",
                        help="Print the optimized physical plan of a registry "
                             "query (by name; 'all' lists names) against "
                             "--sf-dir, without executing it")
    parser.add_argument("--run", default=None, metavar="QUERY",
                        help="Execute a registry query (by name) against "
                             "--sf-dir; prints --limit rows, or writes the "
                             "full result as parquet when --out is given")
    parser.add_argument("--out", default=None, metavar="PATH",
                        help="With --run: write the result dataset here "
                             "(parquet) instead of printing")
    parser.add_argument("--limit", type=int, default=20,
                        help="With --run and no --out: rows to print")
    parser.add_argument("--export-training-set", default=None, metavar="OUT",
                        help="Run the full corpus build (gate + near-dup "
                             "removal + leakage-free split) over --sf-dir and "
                             "write gzip JSONL shards per split + a manifest "
                             "under OUT")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                        help="Scale-factor directory --explain/--run/"
                             "--export-training-set use")
    parser.add_argument("--log-file", default=None, help="Append log to the specified file")
    parser.add_argument("--log-level", choices=["info", "warn", "error", "debug"],
                        default="info", help="Set log level")
    parser.add_argument("--debug", action="store_true", default=False)
    parser.add_argument("--dry-run", action="store_true", default=False,
                        help="Display what would be done without deleting or writing data")
    args = parser.parse_args(argv)
    if args.debug:
        args.log_level = "debug"
    return args


def configure_logger(level: str = "info", log_file: str | None = None) -> None:
    logger = logging.getLogger()
    for h in list(logger.handlers):  # re-entrant (tests, repeated runs)
        logger.removeHandler(h)
    logger.setLevel(getattr(logging, "WARNING" if level == "warn" else level.upper()))
    formatter = logging.Formatter(fmt="%(asctime)s %(levelname)s: %(message)s")
    handler = logging.StreamHandler(stream=sys.stdout)
    handler.setFormatter(formatter)
    logger.addHandler(handler)
    if log_file is not None:
        fh = logging.FileHandler(filename=log_file, encoding="utf-8")
        fh.setFormatter(formatter)
        logger.addHandler(fh)


def explain_query(name: str, sf_dir: str) -> int:
    """Plan transparency: print the Catalyst-optimized plan of any
    registry query (the .explain('formatted') a reviewer would run) —
    no execution, no output files."""
    from osarchiver_spark.queries import all_queries

    registry = all_queries()
    if name == "all":
        print("\n".join(sorted(registry)))
        return 0
    if name not in registry:
        logging.error("unknown query %r (try --explain all)", name)
        return 1
    spark = get_spark("osarchiver_spark_explain")
    registry[name](spark, sf_dir).explain("formatted")
    return 0


def run_query(name: str, sf_dir: str, out: str | None, limit: int) -> int:
    """Execute one registry query end-to-end — the ad-hoc entry for
    a user who wants a single analytic over a table directory without
    writing a config."""
    from osarchiver_spark.queries import all_queries

    registry = all_queries()
    if name not in registry:
        logging.error("unknown query %r (try --explain all)", name)
        return 1
    spark = get_spark("osarchiver_spark_run")
    df = registry[name](spark, sf_dir)
    if out:
        df.write.mode("overwrite").parquet(out)
        logging.info("wrote %s rows to %s", storage.read_parquet(spark, out).count(), out)
    else:
        df.show(limit, truncate=False)
    return 0


def run(argv: list[str] | None = None) -> int:
    """CLI entry. The root logger's handlers and level are restored on
    return, so a host process (a test, a notebook) keeps its own
    logging rather than one bound to a stream that may close."""
    root = logging.getLogger()
    handlers, level = root.handlers[:], root.level
    try:
        return _run(parse_args(argv))
    finally:
        for h in root.handlers:
            if h not in handlers:
                h.close()
        root.handlers[:] = handlers
        root.setLevel(level)


def _run(args: argparse.Namespace) -> int:
    configure_logger(args.log_level, args.log_file)
    if args.explain:
        return explain_query(args.explain, args.sf_dir)
    if args.run:
        return run_query(args.run, args.sf_dir, args.out, args.limit)
    if args.export_training_set:
        from osarchiver_spark.operators.export import export_training_set

        spark = get_spark("osarchiver_spark_export")
        manifest = export_training_set(spark, args.sf_dir, args.export_training_set)
        for r in manifest.orderBy("split").collect():
            logging.info("%s: %d docs, %d tokens", r.split, r.n_docs, r.n_tokens)
        return 0
    if not args.config:
        logging.error("--config is required (or use --explain)")
        return 2
    archivers = load_config(path=args.config, dry_run=args.dry_run)
    if not archivers:
        logging.warning("no enabled [archiver:*] sections in %s", args.config)
        return 0
    spark = get_spark("osarchiver_spark_cli")
    rc = 0
    for configured in archivers:
        logging.info("running archiver %s (src %s)", configured.name, configured.src_name)
        archiver = Archiver(configured.spec, configured.sinks, watermarks=configured.watermarks())
        results = archiver.run(configured.dataframes(spark))
        for r in results:
            if r.error:
                rc = 1
                logging.error("%s.%s FAILED: %s", configured.name, r.table, r.error)
            else:
                logging.info(
                    "%s.%s archived=%d remaining=%s%s",
                    configured.name, r.table, r.archived_rows, r.remaining_rows,
                    " (dry run)" if r.dry_run else "",
                )
    return rc


if __name__ == "__main__":
    sys.exit(run())
