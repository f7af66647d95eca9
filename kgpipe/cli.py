"""spark-submit entry point.

    spark-submit --py-files kgpipe.zip -m ... main: python -m kgpipe.cli \\
        run --pages /data/pages --warehouse /data/wh [--rules RULES] \\
        [--mode lpm|compat] [--parts 4096] [--buckets 1024] [--explain]

Subcommands mirror the reference CLI surface
(/root/reference/cmd/ntto/ntto.go:66-76) where it makes sense:
  convert    — the reference's PRIMARY job: NT file (or '-' stdin) →
               abbreviate → parse → LDJ/NT output
               (ntto [-a] [-j] [-n S] FILE, ntto.go:144-211)
  run        — KG pipeline (extract→link→canonicalize→materialize),
               run as a delta: only unseen urls are extracted and linked;
               `run --explain` prints the extract stage's physical plan
               without running it (ntto -c printed its shell command)
  dump-rules — print the active rule table, sorted (ntto -d)
  compact    — small-file compaction of a warehouse table (atomic
               directory swap; refused on object stores)
`-w`-style parallelism is owned by spark-submit (--master local[N] /
executor count), not by this CLI.

With no --rules flag the reference's built-in 223-rule table applies
(rules.go:3-242), same as ntto.
"""

from __future__ import annotations

import argparse
import sys


def _load_rules(path: str | None) -> str:
    if path:
        with open(path) as f:
            return f.read()
    from kgpipe.nt.default_rules import DEFAULT_RULES_TEXT

    return DEFAULT_RULES_TEXT


def main(argv: list[str] | None = None) -> int:
    import kgpipe

    ap = argparse.ArgumentParser(prog="kgpipe")
    ap.add_argument("--version", action="version", version=kgpipe.__version__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    cv = sub.add_parser("convert", help="NT file → abbreviated LDJ/NT (ntto's primary job)")
    cv.add_argument("input", help="N-Triples file, directory of files, or '-' for stdin")
    cv.add_argument("--out", required=True, help="output directory")
    cv.add_argument("--format", choices=["ldj", "nt"], default="ldj",
                    help="ldj = ntto -j (default); nt = abbreviated N-Triples "
                         "(with --mode compat: byte-compatible ntto -a line "
                         "stream, substituted in place, nothing parsed)")
    cv.add_argument("--no-abbrev", action="store_true",
                    help="parse without prefix rewriting (plain ntto -j)")
    cv.add_argument("--rules", default=None, help="rules file (default: built-in 223)")
    cv.add_argument("--mode", choices=["lpm", "compat"], default="compat",
                    help="compat = reference order (rewrite raw line, then parse)")
    cv.add_argument("--null", default=None,
                    help="null-sentinel shortcut that strips its prefix (ntto -n)")
    cv.add_argument("--strict", action="store_true",
                    help="fail on the first broken line (reference default without -i)")
    cv.add_argument("--single-file", action="store_true",
                    help="write one output part (ntto -o writes a single file; "
                         "forces a coalesce(1) — only for outputs that fit one writer)")
    cv.add_argument("--fragment-bytes", type=int, default=None, metavar="N",
                    help="replay quirk Q8: split lines longer than N into "
                         "N-sized fragments before parsing, like the "
                         "reference's 4096-byte bufio.ReadLine (ntto.go:188-197); "
                         "default keeps whole lines")
    cv.add_argument("--dump-command", action="store_true",
                    help="print the perl pipeline the reference would run for "
                         "this input and rule set, then exit (ntto -c, "
                         "ntto.go:154-157); nothing is executed")
    cv.add_argument("--workers", type=int, default=4, metavar="P",
                    help="rule-partition count for --dump-command (the "
                         "reference's -w, default 4); Spark owns real "
                         "parallelism so this only shapes the dumped command")

    run = sub.add_parser(
        "run", help="run the KG pipeline as a delta over the warehouse: extract and "
                    "link only unseen urls (a fresh warehouse is the first delta)")
    run.add_argument("--pages", required=True, help="parquet dir of pages")
    run.add_argument("--warehouse", required=True)
    run.add_argument("--rules", default=None, help="rules file (default: built-in 223)")
    run.add_argument("--mode", choices=["lpm", "compat"], default="lpm")
    run.add_argument("--null", default="<NULL>",
                     help="null-sentinel shortcut that strips its prefix (ntto -n)")
    run.add_argument("--parts", type=int, default=256)
    run.add_argument("--buckets", type=int, default=64)
    run.add_argument("--no-neardup", action="store_true")
    run.add_argument("--incremental-link", action="store_true",
                     help="accepted and ignored: every run is a delta (kept for "
                          "existing scripts)")
    run.add_argument("--explain", action="store_true", help="print plans, do not execute")

    dr = sub.add_parser("dump-rules", help="print active rules, sorted")
    dr.add_argument("--rules", default=None)

    cp = sub.add_parser("compact", help="small-file compaction of a warehouse table")
    cp.add_argument("--warehouse", required=True)
    cp.add_argument("--table", required=True)
    cp.add_argument("--target-mb", type=int, default=128, help="target file size (MiB)")
    cp.add_argument("--partition-by", default=None,
                    help="comma-separated hive partition columns of the table")

    args = ap.parse_args(argv)

    if args.cmd == "dump-rules":
        from kgpipe.nt.rules import dump_rules, parse_rules

        print(dump_rules(parse_rules(_load_rules(args.rules))))
        return 0

    if args.cmd == "convert" and args.dump_command:
        # ntto -c: print the constructed rewrite command and exit
        # without executing anything (ntto.go:154-157; we print the
        # pipeline itself, not the `> tmpfile` redirect ntto appends)
        from kgpipe.nt.rules import NULL_SENTINEL, parse_rules, sedify

        rules = parse_rules(_load_rules(args.rules))
        null = args.null if args.null is not None else NULL_SENTINEL
        print(sedify(rules, args.workers, "" if args.input == "-" else args.input,
                     null=null))
        return 0

    from pyspark.sql import SparkSession

    from kgpipe.session import get_spark

    # only stop a session this invocation created: embedders (tests,
    # notebooks) keep theirs
    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name=f"kgpipe-{args.cmd}")
    try:
        if args.cmd == "convert":
            import os
            import tempfile

            from pyspark.sql import functions as F

            from kgpipe.convert import convert_nt_lines
            from kgpipe.nt.rules import NULL_SENTINEL, parse_rules
            from kgpipe.operators.sinks import write_ldj, write_nt, write_nt_compat

            path = args.input
            stdin_tmp = None
            if path == "-":
                # stdin is driver-local by nature; spool it so Spark can
                # split it (the file path is the distributable handle).
                # NOTE: a driver-local temp path is only readable by
                # executors in local mode or on a shared filesystem —
                # on a plain cluster, pipe into a distributed path and
                # pass that instead.
                tmp = tempfile.NamedTemporaryFile(
                    "w", suffix=".nt", delete=False, prefix="kgpipe_stdin_"
                )
                tmp.write(sys.stdin.read())
                tmp.close()
                path = stdin_tmp = tmp.name
            try:
                lines = spark.read.text(path)
                rules = parse_rules(_load_rules(args.rules))
                null = args.null if args.null is not None else NULL_SENTINEL
                from pyspark.storagelevel import StorageLevel

                if args.format == "nt" and args.mode == "compat" and not args.no_abbrev:
                    # ntto -a without -j: the output IS the substituted
                    # raw line stream (byte-compatible, nothing parsed)
                    if args.strict:
                        # persist so the strict probe and the sink share
                        # one read of the input
                        lines = lines.persist(StorageLevel.MEMORY_AND_DISK)
                    try:
                        if args.strict:
                            bad = (
                                convert_nt_lines(lines, None, abbreviate=False)
                                .where(F.col("error").isNotNull())
                                .select("error")
                                .first()
                            )
                            if bad is not None:
                                print(f"kgpipe: {bad['error']}", file=sys.stderr)
                                return 1
                        out = lines
                        if args.single_file:
                            out = out.coalesce(1)
                        write_nt_compat(out, rules, args.out, null=null)
                        return 0
                    finally:
                        if args.strict:
                            lines.unpersist(blocking=False)
                triples = convert_nt_lines(
                    lines, rules, mode=args.mode, null=null,
                    abbreviate=not args.no_abbrev,
                    fragment_bytes=args.fragment_bytes,
                )
                if args.strict:
                    # persist so the strict probe and the write share one
                    # computation of the conversion
                    triples = triples.persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    if args.strict:
                        bad = triples.where(F.col("error").isNotNull()).select("error").first()
                        if bad is not None:
                            print(f"kgpipe: {bad['error']}", file=sys.stderr)
                            return 1
                    clean = triples.where(F.col("error").isNull())
                    if args.single_file:
                        clean = clean.coalesce(1)
                    if args.format == "ldj":
                        write_ldj(clean, args.out)
                    else:
                        write_nt(clean, args.out)
                    return 0
                finally:
                    if args.strict:
                        triples.unpersist(blocking=False)
            finally:
                if stdin_tmp is not None:
                    try:
                        os.unlink(stdin_tmp)
                    except OSError:
                        pass

        if args.cmd == "run":
            from kgpipe.pipeline import PipelineConfig, run_pipeline

            pages = spark.read.parquet(args.pages)
            cfg = PipelineConfig(
                warehouse=args.warehouse,
                rules_text=_load_rules(args.rules),
                mode=args.mode,
                null_shortcut=args.null,
                n_parts=args.parts,
                n_buckets=args.buckets,
                neardup_link=not args.no_neardup,
            )
            if args.explain:
                # the extract stage's own operator, on every page
                from kgpipe.checkpoints import with_part_id
                from kgpipe.nt.rules import parse_rules
                from kgpipe.operators.fused import fused_extract_parse_abbrev

                fused_extract_parse_abbrev(
                    with_part_id(pages.select("url", "html"), "url", cfg.n_parts),
                    parse_rules(cfg.rules_text), mode=cfg.mode, null=cfg.null_shortcut,
                ).explain("formatted")
                return 0
            res = run_pipeline(spark, pages, cfg)
            print({"counters": res.counters})
            return 0

        if args.cmd == "compact":
            from kgpipe.io import TableIO

            io = TableIO(spark, args.warehouse)
            n = io.compact(
                args.table,
                target_file_bytes=args.target_mb << 20,
                partition_by=args.partition_by.split(",") if args.partition_by else None,
            )
            print({"table": args.table, "target_files": n})
            return 0
    finally:
        if not pre_existing:
            spark.stop()
    return 1


if __name__ == "__main__":
    sys.exit(main())
