"""Command-line entry points — parity with the reference's 4-command
CLI (reference src/main.rs:77-87, dispatch :353-358).

    python -m smart_contract_database_builder_spark.cli pre-process \
        --contracts-root DIR --db-file out.duckdb [--etherscan] \
        [--chunk-size N] [--ignore-errors]
    python -m smart_contract_database_builder_spark.cli index-functions \
        --db-file out.duckdb [--chunk-size N]
    python -m smart_contract_database_builder_spark.cli export-source \
        --db-file out.duckdb --contract-id ID --output-folder DIR
    python -m smart_contract_database_builder_spark.cli download-solc

Mapping to the reference:
- ``pre-process`` ≙ main.rs:170-258 — walk a contract tree (fiesta
  folder layout, or Etherscan JSON dumps with ``--etherscan``), parse,
  content-address, dedup, bulk-load into DuckDB. Both layouts parse to
  one processing shape (id, contract_name, metadata, source_type,
  files) and store through ``sinks.duckdb_sink.store_contracts``, which
  encodes the reference's tagged union; every dump of an address keeps
  its own row. ``--chunk-size`` becomes the scan's split budget for
  that command (Spark streams partitions; the reference chunked to
  bound RAM). ``--ignore-errors`` keeps the lenient parse fallbacks.
  Strict mode (the default) fails with exit code 1 on a malformed
  metadata.json or contract.json in an ingested dir, or a malformed
  Etherscan dump. The checks run at the staging load: per-dir flags
  are written with the rows in the one write job, and the sink's
  loader checks them before it opens the DuckDB file, so a failed run
  inserts nothing.
- ``index-functions`` ≙ main.rs:261-331 — read stored contracts back,
  decode them to files (``sinks.duckdb_sink.contract_files``), run the
  extraction stage (solc when available, the built-in scanner
  otherwise), store function rows.
- ``export-source`` ≙ main.rs:353-358 + plain_contract.rs:528-535 —
  read-only point lookup + sanitized file writes.
- ``download-solc`` ≙ utils.rs:29-48 — solc bootstrap, gated on
  py-solc-x.
"""

from __future__ import annotations

import argparse
import contextlib
import sys

from pyspark.sql import SparkSession


def _spark() -> SparkSession:
    from .session import get_spark

    return get_spark(app_name="scdb-cli")


@contextlib.contextmanager
def _split_budget(spark: SparkSession, chunk_size: int):
    """``--chunk-size`` for one command: the reference bounds rows held
    in RAM per chunk (main.rs:170-258); Spark's analogue is the scan
    split budget, which bounds bytes per task up front instead of
    paying a full extra pass over the corpus (df.count()) just to
    derive a partition number. ~16 KiB approximates a verified-contract
    bundle; the 1 MiB floor keeps splits sane for tiny chunk sizes. The
    session's prior value is restored on exit, so later reads in the
    same session keep their own split size."""
    if not chunk_size:
        yield
        return
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(max(chunk_size * 16 * 1024, 1 << 20)))
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def cmd_pre_process(args: argparse.Namespace) -> int:
    from .sinks import duckdb_sink as sink

    spark = _spark()
    with _split_budget(spark, args.chunk_size):
        try:
            n = _pre_process(spark, args)
        except sink.MalformedInput as exc:
            # strict default ≙ the reference's panic on malformed input
            # (main.rs:107); nothing was inserted
            print(exc, file=sys.stderr)
            return 1
    print(f"stored {n} new contracts into {args.db_file}")
    return 0


def _pre_process(spark: SparkSession, args: argparse.Namespace) -> int:
    """Scan, parse and store one tree in a single write job. Both
    layouts parse to the same processing shape and store through
    ``sinks.duckdb_sink.store_contracts``. In strict mode (no
    ``--ignore-errors``) the corrupt-JSON checks are flag columns of
    that job, checked by the sink's loader before it opens the target;
    no separate probe job runs."""
    from pyspark.sql import functions as F

    from .sinks import duckdb_sink as sink
    from .sources import contracts as C

    strict = not args.ignore_errors
    checks = []
    if args.etherscan:
        raw = C.read_etherscan_files(spark, args.contracts_root)
        if strict:
            raw = raw.withColumn(
                "bad_dump", F.when(C.corrupt_json("content"), F.col("address"))
            )
            checks = [(
                "bad_dump",
                "malformed Etherscan dump for address {!r} "
                "(use --ignore-errors to fall back to raw-source parse)",
            )]
        parsed = C.parse_etherscan_contracts(raw)
        if not strict:
            # a dump that does not parse has no SourceCode, hence no id:
            # skip it, as the folder path skips malformed dirs
            parsed = parsed.filter(F.col("id").isNotNull())
        return sink.store_contracts(parsed, args.db_file, checks)
    files = C.read_contract_files(spark, args.contracts_root)
    parsed = C.parse_folder_contracts(files)
    if strict:
        # Checked per ingested dir, so only dirs with metadata.json
        # (the reference reads only those, main.rs:96-104). A corrupt
        # standard-json CONTAINER would otherwise pass and only surface
        # at index-functions time as silently-zero function rows (the
        # sources explode yields null); the reference errors at its
        # serde parse (plain_contract.rs get_source_files).
        container = F.try_element_at("files", F.lit(1))["content"]
        parsed = parsed.withColumns({
            "bad_metadata": F.when(C.corrupt_json("metadata"), F.col("dir")),
            "bad_contract_json": F.when(
                (F.col("source_type") == "json") & C.corrupt_json(container),
                F.col("dir"),
            ),
        })
        # priority order: the metadata message wins when both are corrupt
        checks = [
            ("bad_metadata",
             "malformed metadata.json under {!r} "
             "(use --ignore-errors to skip malformed dirs)"),
            ("bad_contract_json",
             "malformed contract.json under {!r} "
             "(use --ignore-errors to treat it as raw source)"),
        ]
    return sink.store_contracts(parsed, args.db_file, checks)


def cmd_index_functions(args: argparse.Namespace) -> int:
    from .sinks import duckdb_sink as sink
    from .compilestage import stage

    spark = _spark()
    contracts = sink.read_contracts(spark, args.db_file)
    if contracts.rdd.getNumPartitions() == 0:
        # an empty table; staging no rows would still start a task
        print(f"stored 0 new functions into {args.db_file}")
        return 0
    processing = sink.contract_files(contracts)
    if args.chunk_size:
        # partition count from the sink's own (local, instant) count of
        # the rows the stage extracts (vyper ones are filtered out) —
        # never a Spark job over the parse pipeline
        import duckdb

        con = duckdb.connect(args.db_file, read_only=True)
        try:
            n_rows = con.execute(
                "SELECT COUNT(*) FROM contract WHERE source_type <> 'vyper'"
            ).fetchone()[0]
        finally:
            con.close()
        processing = processing.repartition(
            max(1, -(-n_rows // args.chunk_size))
        )
    fns = stage.extract_functions(processing)
    n = sink.store_functions(fns, args.db_file)
    print(f"stored {n} new functions into {args.db_file}")
    return 0


def cmd_export_source(args: argparse.Namespace) -> int:
    from .sinks.duckdb_sink import export_source_code

    written = export_source_code(args.db_file, args.contract_id, args.output_folder)
    if not written:
        print(f"contract {args.contract_id} not found", file=sys.stderr)
        return 1
    for path in written:
        print(path)
    return 0


def cmd_curate(args: argparse.Namespace) -> int:
    """EXT beyond the reference CLI: run the corpus-curation pipeline
    (quality → dedup → decontamination → mix) over a documents corpus
    and export the survivors as sorted training shards.

    Input: a parquet documents table (the testdata schema) or a JSONL
    corpus (``--jsonl``; malformed lines are dropped with a warning
    unless strict parquet-style parsing is wanted upstream).
    """
    import json as _json

    from pyspark.sql import functions as F

    from .plans.llm_ops import (
        curate_documents,
        interleave_order,
        training_order,
    )
    from .schemas import TESTDATA_SCHEMAS
    from .sinks.corpus import write_training_shards

    spark = _spark()
    if args.jsonl:
        from .sources.documents import read_documents_jsonl

        raw = read_documents_jsonl(spark, args.documents)
        n_bad = raw.filter(
            F.col("_corrupt").isNotNull() | F.col("doc_id").isNull()
        ).select("doc_id").count()
        if n_bad:
            print(f"dropping {n_bad} malformed line(s)", file=sys.stderr)
        # the filter must match the report above: a valid-JSON line
        # missing doc_id is as unusable as a corrupt one, and letting it
        # through would only vanish later inside joins on the null key
        docs = raw.filter(
            F.col("_corrupt").isNull() & F.col("doc_id").isNotNull()
        ).drop("_corrupt")
    else:
        docs = spark.read.schema(TESTDATA_SCHEMAS["documents"]).parquet(
            args.documents
        )
    band = None
    if args.min_flesch is not None or args.max_flesch is not None:
        band = (
            args.min_flesch if args.min_flesch is not None else -1e9,
            args.max_flesch if args.max_flesch is not None else 1e9,
        )
    kept = curate_documents(docs, readability_band=band)
    if getattr(args, "order", "shuffle") == "interleave":
        order = interleave_order(kept, n_shards=args.shards)
    else:
        order = training_order(kept, n_shards=args.shards)
    payload = kept.join(
        docs.select("doc_id", "text"), "doc_id"
    ).join(order, "doc_id")
    write_training_shards(payload, args.output)
    stats = kept.agg(
        F.count(F.lit(1)).alias("docs"), F.sum("n_tok").alias("tokens")
    ).collect()[0]
    print(
        _json.dumps(
            {
                "kept_docs": stats.docs,
                "kept_tokens": int(stats.tokens or 0),
                "shards": args.shards,
                "output": args.output,
            }
        )
    )
    return 0


def cmd_analyze(args: argparse.Namespace) -> int:
    """EXT beyond the reference CLI: one-command corpus PROFILE — the
    reports a curation team reads before setting thresholds, composed
    from the registered (oracle-verified) report operators and emitted
    as one JSON object: per-language length quartiles/token budget,
    per-source exact-duplicate rates, corpus entropy/surprisal
    envelopes, Gopher-filter pass rate, and funnel-free global counts.

    Every collected relation is an O(languages)/O(sources)/O(1)
    aggregate — the corpus-sized work all happens distributed; the
    driver only receives report rows.
    """
    import json as _json

    from pyspark.sql import functions as F

    spark = _spark()
    sfd = args.sf_dir
    scratch = None
    if getattr(args, "jsonl", None):
        # JSONL corpora profile through the SAME oracle-verified report
        # queries: parse once, materialize as a documents.parquet layout
        # in a scratch dir, and point the registry at it. One extra
        # write of the corpus — the price of reusing verified plans
        # verbatim instead of maintaining a parallel report path. The
        # scratch copy is removed once the report rows are collected.
        import tempfile

        from .sources.documents import read_documents_jsonl

        raw = read_documents_jsonl(spark, args.jsonl)
        docs = raw.filter(
            F.col("_corrupt").isNull() & F.col("doc_id").isNotNull()
        ).drop("_corrupt")
        scratch = tempfile.mkdtemp(prefix="analyze_jsonl_")
        sfd = scratch
        docs.write.mode("overwrite").parquet(f"{sfd}/documents.parquet")

    try:
        report = _analyze_report(spark, sfd)
    finally:
        if scratch is not None:
            import shutil

            shutil.rmtree(scratch, ignore_errors=True)
    print(_json.dumps(report, default=str))
    return 0


def _analyze_report(spark, sfd: str) -> dict:
    """Collect the corpus-profile report rows (all O(report)-sized)."""
    from pyspark.sql import functions as F

    from .plans import QUERIES

    length_rows = [
        r.asDict() for r in QUERIES["llm_corpus_length_report"].fn(spark, sfd).collect()
    ]
    dup_rows = [
        r.asDict() for r in QUERIES["llm_dedup_rate_by_source"].fn(spark, sfd).collect()
    ]
    ent = (
        QUERIES["llm_token_entropy"].fn(spark, sfd)
        .agg(
            F.min("entropy_nats").alias("lo"),
            F.avg("entropy_nats").alias("mean"),
            F.max("entropy_nats").alias("hi"),
        )
        .collect()[0]
    )
    sup = (
        QUERIES["llm_unigram_surprisal"].fn(spark, sfd)
        .agg(
            F.min("avg_surprisal_nats").alias("lo"),
            F.avg("avg_surprisal_nats").alias("mean"),
            F.max("avg_surprisal_nats").alias("hi"),
        )
        .collect()[0]
    )
    gopher = (
        QUERIES["llm_gopher_quality_filter"].fn(spark, sfd)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .collect()[0]
    )
    return {
        "length_by_lang": length_rows,
        "dup_rate_by_source": dup_rows,
        "entropy_nats": {"min": ent.lo, "mean": ent.mean, "max": ent.hi},
        "surprisal_nats": {"min": sup.lo, "mean": sup.mean, "max": sup.hi},
        "gopher": {
            "docs": gopher.n,
            "kept": int(gopher.kept or 0),
            "pass_rate": (int(gopher.kept or 0) / gopher.n)
            if gopher.n
            else None,
        },
    }


def cmd_download_solc(_args: argparse.Namespace) -> int:
    try:
        import solcx  # type: ignore
    except ImportError:
        print(
            "py-solc-x is not installed; the extraction stage uses the "
            "built-in Solidity scanner instead",
            file=sys.stderr,
        )
        return 1
    for version in solcx.get_installable_solc_versions():  # pragma: no cover
        solcx.install_solc(version)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="smart-contract-database-builder-spark")
    sub = p.add_subparsers(dest="command", required=True)

    pp = sub.add_parser("pre-process", help="ingest a contract tree into DuckDB")
    pp.add_argument("--contracts-root", required=True)
    pp.add_argument("--db-file", required=True)
    pp.add_argument("--etherscan", action="store_true")
    pp.add_argument("--chunk-size", type=int, default=0)
    pp.add_argument("--ignore-errors", action="store_true")
    pp.set_defaults(fn=cmd_pre_process)

    ix = sub.add_parser("index-functions", help="extract function rows")
    ix.add_argument("--db-file", required=True)
    ix.add_argument("--chunk-size", type=int, default=0)
    ix.set_defaults(fn=cmd_index_functions)

    ex = sub.add_parser("export-source", help="write a contract's files to disk")
    ex.add_argument("--db-file", required=True)
    ex.add_argument("--contract-id", required=True)
    ex.add_argument("--output-folder", required=True)
    ex.set_defaults(fn=cmd_export_source)

    dl = sub.add_parser("download-solc", help="install solc binaries (solcx)")
    dl.set_defaults(fn=cmd_download_solc)

    cu = sub.add_parser(
        "curate", help="curate a documents corpus into training shards"
    )
    cu.add_argument("--documents", required=True,
                    help="documents parquet path, or JSONL with --jsonl")
    cu.add_argument("--output", required=True)
    cu.add_argument("--shards", type=int, default=8)
    cu.add_argument("--jsonl", action="store_true")
    cu.add_argument(
        "--order", choices=("shuffle", "interleave"), default="shuffle",
        help="training order: seeded shuffle (default) or "
             "source-interleaved round-robin",
    )
    cu.add_argument(
        "--min-flesch", type=float, default=None,
        help="optional readability floor (Flesch reading ease): docs "
             "below it are dropped in the quality stage",
    )
    cu.add_argument(
        "--max-flesch", type=float, default=None,
        help="optional readability ceiling (drops word-salad extremes)",
    )
    cu.set_defaults(fn=cmd_curate)

    an = sub.add_parser(
        "analyze", help="emit a one-JSON corpus profile (reports family)"
    )
    an_src = an.add_mutually_exclusive_group(required=True)
    an_src.add_argument("--sf-dir",
                        help="directory holding documents.parquet "
                             "(testdata layout)")
    an_src.add_argument("--jsonl",
                        help="profile a JSONL corpus instead of --sf-dir")
    an.set_defaults(fn=cmd_analyze)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
