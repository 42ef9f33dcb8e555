"""DuckDB sink — staged-parquet, single-writer (SURVEY.md S7-S11).

The reference stores into an embedded DuckDB with conflict-ignoring
inserts (reference src/db.rs:149-234), DDL bootstrap (db.rs:52-91), and
checkpoint pragmas around bulk loads (db.rs:94-105). DuckDB allows
exactly ONE writing process, so every Spark → DuckDB hand-off in the
engine is the one loader of this module, ``staged_load``:

    df.write.parquet(staging)          # distributed, all executors
    → staged = read_parquet(staging/*) # a relation, never SQL text
    → strict checks over ``staged``    # before the target is opened
    → one driver-side DuckDB connection to the target:
        PRAGMA disable_checkpoint_on_shutdown
        setup DDL
        BEGIN; [epoch ledger check]; INSERT … FROM staged;
               [ledger row]; COMMIT
        PRAGMA enable_checkpoint_on_shutdown

Never concurrent JDBC appends — the loader is the serialization point.
Its callers only bring their DDL and insert SQL:

- ``store_contracts`` / ``store_functions``: ``INSERT OR IGNORE``,
  which reproduces the reference's id-dedup exactly. Strict-mode input
  checks ride along in the same write: the staged rows carry flag
  columns, and the loader reads them before it opens the target, so a
  strict ingest costs no Spark job beyond the write and a failed one
  creates no file.
- ``streaming_duckdb.exactly_once_upsert`` and ``rollup.refresh_rollup``
  pass an epoch id: the loader keeps the ``_stream_ledger`` table of
  committed (table, epoch) pairs, skips an epoch it has seen, and writes
  the ledger row in the insert's transaction, so a replayed micro-batch
  is a no-op and a crash mid-write leaves neither.

The storage schema is byte-compatible with the reference's DDL: nested
shapes (metadata, the ContractSource tagged union) serialize to JSON
strings at this boundary only (SURVEY.md §1.2). The union is encoded by
``contracts_storage_shape`` and decoded by ``contract_files``, both
below; no other module knows its variant names.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Sequence

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import STANDARD_JSON_SOURCES_SCHEMA

#: Reference DDL (src/db.rs:59-88), IF NOT EXISTS like the reference's
#: ignored-error bootstrap.
DDL = """
CREATE TYPE source_type_enum AS ENUM ('json', 'vyper', 'single_sol', 'multi_sol');
CREATE TABLE IF NOT EXISTS contract (
    id STRING PRIMARY KEY,
    name STRING,
    metadata STRING,
    source STRING,
    source_type source_type_enum
);
CREATE TABLE IF NOT EXISTS function (
    id STRING PRIMARY KEY,
    contract_id STRING,
    contract_name STRING,
    function_name STRING,
    filename STRING,
    signature STRING,
    selector STRING,
    source_code STRING
);
CREATE INDEX IF NOT EXISTS idx_function_composite
    ON function (contract_id, selector, signature);
"""

#: Epoch ledger of the loader: (sink_table, batch_id) is the commit
#: token, ``n_rows`` the rows that epoch inserted.
_LEDGER_DDL = """
CREATE TABLE IF NOT EXISTS _stream_ledger (
    sink_table VARCHAR,
    batch_id BIGINT,
    n_rows BIGINT,
    PRIMARY KEY (sink_table, batch_id)
);
"""


class MalformedInput(ValueError):
    """A strict-mode flag was set in the staged rows; nothing was
    inserted."""


def connect(db_path: str) -> duckdb.DuckDBPyConnection:
    """S9: open + bootstrap the schema (create-if-not-exists semantics,
    matching the reference's ignored DDL errors, db.rs:89)."""
    con = duckdb.connect(db_path)
    try:
        con.execute(DDL)
    except duckdb.CatalogException:
        pass  # enum already exists on reopen — same idempotence as reference
    return con


def dedup_by_id(df: DataFrame, flags: Sequence[str] = ()) -> DataFrame:
    """One row per ``id``: the least row of its id group, compared on
    the non-flag columns in order. Twins share an id but differ in
    content (a whitespace-variant dir), and the least row is the same
    under any partitioning or arrival order, where a first-value pick
    is not. Each flag column is ``min()``-ed over the group on its own,
    so a row flagged by a strict check is never dropped in favour of a
    healthy twin."""
    rest = [c for c in df.columns if c != "id" and c not in flags]
    least = F.min(F.struct(*rest)).alias("_least")
    return (
        df.groupBy("id")
        .agg(least, *[F.min(c).alias(c) for c in flags])
        .select("id", *[F.col(f"_least.{c}").alias(c) for c in rest], *flags)
    )


def contracts_storage_shape(
    parsed: DataFrame, flags: Sequence[str] = ()
) -> DataFrame:
    """Processing shape → the reference's storage row: the files array
    re-wrapped as the serialized ContractSource tagged union
    (plain_contract.rs:87-92), nested JSON only at this boundary. File
    entries are renamed to the reference's SourceFile field names
    {name, content} (plain_contract.rs:80-83). ``flags`` are strict-mode
    columns of ``parsed`` carried through the id dedup."""
    files = F.transform(
        "files",
        lambda e: F.struct(
            e["filename"].alias("name"), e["content"].alias("content")
        ),
    )
    single = F.to_json(F.struct(F.element_at(files, 1).alias("SingleSolidity")))
    multi = F.to_json(F.struct(files.alias("MultiSolidity")))
    vyper = F.to_json(F.struct(F.element_at(files, 1).alias("Vyper")))
    js = F.to_json(F.struct(F.element_at(files, 1).alias("Json")))
    source = (
        F.when(F.col("source_type") == "multi_sol", multi)
        .when(F.col("source_type") == "vyper", vyper)
        .when(F.col("source_type") == "json", js)
        .otherwise(single)
    )
    shaped = parsed.select(
        "id",
        F.col("contract_name").alias("name"),
        "metadata",
        source.alias("source"),
        "source_type",
        *flags,
    )
    return dedup_by_id(shaped, flags)


#: The tagged union as Spark reads it back (plain_contract.rs:87-92).
_SOURCE_SCHEMA = (
    "struct<SingleSolidity:struct<name:string,content:string>,"
    "MultiSolidity:array<struct<name:string,content:string>>,"
    "Vyper:struct<name:string,content:string>,"
    "Json:struct<name:string,content:string>>"
)


def contract_files(contracts: DataFrame) -> DataFrame:
    """Storage row → processing shape ``(id, source_type, files)``: the
    inverse of ``contracts_storage_shape``. The Json variant holds the
    whole standard-json container as one file; its sources map is
    exploded into real source files here, like the reference's
    get_source_files (plain_contract.rs:188-200)."""
    variant = F.from_json("source", _SOURCE_SCHEMA)
    json_sources = F.from_json(
        variant["Json"]["content"], STANDARD_JSON_SOURCES_SCHEMA
    )["sources"]
    json_files = F.transform(
        F.map_entries(json_sources),
        lambda e: F.struct(
            e["key"].alias("name"), e["value"]["content"].alias("content")
        ),
    )
    files = F.coalesce(
        variant["MultiSolidity"],
        F.when(variant["Json"].isNotNull(), json_files),
        F.array(F.coalesce(variant["SingleSolidity"], variant["Vyper"])),
    )
    return contracts.select(
        "id",
        "source_type",
        F.transform(
            files,
            lambda e: F.struct(
                e["name"].alias("filename"), e["content"].alias("content")
            ),
        ).alias("files"),
    )


def _check_staged_flags(glob: str, checks: Sequence[tuple[str, str]]) -> None:
    """Raise ``MalformedInput`` for the first check whose flag column
    holds a key anywhere in the staged rows. A flag is the offending
    key (dir or address) or null; ``message`` is formatted with the
    smallest key. Reads the staged files on an in-memory connection,
    so a failed check leaves the target file untouched."""
    con = duckdb.connect()
    try:
        keys = con.read_parquet(glob).aggregate(
            ", ".join(f"min({col})" for col, _ in checks)
        ).fetchone()
    finally:
        con.close()
    for (_, message), key in zip(checks, keys):
        if key is not None:
            raise MalformedInput(message.format(key))


def staged_load(
    df: DataFrame,
    db_path: str,
    table: str,
    insert: str,
    setup: str = "",
    checks: Sequence[tuple[str, str]] = (),
    batch_id: int | None = None,
) -> int:
    """The one Spark → DuckDB hand-off (S7/S8/S10). Stages ``df`` to
    parquet (the distributed write), runs the strict ``checks``, then
    on one connection to ``db_path``, inside the bulk-load pragma
    window: ``setup`` DDL, then one transaction holding the ``insert``
    statement, which reads the staged rows as ``staged``. Returns the
    rows it added to ``table``.

    ``checks`` are strict-mode ``(flag column, message)`` pairs, in
    priority order. On a hit ``MalformedInput`` is raised before the
    target is opened; nothing is inserted.

    ``batch_id`` makes the load an epoch of ``table``: an epoch already
    in the ledger inserts nothing, and a new one writes its ledger row
    in the insert's transaction.
    """
    with tempfile.TemporaryDirectory(prefix=f"scdb_sink_{table}_") as staging:
        out = os.path.join(staging, "part")
        df.write.mode("overwrite").parquet(out)
        glob = os.path.join(out, "*.parquet")
        if checks:
            _check_staged_flags(glob, checks)
        con = connect(db_path)
        try:
            con.execute("PRAGMA disable_checkpoint_on_shutdown")
            # ``staged`` in ``setup`` and ``insert`` resolves to this
            # relation by its Python name (DuckDB's replacement scan):
            # the path never enters SQL text, and unlike a view nothing
            # is written to the target's catalog.
            staged = con.read_parquet(glob)  # noqa: F841
            if batch_id is not None:
                con.execute(_LEDGER_DDL)
            if setup:
                con.execute(setup)
            con.begin()
            try:
                seen = batch_id is not None and con.execute(
                    "SELECT 1 FROM _stream_ledger "
                    "WHERE sink_table = ? AND batch_id = ?",
                    [table, batch_id],
                ).fetchone()
                n = 0
                if not seen:
                    count = f"SELECT COUNT(*) FROM {table}"
                    before = con.execute(count).fetchone()[0]
                    con.execute(insert)
                    n = con.execute(count).fetchone()[0] - before
                    if batch_id is not None:
                        con.execute(
                            "INSERT INTO _stream_ledger VALUES (?, ?, ?)",
                            [table, batch_id, n],
                        )
                con.commit()
            except BaseException:
                con.rollback()
                raise
            return n
        finally:
            con.execute("PRAGMA enable_checkpoint_on_shutdown")
            con.close()


def _insert_or_ignore(table: str, columns: Sequence[str]) -> str:
    collist = ", ".join(columns)
    return f"INSERT OR IGNORE INTO {table} ({collist}) SELECT {collist} FROM staged"


#: Columns of the ``contract`` table, in DDL order.
CONTRACT_COLUMNS = ["id", "name", "metadata", "source", "source_type"]


def store_contracts(
    parsed: DataFrame, db_path: str, checks: Sequence[tuple[str, str]] = ()
) -> int:
    """S7: append contract rows (id-deduped within the batch AND against
    the sink via INSERT OR IGNORE — db.rs:174 semantics). ``checks``:
    strict-mode flags of ``parsed``, see ``staged_load``."""
    return staged_load(
        contracts_storage_shape(parsed, [col for col, _ in checks]),
        db_path,
        "contract",
        _insert_or_ignore("contract", CONTRACT_COLUMNS),
        checks=checks,
    )


def store_functions(functions: DataFrame, db_path: str) -> int:
    """S8: append function rows (INSERT OR IGNORE — db.rs:208)."""
    cols = [
        "id", "contract_id", "contract_name", "function_name",
        "filename", "signature", "selector", "source_code",
    ]
    return staged_load(
        functions.select(*cols), db_path, "function",
        _insert_or_ignore("function", cols),
    )


#: Bytes of the fetched ``contract`` table given to each partition of
#: ``read_contracts``. Every Python task of the extraction stage costs a
#: fixed ~0.27 s of worker CPU whatever its size, while extraction takes
#: 0.45-0.77 us of parallel work per byte (4-core x86 VM, synthetic
#: contracts of 1 KB and 4 KB): a task's fixed cost buys the extraction
#: of 350-600 KB. Rounded down, so a mid-size table keeps its wall time.
READ_BYTES_PER_TASK = 256 << 10


def read_contracts(spark: SparkSession, db_path: str) -> DataFrame:
    """Read the sink's ``contract`` table back as a DataFrame of
    ceil(bytes / ``READ_BYTES_PER_TASK``) partitions, never more than
    Spark made.

    DuckDB fetches the table as Arrow and ``createDataFrame`` takes it
    as is. Spark spreads a small table's rows over every slot, one
    Python task each downstream; coalescing by size gives a small table
    one task and lets a large one keep every slot. No partition is
    empty, and an empty table has none at all. The whole table is still
    held on the driver; nothing distributes the read."""
    con = connect(db_path)
    try:
        table = con.execute(
            "SELECT id, name, metadata, source, "
            "source_type::VARCHAR AS source_type FROM contract"
        ).arrow()
    finally:
        con.close()
    from ..schemas import CONTRACT_SCHEMA

    df = spark.createDataFrame(table, schema=CONTRACT_SCHEMA)
    if not table.num_rows:
        return df
    return df.coalesce(-(-table.nbytes // READ_BYTES_PER_TASK))


# ---------------------------------------------------------------------------
# S11: source export (plain_contract.rs:204-240, 528-535)
# ---------------------------------------------------------------------------


def sanitize_path(path: str) -> str:
    """F15: drop ``..`` components and leading slashes — the reference's
    traversal guard (plain_contract.rs:228-240)."""
    parts = [p for p in path.replace("\\", "/").split("/") if p not in ("", "..", ".")]
    return "/".join(parts)


def export_source_code(db_path: str, contract_id: str, out_dir: str) -> list[str]:
    """S11+F16: write one contract's files to disk; paths sanitized,
    ``.sol`` appended when the name has no extension and no sibling
    collides (plain_contract.rs:208-216). Returns written paths; none
    when the file, its table or the contract is missing. A read-only
    lookup: it never creates or bootstraps ``db_path``."""
    import json

    if not os.path.exists(db_path):
        return []
    con = duckdb.connect(db_path, read_only=True)
    try:
        row = con.execute(
            "SELECT source FROM contract WHERE id = ? LIMIT 1", [contract_id]
        ).fetchone()
    except duckdb.CatalogException:
        row = None  # a file that was never bootstrapped has no table
    finally:
        con.close()
    if row is None:
        return []
    tagged = json.loads(row[0])
    variant = next(iter(tagged))
    entries = tagged[variant] if isinstance(tagged[variant], list) else [tagged[variant]]
    names = {e["name"] for e in entries if e.get("name")}
    written = []
    for e in entries:
        name = sanitize_path(e.get("name") or "main.sol")
        if "." not in os.path.basename(name) and f"{name}.sol" not in names:
            name += ".sol"
        dest = os.path.join(out_dir, name)
        os.makedirs(os.path.dirname(dest) or out_dir, exist_ok=True)
        with open(dest, "w", encoding="utf-8") as fh:
            fh.write(e.get("content") or "")
        written.append(dest)
    return written
