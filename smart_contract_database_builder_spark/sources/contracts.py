"""Contract ingestion & identity — Spark-native (SURVEY.md S1-S4, F1-F4, F10).

The reference walks folders / Etherscan JSON dumps into in-memory row
vectors (reference src/main.rs:90-160) and content-addresses each
contract with md5-of-whitespace-stripped-source (src/utils.rs:12-17;
multi-file: sorted-digest re-hash, src/plain_contract.rs:166-181).

Here the same semantics are pure Catalyst expressions over DataFrames:

- file scan (S1/S2)  → ``spark.read.format("binaryFile")`` recursive load,
  dir/filename derived from ``input_file_name`` — each file is one row, so
  a 100 TB corpus partitions by file with no driver involvement;
- layout resolution (S3) → groupBy(dir) + higher-order functions
  (``exists`` / ``filter`` / ``transform``) over the per-dir file list —
  one shuffle keyed by dir, then everything is per-row expressions;
- Etherscan parse (S4) → ``from_json`` + double-brace unwrap (F10) +
  standard-json re-parse with null-⇒-fallback, mirroring the reference's
  lenient serde fallbacks (src/plain_contract.rs:265-280);
- identity (F1-F3) → ``md5(regexp_replace(…))`` and the sorted-digest
  composition — no UDFs anywhere, whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import ETHERSCAN_RAW_SCHEMA, STANDARD_JSON_SOURCES_SCHEMA

# ---------------------------------------------------------------------------
# Identity expressions (F1-F4) — reference src/utils.rs:12-17,
# src/plain_contract.rs:166-181, src/functions.rs:31
# ---------------------------------------------------------------------------

#: The reference normalizes with Rust's ``\s``, which matches the
#: Unicode White_Space property — but Java's and RE2's ``\s`` are
#: ASCII-only, so a contract containing e.g. a no-break space would
#: hash DIFFERENTLY from the reference. Both engines therefore use this
#: explicit White_Space character class (U+0009-U+000D, space, NEL,
#: NBSP, ogham, the U+2000 block, LS/PS, NNBSP, MMSP, ideographic).
WS_PATTERN = (
    "[\\t\\n\\x0B\\f\\r \\u0085\\u00A0\\u1680\\u2000-\\u200A"
    "\\u2028\\u2029\\u202F\\u205F\\u3000]+"
)

#: RE2 spelling of the same class for the DuckDB oracles (``\x{…}``
#: escapes; embed in a standard SQL string — backslashes pass through).
SQL_WS_PATTERN = (
    "[\\t\\n\\x{000B}\\f\\r \\x{0085}\\x{00A0}\\x{1680}"
    "\\x{2000}-\\x{200A}\\x{2028}\\x{2029}\\x{202F}\\x{205F}\\x{3000}]+"
)

#: The same class as a Python regex for test oracles (Python's own
#: ``\s`` additionally matches U+001C-001F, which White_Space does not).
PY_WS_PATTERN = (
    "[\\t\\n\\x0b\\f\\r \\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000]+"
)


def normalized(content: Column | str) -> Column:
    """F1: strip ALL whitespace (Rust-``\\s``-compatible class → empty)."""
    c = F.col(content) if isinstance(content, str) else content
    return F.regexp_replace(c, WS_PATTERN, "")


def contract_id(content: Column | str) -> Column:
    """F1+F2: ``md5(whitespace-stripped content)`` — the contract PK."""
    return F.md5(normalized(content))


def multifile_contract_id(per_file_hashes: Column) -> Column:
    """F3: md5 of the concatenation of the SORTED per-file hex digests.

    Order-insensitive across files, exactly like the reference's
    ``hashes.sorted(); hashes.concat(); md5`` (plain_contract.rs:169-177).
    """
    return F.md5(F.concat_ws("", F.array_sort(per_file_hashes)))


def function_id(contract_id_col: Column, filename: Column, selector: Column) -> Column:
    """F4: ``simple_hash(contract_id ‖ filename ‖ selector)``
    (functions.rs:31) — note contract_name is NOT part of the key, and
    the reference routes the concatenation through ``simple_hash`` which
    strips whitespace before md5 (utils.rs:12-17); filenames containing
    whitespace (possible in Etherscan standard-json paths) must hash
    identically to the reference's stored rows."""
    return F.md5(normalized(F.concat(contract_id_col, filename, selector)))


def unwrap_double_brace(c: Column) -> Column:
    """F10: Etherscan's ``{{…}}`` wrapper → ``{…}`` by slicing chars
    1..len-1 (plain_contract.rs:258-263)."""
    return F.when(
        F.substring(c, 1, 2) == "{{",
        c.substr(F.lit(2), F.length(c) - F.lit(2)),
    ).otherwise(c)


def corrupt_json(content: Column | str) -> Column:
    """P8 corrupt-record probe: true when ``content`` is not one valid
    JSON document (the strict-mode check for metadata.json,
    contract.json and Etherscan dumps)."""
    probe = F.from_json(
        content,
        "struct<_corrupt_record:string>",
        {"columnNameOfCorruptRecord": "_corrupt_record"},
    )
    return probe["_corrupt_record"].isNotNull()


def normalize_version(c: Column) -> Column:
    """F11: strip the leading ``v``/tool prefix and pre-release/build
    suffix, keeping bare ``major.minor.patch`` (plain_contract.rs:334-337)."""
    return F.regexp_extract(c, r"v?(\d+\.\d+\.\d+)", 1)


# ---------------------------------------------------------------------------
# S1/S2: recursive file scans
# ---------------------------------------------------------------------------


def read_contract_files(spark: SparkSession, root: str) -> DataFrame:
    """S1 file scan: recursive load of a contract-folder tree.

    Returns (dir, filename, content). Uses the binaryFile source (splits
    per file, scales to millions of files across executors) and decodes
    content as UTF-8; the dir key is the file's parent path relative to
    nothing in particular — grouping only needs it to be consistent.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(root)
        .select("path", "content")
    )
    return raw.select(
        F.regexp_extract("path", r"^(.*)/[^/]+$", 1).alias("dir"),
        F.regexp_extract("path", r"([^/]+)$", 1).alias("filename"),
        F.decode("content", "UTF-8").alias("content"),
    )


def read_etherscan_files(spark: SparkSession, root: str) -> DataFrame:
    """S2 file scan: keep files whose name starts with the parent dir's
    name and ends ``.json`` case-insensitively (main.rs:124-142).

    Returns (address, content); the address is the parent dir name.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.[jJ][sS][oO][nN]")
        .load(root)
        .select("path", "content")
    )
    parent = F.regexp_extract("path", r"([^/]+)/[^/]+$", 1)
    filename = F.regexp_extract("path", r"([^/]+)$", 1)
    return (
        raw.select(
            parent.alias("address"),
            filename.alias("filename"),
            F.decode("content", "UTF-8").alias("content"),
        )
        .filter(
            F.col("filename").startswith(F.col("address"))
            & F.lower("filename").endswith(".json")
        )
        .select("address", "content")
    )


# ---------------------------------------------------------------------------
# S3: folder-layout resolution (plain_contract.rs:284-320)
# ---------------------------------------------------------------------------


def parse_folder_contracts(files_df: DataFrame) -> DataFrame:
    """S3: resolve each dir's layout in the reference's priority order
    ``contract.json`` → ``main.sol`` → ``main.vy`` → all ``*.sol``, and
    derive the content-addressed id.

    Input: (dir, filename, content). Output one row per contract dir:
    (dir, source_type, contract_name, metadata, files, id, n_files).
    Dirs without ``metadata.json`` are dropped (S1 keeps only metadata
    dirs, main.rs:96-104).

    Scale shape: one shuffle on ``dir`` (the collect_list groupBy);
    every subsequent step is a per-row expression over the grouped
    array — no further shuffles, no UDFs.
    """

    def has_file(name: str) -> Column:
        return F.exists("entries", lambda e: e["filename"] == F.lit(name))

    def file_content(name: str) -> Column:
        # try_element_at: null (not ANSI error) when the dir lacks the file
        return F.try_element_at(
            F.filter("entries", lambda e: e["filename"] == F.lit(name)), F.lit(1)
        )["content"]

    grouped = files_df.groupBy("dir").agg(
        F.collect_list(F.struct("filename", "content")).alias("entries")
    )

    source_type = (
        F.when(has_file("contract.json"), F.lit("json"))
        .when(has_file("main.sol"), F.lit("single_sol"))
        .when(has_file("main.vy"), F.lit("vyper"))
        .otherwise(F.lit("multi_sol"))
    )
    # The reference keeps only *.sol entries for the multi-file variant
    # (plain_contract.rs:152).
    sol_files = F.filter("entries", lambda e: e["filename"].endswith(".sol"))

    single_name = (
        F.when(F.col("source_type") == "json", F.lit("contract.json"))
        .when(F.col("source_type") == "single_sol", F.lit("main.sol"))
        .otherwise(F.lit("main.vy"))
    )

    with_meta = (
        grouped.withColumn("metadata", file_content("metadata.json"))
        .filter(F.col("metadata").isNotNull())
        .withColumn("source_type", source_type)
    )
    return (
        with_meta.withColumn(
            "files",
            F.when(F.col("source_type") == "multi_sol", sol_files).otherwise(
                F.filter("entries", lambda e: e["filename"] == single_name)
            ),
        )
        .withColumn(
            "id",
            F.when(
                F.col("source_type") == "multi_sol",
                multifile_contract_id(
                    F.transform("files", lambda e: contract_id(e["content"]))
                ),
            ).otherwise(
                contract_id(F.try_element_at("files", F.lit(1))["content"])
            ),
        )
        .select(
            "dir",
            "source_type",
            F.get_json_object("metadata", "$.ContractName").alias("contract_name"),
            "metadata",
            "files",
            "id",
            F.size("files").alias("n_files"),
        )
    )


# ---------------------------------------------------------------------------
# S4: Etherscan JSON parse (plain_contract.rs:252-281)
# ---------------------------------------------------------------------------


def parse_etherscan_contracts(raw_df: DataFrame) -> DataFrame:
    """S4: Etherscan row → contract row with lenient fallbacks.

    ``SourceCode`` is (a) ``{{…}}``-wrapped standard-json, (b) bare
    standard-json, or (c) raw Solidity. (a)/(b) become the ``json``
    variant — the reference stores the WHOLE unwrapped container as one
    ``Json`` source file named ``contract.json``
    (plain_contract.rs:265-271), so the id is
    ``simple_hash(container)`` (the ``Json`` arm of ``hash()``,
    plain_contract.rs:179), NOT the multi-file sorted-digest re-hash.
    (c) falls back to single_sol, one file named ``main.sol`` — the same
    parse-failure fallback as the reference (plain_contract.rs:272-280).
    This keeps Etherscan-ingested ids dedup-compatible with
    folder-ingested ``contract.json`` layouts. Lenient scalar semantics:
    ``Runs`` parses null→0, ``OptimizationUsed`` is the string ``"1"``
    (plain_contract.rs:57-58).

    Input: (address, content, *carried), where the carried columns
    (e.g. strict-mode flags) pass through unchanged. Output: (address,
    contract_name, source_type, id, n_sources, runs, optimization_used,
    metadata, files, *carried) — ``metadata`` and ``files`` are the
    folder parse's processing shape, so the row stores like a folder
    contract (``sinks.duckdb_sink.store_contracts``).
    """
    fields = F.from_json("content", ETHERSCAN_RAW_SCHEMA)
    carried = [c for c in raw_df.columns if c not in ("address", "content")]
    df = raw_df.select(
        "address",
        fields["ContractName"].alias("contract_name"),
        fields["CompilerVersion"].alias("compiler_version"),
        unwrap_double_brace(fields["SourceCode"]).alias("source_code"),
        # try_cast: lenient parse, null-on-malformed → 0 (ANSI-safe),
        # matching the reference's unwrap_or_default (plain_contract.rs:57)
        F.coalesce(fields["Runs"].try_cast("int"), F.lit(0)).alias("runs"),
        (fields["OptimizationUsed"] == "1").alias("optimization_used"),
        *carried,
    )
    std = F.from_json("source_code", STANDARD_JSON_SOURCES_SCHEMA)
    parsed = df.withColumn("sources", std["sources"])
    is_std = F.col("sources").isNotNull()
    return parsed.select(
        "address",
        "contract_name",
        F.when(is_std, F.lit("json")).otherwise(F.lit("single_sol")).alias(
            "source_type"
        ),
        # Both branches hash the whole (unwrapped) SourceCode: the Json
        # variant is one source file holding the container
        # (plain_contract.rs:265-271; hash() Json arm :179).
        contract_id(F.col("source_code")).alias("id"),
        F.when(is_std, F.size(F.map_keys("sources"))).otherwise(F.lit(1)).alias(
            "n_sources"
        ),
        "runs",
        "optimization_used",
        F.to_json(
            F.struct(
                F.col("contract_name").alias("ContractName"),
                F.col("compiler_version").alias("CompilerVersion"),
                F.col("runs").alias("Runs"),
                F.col("optimization_used").alias("OptimizationUsed"),
            )
        ).alias("metadata"),
        F.array(
            F.struct(
                F.when(is_std, F.lit("contract.json"))
                .otherwise(F.lit("main.sol"))
                .alias("filename"),
                F.col("source_code").alias("content"),
            )
        ).alias("files"),
        *carried,
    )


def explode_standard_json_sources(raw_df: DataFrame) -> DataFrame:
    """F9: standard-json ``sources`` map → one row per source file.

    Input: (address, content) where content is an Etherscan row whose
    SourceCode holds (possibly wrapped) standard-json. Output:
    (address, path, file_id) — non-JSON fallback rows produce no rows,
    like the reference's map iteration (plain_contract.rs:190-198).
    """
    fields = F.from_json("content", ETHERSCAN_RAW_SCHEMA)
    src = unwrap_double_brace(fields["SourceCode"])
    sources = F.from_json(src, STANDARD_JSON_SOURCES_SCHEMA)["sources"]
    return (
        raw_df.select("address", F.explode(sources).alias("path", "file"))
        .select(
            "address",
            "path",
            contract_id(F.col("file")["content"]).alias("file_id"),
        )
    )
