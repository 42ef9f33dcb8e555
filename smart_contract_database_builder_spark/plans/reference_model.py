"""Reference-model identity & ingestion queries (SURVEY.md §1.4, S3-S6,
F1-F4, F7-F13, A2).

The reference's core semantic is content-addressed contract identity:
``id = md5(whitespace-stripped source)`` (reference src/utils.rs:12-17),
multi-file contracts re-hash the sorted per-file digests
(src/plain_contract.rs:166-181), and dedup is conflict-ignore on that id
(src/db.rs:174, 208). These queries express exactly those semantics as
Catalyst expressions and prove them two ways:

- at corpus scale over the ``documents`` table (the hash/dedup/bundle
  queries — the shapes that must survive 100 TB), and
- over the in-repo contract fixture (``fixtures.py``), where the DuckDB
  oracle recomputes the identical result from an identical ``VALUES``
  relation — covering layout resolution (S3), Etherscan parse with
  double-brace unwrap + fallback (S4/F10), typed metadata decode
  (S6/F7/F11), the sources-map explode (F9), and CRLF normalization (F13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..compilestage import stage
from ..schemas import METADATA_SCHEMA
from ..sources import contracts as C
from ..sources.tables import load_table
from .materialize import pin
from .registry import register

_FILES = fixtures.contract_files_values_sql()
_WS = C.SQL_WS_PATTERN  # Rust-\s-compatible class (see sources/contracts.py)
_ESCAN = fixtures.etherscan_values_sql()


# ---------------------------------------------------------------------------
# Corpus-scale identity & dedup (documents as the source corpus)
# ---------------------------------------------------------------------------


@register(
    "ref_content_id_documents",
    oracle=rf"""
    SELECT doc_id,
           md5(regexp_replace(text, '{_WS}', '', 'g')) AS content_id
    FROM documents
    """,
)
def ref_content_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F2: content-addressed id per document (utils.rs:12-17 semantics).

    Pure per-row expressions — embarrassingly parallel, no shuffle; at
    100 TB this is a single map stage over the scan.
    """
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", C.contract_id("text").alias("content_id")
    )


@register(
    "ref_dedup_documents",
    oracle=rf"""
    SELECT content_id,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM (
      SELECT doc_id, md5(regexp_replace(text, '{_WS}', '', 'g')) AS content_id
      FROM documents
    )
    GROUP BY content_id
    """,
)
def ref_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: content-hash dedup — the Spark form of the reference's
    conflict-ignore PK insert (db.rs:174): group by content id, keep a
    canonical representative.

    Scale shape: one shuffle on the 32-char hex id (uniformly
    distributed — no skew by construction); partial aggregation makes
    the map side emit one row per distinct id per partition.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", C.contract_id("text").alias("content_id"))
        .groupBy("content_id")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


@register(
    "ref_bundle_hash_by_source",
    oracle=rf"""
    SELECT source,
           md5(string_agg(bd, '' ORDER BY bd)) AS bundle_id,
           CAST(SUM(nf) AS BIGINT) AS n_files
    FROM (
      SELECT source, substr(h, 1, 2) AS pfx,
             md5(string_agg(h, '' ORDER BY h)) AS bd,
             COUNT(*) AS nf
      FROM (
        SELECT source, md5(regexp_replace(text, '{_WS}', '', 'g')) AS h
        FROM documents
      )
      GROUP BY source, pfx
    )
    GROUP BY source
    """,
)
def ref_bundle_hash_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 at corpus scale: treat each ``source`` bucket as one multi-file
    contract — hierarchical digest of the sorted per-file digests
    (plain_contract.rs:166-181 semantics, made mega-group-safe).

    A flat ``collect_list`` makes the aggregate row grow linearly with
    the bucket (a 10M-file source would be one 320 MB row). Instead the
    digests are re-hashed in two levels: group by (source, first 2 hex
    chars of the digest) — a 256-way split that md5 uniformity keeps
    balanced regardless of data skew — then hash the sorted bucket
    digests. Each aggregate row is bounded by bucket_size/256; a deeper
    corpus would extend the prefix (k hex chars → 16^k-way). Both levels
    sort before hashing, so the id stays order-insensitive under any
    partitioning, exactly like the reference's ``hashes.sorted()``.
    (True per-contract F3 parity — the un-bucketed form — is pinned in
    ``ref_ingest_folder_contracts`` against the reference demo fixture,
    where groups are file-count-bounded by construction.)
    """
    return bundle_hash_by_source(load_table(spark, sf_dir, "documents"))


def bundle_hash_by_source(docs: DataFrame) -> DataFrame:
    """Two-level bundle digest over a ``(source, text)`` relation; see
    ``ref_bundle_hash_by_source`` for the scale rationale."""
    lvl1 = (
        docs.select("source", C.contract_id("text").alias("h"))
        .withColumn("pfx", F.substring("h", 1, 2))
        .groupBy("source", "pfx")
        .agg(
            C.multifile_contract_id(F.collect_list("h")).alias("bd"),
            F.count(F.lit(1)).alias("nf"),
        )
    )
    return lvl1.groupBy("source").agg(
        C.multifile_contract_id(F.collect_list("bd")).alias("bundle_id"),
        F.sum("nf").alias("n_files"),
    )


# ---------------------------------------------------------------------------
# Fixture-backed ingestion parity (oracle recomputes from identical VALUES)
# ---------------------------------------------------------------------------


@register(
    "ref_ingest_folder_contracts",
    oracle=rf"""
    WITH dirs AS (
      SELECT dir,
             MAX(CASE WHEN filename = 'metadata.json' THEN content END) AS meta,
             bool_or(filename = 'contract.json') AS has_cj,
             bool_or(filename = 'main.sol') AS has_ms,
             bool_or(filename = 'main.vy') AS has_mv
      FROM {_FILES}
      GROUP BY dir
    ),
    typed AS (
      SELECT dir, meta,
             CASE WHEN has_cj THEN 'json'
                  WHEN has_ms THEN 'single_sol'
                  WHEN has_mv THEN 'vyper'
                  ELSE 'multi_sol' END AS source_type
      FROM dirs
      WHERE meta IS NOT NULL
    ),
    sel AS (
      SELECT t.dir, t.source_type, t.meta,
             md5(regexp_replace(f.content, '{_WS}', '', 'g')) AS h
      FROM typed t
      JOIN {fixtures.contract_files_values_sql("f")}
        ON f.dir = t.dir
      WHERE (t.source_type = 'json' AND f.filename = 'contract.json')
         OR (t.source_type = 'single_sol' AND f.filename = 'main.sol')
         OR (t.source_type = 'vyper' AND f.filename = 'main.vy')
         OR (t.source_type = 'multi_sol' AND f.filename LIKE '%.sol')
    )
    SELECT dir, source_type,
           json_extract_string(meta, '$.ContractName') AS contract_name,
           CASE WHEN source_type = 'multi_sol'
                THEN md5(string_agg(h, '' ORDER BY h))
                ELSE MIN(h) END AS id,
           COUNT(*) AS n_files,
           json_extract_string(meta, '$.CompilerVersion') AS compiler_version,
           regexp_extract(json_extract_string(meta, '$.CompilerVersion'),
                          'v?(\d+\.\d+\.\d+)', 1) AS compiler_semver,
           CAST(json_extract_string(meta, '$.Runs') AS INT) AS runs,
           CAST(json_extract_string(meta, '$.OptimizationUsed') AS BOOLEAN)
             AS optimization_used,
           json_extract_string(meta, '$.BytecodeHash') AS bytecode_hash
    FROM sel
    GROUP BY dir, source_type, meta
    """,
)
def ref_ingest_folder_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S6+F7+F11: folder-layout resolution over the fixture corpus —
    the reference's 4-layout priority cascade (plain_contract.rs:284-320)
    with content-addressed ids; the orphan dir (no metadata.json) is
    dropped, the whitespace-variant duplicate resolves to the same id
    as its original. Each contract carries its typed metadata decode
    (``from_json``, db.rs:35-49 semantics) with semver normalization
    (plain_contract.rs:334-337).
    """
    parsed = C.parse_folder_contracts(fixtures.contract_files_df(spark))
    m = F.from_json("metadata", METADATA_SCHEMA)
    return parsed.select(
        "dir",
        "source_type",
        "contract_name",
        "id",
        F.col("n_files").cast("long").alias("n_files"),
        m["CompilerVersion"].alias("compiler_version"),
        C.normalize_version(m["CompilerVersion"]).alias("compiler_semver"),
        m["Runs"].alias("runs"),
        m["OptimizationUsed"].alias("optimization_used"),
        m["BytecodeHash"].alias("bytecode_hash"),
    )


@register(
    "ref_etherscan_parse",
    oracle=rf"""
    WITH base AS (
      SELECT address,
             json_extract_string(content, '$.ContractName') AS contract_name,
             json_extract_string(content, '$.SourceCode') AS sc,
             COALESCE(TRY_CAST(json_extract_string(content, '$.Runs') AS INT), 0)
               AS runs,
             json_extract_string(content, '$.OptimizationUsed') = '1'
               AS optimization_used
      FROM {_ESCAN}
    ),
    unwrapped AS (
      SELECT address, contract_name, runs, optimization_used,
             CASE WHEN substr(sc, 1, 2) = '{{{{'
                  THEN substr(sc, 2, length(sc) - 2)
                  ELSE sc END AS source_code
      FROM base
    ),
    typed AS (
      -- CASE guards every json_* call: DuckDB's vectorized AND does not
      -- short-circuit, so raw-Solidity rows would otherwise error.
      SELECT *,
             CASE WHEN json_valid(source_code)
                  THEN COALESCE(json_keys(source_code, '$.sources'), [])
                  ELSE [] END AS ks
      FROM unwrapped
    )
    SELECT address, contract_name,
           CASE WHEN len(ks) > 0 THEN 'json' ELSE 'single_sol' END AS source_type,
           -- Json variant: id = simple_hash of the WHOLE unwrapped
           -- container (plain_contract.rs:265-271, hash() Json arm :179)
           md5(regexp_replace(source_code, '{_WS}', '', 'g')) AS id,
           CASE WHEN len(ks) > 0 THEN len(ks) ELSE 1 END AS n_sources,
           runs, optimization_used
    FROM typed t
    """,
)
def ref_etherscan_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+F10: Etherscan JSON parse over the fixture — double-brace
    unwrap, standard-json parse with raw-Solidity fallback
    (plain_contract.rs:252-281), lenient Runs/OptimizationUsed casts
    (plain_contract.rs:57-58). Standard-json ids hash the whole
    unwrapped container (the ``Json`` variant, plain_contract.rs:179),
    keeping them dedup-compatible with folder ``contract.json`` rows.
    """
    parsed = C.parse_etherscan_contracts(fixtures.etherscan_df(spark))
    return parsed.select(
        "address",
        "contract_name",
        "source_type",
        "id",
        F.col("n_sources").cast("int").alias("n_sources"),
        "runs",
        "optimization_used",
    )


@register(
    "ref_sources_explode",
    oracle=rf"""
    WITH unwrapped AS (
      SELECT address,
             CASE WHEN substr(json_extract_string(content, '$.SourceCode'), 1, 2)
                       = '{{{{'
                  THEN substr(json_extract_string(content, '$.SourceCode'), 2,
                              length(json_extract_string(content, '$.SourceCode')) - 2)
                  ELSE json_extract_string(content, '$.SourceCode') END AS sc
      FROM {_ESCAN}
    ),
    keyed AS (
      SELECT address, sc,
             CASE WHEN json_valid(sc)
                  THEN COALESCE(json_keys(sc, '$.sources'), [])
                  ELSE [] END AS ks
      FROM unwrapped
    )
    SELECT k.address, u.k AS path,
           md5(regexp_replace(
             json_extract_string(k.sc, '$.sources."' || u.k || '".content'),
             '{_WS}', '', 'g')) AS file_id
    FROM keyed k, unnest(k.ks) u(k)
    """,
)
def ref_sources_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: standard-json ``sources`` map → one row per source file
    (plain_contract.rs:190-198); non-JSON fallback rows contribute no
    rows, mirroring the reference's map iteration.
    """
    return C.explode_standard_json_sources(fixtures.etherscan_df(spark))


def _py_parse_folder() -> list[dict]:
    """Driver-side pure-Python replica of the folder parse over the
    fixture corpus: layout cascade (plain_contract.rs:284-320) +
    content-addressed ids (utils.rs:12-17). Used to derive the golden
    VALUES oracles for the extract/sink queries — an execution path with
    no Spark in it, so the mapInPandas plumbing, schema mapping, and
    dedup are all checked against an independent driver-side run."""
    import hashlib
    import re as _re
    from collections import OrderedDict

    dirs: "OrderedDict[str, OrderedDict[str, str]]" = OrderedDict()
    for d, fn, content in fixtures.CONTRACT_FILES:
        dirs.setdefault(d, OrderedDict())[fn] = content

    def h(s: str) -> str:
        return hashlib.md5(_re.sub(C.PY_WS_PATTERN, "", s).encode()).hexdigest()

    out = []
    for d, files in dirs.items():
        if "metadata.json" not in files:
            continue
        if "contract.json" in files:
            st, sel = "json", ["contract.json"]
        elif "main.sol" in files:
            st, sel = "single_sol", ["main.sol"]
        elif "main.vy" in files:
            st, sel = "vyper", ["main.vy"]
        else:
            st = "multi_sol"
            sel = [f for f in files if f.endswith(".sol")]
        if st == "multi_sol":
            cid = hashlib.md5(
                "".join(sorted(h(files[f]) for f in sel)).encode()
            ).hexdigest()
        else:
            cid = h(files[sel[0]])
        out.append(
            {
                "dir": d,
                "source_type": st,
                "id": cid,
                "files": [
                    {"filename": f, "content": files[f]} for f in sel
                ],
            }
        )
    return out


def _sql_values_rows(rows: list[tuple], alias: str, cols: list[str]) -> str:
    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    body = ",\n".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES\n{body}) AS {alias}({', '.join(cols)})"


def _extract_golden_rows() -> list[tuple]:
    """The expected `function` table over the fixture corpus, computed
    with plain driver-side Python (no Spark): parse replica → scanner →
    conflict-ignore dedup on the function id. Colliding ids (the
    whitespace-variant duplicate dir yields equal ids with different
    body slices) keep the lexicographically-minimal row — the same
    deterministic tie-break ``stage.extract_functions`` applies, chosen
    because the reference's first-insert-wins depends on arrival order
    the engines can't share."""
    seen: dict[str, tuple] = {}
    for contract in _py_parse_folder():
        if contract["source_type"] == "vyper":
            continue  # P6: vyper skip, main.rs:298-300
        for row in stage._function_rows(contract["id"], contract["files"]):
            prev = seen.get(row[0])
            if prev is None or row[1:] < prev[1:]:
                seen[row[0]] = row
    return list(seen.values())


_EXTRACT_GOLDEN = _extract_golden_rows()


@register(
    "ref_extract_functions",
    oracle="SELECT * FROM "
    + _sql_values_rows(
        _EXTRACT_GOLDEN,
        "fn",
        [
            "id",
            "contract_id",
            "contract_name",
            "function_name",
            "filename",
            "signature",
            "selector",
            "source_code",
        ],
    ),
)
def ref_extract_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U3+F4-F6+F14: the compile/extract stage over the fixture
    corpus — vyper filtered pre-stage (P6), Arrow-batched function
    extraction with keccak selectors and byte-exact body slices,
    conflict-ignore dedup on the function id.

    Oracle: a golden VALUES relation recomputed at import time by a
    pure driver-side Python pass (no Spark involved), so the Spark-side
    parse → mapInPandas → dedup pipeline is checked end-to-end against
    an independent execution path; the keccak selectors themselves are
    pinned to public ERC-20 vectors in tests/test_compilestage.py.
    """
    parsed = C.parse_folder_contracts(fixtures.contract_files_df(spark))
    return stage.extract_functions(parsed)


def _sink_golden_rows() -> list[tuple]:
    """Expected sink round-trip result: contracts per source_type after
    conflict-ignore dedup on id (the whitespace-variant duplicate
    collapses), with first-load = distinct ids and second-load = 0."""
    by_id: dict[str, str] = {}
    for contract in _py_parse_folder():
        by_id.setdefault(contract["id"], contract["source_type"])
    counts: dict[str, int] = {}
    for st in by_id.values():
        counts[st] = counts.get(st, 0) + 1
    total = len(by_id)
    return [(st, n, total, 0) for st, n in sorted(counts.items())]


@register(
    "ref_sink_roundtrip",
    oracle="SELECT source_type, CAST(n_contracts AS BIGINT) AS n_contracts, "
    "CAST(first_load_rows AS BIGINT) AS first_load_rows, "
    "CAST(second_load_rows AS BIGINT) AS second_load_rows FROM "
    + _sql_values_rows(
        _sink_golden_rows(),
        "sink",
        ["source_type", "n_contracts", "first_load_rows", "second_load_rows"],
    ),
)
def ref_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7-S10: staged-parquet single-writer DuckDB sink round-trip —
    bootstrap DDL, conflict-ignoring bulk load inside the checkpoint
    pragma window, idempotent re-load, read back per-type counts.
    Oracle: golden VALUES derived by the driver-side parse replica
    (``_sink_golden_rows``); deeper assertions live in
    tests/test_duckdb_sink.py.
    """
    import tempfile

    from pyspark.sql import functions as SF

    from ..sinks import duckdb_sink as sink

    parsed = C.parse_folder_contracts(fixtures.contract_files_df(spark))
    with tempfile.TemporaryDirectory(prefix="scdb_sink_q_") as d:
        db = f"{d}/roundtrip.duckdb"
        first = sink.store_contracts(parsed, db)
        second = sink.store_contracts(parsed, db)  # must be a no-op
        back = sink.read_contracts(spark, db)
        # materialize before the temp dir vanishes
        return pin(
            back.groupBy("source_type")
            .agg(SF.count(SF.lit(1)).alias("n_contracts"))
            .withColumn("first_load_rows", SF.lit(first).cast("long"))
            .withColumn("second_load_rows", SF.lit(second).cast("long"))
        )


# F13 (CRLF → LF normalization, plain_contract.rs:434) is exercised by
# the ingest queries above (the CRLF fixture file resolves to the same
# content id as its LF twin) and unit-tested in tests/test_contracts.py;
# it no longer carries a standalone registry entry.
