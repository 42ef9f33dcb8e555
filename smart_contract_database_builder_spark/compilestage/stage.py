"""The compile/extract Spark stage (SURVEY.md U1/U3, §3.2).

The reference's ``index-functions`` entry point pages contracts out of
storage, compiles each with solc in a spawned task, and extracts ABI
function rows (reference src/main.rs:273-331). The Spark shape is:

    contracts DF → filter(≠vyper)           # P6, BEFORE the costly stage
                → mapInPandas(extract)       # Arrow-batched Python stage
                → dedup_by_id                # INSERT OR IGNORE (db.rs:208)

``mapInPandas`` is the right tool for the one irreducibly-external step:
Arrow moves columns to Python in batches (not per row), each partition
runs independently on its executor, and stragglers (huge contracts) are
handled by Spark's normal task machinery, without a driver-side loop.

The stage runs one Python task per partition, and each task costs a
fixed ~0.27 s of worker CPU whatever its row count (the worker's
per-task setup re-reads its zip archives). So fewer, larger tasks are
cheaper: ``index-functions`` feeds the stage
``sinks.duckdb_sink.read_contracts``, which sizes its partitions by
bytes (``READ_BYTES_PER_TASK``), so a small table costs one Python
task, and with one partition the id dedup below needs no exchange.

Each Arrow batch is extracted in three steps (``_batch_rows``):
scan every bundle in the batch, hash the batch's distinct signatures
with ONE vectorized Keccak-256 call (``functions.keccak.selectors``),
then build the rows — inheritance walk, selector-keyed dedup, md5 ids.
The signature→selector map is local to the batch: Python workers are
reused across tasks, and a longer-lived memo would make a re-run time
cache hits. ``_function_rows`` runs them over a batch of one bundle.

Real solc compilation (via py-solc-x) is gated behind an import: when
available, ``compile_standard_json`` invokes solc with AST output and
the U2 AST slicer takes over; in this environment it is NOT installed,
so the dependency-free scanner in ``solidity.py`` provides the
deterministic extraction path (same row shape, byte-exact slices).
"""

from __future__ import annotations

import hashlib
import json
import re
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import FUNCTION_SCHEMA
from ..sources.contracts import PY_WS_PATTERN
from .solidity import (
    ExtractedFunction,
    ScannedContract,
    fill_selectors,
    scan_file_contracts,
)

#: Rust-``\s``-compatible (Unicode White_Space) class — the same one the
#: id expressions use, so function ids match simple_hash (utils.rs:12-17).
_WS_RE = re.compile(PY_WS_PATTERN)

try:  # pragma: no cover - not installed in this environment
    import solcx  # type: ignore
except ImportError:
    solcx = None


def compile_standard_json(standard_json: str, version: str) -> dict:
    """U1: run real solc on a standard-json input with AST output
    enabled (reference src/plain_contract.rs:327-377). Requires
    py-solc-x + a solc binary on the executor."""
    if solcx is None:
        raise NotImplementedError(
            "py-solc-x is not installed; the extraction stage uses the "
            "dependency-free Solidity scanner instead (solidity.py)"
        )
    solcx.install_solc(version)  # cached per executor after first call
    return solcx.compile_standard(json.loads(standard_json), solc_version=version)


#: One bundle scope: (filename, scanned contract) pairs whose bases
#: resolve against each other.
Scope = list[tuple[str, ScannedContract]]


def _scan_bundle(files: list[dict]) -> list[Scope]:
    """Step 1 — scan every file of one contract's bundle. Each embedded
    standard-json container is its own scope and comes before the
    bundle's own scope, which is last."""
    scopes: list[Scope] = []
    scanned: Scope = []
    for f in files:
        name, content = f.get("filename") or f.get("name"), f.get("content")
        if not name or content is None:
            continue
        if name.endswith(".json"):
            # standard-json container (source_type 'json'): extract from
            # its embedded sources map — its own bundle scope
            try:
                std = json.loads(content)
                inner = [
                    {"name": path, "content": entry.get("content", "")}
                    for path, entry in (std.get("sources") or {}).items()
                ]
            except (ValueError, AttributeError):
                continue
            scopes.extend(_scan_bundle(inner))
            continue
        if not name.endswith(".sol"):
            continue
        for c in scan_file_contracts(content):
            scanned.append((name, c))
    scopes.append(scanned)
    return scopes


def _scope_rows(contract_id: str, scanned: Scope) -> Iterator[tuple]:
    """Step 3 — resolve inheritance within the scope: the ABI view of a
    compiled contract includes inherited public members
    (reference src/functions.rs:24-27 iterates alloy's functions()
    over the artifact), attributed to the DERIVED contract's file.
    Their bodies live in the base contract, which the reference's AST
    slicer does not search — source_code = "" (plain_contract.rs:
    454-456, asserted at :565-573)."""
    by_name = {}
    for _, c in scanned:
        by_name.setdefault(c.name, c)

    def inherited_members(c) -> Iterator[ExtractedFunction]:
        seen_bases: set[str] = set()
        stack = list(c.bases)
        while stack:
            b = stack.pop()
            if b in seen_bases or b not in by_name:
                continue
            seen_bases.add(b)
            basec = by_name[b]
            yield from basec.functions
            stack.extend(basec.bases)

    def row(fn, filename: str, source_code: str, cname: str) -> tuple:
        # F4: simple_hash(contract_id ‖ filename ‖ selector) —
        # functions.rs:31 via utils.rs:12-17, which strips the
        # White_Space class before md5 (filenames can contain
        # spaces in Etherscan standard-json paths).
        fid = hashlib.md5(
            _WS_RE.sub("", contract_id + filename + fn.selector).encode()
        ).hexdigest()
        return (
            fid, contract_id, cname, fn.function_name,
            filename, fn.signature, fn.selector, source_code,
        )

    for name, c in scanned:
        emitted: set[str] = set()
        for fn in c.functions:
            emitted.add(fn.selector)
            yield row(fn, name, fn.source_code, c.name)
        if c.kind == "interface":
            continue  # interfaces list only their own declarations
        for fn in inherited_members(c):
            if fn.selector in emitted:
                continue  # overridden/implemented locally
            emitted.add(fn.selector)
            yield row(fn, name, "", c.name)


def _batch_rows(bundles: Iterable[tuple[str, list[dict]]]) -> list[tuple]:
    """Function rows of a batch of ``(contract_id, files)`` bundles, in
    three steps: scan every bundle (``_scan_bundle``), hash the batch's
    distinct signatures in one ``fill_selectors`` call, then build each
    bundle's rows (``_scope_rows``)."""
    scanned = [(cid, _scan_bundle(files)) for cid, files in bundles]
    fill_selectors(
        [
            fn
            for _, scopes in scanned
            for scope in scopes
            for _, c in scope
            for fn in c.functions
        ]
    )
    return [
        row
        for cid, scopes in scanned
        for scope in scopes
        for row in _scope_rows(cid, scope)
    ]


def _function_rows(contract_id: str, files: list[dict]) -> list[tuple]:
    """Function rows of one contract bundle: a batch of one."""
    return _batch_rows([(contract_id, files)])


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in FUNCTION_SCHEMA.fields]
    for pdf in batches:
        bundles = zip(pdf["id"], map(json.loads, pdf["files_json"]))
        yield pd.DataFrame(_batch_rows(bundles), columns=cols)


def extract_functions(contracts: DataFrame) -> DataFrame:
    """U3: contracts (id, source_type, files array) → deduped function
    rows in the reference's ``function`` table shape (db.rs:74-84).

    The vyper filter sits BEFORE the Python stage so Catalyst never
    ships skipped rows across the Arrow boundary (main.rs:298-300).
    """
    # imported here, not at the top: every Python worker imports this
    # module to run ``_extract_batches`` and needs no DuckDB
    from ..sinks.duckdb_sink import dedup_by_id

    packed = contracts.filter(F.col("source_type") != "vyper").select(
        "id", F.to_json("files").alias("files_json")
    )
    extracted = packed.mapInPandas(_extract_batches, schema=FUNCTION_SCHEMA)
    # conflict-ignore dedup (db.rs:208): e.g. a whitespace-variant
    # duplicate dir yields the same function id with a DIFFERENT body
    # slice. The reference keeps whichever insert arrives first; the
    # sink's id dedup keeps the least row, the same under any
    # partitioning or arrival order.
    return dedup_by_id(extracted)
