"""DuckDB sink round-trip: DDL bootstrap, staged-parquet single-writer
load, conflict-ignore idempotence, the tagged-union codec, and source
export (S7-S11)."""

from __future__ import annotations

import ast
import json
import os
import tempfile

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from smart_contract_database_builder_spark import fixtures
from smart_contract_database_builder_spark.compilestage import stage
from smart_contract_database_builder_spark.sinks import duckdb_sink as sink
from smart_contract_database_builder_spark.sinks.streaming_duckdb import (
    exactly_once_upsert,
)
from smart_contract_database_builder_spark.sources import contracts as C

from conftest import SF_SMOKE

_PKG = os.path.dirname(os.path.dirname(os.path.abspath(sink.__file__)))


@pytest.fixture()
def parsed(spark):
    return C.parse_folder_contracts(fixtures.contract_files_df(spark))


def test_store_contracts_and_idempotent_reload(spark, parsed, tmp_path):
    db = str(tmp_path / "sink.duckdb")
    n1 = sink.store_contracts(parsed, db)
    # 6 dirs parse (orphan dropped); the whitespace-variant dup shares
    # its id with demo_single, so only 5 unique contracts land
    assert n1 == 5
    # re-storing the same batch is a no-op (INSERT OR IGNORE, db.rs:174)
    n2 = sink.store_contracts(parsed, db)
    assert n2 == 0
    con = duckdb.connect(db)
    types = dict(
        con.execute(
            "SELECT source_type::VARCHAR, COUNT(*) FROM contract GROUP BY 1"
        ).fetchall()
    )
    con.close()
    assert types == {"json": 1, "single_sol": 2, "vyper": 1, "multi_sol": 1}


def test_storage_shape_is_tagged_union(spark, parsed, tmp_path):
    import json

    db = str(tmp_path / "sink.duckdb")
    sink.store_contracts(parsed, db)
    con = duckdb.connect(db)
    src = con.execute(
        "SELECT source FROM contract WHERE name = 'Tally'"
    ).fetchone()[0]
    con.close()
    tagged = json.loads(src)
    assert list(tagged) == ["MultiSolidity"]
    assert sorted(f["name"] for f in tagged["MultiSolidity"]) == [
        "ITally.sol", "SafeTallyLib.sol", "Tally.sol",
    ]


def test_store_functions_and_read_back(spark, parsed, tmp_path):
    db = str(tmp_path / "sink.duckdb")
    sink.store_contracts(parsed, db)
    fns = stage.extract_functions(parsed)
    n = sink.store_functions(fns, db)
    assert n == fns.count() > 0
    assert sink.store_functions(fns, db) == 0  # idempotent
    con = duckdb.connect(db)
    # the declarative FK join works end-to-end
    joined = con.execute(
        "SELECT COUNT(*) FROM function f JOIN contract c ON f.contract_id = c.id"
    ).fetchone()[0]
    con.close()
    assert joined == n


def test_dedup_by_id_keeps_the_same_twin_in_any_order(spark):
    """Whitespace twins share an id: the dedup keeps the least of them
    whatever order they arrive in, and a flag set on either twin
    survives."""
    rows = [
        ("a", "Vault", "src 1", None),
        ("a", "Vault", "src  1", "dir_b"),
        ("b", "Pool", "src 2", None),
    ]

    def dedup(rs):
        schema = "id string, name string, source string, bad string"
        df = spark.createDataFrame(rs, schema)
        return sorted(sink.dedup_by_id(df.coalesce(1), ["bad"]).collect())

    assert dedup(rows) == dedup(rows[::-1]) == [
        ("a", "Vault", "src  1", "dir_b"),
        ("b", "Pool", "src 2", None),
    ]


def test_read_contracts_roundtrip(spark, parsed, tmp_path):
    db = str(tmp_path / "sink.duckdb")
    sink.store_contracts(parsed, db)
    back = sink.read_contracts(spark, db)
    assert back.count() == 5
    ids_stored = {r["id"] for r in sink.contracts_storage_shape(parsed).collect()}
    ids_back = {r["id"] for r in back.collect()}
    assert ids_back == ids_stored


def _sized_contract_table(db: str, rows: int, table_bytes: int) -> None:
    """A sink file of ``rows`` contracts whose sources add up to about
    ``table_bytes``."""
    con = sink.connect(db)
    try:
        con.execute(
            "INSERT INTO contract SELECT 'id' || i, 'C' || i, '{}', "
            "repeat('x', ?), 'single_sol' FROM range(?) t(i)",
            [table_bytes // rows, rows],
        )
    finally:
        con.close()


def test_read_contracts_partitions_by_size(spark, tmp_path):
    """read_contracts gives each partition about READ_BYTES_PER_TASK of
    the table, never more partitions than Spark made, none of them
    empty: a small table reads back as one partition, one of 2.5 times
    that size as three, and one of many times it keeps every slot."""
    budget, slots = sink.READ_BYTES_PER_TASK, spark.sparkContext.defaultParallelism
    assert slots >= 3
    for name, size, want in [
        ("small", budget // 4, 1),
        ("mid", budget * 5 // 2, 3),
        ("big", budget * (slots + 2), slots),
    ]:
        db = str(tmp_path / f"{name}.duckdb")
        _sized_contract_table(db, 40, size)
        parts = sink.read_contracts(spark, db).rdd.glom().map(len).collect()
        assert len(parts) == want and min(parts) >= 1, (name, parts)
        assert sum(parts) == 40


def test_staged_load_of_an_empty_read(spark, tmp_path):
    """An empty contract table reads back with no partition; extracting
    and storing it still loads, zero rows: Spark stages one empty file
    that carries the schema."""
    db = str(tmp_path / "empty.duckdb")
    sink.connect(db).close()
    back = sink.read_contracts(spark, db)
    assert back.rdd.getNumPartitions() == 0
    fns = stage.extract_functions(sink.contract_files(back))
    assert sink.store_functions(fns, db) == 0
    con = duckdb.connect(db, read_only=True)
    try:
        assert con.execute("SELECT COUNT(*) FROM function").fetchone()[0] == 0
    finally:
        con.close()


def test_export_source_code_sanitizes_paths(spark, tmp_path):
    import json

    db = str(tmp_path / "sink.duckdb")
    con = sink.connect(db)
    source = json.dumps(
        {
            "MultiSolidity": [
                {"name": "../../evil/escape.sol", "content": "contract E {}"},
                {"name": "src/Ok", "content": "contract Ok {}"},
            ]
        }
    )
    con.execute(
        "INSERT INTO contract VALUES ('cid1', 'E', '{}', ?, 'multi_sol')",
        [source],
    )
    con.close()
    out = tmp_path / "export"
    written = sink.export_source_code(db, "cid1", str(out))
    assert len(written) == 2
    for path in written:
        # F15: no traversal outside the export root
        assert str(out) in path and ".." not in path
    # F16: extensionless name gets .sol appended
    assert any(p.endswith("src/Ok.sol") for p in written)


def test_sanitize_path():
    assert sink.sanitize_path("../../a/b.sol") == "a/b.sol"
    assert sink.sanitize_path("/abs/path.sol") == "abs/path.sol"
    assert sink.sanitize_path("./x/./y.sol") == "x/y.sol"


def test_staging_path_with_a_quote(spark, parsed, tmp_path, monkeypatch):
    """The staged files are read through a relation, never through a
    path spliced into SQL text: a quote in the temp dir is harmless."""
    quoted = tmp_path / "it's tmp"
    quoted.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(quoted))
    db = str(tmp_path / "quoted.duckdb")
    assert sink.store_contracts(parsed, db) == 5

    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(20)
    writer = exactly_once_upsert(db, "events_sink", ["event_id"])
    writer(events, 0)
    writer(events, 0)  # a replayed epoch inserts nothing
    con = duckdb.connect(db)
    try:
        n = con.execute("SELECT COUNT(*) FROM events_sink").fetchone()[0]
    finally:
        con.close()
    assert n == events.select("event_id").distinct().count()


_SEGMENT = st.one_of(
    st.text(min_size=1, max_size=6),
    st.sampled_from(["..", ".", "it's", 'say "hi"', "back\\slash", "ünï", "漢字"]),
)
_FILES = st.lists(
    st.tuples(
        st.lists(_SEGMENT, min_size=1, max_size=3).map("/".join),
        st.text(max_size=40),
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda f: f[0],
)
_PROCESSING_SCHEMA = T.StructType([
    T.StructField("id", T.StringType()),
    T.StructField("contract_name", T.StringType()),
    T.StructField("metadata", T.StringType()),
    T.StructField("source_type", T.StringType()),
    T.StructField("files", T.ArrayType(T.StructType([
        T.StructField("filename", T.StringType()),
        T.StructField("content", T.StringType()),
    ]))),
])


@given(single=_FILES, multi=_FILES, vyper=_FILES, sources=_FILES)
@settings(max_examples=8, deadline=None)
def test_codec_round_trip(spark, single, multi, vyper, sources):
    """store_contracts → read_contracts → contract_files gives back the
    files the encoder was handed, for every variant of the union; the
    Json variant's one container file comes back as its sources."""
    container = json.dumps({"sources": {n: {"content": c} for n, c in sources}})
    given_files = {
        "single_sol": single[:1],
        "multi_sol": multi,
        "vyper": vyper[:1],
        "json": [("contract.json", container)],
    }
    parsed = spark.createDataFrame(
        [(t, "C", "{}", t, files) for t, files in given_files.items()],
        _PROCESSING_SCHEMA,
    )
    with tempfile.TemporaryDirectory() as d:
        db = os.path.join(d, "codec.duckdb")
        assert sink.store_contracts(parsed, db) == 4
        back = sink.contract_files(sink.read_contracts(spark, db)).collect()
    got = {r["id"]: [(f["filename"], f["content"]) for f in r["files"]] for r in back}
    assert got == {**given_files, "json": sources}


def _engine_sources() -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(d, f)
                with open(p) as fh:
                    out[os.path.relpath(p, _PKG)] = fh.read()
    return out


def test_sink_protocol_lives_in_one_place():
    """The tagged union's variant names, the staged read, the epoch
    ledger and the sinks' staging dirs appear only in
    sinks/duckdb_sink.py, and no sinks module imports a private name
    from another."""
    home = os.path.join("sinks", "duckdb_sink.py")
    sources = _engine_sources()
    for needle in ("SingleSolidity", "MultiSolidity", "read_parquet(",
                   "_stream_ledger"):
        assert {rel for rel, src in sources.items() if needle in src} == {home}, needle
    sinks = {rel: src for rel, src in sources.items() if rel.startswith("sinks")}
    assert {rel for rel, src in sinks.items() if "TemporaryDirectory(" in src} == {home}
    private = [
        (rel, alias.name)
        for rel, src in sinks.items()
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.ImportFrom) and node.level == 1
        for alias in node.names
        if alias.name.startswith("_")
    ]
    assert private == []
