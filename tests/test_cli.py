"""End-to-end CLI parity: pre-process → index-functions → export-source
over a tmp contract tree, mirroring the reference's documented workflow
(reference README.md:43-49)."""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import duckdb
import pytest

from smart_contract_database_builder_spark import cli, fixtures
from smart_contract_database_builder_spark.sinks import duckdb_sink as sink
from smart_contract_database_builder_spark.sources import contracts as C

from conftest import jobs_of, shuffle_rows_of


@pytest.fixture()
def contract_tree(tmp_path):
    root = tmp_path / "contracts"
    for d, f, content in fixtures.CONTRACT_FILES:
        p = root / d
        p.mkdir(parents=True, exist_ok=True)
        (p / f).write_bytes(content.encode())
    return str(root)


def test_full_cli_workflow(spark, contract_tree, tmp_path):
    db = str(tmp_path / "cli.duckdb")

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    )
    assert rc == 0
    con = duckdb.connect(db)
    n_contracts = con.execute("SELECT COUNT(*) FROM contract").fetchone()[0]
    assert n_contracts == 5  # 6 parsed dirs, whitespace-dup collapses

    rc = cli.main(["index-functions", "--db-file", db])
    assert rc == 0
    n_funcs = con.execute("SELECT COUNT(*) FROM function").fetchone()[0]
    assert n_funcs > 0
    # functions join back to stored contracts through the FK
    orphans = con.execute(
        "SELECT COUNT(*) FROM function f WHERE NOT EXISTS "
        "(SELECT 1 FROM contract c WHERE c.id = f.contract_id)"
    ).fetchone()[0]
    assert orphans == 0

    some_id = con.execute(
        "SELECT id FROM contract WHERE source_type = 'multi_sol'"
    ).fetchone()[0]
    con.close()
    out = tmp_path / "export"
    rc = cli.main(
        ["export-source", "--db-file", db, "--contract-id", some_id,
         "--output-folder", str(out)]
    )
    assert rc == 0
    exported = sorted(p.name for p in out.rglob("*.sol"))
    assert exported == ["ITally.sol", "SafeTallyLib.sol", "Tally.sol"]


def test_cli_etherscan_path(spark, tmp_path):
    root = tmp_path / "escan"
    for addr, content in fixtures.ETHERSCAN_FILES:
        d = root / addr
        d.mkdir(parents=True)
        (d / f"{addr}.json").write_bytes(content.encode())
    db = str(tmp_path / "escan.duckdb")
    rc = cli.main(
        ["pre-process", "--etherscan", "--contracts-root", str(root),
         "--db-file", db]
    )
    assert rc == 0
    con = duckdb.connect(db)
    types = dict(
        con.execute(
            "SELECT source_type::VARCHAR, COUNT(*) FROM contract GROUP BY 1"
        ).fetchall()
    )
    rows = con.execute(
        "SELECT id, name, metadata, source, source_type::VARCHAR FROM contract"
    ).fetchall()
    con.close()
    assert types == {"json": 2, "single_sol": 1}
    # the stored bytes, pinned: sources by their sha256
    assert sorted(
        (i, n, m, hashlib.sha256(s.encode()).hexdigest(), t)
        for i, n, m, s, t in rows
    ) == _ETHERSCAN_ROWS


_ETHERSCAN_ROWS = [
    ("0965735808809b8b72369f339f646ed9", "Wrapped",
     '{"ContractName":"Wrapped","CompilerVersion":"v0.8.18+commit.87f61d96",'
     '"Runs":200,"OptimizationUsed":true}',
     "98bbe6cfb64eae743c7298d005d9847eadc849faaa5c471ca7ec45584d4ce67d", "json"),
    ("5a082c078fdf5056802741fa72f5b403", "BridgeGate",
     '{"ContractName":"BridgeGate","CompilerVersion":"v0.8.21+commit.d9974bed",'
     '"Runs":0,"OptimizationUsed":false}',
     "e7ac0a135efb124f4b2086fd7d78a7423be0a538ee1800b8b67579d947c6a729",
     "single_sol"),
    ("a6a0805fdb20f633d8c272c9a57eba17", "Tally",
     '{"ContractName":"Tally","CompilerVersion":"v0.8.19+commit.7dd6d404",'
     '"Runs":500,"OptimizationUsed":true}',
     "253cdfe8e7d8e101fc7c56c6d02dbbca0ee4bc79cd4978a427f51134cea98323", "json"),
]


def _dump(name: str, source: str) -> str:
    return json.dumps({
        "SourceCode": source, "ContractName": name, "Runs": "200",
        "OptimizationUsed": "1", "CompilerVersion": "v0.8.20+commit.a1b79de6",
    })


def test_cli_etherscan_each_dump_keeps_its_row(spark, tmp_path):
    """One address directory may hold several dumps (the reference keeps
    every ``<address>*.json``, main.rs:124-142). Each must store its own
    metadata and source under its own content id."""
    addr = "0xdddd00000000000000000000000000000000dd04"
    d = tmp_path / "escan" / addr
    d.mkdir(parents=True)
    for k, suffix in enumerate(("", "_v1", "_v2")):
        source = f"contract C{k} {{ function f{k}() public {{}} }}"
        (d / f"{addr}{suffix}.json").write_text(_dump(f"C{k}", source))
    db = str(tmp_path / "multi.duckdb")
    rc = cli.main(["pre-process", "--etherscan", "--contracts-root",
                   str(tmp_path / "escan"), "--db-file", db])
    assert rc == 0
    con = duckdb.connect(db)
    rows = con.execute("SELECT id, name, metadata, source FROM contract").fetchall()
    con.close()
    assert sorted(name for _, name, _, _ in rows) == ["C0", "C1", "C2"]
    for cid, name, metadata, source in rows:
        (file,) = json.loads(source).values()
        assert cid == hashlib.md5(
            re.sub(C.PY_WS_PATTERN, "", file["content"]).encode()
        ).hexdigest()
        assert json.loads(metadata)["ContractName"] == name


def test_cli_strict_mode_fails_on_corrupt_metadata(spark, contract_tree, tmp_path):
    """Default (no flag) ≙ the reference's panic on malformed input
    (main.rs:107): a broken metadata.json fails the job with a nonzero
    exit; --ignore-errors keeps the lenient skip-and-continue path."""
    import pathlib

    broken = pathlib.Path(contract_tree) / "broken_dir"
    broken.mkdir()
    (broken / "metadata.json").write_text('{"ContractName": "Trunc')
    (broken / "main.sol").write_text("contract X {}")
    db = str(tmp_path / "strict.duckdb")

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    )
    assert rc == 1

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db,
         "--ignore-errors"]
    )
    assert rc == 0
    con = duckdb.connect(db)
    n = con.execute("SELECT COUNT(*) FROM contract").fetchone()[0]
    con.close()
    assert n >= 5  # lenient path still loads the healthy dirs


def test_cli_strict_mode_fails_on_corrupt_contract_json(spark, contract_tree, tmp_path):
    """A corrupt standard-json CONTAINER must fail strict pre-process up
    front: without the probe it would load fine and only surface at
    index-functions time as silently-zero function rows (the sources
    explode yields null), where the reference errors at its serde parse
    (get_source_files)."""
    import pathlib

    broken = pathlib.Path(contract_tree) / "broken_json_dir"
    broken.mkdir()
    (broken / "metadata.json").write_text('{"ContractName": "B"}')
    (broken / "contract.json").write_text('{"sources": {"a.sol": ')  # truncated
    db = str(tmp_path / "strict_cj.duckdb")

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    )
    assert rc == 1

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db,
         "--ignore-errors"]
    )
    assert rc == 0


def test_cli_strict_mode_fails_on_corrupt_etherscan_dump(spark, tmp_path):
    root = tmp_path / "escan"
    addr = "0xdeadbeef00000000000000000000000000000001"
    d = root / addr
    d.mkdir(parents=True)
    (d / f"{addr}.json").write_text('{"ContractName": "nope"')  # truncated
    db = str(tmp_path / "strict_escan.duckdb")
    rc = cli.main(
        ["pre-process", "--etherscan", "--contracts-root", str(root),
         "--db-file", db]
    )
    assert rc == 1
    assert _contract_rows(db) == 0


def test_cli_ignore_errors_skips_truncated_etherscan_dump(spark, tmp_path):
    """Lenient mode skips a dump whose parse yields no id (the folder
    path likewise skips malformed dirs) instead of failing the insert
    on contract.id NOT NULL; the healthy dump is still stored."""
    root = tmp_path / "escan"
    addr, content = fixtures.ETHERSCAN_FILES[0]
    bad = "0xdeadbeef00000000000000000000000000000001"
    for a, text in ((addr, content), (bad, '{"ContractName": "nope"')):
        (root / a).mkdir(parents=True)
        (root / a / f"{a}.json").write_text(text)
    db = str(tmp_path / "lenient_escan.duckdb")
    rc = cli.main(
        ["pre-process", "--etherscan", "--contracts-root", str(root),
         "--db-file", db, "--ignore-errors"]
    )
    assert rc == 0
    assert _contract_rows(db) == 1


def test_cli_export_missing_contract(tmp_path):
    """export-source is a read-only lookup: a missing file fails with
    rc 1 and is NOT created (nor bootstrapped) as a side effect."""
    import os

    db = str(tmp_path / "empty.duckdb")
    rc = cli.main(
        ["export-source", "--db-file", db, "--contract-id", "nope",
         "--output-folder", str(tmp_path / "x")]
    )
    assert rc == 1
    assert not os.path.exists(db)
    assert not os.path.exists(str(tmp_path / "x"))

    # an existing file that was never bootstrapped: no table, still rc 1
    duckdb.connect(db).close()
    rc = cli.main(
        ["export-source", "--db-file", db, "--contract-id", "nope",
         "--output-folder", str(tmp_path / "x")]
    )
    assert rc == 1


def _contract_rows(db: str) -> int:
    """Rows in the contract table; 0 when the file was never created."""
    import os

    if not os.path.exists(db):
        return 0
    con = duckdb.connect(db, read_only=True)
    try:
        return con.execute("SELECT COUNT(*) FROM contract").fetchone()[0]
    finally:
        con.close()


def _extracted_rows(db: str) -> int:
    """Stored contracts that index-functions extracts: all but vyper."""
    con = duckdb.connect(db, read_only=True)
    try:
        return con.execute(
            "SELECT COUNT(*) FROM contract WHERE source_type <> 'vyper'"
        ).fetchone()[0]
    finally:
        con.close()


def _bootstrapped(db: str) -> str:
    """An existing, empty sink file: a strict failure must leave it so."""
    from smart_contract_database_builder_spark.sinks.duckdb_sink import connect

    connect(db).close()
    return db


def test_cli_strict_mode_flag_survives_whitespace_twin_dedup(
    spark, contract_tree, tmp_path, capsys
):
    """The corrupt-metadata flag is carried through the id dedup with
    min(): a whitespace-variant twin of a healthy dir has the same
    content id, and its corrupt metadata.json must still fail strict
    mode instead of being deduped away in favour of the healthy row."""
    import pathlib

    from smart_contract_database_builder_spark import fixtures as fx

    twin = pathlib.Path(contract_tree) / "demo_single_twin"
    twin.mkdir()
    (twin / "metadata.json").write_text('{"ContractName": "Vau')
    (twin / "main.sol").write_text(fx._VAULT_SOL_WS_VARIANT)
    db = _bootstrapped(str(tmp_path / "twin.duckdb"))

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    )
    assert rc == 1
    err = capsys.readouterr().err
    assert "malformed metadata.json under" in err
    assert "demo_single_twin" in err
    assert _contract_rows(db) == 0


def test_cli_strict_mode_metadata_message_wins(spark, contract_tree, tmp_path, capsys):
    """Both files of one dir corrupt: the metadata.json check has
    priority, as when the checks ran one after the other."""
    import pathlib

    broken = pathlib.Path(contract_tree) / "both_broken"
    broken.mkdir()
    (broken / "metadata.json").write_text('{"ContractName": ')
    (broken / "contract.json").write_text('{"sources": ')
    db = _bootstrapped(str(tmp_path / "both.duckdb"))

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    )
    assert rc == 1
    err = capsys.readouterr().err
    assert "malformed metadata.json under" in err
    assert "contract.json" not in err
    assert _contract_rows(db) == 0


def test_cli_strict_mode_skips_contract_json_of_unread_dirs(spark, contract_tree, tmp_path):
    """A corrupt contract.json in a dir WITHOUT metadata.json passes
    strict mode: that dir is never ingested (the reference reads only
    metadata dirs, main.rs:96-104), so its files are not checked."""
    import pathlib

    orphan = pathlib.Path(contract_tree) / "orphan_json_dir"
    orphan.mkdir()
    (orphan / "contract.json").write_text('{"sources": {"a.sol": ')
    db = str(tmp_path / "narrowed.duckdb")

    rc = cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    )
    assert rc == 0
    assert _contract_rows(db) == 5


def test_cli_chunk_size_does_not_leak_into_the_session(spark, contract_tree, tmp_path):
    """--chunk-size sets the scan split budget for its own command only:
    the session's prior value is back when the command returns, on
    success and on a strict-mode failure alike."""
    import pathlib

    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    db = str(tmp_path / "chunk.duckdb")
    argv = ["pre-process", "--contracts-root", contract_tree, "--db-file", db,
            "--chunk-size", "1"]
    assert cli.main(argv) == 0
    assert spark.conf.get(key) == prior

    broken = pathlib.Path(contract_tree) / "broken_dir"
    broken.mkdir()
    (broken / "metadata.json").write_text('{"ContractName": "Trunc')
    (broken / "main.sol").write_text("contract X {}")
    assert cli.main(argv) == 1
    assert spark.conf.get(key) == prior


def test_strict_pre_process_job_budget(spark, tmp_path):
    """A strict folder pre-process of a tree with more directories than
    Spark's parallel-listing threshold (32) costs one listing job with
    at most one task per slot, plus the write's jobs: the strict checks
    add no probe job, so it runs exactly as many jobs as the lenient
    run."""
    root = tmp_path / "wide"
    copies = 6  # 6 x 7 fixture dirs = 42 dirs
    for k in range(copies):
        for d, f, content in fixtures.CONTRACT_FILES:
            p = root / f"{d}_{k}"
            p.mkdir(parents=True, exist_ok=True)
            (p / f).write_bytes(content.encode())
    slots = spark.sparkContext.defaultParallelism

    def run(tag: str, *flags: str):
        db = str(tmp_path / f"{tag}.duckdb")
        return jobs_of(spark, f"budget-{tag}", [
            "pre-process", "--contracts-root", str(root), "--db-file", db, *flags])

    strict = run("strict")
    lenient = run("lenient", "--ignore-errors")
    # the listing runs inside DataFrameReader.load, so its stage is
    # named after that call site
    listing = [j for j in strict if any(n.startswith("load at") for n, _ in j)]
    assert len(listing) == 1, strict
    assert sum(t for _, t in listing[0]) <= slots
    names = [n for j in strict for n, _ in j]
    assert not [n for n in names if n.startswith(("take", "collect", "head"))], names
    assert len(strict) == len(lenient), (strict, lenient)


def test_etherscan_pre_process_plan_and_job_budget(spark, tmp_path, monkeypatch):
    """The frame an Etherscan pre-process hands to the sink's loader
    parses each dump once: its executed plan has no join. Over more
    address dirs than the parallel-listing threshold, strict and
    lenient runs fire the same jobs, like the folder path above."""
    from pyspark.sql.readwriter import DataFrameWriter

    root = tmp_path / "wide"
    for k in range(14):  # 14 x 3 dumps = 42 address dirs
        for addr, content in fixtures.ETHERSCAN_FILES:
            a = f"{addr[:-4]}{k:04d}"
            (root / a).mkdir(parents=True)
            (root / a / f"{a}.json").write_text(content)
    staged = []
    write = DataFrameWriter.parquet

    def spy(writer, *a, **k):
        staged.append(writer._df)
        return write(writer, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    slots = spark.sparkContext.defaultParallelism

    def run(tag: str, *flags: str):
        db = str(tmp_path / f"{tag}.duckdb")
        return jobs_of(spark, f"escan-budget-{tag}", [
            "pre-process", "--etherscan", "--contracts-root", str(root),
            "--db-file", db, *flags])

    strict = run("strict")
    lenient = run("lenient", "--ignore-errors")
    assert len(staged) == 2
    for df in staged:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
    listing = [j for j in strict if any(n.startswith("load at") for n, _ in j)]
    assert len(listing) == 1, strict
    assert sum(t for _, t in listing[0]) <= slots
    names = [n for j in strict for n, _ in j]
    assert not [n for n in names if n.startswith(("take", "collect", "head"))], names
    assert len(strict) == len(lenient), (strict, lenient)


@pytest.fixture()
def stored_db(spark, contract_tree, tmp_path) -> str:
    """The fixture tree pre-processed into a sink file."""
    db = str(tmp_path / "base.duckdb")
    assert cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    ) == 0
    return db


def _copy(db: str, tag: str) -> str:
    """A copy of ``db`` next to it: every index-functions run of a test
    reads the same contract rows."""
    out = os.path.join(os.path.dirname(db), f"{tag}.duckdb")
    shutil.copy(db, out)
    return out


def _function_rows(db: str) -> list[tuple]:
    con = duckdb.connect(db, read_only=True)
    try:
        return con.execute("SELECT * FROM function ORDER BY id").fetchall()
    finally:
        con.close()


def test_index_functions_task_budget(spark, stored_db, monkeypatch):
    """index-functions starts one Python task per READ_BYTES_PER_TASK of
    stored contracts, never more than Spark's read made, and none
    without rows. The fixtures' contracts are far below that size: one
    job, no stage with more than one task (the id dedup needs no
    exchange). At one byte per task the read keeps every partition
    Spark made, each holds a row, the extraction stage has one task per
    partition, and the stored function rows are the same."""
    one = _copy(stored_db, "one")
    jobs = jobs_of(spark, "ix-budget-one", ["index-functions", "--db-file", one])
    assert len(jobs) == 1, jobs
    assert max(t for j in jobs for _, t in j) == 1, jobs

    many = _copy(stored_db, "many")
    monkeypatch.setattr(sink, "READ_BYTES_PER_TASK", 1)
    parts = sink.read_contracts(spark, many).rdd.glom().map(len).collect()
    jobs = jobs_of(spark, "ix-budget-many", ["index-functions", "--db-file", many])
    slots = min(_contract_rows(stored_db), spark.sparkContext.defaultParallelism)
    assert slots >= 2
    assert len(parts) == slots and min(parts) >= 1, parts
    # the extraction is the first job's one stage, ahead of the dedup
    # exchange
    assert [t for _, t in jobs[0]] == [slots], jobs
    assert max(t for j in jobs for _, t in j) == slots, jobs
    assert _function_rows(many) == _function_rows(one)


def test_index_functions_on_an_empty_contract_table(spark, tmp_path, capsys):
    """No stored contract: nothing to extract, and no Spark task."""
    db = _bootstrapped(str(tmp_path / "empty.duckdb"))
    assert jobs_of(spark, "ix-empty", ["index-functions", "--db-file", db]) == []
    assert "stored 0 new functions" in capsys.readouterr().out
    assert _function_rows(db) == []


def test_index_functions_chunk_size(spark, stored_db):
    """--chunk-size k stores the same rows as a run without it; the
    extraction stage reads the ceil(n/k) partitions of the repartition,
    n the rows it extracts, none of them empty."""
    plain = _copy(stored_db, "plain")
    assert cli.main(["index-functions", "--db-file", plain]) == 0
    chunked = _copy(stored_db, "chunked")
    jobs = jobs_of(spark, "ix-chunk",
                   ["index-functions", "--db-file", chunked, "--chunk-size", "2"])
    parts = -(-_extracted_rows(stored_db) // 2)
    assert max(t for j in jobs for _, t in j) == parts, jobs
    extraction = [s for s in shuffle_rows_of(spark, "ix-chunk") if len(s) == parts]
    assert len(extraction) == 1 and min(extraction[0]) >= 1, extraction
    assert _function_rows(chunked) == _function_rows(plain)


def test_index_functions_chunk_size_counts_only_extracted_rows(
    spark, contract_tree, tmp_path
):
    """On a tree that is mostly vyper, --chunk-size 1 sizes the
    extraction by the non-vyper rows alone: one task per extracted
    contract, and no task that reads zero rows."""
    vy = os.path.join(contract_tree, "demo_vyper")
    for i in range(6):
        twin = os.path.join(contract_tree, f"vyper_{i}")
        shutil.copytree(vy, twin)
        with open(os.path.join(twin, "main.vy"), "a") as f:
            f.write(f"# pool {i}\n")
    db = str(tmp_path / "vyper.duckdb")
    assert cli.main(
        ["pre-process", "--contracts-root", contract_tree, "--db-file", db]
    ) == 0
    n = _extracted_rows(db)
    assert 0 < n < _contract_rows(db) - n
    jobs_of(spark, "ix-vyper",
            ["index-functions", "--db-file", db, "--chunk-size", "1"])
    extraction = next(s for s in shuffle_rows_of(spark, "ix-vyper") if sum(s))
    assert len(extraction) == n and min(extraction) >= 1, extraction


def test_cli_download_solc_gated():
    rc = cli.main(["download-solc"])
    assert rc in (0, 1)  # 1 in this environment (no solcx)


def test_curate_command_exports_training_shards(spark, tmp_path, capsys):
    """The EXT curate command: documents parquet in, sorted training
    shards out, one-line JSON summary on stdout."""
    import glob
    import json
    import os

    from smart_contract_database_builder_spark.cli import main
    from conftest import SF_SMOKE

    out = str(tmp_path / "shards")
    rc = main([
        "curate",
        "--documents", f"{SF_SMOKE}/documents.parquet",
        "--output", out,
        "--shards", "4",
    ])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["kept_docs"] > 0
    assert summary["kept_tokens"] > 0
    shard_dirs = sorted(glob.glob(os.path.join(out, "shard=*")))
    assert len(shard_dirs) == 4
    back = spark.read.parquet(out)
    assert back.count() == summary["kept_docs"]
    # payload carries the surviving text and the training order
    assert {"doc_id", "text", "lang", "source", "n_tok",
            "shuffle_key", "pos_in_shard"} <= set(back.columns)


def test_curate_jsonl_drops_docid_null_lines(spark, tmp_path, capsys):
    """A valid-JSON line MISSING doc_id is as unusable as a corrupt
    line: the curate command must both COUNT it as malformed and
    actually FILTER it (previously it was reported dropped but only
    disappeared later inside joins on the null key)."""
    import json
    import glob
    import os

    from smart_contract_database_builder_spark.cli import main
    from conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(60)
    lines = [
        json.dumps(
            {k: (v.isoformat() if hasattr(v, "isoformat") else v)
             for k, v in r.asDict().items()}
        )
        for r in docs.collect()
    ]
    lines.insert(3, "{ this is not json")          # corrupt
    lines.insert(7, json.dumps({"text": "no id"}))  # valid JSON, no doc_id
    src = tmp_path / "docs.jsonl"
    src.write_text("\n".join(lines) + "\n")

    out = str(tmp_path / "shards")
    rc = main([
        "curate", "--jsonl",
        "--documents", str(src),
        "--output", out,
        "--shards", "2",
    ])
    assert rc == 0
    captured = capsys.readouterr()
    assert "dropping 2 malformed line(s)" in captured.err
    summary = json.loads(captured.out.strip().splitlines()[-1])
    assert summary["kept_docs"] > 0
    back = spark.read.parquet(out)
    # nothing with a null doc_id survives anywhere in the export
    assert back.filter("doc_id IS NULL").count() == 0
    assert len(glob.glob(os.path.join(out, "shard=*"))) == 2


def test_curate_interleave_order_round_robins_sources(spark, tmp_path, capsys):
    """--order interleave: reading the shards back in (shard, pos)
    order must reproduce the deterministic source round-robin — checked
    EXACTLY against a pandas re-derivation of the same rule."""
    import glob
    import hashlib
    import json
    import os

    from smart_contract_database_builder_spark.cli import main
    from conftest import SF_SMOKE

    out = str(tmp_path / "shards")
    rc = main([
        "curate",
        "--documents", f"{SF_SMOKE}/documents.parquet",
        "--output", out,
        "--shards", "4",
        "--order", "interleave",
    ])
    assert rc == 0
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(glob.glob(os.path.join(out, "shard=*"))) == 4

    back = (
        spark.read.parquet(out)
        .orderBy("shard", "pos_in_shard")
        .select("doc_id", "source")
        .collect()
    )
    got = [(r.doc_id, r.source) for r in back]

    # independent model: rank within source by (md5(seed||id), id),
    # then order by (intra, source, key, id)
    def key(doc_id):
        return hashlib.md5(f"seed42:{doc_id}".encode()).hexdigest()

    rows = [(r.doc_id, r.source) for r in
            spark.read.parquet(out).select("doc_id", "source").collect()]
    by_source: dict = {}
    for d, src in sorted(rows, key=lambda t: (key(t[0]), t[0])):
        by_source.setdefault(src, []).append(d)
    model = []
    for d, src in rows:
        intra = by_source[src].index(d) + 1
        model.append((intra, src, key(d), d))
    model.sort()
    want = [(d, src) for _, src, _, d in model]
    assert got == want
    # the head of the order cycles through distinct sources
    n_src = len(by_source)
    head = [s for _, s in got[:n_src]]
    assert len(set(head)) == n_src


def test_analyze_emits_corpus_profile(spark, capsys):
    """EXT `analyze`: one JSON object composing the report operators —
    languages/sources enumerated, envelopes ordered, pass rate in
    (0, 1]."""
    import json

    rc = cli.main(["analyze", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {r["lang"] for r in out["length_by_lang"]}
    assert {r["source"] for r in out["dup_rate_by_source"]}
    for key in ("entropy_nats", "surprisal_nats"):
        env = out[key]
        assert env["min"] <= env["mean"] <= env["max"]
    g = out["gopher"]
    assert 0 < g["docs"] and 0 <= g["kept"] <= g["docs"]
    assert g["pass_rate"] is not None


def test_analyze_profiles_jsonl_corpus(spark, tmp_path, capsys):
    """`analyze --jsonl`: the same profile over a JSONL corpus,
    malformed lines excluded before profiling."""
    import json

    lines = [
        json.dumps({"doc_id": i, "text": f"alpha beta gamma doc{i}",
                    "lang": "en", "source": "s1", "n_chars": 20})
        for i in range(30)
    ] + ["{not json", json.dumps({"text": "no id"})]
    path = tmp_path / "corpus.jsonl"
    path.write_text("\n".join(lines))

    rc = cli.main(["analyze", "--jsonl", str(path)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["gopher"]["docs"] == 30  # malformed + id-less excluded
    assert {r["lang"] for r in out["length_by_lang"]} == {"en"}
    # the scratch parquet copy of the corpus must not leak (ADVICE r6)
    import glob
    import tempfile

    assert glob.glob(f"{tempfile.gettempdir()}/analyze_jsonl_*") == []


def test_analyze_requires_a_source_flag(capsys):
    """`analyze` with neither --sf-dir nor --jsonl must fail at the
    parser with a usage error (exit 2), not an opaque traceback from
    load_table(None) (ADVICE r6)."""
    import pytest

    with pytest.raises(SystemExit) as ei:
        cli.main(["analyze"])
    assert ei.value.code == 2
    assert "--sf-dir" in capsys.readouterr().err


def test_curate_readability_band_drops_docs(spark, tmp_path, capsys):
    """`curate --min-flesch/--max-flesch`: the v2 readability stage is
    reachable from the CLI, and a band must keep a strict subset of the
    unbanded run's documents."""
    import glob
    import os

    out_all = str(tmp_path / "all")
    rc = cli.main([
        "curate", "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_all, "--shards", "2",
    ])
    assert rc == 0
    out_band = str(tmp_path / "band")
    rc = cli.main([
        "curate", "--documents", "/root/testdata/sf0.001/documents.parquet",
        "--output", out_band, "--shards", "2",
        "--min-flesch", "0", "--max-flesch", "80",
    ])
    assert rc == 0

    def _ids(path):
        files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        df = spark.read.parquet(*files) if files else None
        return {r["doc_id"] for r in df.select("doc_id").collect()} if df is not None else set()

    a, b = _ids(out_all), _ids(out_band)
    assert b and b < a
