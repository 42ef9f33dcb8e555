"""The workloads: what each generates, warms, runs and checks.

A workload hands ``run.py`` a list of ops per pass. Every op is a
closure ``op(ctx)`` run inside the op's root span; it opens its own
layer spans and returns a sample kind: ``query`` (the latency that
``query_p50_s`` reports) or ``export``. Checks run outside every timed
region.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import hashlib
import io
import os
import random
import re
import shutil
import time

import inputs

#: Row counts of the base table set (the engine's sf0.01 test-data shape)
#: and of the much smaller set the smoke tests use.
SIZES = {
    "full": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, users=150, documents=500,
                 embeddings=500),
    "tiny": dict(customer=150, supplier=10, part=200, orders=1500,
                 lineitem=6000, events=1000, users=15, documents=120,
                 embeddings=120),
}
TREE = {"full": dict(dirs=200, exports=60), "tiny": dict(dirs=30, exports=10)}


def _capture(fn, *a):
    """Call ``fn`` with stdout captured (the CLI prints its results)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = fn(*a)
    return rc, buf.getvalue()


# ---------------------------------------------------------------------------
# Output comparison against the DuckDB oracle
# ---------------------------------------------------------------------------


def canonical(pdf):
    """Column-sorted, row-sorted, type-normalized frame (the rules of the
    engine's oracle-parity tests)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("Int64")
        elif s.dtype == object:
            pdf[c] = s.map(
                lambda v: repr(sorted(v)) if isinstance(v, (list, np.ndarray, set))
                else (v.isoformat() if isinstance(v, (dt.date, dt.datetime))
                      else (repr(v) if isinstance(v, (dict, tuple)) else v)))
    return pdf.sort_values(by=list(pdf.columns), na_position="first").reset_index(drop=True)


def value_hash(pdf) -> tuple[int, list[str], str]:
    """Row count, column names and an order-insensitive hash of the
    canonical values."""
    c = canonical(pdf)
    h = hashlib.sha256()
    for row in c.itertuples(index=False):
        h.update(repr(tuple(None if _isna(v) else v for v in row)).encode())
    return len(c), list(c.columns), h.hexdigest()


def _isna(v) -> bool:
    try:
        return bool(v != v) or v is None or str(v) == "<NA>"
    except (TypeError, ValueError):
        return False


# ---------------------------------------------------------------------------
# Corpus analytics
# ---------------------------------------------------------------------------


class CorpusDedupSearch:
    """Registered queries over one generated table set, in one warm
    session. Queries in ``stored`` run twice per pass against a fresh
    store root: the first call builds the store, the second reads it."""

    name = "corpus-dedup-search"
    why = ("builder-heavy dedup/search queries, a store build+read and a "
           "streaming drain in one warm session: builders, eager jobs, stores")
    queries = (
        # a builder-heavy target of the eager-action work
        "llm_setsim_join_exact",
        # from the warm-session regression cluster
        "llm_nb_langid",
        # an availableNow structured-streaming drain over events
        "stream_true_tumbling_availablenow",
    )
    stored = ("llm_minhash_lsh_pairs_stored",)

    def __init__(self, scale: str, work: str) -> None:
        self.scale, self.work = scale, work
        self.data = ""
        self.expected_stores: int | None = None
        self.store_root = ""

    # -- inputs ------------------------------------------------------------
    def prepare(self, cache: str, seed: int) -> dict:
        base = os.path.join(cache, f"base-{self.scale}-{seed}")
        info = inputs.cached(base, lambda out: inputs.base_tables(
            out, seed, SIZES[self.scale]))
        self.data = base
        return info

    # -- setup -------------------------------------------------------------
    def warmup(self, spark) -> None:
        """Fixed small job set: a shuffle, and a scan of the documents."""
        from smart_contract_database_builder_spark.sources.tables import load_table

        spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
        load_table(spark, self.data, "documents").count()

    # -- passes ------------------------------------------------------------
    def pass_ops(self, rng: random.Random) -> list[tuple[str, object]]:
        """The stored queries' first calls lead (they build the stores,
        whichever query of the family would otherwise come first); the
        rest follow in seeded order."""
        rest = list(self.queries) + list(self.stored)
        rng.shuffle(rest)
        ops = [(f"{q}#build", self._query_op(q)) for q in self.stored]
        ops += [(f"{q}#read" if q in self.stored else q, self._query_op(q)) for q in rest]
        return ops

    def _query_op(self, q: str):
        from smart_contract_database_builder_spark.plans import QUERIES

        fn = QUERIES[q].fn

        def op(ctx):
            ctx.phase("builder")
            with ctx.tracer.span("plans.builder"):
                df = fn(ctx.spark, self.data)
            if ctx.traced:
                ctx.phase("plan")
                with ctx.tracer.span("catalyst.plan") as sp:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    sp["exchanges"] = len(re.findall(r"(?<!Reused)Exchange\b", plan))
                    sp["reused_exchanges"] = plan.count("ReusedExchange")
            ctx.phase("exec")
            with ctx.tracer.span("exec.run"):
                df.write.format("noop").mode("overwrite").save()
            return "query"

        return op

    def begin_pass(self, ctx, i: int) -> None:
        # the engine attaches built stores to the session catalog under a
        # name keyed by the input, not by the store root: drop them, or the
        # next pass would read the previous pass's (deleted) store
        for t in ctx.spark.catalog.listTables():
            if t.isTemporary:
                ctx.spark.catalog.dropTempView(t.name)
            else:
                ctx.spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        self.store_root = os.path.join(self.work, "stores", f"pass-{i}")
        shutil.rmtree(self.store_root, ignore_errors=True)
        os.makedirs(self.store_root)
        os.environ["SPARK_GRAFT_STORE_ROOT"] = self.store_root

    def micro_measures(self) -> dict:
        return {}

    def end_pass(self, ctx, i: int) -> dict:
        """Count the stores the pass built: the first pass sets how many
        every later pass (and the verify pass) must build."""
        built = _store_markers(self.store_root)
        rec = {"store_builds": built,
               "store_mb": inputs.dir_stats(self.store_root)["bytes"] / 2**20}
        if self.expected_stores is None:
            self.expected_stores = built
            ctx.record["expected_stores_per_pass"] = built
            ctx.check(f"pass {i} built {built} stores, expected at least one", built > 0)
        else:
            ctx.check(f"pass {i} built {built} stores, expected {self.expected_stores}",
                      built == self.expected_stores)
        shutil.rmtree(self.store_root, ignore_errors=True)
        return rec

    # -- correctness -------------------------------------------------------
    def verify(self, ctx) -> None:
        """Run every query once (stored ones twice, build then read,
        against a fresh store root) and compare it with its DuckDB
        oracle: row count, columns and value hash. Every query in the
        mix carries an oracle. Runs after the timed passes, so the
        session is warm and the check is short."""
        import duckdb

        from smart_contract_database_builder_spark.plans import QUERIES

        con = duckdb.connect()
        for t in inputs.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data}/{t}.parquet')")
        self.begin_pass(ctx, -1)
        for q in list(self.queries) + [s for s in self.stored for _ in (0, 1)]:
            spec = QUERIES[q]
            ctx.tracer.op = f"verify:{q}"
            with ctx.tracer.span("verify", query=q):
                try:
                    got = value_hash(spec.fn(ctx.spark, self.data).toPandas())
                    ok = got == value_hash(con.execute(spec.oracle).df())
                    what = f"{got[0]} rows, oracle value hash"
                except Exception as exc:  # counted, not fatal
                    ok, what = False, f"{type(exc).__name__}: {exc}"[:300]
            ctx.check(f"{q}: {what}", ok)
        ctx.tracer.op = None
        con.close()
        built = _store_markers(self.store_root)
        ctx.check(f"verify pass built {built} stores, expected {self.expected_stores}",
                  built == self.expected_stores)
        shutil.rmtree(self.store_root, ignore_errors=True)


def _store_markers(root: str) -> int:
    return sum("_STORE_COMPLETE" in names for _, _, names in os.walk(root))


# ---------------------------------------------------------------------------
# Contract ingest
# ---------------------------------------------------------------------------


class ContractIngest:
    """The reference's pipeline through the CLI, on a fresh DuckDB file
    per pass: pre-process, index-functions, pre-process again (all
    duplicates) and seeded export-source lookups."""

    name = "contract-ingest"
    why = ("the reference's write path (contract scan, DuckDB sink, function "
           "extraction, keccak, export): the only write-heavy workload")

    def __init__(self, scale: str, work: str) -> None:
        self.scale, self.work = scale, work
        self.tree = self.manifest = None
        self.db = ""
        self.inserted: dict[str, int] = {}
        self.exported: list[tuple[str, str]] = []
        self._id_map: dict[str, str] = {}
        self._ids_db = None

    def prepare(self, cache: str, seed: int) -> dict:
        cfg = TREE[self.scale]
        path = os.path.join(cache, f"tree-{self.scale}-{seed}")
        self.manifest = inputs.cached(path, lambda out: inputs.contract_tree(
            out, seed, cfg["dirs"]))
        self.tree = os.path.join(path, "tree")
        warm = os.path.join(cache, "tree-warmup")
        inputs.cached(warm, lambda out: inputs.contract_tree(out, 0, 12))
        self.warm_tree = os.path.join(warm, "tree")
        self.rng_seed = seed
        return {k: v for k, v in self.manifest.items() if k != "by_dir"}

    def warmup(self, spark) -> None:
        """A CLI pre-process of a fixed 12-dir tree into a scratch file."""
        from smart_contract_database_builder_spark import cli

        db = os.path.join(self.work, "warmup.duckdb")
        if os.path.exists(db):
            os.remove(db)
        rc, _ = _capture(cli.main, ["pre-process", "--contracts-root", self.warm_tree,
                                    "--db-file", db])
        if rc != 0:
            raise RuntimeError(f"warm-up pre-process exited {rc}")
        os.remove(db)

    def verify(self, ctx) -> None:
        """Nothing left to check: every pass, the warm ones too, is
        checked after it ends (``end_pass``)."""

    def begin_pass(self, ctx, i: int) -> None:
        self.pass_dir = os.path.join(self.work, "ingest", f"pass-{i}")
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        os.makedirs(self.pass_dir)
        self.db = os.path.join(self.pass_dir, "contracts.duckdb")
        self.inserted = {}
        self.exported = []

    def pass_ops(self, rng: random.Random) -> list[tuple[str, object]]:
        from smart_contract_database_builder_spark import cli

        def step(key: str, args: list[str]):
            def op(ctx):
                ctx.phase("exec")
                with ctx.tracer.span("cli.run", command=args[0]):
                    rc, out = _capture(cli.main, args)
                if rc != 0:
                    raise RuntimeError(f"{args[0]} exited {rc}")
                self.inserted[key] = int(re.search(r"stored (\d+) new", out).group(1))
                return "query"
            return op

        pre = ["pre-process", "--contracts-root", self.tree, "--db-file", self.db]
        ops = [("pre-process", step("contracts", pre)),
               ("index-functions", step("functions", ["index-functions",
                                                      "--db-file", self.db])),
               ("pre-process#repeat", step("repeat", pre))]
        names = sorted(self.manifest["by_dir"])
        picks = [names[rng.randrange(len(names))] for _ in range(TREE[self.scale]["exports"])]
        for k, d in enumerate(picks):
            ops.append((f"export-source#{k}", self._export_op(d, k)))
        return ops

    def _export_op(self, d: str, k: int):
        from smart_contract_database_builder_spark import cli

        def op(ctx):
            cid = self._ids()[self.manifest["by_dir"][d]["name"]]
            out = os.path.join(self.pass_dir, "export", str(k))
            with ctx.tracer.span("cli.run", command="export-source"):
                rc, _ = _capture(cli.main, ["export-source", "--db-file", self.db,
                                            "--contract-id", cid, "--output-folder", out])
            if rc != 0:
                raise RuntimeError(f"export-source {cid} exited {rc}")
            self.exported.append((d, out))
            return "export"

        return op

    def _ids(self) -> dict[str, str]:
        """Contract name -> id, read once per pass from the pass's file."""
        if self._ids_db != self.db:
            import duckdb

            con = duckdb.connect(self.db, read_only=True)
            try:
                self._id_map = dict(con.execute("SELECT name, id FROM contract").fetchall())
            finally:
                con.close()
            self._ids_db = self.db
        return self._id_map

    def end_pass(self, ctx, i: int) -> dict:
        """Check the pass's file, lookups and insert counts (untimed)."""
        import duckdb

        rec = {"db_mb": os.path.getsize(self.db) / 2**20 if os.path.exists(self.db) else 0.0,
               "inserted": dict(self.inserted)}
        m = self.manifest
        ctx.check(f"pass {i}: contracts inserted {self.inserted.get('contracts')} "
                  f"== {m['contracts']}", self.inserted.get("contracts") == m["contracts"])
        ctx.check(f"pass {i}: functions inserted {self.inserted.get('functions')} "
                  f"== {m['functions']}", self.inserted.get("functions") == m["functions"])
        ctx.check(f"pass {i}: repeated pre-process inserted "
                  f"{self.inserted.get('repeat')} == 0", self.inserted.get("repeat") == 0)
        con = duckdb.connect(self.db, read_only=True)
        try:
            n_c = con.execute("SELECT count(*) FROM contract").fetchone()[0]
            n_f = con.execute("SELECT count(*) FROM function").fetchone()[0]
            ctx.check(f"pass {i}: table rows {n_c}/{n_f} == "
                      f"{m['contracts']}/{m['functions']}",
                      (n_c, n_f) == (m["contracts"], m["functions"]))
            self._check_golden(ctx, con, i)
        finally:
            con.close()
        for d, out in self.exported:
            ctx.check(f"pass {i}: export of {d}", self._export_ok(d, out))
        self._ids_db = None
        shutil.rmtree(self.pass_dir, ignore_errors=True)
        return rec

    def micro_measures(self) -> dict:
        """Single-thread direct calls into the extraction scanner and the
        keccak selector, over every source file and signature of the tree."""
        import json

        from smart_contract_database_builder_spark.compilestage import solidity
        from smart_contract_database_builder_spark.functions import keccak

        sources = []
        for d, c in sorted(self.manifest["by_dir"].items()):
            for name in c["files"]:
                with open(os.path.join(self.tree, d, name), encoding="utf-8") as fh:
                    text = fh.read()
                if name.endswith(".json"):
                    sources += [e["content"] for e in json.loads(text)["sources"].values()]
                elif name.endswith(".sol"):
                    sources.append(text)
        t0 = time.perf_counter()
        for src in sources:
            solidity.extract_file_functions(src)
        extract_s = time.perf_counter() - t0
        sigs = [r[3] for c in self.manifest["by_dir"].values() for r in c["rows"]]
        t0 = time.perf_counter()
        for sig in sigs:
            keccak.selector(sig)
        return {"extract_s": extract_s, "files_per_s": len(sources) / extract_s,
                "selectors_per_s": len(sigs) / (time.perf_counter() - t0)}

    def _check_golden(self, ctx, con, i: int) -> None:
        """Golden function rows: for a seeded sample of contracts the
        stored (filename, contract, name, signature) set equals the one
        the generator wrote, and well-known selectors are exact."""
        by_dir = self.manifest["by_dir"]
        rng = random.Random(self.rng_seed * 31 + 7)
        population = sorted(d for d, c in by_dir.items() if c["rows"])
        sample = rng.sample(population, min(20, len(population)))
        for d in sample:
            c = by_dir[d]
            got = con.execute(
                "SELECT f.filename, f.contract_name, f.function_name, f.signature, "
                "f.selector FROM function f JOIN contract k ON f.contract_id = k.id "
                "WHERE k.name = ?", [c["name"]]).fetchall()
            rows_ok = sorted(tuple(r[:4]) for r in got) == sorted(tuple(r) for r in c["rows"])
            sel_ok = all(inputs.KNOWN_SELECTORS[r[3]] == r[4].removeprefix("0x")
                         for r in got if r[3] in inputs.KNOWN_SELECTORS)
            ctx.check(f"pass {i}: golden function rows of {d}", rows_ok and sel_ok)

    def _export_ok(self, d: str, out: str) -> bool:
        strip = lambda s: re.sub(r"\s+", "", s)  # noqa: E731
        for name in self.manifest["by_dir"][d]["files"]:
            want_path = os.path.join(self.tree, d, name)
            got_path = os.path.join(out, name)
            if not os.path.exists(got_path):
                return False
            with open(want_path, encoding="utf-8") as a, open(got_path, encoding="utf-8") as b:
                if strip(a.read()) != strip(b.read()):
                    return False
        return True


WORKLOADS = {w.name: w for w in (CorpusDedupSearch, ContractIngest)}
