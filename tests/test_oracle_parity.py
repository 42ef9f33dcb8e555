"""Oracle-parity harness: every registered query vs its DuckDB twin.

Mirrors the driver's correctness gate (row-count + column set +
order-insensitive values) at sf0.01 so regressions surface locally
before the per-round verify.
"""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import re

import numpy as np
import pandas as pd
import pytest

from smart_contract_database_builder_spark import plans

from conftest import SF_ORACLE

_SQL_QUERIES = sorted(name for name, s in plans.QUERIES.items() if s.oracle)
_ROWS_ONLY = sorted(name for name, s in plans.QUERIES.items() if not s.oracle)


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, type-normalized frame for comparison."""
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
                      else (repr(v) if isinstance(v, (dict, tuple)) else v))
            )
    pdf = pdf.sort_values(by=list(pdf.columns), na_position="first")
    return pdf.reset_index(drop=True)


@pytest.mark.parametrize("name", _SQL_QUERIES)
def test_query_matches_oracle(spark, oracle, name):
    spec = plans.QUERIES[name]
    got = canonicalize(spec.fn(spark, SF_ORACLE).toPandas())
    want = canonicalize(oracle.execute(spec.oracle).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    # check_exact: the engine's parity rules (functions/numeric.py) are meant
    # to produce BITWISE-identical floats vs the oracle — the driver gate
    # compares value hashes, so approximate equality is not good enough.
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    spec = plans.QUERIES[name]
    df = spec.fn(spark, SF_ORACLE)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_seeded_sample_is_deterministic(spark):
    """O4: the seeded Bernoulli sample must return the identical row set
    across invocations (fixed seed + deterministic input partitioning) —
    the property that makes rows-only sampling auditable."""
    from conftest import SF_ORACLE

    fn = plans.QUERIES["sample_orders_seeded"].fn
    a = sorted(r["o_orderkey"] for r in fn(spark, SF_ORACLE).collect())
    b = sorted(r["o_orderkey"] for r in fn(spark, SF_ORACLE).collect())
    assert a == b and len(a) > 0


def test_minhash_signature_sql_lives_in_one_place():
    """The oracles' MinHash signature SQL is written once, in the shared
    near-dup CTE blocks of plans/llm_ops.py; every other oracle composes
    those blocks, so a change to the hashing rule reaches all of them."""
    plans_dir = pathlib.Path(plans.__file__).parent
    needle = "MIN(md5('"
    hits = {
        p.name: p.read_text().count(needle) for p in sorted(plans_dir.glob("*.py"))
    }
    assert {name: n for name, n in hits.items() if n} == {"llm_ops.py": 1}


_LONG_ZERO = ast.dump(ast.parse('F.lit(0).cast("long")', mode="eval").body)


def _int64_sum_folds(src: str) -> list[str]:
    """Names of the functions holding an ``F.aggregate`` that sums an
    array from an int64 zero seed (``acc + v`` over its two params)."""
    found = []
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, ast.FunctionDef):
            continue
        for call in ast.walk(fn):
            if not (isinstance(call, ast.Call) and len(call.args) >= 3
                    and ast.unparse(call.func) == "F.aggregate"):
                continue
            seed, merge = call.args[1], call.args[2]
            if ast.dump(seed) != _LONG_ZERO:
                continue
            if (isinstance(merge, ast.Lambda)
                    and isinstance(merge.body, ast.BinOp)
                    and isinstance(merge.body.op, ast.Add)
                    and [ast.unparse(x) for x in (merge.body.left, merge.body.right)]
                    == [a.arg for a in merge.args.args]):
                found.append(fn.name)
    return found


def test_vector_kernels_live_in_one_place():
    """The exact vector and near-dup kernels are each written once in
    the engine: the int64 sum fold (``_long_sum``: every fixed-point
    dot, distance, norm and sketch ends in it), the cosine verify
    (``_pair_cosine``), the packed IVF cell table and its nearest-cell
    pick, the bucket-cap guard (``_capped_buckets``) and the band
    pair expansion (``_bucket_pair_rows``), and the admission verdict
    (``_admission_verdict``). A copy that drifted would break oracle
    parity for one query only."""
    pkg = pathlib.Path(plans.__file__).parent.parent
    srcs = {
        str(p.relative_to(pkg)): p.read_text()
        for d in ("plans", "sources") for p in sorted((pkg / d).glob("*.py"))
    }

    def where(needle: str) -> dict[str, int]:
        hits = {name: src.count(needle) for name, src in srcs.items()}
        return {name: n for name, n in hits.items() if n}

    folds = {name: f for name, src in srcs.items() for f in _int64_sum_folds(src)}
    assert folds == {"plans/llm_ops.py": "_long_sum"}
    assert sum(len(_int64_sum_folds(src)) for src in srcs.values()) == 1
    home = {"plans/llm_ops.py": 1}
    assert where('.nrm") * F.col(') == home
    assert where('F.collect_list(F.struct("cell", "centroid"))') == home
    assert where('F.array_min(_cell_dists(') == home
    assert where('F.coalesce("n_corpus_neighbors"') == home
    assert where('F.size("ds") <= ') == home
    guard = re.compile(r'F\.count\(F\.lit\(1\)\)\.alias\("\w+"\)\)\s*\.filter\(')
    assert {name for name, src in srcs.items() if guard.search(src)} == set(home)
    assert len(guard.findall(srcs["plans/llm_ops.py"])) == 1
