"""Seeded generators and the order-insensitive output hash."""

import json
import os

import pandas as pd

import inputs
from workloads import SIZES, value_hash


def _digest(path):
    return {n: open(os.path.join(path, n), "rb").read()
            for n in sorted(os.listdir(path)) if n.endswith(".parquet")}


def test_base_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    info = inputs.base_tables(str(a), 5, SIZES["tiny"])
    inputs.base_tables(str(b), 5, SIZES["tiny"])
    inputs.base_tables(str(c), 6, SIZES["tiny"])
    assert _digest(a) == _digest(b)
    assert _digest(a)["documents.parquet"] != _digest(c)["documents.parquet"]
    assert info["rows"]["lineitem"] == SIZES["tiny"]["lineitem"]
    assert sorted(info["rows"]) == sorted(inputs.TABLES)


def test_contract_tree_manifest(tmp_path):
    m = inputs.contract_tree(str(tmp_path / "a"), 3, 40)
    again = inputs.contract_tree(str(tmp_path / "b"), 3, 40)
    assert json.dumps(m["by_dir"], sort_keys=True) == json.dumps(again["by_dir"], sort_keys=True)
    kinds = [c["kind"] for c in m["by_dir"].values()]
    assert {"single", "multi", "json", "vyper"} <= set(kinds)
    copies = sum(len(c["copies"]) for c in m["by_dir"].values())
    assert m["contracts"] + copies == m["dirs"] == 40
    assert m["functions"] == sum(len(c["rows"]) for c in m["by_dir"].values())
    assert all(not c["rows"] for c in m["by_dir"].values() if c["kind"] == "vyper")


def test_cached_builds_once(tmp_path):
    calls = []

    def build(out):
        calls.append(out)
        return {"x": 1}

    path = str(tmp_path / "input")
    assert inputs.cached(path, build) == {"x": 1}
    assert inputs.cached(path, build) == {"x": 1}
    assert len(calls) == 1


def test_value_hash_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0], "s": ["x", "y", None]})
    b = a.iloc[[2, 0, 1]][["s", "v", "k"]]
    assert value_hash(a) == value_hash(b)
    c = a.copy()
    c.loc[0, "v"] = 0.5000000001
    assert value_hash(a) != value_hash(c)
