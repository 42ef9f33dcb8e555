"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of ``(seed, sizes)``: the same seed
gives byte-identical inputs. Two kinds of input are made:

- ``base_tables``: the ten engine tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the column types and
  value distributions of the engine's test data, written through DuckDB.
- ``contract_tree``: a folder tree in the reference's contract layouts
  (single_sol, multi_sol, standard-json, vyper) plus whitespace-variant
  duplicates, with a manifest of the rows ingest must produce.

``cached`` keeps each generated input under a per-seed directory with a
completion marker, so a second run with the same seed generates nothing.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE")
PART_ADJ = ("small", "new", "large", "hot", "cold", "blue", "old", "red")
PART_NOUN = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_DAY_US = 86_400_000_000


def cached(path: str, build) -> dict:
    """Return the manifest of the input at ``path``, building it first
    (into a sibling temp dir, published by rename) when absent."""
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = build(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(info, fh, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest) as fh:
        return json.load(fh)


def dir_stats(path: str) -> dict:
    """Files and bytes under ``path`` (the working-set record)."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return {"files": files, "bytes": size}


def _dates(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """``n`` documents of 10-99 words over a 30-word vocabulary. Exactly
    5% are near-duplicates (an earlier text plus `` dup``) and 0.4% exact
    duplicates; the language mix is fixed too, so every seed carries the
    same amount of duplicate work."""
    kind = np.zeros(n, dtype=np.int8)
    late = rng.permutation(np.arange(n // 10, n))
    kind[late[: n // 20]] = 1
    kind[late[n // 20 : n // 20 + max(1, n // 250)]] = 2
    texts: list[str] = []
    for i in range(n):
        if kind[i]:
            src = texts[int(rng.integers(0, n // 10))]
            texts.append(src + " dup" if kind[i] == 1 else src)
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    counts = [round(p * n) for p in LANG_P[1:]]
    langs = rng.permutation([LANGS[0]] * (n - sum(counts))
                            + [l for l, c in zip(LANGS[1:], counts) for _ in range(c)])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _events(rng, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01", "us")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _tpch(rng, sizes: dict) -> dict[str, pa.Table]:
    nc, ns, np_, no = (sizes[k] for k in ("customer", "supplier", "part", "orders"))
    nl = sizes["lineitem"]
    pick = lambda vals, n: [vals[j] for j in rng.integers(0, len(vals), n)]  # noqa: E731
    pk = np.arange(np_, dtype=np.int64)
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": pick(SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, np_),
                                                  pick(PART_NOUN, np_))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, np_)],
            "p_type": pick(PART_TYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": pick(("O", "F", "P"), no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _dates(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), nl),
            "l_linestatus": pick(("O", "F"), nl),
            "l_shipdate": _dates(rng, nl, "1995-01-02", "2001-11-04"),
        }),
    }


def base_tables(out: str, seed: int, sizes: dict) -> dict:
    """Write the ten engine tables under ``out`` (one parquet each).

    ``sizes`` gives row counts for customer, supplier, part, orders,
    lineitem, events, users, documents and embeddings."""
    import duckdb

    rng = np.random.default_rng(seed)
    tables = _tpch(rng, sizes)
    tables["events"] = _events(rng, sizes["events"], sizes["users"])
    tables["documents"] = _documents(rng, sizes["documents"])
    tables["embeddings"] = _embeddings(rng, sizes["embeddings"])
    con = duckdb.connect()
    try:
        for name, tbl in tables.items():
            con.register("src", tbl)
            con.execute(f"COPY (SELECT * FROM src) TO '{out}/{name}.parquet' "
                        "(FORMAT PARQUET)")
            con.unregister("src")
    finally:
        con.close()
    return {"rows": {n: t.num_rows for n, t in tables.items()}, **dir_stats(out)}


# ---------------------------------------------------------------------------
# Contract tree
# ---------------------------------------------------------------------------

#: Well-known ABI signatures and their selectors, the golden values the
#: ingest check compares ``function.selector`` against.
KNOWN_SELECTORS = {
    "transfer(address,uint256)": "a9059cbb",
    "balanceOf(address)": "70a08231",
    "approve(address,uint256)": "095ea7b3",
    "totalSupply()": "18160ddd",
    "transferFrom(address,address,uint256)": "23b872dd",
    "allowance(address,address)": "dd62ed3e",
}
_KNOWN = [
    ("transfer", ["address to", "uint256 amount"], "returns (bool)"),
    ("balanceOf", ["address who"], "view returns (uint256)"),
    ("approve", ["address spender", "uint256 amount"], "returns (bool)"),
    ("totalSupply", [], "view returns (uint256)"),
    ("transferFrom", ["address from", "address to", "uint256 amount"],
     "returns (bool)"),
    ("allowance", ["address owner", "address spender"], "view returns (uint256)"),
]
_PARAM_TYPES = ("uint256", "address", "bool", "bytes32", "uint8", "string memory",
                "uint256[] memory", "int256")
_STEMS = ("set", "get", "mint", "burn", "claim", "stake", "vote", "pause",
          "sweep", "lock", "route", "quote", "swap", "sync", "skim", "bump")


def _abi(params: list[str]) -> str:
    return ",".join(p.replace(" memory", "").split()[0] for p in params)


def _solidity(rng, cname: str, n_fns: int, base: str | None = None) -> tuple[str, list]:
    """One contract: ``n_fns`` public functions (some well-known ERC-20
    members), internal helpers the scanner must skip, comments that
    mention ``function`` and a public state variable. Returns the source
    and its ABI rows as (contract, name, signature)."""
    fns, rows = [], []
    known = rng.permutation(len(_KNOWN))[: int(rng.integers(0, 3))]
    for k in known:
        name, params, ret = _KNOWN[k]
        fns.append((name, params, f"public {ret}"))
    while len(fns) < n_fns:
        name = f"{_STEMS[rng.integers(0, len(_STEMS))]}{cname}{len(fns)}"
        params = [f"{_PARAM_TYPES[j]} a{i}"
                  for i, j in enumerate(rng.integers(0, len(_PARAM_TYPES),
                                                     int(rng.integers(0, 4))))]
        vis = "external" if rng.random() < 0.3 else "public"
        fns.append((name, params, vis))
    lines = ["// SPDX-License-Identifier: MIT",
             f"pragma solidity ^0.8.{int(rng.integers(10, 25))};", ""]
    lines.append(f"contract {cname}{' is ' + base if base else ''} {{")
    lines.append(f"    uint256 public counter{cname};")
    rows.append((cname, f"counter{cname}", f"counter{cname}()"))
    lines.append("    // function ghost(uint256 x) public {} stays commented out")
    for name, params, tail in fns:
        body = f"counter{cname} += {int(rng.integers(1, 9))};"
        if "returns (bool)" in tail:
            body += " return true;"
        elif "returns (uint256)" in tail:
            body = f"return counter{cname};"
        lines += ["", f"    function {name}({', '.join(params)}) {tail} {{",
                  f"        {body}", "    }"]
        rows.append((cname, name, f"{name}({_abi(params)})"))
    lines += ["", f"    function _helper{cname}(uint256 v) internal pure returns (uint256) {{",
              "        return v + 1;", "    }", "}", ""]
    return "\n".join(lines), rows


def _meta(name: str, version: str) -> str:
    return json.dumps({"ContractName": name, "CompilerVersion": version,
                       "Runs": 200, "OptimizationUsed": False,
                       "BytecodeHash": "ipfs"})


def _write(d: str, name: str, content: str) -> None:
    with open(os.path.join(d, name), "w", encoding="utf-8", newline="") as fh:
        fh.write(content)


def contract_tree(out: str, seed: int, n_dirs: int) -> dict:
    """Write ``n_dirs`` contract folders under ``out/tree``.

    Layout mix: 45% single_sol, 20% multi_sol (an interface plus its
    implementation plus a README that must be ignored), 15% standard-json
    ``contract.json``, 10% vyper and 10% whitespace-variant copies of
    earlier single_sol dirs (same content id, so ingest dedups them).
    The manifest records, per distinct contract, the function rows the
    ingest pipeline must produce: ``(filename, contract, name,
    signature)``, keyed by the dir that first holds the contract."""
    rng = np.random.default_rng(seed + 2_000_029)
    tree = os.path.join(out, "tree")
    kinds = rng.permutation(
        ["single"] * (n_dirs * 45 // 100) + ["multi"] * (n_dirs * 20 // 100)
        + ["json"] * (n_dirs * 15 // 100) + ["vyper"] * (n_dirs * 10 // 100)
        + ["dup"] * (n_dirs - n_dirs * 90 // 100)
    )
    contracts: dict[str, dict] = {}
    singles: list[str] = []
    for i, kind in enumerate(kinds):
        if kind == "dup" and not singles:
            kind = "single"
        d = os.path.join(tree, f"c{i:05d}")
        os.makedirs(d)
        cname = f"C{seed % 1000}x{i}"
        version = f"v0.8.{int(rng.integers(10, 25))}+commit.{int(rng.integers(1 << 28)):07x}"
        if kind == "dup":
            src_dir = singles[int(rng.integers(0, len(singles)))]
            with open(os.path.join(tree, src_dir, "main.sol"), encoding="utf-8") as fh:
                text = fh.read()
            _write(d, "metadata.json", _meta(contracts[src_dir]["name"], version))
            _write(d, "main.sol", text.replace("\n", "\n\n").replace("    ", "\t"))
            contracts[src_dir]["copies"].append(os.path.basename(d))
            continue
        _write(d, "metadata.json", _meta(cname, version))
        entry = {"name": cname, "kind": kind, "copies": [], "rows": [], "files": []}
        if kind == "single":
            text, rows = _solidity(rng, cname, int(rng.integers(2, 8)))
            _write(d, "main.sol", text)
            entry["rows"] = [["main.sol", *r] for r in rows]
            entry["files"] = ["main.sol"]
            singles.append(os.path.basename(d))
        elif kind == "multi":
            impl, rows = _solidity(rng, cname, int(rng.integers(2, 6)),
                                   base=f"I{cname}")
            sig_rows = rows[1:2]  # the interface declares one member
            iface = ("// SPDX-License-Identifier: MIT\npragma solidity ^0.8.19;\n\n"
                     f"interface I{cname} {{\n"
                     + "".join(f"    function {n}({', '.join(_params_of(s))}) external;\n"
                               for _, n, s in sig_rows)
                     + "}\n")
            _write(d, f"{cname}.sol", impl)
            _write(d, f"I{cname}.sol", iface)
            _write(d, "README.md", f"{cname} bundle.\n")
            entry["rows"] = ([[f"{cname}.sol", *r] for r in rows]
                             + [[f"I{cname}.sol", f"I{cname}", n, s]
                                for _, n, s in sig_rows])
            entry["files"] = [f"{cname}.sol", f"I{cname}.sol"]
        elif kind == "json":
            text, rows = _solidity(rng, cname, int(rng.integers(2, 8)))
            path = f"src/{cname}.sol"
            std = json.dumps({"language": "Solidity",
                              "sources": {path: {"content": text}},
                              "settings": {"optimizer": {"enabled": True,
                                                         "runs": 200}}})
            _write(d, "contract.json", std)
            entry["rows"] = [[path, *r] for r in rows]
            entry["files"] = ["contract.json"]
        else:
            text = (f"# @version ^0.3.{int(rng.integers(1, 10))}\n\n"
                    f"total_{i}: public(uint256)\n\n@external\n"
                    f"def add_{i}(amount: uint256):\n    self.total_{i} += amount\n")
            _write(d, "main.vy", text)
            entry["files"] = ["main.vy"]
        contracts[os.path.basename(d)] = entry
    return {
        "dirs": int(n_dirs),
        "contracts": len(contracts),
        "functions": sum(len(c["rows"]) for c in contracts.values()),
        "by_dir": contracts,
        **{f"tree_{k}": v for k, v in dir_stats(tree).items()},
    }


def _params_of(signature: str) -> list[str]:
    inner = signature[signature.index("(") + 1 : -1]
    return [f"{t} p{i}" if t not in ("string", "uint256[]") else f"{t} memory p{i}"
            for i, t in enumerate(inner.split(",")) if t]
