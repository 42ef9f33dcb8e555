"""Compare the optimized logical plans of two checkouts of this repository.

Usage::

    python tools/plan_render_diff.py OLD_ROOT NEW_ROOT [NAME ...]

The plan twin of ``tools/oracle_render_diff.py``. Each root runs in its
own interpreter (the package name is the same in both) with a fresh,
empty ``SPARK_GRAFT_STORE_ROOT``, and builds each named registered query
(every registered query when no name is given) in order at the test
scale factor (``SPARK_GRAFT_TEST_SF_DIR``, the oracle tests' corpus).
What is compared per query:

- the optimized logical plan of the DataFrame the query returns;
- the optimized logical plan of every DataFrame written while the
  query was built, as ``NAME/write<i>``: a query that builds a derived
  store on first use shows its store writes here, so listing the store
  builder's first consumer checks the store build too.

Before comparing, each plan is normalized: ``#<id>`` expression ids
and the ``plan_id`` of physical plans embedded in a logical one are
dropped, lambda variables are renamed by order of first
appearance (``x_12`` and ``acc_40`` are just bound names), and the
store root, the checkpoint dir and the location hash in a store's
catalog table name are replaced by placeholders. Prints every key
whose plan differs, with both plans around their first difference,
and exits 1 if any does. A refactor that keeps each plan's meaning
should report zero.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import tempfile

_DUMP = r"""
import json, os, sys
root, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, root)
os.environ["PYTHONPATH"] = root
from pyspark.sql import DataFrameWriter
from smart_contract_database_builder_spark import plans
from smart_contract_database_builder_spark.session import get_spark

spark = get_spark(app_name="plan-render-diff", master="local[2]",
                  shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
queries = plans.queries()
names = names or list(queries)
writes = []

def plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()

def recording(method):
    def wrapper(self, *args, **kwargs):
        writes.append(plan(self._df))
        return method(self, *args, **kwargs)
    return wrapper

for m in ("parquet", "saveAsTable", "save"):
    setattr(DataFrameWriter, m, recording(getattr(DataFrameWriter, m)))

out = {}
for name in names:
    del writes[:]
    try:
        out[name] = plan(queries[name](spark, sf_dir))
    except Exception as exc:  # a missing or failing query is a difference
        out[name] = f"ERROR {type(exc).__name__}: {exc}"
    for i, w in enumerate(writes):
        out[f"{name}/write{i}"] = w
print("\n@@PLANS@@" + json.dumps(out))
"""

#: Characters printed on each side of a plan's first difference.
_CONTEXT = 80


def _sf_dir() -> str:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tests.conftest import SF_ORACLE

    return SF_ORACLE


def normalize(text: str, store_root: str) -> str:
    """The plan with run-specific names replaced (see module doc)."""
    text = text.replace(store_root, "<store>")
    text = re.sub(r"file:\S*?/checkpoints/\S+", "<checkpoint>", text)
    text = re.sub(r"#\d+L?|(?<=plan_id=)\d+", "", text)
    text = re.sub(r"\b(\w+)_[0-9a-f]{12}\b", r"\1_<loc>", text)
    seen: dict[str, str] = {}

    def rename(m: re.Match) -> str:
        return "lambda " + seen.setdefault(m.group(1), f"v{len(seen)}")

    return re.sub(r"lambda (\w+_\d+)", rename, text)


def rendered(root: str, sf_dir: str, names: list[str]) -> dict[str, str]:
    with tempfile.TemporaryDirectory(prefix="plan_render_") as store_root:
        env = dict(os.environ, SPARK_GRAFT_STORE_ROOT=store_root)
        out = subprocess.run(
            [sys.executable, "-c", _DUMP, root, sf_dir, *names],
            check=True, capture_output=True, text=True, env=env, cwd=root,
        ).stdout
        plans = json.loads(out.split("@@PLANS@@", 1)[1])
        return {k: normalize(v, store_root) for k, v in plans.items()}


def main(old_root: str, new_root: str, *names: str) -> int:
    sf_dir = _sf_dir()
    old = rendered(os.path.abspath(old_root), sf_dir, list(names))
    new = rendered(os.path.abspath(new_root), sf_dir, list(names))
    keys = sorted(set(old) | set(new))
    differ = [k for k in keys if old.get(k) != new.get(k)]
    print(f"plans: {len(old)} old, {len(new)} new; differing: {len(differ)}")
    for k in differ:
        a, b = old.get(k, ""), new.get(k, "")
        i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
        print("  DIFF", k)
        print("    old: ..." + a[max(0, i - _CONTEXT):i + _CONTEXT])
        print("    new: ..." + b[max(0, i - _CONTEXT):i + _CONTEXT])
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
