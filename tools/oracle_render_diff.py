"""Compare the rendered oracle SQL of two checkouts of this repository.

Usage::

    python tools/oracle_render_diff.py OLD_ROOT NEW_ROOT

Each root is imported in its own interpreter (the package name is the
same in both), every registered oracle is rendered, and its text is
compared after collapsing whitespace (``" ".join(sql.split())``). Prints
the number of oracles on each side and every name whose text differs;
exits 1 if any differs or the name sets are not equal. A refactor of
the oracle SQL that keeps each query's meaning should report zero.
"""

from __future__ import annotations

import json
import subprocess
import sys

_DUMP = """
import json, sys
sys.path.insert(0, sys.argv[1])
from smart_contract_database_builder_spark import plans
json.dump({n: " ".join(s.split()) for n, s in plans.oracle_sql().items()}, sys.stdout)
"""


def rendered(root: str) -> dict[str, str]:
    out = subprocess.run(
        [sys.executable, "-c", _DUMP, root], check=True, capture_output=True, text=True
    ).stdout
    return json.loads(out)


def main(old_root: str, new_root: str) -> int:
    old, new = rendered(old_root), rendered(new_root)
    names = sorted(set(old) | set(new))
    differ = [n for n in names if old.get(n) != new.get(n)]
    print(f"oracles: {len(old)} old, {len(new)} new; differing: {len(differ)}")
    for n in differ:
        print("  DIFF", n)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
