"""Order-insensitive result digests.

Rows are normalised by ``scripts/check_contract.py``'s own ``norm_rows`` --
the correctness gate's rules: columns in name order, floats rounded to
nine decimals (NaN as ``"NaN"``), temporal values as ISO strings, rows
sorted by a type-tagged key -- so a Spark output and its DuckDB twin digest
equal exactly when the gate would call them equal.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

_CHECK_CONTRACT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "check_contract.py"
)


@functools.cache
def _norm_rows():
    spec = importlib.util.spec_from_file_location("check_contract", _CHECK_CONTRACT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm_rows


def digest(cols: list[str], rows) -> str:
    """sha256 over the sorted column names and the normalised, sorted rows."""
    normed, names = _norm_rows()(list(cols), [tuple(r) for r in rows])
    h = hashlib.sha256(repr(names).encode())
    for row in normed:
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()
