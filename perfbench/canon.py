"""Order-insensitive canonical hash of a query result.

The canonical form is the one the engine's oracle tests use,
``canonicalize`` in ``tests/conftest.py`` (columns sorted by name, every
value a canonical string, rows sorted), loaded from there so the two
cannot drift apart. Spark output (``toPandas``) and DuckDB output
(``fetchdf``) of the same rows hash equal.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import pandas as pd

_CONFTEST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "tests", "conftest.py")
_spec = importlib.util.spec_from_file_location("_perfbench_conftest", _CONFTEST)
_conftest = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_conftest)


def frame_hash(df: pd.DataFrame) -> str:
    """Hash of the canonical form of ``df``; equal for equal row multisets."""
    canon = _conftest.canonicalize(df)
    h = hashlib.sha256("\x1e".join(canon.columns).encode())
    for row in canon.itertuples(index=False, name=None):
        h.update(b"\x1e")
        h.update("\x1f".join(row).encode())
    return h.hexdigest()[:16]
