"""Order-insensitive result digests, built on the canonical cell form
of ``hello_flink_spark.oracle`` (type-tagged cells, floats by their
IEEE-754 bits), so a digest taken from Spark rows equals one taken
from the DuckDB oracle's frame when the two results are equal. A NaN
or NaT cell counts as NULL, because pandas turns a NULL double into
NaN and a NULL timestamp into NaT."""

from __future__ import annotations

import hashlib
import json
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _null_nan(cell):
    return None if cell in (("f", "NaN"), ("t", "NaT")) else cell


def digest(columns, rows) -> str:
    """sha256 over (sorted lower-case column names, sorted canonical rows)."""
    from hello_flink_spark.oracle import _canon

    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=cols.__getitem__)
    canon = [tuple(_null_nan(_canon(row[i])) for i in order) for row in rows]
    canon.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    payload = repr(([cols[i] for i in order], canon)).encode()
    return hashlib.sha256(payload).hexdigest()


def frame_digest(pdf) -> str:
    """Digest of a pandas frame (the DuckDB oracle's ``.df()``)."""
    return digest(list(pdf.columns), list(pdf.itertuples(index=False, name=None)))


def load_expected() -> dict[str, str]:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)
