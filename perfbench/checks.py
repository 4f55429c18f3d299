"""Output checks, run untimed after each workload's timed region.

Batch query results, fetched in each run's warm-up, are compared with
their registered DuckDB oracle SQL over the same generated tables, using
the repository's exact, order-insensitive comparison (``tests/oracle_utils.compare``: same columns, same row count,
bit-equal values after sorting). Each result's row count and an
order-insensitive content hash are recorded in the run report.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.oracle_utils import _normalize, compare, duck_connect


def content_hash(pdf: pd.DataFrame) -> str | None:
    """Order-insensitive hash of a result: sum of per-row hashes over the
    column-sorted frame. None when a cell type cannot be hashed."""
    try:
        h = pd.util.hash_pandas_object(_normalize(pdf), index=False)
    except TypeError:
        return None
    return f"{int(h.to_numpy(np.uint64).sum(dtype=np.uint64)):016x}"


def check_results(ctx, results: dict, res) -> dict[str, dict]:
    """Compare each fetched result with its oracle over the same tables,
    counting each comparison as an operation. Returns {query: {rows,
    hash}} for the report."""
    con = duck_connect(ctx.data_dir)
    out = {}
    try:
        for name, got in results.items():
            if got is None:
                continue  # the query itself failed and is already counted
            try:
                compare(got, con.execute(ctx.specs[name].oracle).df(), name)
                res.check(name, True)
            except Exception as ex:  # noqa: BLE001 - any failure fails the check
                res.check(name, False, f"{type(ex).__name__}: {ex}")
            out[name] = {"rows": len(got), "hash": content_hash(got)}
    finally:
        con.close()
    return out
