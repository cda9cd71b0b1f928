"""Output checks: registry keys against their DuckDB oracles, and the
stream's emitted anomalies against a batch z-score recomputation.

The registry comparison reuses ``tools/check_oracle.py``'s value hashing
(order-insensitive, canonicalised values), so a key passes here exactly
when it passes the repository's own oracle harness.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import numpy as np


def load_check_oracle(root: str):
    """Import tools/check_oracle.py from the checkout without letting it
    leave its hard-coded repository path on sys.path."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(root, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, root: str, data_dir: str, work_dir: str):
        import duckdb

        self.co = load_check_oracle(root)
        self.con = duckdb.connect()
        self.con.sql("SET threads TO 2")
        self.con.sql(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
        for t in self.co.TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'"
            )

    def compare(self, spark_pdf, sql: str) -> str | None:
        """None when the Spark result matches the oracle; otherwise the
        first problem found (row count, columns, dtypes, value hash).
        An empty result is a failure: it would match vacuously."""
        co = self.co
        sdf = co.normalize(spark_pdf)
        if not len(sdf):
            return "empty result"
        ddf = co.normalize(self.con.sql(sql).df())
        if len(sdf) != len(ddf):
            return f"rowcount spark={len(sdf)} duckdb={len(ddf)}"
        if sorted(sdf.columns) != sorted(ddf.columns):
            return f"columns spark={sorted(sdf.columns)} duckdb={sorted(ddf.columns)}"
        bad = [c for c in sdf.columns if str(sdf[c].dtype) != str(ddf[c].dtype)]
        if bad:
            return f"dtypes differ on {bad}"
        if co.frame_hash(sdf) != co.frame_hash(ddf):
            return "value-hash mismatch"
        return None

    def close(self) -> None:
        self.con.close()


def expected_zscores(fed, z_thresh: float = 3.0, min_n: int = 30) -> dict:
    """Prior-history z-score anomalies over the rows fed so far, per
    station: each point against the mean and sample deviation of every
    earlier point of its station, once at least ``min_n`` came before.
    -> {sid: [(ts_us, z), ...]}"""
    out = {}
    for sid, g in fed.dropna(subset=["value"]).groupby("sid", sort=True):
        g = g.sort_values("ts", kind="stable")
        v = g["value"].to_numpy(dtype=np.float64)
        n = np.arange(len(v), dtype=np.float64)
        s1 = np.concatenate(([0.0], np.cumsum(v)[:-1]))
        s2 = np.concatenate(([0.0], np.cumsum(v * v)[:-1]))
        with np.errstate(invalid="ignore", divide="ignore"):
            sd = np.sqrt(np.maximum((s2 - s1 * s1 / n) / (n - 1), 0.0))
            z = (v - s1 / n) / sd
        hit = (n >= min_n) & (sd > 0) & (np.abs(z) > z_thresh)
        ts = g["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        out[sid] = list(zip(ts[hit].tolist(), z[hit].tolist()))
    return out


def compare_zscores(emitted, expected: dict) -> list[str]:
    """Problems between emitted anomalies and the recomputation; z
    compares to 2e-6 (the stream rounds z to 6 places, from sums
    accumulated batch by batch)."""
    got: dict = {}
    ts = emitted["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
    for sid, t, z in zip(emitted["sid"], ts.tolist(), emitted["z"]):
        got.setdefault(sid, []).append((t, float(z)))
    problems = []
    for sid in sorted(set(got) | set(expected)):
        g, e = sorted(got.get(sid, [])), expected.get(sid, [])
        same = len(g) == len(e) and all(
            a[0] == b[0] and abs(a[1] - b[1]) <= 2e-6 for a, b in zip(g, e)
        )
        if not same:
            problems.append(f"{sid}: emitted {len(g)} anomalies, expected {len(e)}")
    if not sum(len(v) for v in expected.values()):
        problems.append("no anomaly expected: the check would pass vacuously")
    return problems
