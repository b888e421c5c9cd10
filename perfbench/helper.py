"""The benchmark's helper process: input generation and the DuckDB oracle.

Both run in a separate process so that their memory and threads never count
against the program under test (its peak RSS is measured).  The helper is a closed loop too: the benchmark sends one request
and waits for its reply, so DuckDB never runs while Spark is being timed.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import subprocess
import sys
import time
import traceback


def canonical_digest(df) -> tuple[int, str]:
    """(rows, sha256) of a pandas frame, invariant to row and column order.

    The canonical form of the repository's oracle tests: columns sorted by
    name, floats rounded to 6 digits and tagged so they never equal an
    integer cell, NaN as NULL, bytes as hex.  Each row is rendered to text
    column by column (vectorised), hashed, and the sorted row hashes are
    digested, so row order does not matter."""
    import numpy as np
    import pandas as pd

    cols = sorted(df.columns)
    row = pd.Series([""] * len(df), index=df.index, dtype=object)
    for c in cols:
        v = df[c]
        kind = v.dtype.kind
        if kind == "f":
            txt = "f" + v.round(6).astype(str)
            txt = txt.where(v.notna(), "N")
        elif kind in "iu":
            txt = "i" + v.astype(str)
        elif kind == "b":
            txt = "b" + v.astype(str)
        else:
            txt = v.map(_cell_text)
        row = row + "\x1f" + txt
    hashes = np.sort(pd.util.hash_array(row.to_numpy(dtype=object)))
    return len(df), hashlib.sha256(
        repr(cols).encode() + hashes.tobytes()
    ).hexdigest()


FLOAT_RTOL = 1e-9


def frames_match(got, want) -> bool:
    """Whether two pandas frames hold the same rows, in any row and column
    order, with float cells equal to a relative ``FLOAT_RTOL``.

    The fallback when :func:`canonical_digest` differs.  Both engines sum
    doubles in their own order, so a sum that the query rounds to a few
    decimals can land on the other side of a rounding tie (one unit in
    the last kept place, e.g. 193783426.60 against .61); TPC-H's answer
    validation allows the same for sums.  Every other cell must be equal."""
    import numpy as np

    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    exact = [c for c in cols if got[c].dtype.kind != "f"]

    def ordered(df):
        key = df[cols].apply(
            lambda row: tuple(
                _cell_text(v) if c in exact else f"{v:.6g}"
                for c, v in zip(cols, row)
            ),
            axis=1,
        )
        return df.iloc[np.argsort(key.to_numpy(), kind="stable")][cols]

    a, b = ordered(got), ordered(want)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if c in exact:
            if [_cell_text(v) for v in x] != [_cell_text(v) for v in y]:
                return False
        elif b[c].dtype.kind != "f" or not np.allclose(
            x, y, rtol=FLOAT_RTOL, atol=FLOAT_RTOL, equal_nan=True
        ):
            return False
    return True


def _cell_text(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "N"
    if isinstance(v, bool):
        return f"b{v}"
    if isinstance(v, float):
        return f"f{round(v, 6)}"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if hasattr(v, "item"):  # numpy scalar in an object column
        return _cell_text(v.item())
    return f"s{v}"


class _Duck:
    """Requests the helper serves.  One DuckDB connection, pinned to the
    same core count as Spark."""

    def __init__(self, threads: int, tmp: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute(f"SET temp_directory = '{tmp}'")

    def generate(self, fn: str, *args):
        from . import gen

        return getattr(gen, fn)(*args)

    def views(self, paths: dict[str, str]) -> None:
        for name, path in paths.items():
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )

    def digests(self, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
        return {
            k: canonical_digest(self.con.execute(q).fetchdf())
            for k, q in sqls.items()
        }

    def frame(self, sql: str):
        return self.con.execute(sql).fetchdf()

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def batch(self, calls: list[tuple[str, tuple]]) -> list:
        """Serve several requests in order, as one."""
        return [getattr(self, m)(*args) for m, args in calls]

    def many_rows(self, sqls: dict[str, list[str]]) -> dict[str, list]:
        return {
            k: [self.con.execute(q).fetchall() for q in qs]
            for k, qs in sqls.items()
        }

    def timed(self, sqls: list[str], repeat: int = 5) -> float:
        """Median wall time of running the statements back to back, each
        result fetched as Arrow (columnar, like Spark's no-op sink)."""
        runs = []
        for _ in range(repeat):
            t0 = time.perf_counter()
            for sql in sqls:
                self.con.execute(sql).fetch_arrow_table()
            runs.append(time.perf_counter() - t0)
        return sorted(runs)[repeat // 2]


def _serve(threads: int, tmp: str) -> None:
    """Answer pickled ``(method, args)`` requests from standard input until
    ``None`` or end of input.  Replies go to the original standard output;
    anything the served code prints goes to standard error instead."""
    replies = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    requests = sys.stdin.buffer
    duck = _Duck(threads, tmp)
    while True:
        try:
            msg = pickle.load(requests)
        except EOFError:
            break
        if msg is None:
            break
        method, args = msg
        try:
            reply = ("ok", getattr(duck, method)(*args))
        except Exception:  # reported to the caller, which counts a failure
            reply = ("err", traceback.format_exc())
        pickle.dump(reply, replies)
        replies.flush()
    replies.close()


class Helper:
    """Client end of the helper process, a plain child process that the
    client stops and waits for in :meth:`close` (it starts no process of
    its own)."""

    def __init__(self, threads: int, tmp: str):
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.helper", str(threads), tmp],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
        )
        self._pending = None

    def call(self, method: str, *args):
        self.submit(method, *args)
        return self.result()

    def submit(self, method: str, *args) -> None:
        """Start a request without waiting; :meth:`result` collects it."""
        pickle.dump((method, args), self._proc.stdin)
        self._proc.stdin.flush()
        self._pending = method

    def result(self):
        try:
            status, value = pickle.load(self._proc.stdout)
        except EOFError:
            raise RuntimeError(
                f"helper exited during {self._pending} "
                f"(code {self._proc.poll()})"
            ) from None
        if status != "ok":
            raise RuntimeError(f"helper {self._pending} failed:\n{value}")
        return value

    def close(self) -> None:
        try:
            pickle.dump(None, self._proc.stdin)
            self._proc.stdin.close()
        except (OSError, ValueError):
            pass
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


if __name__ == "__main__":
    _serve(int(sys.argv[1]), sys.argv[2])
