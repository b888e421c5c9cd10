"""The benchmark's workloads.

Each workload drives the product through its public entry points in a
single-process closed loop: one analyst issues the next call only after the
previous one returned.  A workload

- writes its seeded inputs through the helper process (the product only
  ever sees the files and block streams the helper writes);
- sets the program up (session plus the workload's warm step);
- runs one untimed gate pass whose every output is checked against DuckDB;
- then runs timed passes, each a list of calls, with DuckDB's time for the
  same reads interleaved call by call.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

# The headline query set (the same 15 names as the repository's bench.py).
HEADLINE = (
    "high_value_orders",
    "order_summary_stats",
    "pricing_summary",
    "revenue_by_region",
    "order_brand_sets",
    "cross_nation_orders",
    "top_orders_per_customer",
    "user_sessions",
    "events_tumbling_5min",
    "exact_dedup_groups",
    "minhash_band_buckets",
    "simhash_fingerprints",
    "cosine_topk",
    "lsh_bucket_assignments",
    "doc_quality_scores",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# Input sizes.  "full" is what the benchmark measures; "tiny" is the smoke
# self-test's size.
SIZES = {
    "full": {"sf": 0.01, "lake_tx": 40_000, "ingest_blocks": 100},
    "tiny": {"sf": 0.001, "lake_tx": 5_000, "ingest_blocks": 100},
}
BATCH_SIZE = 100  # the CLI's default ``extract --batch-size``
TXS_PER_BLOCK = 6
MAX_SLICES = 6  # timed passes a cardano_lake run can make
LAKE_FIRST_SLOT = 100_000_000
SLOT_GROUP = 200_000


@dataclass
class Call:
    name: str
    samples: list[float]  # wall times of the call's repeats in one pass
    build_s: float = 0.0
    query: bool = True  # a read that DuckDB also times

    @property
    def wall_s(self) -> float:
        return statistics.median(self.samples)


@dataclass
class Pass:
    calls: list[Call] = field(default_factory=list)
    duck_s: float = 0.0
    traced: bool = False
    layers: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(c.wall_s for c in self.calls)

    @property
    def query_s(self) -> float:
        return sum(c.wall_s for c in self.calls if c.query)


class Run:
    """State shared by a workload's set-up, gate and passes."""

    def __init__(self, seed, work, helper, tracer, size, rng):
        self.seed = seed
        self.work = work
        self.helper = helper
        self.tracer = tracer
        self.size = SIZES[size]
        self.rng = rng
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{label}: {detail}")

    def new_session(self) -> float:
        """Stop the current session (if any) and build the production one;
        returns the build time."""
        from cardano_analytics_duckdb_spark.plans import get_session

        if self.spark is not None:
            self.tracer.attach(None)
            self.spark.stop()
        with self.tracer.span("plans.get_session"):
            t0 = time.perf_counter()
            self.spark = get_session()
            took = time.perf_counter() - t0
        self.tracer.attach(self.spark)
        return took


def _captured(fn, *args, **kwargs) -> str:
    """Run a call that prints its report; return what it printed."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn(*args, **kwargs)
    return buf.getvalue()


# -- headline -----------------------------------------------------------------


class Headline:
    """The 15 headline queries on TPC-H-shaped tables warmed in memory."""

    name = "headline"
    setups = 3  # set-ups per run; the first also launches the JVM
    max_passes = 1_000  # no cap: passes run until --seconds have elapsed

    def __init__(self, run: Run):
        self.run = run
        self.dir = os.path.join(run.work, "tables")

    def generate(self) -> None:
        from cardano_analytics_duckdb_spark.operators import (
            all_oracles,
            all_queries,
        )

        r = self.run
        r.helper.call("generate", "write_tables", self.dir, r.seed, r.size["sf"])
        r.helper.call("views", {
            t: os.path.join(self.dir, f"{t}.parquet") for t in TABLES
        })
        queries, oracles = all_queries(), all_oracles()
        self.queries = {q: queries[q] for q in HEADLINE}
        self.sql = {q: oracles[q] for q in HEADLINE}
        # DuckDB's answers are computed while the program sets up
        r.helper.submit("digests", self.sql)

    def setup(self) -> dict[str, float]:
        from cardano_analytics_duckdb_spark.lake.tables import (
            unwarm_lake,
            warm_lake,
        )

        r = self.run
        unwarm_lake(self.dir)
        session_s = r.new_session()
        with r.tracer.span("lake.warm_lake"):
            t0 = time.perf_counter()
            warm_lake(r.spark, self.dir)
            warm_s = time.perf_counter() - t0
        return {"session_s": session_s, "warm_s": warm_s}

    def gate(self) -> None:
        from .helper import canonical_digest, frames_match

        r = self.run
        self.expected = r.helper.result()
        for q in HEADLINE:
            try:
                frame = self.queries[q](r.spark, self.dir).toPandas()
                got, want = canonical_digest(frame), self.expected[q]
                ok = got == want or frames_match(
                    frame, r.helper.call("frame", self.sql[q])
                )
                r.check(q, ok, f"spark {got} duckdb {want}")
            except Exception as e:  # a failing query is a failed operation
                r.check(q, False, repr(e))

    def run_pass(self) -> Pass:
        r = self.run
        out = Pass()
        order = list(HEADLINE)
        r.rng.shuffle(order)
        for q in order:
            try:
                with r.tracer.span(f"operators.{q}"):
                    t0 = time.perf_counter()
                    df = self.queries[q](r.spark, self.dir)
                    t1 = time.perf_counter()
                with r.tracer.span(f"spark.action.{q}"):
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                out.calls.append(Call(q, [t2 - t0], build_s=t1 - t0))
                r.check(q, True)
            except Exception as e:
                r.check(q, False, repr(e))
                continue
            out.duck_s += r.helper.call("timed", [self.sql[q]])
        return out

    def layers(self, p: Pass, tr) -> dict:
        build = sum(c.build_s for c in p.calls)
        return {
            "operators.build_s": build,
            "operators.build_share": build / p.wall_s,
            "spark.exec_s": p.wall_s - build,
        }


# -- cardano lake -------------------------------------------------------------


def _high_fee_sql(scan: str) -> tuple[str, str]:
    top = f"""
SELECT slot, lower(hex(tx_id)) AS h, tx_fee FROM {scan}
WHERE tx_fee > 2000000 ORDER BY tx_fee DESC, h LIMIT 100"""
    summary = f"""
SELECT count(*), floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6,
       floor(max(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6,
       floor(min(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6
FROM {scan}"""
    return top, summary


def _high_fee_text(top: list[tuple], summary: tuple) -> str:
    """The CLI ``query`` report, rendered from DuckDB rows."""
    lines = [f"Top {len(top)} transactions by fee (> 2000000 lovelace):"]
    lines += [f"  slot={s} tx={h} fee={f}" for s, h, f in top]
    n, avg, mx, mn = summary
    lines.append(f"Summary: n={n} avg={avg} ADA max={mx} ADA min={mn} ADA")
    return "\n".join(lines) + "\n"


def _transfers_sql(root: str, lo: int | None, hi: int | None) -> str:
    """Ownership-changing transfers of the analysed token: its UTxOs, the
    transactions creating them, and each transaction's sorted distinct
    input and output address sets, kept where the sets differ."""
    from .gen import TOKEN_NAME, TOKEN_POLICY

    window = "".join(
        [f" AND slot >= {lo}" if lo is not None else "",
         f" AND slot <= {hi}" if hi is not None else ""]
    )
    scan = "read_parquet('{}/{}/slot_group=*/*.parquet', hive_partitioning=1)"
    return f"""
WITH token_utxos AS (
  SELECT tx_id, output_index, address FROM {scan.format(root, "asset")}
  WHERE policy_id = unhex('{TOKEN_POLICY.hex()}')
    AND asset_name = unhex('{TOKEN_NAME.hex()}'){window}
), relevant AS (
  SELECT * FROM {scan.format(root, "tx")}
  WHERE tx_id IN (SELECT tx_id FROM token_utxos)
), ins AS (
  SELECT t.tx_id, list_sort(list(DISTINCT tu.address)) AS s
  FROM (SELECT tx_id, unnest(inputs) AS r FROM relevant) t
  JOIN token_utxos tu
    ON tu.tx_id = t.r.tx_id AND tu.output_index = t.r.output_index
  GROUP BY t.tx_id
), outs AS (
  SELECT tx_id, list_sort(list(DISTINCT address)) AS s
  FROM token_utxos GROUP BY tx_id
)
SELECT r.slot, r.tx_fee, i.s IS NULL AS no_in, o.s IS NULL AS no_out
FROM relevant r LEFT JOIN ins i USING (tx_id) LEFT JOIN outs o USING (tx_id)
WHERE i.s IS DISTINCT FROM o.s"""


def _report_sql(root: str, lo: int | None, hi: int | None) -> tuple[str, str]:
    t = _transfers_sql(root, lo, hi)
    stats = f"""
WITH t AS ({t})
SELECT count(*), floor(sum(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6,
       floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6, min(slot), max(slot)
FROM t"""
    by_type = f"""
WITH t AS ({t})
SELECT CASE WHEN no_in THEN 'mint' WHEN no_out THEN 'burn'
            ELSE 'transfer' END AS k,
       count(*), floor(avg(tx_fee) / 1e6 * 1e6 + 0.5) / 1e6
FROM t GROUP BY k ORDER BY k"""
    return stats, by_type


def _report_text(stats: tuple, by_type: list[tuple]) -> str:
    """``token_transfer_report``'s text, rendered from DuckDB rows."""
    n, total, avg, lo, hi = stats
    if n == 0:
        return "No ownership-changing token transfers found."
    lines = [
        "TOKEN TRANSFER FEE ANALYSIS",
        "=" * 40,
        f"Ownership-changing transfers: {n}",
        f"Total fees: {total} ADA",
        f"Average fee: {avg} ADA",
        f"Slot range: {lo} - {hi}",
        "",
        "By transfer type:",
    ]
    lines += [f"  {k}: n={c} avg_fee={a} ADA" for k, c, a in by_type]
    return "\n".join(lines)


class BlockSource:
    """Replays a JSON-lines block file, timing the consumer's flushes.

    ``ingest_blocks`` takes ``BATCH_SIZE`` blocks, flushes them, then asks
    for the next one; the gap between handing over a batch's last block and
    that request is one flush.  ``source_s`` is this generator's own time."""

    def __init__(self, path: str, tracer):
        self.path = path
        self.tracer = tracer
        self.flushes: list[float] = []
        self.source_s = 0.0
        self.blocks = 0

    def __iter__(self):
        handed = None
        with open(self.path) as fh:
            for line in fh:
                if handed is not None:
                    now = time.time()
                    self.flushes.append(now - handed)
                    self.tracer.add("streaming.ingest.flush", handed, now)
                    handed = None
                t0 = time.perf_counter()
                block = json.loads(line)
                self.source_s += time.perf_counter() - t0
                self.blocks += 1
                if self.blocks % BATCH_SIZE == 0:
                    handed = time.time()
                yield block
        if handed is not None:
            now = time.time()
            self.flushes.append(now - handed)
            self.tracer.add("streaming.ingest.flush", handed, now)


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


class CardanoLake:
    """The reference's own workloads on one slot-partitioned lake layer:
    the extract-then-compact cycle (ingest an Ogmios micro-batch into a
    fresh lake, compact it, report on it), then the analyst reads on a
    generated five-slot-group lake."""

    name = "cardano_lake"
    setups = 5  # a session build is cheap, so more of them steady the median
    max_passes = MAX_SLICES

    def __init__(self, run: Run):
        self.run = run
        self.lake = os.path.join(run.work, "lake")
        self.warmup_blocks = os.path.join(run.work, "warmup.jsonl")
        self.slices = [
            os.path.join(run.work, f"blocks-{k}.jsonl") for k in range(MAX_SLICES)
        ]
        self.n_passes = 0

    def generate(self) -> None:
        r = self.run
        s = r.size
        g = LAKE_FIRST_SLOT + SLOT_GROUP * int(r.rng.integers(0, 4))
        self.window = (g, g + SLOT_GROUP - 1)
        self.reads = {
            "cli.query": _high_fee_sql(
                f"read_parquet('{self.lake}/tx/slot_group=*/*.parquet', hive_partitioning=1)"
            ),
            "reports.token_transfer_report": _report_sql(self.lake, None, None),
            "reports.token_transfer_report.window": _report_sql(
                self.lake, *self.window
            ),
        }
        # One block stream for the warm-up and one per timed pass, each
        # crossing a slot-group boundary, so a flush writes two partitions
        # per table.
        n = s["ingest_blocks"]
        first = LAKE_FIRST_SLOT + 5 * SLOT_GROUP + SLOT_GROUP - 10 * n
        streams = [
            ("generate", ("blocks_from_chain", path, r.seed + 1 + k,
                          n * TXS_PER_BLOCK, first, 20 * n, TXS_PER_BLOCK))
            for k, path in enumerate([self.warmup_blocks, *self.slices])
        ]
        # inputs and DuckDB's answers are produced while the JVM starts
        r.helper.submit("batch", [
            ("generate", ("lake_from_chain", self.lake, r.seed, s["lake_tx"],
                          LAKE_FIRST_SLOT, 5 * SLOT_GROUP)),
            *streams,
            ("many_rows", ({k: list(v) for k, v in self.reads.items()},)),
        ])

    def _ingest(self, path: str, dest: str) -> BlockSource:
        from cardano_analytics_duckdb_spark.streaming.ingest import ingest_blocks

        src = BlockSource(path, self.run.tracer)
        with self.run.tracer.span("streaming.ingest.ingest_blocks"):
            ingest_blocks(self.run.spark, iter(src), dest, batch_size=BATCH_SIZE)
        return src

    def setup(self) -> dict[str, float]:
        # The program's only set-up step here is the session: the lake is
        # already on disk, and the gate's warm-up ingest warms the ingest
        # path.
        return {"session_s": self.run.new_session()}

    def _read_calls(self):
        from cardano_analytics_duckdb_spark import cli
        from cardano_analytics_duckdb_spark.operators.reports import (
            token_transfer_report,
        )

        spark = self.run.spark
        lo, hi = self.window
        return [
            ("cli.query", lambda: _captured(
                cli.main, ["query", "--lake", self.lake], spark=spark)),
            ("reports.token_transfer_report", lambda: token_transfer_report(
                spark, root=self.lake)),
            ("reports.token_transfer_report.window",
             lambda: token_transfer_report(
                 spark, min_slot=lo, max_slot=hi, root=self.lake)),
        ]

    def _fresh_lake_expected(self, dest: str, tables) -> tuple[dict, str]:
        """DuckDB over the files the compacted lake currently serves."""
        from cardano_analytics_duckdb_spark.lake.fsutil import LakeFs
        from cardano_analytics_duckdb_spark.lake.generations import (
            current_data_paths,
        )

        r = self.run
        counts = {}
        tx_scan = None
        for table in tables:
            tdir = os.path.join(dest, table)
            paths = (
                current_data_paths(LakeFs(r.spark, tdir), tdir)
                if os.path.isdir(tdir) else []
            )
            if not paths:  # a sparse table this stream has no rows for
                counts[table] = 0
                continue
            globs = [
                p if p.endswith(".parquet") else os.path.join(p, "*.parquet")
                for p in (x.replace("file:", "", 1) for x in paths)
            ]
            scan = f"read_parquet({globs!r}, union_by_name=true)"
            counts[table] = r.helper.call("rows", f"SELECT count(*) FROM {scan}")[0][0]
            if table == "tx":
                tx_scan = scan
        top, summary = _high_fee_sql(tx_scan)
        text = _high_fee_text(
            r.helper.call("rows", top), r.helper.call("rows", summary)[0]
        )
        return counts, text

    def gate(self) -> None:
        from cardano_analytics_duckdb_spark import cli
        from cardano_analytics_duckdb_spark.streaming.ingest import compact_lake

        r = self.run
        _, warm, *slices, rows = r.helper.result()
        self.slice_sizes = slices  # (block JSON bytes, rows per table) each
        top, summary = rows["cli.query"]
        self.expected = {"cli.query": _high_fee_text(top, summary[0])}
        for k in ("reports.token_transfer_report",
                  "reports.token_transfer_report.window"):
            stats, by_type = rows[k]
            self.expected[k] = _report_text(stats[0], by_type)
        # Warm-up: ingest, compact and query a throwaway lake, checked like
        # a timed pass; then every read once.
        dest = os.path.join(r.work, "warmup")
        self._ingest(self.warmup_blocks, dest)
        compact_lake(r.spark, dest)
        got = _captured(cli.main, ["query", "--lake", dest], spark=r.spark)
        self._check_ingest("warmup", dest, warm[1], got)
        shutil.rmtree(dest)
        for name, call in self._read_calls():
            try:
                got = call()
                r.check(name, got == self.expected[name],
                        f"got {got!r} want {self.expected[name]!r}")
            except Exception as e:
                r.check(name, False, repr(e))

    def _check_ingest(self, label: str, dest: str, want_rows: dict,
                      report: str) -> None:
        """Row counts of the compacted lake against the blocks', and its
        high-fee report against DuckDB's on the same files."""
        counts, want = self._fresh_lake_expected(dest, want_rows)
        self.run.check(f"{label}.rows", counts == want_rows,
                       f"lake {counts} blocks {want_rows}")
        self.run.check(f"{label}.cli.query", report == want,
                       "report differs from DuckDB on the compacted lake")

    def run_pass(self) -> Pass:
        from cardano_analytics_duckdb_spark import cli
        from cardano_analytics_duckdb_spark.streaming.ingest import compact_lake

        r = self.run
        out = Pass()
        blocks = self.slices[self.n_passes]
        input_bytes, want_rows = self.slice_sizes[self.n_passes]
        dest = os.path.join(r.work, "ingest", str(self.n_passes))
        self.n_passes += 1
        t0 = time.perf_counter()
        src = self._ingest(blocks, dest)
        out.calls.append(Call(
            "streaming.ingest.ingest_blocks", [time.perf_counter() - t0], query=False
        ))
        written = _parquet_files(dest)
        with r.tracer.span("streaming.ingest.compact_lake"):
            t0 = time.perf_counter()
            compact_lake(r.spark, dest)
            out.calls.append(Call(
                "streaming.ingest.compact_lake", [time.perf_counter() - t0], query=False
            ))
        after = _parquet_files(dest)
        with r.tracer.span("cli.query.fresh"):
            t0 = time.perf_counter()
            fresh = _captured(cli.main, ["query", "--lake", dest], spark=r.spark)
            out.calls.append(Call(
                "cli.query.fresh", [time.perf_counter() - t0], query=False
            ))
        for name, call in self._read_calls():
            try:
                with r.tracer.span(name):
                    t0 = time.perf_counter()
                    got = call()
                    took = time.perf_counter() - t0
                r.check(name, got == self.expected[name],
                        f"got {got!r} want {self.expected[name]!r}")
            except Exception as e:
                r.check(name, False, repr(e))
                continue
            out.calls.append(Call(name, [took]))
            out.duck_s += r.helper.call("timed", list(self.reads[name]))
        r.check("ingest.blocks", src.blocks == r.size["ingest_blocks"],
                f"{src.blocks} blocks consumed")
        self._check_ingest("ingest", dest, want_rows, fresh)
        out.layers = {
            "ingest.blocks_per_s": src.blocks / out.calls[0].wall_s,
            "ingest.flushes": len(src.flushes),
            "ingest.flush_s.p50": statistics.median(src.flushes),
            "ingest.flush_s.max": max(src.flushes),
            "ingest.source_s": src.source_s,
            "ingest.files_written": len(written),
            "compact.wall_s": out.calls[1].wall_s,
            "compact.files_before": len(written),
            "compact.files_after": len(after),
            "compact.bytes_rewritten": sum(
                b for p, b in after.items() if p not in written
            ),
            "ingest.first_query_s": out.calls[2].wall_s,
            "lake.stored_bytes": _dir_bytes(dest),
        }
        out.layers["lake.stored_bytes_per_input_byte"] = (
            out.layers["lake.stored_bytes"] / input_bytes
        )
        shutil.rmtree(dest)
        return out

    def layers(self, p: Pass, tr) -> dict:
        from cardano_analytics_duckdb_spark.lake.layout import resolve_bucketed
        from cardano_analytics_duckdb_spark.lake.manifest import prune_files_box

        from .gen import TOKEN_NAME, TOKEN_POLICY

        spark = self.run.spark
        kept = prune_files_box(spark, os.path.join(self.lake, "asset"), [
            ("policy_id", TOKEN_POLICY, TOKEN_POLICY),
            ("asset_name", TOKEN_NAME, TOKEN_NAME),
            ("slot", *self.window),
        ])
        served = sum(
            resolve_bucketed(spark, self.lake, t) is not None
            for t in ("tx", "asset")
        )
        out = dict(p.layers)
        flushes = [s for s in tr.spans if s["name"] == "streaming.ingest.flush"]
        recent = flushes[-int(p.layers["ingest.flushes"]):]
        out.update({
            "spark.exec_s": p.wall_s,
            "lake.files_kept": len(kept),
            "lake.files_total": len(glob.glob(
                os.path.join(self.lake, "asset", "slot_group=*", "*.parquet")
            )),
            "lake.layout_served": served,
            "lake.layout_lookups": 2,
            "ingest.jobs_per_flush": statistics.fmean(s["jobs"] for s in recent),
            "ingest.tasks_per_flush": statistics.fmean(s["tasks"] for s in recent),
        })
        return out


WORKLOADS = {w.name: w for w in (Headline, CardanoLake)}
