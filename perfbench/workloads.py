"""The three workloads. Each is a closed loop driven by one client thread:
the next op is sent only after the previous one returned.

A workload exposes ``register`` (tables or table handles), ``warm`` (the
untimed rounds that absorb JIT, codegen and Python-worker start-up),
``rounds`` (an endless seeded stream of rounds; the window stops only
between rounds so every run times the same op mix) and ``finish`` (the
deferred, expensive checks, run after the timed window).
"""

from __future__ import annotations

import os
import random
import re

import pandas as pd

from harness import TABLES, Op, Tracer, catalyst_phases, dir_bytes, frame_bytes, frames_match, result_hash


class Checker:
    """Turns expected results into verdicts. ``corrupt`` damages the
    first expected frame it is handed, so a test can prove a wrong
    result is counted as a failed op."""

    def __init__(self, corrupt: bool = False):
        self.corrupt = corrupt

    def expected(self, pdf: pd.DataFrame) -> pd.DataFrame:
        if self.corrupt:
            self.corrupt = False
            pdf = pdf.assign(corrupted=1)
        return pdf


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


# ======================================================= sql_interactive
#: name -> (SQL sent to BlazingContext.sql, literal generator). Families
#: from the concurrent-query probe plus TPC-H q1/q3/q5/q6/q19 shapes
#: (fixture columns only). ``string``, ``dates`` and ``q6`` are written in
#: the reference dialect (bare ``CAST .. AS VARCHAR``, ``TO_DATE`` with an
#: Oracle-style format) so that ``dialect.prepare`` rewrites them.
SQL_TEMPLATES: dict[str, tuple[str, object]] = {
    "agg": ("""
        SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
               sum(l_quantity) AS sum_qty
        FROM lineitem WHERE l_quantity <= {q}
        GROUP BY l_returnflag, l_linestatus""",
        lambda r: {"q": r.randint(10, 50)}),
    "join": ("""
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > {bal} GROUP BY n_name""",
        lambda r: {"bal": r.randint(-900, 9000)}),
    "window": ("""
        SELECT o_custkey, o_orderkey,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
        FROM orders WHERE o_custkey BETWEEN {lo} AND {lo} + 19""",
        lambda r: {"lo": r.randint(0, 14900)}),
    "string": ("""
        SELECT upper(substring(p_name, 1, 8)) AS pfx,
               CAST(p_size AS VARCHAR) AS sz, CAST(count(*) AS BIGINT) AS n
        FROM part WHERE p_size BETWEEN {s} AND {s} + 4
        GROUP BY upper(substring(p_name, 1, 8)), CAST(p_size AS VARCHAR)
        ORDER BY pfx, sz LIMIT 50""",
        lambda r: {"s": r.randint(1, 46)}),
    "dates": ("""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(count(*) AS BIGINT) AS n
        FROM orders WHERE o_orderdate >= TO_DATE('{d}', 'YYYY-MM-DD')
        GROUP BY year(o_orderdate)""",
        lambda r: {"d": _date(r, 1995, 2000)}),
    "filter": ("""
        SELECT CAST(count(*) AS BIGINT) AS n, sum(l_extendedprice) AS rev
        FROM lineitem
        WHERE l_quantity < {q} AND l_discount BETWEEN {d0} AND {d1}""",
        lambda r: _disc(r, {"q": r.randint(5, 50)})),
    "semi": ("""
        SELECT CAST(count(*) AS BIGINT) AS n FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_acctbal > {bal})""",
        lambda r: {"bal": r.randint(-900, 9000)}),
    "ansi_div": ("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(avg(81619.0 / (o_orderkey % {m})) AS DOUBLE) AS r
        FROM orders WHERE o_orderkey % {m} <> 0""",
        lambda r: {"m": r.randint(3, 13)}),
    "q1": ("""
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
               avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
               avg(l_discount) AS avg_disc, CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2001-11-04' - INTERVAL {days} DAY
        GROUP BY l_returnflag, l_linestatus""",
        lambda r: {"days": r.randint(60, 720)}),
    "q3": ("""
        SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
               o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey AND o_orderdate < DATE '{d}'
          AND l_shipdate > DATE '{d}'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
        lambda r: {"seg": r.choice(_SEGMENTS), "d": _date(r, 1996, 2000)}),
    "q5": ("""
        SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = '{region}' AND o_orderdate >= DATE '{y}-01-01'
          AND o_orderdate < DATE '{y}-01-01' + INTERVAL 1 YEAR
        GROUP BY n_name""",
        lambda r: {"region": r.choice(_REGIONS), "y": r.randint(1995, 2000)}),
    "q6": ("""
        SELECT sum(l_extendedprice * l_discount) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TO_DATE('{d}', 'YYYY-MM-DD')
          AND l_shipdate < TO_DATE('{d}', 'YYYY-MM-DD') + INTERVAL 1 YEAR
          AND l_discount BETWEEN {d0} AND {d1} AND l_quantity < {q}""",
        lambda r: _disc(r, {"d": _date(r, 1995, 2000), "q": r.randint(20, 30)})),
    "q19": ("""
        SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND (
          (p_brand = 'Brand#{b1}' AND l_quantity BETWEEN {q1} AND {q1} + 10
           AND p_size BETWEEN 1 AND 5)
          OR (p_brand = 'Brand#{b2}' AND l_quantity BETWEEN {q2} AND {q2} + 10
              AND p_size BETWEEN 1 AND 10)
          OR (p_brand = 'Brand#{b3}' AND l_quantity BETWEEN {q3} AND {q3} + 10
              AND p_size BETWEEN 1 AND 15))""",
        lambda r: {"b1": r.randint(1, 25), "b2": r.randint(1, 25),
                   "b3": r.randint(1, 25), "q1": r.randint(1, 10),
                   "q2": r.randint(10, 20), "q3": r.randint(20, 30)}),
}
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_TO_DATE = re.compile(r"TO_DATE\('([^']*)', 'YYYY-MM-DD'\)")


def _date(r: random.Random, y0: int, y1: int) -> str:
    return f"{r.randint(y0, y1)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"


def _disc(r: random.Random, params: dict) -> dict:
    lo = r.randint(1, 8)
    return {**params, "d0": f"0.{lo:02d}", "d1": f"0.{lo + 2:02d}"}


def duckdb_sql(sql: str) -> str:
    """The oracle's spelling of a template: DuckDB has no
    ``TO_DATE(.., fmt)``; every other construct is shared."""
    return _TO_DATE.sub(r"DATE '\1'", sql)


class SqlInteractive:
    name = "sql_interactive"
    warm_rounds = 2

    def __init__(self, spark, sf_dir: str, rng: random.Random, checker: Checker):
        self.spark, self.sf_dir, self.rng, self.checker = spark, sf_dir, rng, checker
        self.pending: list[tuple[str, pd.DataFrame]] = []

    def register(self) -> None:
        from pyblazing_spark.context import BlazingContext

        self.bc = BlazingContext(self.spark)
        for t in TABLES:
            self.bc.create_table(t, os.path.join(self.sf_dir, f"{t}.parquet"))

    def warm(self) -> None:
        for _ in range(self.warm_rounds):
            for op in self._round(self.rng):
                op.run(Tracer(False))

    def rounds(self):
        while True:
            yield self._round(self.rng)

    def _round(self, rng: random.Random) -> list[Op]:
        names = list(SQL_TEMPLATES)
        rng.shuffle(names)
        ops = []
        for name in names:
            text, gen = SQL_TEMPLATES[name]
            ops.append(Op(kind=name, run=self._runner(text.format(**gen(rng))),
                          expect=self._expect))
        return ops

    def _runner(self, sql: str):
        def run(tracer: Tracer):
            if not tracer.enabled:
                return sql, self.bc.sql(sql, eager=True)
            return sql, self._traced(tracer, sql)
        return run

    def _traced(self, tracer: Tracer, sql: str) -> pd.DataFrame:
        from pyblazing_spark import dialect

        with tracer.span("dialect.prepare") as s:
            dialect.prepare(sql)
        captured = []
        real_sql = self.spark.sql

        def capture(*a, **kw):
            df = real_sql(*a, **kw)
            captured.append(df)
            return df

        # capture the DataFrame BlazingContext.sql builds, for its
        # Catalyst phase times
        self.spark.sql = capture
        try:
            with tracer.span("context.sql") as s:
                pdf = self.bc.sql(sql, eager=True)
        finally:
            del self.spark.sql
        s["phases"] = catalyst_phases(captured[-1])
        s["rows"], s["bytes"] = len(pdf), frame_bytes(pdf)
        return pdf

    def _expect(self, result) -> bool | None:
        self.pending.append(result)
        return None

    def finish(self) -> list[bool]:
        """DuckDB over the same parquet files, one statement per timed op."""
        con = _duck(self.sf_dir)
        verdicts = []
        for sql, got in self.pending:
            want = self.checker.expected(con.execute(duckdb_sql(sql)).df())
            verdicts.append(frames_match(got, want) is None)
        con.close()
        self.pending.clear()
        return verdicts


# ======================================================= operators_batch
OPERATOR_ENTRIES = (
    "text_stats", "text_multi_keyword_tag", "text_unigram_tokenize",
    "text_bpe_encode", "dedup_minhash_lsh", "dedup_paragraph",
    "ann_cosine_topk", "multimodal_features", "join_bloom_prune",
    "pipeline_quality_deciles", "graph_scc", "graph_scc_pivot",
)


class OperatorsBatch:
    name = "operators_batch"

    def __init__(self, spark, sf_dir: str, rng: random.Random, checker: Checker):
        self.spark, self.sf_dir, self.rng, self.checker = spark, sf_dir, rng, checker
        self.ref_hash: dict[str, str] = {}
        self.oracle: dict[str, pd.DataFrame] = {}
        self.pending: list[tuple[str, pd.DataFrame]] = []
        self.counters = None  # the runner's SparkCounters, in traced runs

    def register(self) -> None:
        from pyblazing_spark.plans.registry import REGISTRY

        self.specs = {e: REGISTRY[e] for e in OPERATOR_ENTRIES}

    def warm(self) -> None:
        """One untimed seeded pass; its results are not checked."""
        for op in self._round(self.rng):
            op.run(Tracer(False))

    def rounds(self):
        while True:
            yield self._round(self.rng)

    def _round(self, rng: random.Random) -> list[Op]:
        names = list(OPERATOR_ENTRIES)
        rng.shuffle(names)
        return [Op(kind=e, run=self._runner(e), expect=self._expecter(e)) for e in names]

    def _runner(self, entry: str):
        fn = self.specs[entry].fn

        def run(tracer: Tracer):
            if not tracer.enabled:
                return fn(self.spark, self.sf_dir).toPandas()
            with tracer.span("plans.construct") as c:
                df = fn(self.spark, self.sf_dir)
            c["jobs"] = len(self.counters.job_ids())
            with tracer.span("transfer.collect") as t:
                pdf = df.toPandas()
            t["phases"] = catalyst_phases(df)
            t["rows"], t["bytes"] = len(pdf), frame_bytes(pdf)
            return pdf
        return run

    def _expecter(self, entry: str):
        def expect(pdf: pd.DataFrame) -> bool | None:
            if self.ref_hash.get(entry) == result_hash(pdf):
                return True
            self.pending.append((entry, pdf))
            return None
        return expect

    def finish(self) -> list[bool]:
        """Each entry's registry oracle SQL on DuckDB, once; an oracle-green
        result becomes the hash later passes are compared by."""
        con = _duck(self.sf_dir) if any(e not in self.oracle for e, _ in self.pending) else None
        verdicts = []
        for e, got in self.pending:
            if e not in self.oracle:
                self.oracle[e] = self.checker.expected(con.execute(self.specs[e].oracle).df())
            ok = frames_match(got, self.oracle[e]) is None
            if ok:
                self.ref_hash.setdefault(e, result_hash(got))
            verdicts.append(ok)
        if con is not None:
            con.close()
        self.pending.clear()
        return verdicts


# ============================================================ txn_ingest
class TxnIngest:
    """Cycles on a TxnTable keyed and bucketed on ``o_orderkey``: append
    a new key slice, merge an update into an earlier slice, one range
    read and ``points`` point lookups; a compaction after every
    ``compact_every`` commits. Reads are checked against a pandas model
    of the table. Slices are 1/150 of ``orders``, in seeded order."""

    name = "txn_ingest"
    n_slices = 150
    initial_slices = 20
    points = 3
    compact_every = 6
    buckets = 8
    warm_rounds = 1

    def __init__(self, spark, sf_dir: str, rng: random.Random, checker: Checker,
                 work: str):
        import pyarrow.parquet as pq

        self.spark, self.sf_dir, self.rng, self.checker = spark, sf_dir, rng, checker
        self.path = os.path.join(work, "orders_txn")
        src = pq.read_table(os.path.join(sf_dir, "orders.parquet")).to_pandas()
        self.source = src.sort_values("o_orderkey").reset_index(drop=True)
        self.slice_rows = len(self.source) // self.n_slices
        self.order = list(range(self.n_slices))
        rng.shuffle(self.order)
        self.next_slice = 0
        self.user_bytes = 0
        self.pending: list[tuple[pd.DataFrame, pd.DataFrame]] = []

    # --- inputs -------------------------------------------------------
    def _slice(self) -> pd.DataFrame:
        if self.next_slice == self.n_slices:
            raise RuntimeError("txn_ingest ran out of new key slices")
        i = self.order[self.next_slice]
        self.next_slice += 1
        return self.source.iloc[i * self.slice_rows:(i + 1) * self.slice_rows]

    def _frame(self, pdf: pd.DataFrame):
        """The Spark frame a client would hand in, and its Arrow size."""
        import pyarrow as pa

        nbytes = pa.Table.from_pandas(pdf, preserve_index=False).nbytes
        self.user_bytes += nbytes
        return self.spark.createDataFrame(pdf, schema=self.schema), nbytes

    def register(self) -> None:
        from pyblazing_spark.sources.txn_table import TxnTable

        self.schema = self.spark.read.parquet(
            os.path.join(self.sf_dir, "orders.parquet")).schema
        first = pd.concat([self._slice() for _ in range(self.initial_slices)])
        self.model = first.set_index("o_orderkey", drop=False).sort_index()
        self.table = TxnTable.create(self.spark, self.path, self._frame(first)[0],
                                     key="o_orderkey", n_buckets=self.buckets)

    def warm(self) -> None:
        for _ in range(self.warm_rounds):
            for op in self._round(self.rng):
                op.run(Tracer(False))

    def rounds(self):
        while True:
            yield self._round(self.rng)

    # --- ops ------------------------------------------------------------
    def _round(self, rng: random.Random) -> list[Op]:
        """Cycles until ``compact_every`` commits, then one compaction.
        An op draws its inputs when it runs: they depend on the model."""
        ops: list[Op] = []
        for _ in range(self.compact_every // 2):
            ops.append(Op("append", self._append, is_write=True, expect=_committed))
            ops.append(Op("merge", lambda t: self._merge(t, rng), is_write=True,
                          expect=_committed))
            ops.append(Op("read_range", lambda t: self._read_range(t, rng),
                          expect=self._expect_read))
            for _ in range(self.points):
                ops.append(Op("read_point", lambda t: self._read_point(t, rng),
                              expect=self._expect_read))
        ops.append(Op("compact", lambda t: self._write(t, "sources.compact", self.table.compact),
                      is_write=True, expect=_committed))
        return ops

    def _write(self, tracer: Tracer, span: str, commit, user_bytes: int = 0) -> int:
        """One commit; traced runs also record the files it rewrote and
        the bytes it wrote."""
        if not tracer.enabled:
            return commit()
        live = set(self.table.read().inputFiles())
        size = dir_bytes(self.path)
        with tracer.span(span) as s:
            v = commit()
        s["rewritten"] = len(live - set(self.table.read().inputFiles()))
        s["written_bytes"] = dir_bytes(self.path) - size
        s["user_bytes"] = user_bytes
        return v

    def _append(self, tracer: Tracer) -> int:
        pdf = self._slice()
        df, nbytes = self._frame(pdf)
        v = self._write(tracer, "sources.append", lambda: self.table.append(df), nbytes)
        self.model = pd.concat([self.model, pdf.set_index("o_orderkey", drop=False)]).sort_index()
        return v

    def _merge(self, tracer: Tracer, rng: random.Random) -> int:
        start = rng.randrange(0, len(self.model) - self.slice_rows // 5)
        upd = self.model.iloc[start:start + self.slice_rows // 5].reset_index(drop=True)
        upd["o_totalprice"] = upd["o_totalprice"] * 1.01 + 1.0
        upd["o_orderstatus"] = "U"
        df, nbytes = self._frame(upd)
        v = self._write(tracer, "sources.merge", lambda: self.table.merge(df), nbytes)
        keys = upd["o_orderkey"].to_numpy()
        for col in ("o_totalprice", "o_orderstatus"):
            self.model.loc[keys, col] = upd[col].to_numpy()
        return v

    def _read_range(self, tracer: Tracer, rng: random.Random):
        lo = int(rng.choice(self.model.index.to_numpy()))
        return self._read(tracer, lo, lo + 3 * self.slice_rows)

    def _read_point(self, tracer: Tracer, rng: random.Random):
        k = int(rng.choice(self.model.index.to_numpy()))
        return self._read(tracer, k, k)

    def _read(self, tracer: Tracer, lo: int, hi: int):
        with tracer.span("sources.read") as s:
            df = self.table.read(key_between=(lo, hi))
        with tracer.span("transfer.collect") as t:
            pdf = df.toPandas()
        if tracer.enabled:
            s["files"] = len(df.inputFiles())
            s["live_files"] = len(self.table.read().inputFiles())
            t["rows"], t["bytes"] = len(pdf), frame_bytes(pdf)
        return pdf, self.model.loc[lo:hi].reset_index(drop=True)

    def _expect_read(self, result) -> bool | None:
        got, want = result
        want = self.checker.expected(want)
        if result_hash(got) == result_hash(want):
            return True
        self.pending.append((got, want))
        return None

    def finish(self) -> list[bool]:
        verdicts = [frames_match(got, want) is None for got, want in self.pending]
        self.pending.clear()
        return verdicts

    def stored_bytes_per_user_byte(self) -> float:
        return dir_bytes(self.path) / self.user_bytes


def _committed(version) -> bool:
    return isinstance(version, int) and version > 0


WORKLOADS = {w.name: w for w in (SqlInteractive, OperatorsBatch, TxnIngest)}
