"""Replay the reference's own e2e SQL corpus through BlazingContext.

The reference ships 48 YAML suites / 671 SQL queries
(``/root/reference/tests/BlazingSQLTest/EndToEndTests/TestSuites`` —
SURVEY.md §5); each suite compares engine output against Apache Drill
with a sorted-rows compare and a per-suite ACCEPTABLE_DIFFERENCE
tolerance. This harness does the same with DuckDB as the oracle:

1. parse every suite, pull each query's SQL verbatim;
2. keep the queries whose tables AND columns exist in the fixtures —
   the driver parquet (FIXTURES.md) extended with deterministically
   DERIVED columns and a derived partsupp (see ``AUGMENTS`` /
   ``PARTSUPP_SQL``), registered identically in both engines;
3. run each through ``BlazingContext.sql`` (the dialect shim included)
   and through DuckDB on the same inputs; compare sorted frames with
   the reference's 0.01 tolerance.

Usage: python scripts/reference_replay.py [sf_dir] [-v]
Exits nonzero if any runnable query mismatches. A query that neither
engine can parse (Calcite-only syntax) is counted "skipped:dialect" —
reported, not failed, mirroring how the reference itself skips suites
per engine capability (SKIP_WITH blocks).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SUITE_DIR = "/root/reference/tests/BlazingSQLTest/EndToEndTests/TestSuites"

TABLES = {
    "region": ("r_regionkey", "r_name", "r_comment"),
    "nation": ("n_nationkey", "n_name", "n_regionkey", "n_comment"),
    "customer": (
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        "c_comment", "c_address", "c_phone",
    ),
    "supplier": (
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal",
        "s_comment", "s_address", "s_phone",
    ),
    "part": (
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice",
        "p_mfgr", "p_container",
    ),
    "orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        "o_clerk", "o_shippriority", "o_comment",
    ),
    "lineitem": (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate",
        "l_commitdate", "l_receiptdate", "l_shipmode", "l_shipinstruct",
        "l_comment",
    ),
    "partsupp": (
        "ps_partkey", "ps_suppkey", "ps_availqty", "ps_supplycost", "ps_comment",
    ),
    "bool_orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
        "o_clerk", "o_shippriority", "o_comment", "o_confirmed",
    ),
    "interval_table": ("i_id", "i_duration_s", "i_duration_ms"),
}

#: Tables with no backing parquet — derived entirely from other fixtures
#: inside :func:`register_fixtures`.
DERIVED_TABLES = frozenset({"partsupp", "bool_orders", "interval_table"})

#: Derived fixture columns. The driver's parquet fixtures trim several
#: TPC-H columns (and drop partsupp entirely — FIXTURES.md); ~120 corpus
#: queries touch them. Each missing column is re-derived as a
#: DETERMINISTIC function of columns that DO exist, written in the SQL
#: subset both engines parse identically (verified: CAST AS
#: STRING/INT/BIGINT/DOUBLE, concat, lpad, CASE, int * INTERVAL '1' DAY,
#: and VALUES lists all behave the same in Spark and DuckDB). Both
#: engines therefore query bit-identical inputs, so the comparison still
#: validates ENGINE semantics — exactly what this harness tests. Values
#: mimic TPC-H shape (clerk/phone formats, LIKE-able comment keywords
#: such as Q13's '%special%requests%' and Q16's '%Customer%Complaints%')
#: so the corpus predicates stay selective instead of trivially
#: all-true/all-false.
AUGMENTS: dict[str, tuple[tuple[str, str], ...]] = {
    "region": (("r_comment", "concat('region ', r_name)"),),
    "nation": (("n_comment", "concat('nation ', n_name)"),),
    "customer": (
        (
            "c_comment",
            "CASE WHEN c_custkey % 5 = 0"
            " THEN concat('special packages requests ', CAST(c_custkey AS STRING))"
            " ELSE concat('regular customer ', CAST(c_custkey AS STRING)) END",
        ),
        ("c_address", "concat('Address #', CAST(c_custkey AS STRING))"),
        (
            "c_phone",
            "concat(CAST(10 + c_nationkey AS STRING), '-',"
            " lpad(CAST((c_custkey * 7) % 1000 AS STRING), 3, '0'), '-',"
            " lpad(CAST((c_custkey * 13) % 1000 AS STRING), 3, '0'), '-',"
            " lpad(CAST((c_custkey * 31) % 10000 AS STRING), 4, '0'))",
        ),
    ),
    "supplier": (
        (
            "s_comment",
            "CASE WHEN s_suppkey % 10 = 0"
            " THEN concat('Customer Complaints ', CAST(s_suppkey AS STRING))"
            " ELSE concat('supplier note ', CAST(s_suppkey AS STRING)) END",
        ),
        ("s_address", "concat('Supplier Address #', CAST(s_suppkey AS STRING))"),
        (
            "s_phone",
            "concat(CAST(10 + s_nationkey AS STRING), '-',"
            " lpad(CAST((s_suppkey * 7) % 1000 AS STRING), 3, '0'), '-',"
            " lpad(CAST((s_suppkey * 13) % 1000 AS STRING), 3, '0'), '-',"
            " lpad(CAST((s_suppkey * 31) % 10000 AS STRING), 4, '0'))",
        ),
    ),
    "part": (
        ("p_mfgr", "concat('Manufacturer#', CAST(1 + p_partkey % 5 AS STRING))"),
        (
            "p_container",
            "CASE CAST(p_partkey % 4 AS INT) WHEN 0 THEN 'SM CASE'"
            " WHEN 1 THEN 'MED BOX' WHEN 2 THEN 'LG JAR' ELSE 'WRAP PKG' END",
        ),
    ),
    "orders": (
        (
            "o_clerk",
            "concat('Clerk#', lpad(CAST(o_orderkey % 1000 AS STRING), 9, '0'))",
        ),
        ("o_shippriority", "CAST(o_orderkey % 3 AS INT)"),
        (
            "o_comment",
            "CASE WHEN o_orderkey % 7 = 0"
            " THEN concat('special requests ', CAST(o_orderkey AS STRING))"
            " ELSE concat('order note ', CAST(o_orderkey AS STRING)) END",
        ),
    ),
    "lineitem": (
        (
            "l_commitdate",
            "l_shipdate - CAST(l_orderkey % 30 AS INT) * INTERVAL '1' DAY",
        ),
        (
            "l_receiptdate",
            "l_shipdate + CAST(l_linenumber % 10 AS INT) * INTERVAL '1' DAY",
        ),
        (
            "l_shipmode",
            "CASE CAST((l_orderkey + l_linenumber) % 7 AS INT)"
            " WHEN 0 THEN 'MAIL' WHEN 1 THEN 'SHIP' WHEN 2 THEN 'RAIL'"
            " WHEN 3 THEN 'TRUCK' WHEN 4 THEN 'AIR' WHEN 5 THEN 'REG AIR'"
            " ELSE 'FOB' END",
        ),
        (
            "l_shipinstruct",
            "CASE CAST((l_orderkey + l_linenumber) % 4 AS INT)"
            " WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD'"
            " WHEN 2 THEN 'NONE' ELSE 'TAKE BACK RETURN' END",
        ),
        (
            "l_comment",
            "concat('lineitem ', CAST(l_orderkey AS STRING), '-',"
            " CAST(l_linenumber AS STRING))",
        ),
    ),
}

#: Derived partsupp: 4 deterministic supplier slots per part over the
#: augmented ``part`` view (registered in both engines). ``{nsupp}`` is
#: the actual supplier row count (keys are 0-based, dense), so every
#: ps_suppkey joins back to a real supplier. ps_supplycost avoids a
#: round() step — integer-derived double division is bit-identical IEEE
#: in both engines, round-half modes are not.
PARTSUPP_SQL = """SELECT p_partkey AS ps_partkey,
       CAST((p_partkey + i.i * 257) % {nsupp} AS BIGINT) AS ps_suppkey,
       CAST((p_partkey * 7 + i.i * 13) % 9999 + 1 AS INT) AS ps_availqty,
       CAST((p_partkey * 31 + i.i * 7) % 100000 AS DOUBLE) / 100.0 AS ps_supplycost,
       concat('ps note ', CAST(p_partkey AS STRING), '-', CAST(i.i AS STRING)) AS ps_comment
FROM part, (VALUES (0), (1), (2), (3)) AS i(i)"""

#: Derived bool_orders (booleanSuite): the reference loads orders rows
#: with an extra NULLABLE boolean o_confirmed from .psv
#: (``DataBase/createSchema.py:198`` / ``Utils/utilityHive.py:73``).
BOOL_ORDERS_SQL = """SELECT *,
       CASE WHEN o_orderkey % 19 = 0 THEN CAST(NULL AS BOOLEAN)
            WHEN o_orderkey % 3 = 0 THEN true ELSE false END AS o_confirmed
FROM orders"""


#: Derived interval_table (intervalSuite; reference loads i_duration_s /
#: i_duration_ms DURATION columns from .psv —
#: ``DataBase/createSchema.py:421-443``). Interval construction has no
#: shared syntax (Spark: make_dt_interval; DuckDB: to_seconds /
#: to_milliseconds), so the two engine-specific statements below encode
#: IDENTICAL values: i_duration_s = (7i % 500) whole seconds (injective
#: over i < 300, so ORDER BY ... LIMIT cuts are deterministic),
#: i_duration_ms = (13i % 40) seconds expressed in ms (whole-second
#: values so the suite's cross-unit join i_duration_ms = i_duration_s
#: is non-vacuous), with nulls at i%11==0 / i%13==0. Both land in
#: pandas as timedelta64, so the value compare is exact.
INTERVAL_TABLE_SPARK = """SELECT CAST(id AS BIGINT) AS i_id,
       CASE WHEN id % 11 = 0 THEN NULL
            ELSE make_dt_interval(0, 0, 0, CAST((id * 7) % 500 AS DOUBLE)) END
           AS i_duration_s,
       CASE WHEN id % 13 = 0 THEN NULL
            ELSE make_dt_interval(0, 0, 0, CAST((id * 13) % 40 AS DOUBLE)) END
           AS i_duration_ms
FROM range(0, 300)"""

INTERVAL_TABLE_DUCKDB = """SELECT CAST(i AS BIGINT) AS i_id,
       CASE WHEN i % 11 = 0 THEN NULL
            ELSE to_seconds(CAST((i * 7) % 500 AS BIGINT)) END AS i_duration_s,
       CASE WHEN i % 13 = 0 THEN NULL
            ELSE to_milliseconds(CAST((i * 13) % 40 * 1000 AS BIGINT)) END
           AS i_duration_ms
FROM generate_series(0, 299) t(i)"""


def register_fixtures(bc, con, sf_dir: str) -> None:
    """Register every fixture table in BOTH engines, base parquet plus the
    derived columns/tables above — identical inputs on each side."""
    for tbl in TABLES:
        if tbl in DERIVED_TABLES:
            continue
        path = f"{sf_dir}/{tbl}.parquet"
        sel = ", ".join(
            ["*", *(f"{expr} AS {col}" for col, expr in AUGMENTS.get(tbl, ()))]
        )
        bc.spark.read.parquet(path).createOrReplaceTempView(f"_{tbl}_base")
        bc.create_table(tbl, bc.spark.sql(f"SELECT {sel} FROM _{tbl}_base"))
        con.execute(f"CREATE VIEW {tbl} AS SELECT {sel} FROM '{path}'")
    nsupp = con.execute("SELECT count(*) FROM supplier").fetchone()[0]
    for name, tmpl in (("partsupp", PARTSUPP_SQL), ("bool_orders", BOOL_ORDERS_SQL)):
        sql = tmpl.format(nsupp=nsupp)
        bc.create_table(name, bc.spark.sql(sql))
        con.execute(f"CREATE VIEW {name} AS {sql}")
    bc.create_table("interval_table", bc.spark.sql(INTERVAL_TABLE_SPARK))
    con.execute(f"CREATE VIEW interval_table AS {INTERVAL_TABLE_DUCKDB}")
AVAILABLE_COLS = frozenset(c for cols in TABLES.values() for c in cols)
#: TPC-H identifier shape: one-letter table prefix + underscore.
_IDENT = re.compile(r"\b([lcopsnr]+_[a-z0-9_]+)\b")
_FROM_TABLE = re.compile(r"\b(?:from|join)\s+([a-z_][a-z0-9_]*)", re.I)


def load_corpus() -> list[tuple[str, str, str]]:
    """(suite, test_name, sql) for every query in every suite."""
    import yaml

    out = []
    for fname in sorted(os.listdir(SUITE_DIR)):
        if not fname.endswith(".yaml"):
            continue
        with open(os.path.join(SUITE_DIR, fname)) as fh:
            try:
                doc = yaml.safe_load(fh)
            except yaml.YAMLError:
                continue
        suite = doc.get("TEST_SUITE", {}) if isinstance(doc, dict) else {}
        for key, val in suite.items():
            if key == "SETUP" or not isinstance(val, dict):
                continue
            sql = val.get("SQL")
            if isinstance(sql, str) and sql.strip():
                out.append((fname.removesuffix(".yaml"), key, sql.strip()))
    return out


def _split_top_args(s: str) -> list[str]:
    """Split an argument list on top-level commas (parens/quotes aware)."""
    parts, depth, cur, i, n = [], 0, [], 0, len(s)
    while i < n:
        ch = s[i]
        if ch == "'":
            cur.append(ch)
            i += 1
            while i < n:
                cur.append(s[i])
                if s[i] == "'":
                    break
                i += 1
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _rewrite_calls(sql: str, fn_name: str, build) -> str:
    """Replace every ``fn_name(args...)`` with ``build(args_list)``.

    Emits rewritten text into an output buffer and resumes the scan
    after the original call site, so a replacement that still contains
    the function name (e.g. ``count(*)`` -> ``count(*)``) is never
    rescanned."""
    pat = re.compile(rf"(?i)\b{fn_name}\s*\(")
    out, pos = [], 0
    while True:
        m = pat.search(sql, pos)
        if not m:
            out.append(sql[pos:])
            return "".join(out)
        open_idx = m.end() - 1
        depth, i = 0, open_idx
        while i < len(sql):
            if sql[i] == "'":
                i += 1
                while i < len(sql) and sql[i] != "'":
                    i += 1
            elif sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        # inner args may contain nested calls of the same function:
        # rewrite them recursively (fresh scan over the argument text).
        args = [
            _rewrite_calls(a, fn_name, build)
            for a in _split_top_args(sql[open_idx + 1 : i])
        ]
        out.append(sql[pos : m.start()])
        out.append(build(args))
        pos = i + 1


def oracle_translate(sql: str) -> str:
    """Rewrite reference constructs DuckDB lacks into DuckDB SQL — applied
    to the ORACLE side only (BlazingContext gets the verbatim query).

    Covers: TIMESTAMPADD/TIMESTAMPDIFF (-> interval math / date_diff),
    Calcite TO_DATE/TO_TIMESTAMP with C-style formats (-> strptime), and
    Calcite's multi-argument COUNT / COUNT(DISTINCT ...) (counts rows
    where ALL arguments are non-null; verified to match Spark's
    semantics)."""
    sql = _rewrite_calls(
        sql, "TIMESTAMPADD",
        lambda a: f"(CAST({a[2]} AS TIMESTAMP) + ({a[1]}) * INTERVAL 1 {a[0]})",
    )
    _UNIT_SECONDS = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600, "DAY": 86400}

    def _ts_diff(a: list[str]) -> str:
        # Calcite/Spark TIMESTAMPDIFF counts COMPLETE units (truncation
        # toward zero); DuckDB date_diff counts boundary crossings — off
        # by one for negative sub-unit remainders. Epoch math matches
        # the reference exactly for fixed-width units.
        secs = _UNIT_SECONDS.get(a[0].upper())
        if secs is None:  # calendar units: boundary counting is close enough
            return f"date_diff('{a[0]}', CAST({a[1]} AS TIMESTAMP), CAST({a[2]} AS TIMESTAMP))"
        return (
            f"CAST(trunc((epoch(CAST({a[2]} AS TIMESTAMP)) - "
            f"epoch(CAST({a[1]} AS TIMESTAMP))) / {secs}) AS BIGINT)"
        )

    sql = _rewrite_calls(sql, "TIMESTAMPDIFF", _ts_diff)
    sql = _rewrite_calls(
        sql, "TO_TIMESTAMP",
        lambda a: f"strptime({a[0]}, {a[1]})" if len(a) == 2 else f"TO_TIMESTAMP({', '.join(a)})",
    )
    sql = _rewrite_calls(
        sql, "TO_DATE",
        lambda a: (
            f"CAST(strptime({a[0]}, {a[1]}) AS DATE)" if len(a) == 2 else f"TO_DATE({', '.join(a)})"
        ),
    )

    def _multi_count(args: list[str]) -> str:
        distinct = args and re.match(r"(?i)^distinct\s+", args[0])
        if distinct:
            args = [re.sub(r"(?i)^distinct\s+", "", args[0]), *args[1:]]
            if len(args) == 1:
                return f"count(DISTINCT {args[0]})"
            guard = " AND ".join(f"{a} IS NOT NULL" for a in args)
            return f"count(DISTINCT CASE WHEN {guard} THEN ({', '.join(args)}) END)"
        if len(args) <= 1:
            return f"count({', '.join(args)})"
        guard = " AND ".join(f"{a} IS NOT NULL" for a in args)
        return f"count(CASE WHEN {guard} THEN 1 END)"

    sql = _rewrite_calls(sql, "COUNT", _multi_count)

    # Domain deltas: Spark returns NaN (inverse trig) or NULL (logs of
    # non-positives) outside a function's domain; DuckDB throws — guard
    # and emit Spark's value so results compare (_compare treats
    # NaN==NaN as equal).
    for fn in ("ASIN", "ACOS"):
        sql = _rewrite_calls(
            sql, fn,
            lambda a, f=fn.lower(): (
                f"(CASE WHEN ({a[0]}) BETWEEN -1 AND 1 THEN {f}({a[0]}) "
                f"ELSE 'NaN'::DOUBLE END)"
            ),
        )
    for fn in ("LN", "LOG10", "LOG2"):
        sql = _rewrite_calls(
            sql, fn,
            lambda a, f=fn.lower(): (
                f"(CASE WHEN ({a[0]}) > 0 THEN {f}({a[0]}) END)"
                if len(a) == 1
                else f"{f}({', '.join(a)})"
            ),
        )
    sql = _rewrite_calls(
        sql, "SQRT",
        lambda a: (
            f"(CASE WHEN ({a[0]}) >= 0 THEN sqrt({a[0]}) "
            f"ELSE 'NaN'::DOUBLE END)"
        ),
    )
    # naming deltas: DuckDB spells CHAR_LENGTH as length and has no
    # initcap — emulate Spark's (lowercase all, capitalize each
    # space-delimited word's first letter).
    # multi-field interval literals (INTERVAL '15:30' MINUTE TO SECOND,
    # INTERVAL '2 10' DAY TO HOUR ...): DuckDB's parser rejects the
    # SQL-standard span form — expand to a sum of single-unit intervals.
    _UNIT_ORDER = ["DAY", "HOUR", "MINUTE", "SECOND"]

    def _expand_interval(m: "re.Match[str]") -> str:
        lit, u_from, u_to = m.group(1), m.group(2).upper(), m.group(3).upper()
        if u_from == "YEAR" and u_to == "MONTH":
            parts, units = re.split(r"-", lit.strip()), ["YEAR", "MONTH"]
        else:
            if u_from not in _UNIT_ORDER or u_to not in _UNIT_ORDER:
                return m.group(0)
            units = _UNIT_ORDER[_UNIT_ORDER.index(u_from) : _UNIT_ORDER.index(u_to) + 1]
            parts = re.split(r"[ :]+", lit.strip())
        if len(parts) != len(units):
            return m.group(0)
        terms = " + ".join(
            f"INTERVAL {int(p)} {u}" for p, u in zip(parts, units)
        )
        return f"({terms})"

    sql = re.sub(
        r"(?i)\bINTERVAL\s+'([^']+)'\s+"
        r"(YEAR|DAY|HOUR|MINUTE|SECOND)\s*(?:\(\d+\))?\s+TO\s+"
        r"(MONTH|HOUR|MINUTE|SECOND)",
        _expand_interval,
        sql,
    )

    sql = _rewrite_calls(sql, "CHAR_LENGTH", lambda a: f"length({a[0]})")
    # SUBSTRING(x, 0, n): Spark/Calcite treat start 0 as 1 (n chars out);
    # DuckDB counts from the virtual position 0 (n-1 chars out).
    sql = _rewrite_calls(
        sql, "SUBSTRING",
        lambda a: (
            f"SUBSTRING({a[0]}, 1{', ' + a[2] if len(a) > 2 else ''})"
            if len(a) >= 2 and a[1].strip() == "0"
            else f"SUBSTRING({', '.join(a)})"
        ),
    )
    # Spark/Calcite 3-arg REGEXP_REPLACE replaces ALL matches; DuckDB's
    # replaces only the first unless given the 'g' flag. The 4-arg
    # (position) form — replace all matches starting at pos, prefix
    # untouched (verified against Spark's native 4-arg) — has no DuckDB
    # equivalent; compose it from substring + global replace. DuckDB
    # replacement strings keep Calcite's \1 backrefs natively.
    sql = _rewrite_calls(
        sql, "REGEXP_REPLACE",
        lambda a: (
            f"regexp_replace({', '.join(a)}, 'g')"
            if len(a) == 3
            else (
                f"(substring({a[0]}, 1, ({a[3]}) - 1) || "
                f"regexp_replace(substring({a[0]}, {a[3]}), "
                f"{a[1]}, {a[2]}, 'g'))"
                if len(a) == 4
                else f"REGEXP_REPLACE({', '.join(a)})"
            )
        ),
    )
    sql = _rewrite_calls(
        sql, "INITCAP",
        lambda a: (
            f"array_to_string(list_transform(string_split(lower({a[0]}), ' '), "
            f"y -> upper(y[1:1]) || y[2:]), ' ')"
        ),
    )
    # numbering delta: DuckDB's dayofweek is Sunday=0..Saturday=6; Spark
    # AND Calcite number Sunday=1..Saturday=7 — shift the oracle so the
    # dayOfWeekSuite compares for real instead of being skipped.
    sql = _rewrite_calls(
        sql, "DAYOFWEEK", lambda a: f"(dayofweek({a[0]}) + 1)"
    )
    # negative-length delta: DuckDB LEFT/RIGHT follow Postgres (negative n
    # drops n chars from the other end); Spark and Calcite return '' —
    # emulate Spark's semantics so substringSuite/TEST_12 compares.
    for fn in ("LEFT", "RIGHT"):
        sql = _rewrite_calls(
            sql, fn,
            lambda a, f=fn.lower(): (
                f"(CASE WHEN ({a[1]}) < 0 THEN '' ELSE {f}({a[0]}, {a[1]}) END)"
                if len(a) == 2
                else f"{f}({', '.join(a)})"
            ),
        )
    return sql


#: Queries where OUR result matches the reference's semantics but DuckDB
#: (the stand-in oracle) legitimately differs in a way no shim can fix —
#: documented engine-dialect deltas, not parity failures. (The formerly
#: skipped DAYOFWEEK numbering, negative-length LEFT/RIGHT, and
#: double->int CAST deltas are now SHIMMED on the oracle side — see the
#: dayofweek/left/right rewrites in oracle_translate and
#: ORACLE_SQL_PATCH below — and compare for real.)
#: - dateSuite/TEST_08: CURRENT_TIME/CURRENT_TIMESTAMP — wall-clock moves
#:   between the two engine invocations; inherently incomparable.
#: The reference's intentional-error queries (messageValidationSuite
#: SETUP blocks carry MESSAGE_VALIDATION, not an expected result):
#: TEST_03 calls the nonexistent function maxi(); TEST_04 is a syntax
#: error. Parity means WE must reject them too — the replay asserts
#: bc.sql raises, and counts a successful parse as a FAILURE.
NEGATIVE_TESTS = {
    ("messageValidationSuite", "TEST_03"),
    ("messageValidationSuite", "TEST_04"),
}

ORACLE_DIALECT_SKIP = {
    ("dateSuite", "TEST_08"),
    #: windowFunctionSuite/TEST_22: final ``ORDER BY l_orderkey, max_keys
    #: LIMIT 50`` sorts on NON-UNIQUE keys (several lineitem rows share an
    #: orderkey and window value but differ in the projected
    #: l_extendedprice) — which tied rows land inside the LIMIT is
    #: engine-arbitrary and even run-arbitrary. Underspecified query, not
    #: an engine delta; the reference's own Drill compare has the same
    #: hole and passes only when its data happens not to tie at the cut.
    ("windowFunctionSuite", "TEST_22"),
}

#: Oracle-side patches for double->int CAST: DuckDB's CAST(double AS
#: INTEGER) ROUNDS; Spark and Calcite/cuDF TRUNCATE (we match the
#: reference). trunc() on the oracle side makes the three affected
#: corpus queries directly comparable instead of skipped. Applied to the
#: ORACLE SQL only, per (suite, test), before oracle_translate.
ORACLE_SQL_PATCH: dict[tuple[str, str], tuple[str, str]] = {
    ("castSuite", "TEST_10"): (
        r"(?i)cast\(o_totalprice\s+AS\s+INTEGER\)",
        "cast(trunc(o_totalprice) AS INTEGER)",
    ),
    ("castSuite", "TEST_13"): (
        r"(?i)cast\(o_totalprice\s+AS\s+INTEGER\)",
        "cast(trunc(o_totalprice) AS INTEGER)",
    ),
    ("TPCHSuite", "TEST_15"): (
        r"(?i)cast\(sum\(l_extendedprice \* \(1-l_discount\)\)\s+AS\s+INTEGER\)",
        "cast(trunc(sum(l_extendedprice * (1-l_discount))) AS INTEGER)",
    ),
}


def _patch_oracle_sql(suite: str, test: str, sql: str) -> str:
    patch = ORACLE_SQL_PATCH.get((suite, test))
    if patch is None:
        return sql
    patched = re.sub(patch[0], patch[1], sql)
    assert patched != sql, f"oracle patch for {suite}/{test} did not match"
    return patched


#: CTE definitions (``WITH name AS (`` / ``, name AS (``) — those names are
#: query-local, not fixture tables.
#: CTE headers may carry a column-alias list: ``with revenue (a, b) as (``.
_CTE_NAME = re.compile(
    r"(?i)(?:\bwith|,)\s*([a-z_][a-z0-9_]*)\s*(?:\([a-z0-9_,\s]*\))?\s+as\s*\("
)
#: ``expr AS alias`` — aliases are query-local identifiers, and several
#: corpus queries pick TPC-H-shaped alias names (``cust_nation``,
#: ``col_n1``) that would otherwise trip the missing-column check.
_ALIAS = re.compile(r"(?i)\bas\s+([a-z_][a-z0-9_]*)")
#: SQL keywords that must never be treated as an alias or a
#: strippable function name — keeps the classifier's "runnable" verdict
#: meaning "referenced tables/columns exist", not "a regex got lucky".
_KEYWORDS = (
    "select|from|join|on|where|and|or|not|in|exists|union|all|distinct|"
    "group|order|by|having|limit|offset|when|then|else|case|end|as|with|"
    "between|like|is|null|inner|left|right|full|outer|cross|over|"
    "partition|rows|range|asc|desc|values"
)
#: Column-alias lists on derived tables (``as c_orders (c_custkey,
#: c_count)``) and CTE headers (``with revenue (no, total) as (``) —
#: both anchored on AS so arbitrary function-call argument lists are NOT
#: whitelisted as local names.
_DERIVED_COL_ALIASES = re.compile(
    r"(?i)\bas\s+[a-z_][a-z0-9_]*\s*\(([a-z0-9_,\s]+)\)"
)
_CTE_COL_ALIASES = re.compile(
    r"(?i)(?:\bwith|,)\s*[a-z_][a-z0-9_]*\s*\(([a-z0-9_,\s]+)\)\s+as\s*\("
)
#: Implicit (AS-less) aliases after a closing paren:
#: ``max(x) over (...) o_max_prices`` (keywords excluded).
_IMPLICIT_ALIAS = re.compile(
    rf"(?i)\)\s+(?!(?:{_KEYWORDS})\b)([a-z_][a-z0-9_]*)\b"
)
#: Scalar-function calls (``extract(year from col)``, ``trim(leading 'x'
#: from col)``, ``substring(s from 1 for 2)``, nested ``upper(col)``) —
#: stripped innermost-first before table detection so SQL-standard FROM
#: inside an argument list is not mistaken for a table reference. The
#: keyword guard keeps ``from (subquery)`` / ``in (select ...)`` intact
#: so missing tables inside subqueries are still detected.
_SCALAR_FROM = re.compile(
    rf"(?i)\b(?!(?:{_KEYWORDS})\b)[a-z_][a-z0-9_]*\s*\([^()]*\)"
)


def runnable(sql: str) -> bool:
    """True when every referenced table and TPC-H-shaped column exists
    in the fixtures (base parquet + derived columns/tables), treating
    CTE names and SELECT aliases (explicit, implicit, and column-alias
    lists) as query-local."""
    lowered = sql.lower()
    local = (
        set(_CTE_NAME.findall(lowered))
        | set(_ALIAS.findall(lowered))
        | set(_IMPLICIT_ALIAS.findall(lowered))
    )
    for rx in (_DERIVED_COL_ALIASES, _CTE_COL_ALIASES):
        for cols in rx.findall(lowered):
            local |= {c.strip() for c in cols.split(",") if c.strip()}
    stripped = lowered
    while True:
        nxt = _SCALAR_FROM.sub(" ", stripped)
        if nxt == stripped:
            break
        stripped = nxt
    for tbl in _FROM_TABLE.findall(stripped):
        if tbl not in TABLES and tbl not in local and tbl not in {"t", "t1", "t2"}:
            return False
    for ident in _IDENT.findall(lowered):
        if ident not in AVAILABLE_COLS and ident not in local:
            return False
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    verbose = "-v" in sys.argv

    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession

    from pyblazing_spark.context import BlazingContext
    from pyblazing_spark.session import host_cores

    cores = host_cores()
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    bc = BlazingContext(spark=spark)
    con = duckdb.connect()
    register_fixtures(bc, con, sf_dir)

    corpus = load_corpus()
    candidates = [(s, t, q) for s, t, q in corpus if runnable(q)]
    print(f"corpus: {len(corpus)} queries, {len(candidates)} runnable on fixtures")

    n_ok = n_bad = n_dialect = n_oracle_skip = 0
    failures: list[str] = []
    for suite, test, sql in candidates:
        tag = f"{suite}/{test}"
        if (suite, test) in ORACLE_DIALECT_SKIP:
            n_oracle_skip += 1
            continue
        if (suite, test) in NEGATIVE_TESTS:
            # the reference expects these to ERROR — so must we
            try:
                bc.sql(sql, eager=True)
            except Exception:
                n_ok += 1
                if verbose:
                    print(f"  OK (rejected, as the reference expects) {tag}")
                continue
            n_bad += 1
            failures.append(f"{tag}: negative test PARSED (reference expects an error)")
            continue
        # Patch OUTSIDE the try blocks: _patch_oracle_sql asserts its
        # regex matched, and that guard must abort the run loudly, not
        # be swallowed into a silent dialect-skip by the handlers below.
        oracle_sql = _patch_oracle_sql(suite, test, sql)
        try:
            ours = bc.sql(sql, eager=True)
        except Exception as exc:
            # Spark couldn't parse/plan the Calcite-flavored SQL: dialect
            # gap on OUR side — only acceptable if DuckDB rejects it too
            # (i.e. it's nonstandard SQL, not a missing shim).
            try:
                con.execute(oracle_translate(oracle_sql)).df()
            except Exception:
                n_dialect += 1
                if verbose:
                    print(f"  SKIP dialect {tag}: {str(exc).splitlines()[0][:100]}")
                continue
            n_bad += 1
            failures.append(f"{tag}: spark-only parse failure: {str(exc).splitlines()[0][:160]}")
            continue
        try:
            theirs = con.execute(oracle_translate(oracle_sql)).df()
        except Exception as exc:
            n_dialect += 1
            if verbose:
                print(f"  SKIP duckdb {tag}: {str(exc).splitlines()[0][:100]}")
            continue
        try:
            _compare(ours, theirs, tolerance=0.01)
            n_ok += 1
            if verbose:
                print(f"  OK {tag} rows={len(ours)}")
        except Exception as exc:
            n_bad += 1
            failures.append(f"{tag}: {str(exc).splitlines()[0][:160]}")

    print(
        f"{n_ok} matched, {n_bad} mismatched, {n_dialect} skipped "
        f"(unparseable in both engines or DuckDB-rejected), "
        f"{n_oracle_skip} skipped (documented DuckDB-vs-reference dialect deltas)"
    )
    for f in failures:
        print("  FAIL", f)
    return 1 if n_bad else 0


def _compare(ours, theirs, tolerance: float) -> None:
    """Sorted-rows compare, positional columns (the reference's Drill
    compare is positional too: column NAMES differ across engines for
    unaliased aggregates, values must not)."""
    import numpy as np
    import pandas as pd

    assert ours.shape == theirs.shape, f"shape {ours.shape} vs {theirs.shape}"
    if ours.empty:
        return
    a = ours.copy()
    b = theirs.copy()
    a.columns = [f"c{i}" for i in range(a.shape[1])]
    b.columns = [f"c{i}" for i in range(b.shape[1])]
    for df in (a, b):
        for col in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[col]):
                if getattr(df[col].dtype, "tz", None) is not None:
                    df[col] = df[col].dt.tz_convert("UTC").dt.tz_localize(None)
                df[col] = df[col].astype("datetime64[us]")
            elif df[col].dtype == object:
                # Spark hands DECIMAL columns (e.g. bigint UNION decimal)
                # to pandas as objects — compare numerically when both
                # sides are numbers, not by string form.
                try:
                    df[col] = pd.to_numeric(df[col]).astype(float)
                except (ValueError, TypeError):
                    df[col] = df[col].astype(str)
    a = a.sort_values(list(a.columns), kind="mergesort").reset_index(drop=True)
    b = b.sort_values(list(b.columns), kind="mergesort").reset_index(drop=True)
    for col in a.columns:
        av, bv = a[col], b[col]
        if pd.api.types.is_numeric_dtype(av) and pd.api.types.is_numeric_dtype(bv):
            af = av.astype(float).to_numpy()
            bf = bv.astype(float).to_numpy()
            both_nan = np.isnan(af) & np.isnan(bf)
            close = np.isclose(af, bf, rtol=0, atol=tolerance, equal_nan=False)
            assert bool(np.all(both_nan | close)), f"col {col}: max diff {np.nanmax(np.abs(af - bf))}"
        else:
            assert av.astype(str).tolist() == bv.astype(str).tolist(), f"col {col} differs"


if __name__ == "__main__":
    raise SystemExit(main())
