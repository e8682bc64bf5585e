"""Source/format matrix through BlazingContext.create_table, mirroring
the reference's suites (fileSystemLocalSuite, jsonSuite, dirSuite,
tablesFromPandasSuite): CSV with the reference kwarg surface, PSV, JSON
lines, ORC, Hive-partitioned folders (with partition pruning), and
in-memory pandas/Spark inputs — all value-compared against the parquet
ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyblazing_spark.context import BlazingContext
from pyblazing_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def bc(spark):
    ctx = BlazingContext(spark=spark, eager=False)
    yield ctx
    for t in list(ctx.list_tables()):
        ctx.drop_table(t)


@pytest.fixture(scope="module")
def nation_pdf(spark, sf_dir):
    return load_table(spark, sf_dir, "nation").orderBy("n_nationkey").toPandas()


def _rows(df, key):
    return [tuple(r) for r in df.orderBy(key).collect()]


def test_csv_with_names_and_dtypes(bc, spark, sf_dir, tmp_path, nation_pdf):
    p = tmp_path / "nation.csv"
    nation_pdf.to_csv(p, index=False, header=False)
    bc.create_table(
        "nation_csv",
        str(p),
        delimiter=",",
        names=["n_nationkey", "n_name", "n_regionkey"],
        dtype=["int32", "str", "int32"],
    )
    got = bc.sql("SELECT * FROM nation_csv")
    assert dict(got.dtypes) == {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"}
    assert _rows(got, "n_nationkey") == [tuple(r) for r in nation_pdf.itertuples(index=False)]


def test_csv_header_inference(bc, tmp_path, nation_pdf):
    p = tmp_path / "nation_hdr.csv"
    nation_pdf.to_csv(p, index=False, header=True)
    bc.create_table("nation_hdr", str(p), header=True)
    got = bc.sql("SELECT count(*) AS n FROM nation_hdr").collect()[0].n
    assert got == len(nation_pdf)


def test_psv_defaults_pipe_delimiter(bc, tmp_path, nation_pdf):
    p = tmp_path / "nation.psv"
    nation_pdf.to_csv(p, index=False, header=False, sep="|")
    bc.create_table(
        "nation_psv",
        str(p),
        names=["n_nationkey", "n_name", "n_regionkey"],
        dtype=["int32", "str", "int32"],
    )
    assert _rows(bc.table("nation_psv"), "n_nationkey") == [
        tuple(r) for r in nation_pdf.itertuples(index=False)
    ]


def test_json_lines(bc, tmp_path, nation_pdf):
    p = tmp_path / "nation.json"
    nation_pdf.to_json(p, orient="records", lines=True)
    bc.create_table("nation_json", str(p), lines=True)
    got = bc.sql("SELECT n_nationkey, n_name, n_regionkey FROM nation_json")
    assert [(r.n_nationkey, r.n_name, r.n_regionkey) for r in got.orderBy("n_nationkey").collect()] == [
        tuple(r) for r in nation_pdf.itertuples(index=False)
    ]


def test_orc_roundtrip(bc, spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "region_orc")
    src.write.orc(out)
    bc.create_table("region_orc", out, file_format="orc")
    assert _rows(bc.table("region_orc"), "r_regionkey") == _rows(src, "r_regionkey")


def test_partitioned_folder_discovery_and_pruning(bc, spark, sf_dir, tmp_path):
    """Hive-partitioned folder: discovery types the partition column and
    a filter on it prunes at plan time (the reference needed hive.py +
    context.py:476-627 for this)."""
    src = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_part")
    src.write.partitionBy("o_orderstatus").parquet(out)
    bc.create_table("orders_part", out)
    n_f = bc.sql("SELECT count(*) AS n FROM orders_part WHERE o_orderstatus = 'F'").collect()[0].n
    exp = src.where(F.col("o_orderstatus") == "F").count()
    assert n_f == exp
    plan = bc.explain("SELECT count(*) FROM orders_part WHERE o_orderstatus = 'F'", detail=True)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters", 1)[1][:200]


def test_multi_file_glob(bc, spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "supplier")
    out = tmp_path / "supp_many"
    src.repartition(3).write.parquet(str(out))
    bc.create_table("supp_many", f"{out}/*.parquet")
    assert bc.table("supp_many").count() == src.count()


def test_pandas_input(bc, nation_pdf):
    bc.create_table("nation_pd", nation_pdf)
    assert bc.table("nation_pd").count() == len(nation_pdf)
    assert bc.describe_table("nation_pd")["n_name"] == "string"


def test_spark_dataframe_input(bc, spark, sf_dir):
    df = load_table(spark, sf_dir, "region").where(F.col("r_regionkey") < 3)
    bc.create_table("region_df", df)
    assert bc.table("region_df").count() == 3


def test_csv_pushdown_reaches_scan(bc, tmp_path, nation_pdf):
    """Filters on typed CSV tables must reach the FileScan as pushed
    filters (BindableTableScan parity, SURVEY.md §2.1 #2)."""
    p = tmp_path / "nation_pd.csv"
    nation_pdf.to_csv(p, index=False, header=False)
    bc.create_table(
        "nation_push",
        str(p),
        names=["n_nationkey", "n_name", "n_regionkey"],
        dtype=["int32", "str", "int32"],
    )
    plan = bc.explain("SELECT n_name FROM nation_push WHERE n_nationkey = 7", detail=True)
    assert "PushedFilters" in plan
    seg = plan.split("PushedFilters", 1)[1][:150]
    assert "n_nationkey" in seg


def test_csv_thousands_bools_dayfirst(bc, tmp_path):
    """Reference CSV kwargs the round-1 mapper dropped
    (``/root/reference/pyblazing/pyblazing/apiv2/context.py:890-930``):
    thousands separators, custom boolean spellings, day-first dates."""
    p = tmp_path / "kw.csv"
    p.write_text(
        '1;"1,234";yes;05/03/2020\n'
        '2;"22,000,500";no;17/11/2021\n'
        "3;17;maybe;01/02/2022\n"
    )
    bc.create_table(
        "kw",
        str(p),
        delimiter=";",
        names=["id", "amount", "flag", "d"],
        dtype=["int32", "int64", "bool", "date32"],
        thousands=",",
        true_values=["yes"],
        false_values=["no"],
        dayfirst=True,
    )
    rows = bc.sql("SELECT * FROM kw ORDER BY id").collect()
    assert [r["amount"] for r in rows] == [1234, 22000500, 17]
    assert [r["flag"] for r in rows] == [True, False, None]
    assert [str(r["d"]) for r in rows] == ["2020-03-05", "2021-11-17", "2022-02-01"]
    bc.drop_table("kw")


def test_csv_dayfirst_dash_dot_separators(bc, tmp_path):
    """pandas ``dayfirst`` applies to any separator; dash/dot-separated
    day-first dates must parse to the same dates as slash-separated
    (they used to come back NULL — only 'd/M/yyyy' was tried)."""
    p = tmp_path / "df.csv"
    p.write_text("1;17-11-2021\n2;05.03.2020\n3;01/02/2022\n")
    bc.create_table(
        "df_sep",
        str(p),
        delimiter=";",
        names=["id", "d"],
        dtype=["int32", "date32"],
        dayfirst=True,
    )
    rows = bc.sql("SELECT * FROM df_sep ORDER BY id").collect()
    assert [str(r["d"]) for r in rows] == ["2021-11-17", "2020-03-05", "2022-02-01"]
    bc.drop_table("df_sep")


def test_config_options_breadth(bc):
    """Every reference config option is either mapped to a real Spark
    conf or explicitly listed as having no analogue — nothing silently
    unknown (VERDICT r1 item 9)."""
    desc = bc.describe_config()
    reference_options = {
        "JOIN_PARTITION_SIZE_THRESHOLD", "CONCATENATING_CACHE_NUM_BYTES_TIMEOUT",
        "MAX_JOIN_SCATTER_MEM_OVERHEAD", "MAX_NUM_ORDER_BY_PARTITIONS_PER_NODE",
        "NUM_BYTES_PER_ORDER_BY_PARTITION", "MAX_DATA_LOAD_CONCAT_CACHE_BYTE_SIZE",
        "FLOW_CONTROL_BYTES_THRESHOLD", "MAX_ORDER_BY_SAMPLES_PER_NODE",
        "BLAZING_PROCESSING_DEVICE_MEM_CONSUMPTION_THRESHOLD",
        "BLAZING_DEVICE_MEM_CONSUMPTION_THRESHOLD",
        "BLAZ_HOST_MEM_CONSUMPTION_THRESHOLD", "BLAZING_LOGGING_DIRECTORY",
        "BLAZING_CACHE_DIRECTORY", "BLAZING_LOCAL_LOGGING_DIRECTORY",
        "MEMORY_MONITOR_PERIOD", "MAX_KERNEL_RUN_THREADS", "EXECUTOR_THREADS",
        "MAX_SEND_MESSAGE_THREADS", "LOGGING_LEVEL", "LOGGING_FLUSH_LEVEL",
        "ENABLE_GENERAL_ENGINE_LOGS", "ENABLE_COMMS_LOGS", "ENABLE_TASK_LOGS",
        "ENABLE_OTHER_ENGINE_LOGS", "LOGGING_MAX_SIZE_PER_FILE",
        "TRANSPORT_BUFFER_BYTE_SIZE", "TRANSPORT_POOL_NUM_BUFFERS",
        "PROTOCOL", "REQUIRE_ACKNOWLEDGE",
    }
    missing = reference_options - set(desc)
    assert not missing, missing

    # applied options land in live Spark confs
    bc.sql(
        "SELECT 1 AS one",
        config_options={
            "MAX_ORDER_BY_SAMPLES_PER_NODE": 5000,
            "JOIN_PARTITION_SIZE_THRESHOLD": 123456789,
        },
    )
    assert (
        bc.spark.conf.get("spark.sql.execution.rangeExchange.sampleSizePerPartition")
        == "5000"
    )
    assert (
        bc.spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        == "123456789"
    )


class _FakeHiveCursor:
    """Mimics a pyhive cursor over a real partitioned dataset: DESCRIBE
    FORMATTED triples in the shape the reference parses
    (``/root/reference/pyblazing/pyblazing/apiv2/hive.py:181-232``)."""

    def __init__(self, location: str):
        self.location = location
        self.queries: list[str] = []
        self._result: list[tuple] = []

    def execute(self, query: str) -> None:
        self.queries.append(query)
        q = query.lower()
        if q.startswith("describe formatted"):
            self._result = [
                ("# col_name", "data_type", "comment"),
                ("", None, None),
                ("n_nationkey", "int", ""),
                ("n_name", "string", ""),
                ("", None, None),
                ("# Partition Information", None, None),
                ("# col_name", "data_type", "comment"),
                ("", None, None),
                ("n_regionkey", "int", ""),
                ("", None, None),
                ("# Detailed Table Information", None, None),
                ("Database:", "default", None),
                ("Location:", f"file:{self.location}", None),
                (
                    "InputFormat:",
                    "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
                    None,
                ),
            ]
        else:
            self._result = []

    def fetchall(self) -> list[tuple]:
        return self._result


def test_hive_cursor_create_table(bc, spark, sf_dir, tmp_path):
    """create_table(name, <hive cursor>) — reference parity for
    ``context.py:2212`` — reads location + partition schema from the
    cursor metadata and registers a partition-pruned Spark table."""
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    loc = str(tmp_path / "hive_nation")
    src.select("n_nationkey", "n_name", "n_regionkey").write.partitionBy(
        "n_regionkey"
    ).parquet(loc)

    cur = _FakeHiveCursor(loc)
    bc.create_table("hive_nation", cur, hive_database_name="default")
    assert any(q.startswith("use default") for q in cur.queries)
    df = bc.table("hive_nation")
    assert set(df.columns) == {"n_nationkey", "n_name", "n_regionkey"}
    assert df.count() == src.count()

    # partition predicates must prune to the matching directories
    plan = bc.explain(
        "SELECT n_name FROM hive_nation WHERE n_regionkey = 2", detail=True
    )
    assert "PartitionFilters" in plan and "n_regionkey" in plan.split("PartitionFilters", 1)[1][:200]
    bc.drop_table("hive_nation")

    # user partition pre-filter (reference partitions= kwarg)
    bc.create_table("hive_nation_p", cur, partitions={"n_regionkey": [0, 1]})
    got = {r["n_regionkey"] for r in bc.table("hive_nation_p").select("n_regionkey").distinct().collect()}
    assert got == {0, 1}
    bc.drop_table("hive_nation_p")

    # naming a non-partition column must fail loudly
    with pytest.raises(ValueError, match="non-partition"):
        bc.create_table("hive_bad", cur, partitions={"n_name": ["x"]})


def test_jdbc_derby_end_to_end(bc, spark, tmp_path):
    """Executable JDBC, matching the reference's SQL providers
    (``engine/src/io/data_provider/sql/AbstractSQLDataProvider.cpp:42-86``,
    ``MySQLDataProvider.cpp:206-228``): Derby's embedded driver ships
    with Spark, so create_table(from_sql=...) reads a real database and
    Spark pushes predicates into the JDBC scan."""
    db = str(tmp_path / "derbydb")
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    try:
        st = conn.createStatement()
        st.execute("CREATE TABLE emp (id INT PRIMARY KEY, name VARCHAR(32), salary DOUBLE)")
        ps = conn.prepareStatement("INSERT INTO emp VALUES (?, ?, ?)")
        for i, (n, s) in enumerate(
            [("ada", 120.0), ("bob", 95.5), ("cyd", 130.25), ("dee", 88.0)]
        ):
            ps.setInt(1, i)
            ps.setString(2, n)
            ps.setDouble(3, s)
            ps.addBatch()
        ps.executeBatch()
        conn.commit()
    finally:
        conn.close()

    bc.create_table("emp_jdbc", "emp", from_sql="derby", database=db, table="emp")
    rows = bc.sql(
        "SELECT name, salary FROM emp_jdbc WHERE salary > 100 ORDER BY name"
    ).collect()
    assert [(r["name"], r["salary"]) for r in rows] == [("ada", 120.0), ("cyd", 130.25)]

    # predicate pushdown must reach the JDBC scan (reference parity:
    # AbstractSQLDataProvider builds the WHERE clause server-side).
    plan = bc.explain("SELECT name FROM emp_jdbc WHERE salary > 100", detail=True)
    seg = plan.split("PushedFilters", 1)
    assert len(seg) == 2 and "GreaterThan" in seg[1][:200]
    bc.drop_table("emp_jdbc")


def test_jdbc_kwarg_routing_without_driver(bc):
    """No MySQL/PostgreSQL driver jar ships in this container: those
    from_sql paths must fail with the JDBC driver error (proving
    routing + URL construction), not a silent fallback.  (sqlite no
    longer belongs here — it has a jar-free executable bridge.)"""
    import py4j.protocol
    from pyspark.errors.exceptions.captured import CapturedException

    with pytest.raises((CapturedException, py4j.protocol.Py4JJavaError)) as exc:
        bc.create_table(
            "mysql_t",
            "some_table",
            from_sql="mysql",
            database="somedb",
            table="some_table",
        )
    assert "driver" in str(exc.value).lower() or "jdbc" in str(exc.value).lower()


def test_xml_roundtrip_create_table(bc, spark, tmp_path, nation_pdf):
    """Built-in Spark 4 XML source through create_table: .xml extension
    routes to the xml reader with the declared names/dtype kwargs."""
    p = str(tmp_path / "nation_xml")
    (
        spark.createDataFrame(nation_pdf[["n_nationkey", "n_name"]])
        .write.format("xml")
        .option("rowTag", "nation")
        .save(p)
    )
    import shutil

    dst = str(tmp_path / "nation2.xml")
    shutil.move(p, dst)
    bc.create_table(
        "nation_xml", dst, row_tag="nation",
        names=["n_nationkey", "n_name"], dtype=["int64", "str"],
    )
    df = bc.table("nation_xml")
    assert dict(df.dtypes) == {"n_nationkey": "bigint", "n_name": "string"}
    assert df.count() == 25
    assert bc.sql(
        "SELECT n_name FROM nation_xml WHERE n_nationkey = 3"
    ).collect()[0].n_name == nation_pdf.set_index("n_nationkey").loc[3, "n_name"]
    bc.drop_table("nation_xml")


def test_unsigned_widening_pandas_and_arrow(bc, tmp_path):
    """create_table from pandas/Arrow input with unsigned dtypes must
    widen losslessly (SURVEY §1.2: uint8→smallint, uint16→int,
    uint32→bigint, uint64→decimal(20,0)) — the default conversion
    silently NULLs uint64 values above 2^63 (r7 verdict #3)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    big64 = (1 << 64) - 1
    pdf = pd.DataFrame(
        {
            "u8": np.array([0, 255], np.uint8),
            "u16": np.array([0, 65535], np.uint16),
            "u32": np.array([0, 4294967295], np.uint32),
            "u64": np.array([0, big64], np.uint64),
            "s": ["a", "b"],
        }
    )
    bc.create_table("uint_pd", pdf)
    df = bc.table("uint_pd")
    assert dict(df.dtypes) == {
        "u8": "smallint", "u16": "int", "u32": "bigint",
        "u64": "decimal(20,0)", "s": "string",
    }
    top = {r.s: r for r in df.collect()}
    assert top["b"].u8 == 255 and top["b"].u16 == 65535
    assert top["b"].u32 == 4294967295 and int(top["b"].u64) == big64
    bc.drop_table("uint_pd")
    # the Arrow-table input route widens identically
    bc.create_table(
        "uint_pa",
        pa.table({"u64": pa.array([1, big64], pa.uint64())}),
    )
    vals = sorted(int(r.u64) for r in bc.table("uint_pa").collect())
    assert vals == [1, big64]
    bc.drop_table("uint_pa")


@pytest.fixture()
def sqlite_db(tmp_path):
    import sqlite3

    db = str(tmp_path / "bridge.db")
    with sqlite3.connect(db) as con:
        con.execute(
            "CREATE TABLE emp (id INTEGER, name TEXT, salary REAL,"
            " dept TEXT, notes BLOB)"
        )
        con.executemany(
            "INSERT INTO emp VALUES (?,?,?,?,?)",
            [
                (0, "ada", 120.0, "eng", b"x"),
                (1, "bob", 95.5, "ops", None),
                (2, "cyd", 130.25, "eng", b"yz"),
                (3, "dee", 88.0, "ops", None),
                (4, "eve", None, "eng", b""),
            ],
        )
    return db


def test_sqlite_bridge_end_to_end(bc, spark, sqlite_db):
    """from_sql="sqlite" with no org.sqlite.JDBC jar resolves to the
    stdlib-sqlite3 Python DataSource (r7 verdict #2): correct types,
    rows, NULLs, and BLOBs through the Arrow batch path."""
    bc.create_table(
        "emp_sqlite", "emp", from_sql="sqlite", database=sqlite_db, table="emp"
    )
    df = bc.table("emp_sqlite")
    assert dict(df.dtypes) == {
        "id": "bigint", "name": "string", "salary": "double",
        "dept": "string", "notes": "binary",
    }
    rows = bc.sql(
        "SELECT name, salary FROM emp_sqlite WHERE salary > 100 ORDER BY name"
    ).collect()
    assert [(r["name"], r["salary"]) for r in rows] == [("ada", 120.0), ("cyd", 130.25)]
    got = {r.id: (r.salary, bytes(r.notes) if r.notes is not None else None)
           for r in df.collect()}
    assert got[1] == (95.5, None) and got[4][0] is None and got[2][1] == b"yz"
    # REUSE-SAFETY (the reason catalog tables get the no-pushdown
    # reader): Spark 4.1 pins the first pushdown's read info on a
    # shared relation, so a filtered scan must NOT poison later full
    # scans of the same registered table.
    assert bc.sql("SELECT count(*) AS n FROM emp_sqlite").collect()[0].n == 5
    assert bc.sql(
        "SELECT count(*) AS n FROM emp_sqlite WHERE dept = 'ops'"
    ).collect()[0].n == 2
    assert bc.sql("SELECT count(*) AS n FROM emp_sqlite").collect()[0].n == 5
    bc.drop_table("emp_sqlite")


def test_sqlite_bridge_pushdown_and_pruning(spark, sqlite_db):
    """The emitted SELECT names only the pruned columns and carries the
    transpiled predicates — the pruned column must be ABSENT from the
    SQL (r7 verdict #2 done-criterion), mirroring the reference's
    server-side WHERE build (AbstractSQLDataProvider.cpp:42-86)."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThan, In, IsNull, Not, StringStartsWith,
    )
    from pyspark.sql.types import _parse_datatype_string

    from pyblazing_spark.sources.sqlite_ds import SQLiteDataSource, SQLiteReader

    src = SQLiteDataSource(
        {"path": sqlite_db, "dbtable": "emp", "columns": "id,salary"}
    )
    schema_ddl = src.schema()
    assert schema_ddl == "`id` bigint, `salary` double"  # name/notes/dept pruned
    reader = SQLiteReader(
        {"path": sqlite_db, "dbtable": "emp"},
        _parse_datatype_string(schema_ddl),
    )
    leftover = list(
        reader.pushFilters(
            [
                GreaterThan(("salary",), 100.0),
                EqualTo(("dept",), "eng"),
                In(("id",), (0, 2, 4)),
                IsNull(("notes",)),
                Not(EqualTo(("name",), "bob")),
                StringStartsWith(("name",), "a"),
                EqualTo(("a", "b"), 1),  # nested: unsupported, handed back
            ]
        )
    )
    assert len(leftover) == 1  # only the nested-attribute filter returns
    sql = reader.build_select((1, 3))
    assert sql.startswith('SELECT "id", "salary" FROM "emp"')
    for unwanted in ('"name",', '"notes"', "*"):
        assert unwanted not in sql.split("WHERE")[0]
    assert '"salary" > 100.0' in sql
    assert "\"dept\" = 'eng'" in sql
    assert '"id" IN (0, 2, 4)' in sql
    assert '"notes" IS NULL' in sql
    assert "NOT (\"name\" = 'bob')" in sql
    # case-SENSITIVE prefix form (sqlite LIKE is ASCII-case-insensitive)
    assert 'substr("name", 1, 1) = \'a\'' in sql
    assert "rowid BETWEEN 1 AND 3" in sql
    # end-to-end: Spark's plan contains no separate Filter node when every
    # predicate pushed (the BatchScan absorbs them)
    from pyblazing_spark.sources.files import read_jdbc

    df = read_jdbc(
        spark, "emp", from_sql="sqlite", database=sqlite_db, table="emp",
        numPartitions=2,
    ).where("salary > 100")
    plan = df._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert " Filter (" not in plan, plan  # "RuntimeFilters: []" is not a Filter node
    assert sorted(r.name for r in df.collect()) == ["ada", "cyd"]


def test_sqlite_bridge_date_and_dynamic_types(spark, tmp_path):
    """SQLite stores DATE/DATETIME as ISO text and allows an integer in
    a REAL column (dynamic typing): the reader must convert both through
    Arrow casts instead of crashing the typed batch build."""
    import datetime
    import sqlite3

    from pyblazing_spark.sources.files import read_jdbc

    db = str(tmp_path / "dyn.db")
    with sqlite3.connect(db) as con:
        con.execute("CREATE TABLE m (d DATE, t DATETIME, r REAL)")
        con.executemany(
            "INSERT INTO m VALUES (?,?,?)",
            [
                ("2024-03-01", "2024-03-01 10:30:00", 1),  # int in REAL col
                ("2024-03-02", "2024-03-02 23:59:59", 2.5),
                (None, None, None),
            ],
        )
    df = read_jdbc(spark, "m", from_sql="sqlite", database=db, table="m")
    assert dict(df.dtypes) == {"d": "date", "t": "timestamp_ntz", "r": "double"}
    rows = sorted(df.collect(), key=lambda r: (r.d is None, r.d))
    assert rows[0].d == datetime.date(2024, 3, 1)
    assert rows[0].t == datetime.datetime(2024, 3, 1, 10, 30)
    assert rows[0].r == 1.0 and rows[1].r == 2.5
    assert rows[2].d is None and rows[2].t is None and rows[2].r is None


def test_sqlite_bridge_partitioning_and_errors(spark, sqlite_db, tmp_path):
    """Rowid ranges cover every row exactly once at any partition count;
    a missing db file or table raises instead of silently creating an
    empty database."""
    from pyblazing_spark.sources.files import read_jdbc

    for n in (1, 3, 16):
        df = read_jdbc(
            spark, "emp", from_sql="sqlite", database=sqlite_db, table="emp",
            numPartitions=n,
        )
        assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3, 4]
    # over-partitioned: clamps to row count, no empty-crash
    import sqlite3 as s3

    from pyblazing_spark.sources.sqlite_ds import probe_schema

    with pytest.raises(Exception):
        probe_schema(str(tmp_path / "missing.db"), "emp")
    assert not (tmp_path / "missing.db").exists()
    empty = str(tmp_path / "empty.db")
    with s3.connect(empty) as con:
        con.execute("CREATE TABLE t0 (a INTEGER)")
    assert read_jdbc(
        spark, "t0", from_sql="sqlite", database=empty, table="t0"
    ).count() == 0
    with pytest.raises(Exception, match="not found"):
        probe_schema(empty, "nope")


def _jobs_run(spark, fn) -> int:
    """Spark jobs launched while ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup("schema-cache", "schema cache test")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup("schema-cache"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_cached_schema_read_matches_plain_read(spark, sf_dir):
    """Every table read with its cached schema equals the plain
    (inferring) read in schema and row count, and launches no job."""
    from pyblazing_spark.sources.tables import TABLES, _read_parquet

    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        plain = spark.read.parquet(path)
        _read_parquet(spark, path)
        cached = []
        assert _jobs_run(spark, lambda: cached.append(_read_parquet(spark, path))) == 0
        assert cached[0].schema == plain.schema, name
        assert cached[0].count() == plain.count(), name


def test_schema_cache_reinfers_rewritten_file(spark, tmp_path):
    """The cache key holds the file's size and mtime: a rewrite with a
    new size, or the same bytes under a new mtime, infers again; a
    directory always takes the plain read."""
    import os

    import pandas as pd

    from pyblazing_spark.sources import tables

    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"a": [1, 2]}).to_parquet(path)
    assert tables._read_parquet(spark, path).columns == ["a"]
    assert _jobs_run(spark, lambda: tables._read_parquet(spark, path)) == 0

    pd.DataFrame({"a": [3], "b": ["x"]}).to_parquet(path)
    df = tables._read_parquet(spark, path)
    assert df.columns == ["a", "b"] and df.count() == 1

    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _jobs_run(spark, lambda: tables._read_parquet(spark, path)) > 0

    n_keys = len(tables._SCHEMAS)
    tables._read_parquet(spark, str(tmp_path))
    assert len(tables._SCHEMAS) == n_keys
