"""Live-PostgreSQL dialect execution (VERDICT r3 item 1).

The reference targets Postgres (``main.rs:60-66``); the JDBC writer path
is executed against embedded Derby (no PG JDBC jar ships here), so these
tests prove the POSTGRES side for real: ``schema_to_pg_ddl``'s corrected
type map (JSONB/BYTEA/NUMERIC/TIMESTAMP) executed by an actual postgres
server, bulk COPY in, bounded-range parallel COPY out, and value-exact
round-trips — including the NULL-vs-empty-string and embedded
quote/comma/newline cases the CSV wire has to carry.

Skipped cleanly when no postgres toolchain is installed.
"""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_to_postgres_spark import pg as P

from .conftest import SF_SMOKE

pytestmark = pytest.mark.skipif(
    not P.postgres_available(), reason="no usable postgres toolchain"
)


@pytest.fixture(scope="module")
def pgsrv(tmp_path_factory):
    srv = P.EmbeddedPostgres(str(tmp_path_factory.mktemp("pgsrv")))
    with srv:
        yield srv


def _tricky_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("small", T.ShortType(), True),
            T.StructField("flag", T.BooleanType(), True),
            T.StructField("price", T.DecimalType(12, 2), True),
            T.StructField("ratio", T.DoubleType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("at", T.TimestampNTZType(), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
        ]
    )
    rows = [
        (1, 7, True, Decimal("12.34"), 0.5, 'plain', b"\x00\xff\x10",
         datetime.date(2024, 1, 2), datetime.datetime(2024, 1, 2, 3, 4, 5, 123456),
         ["a", "b"]),
        (2, None, False, Decimal("-0.01"), None, 'comma, "quote"', None,
         None, None, []),
        (3, 0, None, None, 2.25, "line1\nline2", b"", datetime.date(1999, 12, 31),
         datetime.datetime(1999, 12, 31, 23, 59, 59), None),
        (4, -1, True, Decimal("99999999.99"), -1.5, "", b"\xde\xad\xbe\xef",
         datetime.date(2024, 6, 1), datetime.datetime(2024, 6, 1, 0, 0, 0),
         ['x,y', 'q"r']),
        (5, 12, False, Decimal("0.00"), 3.14159, None, b"\x01",
         datetime.date(2000, 2, 29), datetime.datetime(2000, 2, 29, 12, 0, 0),
         ["été", "中文"]),
    ]
    return spark.createDataFrame(rows, schema)


def test_roundtrip_value_exact(spark, pgsrv):
    """Every supported type survives write→COPY→read-back bit-exactly,
    including NULL vs empty string, embedded separators, unicode, bytea,
    decimals at precision edges and nested→JSONB."""
    df = _tricky_df(spark)
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "tricky", mode="overwrite", num_partitions=2
    )
    ddl = sink.write(df)
    assert "JSONB" in ddl and "BYTEA" in ddl and "NUMERIC(12,2)" in ddl
    back = P.read_back(
        spark,
        pgsrv.conninfo(),
        "tricky",
        df.schema,
        partition_column="id",
        lower=1,
        upper=5,
        num_partitions=3,
    )
    got = sorted(back.collect(), key=lambda r: r["id"])
    want = sorted(df.collect(), key=lambda r: r["id"])
    assert got == want


def test_jsonb_is_real_jsonb_server_side(spark, pgsrv):
    """The nested column lands as queryable JSONB, not text: the server
    itself evaluates a ``->>`` path over it."""
    df = _tricky_df(spark)
    P.PostgresCopySink(
        pgsrv.conninfo(), "tricky_j", mode="overwrite", num_partitions=1
    ).write(df)
    out = pgsrv.psql(
        "SELECT id, tags->>0 FROM tricky_j WHERE tags IS NOT NULL "
        "AND jsonb_array_length(tags) > 0 ORDER BY id;"
    )
    assert out.splitlines()[0] == "1|a"
    typ = pgsrv.psql(
        "SELECT data_type FROM information_schema.columns "
        "WHERE table_name='tricky_j' AND column_name='tags';"
    ).strip()
    assert typ == "jsonb"


def test_append_accumulates_overwrite_resets(spark, pgsrv):
    df = _tricky_df(spark).select("id", "name")
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "modes_t", mode="overwrite", num_partitions=1
    )
    sink.write(df)
    P.PostgresCopySink(
        pgsrv.conninfo(), "modes_t", mode="append", num_partitions=1
    ).write(df)
    assert pgsrv.psql("SELECT count(*) FROM modes_t;").strip() == "10"
    sink.write(df)
    assert pgsrv.psql("SELECT count(*) FROM modes_t;").strip() == "5"


def test_orders_roundtrip_hash_equivalent(spark, pgsrv):
    """The etl_jdbc_roundtrip shape against REAL Postgres: orders plus a
    synthesized nested column through the COPY sink, read back over 4
    bounded-range connections, aggregated — equal row-for-row to the
    same aggregate over the original parquet (the oracle's side)."""
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    src = orders.select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    ).withColumn("tags", F.array("o_orderstatus", "o_orderpriority"))
    P.PostgresCopySink(
        pgsrv.conninfo(), "orders_rt", mode="overwrite", num_partitions=4
    ).write(src)
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    back = P.read_back(
        spark,
        pgsrv.conninfo(),
        "orders_rt",
        src.schema,
        partition_column="o_orderkey",
        lower=int(lo),
        upper=int(hi),
        num_partitions=4,
    )

    def agg(d):
        return (
            d.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("o_orderpriority").alias("n_prios"),
                F.sum(F.col("o_totalprice").cast("decimal(12,2)"))
                .cast("double")
                .alias("total"),
                F.min(F.to_json("tags")).alias("min_tags"),
            )
            .orderBy("o_orderstatus")
        )

    assert agg(back).collect() == agg(src).collect()
    # the server really holds every row
    n = int(pgsrv.psql("SELECT count(*) FROM orders_rt;").strip())
    assert n == orders.count()


def test_cli_pg_conninfo_targets_existing_server(spark, pgsrv, capsys):
    """tools/etl_cli.py --pg-conninfo: the one-flag path onto an EXISTING
    PostgreSQL (the real-cluster deployment noted in pg.py) — same COPY
    sink, no embedded-server scaffolding.  Proven here against the test
    server via its conninfo string, exactly as a user would pass one."""
    import importlib
    import os
    import sys

    tools_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    sys.path.insert(0, tools_dir)
    try:
        etl_cli = importlib.import_module("etl_cli")
    finally:
        sys.path.remove(tools_dir)

    arg = " ".join(f"{k}={v}" for k, v in pgsrv.conninfo().items())
    rc = etl_cli.main(
        [
            f"{SF_SMOKE}/region.parquet",
            "--table",
            "cli_region",
            "--pg-conninfo",
            arg,
            "--mode",
            "overwrite",
        ]
    )
    out = capsys.readouterr().out
    assert rc == 0
    assert "CREATE TABLE" in out  # DDL printed, reference parity
    assert "rows in cli_region: 5" in out  # region has 5 rows at sf0.001


def test_copy_sink_exactly_once_batches_and_stream(spark, pgsrv):
    """PostgresCopySink.write_batch is exactly-once on the live server:
    replaying a committed batch_id moves no rows, new batches append,
    and a multi-micro-batch file stream through foreachBatch lands the
    whole source exactly once."""
    import tempfile

    from parquet_to_postgres_spark.streaming import ops

    src = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "nation_x1", mode="append", num_partitions=2
    )
    b0 = src.where(F.col("n_nationkey") < 10)

    assert sink.write_batch(b0, 0) is True
    n0 = int(pgsrv.psql("SELECT count(*) FROM nation_x1;").strip())
    assert n0 == b0.count()
    assert sink.write_batch(b0, 0) is False  # replay: ledger hit
    assert int(pgsrv.psql("SELECT count(*) FROM nation_x1;").strip()) == n0
    assert sink.write_batch(src.where(F.col("n_nationkey") >= 10), 1) is True
    assert (
        int(pgsrv.psql("SELECT count(*) FROM nation_x1;").strip())
        == src.count()
    )
    assert sink.is_committed(0) and sink.is_committed(1)
    assert not sink.is_committed(7)

    # streaming end-to-end: 3 files, maxFilesPerTrigger=1 → multi-batch
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    ssink = P.PostgresCopySink(
        pgsrv.conninfo(), "events_x1", mode="append", num_partitions=2
    )
    with tempfile.TemporaryDirectory() as d:
        ev.repartition(3).write.parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{d}/in")
        )
        ops.run_stream_to_sink(stream, ssink, f"{d}/ckpt")
    assert int(
        pgsrv.psql("SELECT count(*) FROM events_x1;").strip()
    ) == ev.count()
    committed = [b for b in range(5) if ssink.is_committed(b)]
    assert len(committed) >= 2, f"expected multi-batch run: {committed}"
    # replay one finished batch through the same foreachBatch hook
    ops.foreach_batch_writer(ssink)(ev.limit(40), committed[0])
    assert int(
        pgsrv.psql("SELECT count(*) FROM events_x1;").strip()
    ) == ev.count()


def test_partition_tagged_copy_is_task_retry_idempotent(spark, pgsrv):
    """The staged COPY path deletes its own partition's rows before
    copying inside one transaction, so a re-executed task (the
    executor-lost-after-commit retry) replaces rather than duplicates.
    Simulated here by re-running the whole tagged write into the same
    table: every task is a 'retry' and the row count must not move."""
    from parquet_to_postgres_spark.pg import PostgresCopySink, run_psql

    docs = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    sink = PostgresCopySink(
        conninfo=pgsrv.conninfo(),
        table="retry_tagged",
        mode="append",
        num_partitions=3,
        partition_tag=True,
    )
    sink.write(docs)
    first = int(run_psql(pgsrv.conninfo(), "SELECT count(*) FROM retry_tagged;"))
    sink.write(docs)  # every task re-runs: delete-own-partition + copy
    second = int(run_psql(pgsrv.conninfo(), "SELECT count(*) FROM retry_tagged;"))
    assert first == docs.count() == second


def _edge_values_df(spark):
    """The tricky frame plus the IEEE/integer/temporal edge values the
    CSV wire must carry exactly: NaN, +-Inf, -0.0 and a float32 column,
    Long.MIN/MAX and the short extremes, pre-1970 and 2000-01-01
    timestamps (NTZ and session-tz), NUMERIC at precision/scale edges,
    bytea, jsonb and unicode."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("small", T.ShortType(), True),
            T.StructField("big", T.LongType(), True),
            T.StructField("flag", T.BooleanType(), True),
            T.StructField("ratio", T.DoubleType(), True),
            T.StructField("r4", T.FloatType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("blob", T.BinaryType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("at", T.TimestampNTZType(), True),
            # session-tz TimestampType: the session-local wall time must
            # land in the tz-less TIMESTAMP column
            T.StructField("attz", T.TimestampType(), True),
            T.StructField("price", T.DecimalType(12, 2), True),
            T.StructField("fine", T.DecimalType(20, 11), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
        ]
    )
    rows = [
        (1, 7, 2**63 - 1, True, float("nan"), -2.25, 'comma, "quote"',
         b"\x00\xff", datetime.date(1999, 12, 31),
         datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
         datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
         Decimal("99999999.99"), Decimal("123456789.12345678901"),
         ["a", "b"]),
        (2, -32768, -(2**63), False, float("inf"), None, "line1\nline2",
         b"", datetime.date(2000, 1, 1),
         datetime.datetime(2024, 6, 15, 2, 30, 0, 123456),
         datetime.datetime(2024, 6, 15, 2, 30, 0, 123456),
         Decimal("-0.01"), Decimal("-0.00000000001"), []),
        (3, 32767, 0, None, -0.0, float("-inf"), "", None, None, None,
         None, Decimal("0.00"), None, ["été", "中文"]),
        (4, None, None, True, 3.14159, 0.0, None, b"\xde\xad", None,
         datetime.datetime(2000, 1, 1, 0, 0, 0),
         datetime.datetime(2000, 2, 29, 12, 0, 0),
         None, Decimal("999999999.99999999999"), None),
    ]
    return spark.createDataFrame(rows, schema)


def _write_edge_values(spark, pgsrv, table):
    df = _edge_values_df(spark)
    P.PostgresCopySink(
        pgsrv.conninfo(), table, mode="overwrite", num_partitions=2
    ).write(df)
    assert P.run_psql(
        pgsrv.conninfo(), f"SELECT count(*) FROM {table};"
    ).strip() == "4"
    return df


def test_copy_csv_edge_values_roundtrip(spark, pgsrv):
    """Every edge value lands through the CSV wire and reads back equal
    to the input over the bounded parallel COPY-out path.  NaN != NaN
    and -0.0 == 0.0 in Row equality, so NaN is checked with isnan and
    -0.0 by its sign."""
    import math

    df = _write_edge_values(spark, pgsrv, "edge_csv")
    back = P.read_back(
        spark,
        pgsrv.conninfo(),
        "edge_csv",
        df.schema,
        partition_column="id",
        lower=1,
        upper=4,
        num_partitions=2,
    )
    got = {r["id"]: r.asDict() for r in back.collect()}
    want = {r["id"]: r.asDict() for r in df.collect()}
    assert sorted(got) == [1, 2, 3, 4]
    assert math.isnan(got[1].pop("ratio")) and math.isnan(want[1].pop("ratio"))
    assert math.copysign(1.0, got[3]["ratio"]) == -1.0
    assert got == want


def test_copy_csv_edge_values_server_text(spark, pgsrv):
    """What the CSV wire lands is what the server holds: the float
    specials, the wall times on both sides of 1970 and 2000, bytea and
    jsonb, checked by the server's own ``::text`` rendering."""
    _write_edge_values(spark, pgsrv, "edge_csv_text")
    floats = P.run_psql(
        pgsrv.conninfo(),
        "SELECT id, ratio::text, r4::text FROM edge_csv_text ORDER BY id;",
    ).splitlines()
    assert floats == [
        "1|NaN|-2.25",
        "2|Infinity|",
        "3|-0|-Infinity",
        "4|3.14159|0",
    ]
    # the wall time lands as written on both sides of 1970 and 2000
    temporal = P.run_psql(
        pgsrv.conninfo(),
        "SELECT id, at::text, attz::text FROM edge_csv_text "
        "WHERE id IN (1, 4) ORDER BY id;",
    ).splitlines()
    assert temporal == [
        "1|1969-12-31 23:59:59.999999|1969-12-31 23:59:59.999999",
        "4|2000-01-01 00:00:00|2000-02-29 12:00:00",
    ]
    # bytea and jsonb are real server types, not text
    j = P.run_psql(
        pgsrv.conninfo(),
        "SELECT id, tags->>1, encode(blob, 'hex') FROM edge_csv_text "
        "WHERE id IN (3, 4) ORDER BY id;",
    ).splitlines()
    assert j == ["3|中文|", "4||dead"]


def test_copy_refusal_is_non_destructive(spark, pgsrv):
    """A column type with no Postgres mapping must refuse BEFORE the
    overwrite DROP, so a populated table survives (the old order left an
    empty shell).  DDL generation raises, and it runs before the DROP."""
    seed = spark.createDataFrame([(1, "keep")], "id long, note string")
    P.PostgresCopySink(
        pgsrv.conninfo(), "refuse_t", mode="overwrite", num_partitions=1
    ).write(seed)
    df = spark.range(1).select(
        "id", F.expr("interval '1' day").alias("iv")
    )
    sink = P.PostgresCopySink(pgsrv.conninfo(), "refuse_t", mode="overwrite")
    with pytest.raises(TypeError, match="no Postgres mapping"):
        sink.write(df)
    out = P.run_psql(
        pgsrv.conninfo(), "SELECT id, note FROM refuse_t;"
    ).strip()
    assert out == "1|keep"


def test_copy_csv_decimal_edge_widths(spark, pgsrv):
    """Full-width and high-scale NUMERICs — decimal(38,0), (20,19),
    (36,19), (38,3), (38,38) — land through the CSV wire and read back
    equal to the input Decimals, and the server prints every digit the
    input holds.  Values are built from signed digit strings: scaleb(),
    division and even unary minus round to the 28-digit default context
    and would drop the low digits this test exists to pin."""
    import random

    rng = random.Random(77)

    def rnd(p, s):
        digs = "".join(rng.choice("0123456789") for _ in range(p))
        sign = "-" if rng.random() < 0.5 else ""
        return Decimal(f"{sign}{digs}E-{s}")

    rows = [
        (
            1,
            Decimal("99999999999999999999999999999999999999"),
            Decimal("0.9999999999999999999"),
            Decimal("-12345678901234567.8901234567890123456"),
        ),
        (2, Decimal(-(10**37)), Decimal("0.0000000000000000001"), None),
        (
            3,
            Decimal(0),
            Decimal("-0.5000000000000000000"),
            Decimal("17.0000000000000000001"),
        ),
    ] + [
        (10 + i, rnd(38, 0), rnd(20, 19), rnd(36, 19))
        for i in range(25)
    ]
    rows = [r + (rnd(38, 3), rnd(38, 38)) for r in rows]
    df = spark.createDataFrame(
        rows,
        "id long, big decimal(38,0), fine decimal(20,19), "
        "mid decimal(36,19), wide3 decimal(38,3), allfrac decimal(38,38)",
    )
    P.PostgresCopySink(
        pgsrv.conninfo(), "dedge_csv", mode="overwrite", num_partitions=2
    ).write(df)
    back = P.read_back(
        spark, pgsrv.conninfo(), "dedge_csv", df.schema
    ).collect()
    assert sorted(tuple(r) for r in back) == sorted(rows)
    # every input already carries its column's scale as its exponent,
    # so plain formatting spells what the server should print
    want_text = sorted(
        "|".join([str(r[0])] + ["" if v is None else format(v, "f") for v in r[1:]])
        for r in rows
    )
    got_text = P.run_psql(
        pgsrv.conninfo(),
        "SELECT id, big::text, fine::text, mid::text, wide3::text, "
        "allfrac::text FROM dedge_csv;",
    ).splitlines()
    assert sorted(got_text) == want_text


def test_copy_tag_mismatch_raises():
    """The per-task row-count check: psql's unquiet stdout must end in
    ``COPY <rows piped>``; a different count or no tag at all raises."""
    P.check_copy_tag("COPY 3\n", 3, "t")
    P.check_copy_tag("DELETE 2\nCOPY 3\n", 3, "t")  # partition_tag path
    with pytest.raises(RuntimeError, match="piped 3 rows .* reported 2"):
        P.check_copy_tag("COPY 2\n", 3, "t")
    with pytest.raises(RuntimeError, match="no COPY tag"):
        P.check_copy_tag("", 3, "t")


def test_copy_sink_fails_loudly_when_server_skips_rows(spark, pgsrv):
    """Rows the server drops (here a BEFORE INSERT trigger that skips
    id = 2) shrink the ``COPY n`` tag below the rows the task piped, and
    the write must fail instead of returning as if every row landed."""
    df = spark.createDataFrame([(i, f"r{i}") for i in range(1, 5)], "id long, v string")
    sink = P.PostgresCopySink(
        pgsrv.conninfo(), "skip_t", mode="overwrite", num_partitions=1
    )
    sink.write(df.limit(0))
    P.run_psql(
        pgsrv.conninfo(),
        """
        CREATE FUNCTION skip_two() RETURNS trigger LANGUAGE plpgsql AS
          $$ BEGIN IF NEW.id = 2 THEN RETURN NULL; END IF; RETURN NEW; END $$;
        CREATE TRIGGER skip_two BEFORE INSERT ON skip_t
          FOR EACH ROW EXECUTE FUNCTION skip_two();
        """,
    )
    append = P.PostgresCopySink(
        pgsrv.conninfo(), "skip_t", mode="append", num_partitions=1
    )
    with pytest.raises(Exception, match="piped 4 rows but the server reported 3"):
        append.write(df)
