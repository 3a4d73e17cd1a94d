"""postgres_cdc DataSource end-to-end: capture files -> batch + stream
DataFrames -> materialization; offset resume across restarts; the
full Conn.bootstrap path with foreachBatch."""

from __future__ import annotations

import os
import tempfile
from collections import Counter
from unittest import mock

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from postrack_spark.streaming.sinks import read_view
from postrack_spark.api import Conn, Table
from postrack_spark.cdc import typed_column
from postrack_spark.sources import postgres_cdc
from postrack_spark.sources.postgres_cdc import (
    PostgresCDCBatchReader,
    PostgresCDCStreamReader,
    read_frame_file,
    register,
    write_frame_file,
)
from tests.test_pgoutput import ORDERS_COLS, TS, golden_frames
from postrack_spark.sources.pgoutput import (
    encode_begin,
    encode_commit,
    encode_insert,
    encode_relation,
    wrap_xlogdata,
)


def _capture_dir_with_golden() -> str:
    d = tempfile.mkdtemp(prefix="capture_")
    write_frame_file(os.path.join(d, "000001.pgout"), golden_frames())
    return d


def _more_inserts(start_lsn: int, keys: list[int]) -> list[bytes]:
    frames = [wrap_xlogdata(encode_relation(101, "public", "orders", ORDERS_COLS), start_lsn)]
    frames.append(wrap_xlogdata(encode_begin(start_lsn, TS, 900), start_lsn))
    for i, k in enumerate(keys):
        frames.append(wrap_xlogdata(encode_insert(101, [str(k), "O", "50.0"]), start_lsn + 1 + i))
    frames.append(wrap_xlogdata(encode_commit(start_lsn + 99, start_lsn + 99, TS), start_lsn + 99))
    return frames


def test_batch_read(spark):
    d = _capture_dir_with_golden()
    register(spark)
    df = spark.read.format("postgres_cdc").option("capture_dir", d).load()
    rows = df.orderBy("lsn").collect()
    assert [r["op"] for r in rows] == ["INSERT", "UPDATE", "UPDATE", "INSERT", "DELETE", "TRUNCATE"]
    assert rows[0]["after"]["o_orderkey"] == "1"
    assert rows[0]["txid"] == 777
    assert rows[5]["table"] == "scratch"


def test_event_filter_and_start_lsn(spark):
    d = _capture_dir_with_golden()
    register(spark)
    df = (
        spark.read.format("postgres_cdc")
        .option("capture_dir", d)
        .option("events", "INSERT,DELETE")
        .option("start_lsn", "12")
        .load()
    )
    ops = [r["op"] for r in df.orderBy("lsn").collect()]
    assert ops == ["INSERT", "DELETE"]  # lsn 12 excluded (resume at lsn+1)


def test_stream_resume_across_restarts(spark):
    """File-offset resume ≡ the reference's lsn+1 restart semantics
    (postrack.go:297): run 2 on the same checkpoint reads only new
    capture files."""
    d = _capture_dir_with_golden()
    register(spark)
    ckpt = tempfile.mkdtemp(prefix="cdc_ds_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="cdc_ds_out_")

    def run_once():
        stream = spark.readStream.format("postgres_cdc").option("capture_dir", d).load()
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out_dir).count() == 6

    write_frame_file(os.path.join(d, "000002.pgout"), _more_inserts(100, [10, 11]))
    run_once()
    final = spark.read.parquet(out_dir)
    assert final.count() == 8  # only the 2 new inserts appended
    # ack log written after each committed batch (keepAlive analog)
    assert os.path.exists(os.path.join(d, "_acks.jsonl"))


def test_bootstrap_foreachbatch(spark):
    """Conn.bootstrap ≡ postrack.go:320-338: configure + start, batches
    delivered to the HandleFunc-equivalent."""
    d = _capture_dir_with_golden()
    seen: list[int] = []

    def handle(batch_df, batch_id):
        seen.append(batch_df.count())

    conn = Conn("postgres://ignored", executor=None)
    q = conn.bootstrap(
        spark,
        "slot1",
        [Table("public", "orders")],
        ["INSERT", "UPDATE", "DELETE", "TRUNCATE"],
        lsn=0,
        handle_func=handle,
        capture_dir=d,
    )
    q.awaitTermination()
    assert sum(seen) == 6


def test_datasource_to_materialization(spark):
    """Decode -> typed projection -> latest-per-key materialization over
    the golden stream: key 1 deleted, key 2 survives."""
    d = _capture_dir_with_golden()
    register(spark)
    df = spark.read.format("postgres_cdc").option("capture_dir", d).load()
    from postrack_spark.cdc import apply_changes

    key = F.coalesce(
        typed_column("after", "o_orderkey", "long"),
        typed_column("before", "o_orderkey", "long"),
    )
    final = apply_changes(df, key, key_name="o_orderkey")
    rows = final.orderBy("o_orderkey").collect()
    assert [r["o_orderkey"] for r in rows] == [2]


def test_max_files_per_trigger_bounds_each_batch(spark):
    """maxFilesPerTrigger (SURVEY §2b backpressure - the admission
    control the reference lacks): with a cap of 1 file, each
    AvailableNow RUN drains exactly one capture file (Spark snapshots
    the first reported offset), and repeated runs over one checkpoint
    converge to the full unbounded read - bounded, checkpoint-correct
    drains."""
    import tempfile

    d = _capture_dir_with_golden()
    # roll two more capture files so one trigger CAN span several
    write_frame_file(os.path.join(d, "000002.pgout"), _more_inserts(1000, [31, 32]))
    write_frame_file(os.path.join(d, "000003.pgout"), _more_inserts(2000, [41]))
    register(spark)
    batches: list[int] = []
    stream = (
        spark.readStream.format("postgres_cdc")
        .option("capture_dir", d)
        .option("maxFilesPerTrigger", "1")
        .load()
    )
    with tempfile.TemporaryDirectory() as ckpt:
        runs = 0
        while runs < 6:
            before = sum(batches)
            q = (
                stream.writeStream.foreachBatch(
                    lambda df, bid: batches.append(df.count())
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            runs += 1
            if sum(batches) == before:  # drained
                break
    total_unbounded = (
        spark.read.format("postgres_cdc").option("capture_dir", d).load().count()
    )
    assert sum(batches) == total_unbounded
    assert len([b for b in batches if b > 0]) >= 2, batches


def test_incremental_view_via_conn(spark):
    """Conn.incremental_view: the packaged IVM consumer over the
    golden capture stream — the view equals the aggregate of the
    decoded events' signed deltas."""
    from pyspark.sql import functions as F

    d = _capture_dir_with_golden()
    conn = Conn("postgres://ignored", executor=None)
    target, q = conn.incremental_view(
        spark,
        "slot_ivm",
        [Table("public", "orders")],
        dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
        # try_cast: the golden stream carries an UNCHANGED-TOAST sentinel
        # (resolve_unchanged is the full fix; IVM measures must tolerate it)
        measures={
            "cents": F.round(
                F.expr("try_cast(element_at(img, 'o_totalprice') AS DOUBLE)") * 100
            ).cast("long")
        },
        capture_dir=d,
    )
    q.awaitTermination()
    view = {
        r["o_orderstatus"]: (r["n_rows"], r["cents"])
        for r in read_view(spark, target).filter("n_rows > 0").collect()
    }
    # golden stream (test_golden_sequence): after replay the live rows
    # and their prices determine the maintained view; recompute the
    # expectation from the decoded envelope directly.
    from postrack_spark.cdc.envelope import CHANGE_SCHEMA
    from postrack_spark.cdc.ivm import incremental_agg
    from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream

    rows = decode_xlogdata_stream(golden_frames(), DecoderState())
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in CHANGE_SCHEMA.fields) for r in rows], CHANGE_SCHEMA
    )
    expect = {
        r["o_orderstatus"]: (r["n_rows"], r["cents"])
        for r in incremental_agg(
            df,
            dims={"o_orderstatus": F.element_at(F.col("img"), "o_orderstatus")},
            measures={
                "cents": F.round(
                    F.expr("try_cast(element_at(img, 'o_totalprice') AS DOUBLE)") * 100
                ).cast("long")
            },
        ).collect()
    }
    assert view == expect and view


def test_incremental_join_view_via_conn(spark):
    """Conn.incremental_join_view: the packaged stream-static join IVM
    over the golden capture stream — per-status totals weighted by a
    static per-key dimension must equal the signed fold computed
    directly from the decoded envelope joined to the same dimension."""
    from pyspark.sql import functions as F

    d = _capture_dir_with_golden()
    static = spark.createDataFrame(
        [(1, 1, 3), (1, 2, 5)], "sign int, dim_key long, weight long"
    )
    conn = Conn("postgres://ignored", executor=None)
    target, q = conn.incremental_join_view(
        spark,
        "slot_ivmj",
        [Table("public", "orders")],
        stream_cols={
            "o_orderkey": F.expr(
                "try_cast(element_at(img, 'o_orderkey') AS BIGINT)"
            ),
            "o_orderstatus": F.element_at(F.col("img"), "o_orderstatus"),
        },
        static_signed=static,
        on=[("o_orderkey", "dim_key")],
        dims={"o_orderstatus": F.col("o_orderstatus")},
        measures={"w": F.col("weight")},
        capture_dir=d,
    )
    q.awaitTermination()
    view = {
        r["o_orderstatus"]: (r["n_rows"], r["w"])
        for r in read_view(spark, target).filter("n_rows > 0").collect()
    }
    # golden stream: key 1 INSERT(O), UPDATE(O->F, full old image),
    # UPDATE(F, EMPTY old image - default replica identity), DELETE(F);
    # key 2 INSERT(O). Without capture-side before-image recovery
    # (recover_before is documented as pre-stream, order-sensitive) the
    # empty-before UPDATE contributes +F with no matching -F, so key 1
    # leaves an F residue; key 2 survives as one O row with weight 5.
    assert view == {"O": (1, 5), "F": (1, 3)}


def test_scd2_history_via_conn(spark):
    """Conn.scd2_history: the packaged type-2 history over the golden
    capture stream — key 1's three versions chain validity intervals
    and its DELETE closes the last; key 2 stays current."""
    from pyspark.sql import functions as F

    d = _capture_dir_with_golden()
    conn = Conn("postgres://ignored", executor=None)
    target, q = conn.scd2_history(
        spark,
        "slot_scd2",
        [Table("public", "orders")],
        # DELETE events carry the key only in the before image
        key_expr=F.coalesce(
            F.expr("try_cast(element_at(after, 'o_orderkey') AS BIGINT)"),
            F.expr("try_cast(element_at(before, 'o_orderkey') AS BIGINT)"),
        ),
        value_cols={
            "status": F.element_at(F.col("after"), "o_orderstatus"),
        },
        capture_dir=d,
    )
    q.awaitTermination()
    hist = sorted(
        (r["key"], r["valid_from_lsn"], r["valid_to_lsn"], r["status"])
        for r in read_view(spark, target).collect()
    )
    # golden stream LSNs: key 1 INSERT@12, UPDATE@13, UPDATE@14,
    # DELETE@16; key 2 INSERT@15
    assert hist == [
        (1, 12, 13, "O"),
        (1, 13, 14, "F"),
        (1, 14, 16, "F"),
        (2, 15, None, "O"),
    ]


@settings(max_examples=80, deadline=None)
@given(
    sizes=st.lists(st.integers(0, 300), max_size=12),
    target=st.integers(1, 700),
)
def test_packed_partitions_cover_files_contiguously(sizes, target):
    """Partition packing: every capture file lands in exactly one
    partition, partitions are contiguous runs in file order, each but
    the last reaches the byte target (and closes as soon as it does),
    and an empty range still plans one empty partition."""
    names = [f"{i:06d}.pgout" for i in range(len(sizes))]
    size = dict(zip(names, sizes))
    with tempfile.TemporaryDirectory() as d:
        for name in names:
            with open(os.path.join(d, name), "wb") as f:
                f.write(b"\0" * size[name])
        with mock.patch.object(postgres_cdc, "PARTITION_TARGET_BYTES", target):
            parts = [p.names for p in postgres_cdc._packed_partitions(d, names)]
    assert [n for p in parts for n in p] == names
    if names:
        assert all(parts)
    else:
        assert parts == [[]]
    for p in parts[:-1]:
        assert sum(size[n] for n in p) >= target
        assert sum(size[n] for n in p[:-1]) < target


def test_both_readers_pack_ranges():
    """Both readers plan through the packer: three small files are one
    partition, and an empty stream range is one empty partition."""
    d = _capture_dir_with_golden()
    write_frame_file(os.path.join(d, "000002.pgout"), _more_inserts(1000, [31, 32]))
    write_frame_file(os.path.join(d, "000003.pgout"), _more_inserts(2000, [41]))
    opts = {"capture_dir": d}
    all_files = [["000001.pgout", "000002.pgout", "000003.pgout"]]
    assert [p.names for p in PostgresCDCBatchReader(opts).partitions()] == all_files
    stream = PostgresCDCStreamReader(opts)
    assert [p.names for p in stream.partitions({"file_index": 0}, {"file_index": 3})] == all_files
    assert [p.names for p in stream.partitions({"file_index": 3}, {"file_index": 3})] == [[]]


def test_packed_batch_read_matches_per_file_decode(spark):
    """A packed partition decodes each file with its own state: the
    batch read returns exactly the multiset of rows that decoding every
    capture file alone yields."""
    from postrack_spark.cdc.envelope import CHANGE_SCHEMA
    from postrack_spark.sources.pgoutput import DecoderState, decode_xlogdata_stream

    d = _capture_dir_with_golden()
    write_frame_file(os.path.join(d, "000002.pgout"), _more_inserts(1000, [31, 32]))
    write_frame_file(os.path.join(d, "000003.pgout"), _more_inserts(2000, [41]))
    per_file = [
        tuple(r[f.name] for f in CHANGE_SCHEMA.fields)
        for name in sorted(os.listdir(d))
        if name.endswith(".pgout")
        for r in decode_xlogdata_stream(
            read_frame_file(os.path.join(d, name)), DecoderState()
        )
    ]

    def bag(df):
        return Counter(
            tuple(tuple(sorted(v.items())) if isinstance(v, dict) else v for v in r)
            for r in df.collect()
        )

    register(spark)
    got = bag(spark.read.format("postgres_cdc").option("capture_dir", d).load())
    assert got == bag(spark.createDataFrame(per_file, CHANGE_SCHEMA))
    assert sum(got.values()) == 9
