"""Streaming and multimodal surface tests.

Streaming: availableNow drain of the file-source stream must converge to the
batch aggregate over the same input. Multimodal: mapInPandas feature
extraction is deterministic, batch-shaped, and schema-stable.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from one_one_one_rule_spark.operators.multimodal import (
    extract_features,
    frame_sample,
    synthesize_media,
)
from one_one_one_rule_spark.sources.fixtures import load_table
from one_one_one_rule_spark.queries import _drain_stream
from one_one_one_rule_spark.streaming.events import (
    dedup_stream,
    hourly_rollup_stream,
    stream_events,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    # File-source streams want a directory; copy the single parquet file in.
    d = tmp_path_factory.mktemp("events_stream")
    batch = load_table(spark, sf_dir, "events")
    batch.write.mode("overwrite").parquet(str(d / "events"))
    return str(d / "events")


def test_streaming_rollup_converges_to_batch(spark, sf_dir, events_dir):
    stream = stream_events(spark, events_dir)
    assert stream.isStreaming
    rolled = _drain_stream(
        spark, hourly_rollup_stream(stream), "rollup_stream", "complete"
    )
    got = {
        (r.hour, r.event_type): (r.n_events, r.total_value, r.sum_k)
        for r in rolled.collect()
    }

    batch = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    expected = {
        (r.hour, r.event_type): (r.n_events, r.total_value, r.sum_k)
        for r in batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum(k).cast("bigint").alias("sum_k"),
        )
        .collect()
    }
    assert got == expected


def test_streaming_dedup(spark, events_dir):
    stream = stream_events(spark, events_dir)
    deduped = _drain_stream(
        spark, dedup_stream(stream), "dedup_stream", "append"
    )
    n = deduped.select("event_id").distinct().count()
    assert n == deduped.count()  # no duplicate event_ids survive


def test_multimodal_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = synthesize_media(docs)
    feats = extract_features(media, dim=8)
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 50
    r0 = rows[min(rows)]
    assert len(r0.feature) == 8
    assert r0.backend in ("stub", "pillow")
    assert all(0.0 <= v <= 1.0 for v in r0.feature)
    # deterministic across runs
    rows2 = {r.media_id: r for r in extract_features(media, dim=8).collect()}
    assert rows2[min(rows)].feature == r0.feature
    # n_bytes agrees with the JVM-side octet_length
    exp = {
        r.media_id: r.n
        for r in media.select(
            "media_id", F.octet_length("payload").alias("n")
        ).collect()
    }
    assert all(rows[m].n_bytes == exp[m] for m in rows)


def test_frame_sampling_rowcounts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(60)
    media = synthesize_media(docs)
    frames = frame_sample(media, every_n=4)
    per = frames.groupBy("media_id").count().collect()
    meta = {
        r.media_id: r.nf
        for r in media.filter(F.col("kind") == "video")
        .select("media_id", F.col("meta.n_frames").alias("nf"))
        .collect()
    }
    assert {r.media_id for r in per} == set(meta)
    for r in per:
        expected = (meta[r.media_id] + 3) // 4  # ceil(n_frames / every_n)
        assert r["count"] == expected


def test_stateful_user_counts_converges_to_batch(spark, sf_dir, tmp_path):
    """applyInPandasWithState running totals, drained with availableNow,
    converge to the batch groupBy aggregate: for every user the LAST
    emitted update (max n_events) equals the batch count and exact total."""
    from pyspark.sql import functions as F

    from one_one_one_rule_spark.sources.fixtures import load_events
    from one_one_one_rule_spark.streaming.events import (
        stateful_user_counts,
        stream_events,
    )

    # stage the fixture as a stream-source directory with proper timestamps
    src_dir = str(tmp_path / "events_stream")
    load_events(spark, sf_dir).write.mode("overwrite").parquet(src_dir)

    name = "stateful_counts_tbl"
    q = (
        stateful_user_counts(stream_events(spark, src_dir))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = (
        spark.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )
    batch = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0
            ).alias("total_value"),
        )
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert got == want


def test_media_feature_knn_deterministic(spark, sf_dir):
    from one_one_one_rule_spark.queries import QUERIES

    a = [tuple(r) for r in QUERIES["media_feature_knn"](spark, sf_dir).collect()]
    b = [tuple(r) for r in QUERIES["media_feature_knn"](spark, sf_dir).collect()]
    assert sorted(a) == sorted(b)
    assert len(a) == 5 * 3
    qids = {t[0] for t in a}
    assert qids == {0, 1, 2, 3, 4}


def _batch_user_totals(spark, sf_dir):
    batch = load_table(spark, sf_dir, "events")
    return {
        r.user_id: (r.n_events, r.total_value)
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast(
                    "double"
                )
                / 100.0
            ).alias("total_value"),
        )
        .collect()
    }


def test_tws_processor_semantics_match_batch(spark, sf_dir):
    """The TWS StatefulProcessor's accumulation semantics, driven directly
    through a fake state handle — NO protobuf, NO streaming runtime. The
    processor sees each user's rows split across two 'microbatches' (state
    carry-over exercised) and its final update-mode emission must equal
    the batch aggregate."""
    from one_one_one_rule_spark.streaming.events import (
        make_running_totals_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeHandle:
        def __init__(self):
            self.cells = {}

        def getValueState(self, name, schema, ttl=None):
            return self.cells.setdefault(name, FakeValueState())

    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "value")
        .toPandas()
    )
    got = {}
    for uid, pdf in rows.groupby("user_id"):
        proc = make_running_totals_processor()
        proc.init(FakeHandle())
        half = len(pdf) // 2
        out = None
        for chunk in (pdf.iloc[:half], pdf.iloc[half:]):
            if chunk.empty:
                continue
            for out_pdf in proc.handleInputRows((uid,), iter([chunk]), None):
                out = out_pdf
        proc.close()
        got[uid] = (int(out["n_events"][0]), float(out["total_value"][0]))
    assert got == _batch_user_totals(spark, sf_dir)


def test_tws_plan_construction_is_protobuf_free(spark, events_dir):
    """Building the transformWithStateInPandas plan (grouping, output
    schema, update mode) needs no protobuf — only the Python worker's
    wire protocol does. Locks in that the operator's Spark-side plumbing
    stays testable in this sandbox."""
    from one_one_one_rule_spark.streaming.events import (
        stateful_user_counts_tws,
    )

    df = stateful_user_counts_tws(stream_events(spark, events_dir))
    assert df.isStreaming
    assert df.schema.simpleString() == (
        "struct<user_id:bigint,n_events:bigint,total_value:double>"
    )
    plan = df._jdf.queryExecution().logical().toString()
    assert "TransformWithState" in plan


def test_tws_stateful_user_totals_converges_to_batch(spark, sf_dir, events_dir):
    """transformWithState WIRE-LEVEL twin of the applyInPandasWithState
    gate — the one remaining protobuf-dependent assert (the worker
    protocol pyspark/sql/streaming/proto needs the real protobuf
    runtime; semantics + plan construction are covered unconditionally
    above)."""
    pytest.importorskip("google.protobuf")
    from one_one_one_rule_spark.streaming.events import (
        stateful_user_counts_tws,
    )

    stream = stream_events(spark, events_dir)
    drained = _drain_stream(
        spark, stateful_user_counts_tws(stream), "tws_totals", "update"
    )
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in drained.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .collect()
    }
    batch = load_table(spark, sf_dir, "events")
    expected = {
        r.user_id: (r.n_events, r.total_value)
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast(
                    "double"
                )
                / 100.0
            ).alias("total_value"),
        )
        .collect()
    }
    assert got == expected


def test_checkpoint_resume_restores_state_not_files(spark, sf_dir, tmp_path):
    """Restart-from-checkpoint must restore BOTH source progress and the
    aggregation state store. Phase 1 drains two slices; their files are
    then DELETED before phase 2 adds a third and restarts with the same
    checkpoint — so the final complete-mode output can only cover phase-1
    events via the restored state store, never by re-reading. The result
    must equal the batch aggregate over all events. Staged and drained
    by the same helpers as the events_stream_resume gate."""
    import os

    from one_one_one_rule_spark.queries import (
        _EVENTS_SCHEMA,
        _TIME_SLICES,
        _drain,
        _stage_slices,
    )
    from one_one_one_rule_spark.streaming.events import (
        foreach_batch_overwrite_sink,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    os.makedirs(src)
    e = load_table(spark, sf_dir, "events")
    staged = _stage_slices(e, _TIME_SLICES, "resume_test_")

    def stage(i):
        shutil.move(staged[i], f"{src}/{i:03d}.parquet")

    def run():
        stream = spark.readStream.schema(_EVENTS_SCHEMA).parquet(src)
        rolled = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events")
        )
        _drain(spark, foreach_batch_overwrite_sink(rolled, out, ckpt))

    stage(0)
    stage(1)
    run()
    os.remove(f"{src}/000.parquet")  # phase-1 data is GONE
    os.remove(f"{src}/001.parquet")
    stage(2)
    run()
    got = {
        r.event_type: r.n_events
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_resume_gate_stages_its_slices_with_one_job(
    spark, sf_dir, monkeypatch
):
    """events_stream_resume stages all three slices through the same
    ``_stage_slices`` the mechanism test above uses, and that helper runs
    ONE Spark job (the old form ran one write job per slice)."""
    import pyarrow.parquet as pq

    from one_one_one_rule_spark import queries as Q

    e = load_table(spark, sf_dir, "events")
    sc = spark.sparkContext
    sc.setJobGroup("stage_slices_test", "stage_slices_test")
    try:
        staged = Q._stage_slices(e, Q._TIME_SLICES, "stage_probe_")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("stage_slices_test")) == 1
    for path, pred in zip(staged, Q._TIME_SLICES):
        assert pq.read_metadata(path).num_rows == e.filter(pred).count()
        assert pq.read_schema(path).names == e.columns

    calls = []
    real = Q._stage_slices

    def spy(df, preds, prefix):
        calls.append(preds)
        return real(df, preds, prefix)

    monkeypatch.setattr(Q, "_stage_slices", spy)
    Q.QUERIES["events_stream_resume"](spark, sf_dir).collect()
    assert calls == [Q._TIME_SLICES]


def test_stage_parquet_slices_is_one_job_in_slice_order(spark, sf_dir):
    """The multi-batch gates' staging helper writes every slice with ONE
    Spark job, stages one file per non-empty slice holding that slice's
    rows, and stamps mtimes in slice order (the order a
    ``maxFilesPerTrigger=1`` stream replays them). The empty third slice
    stages no file."""
    import os

    import pyarrow.parquet as pq

    from one_one_one_rule_spark import queries as Q

    e = load_table(spark, sf_dir, "events")
    empty = "ts < TIMESTAMP '2000-01-01 00:00:00'"
    preds = [*Q._TIME_SLICES[:2], empty, Q._TIME_SLICES[2]]
    sc = spark.sparkContext
    sc.setJobGroup("stage_parquet_test", "stage_parquet_test")
    try:
        src = Q._stage_parquet_slices(e, preds, "stage_parquet_probe_")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("stage_parquet_test")
    assert len(jobs) == 1
    files = sorted(os.listdir(src))
    assert files == ["000.parquet", "001.parquet", "003.parquet"]
    for f in files:
        rows = pq.read_metadata(f"{src}/{f}").num_rows
        assert rows == e.filter(preds[int(f[:3])]).count()
    mtimes = [os.stat(f"{src}/{f}").st_mtime for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def _stateful_counts_writer(spark, events_dir, name):
    return (
        stream_events(spark, events_dir)
        .groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
    )


@pytest.mark.parametrize("requested", [2, 8])
def test_drain_caps_state_partitions_at_task_slots(
    spark, events_dir, requested
):
    """The drain pins state partitions to min(requested, task slots)."""
    from one_one_one_rule_spark.queries import _drain

    name = f"drain_cap_{requested}"
    q = _drain(
        spark, _stateful_counts_writer(spark, events_dir, name), requested
    )
    spark.catalog.dropTempView(name)
    parts = {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    }
    assert parts == {min(requested, spark.sparkContext.defaultParallelism)}


def test_drain_leaves_caller_conf_alone(spark, events_dir):
    """The pin lives only across start(): the caller's shuffle.partitions
    is unchanged while a batch runs, after the drain, and after drains
    that fail at start() or inside a batch — while the batch itself runs
    on the pinned count."""
    from one_one_one_rule_spark.queries import _drain

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    assert before != "1"
    seen = []

    def record(bdf, batch_id):
        seen.append((spark.conf.get(key), bdf.sparkSession.conf.get(key)))

    stream = stream_events(spark, events_dir)
    _drain(spark, stream.writeStream.foreachBatch(record), 1)
    assert seen and set(seen) == {(before, "1")}
    assert spark.conf.get(key) == before

    def boom(bdf, batch_id):
        raise RuntimeError("batch failed")

    with pytest.raises(Exception, match="batch failed"):
        _drain(spark, stream.writeStream.foreachBatch(boom), 1)
    assert spark.conf.get(key) == before

    # complete mode without an aggregation is rejected by start()
    with pytest.raises(Exception):
        _drain(
            spark,
            stream.writeStream.format("memory")
            .queryName("drain_bad_start")
            .outputMode("complete"),
            1,
        )
    assert spark.conf.get(key) == before


def test_no_query_sets_shuffle_partitions_outside_the_drain():
    """``queries._drain`` is the one place that sets
    spark.sql.shuffle.partitions on a live session."""
    import ast
    import pathlib

    import one_one_one_rule_spark as pkg

    offenders = []
    for path in pathlib.Path(pkg.__file__).parent.rglob("*.py"):
        tree = ast.parse(path.read_text())
        allowed = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            and (path.name, fn.name) == ("queries.py", "_drain")
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and node.args
            ):
                continue
            arg = node.args[0]
            names_shuffle = (
                isinstance(arg, ast.Constant)
                and arg.value == "spark.sql.shuffle.partitions"
            ) or (
                isinstance(arg, ast.Name) and arg.id == "_SHUFFLE_PARTITIONS"
            )
            if names_shuffle and id(node) not in allowed:
                offenders.append(f"{path.name}:{node.lineno}")
    assert offenders == []


def test_stateful_user_counts_sends_two_columns_to_python(spark, events_dir):
    """applyInPandasWithState ships its whole child row to Python; the
    operator projects to the two columns ``update`` reads."""
    from one_one_one_rule_spark.streaming.events import stateful_user_counts

    plan = stateful_user_counts(
        stream_events(spark, events_dir)
    )._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "FlatMapGroupsInPandasWithState"
    args = plan.functionExpr().children()
    assert [args.apply(i).name() for i in range(args.size())] == [
        "user_id",
        "value",
    ]


def test_tws_gate_registration_tracks_protobuf_availability():
    """The TWS gate query must be registered exactly when its protobuf
    runtime dependency is importable — the env-skip (see
    test_tws_stateful_user_totals_converges_to_batch's importorskip with
    reason 'google.protobuf') and the registry must never disagree."""
    import importlib.util

    from one_one_one_rule_spark.queries import ORACLES, QUERIES

    try:
        available = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        available = False
    assert ("events_stream_tws_user_totals" in QUERIES) == available
    assert ("events_stream_tws_user_totals" in ORACLES) == available


# ---------------------------------------------------------------------------
# real stdlib image decode (round 5 — VERDICT r4 item 6)
# ---------------------------------------------------------------------------


def _bmp_bytes(pixels):
    """Minimal 24-bit uncompressed BMP (bottom-up, BGR, padded rows) from
    an HxWx3 RGB uint8 array — stdlib-only construction."""
    import struct

    import numpy as np

    h, w = pixels.shape[0], pixels.shape[1]
    row_bytes = (w * 3 + 3) & ~3
    data = bytearray()
    for row in pixels[::-1]:  # bottom-up
        line = bytearray()
        for px in row:
            line += bytes([px[2], px[1], px[0]])  # RGB -> BGR
        line += b"\x00" * (row_bytes - len(line))
        data += line
    file_size = 54 + len(data)
    header = b"BM" + struct.pack("<IHHI", file_size, 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                          2835, 2835, 0, 0)
    assert len(header) == 54
    return bytes(header + data), np.asarray(pixels, dtype="uint8")


def _ppm_bytes(pixels):
    h, w = pixels.shape[0], pixels.shape[1]
    header = f"P6\n# test\n{w} {h}\n255\n".encode()
    return header + pixels.astype("uint8").tobytes()


def _expected_features(img, dim=8):
    flat = img.reshape(-1, 3).astype("float64")
    h, w = img.shape[0], img.shape[1]
    return [
        flat[:, 0].mean() / 255.0, flat[:, 1].mean() / 255.0,
        flat[:, 2].mean() / 255.0, flat.mean() / 255.0,
        flat.min() / 255.0, flat.max() / 255.0,
        w / (w + h), h / (w + h),
    ][:dim]


def test_stdlib_decode_real_formats(spark):
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import extract_features

    rng_img = (
        np.arange(3 * 5 * 3, dtype="uint8").reshape(3, 5, 3) * 7 % 256
    ).astype("uint8")
    bmp, img = _bmp_bytes(rng_img)
    ppm = _ppm_bytes(rng_img)
    rows = [
        (0, "image", bytearray(bmp)),
        (1, "image", bytearray(ppm)),
        (2, "image", bytearray("just some text".encode())),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary"
    )
    out = {
        r["media_id"]: r
        for r in extract_features(media, dim=8).collect()
    }
    # both real formats decode identically and exactly
    want = _expected_features(img)
    assert out[0]["backend"] == "stdlib"
    assert out[1]["backend"] == "stdlib"
    assert out[0]["feature"] == pytest.approx(want, abs=0)
    assert out[1]["feature"] == pytest.approx(want, abs=0)
    assert out[0]["feature"] == out[1]["feature"]
    # non-image payloads keep the deterministic stub path (so the
    # synthesized-media hash gates are untouched by the real decoder)
    assert out[2]["backend"] == "stub"
    assert len(out[2]["feature"]) == 8


def test_stdlib_decode_rejects_near_misses(spark):
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import decode_image

    rng_img = (
        np.arange(2 * 2 * 3, dtype="uint8").reshape(2, 2, 3)
    ).astype("uint8")
    bmp, _ = _bmp_bytes(rng_img)
    ppm = _ppm_bytes(rng_img)
    assert decode_image(bmp) is not None
    assert decode_image(ppm) is not None
    # corrupt declared sizes / truncate: strict validation must refuse
    assert decode_image(bmp[:-1]) is None          # file_size mismatch
    assert decode_image(ppm + b"\x00") is None     # pixel-length mismatch
    assert decode_image(b"BM" + bmp[2:52]) is None  # truncated header
    assert decode_image(b"P6 text not numbers") is None
    assert decode_image("BMarbitrary text payload".encode()) is None


# --- PNG codec tier (round 6) ----------------------------------------------


def _png_forward_filter(img, ftypes):
    """Spec-forward-filter an RGB image with a chosen filter type per row
    and wrap it as a valid PNG — exercises the decoder's unfiltering for
    every filter type, independent of encode_png (which emits only 0)."""
    import struct
    import zlib

    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import _PNG_SIG

    a = np.asarray(img, dtype=np.uint8).astype(np.int32)
    h, w = a.shape[0], a.shape[1]
    flat = a.reshape(h, w * 3)
    bpp, stride = 3, w * 3
    raw = bytearray()
    for y in range(h):
        t = ftypes[y % len(ftypes)]
        prev = flat[y - 1] if y else np.zeros(stride, np.int32)
        cur = flat[y]
        line = bytearray([t])
        for x in range(stride):
            left = cur[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if t == 0:
                pred = 0
            elif t == 1:
                pred = left
            elif t == 2:
                pred = up
            elif t == 3:
                pred = (left + up) >> 1
            else:  # 4 = Paeth
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = (
                    left if (pa <= pb and pa <= pc)
                    else (up if pb <= pc else ul)
                )
            line.append((int(cur[x]) - pred) & 0xFF)
        raw += line

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # split the stream over TWO IDAT chunks: decoders must concatenate
    z = zlib.compress(bytes(raw), 6)
    mid = len(z) // 2
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", z[:mid])
        + chunk(b"IDAT", z[mid:]) + chunk(b"IEND", b"")
    )


def test_png_roundtrip_exact():
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        decode_image,
        encode_png,
    )

    img = (np.arange(5 * 7 * 3, dtype="int64") * 31 % 256).astype(
        "uint8"
    ).reshape(5, 7, 3)
    png = encode_png(img)
    out = decode_image(png)
    assert out is not None and out.shape == (5, 7, 3)
    assert (out == img).all()


def test_png_all_filter_types_unfilter_exactly():
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import decode_image

    img = (np.arange(6 * 4 * 3, dtype="int64") * 97 % 256).astype(
        "uint8"
    ).reshape(6, 4, 3)
    # one row of each filter type 0..4, then wrap — plus split IDATs
    png = _png_forward_filter(img, ftypes=[0, 1, 2, 3, 4])
    out = decode_image(png)
    assert out is not None
    assert (out == img).all()


def test_png_strict_rejection():
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _PNG_SIG,
        decode_image,
        encode_png,
    )

    img = (np.arange(3 * 3 * 3, dtype="int64") % 256).astype(
        "uint8"
    ).reshape(3, 3, 3)
    png = encode_png(img)
    assert decode_image(png) is not None
    # flip one IDAT payload byte: chunk CRC must catch it
    bad = bytearray(png)
    bad[len(png) - 20] ^= 0xFF
    assert decode_image(bytes(bad)) is None
    # truncated: IEND no longer closes the file at its last byte
    assert decode_image(png[:-1]) is None
    # trailing junk after IEND is equally rejected
    assert decode_image(png + b"\x00") is None
    # declared stream too short (h lies): inflated length check
    import struct as _s
    import zlib as _z

    ihdr = _s.pack(">IIBBBBB", 3, 9, 8, 2, 0, 0, 0)

    def _chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    lying = (
        _PNG_SIG + _chunk(b"IHDR", ihdr)
        + png[len(_PNG_SIG) + 25 :]  # original IDAT+IEND for a 3x3 image
    )
    assert decode_image(lying) is None
    # grayscale (color type 0) joined the contract in round 7: a
    # byte-valid type-0 stream decodes to replicated RGB
    gray_ihdr = _s.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 0)
    gray = (
        _PNG_SIG + _chunk(b"IHDR", gray_ihdr)
        + _chunk(b"IDAT", _z.compress(b"\x00" * (3 * 4)))
        + _chunk(b"IEND", b"")
    )
    out = decode_image(gray)
    assert out is not None and out.shape == (3, 3, 3) and out.max() == 0
    # 16-bit depth stays out of contract
    deep_ihdr = _s.pack(">IIBBBBB", 3, 3, 16, 0, 0, 0, 0)
    deep = (
        _PNG_SIG + _chunk(b"IHDR", deep_ihdr)
        + _chunk(b"IDAT", _z.compress(b"\x00" * (3 * 7)))
        + _chunk(b"IEND", b"")
    )
    assert decode_image(deep) is None
    # signature near-miss stays on the stub path
    assert decode_image(b"\x89PNG\r\n\x1a\x00" + png[8:]) is None


def test_png_gray_and_palette_roundtrip():
    """Round-7 widening: 8-bit grayscale (type 0) and palette (type 3)
    decode to exact RGB, with strict PLTE validation."""
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        decode_image,
        encode_png_gray,
        encode_png_palette,
    )

    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, size=(5, 11)).astype("uint8")
    out = decode_image(encode_png_gray(g))
    assert out is not None and out.shape == (5, 11, 3)
    assert (out == g[..., None]).all()

    pal = rng.integers(0, 256, size=(17, 3)).astype("uint8")
    idx = rng.integers(0, 17, size=(6, 9)).astype("uint8")
    out = decode_image(encode_png_palette(idx, pal))
    assert out is not None and np.array_equal(out, pal[idx])


def test_png_palette_strict_rejection():
    import struct as _s
    import zlib as _z

    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_image,
        encode_png_gray,
        encode_png_palette,
    )

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, size=(4, 3)).astype("uint8")
    idx = rng.integers(0, 4, size=(3, 5)).astype("uint8")
    good = encode_png_palette(idx, pal)
    assert decode_image(good) is not None

    # index == len(palette): out of PLTE bounds
    bad_idx = idx.copy()
    bad_idx[0, 0] = 4
    assert decode_image(encode_png_palette(bad_idx, pal)) is None

    # palette image without a PLTE chunk
    ihdr = _s.pack(">IIBBBBB", 5, 3, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(3))
    no_plte = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_image(no_plte) is None

    # PLTE after IDAT violates chunk ordering
    late_plte = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(raw))
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IEND", b"")
    )
    assert decode_image(late_plte) is None

    # ... including when a ZERO-LENGTH IDAT precedes the PLTE (buffer
    # truthiness would miss it — round-7 review finding)
    sneaky = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", b"")
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", _z.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_image(sneaky) is None

    # PLTE length not a multiple of 3
    torn = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes()[:-1])
        + _png_chunk(b"IDAT", _z.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_image(torn) is None

    # two PLTE chunks
    twice = (
        _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", _z.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_image(twice) is None

    # PLTE on a grayscale image (spec forbids it)
    g = np.zeros((3, 5), dtype="uint8")
    graw = b"".join(b"\x00" + g[y].tobytes() for y in range(3))
    gihdr = _s.pack(">IIBBBBB", 5, 3, 8, 0, 0, 0, 0)
    gray_plte = (
        _PNG_SIG + _png_chunk(b"IHDR", gihdr)
        + _png_chunk(b"PLTE", pal.tobytes())
        + _png_chunk(b"IDAT", _z.compress(graw))
        + _png_chunk(b"IEND", b"")
    )
    assert decode_image(gray_plte) is None
    assert decode_image(encode_png_gray(g)) is not None


def test_png_untrusted_pixel_cap():
    """The untrusted-path cap bounds CPU (sequential unfilter loops) as
    well as allocation: a payload over the cap decodes under the full
    contract cap but is rejected on the untrusted paths."""
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _PNG_MAX_PIXELS_UNTRUSTED,
        decode_image,
        encode_png_gray,
    )

    big = np.zeros((600, 600), dtype="uint8")  # 360k px > 2^18 cap
    png = encode_png_gray(big)
    assert decode_image(png) is not None
    assert decode_image(png, _PNG_MAX_PIXELS_UNTRUSTED) is None


def test_png_payloads_flow_through_extract_features(spark):
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        encode_png,
        extract_features,
    )

    img = (np.arange(4 * 6 * 3, dtype="int64") * 13 % 256).astype(
        "uint8"
    ).reshape(4, 6, 3)
    rows = [
        (0, "image", bytearray(encode_png(img))),
        (1, "image", bytearray(b"not an image")),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary"
    )
    out = {
        r["media_id"]: r for r in extract_features(media, dim=8).collect()
    }
    assert out[0]["backend"] == "stdlib"
    assert out[0]["feature"] == pytest.approx(_expected_features(img), abs=0)
    assert out[1]["backend"] == "stub"


# --- WAV codec tier (round 5b) ---------------------------------------------


def test_wav_decode_roundtrip_and_strictness():
    """decode_wav must byte-exactly invert synthesize_wav's container and
    reject every malformed variant (truncation, bad magic, wrong RIFF
    size, stereo fmt) — the strictness contract that keeps arbitrary
    payloads out of the decode path (same as decode_image's)."""
    import struct

    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _wav_samples,
        decode_wav,
    )

    def build(mid: int, n: int) -> bytes:
        pcm = _wav_samples(mid, n).tobytes()
        return (
            b"RIFF"
            + struct.pack("<I", 36 + len(pcm))
            + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, 1, 16000, 32000, 2, 16)
            + b"data"
            + struct.pack("<I", len(pcm))
            + pcm
        )

    for mid in (1, 4, 97):
        n = 64 + mid % 64
        payload = build(mid, n)
        s = decode_wav(payload)
        assert s is not None
        assert np.array_equal(s, _wav_samples(mid, n))
        # strictness: every corruption must be rejected, not best-effort
        assert decode_wav(payload[:-1]) is None  # truncated data
        assert decode_wav(b"RIFX" + payload[4:]) is None  # bad magic
        bad_size = payload[:4] + struct.pack("<I", 0) + payload[8:]
        assert decode_wav(bad_size) is None  # RIFF size disagrees
        stereo = bytearray(payload)
        stereo[22:24] = struct.pack("<H", 2)
        assert decode_wav(bytes(stereo)) is None  # non-mono fmt


def test_wav_frame_energy_matches_formula(spark, sf_dir):
    """The distributed two-pass pipeline (encode mapInPandas → strict
    decode mapInPandas → int64 frame energies) must reproduce the signal
    formula computed directly — including the partial last frame."""
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _wav_samples,
        synthesize_wav,
        wav_frame_energy,
    )
    from one_one_one_rule_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    out = wav_frame_energy(synthesize_wav(docs), frame_len=64).collect()
    assert out and all(r.backend == "stdlib" for r in out)
    got = {(r.media_id, r.frame_idx): (r.n_samples, r.energy) for r in out}
    mids = sorted({r.media_id for r in out})
    for mid in mids[:5]:
        n = 64 + mid % 64
        sq = _wav_samples(mid, n).astype(np.int64) ** 2
        for f in range(0, n, 64):
            chunk = sq[f : f + 64]
            assert got[(mid, f // 64)] == (len(chunk), int(chunk.sum()))


def test_cogroup_attribution_tie_counts_as_prior(spark):
    """A click at exactly the purchase timestamp attributes with gap 0
    (searchsorted side='right' semantics == the oracle's c.ts <= p.ts)."""
    import datetime as dt

    from one_one_one_rule_spark.queries import QUERIES
    import os
    import tempfile

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [  # user ids inside the gate's %5 cohort
        (1, t0, 10, "click", 1.0, None),
        (2, t0, 10, "purchase", 2.0, None),  # same ts as the click
        (3, t0 + dt.timedelta(seconds=5), 15, "purchase", 3.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {
            r.user_id: r
            for r in QUERIES["events_cogroup_attribution"](
                spark, d
            ).collect()
        }
    assert out[10].n_attributed == 1 and out[10].gap_us_total == 0
    assert out[15].n_purchases == 1 and out[15].n_attributed == 0


def test_wav_arrow_stats_matches_formula_and_drops_corrupt(spark, sf_dir):
    """The zero-copy mapInArrow stats must reproduce the signal formula
    (energy AND raw little-endian byte sum) and silently drop payloads
    that fail the strict container parse."""
    import numpy as np
    from pyspark.sql import functions as F

    from one_one_one_rule_spark.operators.multimodal import (
        _wav_samples,
        synthesize_wav,
        wav_media_stats_arrow,
    )
    from one_one_one_rule_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    media = synthesize_wav(docs)
    out = wav_media_stats_arrow(media).collect()
    assert out and all(r.backend == "arrow" for r in out)
    got = {r.media_id: (r.n_samples, r.energy, r.byte_sum) for r in out}
    for mid in sorted(got)[:5]:
        n = 64 + mid % 64
        s = _wav_samples(mid, n)
        want = (
            n,
            int((s.astype(np.int64) ** 2).sum()),
            int(s.view(np.uint8).astype(np.int64).sum()),
        )
        assert got[mid] == want

    # corrupt one payload byte-wise and NULL another: strict decode and
    # the validity-bitmap guard each drop exactly their row
    lo, hi = min(got), max(got)
    corrupt = media.withColumn(
        "payload",
        F.when(F.col("media_id") == lo, F.lit(b"RIFX-garbage"))
        .when(F.col("media_id") == hi, F.lit(None).cast("binary"))
        .otherwise(F.col("payload")),
    )
    out2 = wav_media_stats_arrow(corrupt).collect()
    assert {r.media_id for r in out2} == set(got) - {lo, hi}


# --- video container tier (round 6) ------------------------------------------


def test_video_container_roundtrip_matches_formula():
    import struct

    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _video_frame,
        decode_video,
        encode_video,
    )

    payload = encode_video(11, 5, 9, 7)
    frames = decode_video(payload)
    assert frames is not None and len(frames) == 5
    for f, img in frames:
        assert img.shape == (7, 9, 3)
        assert (img == _video_frame(11, f, 9, 7)).all()
    # header round-trips
    n, w, h = struct.unpack_from("<IHH", payload, 4)
    assert (n, w, h) == (5, 9, 7)


def test_video_container_strict_rejection():
    import struct

    from one_one_one_rule_spark.operators.multimodal import (
        VIDEO_MAGIC,
        decode_video,
        encode_video,
    )

    good = encode_video(3, 4, 8, 6)
    assert decode_video(good) is not None
    # wrong magic
    assert decode_video(b"VID2" + good[4:]) is None
    # truncated: last frame no longer ends at the container's last byte
    assert decode_video(good[:-1]) is None
    # trailing junk after the declared last frame
    assert decode_video(good + b"\x00") is None
    # corrupt a byte inside the first frame's PNG: CRC check must catch it
    bad = bytearray(good)
    bad[40] ^= 0xFF
    assert decode_video(bytes(bad)) is None
    # header lies about the frame shape: decoded PNG no longer matches
    lied = bytearray(good)
    struct.pack_into("<IHH", lied, 4, 4, 9, 6)  # w=9, frames are 8 wide
    assert decode_video(bytes(lied)) is None
    # frame length prefix runs past the container
    overrun = bytearray(good)
    struct.pack_into("<I", overrun, 12, 1 << 20)
    assert decode_video(bytes(overrun)) is None
    # zero frames / degenerate dims
    assert decode_video(VIDEO_MAGIC + struct.pack("<IHH", 0, 4, 4)) is None
    assert decode_video(None) is None
    assert decode_video(b"") is None


def test_video_sampled_frame_stats_samples_and_quarantines(spark):
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _video_frame,
        encode_video,
        video_sampled_frame_stats,
    )

    rows = [
        (7, "video", bytearray(encode_video(7, 6, 8, 6))),
        (8, "video", bytearray(b"garbage, not a container")),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary"
    )
    out = video_sampled_frame_stats(media, every=2).collect()
    got = {(r["media_id"], r["frame_idx"]): r for r in out}
    # only the valid container survives; frames 0,2,4 of 6 are kept
    assert set(got) == {(7, 0), (7, 2), (7, 4)}
    for (mid, f), r in got.items():
        img = _video_frame(mid, f, 8, 6)
        assert r["pixel_sum"] == int(img.astype(np.int64).sum())
        assert (r["n_frames"], r["width"], r["height"]) == (6, 8, 6)
        assert r["backend"] == "stdlib"


def test_png_decompression_bomb_rejected_without_inflation():
    """A payload with valid CRCs whose IHDR declares huge dimensions (or
    whose IDAT inflates past the declared size) must be rejected WITHOUT
    a proportional allocation: the dims cap rejects lying headers before
    any inflate, and the bounded decompressobj caps a lying stream at
    expected+1 bytes."""
    import struct as _s
    import zlib as _z

    from one_one_one_rule_spark.operators.multimodal import (
        _PNG_SIG,
        decode_image,
        encode_png,
    )
    import numpy as np

    def _chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    # 20000x20000 IHDR over a ~1 MB IDAT of compressed zeros: every CRC
    # valid, stream genuinely inflates to 1.2 GB if allowed
    w = h = 20000
    ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # compress a plausible prefix only — the decoder must reject on the
    # dims cap before ever calling inflate
    bomb = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _z.compress(b"\x00" * (1 << 20), 9))
        + _chunk(b"IEND", b"")
    )
    assert decode_image(bomb) is None

    # small declared dims but an IDAT inflating far PAST h*(1+3w): the
    # bounded decompress reads at most expected+1 bytes and rejects
    img = (np.arange(3 * 3 * 3, dtype="int64") % 256).astype("uint8").reshape(3, 3, 3)
    good = encode_png(img)
    overlong = (
        good[: len(_PNG_SIG)]
        + _chunk(b"IHDR", _s.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", _z.compress(b"\x00" * (1 << 22), 9))
        + _chunk(b"IEND", b"")
    )
    assert decode_image(overlong) is None
    # and the real fixture still round-trips after the hardening
    out = decode_image(good)
    assert out is not None and (out == img).all()


def test_resize_nearest_integer_mapping_and_quarantine(spark):
    import numpy as np

    from one_one_one_rule_spark.operators.multimodal import (
        _image_pixels,
        encode_png,
        resize_image_stats,
        resize_nearest,
    )

    # exact index-mapping contract: out[y,x] = in[y*h//8, x*w//8]
    img = _image_pixels(5, 13, 9)
    small = resize_nearest(img, 8, 8)
    for dy in range(8):
        for dx in range(8):
            assert (small[dy, dx] == img[dy * 9 // 8, dx * 13 // 8]).all()
    # upscaling repeats source pixels (9x7 -> 16x16), never interpolates
    up = resize_nearest(img[:7, :9], 16, 16)
    assert up.shape == (16, 16, 3)
    assert set(np.unique(up)) <= set(np.unique(img[:7, :9]))

    rows = [
        (3, "image", bytearray(encode_png(img))),
        (4, "image", bytearray(b"not an image")),
        (5, "image", None),
    ]
    media = spark.createDataFrame(
        rows, "media_id bigint, kind string, payload binary"
    )
    out = {r["media_id"]: r for r in resize_image_stats(media).collect()}
    assert set(out) == {3}  # invalid and NULL payloads quarantined
    assert out[3]["pixel_sum"] == int(
        resize_nearest(img, 8, 8).astype(np.int64).sum()
    )
    assert (out[3]["src_w"], out[3]["src_h"]) == (13, 9)


def test_tws_bottomk_processor_semantics_match_batch_formula(spark, sf_dir):
    """The bottom-k StatefulProcessor's merge semantics, driven through a
    fake state handle — NO protobuf, NO streaming runtime: rows arrive
    split across three 'micro-batches' (with one batch REPLAYED to model
    at-least-once delivery) and the final emission must equal the direct
    bottom-k of the whole group, k smallest (h, event_id) with
    h = (event_id * 2654435761) % (2^31 - 1)."""
    import pandas as pd

    from one_one_one_rule_spark.streaming.events import (
        make_bottomk_processor,
    )

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeListState:
        def __init__(self):
            self._rows = []

        def get(self):
            return iter(list(self._rows))

        def put(self, rows):
            self._rows = list(rows)

    class FakeHandle:
        def __init__(self):
            self.cells = {}

        def getValueState(self, name, schema, ttl=None):
            return self.cells.setdefault(name, FakeValueState())

        def getListState(self, name, schema, ttl=None):
            return self.cells.setdefault(name, FakeListState())

    K, MOD, MULT = 16, 2147483647, 2654435761
    rows = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id")
        .toPandas()
    )
    for etype, pdf in rows.groupby("event_type"):
        proc = make_bottomk_processor(K, MOD, MULT)
        proc.init(FakeHandle())
        third = max(1, len(pdf) // 3)
        batches = [
            pdf.iloc[:third],
            pdf.iloc[third : 2 * third],
            pdf.iloc[third : 2 * third],  # replayed batch: must be a no-op
            pdf.iloc[2 * third :],
        ]
        out = None
        for chunk in batches:
            if chunk.empty:
                continue
            for out_pdf in proc.handleInputRows(
                (etype,), iter([chunk]), None
            ):
                out = out_pdf
        proc.close()
        got = list(zip(out["h"], out["event_id"]))
        expected = sorted(
            ((int(e) * MULT) % MOD, int(e)) for e in pdf["event_id"]
        )[:K]
        assert got == expected, etype
        # emissions are the stored sample: sorted, deduped, <= k rows
        assert len(got) == min(K, pdf["event_id"].nunique())
        assert isinstance(out, pd.DataFrame)


def test_tws_bottomk_plan_construction_is_protobuf_free(spark, events_dir):
    from one_one_one_rule_spark.streaming.events import (
        stateful_bottomk_tws,
    )

    df = stateful_bottomk_tws(stream_events(spark, events_dir))
    assert df.isStreaming
    assert df.schema.simpleString() == (
        "struct<event_type:string,event_id:bigint,h:bigint,n_seen:bigint>"
    )
    plan = df._jdf.queryExecution().logical().toString()
    assert "TransformWithState" in plan


def test_tws_bottomk_gate_registration_tracks_protobuf_availability():
    import importlib.util

    from one_one_one_rule_spark.queries import ORACLES, QUERIES

    try:
        available = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        available = False
    assert ("events_tws_bottomk_sample" in QUERIES) == available
    assert ("events_tws_bottomk_sample" in ORACLES) == available


def test_streaming_rollup_on_rocksdb_state_store(spark, sf_dir, events_dir):
    """The SAME watermarked rollup, executed on the ROCKSDB state store
    provider — the state backend a production deployment runs, because
    the default in-memory (HDFS-backed) provider holds every key's state
    on-heap and cannot survive 100 TB key cardinality. RocksDB keeps
    state off-heap with changelog checkpointing; the gate is that the
    drained result is IDENTICAL to the batch aggregate (provider choice
    is an execution detail, never semantics). Conf is session-scoped, so
    it is restored in finally."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    old = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        stream = stream_events(spark, events_dir)
        rolled = _drain_stream(
            spark, hourly_rollup_stream(stream), "rollup_rocksdb", "complete"
        )
        got = {
            (r.hour, r.event_type): (r.n_events, r.total_value, r.sum_k)
            for r in rolled.collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    batch = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    expected = {
        (r.hour, r.event_type): (r.n_events, r.total_value, r.sum_k)
        for r in batch.groupBy(
            F.date_format(
                F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.sum(k).cast("bigint").alias("sum_k"),
        )
        .collect()
    }
    assert got == expected


def test_png_rejects_interleaved_chunk_in_idat_run():
    """PNG spec: IDAT chunks must be consecutive. An ancillary chunk
    spliced INTO the IDAT run (IDAT, tEXt, IDAT) is malformed even
    though concatenating the IDATs would still inflate cleanly — the
    strict decoder rejects it (mirrors the PLTE-before-IDAT rule)."""
    import struct as _s
    import zlib as _z

    from one_one_one_rule_spark.operators.multimodal import (
        _PNG_SIG,
        decode_image,
    )

    def _chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 0)
    z = _z.compress(b"\x00" * (3 * 4))
    mid = len(z) // 2
    good = (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z[:mid])
        + _chunk(b"IDAT", z[mid:]) + _chunk(b"IEND", b"")
    )
    assert decode_image(good) is not None
    interleaved = (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z[:mid])
        + _chunk(b"tEXt", b"k\x00v") + _chunk(b"IDAT", z[mid:])
        + _chunk(b"IEND", b"")
    )
    assert decode_image(interleaved) is None
    # ancillary chunks BEFORE the IDAT run remain fine
    pre = (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"tEXt", b"k\x00v")
        + _chunk(b"IDAT", z) + _chunk(b"IEND", b"")
    )
    assert decode_image(pre) is not None


def test_png_accepts_ancillary_after_idat_run_rejects_critical():
    """PNG spec: IDAT chunks must be consecutive WITH EACH OTHER, but
    ancillary chunks between the IDAT run and IEND are legal (libpng
    commonly writes tIME/tEXt there) — the strict decoder must accept
    them (code-review fix: the first cut rejected any post-run chunk).
    A CRITICAL chunk after the run stays malformed."""
    import struct as _s
    import zlib as _z

    from one_one_one_rule_spark.operators.multimodal import (
        _PNG_SIG,
        decode_image,
    )

    def _chunk(tag, body):
        return (
            _s.pack(">I", len(body)) + tag + body
            + _s.pack(">I", _z.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 0)
    z = _z.compress(b"\x00" * (3 * 4))
    # ancillary after the (complete) IDAT run: valid file, must decode
    post = (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z)
        + _chunk(b"tIME", b"\x07\xe9\x08\x10\x00\x00\x00")
        + _chunk(b"IEND", b"")
    )
    assert decode_image(post) is not None
    # two ancillary chunks after the run: still valid
    post2 = (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z)
        + _chunk(b"tIME", b"\x07\xe9\x08\x10\x00\x00\x00")
        + _chunk(b"tEXt", b"k\x00v") + _chunk(b"IEND", b"")
    )
    assert decode_image(post2) is not None
    # a CRITICAL (uppercase-first) chunk after the run is misplaced
    crit = (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z)
        + _chunk(b"SBIT", b"\x08") + _chunk(b"IEND", b"")
    )
    assert decode_image(crit) is None
    # PLTE after IDAT stays rejected via its own placement rule
    plte_late = (
        _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", z)
        + _chunk(b"PLTE", b"\x00" * 3) + _chunk(b"IEND", b"")
    )
    assert decode_image(plte_late) is None


def test_media_kind_total_over_negative_keys(spark):
    """media_kind is shared API (synthesize_media AND the multimodal
    curation plan): it must be total over ALL integer keys. Spark's ``%``
    keeps the dividend's sign, so the pre-fix expression indexed the
    3-element modality array at 0/-1/-2 for negative keys (round-10
    ADVICE); ``pmod`` keeps the cycle aligned with the nonnegative one."""
    from one_one_one_rule_spark.operators.multimodal import media_kind

    df = spark.range(-7, 8).select(
        F.col("id"), media_kind(F.col("id")).alias("kind")
    )
    got = {r["id"]: r["kind"] for r in df.collect()}
    cycle = {0: "image", 1: "audio", 2: "video"}
    assert got == {k: cycle[k % 3] for k in range(-7, 8)}
