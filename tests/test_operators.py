"""Operator-level tests: as-of tolerance, stateful streaming
sessionization vs batch, multimodal determinism, sketch error bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from crypto_lakehouse_spark.io import load_table
from crypto_lakehouse_spark.operators.asof import asof_join
from crypto_lakehouse_spark.operators.multimodal import attach_blobs, extract_features, frame_sample
from crypto_lakehouse_spark.operators.sessionize import sessionize
from crypto_lakehouse_spark.streaming.stateful_sessions import run_stateful_sessionization

SF = "/root/testdata/sf0.001"


def test_asof_tolerance_nulls_out_stale_values(spark):
    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 200, "l2")], "k BIGINT, t BIGINT, who STRING"
    ).withColumn("t", F.timestamp_seconds("t"))
    right = spark.createDataFrame(
        [(1, 95, 10.0)], "k BIGINT, rt BIGINT, v DOUBLE"
    ).withColumn("rt", F.timestamp_seconds("rt"))
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        value_cols=["v"], tolerance=F.expr("INTERVAL 30 SECONDS"),
    )
    rows = {r.who: r.asof_v for r in out.collect()}
    assert rows["l1"] == 10.0  # 5s stale: within tolerance
    assert rows["l2"] is None  # 105s stale: nulled out


def test_asof_equal_timestamp_is_inclusive(spark):
    left = spark.createDataFrame([(1, 100)], "k BIGINT, t BIGINT").withColumn(
        "t", F.timestamp_seconds("t")
    )
    right = spark.createDataFrame([(1, 100, 7.0)], "k BIGINT, rt BIGINT, v DOUBLE").withColumn(
        "rt", F.timestamp_seconds("rt")
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="rt", value_cols=["v"])
    assert out.first().asof_v == 7.0


def test_stateful_sessionization_matches_batch(spark):
    """Closed sessions from the multi-batch stateful operator must
    equal the batch operator's sessions minus each user's final (still
    open) session."""
    streamed = run_stateful_sessionization(spark, SF, gap_minutes=30, n_chunks=4)
    got = {
        (r.user_id, r.session_seq, r.session_start_us, r.session_end_us, r.n_events): round(
            r.value_sum, 6
        )
        for r in streamed.collect()
    }
    assert got, "no closed sessions emitted"

    ev = load_table(spark, SF, "events")
    batch = (
        sessionize(ev, 30)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
            F.count("*").alias("n"),
            F.sum("value").alias("v"),
        )
    )
    last = batch.groupBy("user_id").agg(F.max("session_seq").alias("last_seq"))
    closed_batch = batch.join(last, "user_id").filter(F.col("session_seq") < F.col("last_seq"))
    want = {
        (r.user_id, r.session_seq, r.s, r.e, r.n): round(r.v, 6)
        for r in closed_batch.collect()
    }
    assert got == want


def test_multimodal_features_deterministic(spark):
    docs = load_table(spark, SF, "documents").limit(50)
    a = extract_features(attach_blobs(docs)).orderBy("doc_id").collect()
    b = extract_features(attach_blobs(docs)).orderBy("doc_id").collect()
    assert a == b
    assert all(r.n_bytes % 16 == 0 for r in a)  # md5 pattern multiple


def test_frame_sample_reassembles(spark):
    docs = load_table(spark, SF, "documents").limit(5)
    blobs = attach_blobs(docs)
    frames = frame_sample(blobs, every_n_bytes=16)
    sizes = (
        frames.groupBy("doc_id").agg(F.sum(F.length("frame")).alias("total")).collect()
    )
    orig = {r.doc_id: len(bytes(r.blob)) for r in blobs.collect()}
    assert {r.doc_id: r.total for r in sizes} == orig


def test_decode_image_format_routing():
    import pytest as _pytest

    from crypto_lakehouse_spark.operators import multimodal

    # JPEG magic routes to the native baseline codec (round 10), so a
    # malformed JPEG stream fails with the codec's ValueError, never a
    # missing-library error.
    with _pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 not a real jpeg")
    if not multimodal._HAS_PIL:
        # formats beyond PNG/JPEG (e.g. WebP) still need PIL
        with _pytest.raises(NotImplementedError):
            multimodal.decode_image(b"RIFF....WEBPVP8 ")


def test_png_codec_roundtrip_all_shapes():
    import numpy as np

    from crypto_lakehouse_spark.operators.multimodal import (
        decode_image,
        png_decode,
        png_encode,
    )

    rng = np.random.default_rng(7)
    # >=5 rows so the encoder's y % 5 rotation hits every filter type.
    for shape in [(48, 64), (5, 3), (1, 1), (7, 9, 3), (12, 5, 4)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        back = png_decode(png_encode(img))
        assert back.shape == img.shape
        assert (back == img).all()
        assert (decode_image(png_encode(img)) == img).all()


def test_png_decode_rejects_corruption_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from crypto_lakehouse_spark.operators.multimodal import (
        png_decode,
        png_encode,
    )

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    blob = bytearray(png_encode(img))
    blob[20] ^= 0xFF  # flip an IHDR byte -> CRC must catch it
    with _pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(blob))
    with _pytest.raises(ValueError, match="not a PNG"):
        png_decode(b"plainly not a png")
    # 16-bit depth: IHDR byte 8 within the chunk body (offset 24 in
    # the file: 8 sig + 4 len + 4 tag + 8 w/h) — rebuild CRC so the
    # depth check, not the CRC check, fires.
    import struct
    import zlib

    raw = bytearray(png_encode(img))
    raw[24] = 16
    body = bytes(raw[16:29])
    raw[29:33] = struct.pack(
        ">I", zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF
    )
    with _pytest.raises(ValueError, match="bit depth"):
        png_decode(bytes(raw))


def test_approx_distinct_within_error(spark):
    ev = load_table(spark, SF, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.count_distinct("user_id").alias("exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx - r.exact) <= max(2, 0.1 * r.exact)


def test_transform_with_state_matches_apply_in_pandas(spark):
    """The Spark-4 transformWithStateInPandas sessionizer must emit
    exactly the same closed sessions as the applyInPandasWithState
    one under the same 4-chunk replay (both then match batch via
    test_stateful_sessionization_matches_batch). Skips where
    google.protobuf (required by the TWS state-server protocol) is
    absent — see the HAS_TWS gate in stateful_sessions.py."""
    import pytest

    from crypto_lakehouse_spark.streaming.stateful_sessions import (
        HAS_TWS,
        run_tws_sessionization,
    )

    if not HAS_TWS:
        pytest.skip("google.protobuf unavailable: transformWithState needs it")

    def keyed(df):
        return {
            (r.user_id, r.session_seq, r.session_start_us, r.session_end_us, r.n_events): round(
                r.value_sum, 6
            )
            for r in df.collect()
        }

    tws = keyed(run_tws_sessionization(spark, SF, gap_minutes=30, n_chunks=4))
    gs = keyed(run_stateful_sessionization(spark, SF, gap_minutes=30, n_chunks=4))
    assert tws, "no closed sessions emitted by transformWithState"
    assert tws == gs


def test_lineage_truncation_mode_follows_checkpoint_dir(spark, tmp_path):
    """dup_clusters_cc's per-iteration lineage cut uses the reliable
    checkpoint exactly when a checkpoint dir is configured (the
    preemptible-cluster mode), localCheckpoint otherwise — and both
    modes produce working frames."""
    from crypto_lakehouse_spark.queries.dedup_ops import _truncate_lineage

    import glob as _glob

    df = spark.range(100).withColumnRenamed("id", "node")
    ckpt_dir = tmp_path / "ckpt"

    # Default session: no checkpoint dir -> localCheckpoint, nothing
    # is written anywhere. (df.rdd rebuilds a fresh RDD from the plan,
    # so the mode is observable only through the filesystem.)
    local = _truncate_lineage(df, spark)
    assert local.count() == 100
    assert not ckpt_dir.exists()

    sc = spark.sparkContext
    sc.setCheckpointDir(str(ckpt_dir))
    try:
        reliable = _truncate_lineage(df, spark)
        assert reliable.count() == 100
        written = _glob.glob(str(ckpt_dir / "**" / "rdd-*"), recursive=True)
        assert written, "reliable checkpoint must write RDD files to the dir"
    finally:
        # The dir is sticky on the shared session; reset via the scala
        # setter so later tests keep the default local mode.
        setter = getattr(sc._jsc.sc(), "checkpointDir_$eq")
        setter(sc._jvm.scala.Option.apply(None))
    assert sc.getCheckpointDir() is None


def test_decode_blob_and_resize_nearest():
    """Pure-numpy decode: cyclic byte fill to (h, w); nearest-neighbor
    resize uses floor index mapping src = out * in // out."""
    import numpy as np

    from crypto_lakehouse_spark.operators.multimodal import (
        decode_blob,
        resize_nearest,
    )

    blob = bytes(range(16)) * 3  # 48 bytes, cycle length 16
    img = decode_blob(blob, width=10, height=7)  # needs 70 > 48: tiles
    assert img.shape == (7, 10) and img.dtype == np.uint8
    # pixel(y, x) == blob[(y*w + x) % len] == (y*w + x) % 16
    for y, x in [(0, 0), (3, 7), (6, 9)]:
        assert img[y, x] == (y * 10 + x) % 16

    small = resize_nearest(img, 4, 4)
    assert small.shape == (4, 4)
    for yo in range(4):
        for xo in range(4):
            assert small[yo, xo] == img[(yo * 7) // 4, (xo * 10) // 4]

    assert decode_blob(b"", 3, 2).tolist() == [[0, 0, 0], [0, 0, 0]]


def test_cogroup_passes_key_copy(spark, sf_dir):
    """Pins the cogroup-pruning quirk asof_join_cogroup works around:
    when the cogroup key is an expression over a column, the optimizer
    may prune that key-source column from the pandas frame (observed
    on the right side), so the per-user merge key must travel as an
    aliased copy. The query must produce the same rows as the
    window-carry-forward as-of implementation."""
    from crypto_lakehouse_spark import queries as qmod
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    qmod.load_all()
    a = REGISTRY["asof_join_cogroup"].spark_fn(spark, sf_dir).collect()
    b = REGISTRY["asof_join_purchase_click"].spark_fn(spark, sf_dir).collect()
    assert len(a) == len(b) > 0
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_wordpiece_census_covers_words_longer_than_16_chars(spark, tmp_path):
    """Round-8 contract fix: the position bound is derived per word
    (1..length(w)), so a 21-char word is tokenized to its tail — the
    old fixed sequence(1, 16) stalled the walk mid-word. Full-coverage
    invariant: every token is fully consumed by its greedy walk, so
    sum(piece_len * n_occurrences) over the census equals the total
    chars of all tokens; Spark and the DuckDB oracle must also agree
    value-exactly on this out-of-fixture corpus."""
    import duckdb

    from crypto_lakehouse_spark.queries.lmdata_ops import (
        _WORDPIECE_DUCK_DIALECT,
        _wordpiece_sql,
    )
    from crypto_lakehouse_spark.queries.registry import REGISTRY

    long_word = "supercalifragilistic"  # 20 chars > 16
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {long_word}", "en", "unit", 0),
            (2, f"{long_word} beta beta gamma", "en", "unit", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.length("text").cast("long"))
    sf_dir = str(tmp_path / "sf_longword")
    docs.coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    res = REGISTRY["wordpiece_tokenize_recursive"].spark_fn(spark, sf_dir)
    rows = res.collect()

    total_token_chars = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.sum(F.length("w")))
        .collect()[0][0]
    )
    covered = sum(r.piece_len * r.n_occurrences for r in rows)
    # Full-tail proof: the long word appears twice, so the census must
    # account for ALL 2 * 20 of its chars plus every other token's.
    # Under the old fixed-16 bound the walk stalled at position 17 and
    # this sum fell short by the untokenized tails.
    assert covered == total_token_chars  # no mid-word truncation

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    duck = con.execute(_wordpiece_sql(*_WORDPIECE_DUCK_DIALECT)).fetchall()
    assert sorted(duck) == sorted(
        (r.piece, r.piece_len, r.n_occurrences, r.n_distinct_words) for r in rows
    )


def test_centroid_driver_budget_contract():
    """similarity_ops' seed collects carry an explicit driver-memory
    contract: within budget at sqrt(N) seeds for any realistic corpus,
    a loud MemoryError (not a silent OOM) past ~2.5e11 vectors."""
    import pytest as _pytest

    from crypto_lakehouse_spark.queries.similarity_ops import (
        _assert_centroid_budget,
    )

    _assert_centroid_budget(int(1e9**0.5) + 1, 64)  # 1e9 docs: fine
    _assert_centroid_budget(500_000, 64)  # ~250 MB: still inside
    with _pytest.raises(MemoryError, match="broadcast-join"):
        _assert_centroid_budget(600_000, 64)


def test_trade_transforms_defined_only_in_operators():
    """W1 dedup (`operators/trades.py`), fused candles and latest
    prices (`operators/gold.py`) have one implementation each: no module
    outside `operators/` may partition by trade_id or take `min_by` of
    the price (also inside an `F.expr` string) again."""
    import pathlib
    import re

    import crypto_lakehouse_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    pattern = re.compile(r'partitionBy\("trade_id"\)|min_by\(\s*"?price')
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path.parent.name != "operators"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, "use crypto_lakehouse_spark.operators: " + ", ".join(hits)
