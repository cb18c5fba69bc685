"""Degenerate-input hardening + engine-feature checks.

Operators must not throw on empty inputs (a 100 TB pipeline WILL produce
an empty partition-day or an empty update batch), and the two session
features a production pipeline leans on — observe() metrics and
cache/persist reuse — must behave as documented.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from big_data__instagram_analysis_spark.io import load
from big_data__instagram_analysis_spark.operators import similarity
from big_data__instagram_analysis_spark.operators.bloom import bloom_prune, build_bloom
from big_data__instagram_analysis_spark.operators.graph import (
    connected_components,
    pagerank,
)
from big_data__instagram_analysis_spark.registry import get_specs


def _empty_edges(spark):
    return spark.createDataFrame([], "src bigint, dst bigint")


def test_pagerank_empty_graph(spark):
    out = pagerank(_empty_edges(spark))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank"]


def test_connected_components_empty_graph(spark):
    assert connected_components(_empty_edges(spark), src="src", dst="dst").count() == 0


def test_bloom_empty_dim_prunes_everything(spark, sf_dir):
    """Empty key set → all-zero bitset → every probe False (no matches
    exist, so dropping every fact row is exactly correct)."""
    li = load(spark, sf_dir, "lineitem")
    empty = spark.createDataFrame([], "o_orderkey bigint")
    assert build_bloom(empty, "o_orderkey", num_bits=1 << 10) == [0] * (1 << 4)
    assert bloom_prune(li, "l_orderkey", empty, "o_orderkey").count() == 0


def test_zorder_interleave_is_bijective(spark):
    """Every (x, y) in the 32×32 domain maps to a distinct z in [0, 1024)."""
    from big_data__instagram_analysis_spark.queries.scale_ops import _interleave_sql

    grid = (
        spark.range(32)
        .select(F.col("id").alias("x"))
        .crossJoin(spark.range(32).select(F.col("id").alias("y")))
    )
    z = grid.select(F.expr(_interleave_sql("x", "y", 5)).alias("z"))
    stats = z.agg(
        F.count_distinct("z").alias("d"), F.min("z").alias("lo"), F.max("z").alias("hi")
    ).collect()[0]
    assert stats["d"] == 1024 and stats["lo"] == 0 and stats["hi"] == 1023


def test_observe_metrics_without_extra_pass(spark, sf_dir):
    """observe() collects row/sum metrics as a side effect of the ONE
    action — the scale way to get pipeline telemetry (an extra .count()
    would re-run the whole plan)."""
    ob = Observation("li")
    li = load(spark, sf_dir, "lineitem").observe(
        ob, F.count(F.lit(1)).alias("rows"), F.sum("l_quantity").alias("qty")
    )
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q")).collect()
    got = ob.get
    assert got["rows"] == load(spark, sf_dir, "lineitem").count()
    assert abs(got["qty"] - sum(r["q"] for r in agg)) < 1e-6


def test_cache_persist_reuse(spark, sf_dir):
    """persist() materializes once; dependent plans read InMemoryTableScan."""
    base = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base.persist()
    try:
        base.count()  # materialize
        dependent = base.filter(F.col("n") > 2)
        plan = dependent._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        assert dependent.count() <= base.count()
    finally:
        base.unpersist()


def test_halfhour_offset_timezone_session(spark, sf_dir):
    """Asia/Kathmandu (+5:45) is the nastiest session timezone: non-whole
    offsets shift hour AND minute boundaries. tune() must repin UTC so
    date_format/hour-bucket queries are unaffected."""
    from big_data__instagram_analysis_spark.registry import get_specs

    baseline = {}
    for name in ("events_hourly", "partial_agg_rollup", "date_funcs"):
        baseline[name] = get_specs()[name].fn(spark, sf_dir).collect()
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
        for name, rows in baseline.items():
            again = get_specs()[name].fn(spark, sf_dir).collect()
            assert again == rows, f"{name} drifted under +5:45 session tz"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_sessionize_differential_fuzz(spark):
    """Differential check of the gaps-and-islands sessionizer against a
    10-line Python reference, including the exact-30-minute boundary
    (gap == threshold stays in the SAME session; only > splits)."""
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import functions as F2

    GAP = 1_800_000_000_000  # 30 min in ns

    def reference(ts_list):
        sessions, cur = [], []
        for i, t in enumerate(sorted(ts_list)):
            if cur and t - cur[-1] > GAP:
                sessions.append(cur)
                cur = []
            cur.append(t)
        if cur:
            sessions.append(cur)
        return [(len(s), min(s), max(s)) for s in sessions]

    @given(
        st.lists(
            st.integers(min_value=0, max_value=40 * GAP),
            min_size=1,
            max_size=30,
            unique=True,
        )
    )
    @settings(max_examples=15, deadline=None)
    def run(ts_list):
        rows = [(1, i, int(t), 0.0) for i, t in enumerate(sorted(ts_list))]
        df = spark.createDataFrame(
            rows, "user_id long, event_id long, ts_ns long, value double"
        )
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        got = (
            df.withColumn(
                "is_new",
                F2.when(F2.lag("ts_ns").over(w).isNull(), 1)
                .when(F2.col("ts_ns") - F2.lag("ts_ns").over(w) > GAP, 1)
                .otherwise(0),
            )
            .withColumn("sess_id", F2.sum("is_new").over(cum))
            .groupBy("sess_id")
            .agg(
                F2.count(F2.lit(1)).alias("n"),
                F2.min("ts_ns").alias("lo"),
                F2.max("ts_ns").alias("hi"),
            )
            .orderBy("sess_id")
            .collect()
        )
        assert [(r["n"], r["lo"], r["hi"]) for r in got] == reference(ts_list)

    run()


_GUARD_CALLERS = {
    "cosine_topk_allpairs": lambda spark, emb: similarity.cosine_topk_allpairs(
        emb, spark, k=3
    ),
    "cosine_topk_queries": lambda spark, emb: similarity.cosine_topk_queries(
        emb, emb.where("vec_id % 25 = 0"), spark
    ),
    "cosine_threshold_pairs": lambda spark, emb: similarity.cosine_threshold_pairs(
        emb, spark, threshold=0.4
    ),
}


@pytest.mark.parametrize(
    "caller",
    [
        *_GUARD_CALLERS,
        "hard_negative_mining",
        "embedding_decontamination",
        "matryoshka_truncation_audit",
        "semantic_dedup_clusters",
    ],
)
def test_broadcast_matrix_guard_rejects_oversized_side(spark, sf_dir, monkeypatch, caller):
    """Every broadcast of a matrix collected from a frame enforces the
    brute-force 'one side fits' memory contract: past
    BROADCAST_MATRIX_MAX_BYTES the caller fails fast, while it builds its
    DataFrame, with an error naming the sub-quadratic alternatives, not an
    executor OOM."""
    monkeypatch.setattr(similarity, "BROADCAST_MATRIX_MAX_BYTES", 64)
    with pytest.raises(ValueError, match=f"^{caller}: broadcast side .*ann_lsh_bucketed"):
        if caller in _GUARD_CALLERS:
            _GUARD_CALLERS[caller](spark, load(spark, sf_dir, "embeddings"))
        else:
            get_specs()[caller].fn(spark, sf_dir)


def test_decode_audio_wav_roundtrip(spark):
    """The WAV path of decode_audio is REAL (stdlib wave): synthesize a
    stereo 8kHz/200-frame WAV in memory, ship it through the media-struct
    plumbing, and decode inside mapInPandas — metadata survives the Arrow
    boundary and the codec reads actual bytes, not the fake."""
    import io
    import struct
    import wave

    from big_data__instagram_analysis_spark.operators.multimodal import decode_audio

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack("<" + "h" * 400, *range(400)))
    payload = buf.getvalue()

    assert decode_audio(payload) == (2, 8000, 200)

    import pandas as pd

    df = spark.createDataFrame([(1, bytearray(payload))], "id long, data binary")

    def run(batches):
        for pdf in batches:
            rows = [decode_audio(bytes(d)) for d in pdf["data"]]
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "ch": [r[0] for r in rows],
                    "rate": [r[1] for r in rows],
                    "frames": [r[2] for r in rows],
                }
            )

    got = df.mapInPandas(run, "id long, ch int, rate int, frames int").collect()
    assert [(r["ch"], r["rate"], r["frames"]) for r in got] == [(2, 8000, 200)]


def test_decode_audio_non_wav_raises_not_implemented(spark):
    import pytest

    from big_data__instagram_analysis_spark.operators.multimodal import decode_audio

    with pytest.raises(NotImplementedError, match="soundfile/ffmpeg"):
        decode_audio(b"\x00\x01\x02 definitely not a wav")


def test_decode_image_gate_matches_pil_availability(spark):
    """decode_image raises the documented error exactly when PIL is absent
    (this container); if a deployment adds PIL the hook activates with no
    code change."""
    import pytest

    from big_data__instagram_analysis_spark.operators import multimodal

    if multimodal._pil_image is None:
        with pytest.raises(NotImplementedError, match="fake_decode_features"):
            multimodal.decode_image(b"\x89PNG\r\n")
    else:  # pragma: no cover - container has no PIL
        import io

        buf = io.BytesIO()
        multimodal._pil_image.new("RGB", (3, 2)).save(buf, format="PNG")
        assert multimodal.decode_image(buf.getvalue())[:2] == (3, 2)


def test_json_extract_k_fastpath_matches_from_json_adversarial(spark):
    """The anchored-regex fast path in json_extract_k (round 11) must equal
    a pure from_json parse on every hostile props shape — nested objects,
    float/string/null values, int32 overflow, lookalike keys, malformed
    JSON, NULL — not just the flat fixture grammar. This pins the exactness
    argument in the query docstring
    (`git show e396564:tools/ab_json_extract_r11.py`)."""
    from pyspark.sql import functions as F

    adv = spark.createDataFrame(
        [
            ('{"k": 7}',), ('{"k":-3}',), ('{ "k" : 42 }',),
            ('{"a": {"k": 5}}',), ('{"k": 7.5}',), ('{"k": null}',),
            ('{"kk": 9}',), ('{"a": "k\": 9", "k": 11}',), (None,),
            ('{"k": 1234567890123}',), ('not json',), ('{"k": "12"}',),
            ('{"k": 12, "j": 1}',), ('{"k": 0005}',), ('{"k": +5}',),
            ('{"k": 2147483648}',), ('{"k": -2147483648}',), ('{"k":0}',),
            ('{"k": 1} ',), ('{"k": 1} ',), ('{"k": 1}\n',),
            ('{"k":\x0b1}',), ('{"k":\f2}',), ('{"k":\t3}',),
            ('{"k": 4}\x85',),
        ],
        "props string",
    )
    pure = adv.select(
        F.from_json("props", "k INT").getField("k").alias("k")
    ).toPandas()
    fast = F.regexp_extract("props", r'\A\{[ \t\r\n]*"k"[ \t\r\n]*:[ \t\r\n]*(-?(?:0|[1-9]\d{0,8}))[ \t\r\n]*\}\z', 1)
    hybrid = adv.select(
        F.coalesce(
            F.nullif(fast, F.lit("")).cast("int"),
            F.from_json("props", "k INT").getField("k"),
        ).alias("k")
    ).toPandas()
    assert pure.equals(hybrid)
