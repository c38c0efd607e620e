"""Property-based tests (SURVEY.md §5.3): algebraic invariants that must
hold for ANY data, checked with Hypothesis over small generated frames plus
fixture-level invariants across registered operators.

These complement the oracle gate: the oracle pins exact values on one
dataset; properties pin the algebra (idempotence, additivity, containment)
that survives refactors and data drift.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from atlas_migration_repo_spark.registry import QUERIES

from conftest import SF_DIR

_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # key
        st.text(alphabet="abcd ", min_size=0, max_size=12),  # text
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),  # value
    ),
    min_size=0,
    max_size=40,
)

_hyp = settings(
    max_examples=12,  # each example pays a Spark job; keep the loop tight
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "key int, text string, value double")


@given(rows=_rows)
@_hyp
def test_distinct_idempotent(spark, rows):
    """distinct(distinct(df)) == distinct(df) — dedup is idempotent."""
    df = _df(spark, rows)
    once = df.distinct()
    assert once.count() == once.distinct().count()


@given(rows=_rows, rows2=_rows)
@_hyp
def test_union_all_count_additive(spark, rows, rows2):
    a, b = _df(spark, rows), _df(spark, rows2)
    assert a.unionByName(b).count() == a.count() + b.count()


@given(rows=_rows, cutoff=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False))
@_hyp
def test_filter_subset_of_scan(spark, rows, cutoff):
    df = _df(spark, rows)
    kept = df.where(F.col("value") > cutoff)
    n_all, n_kept = df.count(), kept.count()
    assert n_kept <= n_all
    # complement partitions exactly
    assert n_kept + df.where(~(F.col("value") > cutoff)).count() == n_all


@given(rows=_rows, k=st.integers(min_value=0, max_value=10))
@_hyp
def test_topk_is_prefix_of_sort(spark, rows, k):
    df = _df(spark, rows)
    full = [r["value"] for r in df.orderBy(F.col("value").desc(), "key", "text").collect()]
    top = [
        r["value"]
        for r in df.orderBy(F.col("value").desc(), "key", "text").limit(k).collect()
    ]
    assert top == full[:k]


# ---- fixture-level invariants over registered operators ---------------------


def test_dedup_survivors_unique_and_minimal(spark):
    """Every dedup group's survivor is the min doc_id and appears once."""
    rows = QUERIES["dedup_fingerprint"].fn(spark, SF_DIR).collect()
    keeps = [r["keep_doc"] for r in rows]
    assert len(keeps) == len(set(keeps))
    assert all(r["n_copies"] >= 1 for r in rows)


def test_topk_per_group_bounded(spark):
    from collections import Counter

    rows = QUERIES["topk_per_group"].fn(spark, SF_DIR).collect()
    per_group = Counter(r["c_nationkey"] for r in rows)
    assert all(n <= 3 for n in per_group.values())


def test_jaccard_pairs_canonical_and_bounded(spark):
    rows = QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert r["da"] < r["db"]
        assert 0.0 <= r["jaccard"] <= 1.0


def test_stream_tumbling_conserves_events(spark):
    """Window counts must sum to the table's row count (no loss, no dup)."""
    from atlas_migration_repo_spark.catalog import load

    total = load(spark, SF_DIR, "events").count()
    windows = QUERIES["stream_tumbling"].fn(spark, SF_DIR).collect()
    assert sum(r["n"] for r in windows) == total


_money = st.lists(
    st.decimals(
        min_value=-1_000_000, max_value=1_000_000, places=2, allow_nan=False
    ),
    min_size=1,
    max_size=40,
)


@given(vals=_money)
@_hyp
def test_msum_twin_matches_duckdb_for_any_2dp_input(spark, vals):
    """The msum/sql_msum twins must agree EXACTLY for arbitrary 2dp money
    values — the invariant every oracle-checked SUM in the engine rests
    on (decimal accumulation is order-independent; the 4dp rounding and
    final double cast behave identically in both engines)."""
    import duckdb

    from atlas_migration_repo_spark.catalog import msum
    from atlas_migration_repo_spark.oracle import sql_msum

    fvals = [float(v) for v in vals]
    got = (
        _df(spark, [(0, "", v) for v in fvals])
        .agg(msum("value").alias("s"))
        .collect()[0]["s"]
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in fvals])
    exp = con.execute(f"SELECT {sql_msum('x')} FROM t").fetchone()[0]
    assert got == exp, (got, exp)


@given(
    x=st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
)
@_hyp
def test_shared_floor_rounding_matches_duckdb(spark, x):
    """The shared FLOOR(x*1e4+0.5)/1e4 rounding (used where engine ROUND
    implementations diverge on exact ties — see ts_ewma) must be
    bit-identical across engines for any double."""
    import duckdb

    got = (
        _df(spark, [(0, "", x)])
        .select(
            (F.floor(F.col("value") * 10000 + 0.5).cast("double") / F.lit(10000.0)).alias("r")
        )
        .collect()[0]["r"]
    )
    exp = duckdb.connect().execute(
        "SELECT FLOOR(? * 10000 + 0.5) / 10000.0", [x]
    ).fetchone()[0]
    assert got == exp, (got, exp)


@given(
    st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=20, deadline=None)
def test_zorder_interleave_bijective(spark, pairs):
    """The Morton interleave must be a bijection on 16-bit pairs: both
    inputs recover exactly by de-interleaving the z-value, and z is
    monotone in each dimension with the other fixed at 0."""
    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.sources.files import _z_terms

    df = spark.createDataFrame(pairs, "a_s long, b_s long")
    z = df.select("a_s", "b_s", F.expr(_z_terms("shiftright({col}, {i}) & 1")).alias("z"))
    dec_a = " + ".join(f"((z >> {2 * i}) & 1) * {2 ** i}" for i in range(16))
    dec_b = " + ".join(f"((z >> {2 * i + 1}) & 1) * {2 ** i}" for i in range(16))
    out = z.select(
        "a_s", "b_s", F.expr(dec_a).alias("da"), F.expr(dec_b).alias("db")
    ).collect()
    for r in out:
        assert r["da"] == r["a_s"] and r["db"] == r["b_s"], r


@given(
    slope=st.floats(0.5, 50.0, allow_nan=False),
    start=st.floats(-100.0, 100.0, allow_nan=False),
    n=st.integers(3, 20),
)
@settings(max_examples=15, deadline=None)
def test_holt_tracks_linear_ramp(spark, slope, start, n):
    """On an exactly linear series the Holt recurrence must converge onto
    the line: positive trend, forecast ahead of level, and the one-step
    forecast within one slope-step of the true next point (its worst-case
    transient bias; exact once the trend term has burned in)."""
    import pandas as pd

    from atlas_migration_repo_spark.operators.analytics import (
        HOLT_LOOKBACK,
        ts_holt_linear,
    )

    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [base + pd.Timedelta(hours=i) for i in range(n)],
            "user_id": [1] * n,
            "event_type": ["view"] * n,
            "value": [start + slope * i for i in range(n)],
            "props": ["{}"] * n,
        }
    )
    import os, tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "events.parquet")
        )
        rows = sorted(
            ts_holt_linear(spark, d).collect(), key=lambda r: r["event_id"]
        )
    assert len(rows) == n
    last = rows[-1]
    true_next = start + slope * n
    assert last["trend"] > 0
    assert last["forecast"] > last["level"]
    assert abs(last["forecast"] - true_next) <= slope + 1e-6, (
        last["forecast"],
        true_next,
    )


@given(st.integers(min_value=0, max_value=2**62))
@settings(max_examples=200, deadline=None)
def test_ppm_synth_decode_roundtrip(doc_id):
    """decode_ppm must invert synth_ppm for any doc_id: dims match the
    constants and channel means equal the direct mean over the generated
    md5 pixel bytes (pure Python — no Spark session involved)."""
    import hashlib

    from atlas_migration_repo_spark.llm.multimodal import (
        PPM_H,
        PPM_W,
        decode_ppm,
        synth_ppm,
    )

    feats = decode_ppm(synth_ppm(doc_id))
    assert (feats["width"], feats["height"]) == (PPM_W, PPM_H)
    raw = b"".join(
        hashlib.md5(f"{doc_id}:{r}".encode()).digest()[: PPM_W * 3]
        for r in range(PPM_H)
    )
    for c, key in enumerate(("mean_r", "mean_g", "mean_b")):
        expect = sum(raw[c::3]) / (PPM_W * PPM_H)
        assert feats[key] == expect


@given(st.integers(min_value=0, max_value=2**62))
@settings(max_examples=200, deadline=None)
def test_wav_synth_decode_roundtrip(doc_id):
    """decode_wav must invert synth_wav: rate/frames from the RIFF header,
    energy equal to the direct int16 sum of squares."""
    import hashlib
    import struct

    from atlas_migration_repo_spark.llm.multimodal import (
        WAV_RATE,
        WAV_SAMPLES,
        decode_wav,
        synth_wav,
    )

    feats = decode_wav(synth_wav(doc_id))
    assert feats["rate"] == WAV_RATE
    assert feats["n_samples"] == WAV_SAMPLES
    raw = (
        hashlib.md5(f"{doc_id}:0".encode()).digest()
        + hashlib.md5(f"{doc_id}:1".encode()).digest()
    )
    samples = struct.unpack(f"<{WAV_SAMPLES}h", raw)
    assert feats["energy"] == sum(s * s for s in samples)


@given(
    docs=st.lists(
        st.lists(st.sampled_from(list("abcdef")), min_size=1, max_size=20),
        min_size=1,
        max_size=8,
    )
)
@_hyp
def test_span_dedup_matches_python_model(spark, docs):
    """The distributed span-dedup kernel must agree exactly with a
    sequential first-occurrence-wins model for ANY corpus (3-word spans;
    single-letter words so generated docs collide often)."""
    from atlas_migration_repo_spark.llm.dedup import span_dedup

    texts = [" ".join(w) for w in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in span_dedup(df, 3).collect()}
    seen: set[str] = set()
    for i, t in enumerate(texts):
        ws = t.split(" ")
        spans = [" ".join(ws[j : j + 3]) for j in range(0, len(ws), 3)]
        kept = []
        for s in spans:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        r = got[i]
        assert r["n_spans"] == len(spans)
        assert r["n_kept"] == len(kept)
        assert r["text_kept"] == (" ".join(kept) if kept else None)


# -- Avro codec properties (pure Python — no Spark job per example) ----------

_avro_row = st.tuples(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),  # long
    st.one_of(st.none(), st.text(max_size=40)),  # nullable string (any unicode)
    st.one_of(
        st.none(),
        st.floats(allow_nan=True, allow_infinity=True, width=64),
    ),  # nullable double incl. NaN/Inf
    st.one_of(st.none(), st.booleans()),
    st.one_of(st.none(), st.binary(max_size=24)),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_avro_row, max_size=50), st.sampled_from(["null", "deflate"]))
def test_avro_codec_roundtrip_property(rows, codec):
    """The spec-level Avro container codec must round-trip ANY row set —
    full unicode, NaN/±Inf doubles, empty bytes, nulls in every union —
    under both codecs, bit-for-bit."""
    import math

    from pyspark.sql import types as T

    from atlas_migration_repo_spark.sources.avro import (
        _container_bytes,
        avro_schema_for,
        parse_container,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("s", T.StringType(), True),
            T.StructField("d", T.DoubleType(), True),
            T.StructField("b", T.BooleanType(), True),
            T.StructField("raw", T.BinaryType(), True),
        ]
    )
    data = _container_bytes(avro_schema_for(schema), rows, codec)
    _avsc, back = parse_container(data)
    assert len(back) == len(rows)
    for got, want in zip(back, rows):
        for g, w in zip(got, want):
            if isinstance(w, float) and math.isnan(w):
                assert isinstance(g, float) and math.isnan(g)
            else:
                assert g == w, (g, w)


_positions = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=200_000),
        # straddle the array/bitmap container threshold and 64-bit buckets
        st.integers(min_value=4090, max_value=4100),
        st.integers(min_value=2**32 - 5, max_value=2**32 + 5),
    ),
    min_size=0,
    max_size=6000,
)


@given(_positions)
@settings(max_examples=60, deadline=None)
def test_roaring_dv_payload_roundtrip(positions):
    """The spec RoaringBitmapArray payload round-trips ANY position set:
    array containers, bitmap containers (card > 4096), multi-key 64-bit
    buckets, and empties — and the encoded bytes always start with the
    protocol magic."""
    import struct

    from atlas_migration_repo_spark.sources.delta_interop import (
        _dv_decode,
        _dv_encode,
    )

    enc = _dv_encode(positions)
    assert enc[:4] == struct.pack("<i", 1681511377)
    assert _dv_decode(enc) == sorted(set(positions))


def test_tfidf_tokenizes_the_corpus_once(spark):
    """Regression pin for the round-6 scaling bug (updated for the
    round-7 shape): text_tfidf used to depend on AQE ReuseExchange to
    share the tokenize shuffle between the tf and df branches — a
    fragile, silent-to-break property. It now materializes the
    (doc,word,tf) relation ONCE via localCheckpoint, so the guarantee is
    structural: the query's executed plan reads the checkpointed RDD for
    both consumers and touches the documents parquet only for the
    n_docs count — exactly one corpus FileScan, zero re-tokenization."""
    df = QUERIES["text_tfidf"].fn(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # the AdaptiveSparkPlan string renders BOTH the final and the
    # initial plan; judge only the final section
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ExistingRDD") >= 2, "checkpointed tf not shared"
    n_scans = sum(
        1
        for line in final.splitlines()
        if "FileScan parquet" in line and "documents" in line
    )
    assert n_scans == 1, f"corpus scanned {n_scans}x (want 1: n_docs only)"


@given(
    blocks=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),  # block type id
            st.dictionaries(
                st.integers(min_value=1, max_value=9),
                st.text(max_size=40),
                max_size=4,
            ),
            st.binary(max_size=2048),
        ),
        min_size=1,
        max_size=5,
    ),
    torn=st.binary(max_size=12),
)
@settings(max_examples=120, deadline=None)
def test_hudi_log_block_framing_roundtrips(tmp_path_factory, blocks, torn):
    """Property: any sequence of framed log blocks (arbitrary type ids,
    header maps, and binary content) round-trips through the parser
    byte-exactly, and arbitrary torn trailing bytes never corrupt the
    complete prefix (the spec's corrupt-block stop)."""
    from atlas_migration_repo_spark.sources.hudi_interop import (
        _log_block_bytes,
        _parse_log_file,
    )

    payload = b"".join(
        _log_block_bytes(btype, hdr, content) for btype, hdr, content in blocks
    )
    fp = tmp_path_factory.mktemp("hlog") / "f.log.1_0-0-0"
    fp.write_bytes(payload + torn)
    parsed = _parse_log_file(str(fp))
    # torn tail may accidentally start with a valid magic+size that spans
    # past EOF — parsing must stop, never raise, and the prefix is exact
    assert parsed[: len(blocks)] == [
        (btype, hdr, content) for btype, hdr, content in blocks
    ]
    assert len(parsed) == len(blocks)


@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=400
    ),
    k=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=150, deadline=None)
def test_bottomk_sample_merge_property(vals, k):
    """Property: bottom-k by a content hash is mergeable — bottom-k of a
    union equals bottom-k of the per-shard bottom-ks, for ANY split of
    the input (the guarantee sketch_quantile_bottomk and the KMV
    estimator rely on)."""
    import hashlib

    def pri(x: int) -> str:
        return hashlib.md5(f"p:{x}".encode()).hexdigest()

    def bottomk(xs):
        return sorted({pri(x) for x in xs})[:k]

    mid = len(vals) // 2
    a, b = vals[:mid], vals[mid:]
    merged = sorted(set(bottomk(a)) | set(bottomk(b)))[:k]
    assert merged == bottomk(vals)


def test_shuffle_epochs_reproducible_and_permutes(spark):
    """corpus_shuffle_epochs invariants: (a) two runs are IDENTICAL
    (seeded hash, no engine nondeterminism), (b) every epoch is a
    permutation of the corpus (each doc appears exactly once with a
    contiguous 1..n position within its shard), (c) different epochs
    produce different orders."""
    q = QUERIES["corpus_shuffle_epochs"].fn
    a = q(spark, SF_DIR).collect()
    b = q(spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_epoch = {}
    for r in a:
        by_epoch.setdefault(r["epoch"], []).append(r)
    n_docs = len({r["doc_id"] for r in a})
    for _epoch, rows in by_epoch.items():
        assert len(rows) == n_docs  # each doc exactly once per epoch
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for poss in by_shard.values():
            assert sorted(poss) == list(range(1, len(poss) + 1))
    order0 = [
        r["doc_id"]
        for r in sorted(by_epoch[0], key=lambda r: (r["shard"], r["pos"]))
    ]
    order1 = [
        r["doc_id"]
        for r in sorted(by_epoch[1], key=lambda r: (r["shard"], r["pos"]))
    ]
    assert order0 != order1


def test_msum_fast_path_matches_decimal_form(spark):
    """The long-mantissa money sum must be bit-identical to the
    DECIMAL(30,8)-accumulation form it replaced.

    Checks both layers on real fixture data (every lineitem row at SF_DIR):
    (a) per-row: the (hi, lo) split rebuilds hi·3e6 + lo == unscaled value
        of cast(c as decimal(30,8)) for each Q1 measure incl. the 6dp-exact
        products — zero mismatches tolerated;
    (b) aggregated: Q1-shaped msum group results equal the decimal form
        cell-for-cell (string compare — catches any dtype/repr drift).
    Also pins the negative-value branch with a constructed frame.
    """
    from atlas_migration_repo_spark.catalog import as_date, load, msum, msum_parts_sql

    li = load(spark, SF_DIR, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    measures = {
        "qty": "l_quantity",
        "ext": "l_extendedprice",
        "dp": disc_price,
        "ch": f"{disc_price} * (1 + l_tax)",
    }
    checks = []
    for tag, e in measures.items():
        c = F.expr(e)
        dec_m = (c.cast("decimal(30,8)") * 100000000).cast("decimal(38,0)").cast("bigint")
        hi, lo = msum_parts_sql(e)
        m = F.expr(f"{hi} * 3000000 + {lo}")
        checks.append(F.sum(F.when(dec_m != m, 1).otherwise(0)).alias(tag))
    row = li.agg(*checks).collect()[0]
    assert all(v == 0 for v in row), f"per-row mantissa drift: {row.asDict()}"

    def msum_decimal(e):
        return F.sum(F.expr(e).cast("decimal(30,8)")).cast("decimal(38,4)").cast("double")

    def q1(agg_fn):
        aggs = [agg_fn(e).alias(tag) for tag, e in measures.items()]
        return (
            li.where(as_date(F.col("l_shipdate")) <= F.lit("2001-09-02").cast("date"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(*aggs)
        )

    old = {tuple(r[:2]): [str(v) for v in r[2:]] for r in q1(msum_decimal).collect()}
    new = {tuple(r[:2]): [str(v) for v in r[2:]] for r in q1(msum).collect()}
    assert old == new

    # negative values (c_acctbal-like) exercise the -0.5 branch
    neg = spark.createDataFrame(
        [(1, -999.99), (1, -0.01), (1, 123.45), (2, -500.55), (2, 0.0)],
        "k int, v double",
    )
    got = {r["k"]: str(r["s"]) for r in neg.groupBy("k").agg(msum("v").alias("s")).collect()}
    want = {
        r["k"]: str(r["s"])
        for r in neg.groupBy("k").agg(msum_decimal("v").alias("s")).collect()
    }
    assert got == want


def test_msum_family_matches_decimal_forms(spark):
    """Every msum output form must be bit-identical to the DECIMAL(30,8)
    form it stands for, on real fixture data AND a constructed
    negative-value frame.

    - out="double"        vs SUM(CAST(c AS DEC(30,8)))::DOUBLE     (no 4dp round)
    - out="double", dp=4  vs the same, for a 4dp-exact >1e9-magnitude product
    - out="decimal"       vs SUM(CAST(c AS DEC(30,8))) — value AND dtype, and
                          the downstream decimal division agg_weighted_avg
                          relies on
    - over=<window>       vs SUM(CAST(...)) OVER w → DEC(38,4) → DOUBLE and the
                          ROUND(...,4)::DOUBLE spelling (same HALF_UP)
    - the LOO finish (Σm − m_row)·1e-8 vs (gsum − dec_row)
    """
    from pyspark.sql import Window

    from atlas_migration_repo_spark.catalog import (
        load,
        msum,
        msum_finish_sql,
        msum_parts_sql,
    )

    li = load(spark, SF_DIR, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"

    # --- out="double" (group + global), incl. negative frame ---
    def dec8(e):
        return F.sum(F.expr(e).cast("decimal(30,8)")).cast("double")

    for df, key in ((li, "l_returnflag"),):
        for e in (disc_price, "l_quantity * l_quantity * l_quantity * l_quantity"):
            old = {r[0]: str(r[1]) for r in df.groupBy(key).agg(dec8(e)).collect()}
            new = {
                r[0]: str(r[1])
                for r in df.groupBy(key).agg(msum(e, out="double")).collect()
            }
            assert old == new
    neg = spark.createDataFrame(
        [(1, -999.99), (1, -0.01), (1, 123.45), (2, -500.55), (2, 0.0)],
        "k int, v double",
    )
    assert [str(r[0]) for r in neg.agg(msum("v", out="double")).collect()] == [
        str(r[0]) for r in neg.agg(dec8("v")).collect()
    ]

    # --- dp=4: 4dp-exact values far beyond the 8dp grid's range ---
    big = spark.createDataFrame(
        [(1, 9876.5432, 2_600_000), (1, 0.0001, 1_999_999), (2, -123.4567, 3)],
        "k int, v double, w long",
    )
    old = {r[0]: str(r[1]) for r in big.groupBy("k").agg(dec8("v * w")).collect()}
    new = {
        r[0]: str(r[1])
        for r in big.groupBy("k").agg(msum("v * w", out="double", dp=4)).collect()
    }
    assert old == new

    # --- out="decimal": value, dtype, and a downstream decimal division ---
    def decsum(e):
        return F.sum(F.expr(e).cast("decimal(30,8)"))

    a = li.groupBy("l_returnflag").agg(decsum(disc_price).alias("s"))
    b = li.groupBy("l_returnflag").agg(msum(disc_price, out="decimal").alias("s"))
    assert a.schema["s"].dataType.simpleString() == b.schema["s"].dataType.simpleString()
    assert {r[0]: str(r[1]) for r in a.collect()} == {
        r[0]: str(r[1]) for r in b.collect()
    }
    num_old, den_old = decsum("l_extendedprice * l_quantity"), decsum("l_quantity")
    num_new = msum("l_extendedprice * l_quantity", out="decimal")
    den_new = msum("l_quantity", out="decimal")
    old = {
        r[0]: str(r[1])
        for r in li.groupBy("l_returnflag")
        .agg(F.round(num_old / den_old, 4).cast("double"))
        .collect()
    }
    new = {
        r[0]: str(r[1])
        for r in li.groupBy("l_returnflag")
        .agg(F.round(num_new / den_new, 4).cast("double"))
        .collect()
    }
    assert old == new

    # --- windowed msum vs both decimal window spellings ---
    ev = load(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    trip = ev.select(
        "event_id",
        F.sum(F.col("value").cast("decimal(30,8)"))
        .over(w)
        .cast("decimal(38,4)")
        .cast("double")
        .alias("a"),
        F.round(F.sum(F.col("value").cast("decimal(30,8)")).over(w), 4)
        .cast("double")
        .alias("b"),
        msum(
            "value",
            over="PARTITION BY user_id ORDER BY ts, event_id"
            " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW",
        ).alias("c"),
    ).collect()
    for r in trip:
        assert str(r["a"]) == str(r["b"]) == str(r["c"]), r

    # --- LOO finish: (Σm − m_row)·1e-8 == (gsum_dec − dec_row) ---
    hi, lo = msum_parts_sql("value")
    g_new = ev.groupBy("event_type").agg(
        F.expr(f"SUM({hi})").alias("gh"), F.expr(f"SUM({lo})").alias("gl")
    )
    g_old = ev.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(30,8)")).alias("gs")
    )
    j = (
        ev.join(F.broadcast(g_new), "event_type")
        .join(F.broadcast(g_old), "event_type")
        .select(
            F.expr(msum_finish_sql("gh", "gl", out="double", minus="value")).alias("new"),
            (F.col("gs") - F.col("value").cast("decimal(30,8)")).cast("double").alias("old"),
        )
    )
    assert j.where(F.col("new") != F.col("old")).count() == 0


def _edge_values(rnd, places, lo, hi, n):
    """n signed ``places``-dp-exact Decimals with lo ≤ |v|·10^places < hi."""
    from decimal import Decimal

    return [
        Decimal(rnd.randrange(lo, hi)).scaleb(-places) * rnd.choice((1, -1))
        for _ in range(n)
    ]


def test_msum_overflow_edges_match_decimal_forms(spark):
    """Drive msum_sql to the budget its docstring states, |expr·10^dp| just
    under 2e15 on both signs: 6dp-exact values just under |2e7| at dp=8,
    4dp-exact values just under |2e11| at dp=4, and groups mixing those
    with cent-sized and money-sized 2dp values. Every ``out`` form must equal
    its DECIMAL(30,8) reference; per row, the (hi, lo) split must rebuild
    the decimal mantissa within the stated bounds |hi| < 6.7e8, |lo| < 3e6
    (|hi| ≤ 4.4e6 at money magnitudes). Past the budget (6dp values near
    |1e9| at dp=8) the per-row mantissa is not exact, which is why the
    contract stops at 2e15."""
    import random

    from atlas_migration_repo_spark.catalog import msum, msum_parts_sql

    rnd = random.Random(20261017)
    edge8 = _edge_values(rnd, 6, 19_990_000 * 10**6, 2 * 10**13, 60)
    edge4 = _edge_values(rnd, 4, 199_900_000_000 * 10**4, 2 * 10**15, 60)
    money = _edge_values(rnd, 2, 1, 13_000_000, 60)
    cents = _edge_values(rnd, 2, 1, 100, 20)
    cases = {
        8: edge8 + money + cents,
        4: edge4 + money + cents,
    }
    refs = {
        "r4": "CAST(ROUND(SUM(CAST(v AS DECIMAL(30,8))), 4) AS DOUBLE)",
        "double": "CAST(SUM(CAST(v AS DECIMAL(30,8))) AS DOUBLE)",
        "decimal": "SUM(CAST(v AS DECIMAL(30,8)))",
    }
    for dp, vals in cases.items():
        rnd.shuffle(vals)
        # groups: pure edge, mixed, and one holding every value
        rows = [(i % 4, float(v)) for i, v in enumerate(vals)]
        rows += [(9, float(v)) for v in vals]
        df = spark.createDataFrame(rows, "k int, v double")
        for out, ref in refs.items():
            got = df.groupBy("k").agg(msum("v", out=out, dp=dp).alias("s"))
            want = df.groupBy("k").agg(F.expr(ref).alias("s"))
            assert got.schema["s"].dataType == want.schema["s"].dataType, out
            assert {r[0]: str(r[1]) for r in got.collect()} == {
                r[0]: str(r[1]) for r in want.collect()
            }, (dp, out)
        hi, lo = msum_parts_sql("v", dp)
        parts = df.select(
            F.expr(hi).alias("hi"),
            F.expr(lo).alias("lo"),
            F.expr(f"{hi} * 3000000 + {lo}").alias("m"),
            (F.col("v").cast("decimal(30,8)") * 10**dp)
            .cast("decimal(38,0)")
            .cast("bigint")
            .alias("dec_m"),
            F.abs("v").alias("a"),
        ).collect()
        for r in parts:
            assert r["m"] == r["dec_m"], r
            assert abs(r["hi"]) < 6.7e8 and abs(r["lo"]) < 3_000_000, r
            if r["a"] <= 1.3e5:
                assert abs(r["hi"]) <= 4.4e6, r
    # the long sums' row budget at the per-row maximum
    assert (2**63 - 1) // int(2e15 / 3e6) > 1.3e10

    # past the budget: near |1e9| the 8dp product's ulp is 16 units
    far = _edge_values(rnd, 6, 999_000_000 * 10**6, 10**15, 40)
    hi, lo = msum_parts_sql("v")
    drift = (
        spark.createDataFrame([(float(v),) for v in far], "v double")
        .where(
            F.expr(f"{hi} * 3000000 + {lo}")
            != (F.col("v").cast("decimal(30,8)") * 10**8)
            .cast("decimal(38,0)")
            .cast("bigint")
        )
        .count()
    )
    assert drift > 0


def test_no_spark_side_decimal_money_accumulation():
    """Money sums on the Spark side come from catalog.msum_sql: no function
    body spells decimal(30,8) except the DuckDB twin (oracle.py) and the
    Delta-CDC state column of refresh_delta_group_mv, and no module but
    catalog.py names a private mantissa helper (``_mantissa*`` /
    ``_msum*``). Oracle strings (decorator arguments) and docstrings are
    left out of the scan."""
    import ast
    import pathlib

    import atlas_migration_repo_spark

    root = pathlib.Path(atlas_migration_repo_spark.__file__).parent
    hits, private = [], []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        if rel != "catalog.py":
            private += [
                f"{rel}:{n.lineno} {name}"
                for n in ast.walk(tree)
                for name in (
                    [n.id] if isinstance(n, ast.Name)
                    else [n.attr] if isinstance(n, ast.Attribute)
                    else [a.name for a in n.names] if isinstance(n, ast.ImportFrom)
                    else []
                )
                if name.startswith(("_mantissa", "_msum"))
            ]
        if rel == "oracle.py":
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if fn.name == "refresh_delta_group_mv":
                continue
            body = fn.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                body = body[1:]
            hits += [
                f"{rel}:{n.lineno} {fn.name}"
                for stmt in body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and "decimal(30,8)" in n.value.lower()
            ]
    assert not hits, hits
    assert not private, private
    # sql_exec_immediate embeds the text in a single-quoted literal
    from atlas_migration_repo_spark.catalog import msum_sql

    for out in ("r4", "double", "decimal"):
        for dp in (8, 4):
            assert "'" not in msum_sql("v", out=out, dp=dp, over="PARTITION BY k")


@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-2, max_value=2, allow_nan=False),
            st.floats(min_value=-2, max_value=2, allow_nan=False),
        ),
        min_size=1,
        max_size=96,
    )
)
@settings(max_examples=200, deadline=None)
def test_knn_cumsum_matches_python_chain(pairs):
    """r10 sim_knn_join gate: np.cumsum (ufunc accumulate) must equal the
    sequential left-associated Python-float chain BIT-for-bit — the
    determinism contract that lets the exact re-rank agree with Spark's
    chain `dot` and DuckDB's list_aggregate."""
    import math

    import numpy as np

    x = np.array([p[0] for p in pairs], dtype=np.float64)
    y = np.array([p[1] for p in pairs], dtype=np.float64)
    s = 0.0
    nx = 0.0
    for i in range(len(x)):
        xi, yi = float(x[i]), float(y[i])
        s += xi * yi
        nx += xi * xi
    assert float(np.cumsum(x * y)[-1]) == s
    assert float(np.cumsum(x * x)[-1]) == nx
    assert float(np.sqrt(np.cumsum(x * x)[-1])) == math.sqrt(nx)
