"""Deduplication operators (SURVEY.md §2.10 / north star): exact hash
dedup, prefix-fingerprint dedup, exact n-gram Jaccard pair detection, and
the scale path — seeded MinHash + LSH banding, and SimHash.

Scale design (100 TB):
- exact/fingerprint dedup: one hash-groupBy — embarrassingly parallel.
- n-gram Jaccard: grouped-posting-list inverted index (pairs expand
  array-side per shingle, only for docs sharing one — never all-pairs),
  with the SHINGLE_DF_CAP stop-shingle guard bounding the hottest lists.
- MinHash+LSH: candidates come from band-bucket joins (b×r seeded,
  deterministic — no MinHashLSH random seeds), then exact-Jaccard verify
  on the candidates only: the prune-then-verify shape from the distributed
  similarity-search literature (PAPERS.md ideas, no code reused).
"""

from __future__ import annotations

import glob as _glob
import math
import os
import shutil
import time as _time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import load, parquet_row_count, r4
from atlas_migration_repo_spark.oracle import sql_r4
from atlas_migration_repo_spark.registry import query
from atlas_migration_repo_spark.sources.files import scratch_path
from atlas_migration_repo_spark.llm.text import (
    SQL_SHINGLES,
    shingle_counts,
    shingle_rows,
    shingles,
    tokenized,
    words,
)

JACCARD_TAU = 0.2
# Stop-shingle guard for the inverted-index self-join: shingles appearing in
# >= SHINGLE_DF_CAP documents are dropped from candidate generation (a
# shingle with document frequency df produces O(df^2) join output on ONE
# shuffle key, so one boilerplate phrase melts a reducer at corpus scale).
# Ubiquitous shingles carry no dedup signal; production sets the cap to the
# posting-list length the cluster tolerates (10^3-10^4). Fixture max df is
# 25, so the default cap leaves every fixture result byte-identical to the
# uncapped oracle.
SHINGLE_DF_CAP = 1000
_MERSENNE = 2147483647  # 2^31-1, modulus of the minhash permutation family
MINHASH_K = 32  # signature length
LSH_R = 2  # rows per band
LSH_B = MINHASH_K // LSH_R  # 16 bands → catch prob ≥ 0.99 at jaccard 0.5


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_doc, COUNT(*) AS n_copies, MD5(text) AS text_hash
    FROM documents
    GROUP BY MD5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per full-text MD5. The
    fixture has no exact duplicates, so every group has n_copies=1 — the
    machinery (hash → groupBy → min) is identical when copies exist, as
    dedup_fingerprint shows on real groups."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "dedup_fingerprint",
    oracle="""
    SELECT MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:4], ' ')) AS prefix_hash,
           MIN(doc_id) AS keep_doc,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup on the first-4-words hash — genuine multi-doc
    groups in the fixture (up to 3 copies), exercising survivor selection."""
    d = load(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(words(), 1, 4)))
    return d.groupBy(key.alias("prefix_hash")).agg(
        F.min("doc_id").alias("keep_doc"), F.count(F.lit(1)).alias("n_copies")
    )


_JACCARD_ORACLE = f"""
    WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, UNNEST({SQL_SHINGLES}) AS shingle FROM w),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT da, db, {sql_r4('i * 1.0 / (sa.n + sb.n - i)')} AS jaccard
    FROM inter
    JOIN sizes sa ON da = sa.doc_id
    JOIN sizes sb ON db = sb.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_TAU}
"""


def _shingle_posting_list(d: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Exploded (doc_id, shingle) inverted index with the stop-shingle df
    cap applied: shingles present in >= cap documents are semi-joined OUT
    before any self-join, bounding the hottest posting list (and thus the
    worst shuffle key) to cap·(cap-1)/2 candidate pairs. Per-doc shingle
    counts for Jaccard/containment denominators must come from the UNCAPPED
    explode — only candidate generation is capped."""
    sh = shingle_rows(d)
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") < cap)
        .select("shingle")
    )
    return sh.join(rare, "shingle", "left_semi")


# Chunked pair materialization (VERDICT r9 "next" #4): the exact
# pair-LISTING family's candidate volume grows ~df² per shingle, and one
# monolithic pair shuffle at sf10 (500k near-dup-dense docs) spills past
# a fixed-disk box's budget (~77 GB here — the declared r9 sf10 failure).
# When the ESTIMATED candidate count (Σ df·(df-1)/2 over df-capped
# shingles — one cheap linear aggregation) exceeds the per-chunk target,
# the pair space is split into C = ⌈est/target⌉ chunks by
# pmod(hash(da), C): every unordered pair lands in EXACTLY one chunk (the
# filter keys on da alone), so per-chunk intersection counts are globally
# exact, each chunk's pairs are verified (sizes join + τ filter) inside
# the chunk job, and only the small verified output is written to scratch
# parquet — peak shuffle disk is one chunk's, not the corpus's. Chunks
# run SEQUENTIALLY with a best-effort shuffle-file drain between them
# (the whole point is bounding concurrent disk). C == 1 — every SF the
# oracle gate runs — short-circuits to the unchanged lazy single-pass
# plan. On a real cluster the same knob bounds per-executor spill; the
# target is sized in pairs (~24 B/pair of shuffle) via
# SPARK_GRAFT_PAIR_CHUNK_PAIRS.
_PAIR_CHUNK_PAIRS_DEFAULT = 300_000_000

# Below this many documents (parquet-footer count — no job) the candidate
# estimator pass is skipped and the single-pass lazy plan runs directly;
# see _chunked_pair_run's docstring for the margin math and the override.
_PAIR_EST_SKIP_DOCS_DEFAULT = 20_000


def _pair_chunk_target() -> int:
    return int(
        os.environ.get("SPARK_GRAFT_PAIR_CHUNK_PAIRS", _PAIR_CHUNK_PAIRS_DEFAULT)
    )


def _pair_est_skip_docs() -> int:
    return int(
        os.environ.get("SPARK_GRAFT_PAIR_EST_SKIP_DOCS", _PAIR_EST_SKIP_DOCS_DEFAULT)
    )


def _est_candidate_pairs(d: DataFrame) -> int:
    """Σ df·(df-1)/2 over df-capped shingles — the exact row count the
    pair explode will emit (before the groupBy merges shared shingles),
    from one linear explode + groupBy pass."""
    sh = shingle_rows(d)
    row = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") < SHINGLE_DF_CAP)
        .agg(
            F.sum(
                (F.col("df").cast("long") * (F.col("df") - 1) / 2).cast("long")
            ).alias("p")
        )
        .collect()[0]
    )
    return int(row["p"] or 0)


def _block_manager_bytes(spark: SparkSession) -> int:
    """Bytes under this app's block-manager dirs, the local dirs resolved
    as Spark does: SPARK_LOCAL_DIRS, else spark.local.dir, else
    java.io.tmpdir (comma lists; ``blockmgr-*`` directly or in ``spark-*``)."""
    sc = spark.sparkContext
    roots = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or sc.getConf().get("spark.local.dir")
        or sc._jvm.System.getProperty("java.io.tmpdir")
    )
    total = 0
    for root in roots.split(","):
        for pat in ("blockmgr-*", "spark-*/blockmgr-*"):
            for f in _glob.glob(os.path.join(root, pat, "**", "*"), recursive=True):
                try:
                    if os.path.isfile(f):
                        total += os.path.getsize(f)
                except OSError:
                    pass
    return total


def _drain_shuffle_files(spark: SparkSession) -> None:
    """Best-effort release of the previous chunk job's shuffle files:
    nudge the JVM ContextCleaner (shuffle files are deleted when their
    RDDs become weakly reachable) and wait — bounded — while the local
    block-manager directories are still shrinking. Purely an optimization
    for fixed-disk boxes; correctness never depends on it."""
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        return
    try:
        prev = _block_manager_bytes(spark)
        for _ in range(20):
            _time.sleep(1)
            cur = _block_manager_bytes(spark)
            if cur >= prev * 0.9:  # stopped shrinking
                break
            prev = cur
    except Exception:
        pass


def _chunked_pair_run(
    spark: SparkSession,
    sf_dir: str,
    d: DataFrame,
    finish,
    key: str,
) -> DataFrame:
    """Run `finish(_pair_intersections(...))` — the verify stage mapping
    raw (da, db, i) candidate counts to a SMALL output — either as one
    lazy plan (C == 1) or per da-hash chunk, each chunk written to
    scratch parquet and the union read back.

    r10: the estimator pass is SKIPPED outright below a parquet-footer
    doc-count gate. The estimate exists only to bound chunk disk at
    10⁵+-doc scale, yet its explode→groupBy pass cost ~3.4 s of
    dedup_ngram_jaccard's ~10 s at sf0.1 (measured; the family dropped to
    ~6.7 s without it). Below SPARK_GRAFT_PAIR_EST_SKIP_DOCS documents
    (default 20,000 — the fixture family measures Σ df·(df-1)/2 ≈
    1.2e8 pairs at 50k docs, 0.4× the chunk target, so 20k docs carries
    ≥16× margin even for a corpus 10× denser in shared shingles) the run
    goes straight to the lazy single-pass plan; a corpus family whose
    per-doc candidate degree is pathologically higher sets the knob to 0
    to force the exact estimator at every size. The footer count is an
    upper bound on |d| (callers pass filtered subsets of documents), so
    the gate only ever errs toward running the estimator. An earlier r10
    cut fused the estimate into an eagerly-checkpointed posting-list
    relation instead — measured SLOWER than the estimator it replaced
    (collect_list has no map-side partial aggregation, so materializing
    the lists shuffles raw posting rows and re-serializes them to block
    storage); reverted in favor of this gate."""
    if parquet_row_count(sf_dir, "documents") <= _pair_est_skip_docs():
        return finish(_pair_intersections(d))
    est = _est_candidate_pairs(d)
    n_chunks = max(1, math.ceil(est / max(1, _pair_chunk_target())))
    if n_chunks == 1:
        return finish(_pair_intersections(d))
    root = scratch_path(sf_dir, key)
    shutil.rmtree(root, ignore_errors=True)
    # the linear explode→groupBy posting-list aggregation runs ONCE; each
    # chunk reads the checkpointed relation and generates only its own
    # pairs (outer-element chunk gate in _pairs_from_lists)
    lists = _posting_lists(d).localCheckpoint(eager=True)
    for c in range(n_chunks):
        out = finish(_pairs_from_lists(lists, n_chunks=n_chunks, chunk=c))
        out.write.mode("overwrite").parquet(os.path.join(root, f"c{c}"))
        del out
        _drain_shuffle_files(spark)
    del lists
    return spark.read.parquet(os.path.join(root, "c*"))


def _pair_intersections(
    d: DataFrame, n_chunks: int = 1, chunk: int = 0
) -> DataFrame:
    """(da, db, i) shared-shingle counts for every ordered doc pair
    (da < db) sharing ≥1 df-capped shingle — the kernel behind the exact
    Jaccard/containment/sweep family.

    Pairs are generated ARRAY-SIDE from grouped posting lists: one
    groupBy(shingle) collects each posting list (bounded by
    SHINGLE_DF_CAP), and a transform/slice lambda emits the ordered pairs
    within the list, so the expensive posting pipeline (explode → df
    filter) is evaluated ONCE. The previous self-join form re-evaluated
    that pipeline per join side — same output, twice the posting-scan
    work and a wide join in place of one bounded explode (measured ~25%
    off the family's sf0.1 wall). i is exact: each shared
    shingle contributes its pair exactly once (posting lists are
    distinct-per-doc).

    With ``n_chunks > 1`` only pairs whose ``pmod(hash(da), n_chunks)``
    equals ``chunk`` are GENERATED (the chunk predicate applies to the
    outer element before the inner pair expansion, so chunk c does
    ~1/n_chunks of the quadratic work — across all chunks the pair
    generation totals the single-pass cost, and only the linear
    posting-list side repeats) — the chunked-materialization slice
    driven by `_chunked_pair_run`, which also passes a checkpointed
    posting-list relation so the explode→groupBy aggregation runs once,
    not once per chunk.

    The SHINGLE_DF_CAP stop-shingle guard folds into the SAME
    aggregation (`size(ds) < cap` post-filter) instead of the separate
    df-count + semi-join round trip `_shingle_posting_list` uses — one
    shuffle where that shape needs three, byte-identical survivors. The
    trade: a hot shingle's full posting list materializes transiently on
    its reducer before the filter drops it (8 bytes × df — fine through
    df ~10⁷); a corpus where single shingles exceed that switches back
    to the semi-join pre-filter, which never collects the hot list."""
    return _pairs_from_lists(_posting_lists(d), n_chunks=n_chunks, chunk=chunk)


def _posting_lists(d: DataFrame) -> DataFrame:
    """(shingle, ds) df-capped sorted posting lists — the linear half of
    the kernel, split out so `_chunked_pair_run` can checkpoint it once
    and reuse it across chunks."""
    sh = shingle_rows(d)
    return (
        sh.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") < SHINGLE_DF_CAP)
    )


def _pairs_from_lists(
    lists: DataFrame, n_chunks: int = 1, chunk: int = 0
) -> DataFrame:
    """(da, db, i) from posting lists; the quadratic half of the kernel."""
    ds = F.col("ds")
    if n_chunks > 1:
        # generate ONLY this chunk's pairs: the chunk predicate gates the
        # OUTER element, and the inner side pairs x with the strictly
        # greater elements (ds is sorted and per-list doc_ids are unique,
        # so `y > x` is exactly "after x" — the slice-by-index form below
        # can't be outer-filtered without losing the index). Σ over
        # chunks of the quadratic work = the single-pass cost; only the
        # linear outer scan repeats per chunk.
        mine = F.filter(
            ds, lambda x: F.pmod(F.hash(x), F.lit(n_chunks)) == F.lit(chunk)
        )
        pairs = F.flatten(
            F.transform(
                mine,
                lambda x: F.transform(
                    F.filter(ds, lambda y: y > x),
                    lambda y: F.struct(x.alias("da"), y.alias("db")),
                ),
            )
        )
    else:
        pairs = F.flatten(
            F.transform(
                ds,
                lambda x, i: F.transform(
                    F.slice(ds, i + 2, F.size(ds)),
                    lambda y: F.struct(x.alias("da"), y.alias("db")),
                ),
            )
        )
    return (
        lists.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.da").alias("da"), F.col("p.db").alias("db"))
        .agg(F.count(F.lit(1)).alias("i"))
    )


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs: word-3-gram shingle Jaccard ≥ τ via the
    grouped-posting-list inverted index (only docs sharing ≥1 shingle
    pair up), with the SHINGLE_DF_CAP stop-shingle guard bounding the
    hottest posting list."""
    d = load(spark, sf_dir, "documents")
    # per-doc distinct-shingle count computed ARRAY-SIDE per row — no
    # explode, no groupBy; identical value to counting the exploded rows
    sizes = shingle_counts(d)
    jac = F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))

    def verify(inter: DataFrame) -> DataFrame:
        # sizes broadcast explicitly: inside a chunk job the big side is
        # the pair stream — re-shuffling it against a doc-count dim would
        # recreate the very spill the chunking bounds
        sa = F.broadcast(sizes).alias("sa")
        sb = F.broadcast(sizes).alias("sb")
        return (
            inter.join(sa, F.col("da") == F.col("sa.doc_id"))
            .join(sb, F.col("db") == F.col("sb.doc_id"))
            .where(jac >= JACCARD_TAU)
            .select("da", "db", r4(jac).alias("jaccard"))
        )

    return _chunked_pair_run(spark, sf_dir, d, verify, "chunkpairs_jaccard")


@query("dedup_near", tags=("approx",))
def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection — the 100 TB path.

    Seeded, fully deterministic (no ml.feature.MinHashLSH randomness):
    sig_i(doc) = min over shingles of (xxhash64(i, shingle) mod 2^31-1),
    i < 32. Docs collide if any of 16 two-row bands match; candidates are
    then verified with EXACT Jaccard, so output precision is 1.0 and only
    recall is probabilistic (≥99% at jaccard 0.5, ≥1-1e-7 at 0.9).
    Candidate generation is a groupBy on band keys — never all-pairs.
    Rows-only gate (approximate recall); tests assert pair-set equality
    with dedup_ngram_jaccard on the fixture."""
    d = load(spark, sf_dir, "documents")
    sh = shingle_rows(d)

    # NO localCheckpoint here, deliberately (r10 measured 7.5 s vs 4.5 s
    # WITH one): the band self-join's two sides share the same sigs
    # aggregation subtree and Spark's ReuseExchange serves both from ONE
    # physical exchange, so the expensive pass already runs once — while
    # a checkpoint replaces the well-estimated relation with a LogicalRDD
    # whose default size statistics degrade the downstream join planning.
    # (Contrast sim_ann_lsh, where the reused subtree is a projection
    # with no exchange to share — there the checkpoint wins 2×.)
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.xxhash64(F.lit(i), F.col("shingle")), F.lit(_MERSENNE))).alias(
                f"s{i}"
            )
            for i in range(MINHASH_K)
        ]
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_", *[F.col(f"s{b * LSH_R + r}") for r in range(LSH_R)]
                    )
                    for b in range(LSH_B)
                ]
            )
        ).alias("band", "key"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db"))
        .distinct()
    )

    # exact-Jaccard verification of candidates only.
    # The relation is DERIVED TWICE in the plan (once per join side) —
    # deliberately (r11 A/B, VERDICT r10 "next" #6): materializing it once
    # with localCheckpoint(eager) + broadcast hints measured 2.35 s vs
    # 1.69 s for this shape at sf0.1 — the checkpoint pass costs more than
    # the second 1-task derivation of a dimension-sized relation saves,
    # the same trade measured for the bands side in r10. Both sides
    # broadcast either way, so no shuffle is duplicated.
    sets = tokenized(d, "doc_id").select(
        "doc_id", F.array_distinct(shingles(F.col("w"))).alias("sset")
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.sset"), F.col("sb.sset")))
    union = F.size(F.col("sa.sset")) + F.size(F.col("sb.sset")) - inter
    jac = inter * 1.0 / union
    return (
        cand.join(sa, F.col("da") == F.col("sa.doc_id"))
        .join(sb, F.col("db") == F.col("sb.doc_id"))
        .where(jac >= JACCARD_TAU)
        .select("da", "db", r4(jac).alias("jaccard"))
    )


# SimHash bit family: bit j of a word's 64-bit hash is bit (j mod 4) of the
# (j div 4)-th hex digit of MD5(word). MD5 is bit-identical in Spark and
# DuckDB, which makes the whole SimHash exactly SQL-expressible — the reason
# this query is oracle-gated rather than rows-only. (Production would swap
# the family to xxhash64 for scan speed; SimHash semantics are invariant to
# which deterministic 64-bit family indexes the bits.)
def _simhash_oracle() -> str:
    bcols = ",\n    ".join(
        f"((STRPOS('0123456789abcdef', SUBSTRING(h, {j // 4 + 1}, 1)) - 1) "
        f">> {j % 4}) & 1 AS b{j}"
        for j in range(64)
    )
    scols = ",\n    ".join(f"SUM(b{j}) AS s{j}" for j in range(64))
    bits = " || ".join(f"(CASE WHEN 2*s{j} > n THEN '1' ELSE '0' END)" for j in range(64))
    chunks = ",\n   ".join(
        "CAST(("
        + " + ".join(
            f"(CASE WHEN 2*s{c0 + i} > n THEN 1 ELSE 0 END) * {1 << (15 - i)}"
            for i in range(16)
        )
        + f") AS BIGINT) AS chunk{c0 // 16}"
        for c0 in (0, 16, 32, 48)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, MD5(word) AS h
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents)
    ),
    b AS (SELECT doc_id, {bcols} FROM w),
    s AS (SELECT doc_id, COUNT(*) AS n, {scols} FROM b GROUP BY doc_id)
    SELECT doc_id, {bits} AS simhash_bits,
   {chunks}
    FROM s
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (deterministic, MD5-derived bit family —
    see _simhash_oracle): bit_j = sign(Σ_words ±1 by hash bit j), i.e.
    bit_j = 1 iff 2·S_j > N where S_j counts words whose hash bit j is set.
    Near-dups differ in few bits; at scale, candidate pairs come from
    exact-matching one of four 16-bit chunks (pigeonhole for hamming ≤ 3) —
    chunks are emitted here as join keys.

    Plan: explode → 64 narrow integer partial sums in ONE hash aggregate
    (map-side combine; shuffle carries 64 ints per doc, not word lists) —
    strictly leaner than collecting per-word contribution arrays. Exactly
    SQL-expressible, so the oracle gate is the full rows+schema+hash check."""
    d = load(spark, sf_dir, "documents")
    # r10, two stacked wins with byte-identical output (oracle-gated):
    # 1. two conv(8-hex-digit)→long parses instead of 16 per-digit convs —
    #    conv + substring are the per-word string tax, long shifts are
    #    codegen arithmetic. An 8-hex slice parses to the big-endian
    #    32-bit value, so bit j = (digit[j div 4] >> (j mod 4)) & 1
    #    becomes one shiftright on a half: shift 4·(7 - (j div 4) mod 8)
    #    + j mod 4. The halves are their own projection stage so each
    #    parses once per word (CollapseProject keeps non-cheap multiply-
    #    referenced aliases staged — the tokenize-once discipline).
    # 2. every 64-wide column family is built as one-parse SQL text
    #    instead of per-Column operator chains (~800 driver⇄JVM round
    #    trips ≈ 2.1 s of measured construction on this box; the parsed
    #    trees are identical).
    per_word = d.select("doc_id", F.explode(words()).alias("word")).selectExpr(
        "doc_id",
        "CAST(CONV(SUBSTRING(md5(word), 1, 8), 16, 10) AS BIGINT) AS h0",
        "CAST(CONV(SUBSTRING(md5(word), 9, 8), 16, 10) AS BIGINT) AS h1",
    )
    wbits = [
        f"CAST((SHIFTRIGHT(h{(j // 4) // 8}, {4 * (7 - (j // 4) % 8) + (j % 4)})"
        f" & 1) AS INT) AS b{j}"
        for j in range(64)
    ]
    s = per_word.selectExpr("doc_id", *wbits).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.expr(f"SUM(b{j})").alias(f"s{j}") for j in range(64)],
    )
    out_bit = [f"(CASE WHEN 2 * s{j} > n THEN 1 ELSE 0 END)" for j in range(64)]
    bits_concat = ", ".join(f"CAST({b} AS STRING)" for b in out_bit)
    chunk = lambda c0: "CAST(0 + " + " + ".join(  # noqa: E731
        f"{out_bit[c0 + i]} * {1 << (15 - i)}" for i in range(16)
    ) + " AS BIGINT)"
    return s.selectExpr(
        "doc_id",
        f"CONCAT({bits_concat}) AS simhash_bits",
        f"{chunk(0)} AS chunk0",
        f"{chunk(16)} AS chunk1",
        f"{chunk(32)} AS chunk2",
        f"{chunk(48)} AS chunk3",
    )


def min_label_components(
    pairs: DataFrame, a: str, b: str, max_rounds: int = 50
) -> DataFrame:
    """Connected components of the undirected graph whose edges are the
    rows (a, b) of ``pairs``, in either direction: iterative min-label
    propagation with pointer doubling. Returns (id, lab), every node of
    a pair labelled with the min id of its component.

    Each round every node takes the min label among itself and its
    neighbors, then jumps to its label's own label, so chains collapse
    in O(log diameter) rounds; a round is one shuffle on the edge list
    plus one label-sized self-join (GraphFrames'/large-star CC shape).
    Round one reads its labels, least(id, min(neighbor)), off the edges.
    The edges are symmetrized by one explode (the pair plan runs once)
    and held by a lazy localCheckpoint, not persist(): a persisted plan
    keeps its uncoalesced shuffle partitioning and leaves a cache entry
    behind after the call.

    Labels never increase, so the exact DECIMAL(38,0) label sum (no
    overflow at any node count) is strictly smaller after any change
    and equal iff the round was a no-op; round one compares it with the
    id sum from the same action. With doubling, 50 rounds cover any
    diameter (2^50 hops), so the cap's raise is a logic-error tripwire,
    not an expected path."""
    both = F.explode(
        F.array(
            F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
            F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
        )
    )
    edges = (
        pairs.select(both.alias("e")).select("e.src", "e.dst")
        .localCheckpoint(eager=False)
    )
    lab = edges.groupBy("src").agg(F.min("dst").alias("m")).select(
        F.col("src").alias("id"), F.least("src", "m").alias("lab")
    )
    for i in range(max_rounds):
        if i:
            msgs = edges.join(lab, F.col("src") == F.col("id")).select(
                F.col("dst").alias("id"), F.col("lab")
            )
            lab = (
                lab.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("lab").alias("lab"))
            )
        # pointer doubling: relabel through the label's own label (a
        # label is always a node id present in `lab`, and labels only
        # decrease, so the jump is monotone and safe)
        parent = lab.select(F.col("id").alias("lab"), F.col("lab").alias("plab"))
        # lazy localCheckpoint + the sum action: the aggregate job below
        # computes the round AND truncates its lineage in the same pass
        # (without it the logical plan and optimizer time grow linearly
        # per iteration). On a cluster, pair with a reliable checkpoint
        # dir if executor loss during the (short) CC loop must be
        # survivable.
        lab = (
            lab.join(parent, "lab", "left")
            .select("id", F.coalesce("plab", "lab").alias("lab"))
            .localCheckpoint(eager=False)
        )
        id_sum, cur_sum = lab.agg(
            *(F.sum(F.col(c).cast("decimal(38,0)")) for c in ("id", "lab"))
        ).collect()[0]
        if cur_sum == (prev_sum if i else id_sum):
            return lab
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected components did not converge in {max_rounds} rounds — "
        "with pointer doubling this indicates a logic error, not a long "
        "chain; refusing to return a partial clustering"
    )


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT da AS a, db AS b FROM pairs
      UNION
      SELECT db AS a, da AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lab AS (
      SELECT a AS doc_id, LEAST(MIN(b), a) AS cluster_id FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           (COALESCE(l.cluster_id, d.doc_id) = d.doc_id) AS is_canonical
    FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the exact near-dup
    pair graph, cluster id = min doc_id in the component, one canonical
    doc per cluster — the operator that actually deduplicates a corpus
    (near-dup pairs alone don't say who survives when A~B~C but A≁C).

    Spark side is `min_label_components` on the pair list: iterative
    min-label propagation, O(log diameter) rounds (near-dup components
    are shallow — pairs or small chains), one edge-list shuffle per
    round and no separate seed action; state is (node, label) — at
    100 TB scale this is exactly GraphFrames'/large-star CC shape. The
    DuckDB oracle computes the same components via a recursive-CTE
    transitive closure (safe at oracle scale only)."""
    lab = min_label_components(dedup_ngram_jaccard(spark, sf_dir), "da", "db")
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id")
        .join(lab, d.doc_id == lab.id, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lab"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("cluster_id") == F.col("doc_id"))
    )


CHUNK_WORDS = 8


@query(
    "dedup_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    e AS (
      SELECT doc_id, UNNEST(LIST_TRANSFORM(
               GENERATE_SERIES(0, CAST(CEIL(LEN(w) / {CHUNK_WORDS}.0) AS INT) - 1),
               i -> STRUCT_PACK(
                 idx := i,
                 h := MD5(ARRAY_TO_STRING(
                        LIST_SLICE(w, i * {CHUNK_WORDS} + 1,
                                      i * {CHUNK_WORDS} + {CHUNK_WORDS}), ' '))))) AS s
      FROM t
    ),
    c AS (SELECT doc_id, CAST(s.idx AS INT) AS chunk_idx, s.h AS chunk_hash FROM e),
    d AS (SELECT chunk_hash FROM c GROUP BY chunk_hash
          HAVING COUNT(DISTINCT doc_id) >= 2)
    SELECT c.doc_id, c.chunk_idx, c.chunk_hash
    FROM c JOIN d USING (chunk_hash)
    """,
)
def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup: split each document into fixed CHUNK_WORDS-word
    chunks, hash them, and emit every chunk whose hash appears in ≥2
    distinct documents — the removal list for boilerplate/near-dup spans
    that document-level dedup misses. Chunking is array expressions in
    codegen; the only shuffles are the hash groupBy and the semi-join
    back, both on the chunk hash (uniformly distributed — no skew). At
    100 TB the duplicated-hash side is a tiny fraction of chunks, so the
    final join broadcasts."""
    d = load(spark, sf_dir, "documents")
    w = F.col("w")
    n_chunks = F.ceil(F.size(w) / float(CHUNK_WORDS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(w, i * CHUNK_WORDS + 1, CHUNK_WORDS))
        ),
    )
    # attribute-bound w: the lambda re-slices an array lookup, not a fresh
    # split(text) per chunk (shingles() perf contract, text.py)
    c = tokenized(d, "doc_id").select(
        "doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_hash")
    )
    dup = (
        c.groupBy("chunk_hash")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("chunk_hash")
    )
    return c.join(dup, "chunk_hash").select("doc_id", "chunk_idx", "chunk_hash")


_SWEEP_TAUS = ("0.2", "0.3", "0.5", "0.7")


@query(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, UNNEST({SQL_SHINGLES}) AS shingle FROM w),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    j AS (SELECT i * 1.0 / (sa.n + sb.n - i) AS jac
          FROM inter
          JOIN sizes sa ON da = sa.doc_id
          JOIN sizes sb ON db = sb.doc_id)
    SELECT {', '.join(f"CAST(SUM(CASE WHEN jac >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS n_t{t.replace('.', '')}" for t in _SWEEP_TAUS)}
    FROM j
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold calibration: candidate-pair counts at several
    Jaccard cutoffs from ONE pass over the exact pair similarities — the
    query you run on a corpus sample before committing a τ to a 100 TB
    MinHash dedup (each τ step changes removal volume non-linearly).
    Costs exactly one inverted-index self-join regardless of how many
    thresholds are swept; the comparison uses the raw IEEE ratio, which
    is bit-identical in both engines, so counts cannot straddle a tie.
    The self-join input carries the SHINGLE_DF_CAP stop-shingle guard."""
    d = load(spark, sf_dir, "documents")
    sizes = shingle_counts(d)
    cols = [f"n_t{t.replace('.', '')}" for t in _SWEEP_TAUS]

    def verify(inter: DataFrame) -> DataFrame:
        # per-chunk PARTIAL counts (counts are associative, so chunked
        # partials re-sum exactly); one row per chunk
        j = (
            inter.join(F.broadcast(sizes).alias("sa"), F.col("da") == F.col("sa.doc_id"))
            .join(F.broadcast(sizes).alias("sb"), F.col("db") == F.col("sb.doc_id"))
            .select(
                (
                    F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
                ).alias("jac")
            )
        )
        return j.agg(
            *[
                F.sum(F.when(F.col("jac") >= float(t), 1).otherwise(0)).alias(c)
                for t, c in zip(_SWEEP_TAUS, cols)
            ]
        )

    partials = _chunked_pair_run(spark, sf_dir, d, verify, "chunkpairs_sweep")
    return partials.agg(*[F.sum(c).alias(c) for c in cols])


CONTAINMENT_TAU = 0.5


@query(
    "dedup_containment",
    oracle=f"""
    WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id, UNNEST({SQL_SHINGLES}) AS shingle FROM w),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
              GROUP BY 1, 2)
    SELECT da, db, {sql_r4('i * 1.0 / sa.n')} AS containment
    FROM inter
    JOIN sizes sa ON da = sa.doc_id
    WHERE i * 1.0 / sa.n >= {CONTAINMENT_TAU}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED near-dup pairs: shingle containment C(A→B) = |A∩B|/|A|,
    the asymmetric cousin of Jaccard that catches doc-inside-doc cases
    (quotes, boilerplate wrappers, truncated re-crawls) where the
    symmetric score dilutes below τ as the containing doc grows. Same
    grouped-posting-list inverted index as dedup_ngram_jaccard — only
    docs sharing ≥1 shingle pair up, never all-pairs — but emitting BOTH
    directions per unordered pair (|A∩B| is symmetric; only the
    denominator differs), since C(A→B) ≠ C(B→A). The SHINGLE_DF_CAP
    stop-shingle guard bounds the hottest posting list; dropping
    ubiquitous shingles costs candidates, not correctness, because they
    carry no dedup signal."""
    d = load(spark, sf_dir, "documents")
    sizes = shingle_counts(d)
    cont = F.col("i") * 1.0 / F.col("sa.n")

    def verify(ordered: DataFrame) -> DataFrame:
        # both directions emitted INSIDE the chunk (|A∩B| is symmetric
        # and each unordered pair lives in exactly one chunk, so the
        # directed expansion is chunk-local)
        inter = ordered.unionByName(
            ordered.select(
                F.col("db").alias("da"), F.col("da").alias("db"), F.col("i")
            )
        )
        return (
            inter.join(F.broadcast(sizes).alias("sa"), F.col("da") == F.col("sa.doc_id"))
            .where(cont >= CONTAINMENT_TAU)
            .select("da", "db", r4(cont).alias("containment"))
        )

    return _chunked_pair_run(spark, sf_dir, d, verify, "chunkpairs_containment")


# dedup_keep_best survivor key: fixed-width decimal strings compare exactly
# like the lexicographic tuple (n_chars DESC-last, doc_id ASC) under MAX_BY
# in BOTH engines (DuckDB's max_by takes no struct keys, and an integer
# composite like n_chars*K - doc_id silently inverts the tiebreak once
# doc_id >= K). Valid for doc_id <= 1e18 and n_chars < 1e19 — the full
# realistic range of both fields.
_KEEP_BEST_KEY = (
    "LPAD(CAST(n_chars AS {t}), 19, '0') || "
    "LPAD(CAST(1000000000000000000 - doc_id AS {t}), 19, '0')"
)


@query(
    "dedup_keep_best",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, MD5(text) AS digest, n_chars
      FROM documents
    )
    SELECT digest,
           CAST(COUNT(*) AS INT) AS n_copies,
           CAST(MAX_BY(doc_id, {_KEEP_BEST_KEY.format(t='VARCHAR')}) AS BIGINT)
             AS keeper_doc_id
    FROM scored GROUP BY digest
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup with a QUALITY-based survivor policy: within each exact-hash
    group the keeper is the highest-quality copy (longest text, lowest
    doc_id tiebreak) — 'keep best', not 'keep first'. In a real corpus
    duplicates differ in truncation/encoding damage, so survivor choice
    is a quality decision; the policy is one max_by over a fixed-width
    string sort key (see _KEEP_BEST_KEY — exact lexicographic tuple
    semantics, no integer-overflow inversion), evaluated map-side inside
    the same single-shuffle hash-group as dedup_exact (swap in any
    score — text_quality's composite — without changing the plan shape)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5("text").alias("digest"), "n_chars")
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_copies"),
            F.expr(f"max_by(doc_id, {_KEEP_BEST_KEY.format(t='string')})")
            .cast("bigint")
            .alias("keeper_doc_id"),
        )
    )


INCR_MOD = 10  # doc_id % INCR_MOD == INCR_REM simulates the incoming batch
INCR_REM = 7


@query(
    "dedup_incremental",
    oracle=f"""
    WITH batch AS (
      SELECT doc_id, MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:4], ' ')) AS fp
      FROM documents WHERE doc_id % {INCR_MOD} = {INCR_REM}
    ),
    corpus AS (
      SELECT MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:4], ' ')) AS fp,
             MIN(doc_id) AS dup_of
      FROM documents WHERE doc_id % {INCR_MOD} <> {INCR_REM}
      GROUP BY fp
    )
    SELECT b.doc_id, c.dup_of, (c.dup_of IS NULL) AS is_new
    FROM batch b LEFT JOIN corpus c USING (fp)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the shape a continuously-crawled corpus
    actually runs: an incoming batch (simulated as doc_id % 10 == 7) is
    checked against the EXISTING corpus only, never against itself and
    never all-at-once re-clustered. Each incoming doc gets the earliest
    existing duplicate (by first-4-words fingerprint, the dedup_fingerprint
    key) or is_new=true.

    Scale: the corpus side reduces to (fingerprint, min doc_id) — one
    hash-groupBy producing a table with one row per DISTINCT fingerprint,
    joined to the batch on the hash key. Batch ≪ corpus, so the join
    broadcasts the batch in practice (AQE decides here); the corpus scan
    itself is the only full pass, and in production that side is a
    maintained fingerprint index, not a rescan."""
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(words(), 1, 4))).alias("fp")
    incoming = F.col("doc_id") % INCR_MOD == INCR_REM
    batch = d.where(incoming).select("doc_id", fp)
    corpus = (
        d.where(~incoming)
        .select("doc_id", fp)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("dup_of"))
    )
    return (
        batch.join(corpus, "fp", "left")
        .select("doc_id", "dup_of", F.col("dup_of").isNull().alias("is_new"))
    )


SPAN_W = 8  # words per dedup span; production tunes 50-100 (Lee et al. use 50 tokens)

_SPANS_RANKED_SQL = f"""
    w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    tok AS (SELECT doc_id, UNNEST(ws) AS word,
                   GENERATE_SUBSCRIPTS(ws, 1) - 1 AS pos
            FROM w),
    spans AS (
      SELECT doc_id, CAST(FLOOR(pos / {SPAN_W}) AS INT) AS chunk_idx,
             STRING_AGG(word, ' ' ORDER BY pos) AS span
      FROM tok GROUP BY doc_id, CAST(FLOOR(pos / {SPAN_W}) AS INT)
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY MD5(span)
                                   ORDER BY doc_id, chunk_idx) AS rn
      FROM spans
    )
"""


@query(
    "dedup_spans",
    oracle=f"""
    WITH {_SPANS_RANKED_SQL}
    SELECT doc_id,
           COUNT(*) AS n_spans,
           COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
           STRING_AGG(span, ' ' ORDER BY chunk_idx) FILTER (WHERE rn = 1)
             AS text_kept
    FROM ranked GROUP BY doc_id
    """,
)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN removal — the corpus-level substring dedup a
    training pipeline runs after document dedup (the practical Spark shape
    of suffix-array exact-substring dedup: fixed SPAN_W-word chunks, first
    global occurrence kept, later occurrences cut from their documents;
    boilerplate shared across near-dup docs disappears even when whole-doc
    dedup keeps both docs).

    Plan: span construction is entirely array-side (sequence+slice on the
    split words — no explode shuffle to build spans); the global
    first-occurrence choice is a groupBy(md5(span)).min(struct(doc_id,
    chunk_idx)) — map-side combine makes a boilerplate span that occurs
    10^6 times cost one partial per task, NOT a 10^6-row window sort on
    one reducer (the skew trap a PARTITION BY hash ROW_NUMBER would hit) —
    and keeper flags return via an equi-join on the hash, linear in
    occurrences. Reconstruction is one groupBy(doc_id) re-assembling kept
    spans in chunk order. Total: three well-keyed shuffles, no broadcast
    of anything corpus-sized.

    Determinism: the keeper is the (doc_id, chunk_idx)-least occurrence —
    a total order, so both engines pick the identical survivor set."""
    return span_dedup(load(spark, sf_dir, "documents"), SPAN_W)


def span_dedup(d: DataFrame, span_w: int) -> DataFrame:
    """Span-dedup kernel over any (doc_id, text) frame — factored out so
    property tests can drive it with generated corpora (hypothesis model
    check in tests/test_properties.py) and pipelines can compose it."""
    ws = F.col("w")
    nspans = F.ceil(F.size(ws) / span_w).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), nspans - 1),
        lambda i: F.concat_ws(" ", F.slice(ws, i * span_w + 1, span_w)),
    )
    # attribute-bound w (shingles() perf contract, text.py)
    sp = tokenized(d, "doc_id").select(
        "doc_id", F.posexplode(spans_arr).alias("chunk_idx", "span")
    ).withColumn("h", F.md5("span"))
    keep = sp.groupBy("h").agg(F.min(F.struct("doc_id", "chunk_idx")).alias("k"))
    marked = sp.join(keep, "h").withColumn(
        "kept",
        (F.col("doc_id") == F.col("k.doc_id")) & (F.col("chunk_idx") == F.col("k.chunk_idx")),
    )
    kept_spans = F.array_sort(
        F.collect_list(F.when(F.col("kept"), F.struct("chunk_idx", "span")))
    )
    n_kept = F.count(F.when(F.col("kept"), F.lit(1)))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            n_kept.alias("n_kept"),
            F.concat_ws(
                " ", F.transform(kept_spans, lambda s: s["span"])
            ).alias("_txt"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.col("_txt")).alias("text_kept"),
        )
    )


@query(
    "corpus_dedup_stages",
    oracle=f"""
    WITH s1 AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5(text)
    ),
    s2 AS (
      SELECT MIN(d.doc_id) AS doc_id
      FROM documents d JOIN s1 USING (doc_id)
      GROUP BY MD5(ARRAY_TO_STRING(STRING_SPLIT(d.text, ' ')[1:4], ' '))
    ),
    w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w
          FROM documents JOIN s2 USING (doc_id)),
    sh AS (SELECT DISTINCT doc_id, UNNEST({SQL_SHINGLES}) AS shingle FROM w),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    dead AS (
      SELECT DISTINCT db AS doc_id FROM inter
      JOIN sizes sa ON da = sa.doc_id
      JOIN sizes sb ON db = sb.doc_id
      WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_TAU}
    ),
    s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM dead))
    SELECT * FROM (
      SELECT 0 AS stage, 'raw' AS name, COUNT(*) AS n_docs FROM documents
      UNION ALL SELECT 1, 'exact', COUNT(*) FROM s1
      UNION ALL SELECT 2, 'fingerprint', COUNT(*) FROM s2
      UNION ALL SELECT 3, 'near_jaccard', COUNT(*) FROM s3
    )
    """,
)
def corpus_dedup_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup FUNNEL report a corpus pipeline publishes: documents
    surviving each successive stage — raw → exact full-text dedup →
    first-4-words fingerprint dedup → near-dup removal (a doc is removed
    when it Jaccard-matches a lower-id survivor at τ). Stages compose:
    each runs only on the previous stage's survivors, exactly as the
    production pipeline chains them cheapest-first so the expensive
    near-dup stage sees the smallest corpus.

    Scale: stages 1-2 are hash-groupBys; stage 3 reuses the capped
    inverted-index kernel (_shingle_posting_list) on the shrunken survivor
    set; the four counts are scalar aggregates unioned driver-free. The
    greedy lower-id-wins removal is deterministic (no cluster iteration
    needed for a count report)."""
    d = load(spark, sf_dir, "documents")
    n_raw = d.select(F.lit(0).alias("stage"), F.lit("raw").alias("name"), F.count(F.lit(1)).alias("n_docs"))

    s1 = d.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    d1 = d.join(s1, "doc_id", "left_semi")
    n_exact = d1.select(F.lit(1).alias("stage"), F.lit("exact").alias("name"), F.count(F.lit(1)).alias("n_docs"))

    fp = F.md5(F.concat_ws(" ", F.slice(words(), 1, 4)))
    s2 = d1.groupBy(fp).agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    d2 = d.join(s2, "doc_id", "left_semi")
    n_fp = d2.select(F.lit(2).alias("stage"), F.lit("fingerprint").alias("name"), F.count(F.lit(1)).alias("n_docs"))

    sizes = shingle_counts(d2)
    jac = F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))

    def verify(inter: DataFrame) -> DataFrame:
        # chunk-local distinct removal set; a doc_id can fall out of
        # several chunks (pairs keyed by different da), so the consumer
        # re-distincts after the union
        return (
            inter.join(F.broadcast(sizes).alias("sa"), F.col("da") == F.col("sa.doc_id"))
            .join(F.broadcast(sizes).alias("sb"), F.col("db") == F.col("sb.doc_id"))
            .where(jac >= JACCARD_TAU)
            .select(F.col("db").alias("doc_id"))
            .distinct()
        )

    dead = _chunked_pair_run(
        spark, sf_dir, d2, verify, "chunkpairs_stages"
    ).distinct()
    s3 = s2.join(dead, "doc_id", "left_anti")
    n_near = s3.select(F.lit(3).alias("stage"), F.lit("near_jaccard").alias("name"), F.count(F.lit(1)).alias("n_docs"))

    return n_raw.unionByName(n_exact).unionByName(n_fp).unionByName(n_near)


def _simhash_pairs_oracle() -> str:
    base = _simhash_oracle()
    joins = " OR ".join(f"a.chunk{i} = b.chunk{i}" for i in range(4))
    ham = " + ".join(f"BIT_COUNT(XOR(a.chunk{i}, b.chunk{i}))" for i in range(4))
    return f"""
    WITH sh AS ({base})
    SELECT a.doc_id AS da, b.doc_id AS db, CAST(({ham}) AS INT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND ({joins})
    """


@query("dedup_simhash_pairs", oracle=_simhash_pairs_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate PAIRS — the second half of the SimHash pipeline:
    documents colliding on ANY of the four 16-bit chunks (the pigeonhole
    guarantee: hamming ≤ 3 implies at least one chunk matches) paired up
    with their exact hamming distance, computed as Σ bit_count(xor) over
    the chunk ints in BOTH engines — exactly SQL-expressible, so the
    whole hash→band→candidate→distance chain is oracle-gated.

    Plan: four chunk equi-joins UNIONed then distinct — the banding
    shape; never an all-pairs comparison (a random chunk collides at
    2^-16, so candidates ≈ 4·N²/2^16 ≪ N²). At corpus scale each band
    join shuffles on its chunk value; a hot chunk (boilerplate) is a
    salting case like any hot key."""
    h = dedup_simhash(spark, sf_dir).select("doc_id", "chunk0", "chunk1", "chunk2", "chunk3")
    h = h.localCheckpoint()  # 4 self-joins: compute the hashes once
    ham = sum(
        (
            F.bit_count(F.col(f"a{j}").bitwiseXOR(F.col(f"b{j}")))
            for j in range(4)
        ),
        F.lit(0),
    )

    def band_pairs(n_chunks: int = 1, chunk: int = 0) -> DataFrame:
        cand = None
        for i in range(4):
            a = h.select(
                F.col("doc_id").alias("da"),
                *[F.col(f"chunk{j}").alias(f"a{j}") for j in range(4)],
            )
            if n_chunks > 1:
                # chunk gate on the A SIDE, BEFORE the join: the pair
                # order constraint da < db means every unordered pair is
                # emitted with da = its min doc, so filtering a to
                # pmod(hash(da)) == chunk partitions the pair space
                # exactly — each chunk probes only its own candidates
                # (total join output across chunks = the single-pass
                # volume) and the distinct's shuffle is 1/n_chunks. It
                # is that candidate distinct that explodes on a
                # boilerplate-dense corpus (the declared r9 sf10 failure).
                a = a.where(F.pmod(F.hash(F.col("da")), n_chunks) == chunk)
            b = h.select(
                F.col("doc_id").alias("db"),
                *[F.col(f"chunk{j}").alias(f"b{j}") for j in range(4)],
            )
            p = a.join(
                b, (F.col(f"a{i}") == F.col(f"b{i}")) & (F.col("da") < F.col("db"))
            )
            cand = p if cand is None else cand.unionByName(p)
        return cand.select("da", "db", ham.cast("int").alias("hamming")).distinct()

    # candidate estimate: Σ over the four band columns of Σ_v n_v·(n_v-1)/2
    # (an upper bound — multi-band collisions double-count; four linear
    # groupBys on the checkpointed hash relation). Skipped below the same
    # footer doc-count gate as _chunked_pair_run — four collect jobs are
    # pure overhead at scales where chunking cannot engage.
    if parquet_row_count(sf_dir, "documents") <= _pair_est_skip_docs():
        return band_pairs()
    est = 0
    for i in range(4):
        row = (
            h.groupBy(f"chunk{i}")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(
                F.sum(
                    (F.col("n").cast("long") * (F.col("n") - 1) / 2).cast("long")
                ).alias("p")
            )
            .collect()[0]
        )
        est += int(row["p"] or 0)
    n_chunks = max(1, math.ceil(est / max(1, _pair_chunk_target())))
    if n_chunks == 1:
        return band_pairs()
    root = scratch_path(sf_dir, "chunkpairs_simhash")
    shutil.rmtree(root, ignore_errors=True)
    for c in range(n_chunks):
        out = band_pairs(n_chunks=n_chunks, chunk=c)
        out.write.mode("overwrite").parquet(os.path.join(root, f"c{c}"))
        del out
        _drain_shuffle_files(spark)
    return spark.read.parquet(os.path.join(root, "c*"))
