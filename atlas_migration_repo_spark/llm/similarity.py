"""Vector similarity operators (SURVEY.md §2.10): norms, top-k cosine
search, k-NN join, embedding near-dup pairs, and a hyperplane-LSH ANN
variant (the 100 TB path).

Determinism: dot products are sequential left-to-right double accumulation
in BOTH engines (Spark aggregate-lambda ≡ DuckDB list_aggregate over
list_zip), so cosines are bit-identical — no epsilon games.

Scale notes:
- brute-force top-k: crossJoin(broadcast(queries)) — linear in corpus,
  constant per-executor memory; the right baseline when queries ≪ corpus.
- knn_join / near-dup pairs: O(N²) pairs at fixture scale; at 100 TB swap
  in the LSH bucketing below (prune-then-verify: only bucket-mates are
  scored — the reference-point/LSH idea from the distributed similarity
  literature in PAPERS.md, reimplemented from scratch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import load, msum, parquet_row_count, r4
from atlas_migration_repo_spark.oracle import sql_msum, sql_r4
from atlas_migration_repo_spark.registry import query

COSINE_TAU = 0.45  # calibrated: 7/14/144 planted-ish pairs across sf
TOPK = 5
N_QUERIES = 10


EMBED_DIM = 64  # fixture embedding dimension (FIXTURES.md)


def _quote_ident(name: str) -> str:
    """Backtick-quote a column name for SQL-text composition (ADVICE r10:
    an unquoted name containing dots/spaces/reserved words would mis-parse
    or resolve to a nested field). Embedded backticks double per Spark's
    quoting rule; already-quoted names pass through."""
    if name.startswith("`") and name.endswith("`"):
        return name
    return "`" + name.replace("`", "``") + "`"


def spark_dot_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """The Spark-SQL text of ``dot`` for composition into one-parse
    F.expr expressions (r10: each Column operator is a driver⇄JVM round
    trip, so the 64-term chain cost ~384 round trips PER dot at query
    CONSTRUCTION time — seconds of measured wall on the bench's timed
    path; one parsed string is a single round trip, and the parser yields
    the identical left-associated Add/Multiply/Cast tree, so execution
    and results are bit-for-bit unchanged). Names are backtick-quoted, so
    any column name a DataFrame can hold composes safely."""
    a, b = _quote_ident(a), _quote_ident(b)
    terms = " + ".join(
        f"CAST(element_at({a}, {i}) AS DOUBLE) * CAST(element_at({b}, {i}) AS DOUBLE)"
        for i in range(1, dim + 1)
    )
    return f"CAST(0.0 AS DOUBLE) + {terms}"


def dot(a: Column | str, b: Column | str, dim: int = EMBED_DIM) -> Column:
    """Σ aᵢ·bᵢ in double, sequential left-to-right.

    Unrolled into a flat add-chain instead of aggregate/zip_with lambdas:
    higher-order functions evaluate interpreted (~15× slower on the 4M-pair
    kNN), while this compiles into whole-stage codegen. The left-assoc
    chain keeps the exact summation order of DuckDB's list_aggregate, so
    cosines stay bit-identical. 0.0 seed matches list_aggregate's 'sum'
    over the transformed list at position parity.

    Pass column NAMES (str) where possible: that path parses the whole
    chain in ONE driver⇄JVM round trip (spark_dot_sql) instead of ~384 —
    same expression tree, same results, construction measured >100×
    faster. The Column path stays for callers holding derived columns."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(spark_dot_sql(a, b, dim))
    out: Column = F.lit(0.0)
    for i in range(1, dim + 1):
        out = out + F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
    return out


def dot_any_dim(a: Column, b: Column) -> Column:
    """Lambda-based dot for arbitrary-length arrays (same value/order as
    ``dot``; use when the dimension isn't statically known)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_dot(a: str, b: str) -> str:
    return (
        f"LIST_AGGREGATE(LIST_TRANSFORM(LIST_ZIP({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    )


def spark_cosine_sql(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """One-parse Spark-SQL cosine (same tree as ``cosine``)."""
    return (
        f"({spark_dot_sql(a, b, dim)}) / "
        f"(SQRT({spark_dot_sql(a, a, dim)}) * SQRT({spark_dot_sql(b, b, dim)}))"
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(spark_cosine_sql(a, b))
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / (SQRT({sql_dot(a, a)}) * SQRT({sql_dot(b, b)})))"


@query(
    "embed_norm",
    oracle=f"""
    SELECT vec_id,
           {sql_r4(f"SQRT({sql_dot('embedding', 'embedding')})")} AS l2_norm,
           {sql_r4(f"CAST(embedding[1] AS DOUBLE) / SQRT({sql_dot('embedding', 'embedding')})")} AS first_unit
    FROM embeddings
    """,
)
def embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm + first normalized coordinate per embedding."""
    em = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    l2 = F.sqrt(dot("embedding", "embedding"))
    return em.select(
        "vec_id",
        r4(l2).alias("l2_norm"),
        r4(F.element_at(e, 1).cast("double") / l2).alias("first_unit"),
    )


@query(
    "sim_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.q_id, e.vec_id, {sql_cosine('q.qe', 'e.embedding')} AS cos
      FROM q JOIN embeddings e ON e.vec_id != q.q_id
    )
    SELECT q_id, vec_id, {sql_r4('cos')} AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a query set: broadcast the queries,
    stream the corpus once, per-query heap via row_number≤k
    (WindowGroupLimit). Linear scan — THE scalable exact baseline."""
    em = load(spark, sf_dir, "embeddings")
    # single-file parquet = one input partition; spread the corpus so the
    # pair scoring runs on every core/executor
    em = em.repartition(spark.sparkContext.defaultParallelism)
    q = em.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.sqrt(dot("embedding", "embedding")).alias("qn"),
    )
    en = F.sqrt(dot("embedding", "embedding"))
    scored = (
        em.withColumn("en", en)
        .join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        # norms precomputed per side: 1 dot per pair instead of 3 (the
        # value is identical — same expression over the same arrays)
        .withColumn("cos", dot("qe", "embedding") / (F.col("qn") * F.col("en")))
        .select("q_id", "vec_id", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= TOPK)
        .select("q_id", "vec_id", r4(F.col("cos")).alias("cosine"))
    )


KNN_BLOCK = 1024  # rows per block: blocks stay ≪ executor memory at any N
# BLAS-vs-chain cosine disagreement is rounding-order noise (≤ a few ulps of
# 1.0 ≈ 1e-15); 1e-9 is a ~million-fold safety margin that still shortlists
# exactly one candidate except under genuine near-ties
_KNN_RERANK_EPS = 1e-9


@query(
    "sim_knn_join",
    tags=("bench",),
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS va, b.vec_id AS nn, a.label AS la, b.label AS lb,
             {sql_cosine('a.embedding', 'b.embedding')} AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
    )
    SELECT va AS vec_id, nn AS nn_id, {sql_r4('cos')} AS cosine,
           (la = lb) AS same_label
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY va ORDER BY cos DESC, nn) AS rn
          FROM scored)
    WHERE rn = 1
    """,
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN join: nearest neighbor for EVERY vector (self excluded), with a
    label-agreement flag (the classic embedding-quality probe).

    Block-nested-loop with BLAS: vectors are packed into ~KNN_BLOCK-row
    blocks, every block pair is scored in one numpy matmul inside
    mapInPandas (Arrow batches), each pair emits its block-local best per
    left vector, and a cheap global rank picks the winner. This is the
    exact-kNN scale shape — O(N²/B²) tasks of dense BLAS work, no N²-row
    Spark relation ever materialized; at 100 TB the same plan runs with
    bigger blocks and sim_ann_lsh prunes candidates first.

    Determinism: numpy float64 cosines SHORTLIST the candidates, but the
    winner is chosen by the exact sequential left-to-right Python-float
    chain — IEEE double chain, bit-identical to both the Spark `dot`
    chain and DuckDB's list_aggregate — so selection and the emitted
    cosine agree with the oracle's `ORDER BY cos DESC, nn` even when two
    candidates sit within a ulp of each other (the BLAS value rounds
    differently: it normalizes first, the chain divides once at the end).
    Every BLAS candidate within _KNN_RERANK_EPS of the block max gets the
    exact re-score (normally exactly one), and the global rank across
    block pairs also orders by the exact value. Block sizing reads N from
    the parquet footer (no count() job)."""
    import math

    import pandas as pd

    em = load(spark, sf_dir, "embeddings")
    n = parquet_row_count(sf_dir, "embeddings")
    nblocks = max(1, math.ceil(n / KNN_BLOCK))
    blocks = (
        em.select("vec_id", "embedding", "label", (F.col("vec_id") % nblocks).alias("bid"))
        .groupBy("bid")
        .agg(F.collect_list(F.struct("vec_id", "embedding", "label")).alias("items"))
    )
    pairs = (
        blocks.select(F.col("bid").alias("abid"), F.col("items").alias("a_items"))
        .crossJoin(blocks.select(F.col("bid").alias("bbid"), F.col("items").alias("b_items")))
        .repartition(min(nblocks * nblocks, spark.sparkContext.defaultParallelism))
    )

    def chain_cos(x, y, ny):
        # sequential left-assoc IEEE accumulation == Spark chain `dot` ==
        # DuckDB list_aggregate. np.cumsum (ufunc accumulate) is strictly
        # sequential left-associated over float64 — bit-identical to the
        # interpreted per-element loop it replaced (r10; pinned by
        # tests/test_properties.py::test_knn_cumsum_matches_python_chain)
        # at vectorized speed.
        import numpy as np

        s = float(np.cumsum(np.asarray(x) * np.asarray(y))[-1])
        nx = float(np.cumsum(np.asarray(x) * np.asarray(x))[-1])
        return s / (math.sqrt(nx) * ny)

    def best_per_block_pair(batches):
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in ("vec_id", "cand", "cos_exact", "same_label")}
            for a_items, b_items in zip(pdf["a_items"], pdf["b_items"]):
                aid = np.array([it["vec_id"] for it in a_items], dtype=np.int64)
                bid = np.array([it["vec_id"] for it in b_items], dtype=np.int64)
                # candidates sorted by vec_id: the smallest-id candidate
                # comes first among exact ties
                border = np.argsort(bid, kind="stable")
                bid = bid[border]
                A = np.asarray([it["embedding"] for it in a_items], dtype=np.float64)
                B = np.asarray([it["embedding"] for it in b_items], dtype=np.float64)[border]
                la = np.array([it["label"] for it in a_items])
                lb = np.array([it["label"] for it in b_items])[border]
                An = A / np.linalg.norm(A, axis=1, keepdims=True)
                Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
                S = An @ Bn.T
                S[aid[:, None] == bid[None, :]] = -np.inf  # exclude self
                # exact chain norms of candidates, computed once per block.
                # sqrt of the SEQUENTIAL sum-of-squares, matching DuckDB's
                # SQRT(list_aggregate(...)) bit-for-bit. (A previous
                # shortcut, sqrt(chain_cos(v, v, 1.0)), evaluated to
                # ‖v‖^0.5 — chain_cos(v,v,1) is s/√s = √s, so the outer
                # sqrt quartered the exponent. Invisible on unit-norm
                # fixtures (error ~1e-7·cos) until the sf1 replay caught
                # one cosine sitting 8e-10 under an r4 boundary; badly
                # wrong on any non-unit corpus.)
                # np.cumsum along axis=1 is the sequential left-assoc
                # accumulation per row — the last column IS the chain
                # sum-of-squares, bit-identical to the per-element loop
                # (see chain_cos note), one vectorized pass per block.
                bnorm = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
                jmax = S.argmax(1)
                smax = S[np.arange(len(aid)), jmax]
                # exact re-rank of every BLAS near-tie: the winner is
                # chosen by the chain value the oracle orders on, so a
                # ulp-level BLAS/chain disagreement can't flip it. The
                # tie test is one vectorized comparison; the fast path
                # (no tie — virtually every row) re-scores only the
                # argmax, so the re-rank costs nothing when it can't
                # change the answer.
                tied = (S >= (smax[:, None] - _KNN_RERANK_EPS)).sum(1) > 1
                for i in range(len(aid)):
                    if np.isinf(smax[i]):
                        continue  # block held only self
                    if tied[i]:
                        best = None
                        for ji in np.nonzero(S[i] >= smax[i] - _KNN_RERANK_EPS)[0]:
                            ce = chain_cos(A[i], B[ji], bnorm[ji])
                            key = (-ce, int(bid[ji]))
                            if best is None or key < best[0]:
                                best = (key, int(ji), ce)
                        _, ji, ce = best
                    else:
                        ji = int(jmax[i])
                        ce = chain_cos(A[i], B[ji], bnorm[ji])
                    out["vec_id"].append(int(aid[i]))
                    out["cand"].append(int(bid[ji]))
                    out["cos_exact"].append(ce)
                    out["same_label"].append(bool(la[i] == lb[ji]))
            yield pd.DataFrame(out)

    partials = pairs.mapInPandas(
        best_per_block_pair,
        schema="vec_id long, cand long, cos_exact double, same_label boolean",
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_exact").desc(), "cand")
    return (
        partials.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("cand").alias("nn_id"),
            r4(F.col("cos_exact")).alias("cosine"),
            "same_label",
        )
    )


# dedup_embed candidate generation: L bands × B-bit hyperplane signatures,
# plus 1-bit multiprobe on BOTH sides — a pair collides in a band whenever
# its band signatures differ in ≤2 bits (a's flip of bit i meets b's flip of
# bit j exactly when the signatures differ in {i,j}). Parameters measured on
# the fixtures: every τ=0.45 pair collides in ≥2 bands at sf0.001/0.01/0.1
# (recall 1.0 with margin), reproduced deterministically because the same
# float64 matmul computes the signatures every run.
DEDUP_LSH_BANDS = 16
DEDUP_LSH_BITS = 8
# LSH-vs-blocked-exact crossover, in expected vectors per (band, key)
# bucket. The LSH candidate join shuffles ~bands·occ rows per vector and
# then pays a distinct + re-join; the blocked kernel scores N²/2 cells at
# dense-BLAS cost (~64 fused flops each, no shuffled candidate relation).
# When occ passes this bound the bucket join materializes MORE rows than
# the block scan scores cells-for-free, so the exact blocked path is
# strictly cheaper — exactly the regime of this fixture's τ=0.45, which
# sits at the random-cosine noise floor where hyperplane bits can't
# separate pairs. At production near-dup thresholds (τ ≥ 0.8) B is sized
# so occ stays below the crossover at any N and the LSH path engages.
DEDUP_LSH_OCC_CROSSOVER = 32.0


def _dedup_embed_block_exact(spark: SparkSession, em: DataFrame, n: int) -> DataFrame:
    """Exact blocked all-pairs scan for dedup_embed's dense-candidate
    regime (see DEDUP_LSH_OCC_CROSSOVER): vectors pack into ~KNN_BLOCK-row
    bundles, every bundle pair (i ≤ j) is scored in one float64 BLAS
    matmul inside mapInPandas, and survivors of a τ−1e-9 prefilter are
    re-scored with the EXACT left-to-right chain cosine that alone decides
    τ and supplies the emitted value — the sim_knn_join kernel shape, so
    the output is bit-identical to the LSH path's verify (same chain, same
    r4). O(N²/B²) tasks of dense BLAS work; no N²-row relation is ever
    shuffled — the only shuffle is the B-row bundle build."""
    import math

    import pandas as pd

    nblocks = max(1, math.ceil(n / KNN_BLOCK))
    blocks = (
        em.select("vec_id", "embedding", (F.col("vec_id") % nblocks).alias("bid"))
        .groupBy("bid")
        .agg(F.collect_list(F.struct("vec_id", "embedding")).alias("items"))
    )
    pairs = (
        blocks.select(F.col("bid").alias("abid"), F.col("items").alias("a_items"))
        .crossJoin(
            blocks.select(F.col("bid").alias("bbid"), F.col("items").alias("b_items"))
        )
        .where(F.col("abid") <= F.col("bbid"))
        .repartition(
            min(
                max(1, nblocks * (nblocks + 1) // 2),
                spark.sparkContext.defaultParallelism,
            )
        )
    )

    def score(batches):
        import numpy as np

        def chain_cos(x, y):
            # sequential left-assoc IEEE accumulation == Spark chain dot ==
            # DuckDB list_aggregate; symmetric in (x, y) because each
            # per-term product commutes and the index order is shared
            s = nx = ny = 0.0
            for i in range(len(x)):
                xi, yi = float(x[i]), float(y[i])
                s += xi * yi
                nx += xi * xi
                ny += yi * yi
            return s / (math.sqrt(nx) * math.sqrt(ny))

        for pdf in batches:
            out = {"va": [], "vb": [], "cosine": []}
            for abid, bbid, a_items, b_items in zip(
                pdf["abid"], pdf["bbid"], pdf["a_items"], pdf["b_items"]
            ):
                aid = np.array([it["vec_id"] for it in a_items], dtype=np.int64)
                bid = np.array([it["vec_id"] for it in b_items], dtype=np.int64)
                A = np.asarray([it["embedding"] for it in a_items], dtype=np.float64)
                B = np.asarray([it["embedding"] for it in b_items], dtype=np.float64)
                S = (A / np.linalg.norm(A, axis=1, keepdims=True)) @ (
                    B / np.linalg.norm(B, axis=1, keepdims=True)
                ).T
                keep = S >= COSINE_TAU - 1e-9
                if abid == bbid:
                    # same bundle on both sides: S holds (i,j) AND (j,i);
                    # the strict id order takes each unordered pair once
                    keep &= aid[:, None] < bid[None, :]
                # across bundles each unordered pair arrives exactly once
                # (abid < bbid), in whichever id orientation bid = id %
                # nblocks produced — canonicalize on emit
                for i, j in zip(*np.nonzero(keep)):
                    c = chain_cos(A[i], B[j])
                    if c >= COSINE_TAU:
                        va, vb = int(aid[i]), int(bid[j])
                        if va > vb:
                            va, vb = vb, va
                        out["va"].append(va)
                        out["vb"].append(vb)
                        out["cosine"].append(c)
            yield pd.DataFrame(out)

    raw = pairs.mapInPandas(score, "va long, vb long, cosine double")
    return raw.select("va", "vb", r4(F.col("cosine")).alias("cosine"))


def _dedup_embed_hyperplanes():
    """±1 hyperplane matrix (L·B, dim), derived from md5 parity of the
    (band, bit, dim) coordinate — deterministic constants, no RNG state."""
    import hashlib

    import numpy as np

    rows = DEDUP_LSH_BANDS * DEDUP_LSH_BITS
    g = np.empty((rows, EMBED_DIM), dtype=np.float64)
    for band in range(DEDUP_LSH_BANDS):
        for bit in range(DEDUP_LSH_BITS):
            r = band * DEDUP_LSH_BITS + bit
            for i in range(EMBED_DIM):
                h = hashlib.md5(f"dedup_embed:{band}:{bit}:{i}".encode()).digest()
                g[r, i] = 1.0 if (h[0] & 1) else -1.0
    return g


@query(
    "dedup_embed",
    oracle=f"""
    SELECT a.vec_id AS va, b.vec_id AS vb,
           {sql_r4(sql_cosine('a.embedding', 'b.embedding'))} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {COSINE_TAU}
    """,
)
def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ τ), each pair emitted once —
    LSH-bucketed prune-then-verify, the same shape as dedup_near.

    Candidates come from an equi-join on (band, key): each vector gets
    DEDUP_LSH_BANDS signatures of DEDUP_LSH_BITS sign-of-projection bits
    (one vectorized float64 matmul per Arrow batch in mapInPandas), and
    emits the base key plus every single-bit flip per band (multiprobe), so
    band signatures within hamming distance 2 meet in a bucket. Candidate
    pairs are then verified with the EXACT chain-dot cosine — precision is
    1.0 by construction and only candidate recall is probabilistic; the
    parameters above give measured recall 1.0 on every fixture, asserted
    against a brute-force pair set in tests and by the exact SQL oracle.

    Scale: never all-pairs-as-a-relation, never a corpus broadcast — the
    strategy is ADAPTIVE on expected bucket occupancy (read from the
    parquet footer, no count job). Below DEDUP_LSH_OCC_CROSSOVER vectors
    per (band, key) bucket, candidates meet through a shuffle on
    (band, key) that shards horizontally and verification touches
    candidates only. Above it — the dense regime, which this fixture's
    τ=0.45 at the random-cosine noise floor enters at sf≥0.1 because
    hyperplane bits cannot separate noise-floor pairs — the same exact
    answer comes from the sim_knn_join blocked-BLAS kernel, whose N²/B²
    dense tasks are strictly cheaper than a bucket join that would
    materialize ~90% of all pairs as shuffled rows. Both paths end in the
    identical exact chain-dot verify, so the pair set and cosines are
    bit-identical (asserted in tests). At production near-dup thresholds
    (τ ≥ 0.8, bit-agreement p ≥ 0.8) B scales as ~log2(N/bucket) like
    sim_ann_lsh's ANN_BITS and occupancy stays under the crossover at any
    N, so the LSH path engages."""
    import numpy as np
    import pandas as pd

    em = load(spark, sf_dir, "embeddings")
    n = parquet_row_count(sf_dir, "embeddings")
    occ = n * (DEDUP_LSH_BITS + 1) / float(2**DEDUP_LSH_BITS)
    if occ > DEDUP_LSH_OCC_CROSSOVER:
        return _dedup_embed_block_exact(spark, em, n)
    g = _dedup_embed_hyperplanes()
    nb_, l_ = DEDUP_LSH_BITS, DEDUP_LSH_BANDS

    def probe_keys(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            p = v @ g.T  # (n, L·B)
            bits = (p >= 0).astype(np.int64).reshape(len(v), l_, nb_)
            keys = (bits << np.arange(nb_)).sum(axis=2)  # (n, L)
            flips = np.concatenate(([0], 1 << np.arange(nb_)))  # base + B probes
            probed = keys[:, :, None] ^ flips[None, None, :]  # (n, L, B+1)
            n = len(v)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), l_ * (nb_ + 1)),
                    "band": np.tile(np.repeat(np.arange(l_), nb_ + 1), n).astype(
                        "int32"
                    ),
                    "key": probed.ravel(),
                }
            )

    keys = (
        em.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(probe_keys, "vec_id long, band int, key long")
    )
    ka = keys.select(F.col("vec_id").alias("va"), "band", "key")
    kb = keys.select(F.col("vec_id").alias("vb"), "band", "key")
    cand = (
        ka.join(kb, ["band", "key"])
        .where(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
    )

    # two-stage verify (the sim_knn_join policy): a vectorized BLAS cosine
    # PRE-filters candidates at τ-1e-9 — float64 matmul agrees with the
    # sequential chain to ~1e-15 relative, so nothing the chain would keep
    # is dropped — then the few survivors are re-scored with the EXACT
    # left-to-right chain dot, which alone decides τ and supplies the
    # emitted value. Output is therefore bit-identical to evaluating the
    # oracle expression on every candidate, at BLAS speed per batch.
    ea = em.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    eb = em.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    paired = cand.join(ea, "va").join(eb, "vb")

    def verify(batches):
        import math

        def chain_cos(x, y):
            s = nx = ny = 0.0
            for i in range(len(x)):
                xi, yi = float(x[i]), float(y[i])
                s += xi * yi
                nx += xi * xi
                ny += yi * yi
            return s / (math.sqrt(nx) * math.sqrt(ny))

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.asarray(list(pdf["ea"]), dtype=np.float64)
            B = np.asarray(list(pdf["eb"]), dtype=np.float64)
            blas = np.einsum("ij,ij->i", A, B) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            keep = blas >= COSINE_TAU - 1e-9
            out = {"va": [], "vb": [], "cosine": []}
            for va, vb, x, y in zip(
                pdf["va"].to_numpy()[keep],
                pdf["vb"].to_numpy()[keep],
                A[keep],
                B[keep],
            ):
                c = chain_cos(x, y)
                if c >= COSINE_TAU:
                    out["va"].append(int(va))
                    out["vb"].append(int(vb))
                    out["cosine"].append(c)
            yield pd.DataFrame(out)

    raw = paired.mapInPandas(verify, "va long, vb long, cosine double")
    # r4 applied Spark-side so rounding semantics (half away from zero)
    # match the oracle's ROUND exactly — Python round() is banker's
    return raw.select("va", "vb", r4(F.col("cosine")).alias("cosine"))


# signature width sizes the bucket count: ~log2(N / desired bucket size).
# 6 bits → 64 buckets → ~8-30 mates per bucket at fixture scale; a 1e9-vector
# corpus would use ~24 bits (+ multi-probe on near-zero projections).
ANN_BITS = 6


@query("sim_ann_lsh", tags=("approx",))
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via seeded random-hyperplane LSH — the 100 TB similarity path.

    Each vector gets an ANN_BITS-bit signature: bit_j = sign(e · g_j); the
    pseudo-random hyperplane g_j has components ±1 derived from
    xxhash64(j, i) parity (deterministic, no RNG state). Vectors sharing a
    signature land in one bucket; 1-NN is computed only among bucket-mates
    (prune-then-verify). Output: vec_id, bucket, ann_id, cosine — ann_id
    NULL for singleton buckets. Rows-only gate (approximate recall by
    design); recall vs the exact 1-NN is measured in unit tests."""
    em = load(spark, sf_dir, "embeddings")
    e = F.col("embedding")

    def proj(j: int) -> Column:
        # e · g_j with g_j[i] = ±1 from hash parity (2-arg transform lambda
        # receives (element, index))
        return F.aggregate(
            F.transform(
                e,
                lambda x, i: x.cast("double")
                * (F.pmod(F.xxhash64(F.lit(j), i), F.lit(2)) * 2 - 1).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sig = F.concat(*[F.when(proj(j) >= 0, "1").otherwise("0") for j in range(ANN_BITS)])
    # localCheckpoint: `tagged` feeds BOTH sides of the bucket self-join
    # plus the final left join — without it the ANN_BITS × dim
    # interpreted-HOF signature projection ran three times (r10; the
    # checkpointed relation is |vectors| narrow rows, tiny at any SF).
    tagged = em.select("vec_id", "embedding", sig.alias("bucket")).localCheckpoint()
    a = tagged.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), F.col("bucket")
    )
    b = tagged.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), F.col("bucket")
    )
    cand = a.join(b, ["bucket"]).where(F.col("va") != F.col("vb"))

    # einsum-scored in Arrow batches, arrays dropped pre-shuffle, top-1 via
    # map-side max(struct) — same stage shape as sim_ann_ivf; tie-break
    # (max -vb) == smallest vb, matching the old window's (cos desc, vb)
    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.asarray(list(pdf["ea"]), dtype=np.float64)
            B = np.asarray(list(pdf["eb"]), dtype=np.float64)
            cos = np.einsum("ij,ij->i", A, B) / (
                np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            )
            yield pd.DataFrame(
                {"va": pdf["va"].to_numpy(), "vb": pdf["vb"].to_numpy(), "cos": cos}
            )

    scored = cand.select("va", "vb", "ea", "eb").mapInPandas(
        score, "va long, vb long, cos double"
    )
    best = (
        scored.groupBy("va")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("vb")).alias("nv"))).alias("b"))
        .select(
            F.col("va").alias("vec_id"),
            (-F.col("b.nv")).alias("ann_id"),
            r4(F.col("b.cos")).alias("cosine"),
        )
    )
    return tagged.select("vec_id", "bucket").join(best, "vec_id", "left")


IVF_CELLS = 32  # coarse-quantizer floor: ~N/cells vectors per cell
IVF_PROBES = 4  # query-side multiprobe: search the 4 nearest cells


def ivf_cells_for(n: int) -> int:
    """Corpus-sized cell count for the self-join ANN path: ~√n cells
    (floored at IVF_CELLS) keeps per-cell population ~√n, so the cell
    equi-join emits n·probes·√n candidate pairs instead of the
    n²·probes/cells a FIXED cell count degenerates to — the round-9 sf1
    LLM bench caught sim_ann_ivf at 71×/decade with 32 cells pinned
    (20k vectors → 625/cell; 200k → 6,250/cell). With √n cells the
    PER-QUERY candidate list grows √n (the standard IVF trade: FAISS
    sizes nlist at √n…16√n) and total work n^1.5 — the honest floor for
    an n-query self-join; serving-side per-query latency is the √n
    curve. Fixed-width consumers (sim_knn_ann's near-exhaustive
    recall-0.95 configuration, the persisted ann_index) keep their own
    documented sizings."""
    import math

    return max(IVF_CELLS, math.isqrt(max(int(n), 0)))


def _kmeans_refine(spark: SparkSession, em: DataFrame, cent, iters: int):
    """Spherical-k-means refinement of IVF centroids: per iteration ONE
    distributed pass emits per-(Arrow-batch, cell) partial (Σ unit-vec,
    count) rows — centroid-sized state, never vector-count-sized — which
    the driver combines and renormalizes (the treeAggregate shape; at
    100 TB the collect is O(#partitions × cells × dim), independent of N).
    Deterministic for a fixed partition layout (no RNG anywhere; float
    accumulation order follows partition order)."""
    import numpy as np
    from pyspark import StorageLevel

    # One scan instead of ``iters``: every pass reads the same embedding
    # projection, so materialize it once INSIDE this invocation and release
    # it before returning (guide §5 persist-when-reused; this is not a
    # cross-run memo — each call pays the scan + all ``iters`` passes).
    # persist() keeps the scan's partition layout, so the per-task float
    # accumulation order — and therefore the centroids — are bit-identical
    # to the unpersisted form.
    emb = em.select("embedding").persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cent)

        def partials(batches):
            import numpy as np
            import pandas as pd

            C = bc.value
            S = np.zeros_like(C)
            n = np.zeros(len(C), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
                Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
                a = (Vn @ C.T).argmax(1)
                for c in np.unique(a):
                    S[c] += Vn[a == c].sum(0)
                    n[c] += int((a == c).sum())
            yield pd.DataFrame(
                {"cell": np.arange(len(C), dtype=np.int32), "cnt": n, "vsum": list(S)}
            )

        rows = emb.mapInPandas(
            partials, "cell int, cnt long, vsum array<double>"
        ).collect()
        S = np.zeros_like(cent)
        n = np.zeros(len(cent), dtype=np.int64)
        for r in rows:
            S[r["cell"]] += np.asarray(r["vsum"])
            n[r["cell"]] += r["cnt"]
        nz = n > 0
        newc = cent.copy()
        newc[nz] = S[nz] / n[nz, None]
        norms = np.linalg.norm(newc, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cent = newc / norms
    emb.unpersist()
    return cent


def _ivf_centroids(
    spark: SparkSession,
    em: DataFrame,
    refine_iters: int = 0,
    cells: int | None = None,
):
    """Train the IVF coarse quantizer: centroids are the ``cells``
    (default IVF_CELLS) vectors with the smallest xxhash64(vec_id)
    (deterministic, no RNG), optionally refined with ``refine_iters``
    spherical-k-means passes. Returns the unit-normalized (cells, dim)
    float64 array — KB-sized driver state that ann_index persists as a
    table."""
    import numpy as np

    cells = IVF_CELLS if cells is None else cells
    seeds = (
        em.select("vec_id", "embedding")
        .withColumn("hk", F.xxhash64("vec_id"))
        .orderBy("hk", "vec_id")
        .limit(cells)
        .collect()
    )
    cent = np.asarray([r["embedding"] for r in seeds], dtype=np.float64)
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    if refine_iters:
        # Trained on every invocation: quantizer training is part of the
        # query's cost. (A cross-run memo keyed on the data path lived here
        # until r11 — VERDICT r10 "wrong" #2 called it result caching on a
        # benched path, and it is gone; ann_index remains the declared
        # persisted-index route for serve-from-trained-centroids designs.)
        cent = _kmeans_refine(spark, em, cent, refine_iters)
    return cent


def _assign_cells(df: DataFrame, bc, k: int) -> DataFrame:
    """Assign each (vec_id, embedding) row to its k nearest IVF cells
    under the broadcast centroid matrix `bc` — one Arrow-batch matmul
    pass, k rows out per vector (k=1 stores members, k=probes fans out
    queries)."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ bc.value.T
            ke = min(k, S.shape[1])  # probe width capped by cell count
            near = np.argsort(-S, kind="stable", axis=1)[:, :ke]
            rep = np.repeat(np.arange(len(pdf)), ke)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy()[rep],
                    "cell": near.ravel().astype("int32"),
                    "embedding": pdf["embedding"].iloc[rep].to_numpy(),
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        fn, schema="vec_id long, cell int, embedding array<float>"
    )


def _ivf_assignments(
    spark: SparkSession,
    em: DataFrame,
    probes: int,
    refine_iters: int = 0,
    cells: int | None = None,
):
    """IVF cell assignments (members, probed): members are stored in
    their 1 nearest cell, queries probe their ``probes`` nearest cells,
    candidates meet through an equi-join on cell id — a plain shuffle
    join that shards horizontally at corpus scale."""
    cent = _ivf_centroids(spark, em, refine_iters=refine_iters, cells=cells)
    bc = spark.sparkContext.broadcast(cent)
    members = _assign_cells(em, bc, 1)
    probed = _assign_cells(em, bc, probes)
    return members, probed


ANN_BUNDLE_CAP = 4096  # max rows per bundle row (VERDICT r4 weak #2)


def _bundle_by_cell(
    df: DataFrame, payload_col: str, alias: str, cap: int | None = None
) -> DataFrame:
    """Bundle (vec_id, payload) rows by IVF cell into BOUNDED chunk rows:
    row_number within the cell // cap assigns a chunk id, then one
    collect_list per (cell, chunk). An unbounded per-cell collect_list is
    a 100×-scale liability — a skewed cell (degenerate: the whole corpus
    quantized into one cell) would materialize N/C arrays as a single row
    and blow past row/Arrow-batch limits long before executor memory
    matters. Chunk pairs within a cell cross-join downstream, so the
    candidate set is exactly the cell equi-join's; per-query bests merge
    across chunks in the existing max(struct) aggregate. The window sort
    rides the same by-cell shuffle the groupBy needs anyway."""
    cap = ANN_BUNDLE_CAP if cap is None else cap
    w = Window.partitionBy("cell").orderBy("vec_id")
    return (
        df.withColumn(
            "chunk", F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(cap))
        )
        .groupBy("cell", "chunk")
        .agg(F.collect_list(F.struct("vec_id", payload_col)).alias(alias))
        .drop("chunk")
    )


def _ivf_candidates(
    spark: SparkSession,
    em: DataFrame,
    probes: int,
    refine_iters: int = 0,
    cells: int | None = None,
) -> DataFrame:
    """Pair-expanded IVF candidates (qid, cid, qe, ce) — the plain
    cell equi-join; right at low probe widths (sim_ann_ivf), but it
    duplicates member arrays once per matching QUERY. Wide-probe
    consumers use _ivf_assignments + per-cell bundling instead."""
    members, probed = _ivf_assignments(
        spark, em, probes, refine_iters=refine_iters, cells=cells
    )
    q = probed.select(F.col("vec_id").alias("qid"), "cell", F.col("embedding").alias("qe"))
    m = members.select(F.col("vec_id").alias("cid"), "cell", F.col("embedding").alias("ce"))
    return q.join(m, "cell").where(F.col("qid") != F.col("cid"))


def _einsum_score(batches):
    """Arrow-batch cosine of (qe, ce) pairs — vectorized einsum beats a
    64-term codegen chain ~4×; arrays are dropped BEFORE any shuffle so
    the downstream rank stage moves (qid, cid, cos) triples only."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        if not len(pdf):
            continue
        Q = np.asarray(list(pdf["qe"]), dtype=np.float64)
        C = np.asarray(list(pdf["ce"]), dtype=np.float64)
        cos = np.einsum("ij,ij->i", Q, C) / (
            np.linalg.norm(Q, axis=1) * np.linalg.norm(C, axis=1)
        )
        yield pd.DataFrame(
            {"qid": pdf["qid"].to_numpy(), "cid": pdf["cid"].to_numpy(), "cos": cos}
        )


@query("sim_ann_ivf", tags=("approx",))
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via an IVF (inverted-file) coarse quantizer — the second 100 TB
    similarity path next to sim_ann_lsh.

    Centroids are the IVF_CELLS vectors with the smallest xxhash64(vec_id)
    (deterministic, data-dependent, no RNG state — a seeded k-means would
    slot in here unchanged). Every vector is *stored* in its single nearest
    cell; every *query* probes its IVF_PROBES nearest cells, so the
    candidate set is cells it most plausibly neighbors (multiprobe trades
    compute for recall). Candidates meet through an equi-join on cell id —
    a plain shuffle join that scales horizontally; per-cell lists are the
    only state, so a 1e9-vector corpus shards by cell. The cell count
    SCALES ~√n with the corpus (ivf_cells_for — round-9 sf1 bench fix:
    32 pinned cells made the equi-join n²·probes/32, 71×/decade), so
    per-query candidates grow √n and total self-join work n^1.5 — the
    residual super-linearity is the query COUNT; per-query latency is
    the √n curve a serving path sees. Output: one row per vector — its
    approximate 1-NN among candidates (NULL when all probe cells held
    only the vector itself). Rows-only gate (approximate by design);
    recall vs exact 1-NN is asserted in unit tests."""
    em = load(spark, sf_dir, "embeddings")
    n = em.count()  # parquet row-count metadata, no scan
    cand = _ivf_candidates(spark, em, IVF_PROBES, cells=ivf_cells_for(n))
    scored = cand.select("qid", "cid", "qe", "ce").mapInPandas(
        _einsum_score, "qid long, cid long, cos double"
    )
    # top-1 per query via max(struct) — map-side partial max, no window
    # sort; tie-break (max -cid) == smallest cid, same as the old window
    best = (
        scored.groupBy("qid")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))).alias("b"))
        .select(
            F.col("qid").alias("vec_id"),
            (-F.col("b.nc")).alias("ann_id"),
            r4(F.col("b.cos")).alias("cosine"),
        )
    )
    return em.select("vec_id").join(best, "vec_id", "left")


# Composed ANN→exact path parameters. The fixture embeddings are near-
# uniform random in 64-d (measured: same-label 1-NN rate 0.096, mean 1-NN
# cosine 0.37) — the curse-of-dimensionality worst case, where ANY
# sub-linear ANN must scan most of the corpus to guarantee recall. The
# recall unit test holds this query to ≥0.95 vs the exact scorer, so the
# probe width is sized for THAT on THIS data (24/32 cells ≈ 1.3× prune,
# measured recall 0.97); on clustered production embeddings the identical
# plan hits the same recall at probes≈4 (8× prune) — recall is bought with
# KNN_PROBES, the plan shape never changes.
KNN_PROBES = 24
KNN_KMEANS_ITERS = 8  # spherical-k-means refinement passes for the quantizer


@query("sim_knn_ann", tags=("approx", "llm"))
def sim_knn_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate 1-NN join — the composition VERDICT r3 named: IVF-cell
    candidate pruning (`_ivf_candidates`, the sim_ann_ivf quantizer at
    KNN_PROBES-wide multiprobe) wired into an EXACT re-score, replacing
    sim_knn_join's O(N²) block-pair sweep as the declared scale path.

    Stages: (1) candidates via cell equi-join — O(N·K/C · N/C) pairs, the
    prune; (2) Arrow-batch einsum selects the best candidate per query
    (map-side max(struct), no window sort); (3) the single winning pair per
    vector is re-scored JVM-side with the codegen chain dot — the same
    left-assoc IEEE float policy as sim_knn_join — so wherever ANN found
    the true neighbor the emitted cosine is bit-identical to the exact
    scorer's (asserted in tests together with recall ≥ 0.95).

    At 100 TB: stage 1 shards by cell id (the only shuffle over vectors),
    stage 2 moves (qid, cid, cos) triples, stage 3 is two hash joins on
    vec_id against the (already partitioned) corpus. Nothing is quadratic
    in N; recall is bought with KNN_PROBES, not candidate volume blowup.
    Rows-only gate (approximate by design); recall + cosine-parity are
    unit-asserted vs sim_knn_join."""
    em = load(spark, sf_dir, "embeddings")
    members, probed = _ivf_assignments(
        spark, em, KNN_PROBES, refine_iters=KNN_KMEANS_ITERS
    )
    # Per-cell BUNDLED selection: at wide probe widths the naive pair
    # equi-join ships every member array once per matching query (O(Q·M)
    # array copies through the shuffle). Bundling both sides by cell ships
    # each array ONCE per cell chunk, and the block matmul inside Arrow
    # does the Q×M scoring — measured 4× faster at sf0.1 than the
    # pair-expanded join, identical selection. Bundle rows are BOUNDED at
    # ANN_BUNDLE_CAP via _bundle_by_cell, so a skewed cell can never
    # materialize an unbounded row.
    mb = _bundle_by_cell(members, "embedding", "m_items")
    qb = _bundle_by_cell(probed, "embedding", "q_items")

    def cell_best(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = {"qid": [], "cid": [], "cos": []}
            for q_items, m_items in zip(pdf["q_items"], pdf["m_items"]):
                qid = np.array([it["vec_id"] for it in q_items], dtype=np.int64)
                mid = np.array([it["vec_id"] for it in m_items], dtype=np.int64)
                order = np.argsort(mid, kind="stable")  # argmax tie → min id
                mid = mid[order]
                Q = np.asarray([it["embedding"] for it in q_items], dtype=np.float64)
                M = np.asarray([it["embedding"] for it in m_items], dtype=np.float64)[
                    order
                ]
                Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                S = Qn @ Mn.T
                S[qid[:, None] == mid[None, :]] = -np.inf  # exclude self
                j = S.argmax(1)
                keep = ~np.isinf(S[np.arange(len(qid)), j])
                out["qid"].extend(qid[keep].tolist())
                out["cid"].extend(mid[j][keep].tolist())
                out["cos"].extend(S[np.arange(len(qid)), j][keep].tolist())
            yield pd.DataFrame(out)

    best = (
        qb.join(mb, "cell")
        .repartition(spark.sparkContext.defaultParallelism, "cell")
        .mapInPandas(cell_best, "qid long, cid long, cos double")
        .groupBy("qid")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))).alias("b"))
        .select(F.col("qid").alias("vec_id"), (-F.col("b.nc")).alias("nn_id"))
    )
    ea = em.select("vec_id", F.col("embedding").alias("ea"), F.col("label").alias("la"))
    eb = em.select(
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("lb"),
    )
    return (
        best.join(ea, "vec_id")
        .join(eb, "nn_id")
        .select(
            "vec_id",
            "nn_id",
            r4(cosine("ea", "eb")).alias("cosine"),
            (F.col("la") == F.col("lb")).alias("same_label"),
        )
    )


@query(
    "embed_centroids",
    oracle=f"""
    SELECT label, CAST(i AS INT) AS dim, {sql_r4('AVG(v)')} AS centroid
    FROM (SELECT label, UNNEST(embedding) AS v,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) t
    GROUP BY label, i
    """,
)
def embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension) — the training
    primitive behind IVF coarse quantizers and k-means. posexplode →
    groupBy(label, dim) is a single shuffle whose width is labels×dims
    (tiny), with map-side partial averages; no vector ever crosses the
    wire whole. Spark's posexplode is 0-based vs DuckDB's 1-based
    generate_subscripts → +1 on the Spark side."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(r4(F.avg("v")).alias("centroid"))
    )


KMEANS_K = 8
KMEANS_ITERS = 3


@query("embed_kmeans")  # iterative — not SQL-expressible, rows-only check
def embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means on the embedding table, K=8, 3 iterations,
    deterministic init (the K lowest vec_ids). Assignment = broadcast the
    K centroids, squared-L2 per pair, argmin via min(struct(d2, cid))
    (deterministic tie-break on cluster id — no window shuffle with the
    vector attached). Update = posexplode → per-(cluster, dim) average →
    rebuild arrays. Each iteration ends in localCheckpoint so lineage
    (and optimizer time) stays O(1) across iterations — the same
    truncation discipline as dedup_clusters. Returns cluster sizes +
    within-cluster mean distance; checked by unit invariants (rows-only:
    float averaging makes borderline assignments engine-specific, so no
    SQL oracle)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    e = e.repartition(8, "vec_id")  # single-file parquet → parallelize
    cent = (
        e.orderBy("vec_id")
        .limit(KMEANS_K)
        .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")) - 1)
        .select("cid", F.col("embedding").alias("cvec"))
    )

    def d2() -> Column:
        diff = F.zip_with("embedding", "cvec", lambda x, y: (x - y) * (x - y))
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    assigned = None
    for _ in range(KMEANS_ITERS):
        assigned = (
            e.crossJoin(F.broadcast(cent))
            .withColumn("d2", d2())
            .groupBy("vec_id")
            .agg(
                F.min(F.struct("d2", "cid")).alias("best"),
                F.any_value("embedding").alias("embedding"),
            )
            .select("vec_id", "embedding", F.col("best.cid").alias("cid"),
                    F.col("best.d2").alias("d2"))
        )
        cent = (
            assigned.select("cid", F.posexplode("embedding").alias("pos", "v"))
            .groupBy("cid", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("cvec"))
            .localCheckpoint()
        )
    return (
        assigned.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            r4(F.avg(F.sqrt("d2"))).alias("mean_dist"),
        )
        .orderBy("cid")
    )


# quantization error expression shared by the Spark query and its oracle —
# both sides evaluate the IDENTICAL expression tree left-to-right, so the
# per-element doubles (and the sequential-fold MAE) are bit-identical.
_SQL_QERR = (
    "ABS(CAST(x AS DOUBLE) - (mn + ROUND((CAST(x AS DOUBLE) - mn)"
    " / (mx - mn) * 255, 0) * (mx - mn) / 255))"
)


@query(
    "embed_quantize",
    oracle=f"""
    WITH s AS (
      SELECT MIN(LIST_MIN(embedding)) AS mn, MAX(LIST_MAX(embedding)) AS mx
      FROM embeddings
    )
    SELECT vec_id,
           array_to_string(
             LIST_TRANSFORM(embedding,
               x -> CAST(ROUND((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255, 0)
                         AS INT)), ',') AS q,
           {sql_r4(f"LIST_AGGREGATE(LIST_TRANSFORM(embedding, x -> {_SQL_QERR}), 'sum') / 64.0")}
             AS mae
    FROM embeddings, s
    """,
)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8-style quantization of the embedding column: global
    [min,max] → 0..255 codes, plus per-vector reconstruction MAE. This is
    the memory-compression path that makes billion-vector ANN fit — 4×
    smaller than float32, and the quantized codes broadcast/cached where
    raw vectors couldn't. The [mn,mx] stats are one columnar pass
    (array_min/max per row, then a 2-scalar global agg broadcast back);
    quantize/dequantize are per-element expressions with no shuffle.
    Min/max are exact (order-independent), every arithmetic step is the
    same IEEE expression tree in both engines, and the MAE fold is
    sequential in both (aggregate-lambda ≡ list_aggregate 'sum'), so the
    oracle match is exact — no epsilon."""
    e = load(spark, sf_dir, "embeddings")
    stats = e.agg(
        F.min(F.array_min("embedding")).alias("mn"),
        F.max(F.array_max("embedding")).alias("mx"),
    )
    mn, mx = F.col("mn"), F.col("mx")

    def qerr(x: Column) -> Column:
        xd = x.cast("double")
        return F.abs(
            xd - (mn + F.round((xd - mn) / (mx - mn) * 255, 0) * (mx - mn) / 255)
        )

    return (
        e.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            # int codes serialized to one CSV string: the driver's pandas
            # hash gate can't factorize list cells, and int→string is
            # formatting-stable in both engines (floats would not be).
            F.array_join(
                F.transform(
                    "embedding",
                    lambda x: F.round((x.cast("double") - mn) / (mx - mn) * 255, 0).cast(
                        "int"
                    ),
                ).cast("array<string>"),
                ",",
            ).alias("q"),
            r4(
                F.aggregate(
                    F.transform("embedding", qerr), F.lit(0.0), lambda a, x: a + x
                )
                / F.lit(64.0)
            ).alias("mae"),
        )
    )


@query("embed_pca_power")  # iterative + driver-side eigensolve → rows-only
def embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus, the one-pass
    distributed way: each partition reduces its Arrow batches to a
    single (n, Σx, ΣxᵀX) partial — 1 + 64 + 64² numbers — partials are
    collected (never the data), the driver forms the 64×64 covariance
    and runs power iteration there. This is exactly treeAggregate-shaped
    PCA: at 100 TB the shuffle carries |partitions| rows of 4k doubles,
    and the driver solve is O(dim²) regardless of corpus size. Sign is
    fixed (first nonzero loading positive) so output is stable;
    iterative + float-merge order → rows-only gate, with unit-test
    invariants (unit norm, Rayleigh quotient ≈ eigenvalue)."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "sx": [x.sum(axis=0).tolist()],
                    "sxx": [(x.T @ x).ravel().tolist()],
                }
            )

    e = load(spark, sf_dir, "embeddings").select("embedding")
    rows = e.mapInPandas(
        partials, "n long, sx array<double>, sxx array<double>"
    ).collect()
    rows.sort(key=lambda r: (r["n"], r["sx"][0]))  # deterministic merge order
    n = sum(r["n"] for r in rows)
    sx = np.sum([np.array(r["sx"]) for r in rows], axis=0)
    sxx = np.sum([np.array(r["sxx"]).reshape(64, 64) for r in rows], axis=0)
    mu = sx / n
    cov = sxx / n - np.outer(mu, mu)
    v = np.ones(64) / 8.0
    for _ in range(100):
        v = cov @ v
        v /= np.linalg.norm(v)
    eigval = float(v @ cov @ v)
    nz = np.flatnonzero(np.abs(v) > 1e-12)
    if len(nz) and v[nz[0]] < 0:
        v = -v
    out = [(int(i), float(v[i]), eigval) for i in range(64)]
    return spark.createDataFrame(out, "dim int, loading double, eigval double")


@query(
    "embed_dim_stats",
    oracle=f"""
    WITH flat AS (
      SELECT UNNEST(embedding) AS x,
             GENERATE_SUBSCRIPTS(embedding, 1) AS dim
      FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           {sql_r4('AVG(x)')} AS mean_x,
           {sql_r4('STDDEV_SAMP(x)')} AS std_x,
           {sql_r4('MIN(x)')} AS min_x,
           {sql_r4('MAX(x)')} AS max_x
    FROM flat GROUP BY dim
    """,
)
def embed_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution stats of the embedding matrix — the
    normalization/whitening precursor (and the drift monitor a production
    embedding pipeline alerts on). posexplode flattens to (dim, x) rows
    map-side; 64 groups aggregate with partial combine, so the shuffle
    carries 64 rows per task regardless of corpus size. AVG/STDDEV on
    float inputs stay in the r4 drift envelope at fixture scale (same
    policy as agg_stats)."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).cast("int").alias("dim"), F.col("x").cast("double").alias("x")
    )
    return flat.groupBy("dim").agg(
        r4(F.avg("x")).alias("mean_x"),
        r4(F.stddev_samp("x")).alias("std_x"),
        r4(F.min("x")).alias("min_x"),
        r4(F.max("x")).alias("max_x"),
    )


_SQL_EMBED_PAIRS = f"""
    SELECT a.vec_id AS va, b.vec_id AS vb
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {COSINE_TAU}
"""


@query(
    "embed_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_SQL_EMBED_PAIRS}),
    edges AS (
      SELECT va AS a, vb AS b FROM pairs
      UNION
      SELECT vb AS a, va AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    lab AS (
      SELECT a AS vec_id, LEAST(MIN(b), a) AS cluster_id FROM reach GROUP BY a
    )
    SELECT e.vec_id,
           COALESCE(l.cluster_id, e.vec_id) AS cluster_id,
           (COALESCE(l.cluster_id, e.vec_id) = e.vec_id) AS is_canonical
    FROM embeddings e LEFT JOIN lab l ON e.vec_id = l.vec_id
    """,
)
def embed_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup clusters: connected components over the
    embedding-cosine near-dup pair graph (dedup_embed's LSH-pruned pairs),
    cluster id = min vec_id, one canonical vector per cluster — the
    operator that actually deduplicates an embedding corpus when A~B~C
    but A≁C. Same `min_label_components` call as the text-side
    dedup_clusters (the LSH+cosine pair plan runs once, one edge-list
    shuffle per round, O(log diameter) rounds); the DuckDB oracle
    replays the components via a recursive-CTE transitive closure over
    the exact pair set, which equals the LSH pair set at recall 1.0."""
    from atlas_migration_repo_spark.llm.dedup import min_label_components

    lab = min_label_components(dedup_embed(spark, sf_dir), "va", "vb")
    em = load(spark, sf_dir, "embeddings").select("vec_id")
    return (
        em.join(lab, em.vec_id == lab.id, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("lab"), F.col("vec_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("cluster_id") == F.col("vec_id"))
    )


_SQL_DIST_TO_CENT = (
    "SQRT(LIST_AGGREGATE(LIST_TRANSFORM(LIST_ZIP(e.embedding, c.cvec), "
    "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])), 'sum'))"
)


@query(
    "embed_outlier_zscore",
    oracle=f"""
    WITH flat AS (
      SELECT label, UNNEST(embedding) AS v,
             GENERATE_SUBSCRIPTS(embedding, 1) AS pos
      FROM embeddings
    ),
    cent AS (SELECT label, pos, {sql_r4('AVG(v)')} AS m FROM flat GROUP BY label, pos),
    cvec AS (SELECT label, LIST(m ORDER BY pos) AS cvec FROM cent GROUP BY label),
    d AS (
      SELECT e.vec_id, e.label, {_SQL_DIST_TO_CENT} AS dist
      FROM embeddings e JOIN cvec c USING (label)
    ),
    s AS (SELECT label, AVG(dist) AS mu, STDDEV_SAMP(dist) AS sd FROM d GROUP BY label)
    SELECT d.vec_id, d.label, {sql_r4('dist')} AS dist,
           {sql_r4('(dist - mu) / sd')} AS z,
           ({sql_r4('(dist - mu) / sd')} >= 2.0) AS is_outlier
    FROM d JOIN s USING (label)
    """,
)
def embed_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier scores — the mislabeled/corrupted-sample
    probe a training pipeline runs before trusting a labeled corpus: L2
    distance to the label centroid, z-scored within the label, outlier
    flag at z ≥ 2.

    Plan: one posexplode shuffle builds the (label × dim) centroids (tiny
    — labels·dims rows, map-side partial averages); centroids re-assemble
    into arrays and BROADCAST back, so the distance pass is a scan-side
    zip_with fold with no per-row shuffle; per-label moment stats (10
    rows) broadcast the same way. At 100 TB: two broadcast joins against
    O(labels) state and a single corpus scan.

    Determinism: centroids are r4-rounded on both sides BEFORE the
    distance fold (AVG is shuffle-order-dependent; the rounded grid is
    not), the fold itself is the sequential left-to-right chain shared
    with `dot`, and the outlier flag compares the r4-ROUNDED z so both
    engines branch on the identical double."""
    e = load(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.transform("pm", lambda s: r4(s["m"])).alias("cvec"))
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                "embedding",
                "cvec",
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
    )
    d = e.join(F.broadcast(cent), "label").select("vec_id", "label", dist.alias("dist"))
    stats = d.groupBy("label").agg(
        F.avg("dist").alias("mu"), F.stddev_samp("dist").alias("sd")
    )
    z = r4((F.col("dist") - F.col("mu")) / F.col("sd"))
    return (
        d.join(F.broadcast(stats), "label")
        .select(
            "vec_id",
            "label",
            r4(F.col("dist")).alias("dist"),
            z.alias("z"),
            (z >= 2.0).alias("is_outlier"),
        )
    )


PAIR_SAMPLE_MOD = 25  # id-sample stride: keeps ~N/25 vectors, (N/25)²/2 pairs


@query(
    "sim_pair_sample_stats",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % {PAIR_SAMPLE_MOD} = 0
    ),
    pairs AS (
      SELECT {sql_cosine('a.embedding', 'b.embedding')} AS cos
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT CAST(ROUND(cos * 10) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {sql_r4('MIN(cos)')} AS min_cos,
           {sql_r4('MAX(cos)')} AS max_cos
    FROM pairs GROUP BY 1
    """,
)
def sim_pair_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution on a deterministic id-stride sample —
    the query that calibrates a dedup/ANN threshold τ before committing a
    100 TB run (the embedding twin of dedup_threshold_sweep). Sampling
    vectors (not pairs) keeps the quadratic confined: stride s → (N/s)²/2
    scored pairs, tuned so the sample fits one broadcast; the full corpus
    is never pair-joined. Histogram bucket = round(cos·10): both engines
    round the bit-identical chain-dot double half-away-from-zero, so
    bucket edges cannot straddle."""
    em = load(spark, sf_dir, "embeddings")
    s = em.where(F.col("vec_id") % PAIR_SAMPLE_MOD == 0).select("vec_id", "embedding")
    a = s.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = s.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    cos = cosine("ea", "eb")
    pairs = (
        a.join(F.broadcast(b), F.col("va") < F.col("vb"))
        .select(cos.alias("cos"))
    )
    return pairs.groupBy(
        F.round(F.col("cos") * 10).cast("int").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r4(F.min("cos")).alias("min_cos"),
        r4(F.max("cos")).alias("max_cos"),
    )


@query(
    "embed_knn_label_accuracy",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id, a.label AS la, b.label AS lb,
             LIST_COSINE_SIMILARITY(a.embedding, b.embedding) AS cos,
             b.vec_id AS nb
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT vec_id, la, lb
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY cos DESC, nb) AS rn
            FROM pairs)
      WHERE rn = 1
    )
    SELECT la AS label,
           CAST(COUNT(*) AS INT) AS n_vectors,
           {sql_r4('AVG(CASE WHEN la = lb THEN 1.0 ELSE 0.0 END)')} AS knn1_accuracy
    FROM nn GROUP BY la
    """,
)
def embed_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality evaluation: leave-one-out 1-NN label accuracy per
    class — the standard 'are these embeddings any good' probe before
    they're trusted for dedup or retrieval. Reuses the sim_knn_join
    brute-force kernel (block-BLAS over broadcast candidates) and reduces
    to a 10-row accuracy table; at corpus scale the same evaluation runs
    over the ANN index instead (sim_ann_lsh/ivf), trading exactness for
    sub-quadratic cost. The oracle replays the full O(n²) ranking in SQL."""
    nn = sim_knn_join(spark, sf_dir)  # vec_id, nn_id, cosine
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        nn.join(e.withColumnRenamed("label", "la"), "vec_id")
        .join(
            e.select(F.col("vec_id").alias("nn_id"), F.col("label").alias("lb")),
            "nn_id",
        )
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_vectors"),
            r4(F.avg(F.when(F.col("la") == F.col("lb"), 1.0).otherwise(0.0))).alias(
                "knn1_accuracy"
            ),
        )
    )


RANGE_TAU = 0.3  # radius for range search: cosine >= tau


@query(
    "sim_range_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id < {N_QUERIES})
    SELECT q.q_id, e.vec_id, {sql_r4(sql_cosine('q.qe', 'e.embedding'))} AS cosine
    FROM q JOIN embeddings e ON e.vec_id != q.q_id
    WHERE {sql_cosine('q.qe', 'e.embedding')} >= {RANGE_TAU}
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: every corpus vector within cosine ≥ τ of each
    query vector — the other half of the vector-search API next to top-k
    (retrieval wants top-k; dedup and recall evaluation want ALL matches in
    a radius). Same scalable shape as sim_cosine_topk: broadcast the query
    set, stream the corpus once, norms precomputed per side so each pair
    costs one dot; no window needed at all — the radius predicate filters
    scan-side, so selective radii never materialize a ranking. At 100 TB
    the LSH/IVF bucket index (sim_ann_lsh / sim_ann_ivf) generates the
    candidate stream and this exact filter verifies it (prune-then-verify).

    Determinism: the τ comparison happens on the UNROUNDED chain-dot
    cosine — computed as the same sequential left-to-right IEEE chain in
    an Arrow batch stage (Python floats ARE C doubles, bit-identical to
    the Spark `dot` chain and the oracle's list_aggregate; the unrolled
    Catalyst chain paid ~2 s of codegen fixed cost per run for the same
    values) — so boundary pairs cannot disagree; r4 (applied Spark-side,
    half away from zero like the oracle's ROUND) rounds only the
    reported value."""
    import math

    em = load(spark, sf_dir, "embeddings")
    em = em.repartition(spark.sparkContext.defaultParallelism)
    q = em.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    paired = em.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))

    def chain_filter(batches):
        import pandas as pd

        for pdf in batches:
            out = {"q_id": [], "vec_id": [], "cos": []}
            for qid, vid, x, y in zip(
                pdf["q_id"], pdf["vec_id"], pdf["qe"], pdf["embedding"]
            ):
                s = nx = ny = 0.0
                for i in range(len(x)):
                    xi, yi = float(x[i]), float(y[i])
                    s += xi * yi
                    nx += xi * xi
                    ny += yi * yi
                c = s / (math.sqrt(nx) * math.sqrt(ny))
                if c >= RANGE_TAU:
                    out["q_id"].append(int(qid))
                    out["vec_id"].append(int(vid))
                    out["cos"].append(c)
            yield pd.DataFrame(out)

    raw = paired.select("q_id", "vec_id", "qe", "embedding").mapInPandas(
        chain_filter, "q_id long, vec_id long, cos double"
    )
    return raw.select("q_id", "vec_id", r4(F.col("cos")).alias("cosine"))


TRUNC_DIMS = (8, 16, 32, 64)


def _sql_dot_d(a: str, b: str, d: int) -> str:
    return (
        f"LIST_AGGREGATE(LIST_TRANSFORM(LIST_ZIP({a}[1:{d}], {b}[1:{d}]), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    )


def _sql_cos_d(a: str, b: str, d: int) -> str:
    return (
        f"({_sql_dot_d(a, b, d)} / "
        f"(SQRT({_sql_dot_d(a, a, d)}) * SQRT({_sql_dot_d(b, b, d)})))"
    )


@query(
    "embed_truncation_fidelity",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % {PAIR_SAMPLE_MOD} = 0
    ),
    pairs AS (
      SELECT a.embedding AS ea, b.embedding AS eb
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {sql_r4('AVG(err)')} AS mean_abs_cos_err,
           {sql_r4('MAX(err)')} AS max_abs_cos_err
    FROM (
      {' UNION ALL '.join(
        f"SELECT {d} AS dim, ABS({_sql_cos_d('ea', 'eb', d)} - "
        f"{_sql_cos_d('ea', 'eb', 64)}) AS err FROM pairs"
        for d in TRUNC_DIMS
      )}
    ) GROUP BY dim
    """,
)
def embed_truncation_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation fidelity report (the Matryoshka-style sizing
    probe): for each prefix length d, how far does cosine computed on the
    first d coordinates drift from the full-64-dim cosine, over the same
    deterministic id-stride pair sample sim_pair_sample_stats uses. This
    is the measurement that decides how many dimensions the 100 TB ANN
    index can store/broadcast — truncating 64→16 quarters index memory
    and bandwidth IF the cosine error stays below the dedup/retrieval
    margin, and this query reports exactly that error envelope.

    Plan: the stride sample keeps the quadratic confined ((N/25)²/2 pairs,
    broadcast-joined); the per-pair prefix cosines run in one Arrow batch
    stage — each pair's four truncated dots are running prefix sums of
    the SAME sequential left-to-right chain (Python floats ARE C doubles,
    so the values are bit-identical to both the Spark `dot` chain and the
    oracle's list_aggregate; a 4-dims×3-dots Catalyst expression tree
    measured ~4× slower purely on codegen size). Aggregation is a
    4-group map-side-combined shuffle.

    Determinism: every per-pair double is the identical left-to-right
    chain in both engines; AVG over the sample stays in the r4 drift
    envelope (same policy as embed_dim_stats)."""
    em = load(spark, sf_dir, "embeddings")
    s = em.where(F.col("vec_id") % PAIR_SAMPLE_MOD == 0).select("vec_id", "embedding")
    a = s.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = s.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    pairs = a.join(F.broadcast(b), F.col("va") < F.col("vb"))
    dims = TRUNC_DIMS

    def prefix_errs(batches):
        import math

        import pandas as pd

        for pdf in batches:
            out = {"dim": [], "err": []}
            for x, y in zip(pdf["ea"], pdf["eb"]):
                s_xy = s_xx = s_yy = 0.0
                cuts = {}
                for i in range(len(x)):
                    xi, yi = float(x[i]), float(y[i])
                    s_xy += xi * yi
                    s_xx += xi * xi
                    s_yy += yi * yi
                    if i + 1 in dims:
                        cuts[i + 1] = s_xy / (math.sqrt(s_xx) * math.sqrt(s_yy))
                full = cuts[64]
                for d in dims:
                    out["dim"].append(d)
                    out["err"].append(abs(cuts[d] - full))
            yield pd.DataFrame(out)

    errs = pairs.select("ea", "eb").mapInPandas(prefix_errs, "dim int, err double")
    return errs.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r4(F.avg("err")).alias("mean_abs_cos_err"),
        r4(F.max("err")).alias("max_abs_cos_err"),
    )


@query("sim_ann_recall_eval", tags=("approx",))
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index health check: recall@1 of each approximate path
    (hyperplane-LSH buckets, IVF multiprobe) against the exact block-BLAS
    1-NN, plus the mean cosine gap where they disagree — the acceptance
    gate a pipeline runs before swapping brute force for an index at
    corpus scale. One row per method, including the composed
    ivf_kmeans_exact_rescore path (sim_knn_ann). On this fixture the
    report is decision-grade: at noise-floor cosines the 64-bucket LSH
    rarely holds the true 1-NN (recall@1 ~0.05, gap ~0.16), IVF-multiprobe
    reaches ~0.45 at a ~0.06 gap, and the composed k-means-refined
    wide-probe path clears 0.95 — the measured ladder a pipeline climbs
    from cheap pruning to the declared production path.

    Scale: the exact side is the expensive input (inherently quadratic —
    at production scale this eval runs on a held-out sample, which is
    exactly what the fixture is); the comparison itself is two doc-keyed
    joins and a 2-row aggregate. Rows-only gate (bucket assignment uses
    engine hashing); floors are asserted in unit tests."""
    exact = sim_knn_join(spark, sf_dir).select(
        "vec_id", F.col("nn_id").alias("true_nn"), F.col("cosine").alias("true_cos")
    )

    def knn_ann_adapter(s, d):
        return sim_knn_ann(s, d).select(
            "vec_id", F.col("nn_id").alias("ann_id"), "cosine"
        )

    out = []
    for method, fn in (
        ("lsh", sim_ann_lsh),
        ("ivf", sim_ann_ivf),
        ("ivf_kmeans_exact_rescore", knn_ann_adapter),  # the declared path
    ):
        ann = fn(spark, sf_dir).select(
            "vec_id", F.col("ann_id"), F.col("cosine").alias("ann_cos")
        )
        j = exact.join(ann, "vec_id")
        out.append(
            j.agg(
                F.lit(method).alias("method"),
                F.count(F.lit(1)).alias("n_vectors"),
                r4(
                    F.avg(F.when(F.col("ann_id") == F.col("true_nn"), 1.0).otherwise(0.0))
                ).alias("recall_at_1"),
                r4(
                    F.avg(
                        F.when(
                            F.col("ann_id") != F.col("true_nn"),
                            F.col("true_cos") - F.col("ann_cos"),
                        )
                    )
                ).alias("mean_cos_gap_on_miss"),
            )
        )
    return out[0].unionByName(out[1]).unionByName(out[2])


DRIFT_MOD = 2  # A/B split: even vs odd vec_id stand in for old/new snapshots


@query(
    "embed_centroid_drift",
    oracle=f"""
    WITH flat AS (
      SELECT label, vec_id % {DRIFT_MOD} AS half, UNNEST(embedding) AS v,
             GENERATE_SUBSCRIPTS(embedding, 1) AS pos
      FROM embeddings
    ),
    cent AS (
      SELECT label, half, pos, {sql_r4('AVG(v)')} AS m
      FROM flat GROUP BY label, half, pos
    ),
    joined AS (
      SELECT a.label, a.pos, a.m AS ma, b.m AS mb
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           {sql_r4('SQRT(SUM((ma - mb) * (ma - mb)))')} AS centroid_l2_drift,
           {sql_r4('MAX(ABS(ma - mb))')} AS max_dim_drift
    FROM joined GROUP BY label
    """,
)
def embed_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid DRIFT between two corpus halves (even/odd vec_id
    stand in for consecutive embedding-model snapshots) — the monitor a
    production pipeline alerts on before mixing embeddings from two model
    versions in one ANN index: centroid L2 shift plus the worst single
    dimension. Plan: one posexplode shuffle to (label × half × dim)
    partial averages (tiny, map-side combined), a self-join on the rounded
    centroid grid (labels × dims rows — broadcast-scale), and a
    labels-wide final aggregate.

    Determinism: per-dimension centroids are r4-rounded BEFORE the drift
    arithmetic in BOTH engines (AVG is order-dependent; the rounded grid
    is not — the embed_outlier_zscore policy), so the L2 sum over 64
    exact-grid doubles stays in the r4 envelope."""
    e = load(spark, sf_dir, "embeddings")
    flat = e.select(
        "label",
        (F.col("vec_id") % DRIFT_MOD).alias("half"),
        F.posexplode("embedding").alias("pos0", "v"),
    ).select("label", "half", (F.col("pos0") + 1).alias("pos"), "v")
    cent = flat.groupBy("label", "half", "pos").agg(r4(F.avg("v")).alias("m"))
    a = cent.where(F.col("half") == 0).select("label", "pos", F.col("m").alias("ma"))
    b = cent.where(F.col("half") == 1).select("label", "pos", F.col("m").alias("mb"))
    d = F.col("ma") - F.col("mb")
    return (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            r4(F.sqrt(F.sum(d * d))).alias("centroid_l2_drift"),
            r4(F.max(F.abs(d))).alias("max_dim_drift"),
        )
    )


MAXSIM_Q_TOKENS = 8  # query "token" vectors forming the multi-vector query
MAXSIM_DOC_VECS = 8  # corpus vectors grouped per pseudo-document


@query(
    "sim_maxsim",
    tags=("llm",),
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding AS qe FROM embeddings
      WHERE vec_id < {MAXSIM_Q_TOKENS}
    ),
    d AS (
      SELECT vec_id // {MAXSIM_DOC_VECS} AS doc, embedding FROM embeddings
      WHERE vec_id >= {MAXSIM_Q_TOKENS}
    ),
    mx AS (
      SELECT d.doc, q.q_id, {{rmax}} AS m
      FROM d, q GROUP BY d.doc, q.q_id
    )
    SELECT doc, {{msum}} AS maxsim FROM mx GROUP BY doc
    """.format(
        rmax=sql_r4("MAX({cos})".format(cos=sql_cosine("q.qe", "d.embedding"))),
        msum=sql_msum("m"),
    ),
)
def sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim retrieval: the query is a
    SET of token vectors, each document a SET of vectors, and the score is
    Σ over query tokens of the max cosine against any document vector —
    the multi-vector scoring model, re-expressed relationally. The fixture
    has one vector per row, so pseudo-documents are formed by grouping
    MAXSIM_DOC_VECS consecutive vec_ids; the first MAXSIM_Q_TOKENS vectors
    form the query token set.

    Plan: broadcast the Q-token query set (Q ≪ corpus, the defining
    asymmetry of late interaction), ONE corpus scan scoring Q cosines per
    vector via the codegen'd unrolled dot, per-(doc, token) MAX — doubles
    are bit-identical across engines by dot's fixed summation order, so
    MAX is engine-stable — then a per-doc decimal-accumulated sum (the
    msum/sql_msum twins) immune to shuffle-order drift. Two doc-keyed
    aggregate shuffles over vocabulary-sized data; at 100 TB the scan
    shards horizontally and the score never materializes a pair relation
    wider than Q × corpus rows."""
    em = load(spark, sf_dir, "embeddings")
    em = em.repartition(spark.sparkContext.defaultParallelism)
    q = em.where(F.col("vec_id") < MAXSIM_Q_TOKENS).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.sqrt(dot("embedding", "embedding")).alias("qn"),
    )
    d = em.where(F.col("vec_id") >= MAXSIM_Q_TOKENS).select(
        F.expr(f"vec_id div {MAXSIM_DOC_VECS}").alias("doc"),
        "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("en"),
    )
    mx = (
        d.join(F.broadcast(q))
        .withColumn(
            "cos", dot("qe", "embedding") / (F.col("qn") * F.col("en"))
        )
        .groupBy("doc", "q_id")
        # r4 before the decimal sum: msum's tie-safety contract (catalog.py)
        # only holds for ≤6dp-exact inputs, and a raw cosine max is an
        # arbitrary double — round to the 4dp grid on both engines first.
        .agg(r4(F.max("cos")).alias("m"))
    )
    return mx.groupBy("doc").agg(msum("m").alias("maxsim"))


PQ_M = 8  # subspaces (64-d -> 8 blocks of 8 dims)
PQ_K = 16  # codes per subspace -> 4 bits/block, 8 bytes -> 4 bytes per vector
PQ_ITERS = 8


def _pq_train(spark: SparkSession, em: DataFrame, iters: int):
    """Train PQ codebooks: per subspace an independent k-means in 8-d.
    Same treeAggregate shape as _kmeans_refine — each pass emits per-batch
    partial (sum, count) for every (subspace, code) cell; driver state is
    the M×K×(D/M) codebook tensor (tiny). Init: the PQ_K vectors with the
    smallest xxhash64(vec_id), split into blocks (deterministic, no RNG)."""
    import numpy as np

    seeds = (
        em.select("vec_id", "embedding")
        .withColumn("hk", F.xxhash64("vec_id"))
        .orderBy("hk", "vec_id")
        .limit(PQ_K)
        .collect()
    )
    d = len(seeds[0]["embedding"])
    sub = d // PQ_M
    cb = np.asarray([r["embedding"] for r in seeds], dtype=np.float64)
    cb = cb.reshape(PQ_K, PQ_M, sub).transpose(1, 0, 2).copy()  # M x K x sub

    from pyspark import StorageLevel

    # Same one-scan-for-all-passes materialization as _kmeans_refine:
    # persisted inside this invocation only, released before returning.
    emb = em.select("embedding").persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cb)

        def partials(batches):
            import numpy as np
            import pandas as pd

            C = bc.value  # M x K x sub
            S = np.zeros_like(C)
            n = np.zeros((PQ_M, PQ_K), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
                B = V.reshape(len(V), PQ_M, sub)
                for m in range(PQ_M):
                    d2 = ((B[:, m, None, :] - C[m][None, :, :]) ** 2).sum(-1)
                    a = d2.argmin(1)
                    for k in np.unique(a):
                        S[m, k] += B[a == k, m].sum(0)
                        n[m, k] += int((a == k).sum())
            yield pd.DataFrame(
                {
                    "m": np.repeat(np.arange(PQ_M, dtype=np.int32), PQ_K),
                    "k": np.tile(np.arange(PQ_K, dtype=np.int32), PQ_M),
                    "cnt": n.ravel(),
                    "vsum": list(S.reshape(PQ_M * PQ_K, sub)),
                }
            )

        rows = emb.mapInPandas(
            partials, "m int, k int, cnt long, vsum array<double>"
        ).collect()
        S = np.zeros_like(cb)
        n = np.zeros((PQ_M, PQ_K), dtype=np.int64)
        for r in rows:
            S[r["m"], r["k"]] += np.asarray(r["vsum"])
            n[r["m"], r["k"]] += r["cnt"]
        nz = n > 0
        newc = cb.copy()
        newc[nz] = S[nz] / n[nz][:, None]
        cb = newc
    emb.unpersist()
    return cb


@query("embed_pq", tags=("approx", "llm"))
def embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the vector-compression half of a production
    ANN index (IVF-PQ): 64-d float vectors compress to PQ_M 4-bit codes
    (64× smaller than float32) by running an independent k-means per
    8-dim subspace. Training is PQ_ITERS treeAggregate-shaped passes
    (codebook-sized driver state); encoding is one Arrow-batch pass
    emitting per-label count + mean reconstruction MSE. Rows-only gate
    (k-means); unit invariants: codes in range, trained codebooks beat
    the untrained init's distortion, determinism.

    At 100 TB: codebooks are KBs and broadcast; encoding is a single scan;
    the compressed codes make billion-vector candidate scoring
    memory-resident — the standard IVF-PQ memory story."""
    import numpy as np

    em = load(spark, sf_dir, "embeddings")
    cb = _pq_train(spark, em, PQ_ITERS)
    bc = spark.sparkContext.broadcast(cb)

    def encode(batches):
        import numpy as np
        import pandas as pd

        C = bc.value
        sub = C.shape[2]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            B = V.reshape(len(V), PQ_M, sub)
            codes = np.zeros((len(V), PQ_M), dtype=np.int32)
            recon = np.zeros_like(B)
            for m in range(PQ_M):
                d2 = ((B[:, m, None, :] - C[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = d2.argmin(1)
                recon[:, m] = C[m][codes[:, m]]
            mse = ((B - recon) ** 2).mean(axis=(1, 2))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": pdf["label"].to_numpy(),
                    "codes": list(codes),
                    "mse": mse,
                }
            )

    enc = em.select("vec_id", "label", "embedding").mapInPandas(
        encode, "vec_id long, label int, codes array<int>, mse double"
    )
    return (
        enc.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            r4(F.avg("mse")).alias("mean_mse"),
            F.min(F.array_min("codes")).alias("code_min"),
            F.max(F.array_max("codes")).alias("code_max"),
        )
        .orderBy("label")
    )


IVFPQ_RERANK = 4  # per-(query, cell) ADC shortlist width fed to exact rerank


def _pq_encode(df: DataFrame, bcb) -> DataFrame:
    """Encode (vec_id, cell, embedding) rows into PQ codes under the
    broadcast codebooks `bcb` — one Arrow-batch pass; output rows carry
    4-byte codes, never arrays. This is the write path of a persisted
    IVF-PQ index (llm/ann_index.py) as well as sim_ann_ivfpq's inline
    encode."""

    def encode(batches):
        import numpy as np
        import pandas as pd

        C = bcb.value
        sub = C.shape[2]
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
            B = V.reshape(len(V), PQ_M, sub)
            codes = np.zeros((len(V), PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                d2 = ((B[:, m, None, :] - C[m][None, :, :]) ** 2).sum(-1)
                codes[:, m] = d2.argmin(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cell": pdf["cell"].to_numpy(),
                    "codes": list(codes),
                }
            )

    return df.mapInPandas(encode, "vec_id long, cell int, codes array<int>")


def _ivfpq_nn(
    spark: SparkSession,
    em: DataFrame,
    coded: DataFrame,
    probed: DataFrame,
    bcb,
) -> DataFrame:
    """IVF-PQ serving path: bounded per-cell bundles of codes meet probed
    queries, ADC shortlists per (query, cell, chunk), and the pooled
    shortlist reranks EXACTLY from full-precision vectors in `em`.
    Returns (vec_id, nn_id). Shared by sim_ann_ivfpq (inline index) and
    sim_ann_index_sync (index persisted in a TableLog)."""
    # bounded bundles (see _bundle_by_cell): the ADC shortlist becomes
    # per-(query, cell, chunk), a SUPERSET of the per-(query, cell) one —
    # recall can only go up; the exact rerank still pools and dedups
    mb = _bundle_by_cell(coded, "codes", "m_items")
    qb = _bundle_by_cell(probed, "embedding", "q_items")
    scored = _ivfpq_scored(spark, em, mb, qb, bcb)
    return (
        scored.groupBy("qid")
        .agg(F.max(F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))).alias("b"))
        .select(F.col("qid").alias("vec_id"), (-F.col("b.nc")).alias("nn_id"))
    )


def _ivfpq_scored(
    spark: SparkSession,
    em: DataFrame,
    mb: DataFrame,
    qb: DataFrame,
    bcb,
    depth: int | None = None,
) -> DataFrame:
    """(qid, cid, cos) exact scores of the pooled ADC shortlist — the
    shared middle of the 1-NN and top-k IVF-PQ serving paths. `depth`
    widens the per-(query, cell, chunk) shortlist beyond IVFPQ_RERANK
    when the caller needs k > the 1-NN dial."""
    depth = IVFPQ_RERANK if depth is None else depth

    def cell_adc_shortlist(batches):
        import numpy as np
        import pandas as pd

        C = bcb.value  # M x K x sub
        for pdf in batches:
            out = {"qid": [], "cid": []}
            for q_items, m_items in zip(pdf["q_items"], pdf["m_items"]):
                qid = np.array([it["vec_id"] for it in q_items], dtype=np.int64)
                mid = np.array([it["vec_id"] for it in m_items], dtype=np.int64)
                codes = np.asarray([it["codes"] for it in m_items], dtype=np.int64)
                # reconstruct members from codes: gather per subspace
                recon = np.concatenate(
                    [C[m][codes[:, m]] for m in range(PQ_M)], axis=1
                )
                recon /= np.maximum(np.linalg.norm(recon, axis=1, keepdims=True), 1e-12)
                Q = np.asarray([it["embedding"] for it in q_items], dtype=np.float64)
                Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                S = Qn @ recon.T  # ADC scores
                S[qid[:, None] == mid[None, :]] = -np.inf
                top = np.argsort(-S, kind="stable", axis=1)[:, :depth]
                for i in range(len(qid)):
                    for j in top[i]:
                        if not np.isinf(S[i, j]):
                            out["qid"].append(int(qid[i]))
                            out["cid"].append(int(mid[j]))
            yield pd.DataFrame(out)

    shortlist = (
        qb.join(mb, "cell")
        .repartition(spark.sparkContext.defaultParallelism, "cell")
        .mapInPandas(cell_adc_shortlist, "qid long, cid long")
        .distinct()
    )
    # exact rerank of the pooled shortlist only: full-precision arrays
    # re-enter here, on |shortlist| rows — never on the candidate volume
    ea = em.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    eb = em.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    return (
        shortlist.join(ea, "qid")
        .join(eb, "cid")
        .mapInPandas(_einsum_score, "qid long, cid long, cos double")
    )


def _ivfpq_topk(
    spark: SparkSession,
    em: DataFrame,
    coded: DataFrame,
    probed: DataFrame,
    bcb,
    k: int,
) -> DataFrame:
    """Top-k variant of the IVF-PQ serving path: the same bounded-bundle
    ADC shortlist + exact pooled rerank, with the final selection a
    rank-k window (WindowGroupLimit pushes the limit map-side) instead
    of a single max. k is capped by the ADC shortlist depth — deeper k
    without a deeper shortlist would silently hand back low-recall
    tails. Returns (vec_id, nn_id, rank, cosine)."""
    mb = _bundle_by_cell(coded, "codes", "m_items")
    qb = _bundle_by_cell(probed, "embedding", "q_items")
    # the ADC shortlist deepens with k: the 1-NN dial (IVFPQ_RERANK)
    # would silently hand back low-recall tails past rank IVFPQ_RERANK
    scored = _ivfpq_scored(
        spark, em, mb, qb, bcb, depth=max(IVFPQ_RERANK, k)
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("cid").alias("nn_id"),
            "rank",
            r4(F.col("cos")).alias("cosine"),
        )
    )


@query("sim_ann_ivfpq", tags=("approx", "llm"))
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production-canonical billion-vector index, composed
    from the repo's pieces: IVF cells prune candidates (shared cached
    k-means quantizer), members are stored as 4-byte PQ codes
    (embed_pq's codebooks), candidate scoring is ASYMMETRIC-DISTANCE
    (full-precision query against PQ-reconstructed members — the ADC
    trick that keeps a 1e9-vector corpus in RAM), each (query, cell)
    keeps an IVFPQ_RERANK-deep ADC shortlist, and the pooled shortlist
    reranks EXACTLY from full-precision vectors. Output schema and float
    policy match sim_knn_join; recall vs exact is unit-asserted with the
    honest PQ-on-random-data floor (ADC is a lossy ranker — rerank width
    buys recall back, the standard IVF-PQ dial).

    Memory story at 100 TB: member arrays appear ONLY in codebook
    training and the final rerank join (|shortlist| rows); everything
    between moves 4-byte codes."""
    em = load(spark, sf_dir, "embeddings")
    members, probed = _ivf_assignments(
        spark, em, KNN_PROBES, refine_iters=KNN_KMEANS_ITERS
    )
    cb = _pq_train(spark, em, PQ_ITERS)
    bcb = spark.sparkContext.broadcast(cb)
    coded = _pq_encode(members, bcb)
    rer = _ivfpq_nn(spark, em, coded, probed, bcb)
    la = em.select("vec_id", F.col("embedding").alias("ea"), F.col("label").alias("la"))
    lb = em.select(
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("eb"),
        F.col("label").alias("lb"),
    )
    return (
        rer.join(la, "vec_id")
        .join(lb, "nn_id")
        .select(
            "vec_id",
            "nn_id",
            r4(cosine("ea", "eb")).alias("cosine"),
            (F.col("la") == F.col("lb")).alias("same_label"),
        )
    )


SEMDEDUP_CELL_CAP = 65_536  # per-cell O(m^2) guard; raise IVF_CELLS instead


@query("sim_semdedup", tags=("approx", "llm"))
def sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public): cluster
    the embedding corpus with the k-means coarse quantizer, compare
    pairs ONLY within a cluster (the paper's cost model: near-duplicates
    land in the same cell, so the candidate set is Σ m_c² instead of
    N²), and within each near-duplicate group keep the example FARTHEST
    from its centroid (the paper's keep-the-outlier choice — it
    preserves diversity). Deterministic greedy: cell members are
    processed in descending centroid-cosine order (ties by vec_id) and
    a member is DROPPED iff an already-kept member of its cell has
    cosine ≥ τ with it — so the kept set is exactly a maximal
    independent set in preference order, a property the unit test
    asserts both ways (no kept pair ≥ τ; every dropped vector has a
    kept witness ≥ τ).

    Rows-only gate (k-means is iterative); invariants unit-asserted.
    100 TB story: one broadcast-centroid assignment pass, one shuffle by
    cell, per-cell work bounded by the cell cap (at corpus scale you
    raise IVF_CELLS — the paper runs ~100k clusters — keeping m_c² flat;
    a cell past SEMDEDUP_CELL_CAP raises rather than silently thrashing).
    """
    import numpy as np
    import pandas as pd

    em = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent = _ivf_centroids(spark, em, refine_iters=KNN_KMEANS_ITERS)
    bc = spark.sparkContext.broadcast(cent)
    assigned = _assign_cells(em, bc, 1)
    tau = COSINE_TAU

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > SEMDEDUP_CELL_CAP:
            raise RuntimeError(
                f"semdedup cell holds {len(pdf)} vectors (> "
                f"{SEMDEDUP_CELL_CAP}); raise IVF_CELLS so per-cell "
                "pairwise work stays bounded"
            )
        V = np.asarray(list(pdf["embedding"]), dtype=np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        c = bc.value[int(pdf["cell"].iloc[0])]
        ccos = Vn @ c
        # descending centroid-cos ⇒ the LAST survivor of a duplicate
        # group is the farthest-from-centroid one... the greedy keeps
        # the FIRST seen, so order ASCENDING ccos (farthest first)
        order = np.lexsort((pdf["vec_id"].to_numpy(), ccos))
        S = Vn @ Vn.T
        kept: list[int] = []
        is_kept = np.zeros(len(pdf), dtype=bool)
        for i in order:
            if not kept or float(S[i, kept].max()) < tau:
                kept.append(int(i))
                is_kept[i] = True
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cell": pdf["cell"].to_numpy(),
                "centroid_cos": np.round(ccos, 4),
                "is_kept": is_kept,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        dedup_cell,
        "vec_id long, cell int, centroid_cos double, is_kept boolean",
    )
