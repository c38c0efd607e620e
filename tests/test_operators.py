"""Operator-level behavioral tests beyond oracle parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from atlas_migration_repo_spark.catalog import epoch_us
from atlas_migration_repo_spark.registry import QUERIES

from conftest import SF_DIR


def test_approx_count_distinct_accuracy(spark):
    """HLL++ at rsd=0.05 must land within 15% of the exact distinct count."""
    exact = {
        r["l_returnflag"]: r["n_parts"]
        for r in QUERIES["agg_count_distinct"].fn(spark, SF_DIR).collect()
    }
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in QUERIES["agg_approx_count_distinct"].fn(spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.15, (k, approx[k], ex)


def test_scan_pruned_pushes_filters(spark):
    """The pruned scan's physical plan must push its predicate into the
    parquet reader and read only the projected columns."""
    df = QUERIES["scan_pruned"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan
    assert "l_extendedprice" not in plan  # column pruning held


def test_minhash_lsh_matches_exact_jaccard(spark):
    """dedup_near (MinHash+LSH candidates, exact verify) must recover the
    full exact-Jaccard pair set on the fixture (planted dups are j>=0.5
    where 16x2 banding has >=99% per-pair recall; misses here are a bug)."""
    exact = {
        (r["da"], r["db"]) for r in QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    }
    lsh = {(r["da"], r["db"]) for r in QUERIES["dedup_near"].fn(spark, SF_DIR).collect()}
    assert lsh <= exact, f"LSH produced false positives: {lsh - exact}"
    assert lsh == exact, f"LSH missed pairs: {exact - lsh}"


def test_scale_sensitive_plan_shapes(spark):
    """Physical-plan regression guards for this round's scale fixes: the
    LSH rewrite of dedup_embed must never fall back to a broadcast
    nested-loop over the corpus, the shingle kernel must carry its
    stop-shingle df cap (a size(ds) filter on the grouped posting lists
    since the fold-into-aggregation rework), and the Bloom-prefiltered
    join must run its membership checks as broadcast left-semi joins."""
    plan = (
        QUERIES["dedup_embed"].fn(spark, SF_DIR)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, "dedup_embed regressed to all-pairs"
    plan = (
        QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR)._jdf.queryExecution()
        .executedPlan().toString()
    )
    import re

    assert re.search(r"size\(ds#\d+[^)]*\) < 1000", plan), (
        "shingle df-cap filter missing from plan"
    )
    plan = (
        QUERIES["join_bloom_prefilter"].fn(spark, SF_DIR)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert plan.count("LeftSemi") >= 3, "bloom membership checks not semi-joins"
    assert "BroadcastHashJoin" in plan


def test_sketch_guarantees(spark):
    """The sketch contracts that make them usable as pre-filters: CMS
    never underestimates any probed frequency, and the Bloom filter has
    zero false negatives (every present key must hit)."""
    cms = QUERIES["sketch_countmin_estimate"].fn(spark, SF_DIR).collect()
    assert cms, "probe sample unexpectedly empty"
    assert all(r["cms_est"] >= r["true_n"] for r in cms)
    bloom = QUERIES["sketch_bloom_probe"].fn(spark, SF_DIR).collect()
    assert all(r["bloom_hit"] for r in bloom if r["present"]), "Bloom false negative"
    assert any(r["present"] for r in bloom) and any(not r["present"] for r in bloom)


def test_ns_fixture_load_is_zone_pure(spark, tmp_path):
    """Loading an ns-precision events.parquet must yield µs TIMESTAMP_NTZ
    wall clocks WITHOUT mutating the caller session's time zone, and the
    result must be identical on any session zone (the old path pinned
    spark.sql.session.timeZone=UTC as a side effect)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from atlas_migration_repo_spark.catalog import load

    ns = 1_700_000_000_123_456_789  # ...123456789 ns → floor to ...123456 µs
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([ns], pa.timestamp("ns")),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"), store_schema=False)

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("America/New_York", "UTC"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            row = load(spark, str(tmp_path), "events").collect()[0]
            assert spark.conf.get("spark.sql.session.timeZone") == tz  # no mutation
            assert row["ts"].isoformat() == "2023-11-14T22:13:20.123456"
        df = load(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_keep_best_key_survives_large_doc_ids(spark):
    """The keep-best survivor key must implement 'longest text wins, lowest
    doc_id breaks ties' for doc_ids far past 1e7 (the old integer composite
    key n_chars*1e7-doc_id inverted the policy there)."""
    from atlas_migration_repo_spark.llm.dedup import _KEEP_BEST_KEY

    rows = [
        (50_000_001, 100),  # same length, higher id — must lose the tie
        (50_000_000, 100),  # same length, lowest id — keeper
        (49_999_999, 99),  # shorter — must lose despite lowest id
    ]
    d = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = d.agg(
        F.expr(f"max_by(doc_id, {_KEEP_BEST_KEY.format(t='string')})").alias("k")
    ).collect()[0]["k"]
    assert got == 50_000_000


def test_salesforce_staging_roundtrip(spark, tmp_path):
    """End-to-end Bulk-API staging path: a CSV export directory (simulating
    Bulk API 2.0 job results) read back through SalesforceExtractor with an
    ObjectSpec schema must reproduce the source rows exactly — no header
    loss, no type drift. Uses the orders table as the stand-in object."""
    import shutil

    from atlas_migration_repo_spark.sources.salesforce import (
        ObjectSpec,
        SalesforceExtractor,
    )

    src = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(
            F.col("o_orderkey").alias("Id"),
            F.col("o_custkey").alias("CustomerKey__c"),
            F.col("o_orderstatus").alias("Status__c"),
            F.col("o_totalprice").alias("TotalPrice__c"),
            F.col("o_orderdate").cast("date").alias("OrderDate__c"),
        )
    )
    staging = str(tmp_path / "bulk")
    src.coalesce(2).write.option("header", "true").csv(f"{staging}/Atlas_Order__c")

    spec = ObjectSpec(
        name="Atlas_Order__c",
        fields=(
            ("Id", "long"),
            ("CustomerKey__c", "long"),
            ("Status__c", "string"),
            ("TotalPrice__c", "double"),
            ("OrderDate__c", "date"),
        ),
        watermark_field="OrderDate__c",
    )
    got = SalesforceExtractor(spark, staging_dir=staging).read(spec)
    assert [f.name for f in got.schema.fields] == [f for f, _ in spec.fields]
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, got.collect()))
    assert len(a) == len(b) and a == b
    # SOQL generation stays consistent with the spec the staging read used
    assert spec.soql().startswith("SELECT Id, CustomerKey__c")
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_s3a_config_helper(spark):
    """configure_s3 must land every fs.s3a.* key on the live session (and
    only from caller arguments — no baked-in buckets or secrets)."""
    import pytest

    from atlas_migration_repo_spark.sources.cloud import configure_s3, s3_path

    conf = configure_s3(
        spark,
        "example-bucket",
        region="us-east-1",
        credentials_provider="com.example.ProviderClass",
    )
    # every hadoop-level key must land on the session; the two sql-level
    # committer bindings validate their class at set-time and so apply only
    # where spark-hadoop-cloud is on the classpath (still in the recipe)
    for k, v in conf.items():
        if not k.startswith("spark.sql."):
            assert spark.conf.get(k) == v
    assert "spark.sql.sources.commitProtocolClass" in conf
    assert conf["spark.hadoop.fs.s3a.committer.name"] == "magic"
    assert (
        conf["spark.hadoop.fs.s3a.bucket.example-bucket.committer.magic.enabled"]
        == "true"
    )
    assert s3_path("example-bucket", "/atlas/orders") == "s3a://example-bucket/atlas/orders"
    with pytest.raises(ValueError):
        configure_s3(spark, "bad/bucket")


def test_airflow_dag_spec_generator():
    """The DAG-spec generator must emit a JSON-pure, acyclic
    extract->transform->load chain per object with watermark-driven
    incremental SOQL, and reject malformed inputs — all offline, no
    Airflow import anywhere in the module."""
    import importlib
    import json
    import sys

    import pytest

    from atlas_migration_repo_spark import orchestration as orch
    from atlas_migration_repo_spark.sources.salesforce import ObjectSpec

    importlib.reload(orch)
    assert not any(m.startswith("airflow") for m in sys.modules)

    acct = ObjectSpec(
        name="Account",
        fields=(("Id", "id"), ("Name", "string")),
        watermark_field="SystemModstamp",
    )
    atlas = ObjectSpec(
        name="Atlas_Object__c",
        fields=(("Id", "id"), ("Payload__c", "textarea")),
    )
    spec = orch.dag_spec(
        "atlas_migration",
        [acct, atlas],
        orch.SinkSpec(root="s3a://example-bucket/atlas/", partition_by=("load_date",)),
        schedule="@hourly",
    )
    ids = [t["task_id"] for t in spec["tasks"]]
    assert ids == [
        "extract_account",
        "transform_account",
        "load_account",
        "extract_atlas_object__c",
        "transform_atlas_object__c",
        "load_atlas_object__c",
        "publish",
    ]
    by_id = {t["task_id"]: t for t in spec["tasks"]}
    # watermarked object: templated incremental predicate + append mode
    assert "SystemModstamp > {{ data_interval_start" in by_id["extract_account"]["soql"]
    assert by_id["load_account"]["mode"] == "append"
    # non-watermarked object: full extract, overwrite
    assert "WHERE" not in by_id["extract_atlas_object__c"]["soql"]
    assert by_id["load_atlas_object__c"]["mode"] == "overwrite"
    assert by_id["load_atlas_object__c"]["sink_path"] == (
        "s3a://example-bucket/atlas/atlas_object__c"
    )
    assert by_id["publish"]["depends_on"] == ["load_account", "load_atlas_object__c"]
    assert len(by_id["extract_account"]["partition_predicates"]) == 8
    json.loads(json.dumps(spec))  # pure data round-trip

    with pytest.raises(ValueError, match="at least one"):
        orch.dag_spec("empty", [], orch.SinkSpec(root="/tmp/x"))
    with pytest.raises(ValueError, match="duplicate object"):
        orch.dag_spec("dup", [acct, acct], orch.SinkSpec(root="/tmp/x"))


def test_driver_sample_prefix_spans_families():
    """The first ~50 registry entries are what the correctness gate
    hash-verifies. The order follows load_all_modules' rule: the family
    representatives (every name must resolve — one stale name would
    silently shrink gate coverage), then every oracle-gated key no
    committed CORRECTNESS_r*.json has sampled, then the rest. The
    representatives must span the core operator families."""
    import json
    from pathlib import Path

    from atlas_migration_repo_spark.registry import _FAMILY_REPRESENTATIVES, QUERIES

    reps = list(_FAMILY_REPRESENTATIVES)
    missing = [n for n in reps if n not in QUERIES]
    assert missing == [], f"representatives not in registry: {missing}"
    keys = list(QUERIES)
    assert keys[: len(reps)] == reps
    seen: set[str] = set()
    for p in sorted(Path(__file__).resolve().parent.parent.glob("CORRECTNESS_r*.json")):
        seen |= set(json.loads(p.read_text()))
    rest = keys[len(reps) :]
    fresh = [k for k in rest if QUERIES[k].oracle and k not in seen]
    assert rest[: len(fresh)] == fresh, "unsampled oracle-gated keys must follow the representatives"
    fams = {QUERIES[n].fn.__module__.split(".", 1)[1] for n in reps}
    core = {
        "operators.scans",
        "operators.filters",
        "operators.aggregates",
        "operators.joins",
        "operators.windows",
        "operators.setops",
        "operators.goldens",
        "operators.pivots",
        "operators.etl",
        "operators.relational_ext",
        "sources.files",
        "functions.scalars",
        "functions.udfs",
        "streaming.windows",
        "llm.text",
        "llm.dedup",
    }
    assert fams == core, f"families missing from the representatives: {core - fams}"


def test_shingle_df_cap_excludes_hot_shingle(spark):
    """The inverted-index kernel must drop shingles whose document
    frequency reaches the cap: a synthetic boilerplate shingle shared by
    100 docs (df=100, would alone produce 4950 candidate pairs on one join
    key) is excluded at cap=50, while a rare shingle shared by 2 docs
    survives — converting the docstring's stop-shingle claim into code."""
    from atlas_migration_repo_spark.llm.dedup import _shingle_posting_list

    hot = "spam spam spam"  # one 3-gram shingle per doc
    docs = [(i, hot) for i in range(100)] + [
        (100, "rare pair marker"),
        (101, "rare pair marker"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    uncapped = _shingle_posting_list(d, cap=1000)
    capped = _shingle_posting_list(d, cap=50)
    assert uncapped.where("shingle = 'spam spam spam'").count() == 100
    assert capped.where("shingle = 'spam spam spam'").count() == 0
    assert capped.where("shingle = 'rare pair marker'").count() == 2
    # candidate volume drop: self-join pairs go from 4950+1 to 1
    c = capped.alias("a").join(
        capped.alias("b"),
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    assert c.count() == 1


def test_dedup_embed_lsh_matches_brute_force(spark):
    """dedup_embed (LSH-bucketed candidates, exact chain-dot verify) must
    recover the full brute-force cosine>=tau pair set: precision 1.0 by
    construction (candidates are exact-verified), recall 1.0 measured on
    every fixture for the chosen band/probe parameters — a miss here means
    the multiprobe margin broke and is a bug."""
    import numpy as np

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        " ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = np.array([r[0] for r in rows])
    v = np.array([r[1] for r in rows], dtype=np.float64)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    s = vn @ vn.T
    iu = np.triu_indices(len(v), 1)
    exact = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*iu)
        if s[i, j] >= 0.45
    }
    lsh = {(r["va"], r["vb"]) for r in QUERIES["dedup_embed"].fn(spark, SF_DIR).collect()}
    assert lsh - exact == set() or all(
        # BLAS vs chain-dot summation can disagree only within float ulp of
        # the threshold; anything further out is a real false positive
        abs(s[np.where(ids == a)[0][0], np.where(ids == b)[0][0]] - 0.45) < 1e-9
        for a, b in lsh - exact
    ), f"false positives: {lsh - exact}"
    assert exact - lsh == set(), f"LSH missed pairs: {exact - lsh}"

    # the dense-regime blocked-exact path (engaged when expected bucket
    # occupancy passes DEDUP_LSH_OCC_CROSSOVER) must produce the identical
    # pair set AND cosines — exactness is structural, not probabilistic
    import atlas_migration_repo_spark.llm.similarity as _sim

    saved = _sim.DEDUP_LSH_OCC_CROSSOVER
    try:
        _sim.DEDUP_LSH_OCC_CROSSOVER = -1.0  # force the blocked path
        blocked = {
            (r["va"], r["vb"], r["cosine"])
            for r in QUERIES["dedup_embed"].fn(spark, SF_DIR).collect()
        }
        _sim.DEDUP_LSH_OCC_CROSSOVER = float("inf")  # force the LSH path
        lsh_full = {
            (r["va"], r["vb"], r["cosine"])
            for r in QUERIES["dedup_embed"].fn(spark, SF_DIR).collect()
        }
    finally:
        _sim.DEDUP_LSH_OCC_CROSSOVER = saved
    assert blocked == lsh_full, (
        f"blocked/LSH path divergence: {blocked ^ lsh_full}"
    )


def test_simhash_deterministic_and_discriminative(spark):
    """Two runs agree bit-for-bit; chunk keys are consistent with the bits;
    and the planted near-dup pairs are closer in hamming distance than
    random pairs on average."""
    rows1 = {r["doc_id"]: r for r in QUERIES["dedup_simhash"].fn(spark, SF_DIR).collect()}
    rows2 = {r["doc_id"]: r for r in QUERIES["dedup_simhash"].fn(spark, SF_DIR).collect()}
    assert {k: v["simhash_bits"] for k, v in rows1.items()} == {
        k: v["simhash_bits"] for k, v in rows2.items()
    }
    some = next(iter(rows1.values()))
    assert int(some["simhash_bits"][:16], 2) == some["chunk0"]
    assert int(some["simhash_bits"][48:], 2) == some["chunk3"]

    def ham(a, b):
        return sum(x != y for x, y in zip(rows1[a]["simhash_bits"], rows1[b]["simhash_bits"]))

    dup_pairs = [
        (r["da"], r["db"]) for r in QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    ]
    assert dup_pairs, "fixture should contain planted near-dup pairs"
    ids = sorted(rows1)[:40]
    rand_pairs = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]]
    dup_avg = sum(ham(a, b) for a, b in dup_pairs) / len(dup_pairs)
    rand_avg = sum(ham(a, b) for a, b in rand_pairs) / len(rand_pairs)
    assert dup_avg < rand_avg / 2, (dup_avg, rand_avg)


def test_ann_lsh_recall_vs_exact(spark):
    """Bucketed ANN must find a neighbor for a reasonable share of vectors
    and, where it does, agree with the exact 1-NN or score close to it."""
    exact = {r["vec_id"]: r for r in QUERIES["sim_knn_join"].fn(spark, SF_DIR).collect()}
    ann = {r["vec_id"]: r for r in QUERIES["sim_ann_lsh"].fn(spark, SF_DIR).collect()}
    assert set(ann) == set(exact)  # one row per vector
    matched = [v for v in ann.values() if v["ann_id"] is not None]
    assert len(matched) > len(ann) * 0.3, "too many singleton buckets"
    hits = sum(1 for v in matched if exact[v["vec_id"]]["nn_id"] == v["ann_id"])
    # ANN found-neighbor quality: cosine within 0.25 of the exact best
    close = sum(
        1
        for v in matched
        if v["cosine"] is not None
        and exact[v["vec_id"]]["cosine"] - v["cosine"] <= 0.25
    )
    assert close / len(matched) > 0.8, (close, len(matched))
    assert hits > 0  # at least some exact-best neighbors recovered


def test_multimodal_plumbing_with_fake_decoder(spark):
    """extract_media_features streams (payload, meta) Arrow batches through
    a pluggable decoder; the deterministic fake verifies schema, row
    fidelity, and per-doc feature values end-to-end."""
    from atlas_migration_repo_spark.catalog import epoch_us, load
    from atlas_migration_repo_spark.llm import multimodal as mm

    d = load(spark, SF_DIR, "documents")
    env = mm.with_binary_payload(d)
    out = mm.extract_media_features(env)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == d.count()
    src = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    for doc_id in list(src)[:20]:
        payload = src[doc_id].encode("utf-8")
        assert rows[doc_id]["n_bytes"] == len(payload)
        assert rows[doc_id]["feature"] == float(sum(payload) % 997)


def test_decode_stubs_raise():
    from atlas_migration_repo_spark.llm import multimodal as mm

    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.decode_image(b"", "image/png")
    with _pytest.raises(NotImplementedError):
        mm.decode_audio(b"", "audio/wav")


def test_salesforce_connector_boundary(spark):
    """Offline parts of the Salesforce extract boundary: SOQL generation,
    schema mapping, disjoint partition predicates, and the gated live path."""
    from atlas_migration_repo_spark.sources.salesforce import (
        ObjectSpec,
        SalesforceExtractor,
    )

    spec = ObjectSpec(
        name="Atlas_Object__c",
        fields=(("Id", "id"), ("Name", "string"), ("Amount__c", "currency"),
                ("SystemModstamp", "datetime")),
        where="IsDeleted = FALSE",
        watermark_field="SystemModstamp",
    )
    assert spec.soql() == (
        "SELECT Id, Name, Amount__c, SystemModstamp FROM Atlas_Object__c "
        "WHERE (IsDeleted = FALSE)"
    )
    assert "SystemModstamp > 2024-01-01T00:00:00Z" in spec.soql(
        since="2024-01-01T00:00:00Z"
    )
    assert [f.dataType.simpleString() for f in spec.spark_schema().fields] == [
        "string", "string", "decimal(18,2)", "timestamp"
    ]
    preds = spec.partition_predicates(8)
    assert len(preds) == 8
    # every base-62 char appears in exactly one partition
    alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    seen = [chunk[0] for p in preds for chunk in p.split("'%")[1:]]
    assert sorted(seen) == sorted(alphabet)

    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        SalesforceExtractor(spark).read(spec)


def test_bucketed_join_has_no_shuffle(spark):
    """The bucketed join's final plan must contain no Exchange above the
    bucketed scans — co-location replaces the shuffle."""
    df = QUERIES["join_bucketed"].fn(spark, SF_DIR)
    df.count()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    join_part = plan.split("SortMergeJoin")[0] if "SortMergeJoin" in plan else plan
    assert "Exchange hashpartitioning" not in join_part.split("HashAggregate")[-1]
    # stronger: the join inputs read bucketed files directly
    assert "Bucketed: true" in plan


def test_partition_pruned_scan_plan(spark):
    """The partition-key filter must become a PartitionFilter (directory
    pruning), not a data filter."""
    df = QUERIES["scan_partition_pruned"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan
    assert "(l_returnflag" in plan.split("PartitionFilters")[1][:120]


def test_salted_join_matches_unsalted(spark):
    """Salting must not change semantics: same rows as the plain join."""
    from atlas_migration_repo_spark.catalog import epoch_us, load
    from pyspark.sql import functions as F

    salted = {
        (r["user_id"], r["event_type"]): (r["n"], r["user_total"])
        for r in QUERIES["join_salted"].fn(spark, SF_DIR).collect()
    }
    ev = load(spark, SF_DIR, "events")
    dim = ev.groupBy(F.col("user_id").alias("uk")).agg(F.count(F.lit(1)).alias("user_total"))
    plain = {
        (r["user_id"], r["event_type"]): (r["n"], r["user_total"])
        for r in ev.join(dim, ev.user_id == dim.uk)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.any_value("user_total").alias("user_total"))
        .collect()
    }
    assert salted == plain


def test_resample_grid_dense_and_filled(spark):
    """The per-user hourly grid has no holes (count == span hours + 1) and
    forward-fill leaves no NULLs (hour 0 always has an observation)."""
    from pyspark.sql import functions as F

    df = QUERIES["ts_resample_ffill"].fn(spark, SF_DIR)
    agg = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        ((epoch_us(F.max("hour_ts")) - epoch_us(F.min("hour_ts")))
         / 3_600_000_000 + 1).alias("span_hours"),
        F.sum(F.col("value_ffill").isNull().cast("int")).alias("nulls"),
    )
    for r in agg.collect():
        assert r["n"] == int(r["span_hours"]), r
        assert r["nulls"] == 0, r


def test_sessionize_conserves_events(spark):
    """Session stats must partition the event set: per-user total_events
    equals the raw per-user event count."""
    from atlas_migration_repo_spark.catalog import epoch_us, load
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: r["total_events"]
        for r in QUERIES["sessionize_batch"].fn(spark, SF_DIR).collect()
    }
    raw = {
        r["user_id"]: r["n"]
        for r in load(spark, SF_DIR, "events").groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert got == raw


def test_subqueries_decorrelated(spark):
    """Correlated subquery and EXISTS/NOT EXISTS plans must contain no
    nested-loop per-row subquery execution — Catalyst rewrites them to
    aggregate+join / semi / anti joins."""
    plan = (
        QUERIES["subq_correlated"].fn(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" in plan
    plan2 = (
        QUERIES["subq_exists"].fn(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftSemi" in plan2 and "LeftAnti" in plan2


def test_ann_ivf_recall_vs_exact(spark):
    """IVF multiprobe ANN: every vector gets a row, nearly all find a
    candidate, and found neighbors score close to the exact 1-NN."""
    exact = {r["vec_id"]: r for r in QUERIES["sim_knn_join"].fn(spark, SF_DIR).collect()}
    ann = {r["vec_id"]: r for r in QUERIES["sim_ann_ivf"].fn(spark, SF_DIR).collect()}
    assert set(ann) == set(exact)
    matched = [v for v in ann.values() if v["ann_id"] is not None]
    assert len(matched) > len(ann) * 0.9, "probe cells unexpectedly empty"
    close = sum(
        1
        for v in matched
        if v["cosine"] is not None
        and exact[v["vec_id"]]["cosine"] - v["cosine"] <= 0.25
    )
    assert close / len(matched) > 0.8, (close, len(matched))
    hits = sum(1 for v in matched if exact[v["vec_id"]]["nn_id"] == v["ann_id"])
    assert hits > 0


def test_sim_knn_ann_recall_and_exact_rescore(spark):
    """The composed ANN→exact path (VERDICT r3 weak-fix): recall@1 vs the
    exact sim_knn_join must be ≥ 0.95, every vector must get an answer,
    and wherever ANN found the true neighbor the emitted cosine must be
    bit-identical to the exact scorer's (same chain-dot float policy)."""
    exact = {r["vec_id"]: r for r in QUERIES["sim_knn_join"].fn(spark, SF_DIR).collect()}
    ann = {r["vec_id"]: r for r in QUERIES["sim_knn_ann"].fn(spark, SF_DIR).collect()}
    assert set(ann) == set(exact), "ANN must answer for every vector"
    hits = [v for v, r in exact.items() if ann[v]["nn_id"] == r["nn_id"]]
    recall = len(hits) / len(exact)
    assert recall >= 0.95, f"recall@1 {recall:.3f} < 0.95"
    for v in hits:
        assert ann[v]["cosine"] == exact[v]["cosine"], v
        assert ann[v]["same_label"] == exact[v]["same_label"], v


def test_sim_knn_join_ranks_by_exact_chain_cosine(spark, tmp_path):
    """Adversarial near-tie (VERDICT r4 "what's wrong" #1): two candidates
    whose TRUE cosines to the query are mathematically equal (b2 is b1
    with two coordinates swapped where the query's coordinates are equal)
    but whose float64 rounding differs — and where the BLAS
    normalize-first value and the sequential chain value ORDER THEM
    DIFFERENTLY. The oracle ranks by the exact chain (`ORDER BY cos DESC,
    nn`), so sim_knn_join must pick the chain winner, not the BLAS one."""
    import math
    import os

    import numpy as np

    def chain_cos(x, y):
        s = nx = ny = 0.0
        for i in range(len(x)):
            xi, yi = float(x[i]), float(y[i])
            s += xi * yi
            nx += xi * xi
        for yi in y:
            ny += float(yi) * float(yi)
        return s / (math.sqrt(nx) * math.sqrt(ny))

    found = None
    for seed in range(500):
        rng = np.random.RandomState(seed)
        a = rng.uniform(-1, 1, 64).astype(np.float32)
        p, q = 3, 40
        a[q] = a[p]  # query symmetric in (p, q): true cosines tie exactly
        b1 = rng.uniform(-1, 1, 64).astype(np.float32)
        b2 = b1.copy()
        b2[p], b2[q] = b1[q], b1[p]
        if b1[p] == b1[q]:
            continue
        # replicate the implementation's BLAS selection on the exact
        # 3-row block the fixture will produce
        A = np.asarray([a, b1, b2], dtype=np.float64)
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        S = (An @ An.T)[0]
        sel1, sel2 = S[1], S[2]
        ex1, ex2 = chain_cos(a, b1), chain_cos(a, b2)
        if sel1 == sel2 or ex1 == ex2:
            continue
        if (sel1 > sel2) != (ex1 > ex2):
            found = (a, b1, b2, ex1, ex2, sel1, sel2)
            break
    assert found is not None, "no adversarial pair found in 500 seeds"
    a, b1, b2, ex1, ex2, sel1, sel2 = found

    # id assignment: give the CHAIN winner the larger vec_id so neither
    # the BLAS value nor the ascending-id tiebreak could pick it by luck
    chain_winner_vec = b1 if ex1 > ex2 else b2
    blas_winner_vec = b1 if sel1 > sel2 else b2
    rows = [
        (0, [float(v) for v in a], 0),
        (1, [float(v) for v in blas_winner_vec], 1),
        (2, [float(v) for v in chain_winner_vec], 2),
    ]
    fx = str(tmp_path / "sf_adv")
    os.makedirs(fx, exist_ok=True)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(fx, "embeddings.parquet")
    )
    got = {r["vec_id"]: r for r in QUERIES["sim_knn_join"].fn(spark, fx).collect()}
    assert got[0]["nn_id"] == 2, (
        f"picked BLAS winner over chain winner: sel=({sel1!r},{sel2!r}) "
        f"exact=({ex1!r},{ex2!r})"
    )


def test_ann_bundle_rows_bounded_under_skew(spark, monkeypatch):
    """Degenerate-skew guard (VERDICT r4 weak #2): with the quantizer
    forced to ONE cell (the whole corpus lands in it), per-cell bundling
    must still emit bundle rows of at most ANN_BUNDLE_CAP items — never
    one corpus-sized row — while the end-to-end ANN selection stays
    identical to the exact scorer (a single cell prunes nothing, so
    recall must be exactly 1.0)."""
    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.llm import similarity as S

    monkeypatch.setattr(S, "IVF_CELLS", 1)
    monkeypatch.setattr(S, "ANN_BUNDLE_CAP", 16)
    # quantizer is trained per invocation since r11 — no cache to reset
    em = load(spark, SF_DIR, "embeddings")
    n = em.count()
    members, _probed = S._ivf_assignments(spark, em, 4)
    mb = S._bundle_by_cell(members, "embedding", "m_items")
    sizes = [r["n"] for r in mb.select(F.size("m_items").alias("n")).collect()]
    assert max(sizes) <= 16, f"bundle row exceeded cap: {max(sizes)}"
    assert sum(sizes) == n  # chunking loses nothing
    assert len(sizes) >= n // 16  # genuinely split, not one row

    exact = {
        r["vec_id"]: r["nn_id"]
        for r in QUERIES["sim_knn_join"].fn(spark, SF_DIR).collect()
    }
    ann = {
        r["vec_id"]: r["nn_id"]
        for r in QUERIES["sim_knn_ann"].fn(spark, SF_DIR).collect()
    }
    assert ann == exact, "single-cell ANN must match exact 1-NN"


def test_ann_index_sync_matches_rebuild(spark):
    """Persisted-index maintenance (VERDICT r4 next #5): after a 10%
    embeddings append, the index synced from changes() (delta-encode
    under the stored quantizer, no retrain) must lose no measurable
    recall vs a from-scratch rebuild on the full corpus — and the sync
    must have indexed ONLY the delta (codes v0 = 90%, v1 adds the 10%)."""
    import shutil

    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.llm.ann_index import (
        build_ann_index,
        indexed_version,
        serve_ann_index,
        sync_ann_index,
    )
    from atlas_migration_repo_spark.sources.files import scratch_path
    from atlas_migration_repo_spark.sources.table_log import TableLog

    exact = {
        r["vec_id"]: r["nn_id"]
        for r in QUERIES["sim_knn_join"].fn(spark, SF_DIR).collect()
    }
    synced = {
        r["vec_id"]: r["nn_id"]
        for r in QUERIES["sim_ann_index_sync"].fn(spark, SF_DIR).collect()
    }
    assert set(synced) == set(exact), "index must answer for every vector"

    # delta-only maintenance: codes log grew by exactly the appended 10%
    em_all = load(spark, SF_DIR, "embeddings")
    n = em_all.count()
    n90 = em_all.where(F.col("vec_id") % 10 != 0).count()
    codes_log = TableLog(scratch_path(SF_DIR, "ann_index") + "/codes")
    assert indexed_version(codes_log) == 1
    assert codes_log.read(spark, version=0).count() == n90
    assert codes_log.read(spark).count() == n
    assert codes_log.read(spark).select("vec_id").distinct().count() == n

    # from-scratch rebuild on the full corpus for the recall bar
    rb_root = scratch_path(SF_DIR, "ann_index_rebuild")
    shutil.rmtree(rb_root, ignore_errors=True)
    em = em_all.select("vec_id", "embedding", "label")
    build_ann_index(spark, em, rb_root, source_version=0)
    rebuilt = {
        r["vec_id"]: r["nn_id"]
        for r in serve_ann_index(
            spark, rb_root, em.select("vec_id", "embedding"), em
        ).collect()
    }
    rec_sync = sum(1 for v, nn in synced.items() if exact[v] == nn) / len(exact)
    rec_rebuild = sum(1 for v, nn in rebuilt.items() if exact[v] == nn) / len(exact)
    assert rec_sync >= 0.75, f"synced recall {rec_sync:.3f} below floor"
    assert rec_sync >= rec_rebuild - 0.02, (rec_sync, rec_rebuild)


def test_ann_index_compact_drops_deleted(spark, tmp_path):
    """Index OPTIMIZE after table deletes: compact_ann_index must drop
    exactly the de-listed vectors' codes (semi join on the code table),
    keep every live entry, and the served neighbors must never reference
    a deleted vector — while results for live vectors keep flowing."""
    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.llm.ann_index import (
        build_ann_index,
        compact_ann_index,
        serve_ann_index,
    )
    from atlas_migration_repo_spark.sources.table_log import TableLog

    em_all = (
        load(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("b", (F.col("vec_id") % 5).cast("int"))
    )
    em_log = TableLog(str(tmp_path / "em"))
    em_log.append(em_all, partition_by=["b"])
    idx = str(tmp_path / "idx")
    build_ann_index(spark, em_log.read(spark), idx, source_version=0)
    n_total = em_all.count()
    n_deleted = em_all.where(F.col("b") == 0).count()
    em_log.delete_where(lambda pv: pv.get("b") == "0")

    assert compact_ann_index(spark, em_log, idx) == n_deleted
    codes = TableLog(idx + "/codes").read(spark)
    assert codes.count() == n_total - n_deleted
    assert codes.where(F.col("vec_id") % 5 == 0).count() == 0
    assert compact_ann_index(spark, em_log, idx) == 0  # idempotent

    em = em_log.read(spark)
    served = serve_ann_index(spark, idx, em.select("vec_id", "embedding"), em)
    rows = served.collect()
    assert len(rows) == n_total - n_deleted
    assert all(r["nn_id"] % 5 != 0 for r in rows)


def test_approx_percentile_accuracy(spark):
    """percentile_approx at accuracy=1000 must land within 2% of the exact
    per-group median."""
    exact = {
        r["l_returnflag"]: r["median_price"]
        for r in QUERIES["agg_percentile"].fn(spark, SF_DIR).collect()
    }
    approx = {
        r["l_returnflag"]: r["approx_median"]
        for r in QUERIES["agg_approx_percentile"].fn(spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    for k, ex in exact.items():
        assert abs(approx[k] - ex) / ex < 0.02, (k, approx[k], ex)


def test_dedup_clusters_consistent_with_pairs(spark):
    """CC invariants: both ends of every near-dup pair share a cluster;
    cluster_id is the min doc_id of its members; canonicals are exactly
    the cluster ids."""
    pairs = [
        (r["da"], r["db"])
        for r in QUERIES["dedup_ngram_jaccard"].fn(spark, SF_DIR).collect()
    ]
    clus = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in QUERIES["dedup_clusters"].fn(spark, SF_DIR).collect()
    }
    assert pairs, "fixture should contain near-dup pairs"
    for a, b in pairs:
        assert clus[a][0] == clus[b][0], (a, b, clus[a], clus[b])
    members: dict[int, list[int]] = {}
    for doc, (cid, _) in clus.items():
        members.setdefault(cid, []).append(doc)
    for cid, docs in members.items():
        assert cid == min(docs)
    canon = {d for d, (_, is_c) in clus.items() if is_c}
    assert canon == set(members)


def test_embed_kmeans_invariants(spark):
    """K-means partitions the corpus: ≤K non-empty clusters, sizes sum to
    N, mean within-cluster distance is finite and non-negative."""
    import duckdb

    rows = QUERIES["embed_kmeans"].fn(spark, SF_DIR).collect()
    n_vecs = duckdb.sql(
        f"select count(*) from '{SF_DIR}/embeddings.parquet'"
    ).fetchone()[0]
    assert 0 < len(rows) <= 8
    assert sum(r["n_members"] for r in rows) == n_vecs
    assert all(r["mean_dist"] >= 0 for r in rows)


def test_sink_compacted_file_count(spark):
    """Compaction must actually bound the file count (2 part files)."""
    import glob

    from atlas_migration_repo_spark.sources.files import scratch_path

    QUERIES["sink_compacted"].fn(spark, SF_DIR).collect()
    parts = glob.glob(scratch_path(SF_DIR, "events_compacted") + "/part-*")
    assert len(parts) == 2, parts


def test_hll_mergeable_accuracy(spark):
    """Region-level HLL union estimates must be within 5% of the exact
    distinct customer counts."""
    import duckdb

    approx = {
        r["r_name"]: r["approx_customers"]
        for r in QUERIES["agg_hll_mergeable"].fn(spark, SF_DIR).collect()
    }
    exact = dict(
        duckdb.sql(f"""
        SELECT r_name, COUNT(DISTINCT c_custkey)
        FROM '{SF_DIR}/customer.parquet' c
        JOIN '{SF_DIR}/nation.parquet' n ON c_nationkey = n_nationkey
        JOIN '{SF_DIR}/region.parquet' r ON n_regionkey = r_regionkey
        GROUP BY r_name""").fetchall()
    )
    assert set(approx) == set(exact)
    for name, ex in exact.items():
        assert abs(approx[name] - ex) / ex < 0.05, (name, approx[name], ex)


def test_funnel_counts_monotone(spark):
    """Funnel stages can only narrow: users >= signup >= signup→view >=
    full funnel, and every count is non-negative."""
    r = QUERIES["funnel_conversion"].fn(spark, SF_DIR).collect()[0]
    assert (
        r["n_users"]
        >= r["n_signup"]
        >= r["n_signup_then_view"]
        >= r["n_full_funnel"]
        >= 0
    )
    assert r["n_full_funnel"] > 0  # fixture has enough events to convert


def test_retention_week0_is_cohort_size(spark):
    """Every cohort has an offset_week=0 row (the user's first event is in
    week 0 by construction) and all offsets are non-negative."""
    rows = QUERIES["retention_cohort"].fn(spark, SF_DIR).collect()
    cohorts = {r["cohort_day"] for r in rows}
    week0 = {r["cohort_day"] for r in rows if r["offset_week"] == 0}
    assert cohorts == week0
    assert all(r["offset_week"] >= 0 for r in rows)


def test_gap_detect_bounds(spark):
    """Every reported gap exceeds the threshold and both endpoints are
    real event times with start < end."""
    from atlas_migration_repo_spark.operators.analytics import GAP_HOURS

    rows = QUERIES["ts_gap_detect"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["gap_seconds"] >= GAP_HOURS * 3600
        assert r["gap_start"] < r["gap_end"]


def test_reconcile_finds_planted_faults(spark):
    """The reconciliation must flag exactly the planted fault keys:
    %101 drops as missing_target, %97 mutations as hash_mismatch."""
    rows = QUERIES["reconcile_rowhash"].fn(spark, SF_DIR).collect()
    missing = {r["c_custkey"] for r in rows if r["status"] == "missing_target"}
    mismatch = {r["c_custkey"] for r in rows if r["status"] == "hash_mismatch"}
    assert missing and all(k % 101 == 0 for k in missing)
    # a key hit by both faults surfaces as missing (it left the target)
    assert mismatch and all(k % 97 == 0 and k % 101 != 0 for k in mismatch)


def test_embed_quantize_codes_and_error(spark):
    """Quantized codes stay in [0, 255], dimension is preserved, and the
    reconstruction MAE is below half a quantization step."""
    rows = QUERIES["embed_quantize"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows[:50]:
        codes = [int(v) for v in r["q"].split(",")]  # canonical CSV string
        assert len(codes) == 64
        assert all(0 <= v <= 255 for v in codes)
        assert 0.0 <= r["mae"] < 0.5  # << step/2 for any sane [mn,mx] span


def test_range_binned_matches_naive(spark):
    """The binned interval join must produce exactly the naive O(n²)
    pair set (same-user, |Δt| <= window)."""
    import itertools

    from atlas_migration_repo_spark.catalog import epoch_us, load
    from atlas_migration_repo_spark.operators.joins import RANGE_WIN_US

    from pyspark.sql import functions as F

    ev = (
        load(spark, SF_DIR, "events")
        .select("user_id", "event_id", epoch_us("ts").alias("t"))
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in ev:
        by_user.setdefault(r["user_id"], []).append(r)
    naive = set()
    for rows in by_user.values():
        for a, b in itertools.combinations(rows, 2):
            if abs(a["t"] - b["t"]) <= RANGE_WIN_US:
                lo, hi = sorted((a["event_id"], b["event_id"]))
                naive.add((lo, hi))
    got = {
        (r["ea"], r["eb"])
        for r in QUERIES["join_range_binned"].fn(spark, SF_DIR).collect()
    }
    assert got == naive


def test_dedup_chunks_cross_doc_only(spark):
    """Every reported chunk hash spans >= 2 distinct documents."""
    rows = QUERIES["dedup_chunks"].fn(spark, SF_DIR).collect()
    assert rows
    docs_per_hash: dict[str, set] = {}
    for r in rows:
        docs_per_hash.setdefault(r["chunk_hash"], set()).add(r["doc_id"])
    assert all(len(d) >= 2 for d in docs_per_hash.values())


def test_join_dpp_prunes_partitions(spark):
    """The day-partitioned fact scan must carry a dynamic pruning
    expression fed by the dim subquery — only the dim's 3 days are read."""
    df = QUERIES["join_dpp"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan


def test_recursive_cte_full_calendar(spark):
    """The recursive month calendar spans 1995-01..2001-08 inclusive (80
    months) with no gaps, and months with orders carry positive revenue."""
    rows = QUERIES["sql_recursive_cte"].fn(spark, SF_DIR).collect()
    assert len(rows) == 80
    assert all(r["n_orders"] >= 0 and r["revenue"] >= 0.0 for r in rows)
    assert sum(r["n_orders"] for r in rows) > 0


def test_pagerank_invariants(spark):
    """Ranks form a (sub-)distribution: each >= (1-d)/N, total <= 1 and
    close to 1 (dangling mass only), 25 nations, deterministic rerun."""
    from atlas_migration_repo_spark.operators.analytics import PR_DAMPING

    rows = {r["n_name"]: r["rank"] for r in QUERIES["pagerank_nations"].fn(spark, SF_DIR).collect()}
    n = len(rows)
    assert n == 25
    total = sum(rows.values())
    assert 0.9 <= total <= 1.0 + 1e-6, total
    assert all(v >= (1 - PR_DAMPING) / n - 1e-9 for v in rows.values())
    rows2 = {r["n_name"]: r["rank"] for r in QUERIES["pagerank_nations"].fn(spark, SF_DIR).collect()}
    assert rows == rows2


def test_transform_with_state_gated(spark):
    """transformWithStateInPandas registers only when the protobuf runtime
    works (this container's google.protobuf is broken — documented gap,
    mirroring the absent spark-avro jar). When available, it must match
    the batch per-user min/max/count."""
    from atlas_migration_repo_spark.streaming.stateful import (
        stream_transform_with_state,
        tws_available,
    )

    if not tws_available():
        assert "stream_transform_with_state" not in QUERIES
        return
    from atlas_migration_repo_spark.catalog import epoch_us, load
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: (r["n_events"], r["value_min"], r["value_max"])
        for r in stream_transform_with_state(spark, SF_DIR).collect()
    }
    exp = {
        r["user_id"]: (r["n"], r["mn"], r["mx"])
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    }
    assert got == exp


def test_sink_sorted_files_nonoverlapping_ranges(spark):
    """After the sorted sink, each partition directory's files must cover
    pairwise non-overlapping l_shipdate ranges (what makes min/max
    row-group pruning effective), and there must be >1 file somewhere
    (maxRecordsPerFile actually split)."""
    from atlas_migration_repo_spark.sources.files import scratch_path

    QUERIES["sink_sorted_files"].fn(spark, SF_DIR).collect()
    from pyspark.sql import functions as F

    back = spark.read.parquet(scratch_path(SF_DIR, "lineitem_sorted"))
    per_file = (
        back.groupBy(
            "l_returnflag", F.input_file_name().alias("f")
        )
        .agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
        .collect()
    )
    by_flag: dict[str, list] = {}
    for r in per_file:
        by_flag.setdefault(r["l_returnflag"], []).append((r["lo"], r["hi"]))
    assert any(len(v) > 1 for v in by_flag.values()), "expected file splits"
    for flag, ranges in by_flag.items():
        ranges.sort()
        for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
            assert hi1 <= lo2, (flag, (lo1, hi1), (lo2, hi2))


def test_resize_stub_raises():
    """The resize stub must refuse loudly (no fake pixels), same contract
    as the decode stubs."""
    import pytest as _pytest

    from atlas_migration_repo_spark.llm.multimodal import resize_image

    with _pytest.raises(NotImplementedError):
        resize_image(b"xx", "image/png", 8, 8)


# Queries whose plans legitimately contain BroadcastNestedLoopJoin: each is
# a deliberate 1-row scalar broadcast (watermark, scalar-subquery threshold,
# corpus count, block pairing) — linear cost, not a quadratic join.
_BNLJ_ALLOWED = {
    "pipeline_migration_sync",
    "q11_important_stock",
    "q22_dormant_customers",
    "sim_knn_join",
    "text_tfidf",
}


def test_headline_plan_guardrails(spark):
    """Physical-plan quality gate over the headline set (bench + TPC-H
    goldens + pipelines): no CartesianProduct ever, and nested-loop joins
    only where a 1-row scalar broadcast makes them linear. A regression
    here is a 100 TB incident caught at unit-test time."""
    import re

    from atlas_migration_repo_spark.plans.inspect import physical_plan

    checked = 0
    for name, qd in sorted(QUERIES.items()):
        if "bench" not in qd.tags and not re.match(r"^q\d+_|^pipeline_", name):
            continue
        plan = physical_plan(qd.fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, f"{name}: CartesianProduct"
        if name not in _BNLJ_ALLOWED:
            assert "BroadcastNestedLoopJoin" not in plan, f"{name}: BNLJ"
        checked += 1
    assert checked >= 30  # bench set + 22 goldens + pipelines


def test_scan_cached_hits_memory(spark):
    """After scan_cached runs, its aggregate plan must read from the
    in-memory columnar cache, not parquet."""
    df = QUERIES["scan_cached"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_sink_compressed_zstd_smaller(spark):
    """zstd output must be materially smaller than snappy on the same
    rows (the premise of codec-per-temperature)."""
    import os

    from atlas_migration_repo_spark.sources.files import scratch_path

    QUERIES["sink_compressed"].fn(spark, SF_DIR).collect()

    def size(key):
        base = scratch_path(SF_DIR, key)
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(base)
            for f in fs
            if f.endswith(".parquet")
        )

    z, s = size("orders_zstd"), size("orders_snappy")
    assert 0 < z < s, (z, s)


def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """File-source streaming with a checkpoint must deliver each record
    exactly once across a stop/restart: half the data in run 1, the rest
    in run 2, zero duplicate event_ids at the sink."""
    import shutil

    from atlas_migration_repo_spark.catalog import epoch_us, load
    from pyspark.sql import functions as F

    src_dir, sink_dir, ckpt = str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ckpt")
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    total = ev.count()
    ev.where(F.col("event_id") % 2 == 0).write.mode("append").parquet(src_dir)

    def run_once():
        q = (
            spark.readStream.schema("event_id long, user_id long, value double")
            .parquet(src_dir)
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(sink_dir).count()
    ev.where(F.col("event_id") % 2 == 1).write.mode("append").parquet(src_dir)
    run_once()
    out = spark.read.parquet(sink_dir)
    assert n1 < total
    assert out.count() == total
    assert out.select("event_id").distinct().count() == total
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_kafka_shaped_restart_exactly_once(spark, tmp_path):
    """The Kafka-shaped source must deliver each record exactly once
    across a checkpointed stop/produce/restart: half the records in run
    1, stop, append the rest to the live partition segments, resume from
    the SAME checkpoint — zero duplicates, zero loss (the consumer
    contract kafka_stream_options documents)."""
    import time

    from atlas_migration_repo_spark.sources.kafka_shaped import (
        FileTopic,
        register_kafka_shaped_source,
    )

    root, sink_dir, ckpt = (
        str(tmp_path / "topic"),
        str(tmp_path / "sink"),
        str(tmp_path / "ckpt"),
    )
    topic = FileTopic(root)
    ids = list(range(200))
    for p in range(2):
        topic.produce(
            p, [{"key": str(i), "value": {"event_id": i}} for i in ids[:100] if i % 2 == p]
        )
    register_kafka_shaped_source(spark)

    def run_until(n_expected):
        q = (
            spark.readStream.format("kafka_shaped")
            .option("path", root)
            .option("topic", "t")
            .load()
            .select("partition", "offset", F.get_json_object("value", "$.event_id").cast("long").alias("event_id"))
            .writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 60
        n = -1
        while time.time() < deadline:
            try:
                n = spark.read.parquet(sink_dir).count()
            except Exception:
                n = 0
            if n >= n_expected:
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()
        return n

    assert run_until(100) == 100
    for p in range(2):
        topic.produce(
            p, [{"key": str(i), "value": {"event_id": i}} for i in ids[100:] if i % 2 == p]
        )
    assert run_until(200) == 200
    out = spark.read.parquet(sink_dir)
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200  # exactly once
    # per-partition offsets are dense 0..99
    offs = {
        r["partition"]: r["n"]
        for r in out.groupBy("partition").agg(
            F.countDistinct("offset").alias("n")
        ).collect()
    }
    assert offs == {0: 100, 1: 100}


def test_kafka_shaped_starting_offsets(spark, tmp_path):
    """startingOffsets semantics: an absolute per-partition offset skips
    exactly that many records; -1 (latest) starts past existing data."""
    import time

    from atlas_migration_repo_spark.sources.kafka_shaped import (
        FileTopic,
        register_kafka_shaped_source,
    )

    root = str(tmp_path / "topic")
    topic = FileTopic(root)
    topic.produce(0, [{"key": str(i), "value": {"i": i}} for i in range(10)])
    register_kafka_shaped_source(spark)

    def drain(starting, n_expected, name):
        q = (
            spark.readStream.format("kafka_shaped")
            .option("path", root)
            .option("topic", "t")
            .option("startingOffsets", starting)
            .load()
            .select("offset")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        deadline = time.time() + 45
        while time.time() < deadline:
            if spark.table(name).count() >= n_expected:
                break
            time.sleep(0.3)
        q.stop()
        q.awaitTermination()
        return sorted(r["offset"] for r in spark.table(name).collect())

    import json as _json

    got = drain(_json.dumps({"t": {"0": 6}}), 4, "ks_abs")
    assert got == [6, 7, 8, 9], got
    got = drain("latest", 0, "ks_latest")
    assert got == [], got


def test_agg_linreg_matches_builtin(spark):
    """First-principles OLS from power sums must agree with the built-in
    regr_slope/regr_intercept/regr_r2 to float tolerance."""
    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.catalog import epoch_us, load

    ours = {r["l_returnflag"]: r for r in QUERIES["agg_linreg"].fn(spark, SF_DIR).collect()}
    ref = {
        r["l_returnflag"]: r
        for r in load(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("regr_slope(l_discount, l_quantity)").alias("slope"),
            F.expr("regr_intercept(l_discount, l_quantity)").alias("icept"),
            F.expr("regr_r2(l_discount, l_quantity)").alias("r2"),
        )
        .collect()
    }
    assert set(ours) == set(ref)
    for k in ours:
        for c in ("slope", "icept", "r2"):
            assert abs(ours[k][c] - ref[k][c]) < 1e-6, (k, c, ours[k][c], ref[k][c])


def test_merge_full_clause_accounting(spark):
    """Every MERGE branch must move the row counts it claims: deletes
    remove exactly the %7 keys, inserts add exactly the re-keyed rows,
    and updated rows carry the finalized status."""
    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.catalog import epoch_us, load

    out = QUERIES["merge_full"].fn(spark, SF_DIR)
    base = load(spark, SF_DIR, "orders")
    n_target = base.count()
    n_deleted = base.where(F.col("o_orderkey") % 7 == 0).count()
    n_inserted = base.where(F.col("o_orderkey") % 500 == 0).count()
    assert out.count() == n_target - n_deleted + n_inserted
    # delete branch: no surviving original key is divisible by 7
    assert out.where((F.col("o_orderkey") < 20000000) & (F.col("o_orderkey") % 7 == 0)).count() == 0
    # update branch: no pending rows remain among originals
    assert (
        out.where((F.col("o_orderkey") < 20000000) & (F.col("o_orderstatus") == "P")).count() == 0
    )
    assert out.where(F.col("o_orderkey") >= 20000000).count() == n_inserted


def test_corpus_mix_weights_temperature(spark):
    """Weights must (a) sum to 1, (b) keep the size order, (c) be flatter
    than proportional sampling — the entire point of temperature α<1."""
    rows = QUERIES["corpus_mix_weights"].fn(spark, SF_DIR).collect()
    tot_w = sum(r["mix_weight"] for r in rows)
    assert abs(tot_w - 1.0) < 1e-9
    n_total = sum(r["n_docs"] for r in rows)
    by_size = sorted(rows, key=lambda r: r["n_docs"])
    weights = [r["mix_weight"] for r in by_size]
    assert weights == sorted(weights)  # order preserved
    for r in rows:
        share = r["n_docs"] / n_total
        if share < 1 / len(rows):
            assert r["mix_weight"] > share  # tail upsampled
        elif share > 1 / len(rows):
            assert r["mix_weight"] < share  # head downsampled


def test_text_lm_score_flags_rare_token_docs(spark):
    """Docs whose tokens are corpus-rare must score lower (more negative
    mean log-prob) than docs of corpus-common tokens: the score must
    rank a doc made of the most common words above one of the rarest."""
    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.catalog import epoch_us, load

    out = QUERIES["text_lm_score"].fn(spark, SF_DIR)
    assert out.where(F.col("lm_logprob") >= 0).count() == 0
    assert out.count() == load(spark, SF_DIR, "documents").count()
    # correlation between a doc's mean token frequency and its score
    # must be strongly positive (the score IS mean log frequency)
    tok = load(spark, SF_DIR, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    ug = tok.groupBy("word").count()
    mean_cnt = (
        tok.join(ug, "word").groupBy("doc_id").agg(F.avg(F.log("count")).alias("mean_logcnt"))
    )
    corr = out.join(mean_cnt, "doc_id").agg(F.corr("lm_logprob", "mean_logcnt")).first()[0]
    assert corr > 0.99


def test_runtime_bloom_filter_injection(spark):
    """With the application-side size threshold lowered to fixture scale,
    Catalyst must inject a bloom-filter semi-join reduction (the
    might_contain runtime filter) on the probe side of a selective
    shuffle join — the 100 TB shuffle-pruning path session.py enables."""
    from atlas_migration_repo_spark.catalog import epoch_us, load
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
        o = load(spark, SF_DIR, "orders").where(F.col("o_orderstatus") == "P")
        df = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_layout_bounds_both_dims(spark, tmp_path):
    """Range-partitioning files by the interleaved z-value must confine
    BOTH dimensions per file: with 16 z-range files, each dimension's
    average per-file envelope must shrink well below its global span
    (that envelope is exactly what parquet min-max footer skipping
    prunes on)."""
    import shutil

    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.sources.files import zorder_frame

    d = zorder_frame(spark, SF_DIR)
    path = str(tmp_path / "zsorted")
    d.repartitionByRange(16, "zval").write.mode("overwrite").parquet(path)

    back = spark.read.parquet(path).withColumn("f", F.col("_metadata.file_path"))
    per_file = back.groupBy("f").agg(
        (F.max("a") - F.min("a")).alias("span_a"),
        (F.max("b") - F.min("b")).alias("span_b"),
    )
    spans = per_file.agg(F.avg("span_a").alias("sa"), F.avg("span_b").alias("sb")).first()
    g = d.agg(
        (F.max("a") - F.min("a")).alias("ga"), (F.max("b") - F.min("b")).alias("gb")
    ).first()
    # 16 z-range files ≈ 4×4 grid: each dim's envelope ≈ 1/4 of global
    assert spans["sa"] < 0.5 * g["ga"], (spans["sa"], g["ga"])
    assert spans["sb"] < 0.5 * g["gb"], (spans["sb"], g["gb"])
    shutil.rmtree(path, ignore_errors=True)


def test_ivm_merge_plan_is_incremental(spark):
    """The IVM query must aggregate base and delta separately and merge
    with a full outer join on the group key — NOT re-aggregate the union
    (two HashAggregate pairs + one join in the plan)."""
    plan = (
        QUERIES["ivm_incremental_agg"].fn(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin FullOuter" in plan or "ShuffledHashJoin FullOuter" in plan or (
        "FullOuter" in plan
    ), plan[:1500]


def test_empty_input_schema_stability(spark, tmp_path):
    """Core operators must return empty results with the SAME schema when
    the input tables are empty — the property that keeps a 100 TB DAG
    alive when one partition/day/source happens to be empty."""
    import os

    from atlas_migration_repo_spark.catalog import epoch_us, load

    # materialize an empty fixture: same schemas, zero rows
    empty_dir = str(tmp_path / "sf_empty")
    os.makedirs(empty_dir, exist_ok=True)
    for t in ("orders", "customer", "lineitem", "documents", "events"):
        load(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            os.path.join(empty_dir, f"{t}.parquet")
        )

    for key in (
        "merge_full",
        "ivm_incremental_agg",
        "dq_skew_profile",
        "text_lm_score",
        "chunk_sliding",
        "sample_weighted",
        "agg_argmax",
        "zorder_cluster",
        "ts_seasonal_decompose",
        "ts_downsample_ohlc",
        "win_distinct_running",
        "agg_approx_top_k",
        # NB: stat_crosstab is deliberately absent — a crosstab's columns
        # come from the data, so an empty input legitimately changes the
        # schema; that is inherent to data-dependent pivots.
    ):
        full = QUERIES[key].fn(spark, SF_DIR)
        empty = QUERIES[key].fn(spark, empty_dir)
        assert empty.schema == full.schema, (key, empty.schema, full.schema)
        n = empty.count()
        if key == "dq_skew_profile":
            assert n == 1  # global agg always emits one row
        else:
            assert n == 0, (key, n)


def test_zorder_degenerate_dimension(spark):
    """A constant dimension (amax == amin) must normalize to 0 without a
    divide-by-zero, leaving z ordering = the other dimension's order."""
    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.sources.files import _z_terms

    d = spark.range(100).select(
        F.lit(7).cast("bigint").alias("a"), F.col("id").cast("bigint").alias("b")
    )
    stats = d.agg(
        F.min("a").alias("amin"), F.max("a").alias("amax"),
        F.min("b").alias("bmin"), F.max("b").alias("bmax"),
    )
    n = d.crossJoin(F.broadcast(stats)).select(
        "b",
        F.expr("((a - amin) * 65535) DIV greatest(1, amax - amin)").alias("a_s"),
        F.expr("((b - bmin) * 65535) DIV greatest(1, bmax - bmin)").alias("b_s"),
    )
    z = n.select("b", F.expr(_z_terms("shiftright({col}, {i}) & 1")).alias("zval"))
    rows = z.orderBy("b").collect()
    zs = [r["zval"] for r in rows]
    assert zs == sorted(zs)  # z follows b alone when a is constant


def test_embed_pca_power_invariants(spark):
    """The returned component must be unit-norm, sign-canonical, and its
    eigenvalue must equal the Rayleigh quotient on the actual covariance
    and dominate every single coordinate's variance."""
    import numpy as np

    rows = QUERIES["embed_pca_power"].fn(spark, SF_DIR).collect()
    assert len(rows) == 64
    v = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim"])])
    eig = rows[0]["eigval"]
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9
    nz = np.flatnonzero(np.abs(v) > 1e-12)
    assert v[nz[0]] > 0  # canonical sign
    from atlas_migration_repo_spark.catalog import epoch_us, load

    x = np.vstack([r["embedding"] for r in load(spark, SF_DIR, "embeddings").collect()])
    x = x.astype(np.float64)
    cov = np.cov(x, rowvar=False, bias=True)
    rq = float(v @ cov @ v)
    assert abs(rq - eig) < 1e-6 * max(1.0, abs(eig))
    assert eig >= cov.diagonal().max() - 1e-9


def test_codegen_no_fallback_on_core_aggregates(spark):
    """Whole-stage codegen gate: for scan→filter→project→hash-aggregate
    queries, every HashAggregate in the EXECUTED plan must sit inside a
    codegen stage (line prefixed `*(n)`). Spark silently falls back to
    interpreted evaluation when a generated function exceeds the JIT/64KB
    limits (e.g. a giant unrolled projection) — a ~5-10× slowdown that no
    correctness test catches. AQE only finalizes stages at execution, so
    the plan is inspected AFTER an action, never before."""
    for key in (
        "agg_pricing_summary",
        "agg_conditional",
        "filter_compound",
        "project_expr",
        "q6_forecast_revenue",
    ):
        df = QUERIES[key].fn(spark, SF_DIR)
        # Execute THIS dataset (count() would plan a different query) so
        # AQE finalizes its stages and codegen markers become visible.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        if plan.startswith("AdaptiveSparkPlan"):  # shuffle-free plans skip AQE
            assert "isFinalPlan=true" in plan, f"{key}: AQE plan not finalized"
        # AQE toString appends an "== Initial Plan ==" section whose lines
        # never carry codegen markers; judge only the final plan.
        plan = plan.split("== Initial Plan ==")[0]
        assert "*(" in plan, f"{key}: no WholeStageCodegen stage at all"
        for line in plan.splitlines():
            stripped = line.strip().lstrip("+-: ")
            if stripped.startswith("HashAggregate"):
                raise AssertionError(f"{key}: HashAggregate fell out of codegen: {line}")


def test_jdbc_connector_boundary(spark):
    """Offline JDBC extraction boundary: reader options, strip completeness
    (disjoint + covers all integers incl. out-of-bounds rows), pushdown
    predicate composition, and the gated live path."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.jdbc import JdbcExtractor, JdbcSpec

    spec = JdbcSpec(
        url="jdbc:postgresql://example/warehouse",
        table="orders",
        partition_column="o_orderkey",
        lower_bound=0,
        upper_bound=6000,
        num_partitions=4,
        where="o_orderstatus <> 'X'",
    )
    opts = spec.reader_options()
    assert opts["partitionColumn"] == "o_orderkey"
    assert (opts["lowerBound"], opts["upperBound"], opts["numPartitions"]) == (
        "0", "6000", "4",
    )
    preds = spec.partition_predicates()
    assert len(preds) == 4
    # first strip is unbounded below, last unbounded above
    assert preds[0].startswith("(o_orderkey < 1500)")
    assert preds[-1].startswith("(o_orderkey >= 4500)")
    # every strip carries the pushdown predicate
    assert all("o_orderstatus <> 'X'" in p for p in preds)
    # disjoint + complete over sample points incl. out-of-range values
    for v in (-5, 0, 1499, 1500, 4499, 4500, 5999, 6000, 99999):
        hits = [
            p
            for p in preds
            if eval(  # strips are simple comparisons; evaluate them in python
                p.split(") AND")[0]
                .strip("(")
                .replace("o_orderkey", str(v))
                .replace("AND", "and")
            )
        ]
        assert len(hits) == 1, (v, hits)
    with _pytest.raises(NotImplementedError):
        JdbcExtractor(spark).read(spec)


def test_skyline_is_maximal_antichain(spark):
    """No returned point may dominate another returned point, and every
    non-returned point must be dominated by some returned point."""
    from atlas_migration_repo_spark.catalog import load

    sky = [(r["p_retailprice"], r["p_size"]) for r in
           QUERIES["skyline_pareto"].fn(spark, SF_DIR).collect()]
    allp = [(r["p_retailprice"], r["p_size"]) for r in
            load(spark, SF_DIR, "part").select("p_retailprice", "p_size").collect()]

    def dominates(q, p):
        return q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])

    for a in sky:
        assert not any(dominates(b, a) for b in sky if b != a), (a,)
    sky_set = set(sky)
    for p in allp:
        if p not in sky_set:
            assert any(dominates(s, p) for s in sky), (p,)


def test_event_transitions_rows_normalize(spark):
    """Per from_type, transition probabilities sum to ~1 and counts
    conserve the total number of consecutive pairs (n_events - n_users)."""
    from atlas_migration_repo_spark.catalog import load

    rows = QUERIES["event_transitions"].fn(spark, SF_DIR).collect()
    by_from: dict[str, float] = {}
    total = 0
    for r in rows:
        by_from[r["from_type"]] = by_from.get(r["from_type"], 0.0) + r["p"]
        total += r["n"]
    for ft, s in by_from.items():
        assert abs(s - 1.0) < 1e-3, (ft, s)
    ev = load(spark, SF_DIR, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert total == n_events - n_users


def test_twap_bounded_by_minmax(spark):
    """A time-weighted average must lie within [min, max] of the user's
    observed values (it is a convex combination of them)."""
    from atlas_migration_repo_spark.catalog import load
    from pyspark.sql import functions as F

    twap = {r["user_id"]: r["twap"] for r in
            QUERIES["ts_time_weighted_avg"].fn(spark, SF_DIR).collect()}
    bounds = {
        r["user_id"]: (r["lo"], r["hi"])
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert twap
    for u, t in twap.items():
        lo, hi = bounds[u]
        assert lo - 1e-6 <= t <= hi + 1e-6, (u, t, lo, hi)


def test_bm25_terms_occur_in_doc(spark):
    """Every BM25 top term must actually occur in its document."""
    from atlas_migration_repo_spark.catalog import load

    texts = {r["doc_id"]: set(r["text"].split(" ")) for r in
             load(spark, SF_DIR, "documents").collect()}
    rows = QUERIES["text_bm25"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["word"] in texts[r["doc_id"]], (r["doc_id"], r["word"])
        assert r["bm25"] > 0


def test_abc_classes_partition_and_order(spark):
    """ABC classes must cover all parts, respect the revenue ordering
    (every A-part's cumulative share <= every C-part's), and the top
    class must hold at most 70% + one part of revenue."""
    rows = QUERIES["abc_classification"].fn(spark, SF_DIR).collect()
    assert {r["abc_class"] for r in rows} <= {"A", "B", "C"}
    by_share = sorted(rows, key=lambda r: r["cum_share"])
    seen_b_or_c = False
    for r in by_share:
        if r["abc_class"] != "A":
            seen_b_or_c = True
        else:
            assert not seen_b_or_c, "A-class part after a B/C part in share order"
    a_max = max((r["cum_share"] for r in rows if r["abc_class"] == "A"), default=0.0)
    assert a_max <= 0.7 + 1e-9


def test_rfm_quartiles_balanced(spark):
    """NTILE(4) must produce near-equal quartile sizes (±1) per metric."""
    rows = QUERIES["orders_rfm"].fn(spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    for col in ("r_quartile", "f_quartile", "m_quartile"):
        counts = {}
        for r in rows:
            counts[r[col]] = counts.get(r[col], 0) + 1
        assert set(counts) == {1, 2, 3, 4}
        assert max(counts.values()) - min(counts.values()) <= 1, (col, counts)


def test_gini_bounds_and_entropy_cap(spark):
    """Gini lies in [0,1); type entropy is capped by ln(n_types)."""
    import math

    g = QUERIES["orders_gini_coefficient"].fn(spark, SF_DIR).collect()[0]
    assert 0.0 <= g["gini"] < 1.0
    assert g["n_customers"] > 0
    for r in QUERIES["agg_entropy"].fn(spark, SF_DIR).collect():
        assert -1e-9 <= r["type_entropy"] <= math.log(r["n_types"]) + 1e-9


def test_peak_concurrency_matches_naive(spark):
    """Sweep-line peak must equal a brute-force check over all event
    start instants (concurrency can only peak at a start point)."""
    from atlas_migration_repo_spark.catalog import load

    got = QUERIES["events_peak_concurrency"].fn(spark, SF_DIR).collect()[0]
    rows = load(spark, SF_DIR, "events").select("ts").collect()
    times = sorted(r["ts"] for r in rows)
    import datetime

    win = datetime.timedelta(minutes=30)
    best = 0
    for t in times:
        lo = t
        n = sum(1 for s in times if s <= lo < s + win)
        best = max(best, n)
    assert got["peak_concurrent"] == best


def test_join_strategy_hint_forces_smj(spark):
    """The MERGE hint must produce a SortMergeJoin in the final plan."""
    df = QUERIES["join_strategy_hints"].fn(spark, SF_DIR)
    df.count()  # finalize AQE
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_dedup_spans_semantics(spark):
    """Span dedup invariants: keeper totals conserve spans (every span hash
    keeps exactly its first occurrence); duplicated spans actually get cut
    somewhere (the fingerprint-dup docs share 8-word prefixes); and a doc
    with no cuts reconstructs to its original text verbatim."""
    from atlas_migration_repo_spark.catalog import load

    out = QUERIES["dedup_spans"].fn(spark, SF_DIR)
    rows = {r["doc_id"]: r for r in out.collect()}
    docs = {r["doc_id"]: r["text"] for r in load(spark, SF_DIR, "documents").collect()}
    assert set(rows) == set(docs)
    n_cut = sum(r["n_spans"] - r["n_kept"] for r in rows.values())
    assert n_cut > 0, "fixture has fingerprint dups; some span must be cut"
    for did, r in rows.items():
        assert 0 <= r["n_kept"] <= r["n_spans"]
        if r["n_kept"] == r["n_spans"]:
            assert r["text_kept"] == docs[did]
        if r["n_kept"] == 0:
            assert r["text_kept"] is None


def test_corpus_dedup_stages_monotone(spark):
    """The funnel can only shrink, starts at the raw count, and the exact
    stage equals the distinct-text count."""
    from atlas_migration_repo_spark.catalog import load

    rows = sorted(
        QUERIES["corpus_dedup_stages"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["stage"],
    )
    assert [r["name"] for r in rows] == ["raw", "exact", "fingerprint", "near_jaccard"]
    counts = [r["n_docs"] for r in rows]
    assert counts[0] == load(spark, SF_DIR, "documents").count()
    assert counts == sorted(counts, reverse=True)
    assert counts[3] >= 1


def test_sim_range_search_consistent_with_topk(spark):
    """Every top-k hit with cosine >= tau must appear in the range result,
    and every range hit must be >= tau (precision 1.0 by construction)."""
    from atlas_migration_repo_spark.llm.similarity import RANGE_TAU

    rng = {
        (r["q_id"], r["vec_id"]): r["cosine"]
        for r in QUERIES["sim_range_search"].fn(spark, SF_DIR).collect()
    }
    assert all(c >= RANGE_TAU - 1e-4 for c in rng.values())
    topk = QUERIES["sim_cosine_topk"].fn(spark, SF_DIR).collect()
    for r in topk:
        if r["cosine"] >= RANGE_TAU:
            assert (r["q_id"], r["vec_id"]) in rng


def test_new_dedup_ops_plan_guardrails(spark):
    """dedup_spans and corpus_dedup_stages must stay cartesian-free and
    nested-loop-free (their shuffles are all hash-keyed equi-joins);
    sim_range_search is allowed exactly one broadcast nested loop — the
    10-row query side, same contract as sim_cosine_topk."""
    from atlas_migration_repo_spark.plans.inspect import physical_plan

    for name in ("dedup_spans", "corpus_dedup_stages"):
        plan = physical_plan(QUERIES[name].fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    plan = physical_plan(QUERIES["sim_range_search"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_tokenize_once_plan_guardrails(spark):
    """The shingles() perf contract (llm/text.py): higher-order-function
    lambdas must bind the token array as an ATTRIBUTE (via tokenized()),
    never reference words() inline — Spark evaluates HOF lambdas
    interpreted and re-runs any non-attribute expression referenced in
    the body once per array element (r10 measured 13x on
    text_repetition). Guard: the number of `split(text` expressions in
    the optimized physical plan stays at the attribute-bound level
    (inline levels were 4-21 per query)."""
    from atlas_migration_repo_spark.plans.inspect import physical_plan

    bounds = {
        "text_ngram": 1,
        "text_quality": 1,
        "text_gopher_rules": 1,
        "tokenizer_oov_rate": 1,
        "text_repetition": 3,
        "text_fingerprint": 3,
        "dedup_near": 4,
        "decontaminate_corpus": 2,
        "contamination_report": 2,
    }
    for name, bound in bounds.items():
        plan = physical_plan(QUERIES[name].fn(spark, SF_DIR))
        n = plan.count("split(text")
        assert n <= bound, f"{name}: {n} split(text) sites > {bound}"


def test_orchestration_cli_emits_valid_spec(capsys):
    """The DAG-spec CLI must print one self-contained JSON document whose
    demo objects cover all three extract shapes (watermarked incremental,
    filtered full refresh, plain full refresh)."""
    import json

    from atlas_migration_repo_spark.orchestration import main

    main(["--dag-id", "t_dag", "--sink", "s3a://unit/atlas", "--partitions", "4"])
    spec = json.loads(capsys.readouterr().out)
    assert spec["dag_id"] == "t_dag"
    extracts = [t for t in spec["tasks"] if t["kind"] == "extract"]
    assert sorted(t["incremental"] for t in extracts) == [False, False, True]
    assert any("WHERE (IsDeleted = false)" in t["soql"] for t in extracts)
    assert all(len(t["partition_predicates"]) == 4 for t in extracts)
    loads = [t for t in spec["tasks"] if t["kind"] == "load"]
    assert all(t["sink_path"].startswith("s3a://unit/atlas/") for t in loads)
    assert {"append", "overwrite"} == {t["mode"] for t in loads}


def test_scan_file_metadata_names(spark):
    """The _metadata file name must be the physical fixture file, and the
    per-file grouping must partition the row count exactly."""
    from atlas_migration_repo_spark.catalog import table_path

    o = spark.read.parquet(table_path(SF_DIR, "orders"))
    per_file = (
        o.groupBy(F.col("_metadata.file_name").alias("f"))
        .count()
        .collect()
    )
    assert [r["f"] for r in per_file] == ["orders.parquet"]
    assert sum(r["count"] for r in per_file) == o.count()


def test_contamination_report_consistent_with_decontaminate(spark):
    """A doc survives binary decontamination exactly when its graded
    contamination count is zero — the two operators must agree."""
    clean = {
        r["doc_id"]
        for r in QUERIES["decontaminate_corpus"].fn(spark, SF_DIR).collect()
    }
    report = QUERIES["contamination_report"].fn(spark, SF_DIR).collect()
    zero = {r["doc_id"] for r in report if r["n_contaminated"] == 0}
    assert zero == clean
    flagged = [r for r in report if r["flagged"]]
    for r in flagged:
        assert r["contamination"] >= 0.1 - 1e-9


def test_sim_ann_recall_eval_floors(spark):
    """The eval op must report both methods over every vector, the gap on
    misses must be non-negative (the exact neighbor is by definition at
    least as close) and bounded, and IVF-multiprobe must dominate plain
    LSH buckets at this fixture's noise-floor cosines — the ranking the
    op exists to surface."""
    rows = {r["method"]: r for r in QUERIES["sim_ann_recall_eval"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {"lsh", "ivf", "ivf_kmeans_exact_rescore"}
    for m, r in rows.items():
        assert 0.0 < r["recall_at_1"] <= 1.0, (m, r["recall_at_1"])
        if r["mean_cos_gap_on_miss"] is not None:
            assert -1e-9 <= r["mean_cos_gap_on_miss"] <= 0.5, m
    assert rows["ivf"]["recall_at_1"] > rows["lsh"]["recall_at_1"]
    # the composed production path tops the ladder and clears its gate
    assert rows["ivf_kmeans_exact_rescore"]["recall_at_1"] >= 0.95


def test_headline_shuffle_budgets(spark):
    """PLANS.md calls every shuffle counter 'a budget we defend' — defend
    it here: the headline aggregates and broadcast-chain goldens must
    keep exactly one shuffle exchange (their final aggregate), and the
    window headliners one (their shared sort)."""
    from atlas_migration_repo_spark.plans.inspect import exchange_count, physical_plan

    budgets = {
        "agg_pricing_summary": 1,
        "q3_shipping_priority": 2,  # agg + TakeOrdered boundary
        "q5_local_supplier": 1,
        "q7_nation_trade": 1,
        "q9_product_profit": 1,
        "q18_large_orders": 2,  # semi-join build + final agg
        "win_running_sum": 1,
        "topk_per_group": 1,
    }
    for name, budget in budgets.items():
        plan = physical_plan(QUERIES[name].fn(spark, SF_DIR))
        got = exchange_count(plan)
        assert got <= budget, f"{name}: {got} exchanges, budget {budget}"


def test_bpe_apply_merge_greedy_left(spark):
    """The merge fold must implement the standard greedy left-to-right
    scan with skip-after-merge: rule (a,a) on 'aaa' gives [aa, a] and on
    'aaaa' gives [aa, aa] (never a re-merge of a just-emitted token as
    the right-hand side within the same round)."""
    from atlas_migration_repo_spark.llm.tokenizer import _apply_merge

    df = spark.createDataFrame(
        [(["a", "a", "a"],), (["a", "a", "a", "a"],), (["b", "a", "a", "b"],)],
        "syms ARRAY<STRING>",
    )
    got = [r[0] for r in df.select(_apply_merge(F.col("syms"), "a", "a")).collect()]
    assert got == [["aa", "a"], ["aa", "aa"], ["b", "aa", "b"]]


def test_bpe_known_merges(spark):
    """Exact merge sequence on the classic hand-checkable corpus
    (low*5, lower*2, newest*3, widest*1 — pair counts verifiable on
    paper): lo(7), low(7), es(4), est(4), with count-desc then
    lexicographic tie-breaks."""
    from atlas_migration_repo_spark.llm.tokenizer import _word_freq, train_bpe

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 3 + ["widest"])
    docs = spark.createDataFrame([(text,)], "text STRING")
    merges, wf = train_bpe(_word_freq(docs), n_merges=4)
    assert merges == [("l", "o", 7), ("lo", "w", 7), ("e", "s", 4), ("es", "t", 4)]
    segs = {r["word"]: r["syms"] for r in wf.collect()}
    assert segs["low"] == ["low"]
    assert segs["newest"] == ["n", "e", "w", "est"]
    assert segs["widest"] == ["w", "i", "d", "est"]


def test_bpe_encode_invariants(spark):
    """Subword count is bounded by words below and characters above, and
    every document of the fixture is encoded exactly once."""
    import duckdb

    from atlas_migration_repo_spark.catalog import table_path

    rows = QUERIES["tokenizer_bpe_encode"].fn(spark, SF_DIR).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{table_path(SF_DIR, 'documents')}')"
    ).fetchone()[0]
    assert len(rows) == n_docs
    for r in rows:
        assert r["n_words"] <= r["n_tokens_bpe"] <= r["n_word_chars"], r
        assert r["chars_per_token"] >= 1.0


def test_bpe_driver_path_matches_distributed(spark, monkeypatch):
    """The r10 driver-side merge loop (vocab-gated fast path) must learn
    the identical merge sequence and word segmentation as the distributed
    rounds — on the hand-checked corpus AND the sf0.01 fixture, covering
    tie-breaks (count DESC, left ASC, right ASC) and the greedy
    skip-after-merge scan."""
    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.llm.tokenizer import _word_freq, train_bpe

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 3 + ["widest"])
    corpora = [
        spark.createDataFrame([(text,)], "text STRING"),
        load(spark, SF_DIR.replace("sf0.1", "sf0.01"), "documents").select("text"),
    ]
    for docs in corpora:
        monkeypatch.setenv("SPARK_GRAFT_BPE_DRIVER_VOCAB", "0")
        m_dist, wf_dist = train_bpe(_word_freq(docs))
        segs_dist = {r["word"]: (r["cnt"], r["syms"]) for r in wf_dist.collect()}
        monkeypatch.delenv("SPARK_GRAFT_BPE_DRIVER_VOCAB")
        m_drv, wf_drv = train_bpe(_word_freq(docs))
        segs_drv = {r["word"]: (r["cnt"], r["syms"]) for r in wf_drv.collect()}
        assert m_drv == m_dist
        assert segs_drv == segs_dist


def test_cc_label_sum_convergence_matches_join_count(spark):
    """min_label_components' r10 convergence metric (exact decimal label
    sum unchanged) must terminate with the same labeling as a reference
    fixpoint: every node's label equals the min doc_id of its component
    (checked against a Python union-find on the same edge list)."""
    from atlas_migration_repo_spark.llm.dedup import min_label_components

    pairs = [(1, 2), (2, 3), (5, 6), (8, 8), (10, 11), (11, 12), (12, 13)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "va LONG, vb LONG",
    )
    lab = {r["id"]: r["lab"] for r in min_label_components(edges, "va", "vb").collect()}
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert lab == want


def test_asof_nearest_never_farther_than_backward(spark):
    """join_asof_nearest must dominate join_asof: wherever the backward
    join found a click, the nearest join must pick one at most that far
    away (and agree exactly when no later click is closer)."""
    back = {
        r["purchase_id"]: r["click_id"]
        for r in QUERIES["join_asof"].fn(spark, SF_DIR).collect()
        if r["click_id"] is not None
    }
    near = {
        r["purchase_id"]: (r["click_id"], r["delta_us"])
        for r in QUERIES["join_asof_nearest"].fn(spark, SF_DIR).collect()
    }
    ev = {
        r["event_id"]: r["t"]
        for r in QUERIES["join_asof"]
        .fn(spark, SF_DIR)
        .sparkSession.read.parquet(f"{SF_DIR}/events.parquet")
        .select("event_id", epoch_us("ts").alias("t"))
        .collect()
    }
    assert set(back) <= set(k for k, v in near.items() if v[0] is not None)
    for pid, back_click in back.items():
        back_delta = abs(ev[pid] - ev[back_click])
        assert near[pid][1] <= back_delta, (pid, near[pid], back_delta)


def test_asof_nearest_plan_shape(spark):
    """The docstring's linearity claim, defended: two exchanges total
    (click-dedup aggregate + one shared window exchange) and two sorts
    (ascending and descending passes) — no nested-loop join anywhere."""
    from atlas_migration_repo_spark.plans.inspect import exchange_count, physical_plan

    plan = physical_plan(QUERIES["join_asof_nearest"].fn(spark, SF_DIR))
    assert exchange_count(plan) <= 2, plan
    assert "BroadcastNestedLoop" not in plan


def test_maxsim_bounds_and_self_retrieval(spark):
    """MaxSim scores are bounded by ±(number of query tokens), and the
    pseudo-document sharing vectors nearest the query tokens should not
    score below the corpus median (sanity of the scoring direction)."""
    from atlas_migration_repo_spark.llm.similarity import MAXSIM_Q_TOKENS

    rows = QUERIES["sim_maxsim"].fn(spark, SF_DIR).collect()
    assert rows
    scores = sorted(r["maxsim"] for r in rows)
    assert all(-MAXSIM_Q_TOKENS <= s <= MAXSIM_Q_TOKENS for s in scores)
    # doc 1 (vec_ids 8-15) is the first full pseudo-doc; no special claim
    # beyond finiteness — the real check is the exact oracle parity test.
    assert scores[0] == scores[0]  # no NaNs survive the decimal sum


def test_lineage_spec_covers_every_field():
    """Column lineage must have exactly one record per declared field,
    with the connector's own type mapping (never a hand-maintained copy),
    and dataset edges whose task ids exist in the DAG spec."""
    import json

    from atlas_migration_repo_spark.orchestration import (
        SinkSpec,
        dag_spec,
        demo_atlas_objects,
        lineage_spec,
    )

    objs = demo_atlas_objects()
    sink = SinkSpec(root="s3a://example-bucket/atlas")
    lin = lineage_spec(objs, sink)
    dag = dag_spec("atlas_migration", objs, sink)
    task_ids = {t["task_id"] for t in dag["tasks"]}

    assert len(lin["columns"]) == sum(len(o.fields) for o in objs)
    assert len(lin["datasets"]) == len(objs)
    for ds in lin["datasets"]:
        assert set(ds["via"]) <= task_ids, ds
    by_source = {c["source"]: c for c in lin["columns"]}
    amount = by_source["salesforce://Atlas_Order__c.Amount__c"]
    assert amount["source_type"] == "currency"
    assert amount["target_type"] == "decimal(18,2)"
    assert amount["target"] == "s3a://example-bucket/atlas/atlas_order__c/Amount__c"
    json.dumps(lin)  # pure data


def test_orchestration_cli_lineage_flag(capsys):
    """--lineage prints the lineage spec as valid JSON on stdout."""
    import json

    from atlas_migration_repo_spark.orchestration import main

    main(["--lineage"])
    out = json.loads(capsys.readouterr().out)
    assert set(out) == {"datasets", "columns"}
    assert out["columns"]


def test_logreg_loss_descends(spark):
    """The training curve must start at the w=0 cross-entropy (ln 2,
    measured before the first update) and be strictly decreasing — the
    gradient-descent sanity invariant that holds regardless of how
    learnable the fixture label is."""
    import math

    rows = sorted(
        QUERIES["quality_logreg_train"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["step"],
    )
    assert math.isclose(rows[0]["mean_loss"], math.log(2.0), rel_tol=1e-9)
    losses = [r["mean_loss"] for r in rows]
    assert all(a > b for a, b in zip(losses, losses[1:])), losses


def test_logreg_score_consistent_with_weights(spark):
    """Scores must be probabilities, decisions must follow the 0.5
    threshold, and overall accuracy can't be worse than always
    rejecting (the base-rate floor a filter must clear)."""
    rows = QUERIES["quality_logreg_score"].fn(spark, SF_DIR).collect()
    assert rows
    n_pos = sum(r["label"] for r in rows)
    base = max(n_pos, len(rows) - n_pos) / len(rows)
    acc = sum(r["correct"] for r in rows) / len(rows)
    for r in rows:
        assert 0.0 <= r["score"] <= 1.0
        assert r["accepted"] == (r["score"] >= 0.5)
    assert acc >= base - 1e-9, (acc, base)


def test_atlas_engine_facade(spark, tmp_path):
    """The public façade must delegate faithfully: tables load, SQL sees
    auto-registered views, run() matches the registry, migrate() bundles
    DAG + lineage for the same objects, and write() round-trips a
    partitioned landing."""
    from atlas_migration_repo_spark.api import AtlasEngine
    from atlas_migration_repo_spark.orchestration import demo_atlas_objects

    eng = AtlasEngine(spark=spark, sf_dir=SF_DIR)
    assert "lineitem" in eng.tables()
    n = eng.table("region").count()
    assert n == eng.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"]
    assert eng.run("agg_pricing_summary").columns == QUERIES[
        "agg_pricing_summary"
    ].fn(spark, SF_DIR).columns
    assert eng.oracle("agg_pricing_summary") and eng.oracle("dedup_near") is None
    bundle = eng.migrate(demo_atlas_objects(), sink_root="s3a://example-bucket/atlas")
    assert {t["task_id"] for t in bundle["dag"]["tasks"]} >= {
        ds["via"][0] for ds in bundle["lineage"]["datasets"]
    }
    out = str(tmp_path / "landed")
    eng.write(eng.table("nation"), out, partition_by=("n_regionkey",))
    assert spark.read.parquet(out).count() == eng.table("nation").count()


def test_km_survival_monotone(spark):
    """The Kaplan-Meier curve must be strictly within (0, 1] and
    non-increasing in duration, with at-risk counts non-increasing too."""
    rows = sorted(
        QUERIES["orders_survival_km"].fn(spark, SF_DIR).collect(),
        key=lambda r: r["duration_days"],
    )
    assert rows
    s_prev, n_prev = 1.0 + 1e-9, float("inf")
    for r in rows:
        assert 0.0 < r["survival"] <= 1.0
        assert r["survival"] <= s_prev + 1e-9
        assert r["n_risk"] <= n_prev
        assert 0 < r["n_events"] < r["n_risk"]
        s_prev, n_prev = r["survival"], r["n_risk"]


def test_allen_relations_partition_pairs(spark):
    """The 13-relation CASE must classify every qualifying pair exactly
    once: relation counts sum to the naive windowed pair count, and only
    valid Allen relation names appear."""
    from atlas_migration_repo_spark.operators.joins import ALLEN_WIN_US

    rows = QUERIES["join_interval_allen"].fn(spark, SF_DIR).collect()
    valid = {
        "precedes", "meets", "overlaps", "finished_by", "contains", "starts",
        "equals", "started_by", "during", "finishes", "overlapped_by",
        "met_by", "preceded_by",
    }
    assert {r["relation"] for r in rows} <= valid
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_id", epoch_us("ts").alias("s")
    )
    a, b = ev.alias("a"), ev.alias("b")
    naive = (
        a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
               & (F.col("a.event_id") < F.col("b.event_id"))
               & (F.abs(F.col("a.s") - F.col("b.s")) <= ALLEN_WIN_US))
        .count()
    )
    assert sum(r["n_pairs"] for r in rows) == naive


def test_benford_terms_consistent(spark):
    """Digits are 1-9, observed probabilities sum to 1, and Benford
    probabilities sum to 1 (both at the 4dp grid)."""
    rows = QUERIES["dq_benford_firstdigit"].fn(spark, SF_DIR).collect()
    digits = sorted(r["first_digit"] for r in rows)
    assert digits == sorted(set(digits)) and set(digits) <= set(range(1, 10))
    assert abs(sum(r["p_observed"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["p_benford"] for r in rows if r["first_digit"] in range(1, 10))
               - sum(__import__("math").log10(1 + 1 / d) for d in digits)) < 1e-3


def test_table_log_crash_consistency(spark, tmp_path):
    """Torn writes must be invisible: readers trust only ^\\d{20}\\.json$
    commit files, orphan staged parquet is unreferenced until vacuum, and
    time travel survives logical deletes."""
    import json
    import os

    from atlas_migration_repo_spark.sources.table_log import TableLog

    root = str(tmp_path / "t")
    t = TableLog(root)
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 3).alias("k"), (F.col("id") * 2).alias("v")
    )
    v0 = t.append(df.where(F.col("id") < 60), partition_by=["k"])
    v1 = t.append(df.where(F.col("id") >= 60), partition_by=["k"])
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 100
    assert t.read(spark, version=0).count() == 60

    # simulate a crashed writer: torn tmp commit + orphan staged data file
    torn = os.path.join(root, "_log", ".tmp.deadbeef")
    with open(torn, "w") as fh:
        fh.write('{"add": {"path": "gar')  # truncated mid-JSON
    bad_name = os.path.join(root, "_log", "not-a-version.json")
    with open(bad_name, "w") as fh:
        fh.write(json.dumps({"add": {"path": "nope.parquet"}}))
    orphan_dir = os.path.join(root, "data", "s-orphan")
    df.limit(5).write.mode("overwrite").parquet(orphan_dir)
    assert t.versions() == [0, 1]
    assert t.read(spark).count() == 100  # unchanged by any torn state

    # logical delete keeps history readable; log-level pruning works
    t.delete_where(lambda pv: pv.get("k") == "0")
    assert t.read(spark).where(F.col("k") == 0).count() == 0
    assert t.read(spark, version=1).count() == 100  # time travel intact
    pruned = t.read(spark, version=1, partition_filter=lambda pv: pv["k"] == "1")
    assert pruned.select("k").distinct().collect() == [spark.sql("SELECT 1 k").collect()[0]]

    # vacuum reclaims ONLY unreferenced files (the orphan), never history
    deleted = t.vacuum()
    assert all(p.startswith("s-orphan") for p in deleted) and deleted
    assert t.read(spark, version=0).count() == 60


def test_table_log_put_if_absent(spark, tmp_path):
    """The commit primitive must not clobber an existing version: a file
    pre-created at the next version number forces the writer to take the
    one after (optimistic concurrency via os.link EEXIST)."""
    import os

    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    t.append(spark.range(10).select("id"))
    # squat on version 1 the way a concurrent winner would
    with open(os.path.join(str(tmp_path / "t"), "_log", f"{1:020d}.json"), "w") as fh:
        fh.write('{"commitInfo": {"operation": "SQUAT"}}\n')
    v = t.append(spark.range(5).select("id"))
    assert v == 2
    assert t.read(spark, version=2).count() == 15


def test_stream_ttl_eviction_mechanisms(spark):
    """The TTL session operator must exercise all three state-eviction
    paths over the chunked replay: 'timeout' (event-time timer fired —
    proving state is bounded by gap-active keys, not keys ever seen),
    'gap' (in-batch session break), and 'flush' (end-of-stream sentinel).
    Totals must reconcile with the events table."""
    from atlas_migration_repo_spark.streaming.stateful import (
        stream_stateful_ttl_full,
    )

    rows = stream_stateful_ttl_full(spark, SF_DIR).collect()
    by = {}
    for r in rows:
        by[r["closed_by"]] = by.get(r["closed_by"], 0) + 1
    assert by.get("timeout", 0) > 0, f"no timer evictions fired: {by}"
    assert by.get("gap", 0) > 0, by
    assert by.get("flush", 0) > 0, by
    n_events = sum(r["n_events"] for r in rows)
    from atlas_migration_repo_spark.catalog import load

    assert n_events == load(spark, SF_DIR, "events").count()
    # sessions respect the gap invariant
    for r in rows:
        assert r["session_start"] <= r["session_end"]


def test_skew_salting_and_aqe_on_zipf_key(spark):
    """SCALING.md §3 on actually-skewed data: a Zipf-ish key where one hot
    key owns ~50% of rows. Asserts (1) the salted shuffle's worst
    partition carries a small fraction of what the unsalted shuffle's
    does (straggler-free histogram), (2) the two-stage salted aggregate
    returns exactly the plain aggregate's rows, and (3) AQE's skew-join
    splitter actually kicks in (skew=true in the executed plan) when two
    skewed fact sides sort-merge-join."""
    n, salt_buckets = 200_000, 16
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 997).alias("key"),
        (F.col("id") % 100).cast("double").alias("v"),
    )

    un = (
        df.repartition(32, "key")
        .select(F.spark_partition_id().alias("p"))
        .groupBy("p").count().agg(F.max("count")).collect()[0][0]
    )
    salted = df.withColumn("salt", (F.col("id") % salt_buckets).cast("int"))
    sa = (
        salted.repartition(32, "key", "salt")
        .select(F.spark_partition_id().alias("p"))
        .groupBy("p").count().agg(F.max("count")).collect()[0][0]
    )
    assert un >= n * 0.45, f"hot key should dominate one partition: {un}"
    assert sa < un / 4, f"salting must flatten the histogram: {sa} vs {un}"

    # two-stage salted aggregate == plain aggregate, exactly
    plain = {
        r["key"]: (r["n"], r["s"])
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("decimal(30,8)")).alias("s"))
        .collect()
    }
    two_stage = {
        r["key"]: (r["n"], r["s"])
        for r in salted.groupBy("key", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum(F.col("v").cast("decimal(30,8)")).alias("ps"))
        .groupBy("key")
        .agg(F.sum("pn").alias("n"), F.sum("ps").alias("s"))
        .collect()
    }
    assert plain == two_stage

    # AQE skew-join split on the executed plan
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # dim side must not broadcast (disabled above) so the skewed fact
        # side sort-merge-joins; no downstream operator may require the
        # join's output partitioning or AQE refuses to split
        other = spark.range(997).select(
            F.col("id").alias("key"), F.lit(1).alias("w")
        )
        j = df.join(other, "key")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE did not split the skewed join:\n{plan[:2000]}"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_avro_container_format(spark):
    """Pure-spec Avro container invariants: nullable union roundtrip,
    deflate codec, and torn-block detection via the sync marker."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.avro import (
        _container_bytes,
        avro_schema_for,
        parse_container,
    )
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("s", T.StringType(), True),
            T.StructField("d", T.DoubleType(), True),
            T.StructField("b", T.BooleanType(), True),
        ]
    )
    rows = [(1, "héllo", 1.5, True), (2, None, None, False), (-3, "", -0.0, None)]
    avsc = avro_schema_for(schema)
    for codec in ("null", "deflate"):
        data = _container_bytes(avsc, rows, codec)
        avsc2, back = parse_container(data)
        assert back == rows
        assert avsc2["fields"][0]["type"] == "long"  # non-nullable: bare type
        assert avsc2["fields"][1]["type"] == ["null", "string"]
    # flip a byte inside the block payload region -> sync check must trip
    data = bytearray(_container_bytes(avsc, rows, "null"))
    data[-1] ^= 0xFF  # corrupt the trailing sync marker
    with _pytest.raises(AssertionError, match="torn block"):
        parse_container(bytes(data))


def test_cbo_stats_recorded_and_used(spark):
    """ANALYZE must land rowCount statistics in the catalog, and the
    CBO-planned 3-way join must broadcast both analyzed dimension sides."""
    df = QUERIES["stats_cbo_join"].fn(spark, SF_DIR)
    suffix = SF_DIR.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED cbo_nation_{suffix}").collect()
    stats = [r["data_type"] for r in desc if r["col_name"] == "Statistics"]
    assert stats and "25 rows" in stats[0], stats
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1500]


def test_table_log_compaction(spark, tmp_path):
    """OPTIMIZE: many small files -> few large ones as a new version,
    content byte-identical, history intact, vacuum keeps every referenced
    file."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    df = spark.range(1000).select("id", (F.col("id") % 7).alias("k"))
    for lo in range(0, 1000, 250):  # 4 commits -> >=4 files
        t.append(df.where((F.col("id") >= lo) & (F.col("id") < lo + 250)).repartition(3))
    before = t.snapshot()
    assert len(before.files) >= 8
    v = t.compact(spark, target_files=1)
    after = t.snapshot()
    assert len(after.files) == 1
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(1000))
    # pre-compaction version still readable (snapshot isolation)
    assert t.read(spark, version=v - 1).count() == 1000
    assert t.vacuum() == []  # nothing unreferenced: history preserved


def test_table_log_check_constraints(spark, tmp_path):
    """CHECK constraints gate commits: a violating append must refuse to
    commit (version count unchanged, no new files), a clean append passes,
    and constraints survive in the log as metaData."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    t.set_constraints("v >= 0", "k IS NOT NULL")
    good = spark.range(10).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    t.append(good)
    vs_before = t.versions()
    bad = spark.range(3).select(F.col("id").alias("k"), F.lit(-5.0).alias("v"))
    with _pytest.raises(ValueError, match="CHECK constraint violated"):
        t.append(bad)
    assert t.versions() == vs_before  # refused commit left no version
    assert t.read(spark).count() == 10
    assert t.constraints() == ["v >= 0", "k IS NOT NULL"]


def test_table_log_schema_evolution(spark, tmp_path):
    """Additive schema evolution: rows committed before a column existed
    read back with NULL for it; old versions keep their own schema."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    t.append(spark.range(5).select(F.col("id").alias("k")))
    t.append(
        spark.range(5, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("score")
        )
    )
    latest = t.read(spark)
    assert set(latest.columns) == {"k", "score"}
    rows = {r["k"]: r["score"] for r in latest.collect()}
    assert all(rows[k] is None for k in range(5))
    assert all(rows[k] == k * 2.0 for k in range(5, 10))
    assert t.read(spark, version=0).columns == ["k"]


def test_table_log_column_mapping_rename_widen(spark, tmp_path):
    """columnMapping evolution: a rename is metaData-only (physical file
    schema untouched, old versions surface the old name), appends after
    the rename stage under the stable physical name, widening casts
    narrow files up while old versions keep the narrow type, checkpoints
    preserve the mapping, and illegal operations refuse loudly."""
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    t.append(
        spark.range(5).select(F.col("id").alias("k"), F.lit(1).cast("int").alias("v"))
    )
    t.rename_column("v", "val")
    t.append(
        spark.range(5, 10).select(
            F.col("id").alias("k"), F.lit(2).cast("int").alias("val")
        )
    )
    assert set(t.read(spark, version=0).columns) == {"k", "v"}  # time travel
    latest = t.read(spark)
    assert set(latest.columns) == {"k", "val"}
    assert latest.count() == 10
    assert latest.agg(F.sum("val")).collect()[0][0] == 15
    # the post-rename commit's files carry the PHYSICAL name
    newest_file = t.snapshot().files[-1]["path"]
    names = pq.ParquetFile(os.path.join(t.data_dir, newest_file)).schema_arrow.names
    assert "v" in names and "val" not in names, names

    t.widen_column("val", "bigint", from_type="int")
    t.append(
        spark.range(10, 12).select(
            F.col("id").alias("k"), F.lit(3).cast("bigint").alias("val")
        )
    )
    assert dict(t.read(spark).dtypes)["val"] == "bigint"
    assert t.read(spark).agg(F.sum("val")).collect()[0][0] == 21
    assert dict(t.read(spark, version=2).dtypes)["val"] == "int"  # pre-widen

    t.checkpoint()  # mapping must survive checkpoint-based resolution
    assert set(t.read(spark).columns) == {"k", "val"}
    assert dict(t.read(spark).dtypes)["val"] == "bigint"

    with _pytest.raises(ValueError, match="unsupported widening"):
        t.widen_column("val", "int", from_type="bigint")
    tp = TableLog(str(tmp_path / "tp"))
    tp.append(
        spark.range(4).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p")),
        partition_by=["p"],
    )
    with _pytest.raises(ValueError, match="partition column"):
        tp.rename_column("p", "bucket")


def test_table_log_txn_idempotent_appends(spark, tmp_path):
    """The Delta txn action: append_txn commits carry (appId, version);
    replaying an already-recorded batch is a NO-OP (exactly-once
    foreachBatch sinks), apps are independent, a version race against a
    writer that committed the same txn becomes a no-op instead of a
    duplicate, and checkpoints preserve the high-water mark across a
    retention vacuum."""
    import json as _json

    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    assert t.append_txn(spark.range(0, 10).select("id"), "app", 0) == 0
    assert t.append_txn(spark.range(10, 20).select("id"), "app", 1) == 1
    assert t.append_txn(spark.range(10, 20).select("id"), "app", 1) is None
    assert t.append_txn(spark.range(10, 20).select("id"), "app", 0) is None
    assert t.read(spark).count() == 20  # replays did not double-write
    assert t.txn_version("app") == 1
    assert t.txn_version("other") is None
    assert t.append_txn(spark.range(20, 25).select("id"), "other", 0) is not None

    # race: a concurrent writer commits the SAME (app, 2) at our version
    real_publish = t.store.publish
    state = {"raced": False}

    def racing_publish(tmp, target):
        if not state["raced"]:
            state["raced"] = True
            with open(target, "w") as fh:
                fh.write(_json.dumps({"txn": {"appId": "app", "version": 2}}) + "\n")
            return False
        return real_publish(tmp, target)

    t.store.publish = racing_publish
    n_before = t.read(spark).count()
    assert t.append_txn(spark.range(5).select("id"), "app", 2) is None
    t.store.publish = real_publish
    assert t.read(spark).count() == n_before  # duplicate batch suppressed

    # retention vacuum writes a checkpoint that must carry the txn marks
    t.vacuum(retain_versions=1)
    assert t.txn_version("app") == 2
    assert t.append_txn(spark.range(5).select("id"), "app", 2) is None


def test_table_log_compact_cluster_by_preserves_skipping(spark, tmp_path):
    """OPTIMIZE with cluster_by must leave the compacted files with
    DISJOINT key envelopes (range clustering), so log-stats skipping
    keeps pruning after compaction — vs the interleaved input where
    every file intersects every range. Content stays identical."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    for r in range(8):  # each commit spans the WHOLE key range
        t.append(
            spark.range(1000).where(F.col("id") % 8 == r).coalesce(1)
        )
    assert len(t.files_in_range("id", 100, 149)) == 8  # no pruning possible
    t.compact(spark, target_files=4, cluster_by=["id"])
    files = t.snapshot().files
    assert len(files) == 4
    spans = sorted(
        (f["stats"]["minValues"]["id"], f["stats"]["maxValues"]["id"]) for f in files
    )
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans  # disjoint envelopes
    hit = t.files_in_range("id", 100, 149)
    assert len(hit) == 1, [f["stats"]["minValues"]["id"] for f in hit]
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == list(range(1000))


def test_table_log_model_based_random_ops(spark, tmp_path):
    """Model-based check of the commit protocol: a seeded random sequence
    of append / partition-delete / compact ops, mirrored in a plain
    in-memory model; after the run EVERY committed version's read() must
    equal the model's expected id-set at that version (time travel over
    arbitrary histories, not just the hand-built fixtures)."""
    import random

    from atlas_migration_repo_spark.sources.table_log import TableLog

    rng = random.Random(42)
    t = TableLog(str(tmp_path / "t"))
    next_id = 0
    live: set[int] = set()  # current expected ids
    history: dict[int, set[int]] = {}  # version -> expected ids

    def df_for(ids):
        return spark.createDataFrame(
            [(i, i % 3) for i in sorted(ids)], "id long, k long"
        )

    for _ in range(12):
        op = rng.choice(["append", "append", "delete", "compact"])
        if op == "append":
            batch = set(range(next_id, next_id + rng.randint(5, 40)))
            next_id = max(batch) + 1
            v = t.append(df_for(batch), partition_by=["k"])
            live |= batch
        elif op == "delete":
            if not live:
                continue
            parity = rng.randint(0, 2)
            v = t.delete_where(lambda pv, p=parity: pv.get("k") == str(p))
            live = {i for i in live if i % 3 != parity}
        else:
            if not live:
                continue
            v = t.compact(spark, target_files=2)
        history[v] = set(live)

    for v, expected in history.items():
        if not expected:
            continue  # empty snapshots raise by contract
        got = {r["id"] for r in t.read(spark, version=v).select("id").collect()}
        assert got == expected, f"version {v}: {len(got)} vs {len(expected)}"


def test_embed_pq_invariants(spark):
    """PQ codebook training must help: trained codebooks' mean distortion
    strictly below the untrained init's; codes stay in [0, PQ_K);
    deterministic across runs."""
    from atlas_migration_repo_spark.llm import similarity as S

    rows = {r["label"]: r for r in QUERIES["embed_pq"].fn(spark, SF_DIR).collect()}
    assert rows, "no labels"
    for r in rows.values():
        assert 0 <= r["code_min"] and r["code_max"] < S.PQ_K
        assert r["mean_mse"] > 0
    rows2 = {r["label"]: r for r in QUERIES["embed_pq"].fn(spark, SF_DIR).collect()}
    assert {k: v["mean_mse"] for k, v in rows.items()} == {
        k: v["mean_mse"] for k, v in rows2.items()
    }
    # training helps: compare overall distortion vs the untrained init
    import numpy as np

    from atlas_migration_repo_spark.catalog import load

    em = load(spark, SF_DIR, "embeddings")
    V = np.asarray([r["embedding"] for r in em.select("embedding").collect()], dtype=np.float64)
    B = V.reshape(len(V), S.PQ_M, V.shape[1] // S.PQ_M)

    def dist(cb):
        tot = 0.0
        for m in range(S.PQ_M):
            d2 = ((B[:, m, None, :] - cb[m][None, :, :]) ** 2).sum(-1)
            tot += d2.min(1).mean()
        return tot

    cb0 = S._pq_train(spark, em, 0)
    cbN = S._pq_train(spark, em, S.PQ_ITERS)
    assert dist(cbN) < dist(cb0) * 0.9, (dist(cbN), dist(cb0))


def test_table_log_data_skipping_prunes_files(spark, tmp_path):
    """Log-stats skipping must cut the candidate file set using ONLY the
    commit log (footer stats harvested at write time), and a file without
    stats must be kept, never skipped."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    for lo in range(0, 1000, 100):  # 10 disjoint key slices, one file each
        t.append(
            spark.range(lo, lo + 100)
            .select(F.col("id"), (F.col("id") * 2).alias("v"))
            .coalesce(1)
        )
    all_files = t.snapshot().files
    assert len(all_files) >= 10
    assert all(f["stats"]["minValues"]["id"] is not None for f in all_files)
    hit = t.files_in_range("id", 250, 349)
    assert 1 <= len(hit) <= 2, [f["stats"]["minValues"] for f in hit]
    got = sorted(r["id"] for r in t.read_range(spark, "id", 250, 349).collect())
    assert got == list(range(250, 350))
    # a statless file is conservative: always kept
    import json
    import os

    log_dir = os.path.join(str(tmp_path / "t"), "_log")
    acts = [{"add": {"path": "s-x/manual.parquet", "partitionValues": {}, "size": 1}}]
    spark.range(5000, 5010).select(F.col("id"), F.col("id").alias("v")).coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(str(tmp_path / "t"), "data", "s-man"))
    part = next(
        p
        for p in os.listdir(os.path.join(str(tmp_path / "t"), "data", "s-man"))
        if p.endswith(".parquet")
    )
    os.makedirs(os.path.join(str(tmp_path / "t"), "data", "s-x"), exist_ok=True)
    os.rename(
        os.path.join(str(tmp_path / "t"), "data", "s-man", part),
        os.path.join(str(tmp_path / "t"), "data", "s-x", "manual.parquet"),
    )
    with open(os.path.join(log_dir, f"{len(t.versions()):020d}.json"), "w") as fh:
        for a in acts:
            fh.write(json.dumps(a) + "\n")
    kept = t.files_in_range("id", 0, 10)
    assert any(f["path"] == "s-x/manual.parquet" for f in kept)


def test_table_log_checkpoint_and_retention_vacuum(spark, tmp_path):
    """Checkpoints must make log replay start from the resolved state
    (identical reads before/after), and retention vacuum must reclaim
    files only older versions referenced while keeping every retained
    version readable — and failing LOUDLY for trimmed ones."""
    import os

    import pytest as _pytest

    from atlas_migration_repo_spark.sources.table_log import TableLog

    root = str(tmp_path / "t")
    t = TableLog(root)
    t.set_constraints("id >= 0")
    for lo in range(0, 600, 100):
        t.append(spark.range(lo, lo + 100).select("id").coalesce(1))
    latest = t.versions()[-1]
    before = sorted(r["id"] for r in t.read(spark).collect())

    cp_v = t.checkpoint()
    assert cp_v == latest
    assert sorted(r["id"] for r in t.read(spark).collect()) == before
    assert t.constraints() == ["id >= 0"]  # metaData survives the checkpoint
    # time travel below the checkpoint still resolves (full log intact)
    assert t.read(spark, version=t.versions()[2]).count() == 200

    # overwrite-style churn so old files become reclaimable
    t.compact(spark, target_files=1)
    n_before = len(
        [
            f
            for d, _sub, names in os.walk(os.path.join(root, "data"))
            for f in names
            if f.endswith(".parquet")
        ]
    )
    # retain 2: the pre-compaction version stays live, so its files are
    # still referenced and NOTHING may be reclaimed
    assert t.vacuum(retain_versions=2) == []
    assert t.read(spark, version=t.versions()[0]).count() == 600
    # retain 1: only the compacted file is referenced -> originals reclaimed
    deleted = t.vacuum(retain_versions=1)
    assert deleted, "retention vacuum reclaimed nothing"
    kept = t.versions()
    assert len(kept) == 1
    # retained versions fully readable
    for v in kept:
        assert t.read(spark, version=v).count() == 600
    # trimmed versions fail loudly
    with _pytest.raises(ValueError, match="not in committed versions"):
        t.read(spark, version=1)
    n_after = len(
        [
            f
            for d, _sub, names in os.walk(os.path.join(root, "data"))
            for f in names
            if f.endswith(".parquet")
        ]
    )
    assert n_after < n_before


@pytest.mark.parametrize("store_name", ["posix_link", "coordinated_put"])
def test_table_log_concurrent_writers_race(spark, tmp_path, store_name):
    """Optimistic concurrency under a REAL race: 4 threads each commit 4
    appends against one table. Every commit must win a unique version,
    no append may be lost or duplicated, and the final read must hold
    exactly the union of all batches — for BOTH LogStore impls: the
    POSIX os.link one and the coordinated-put one that never relies on
    link/rename atomicity (the rename-less object-store protocol)."""
    import threading

    from atlas_migration_repo_spark.sources.table_log import (
        CoordinatedPutLogStore,
        PosixLinkLogStore,
        TableLog,
    )

    mk = {
        "posix_link": PosixLinkLogStore,
        "coordinated_put": CoordinatedPutLogStore,
    }[store_name]
    root = str(tmp_path / "t")
    TableLog(root, store=mk())  # create dirs once
    errors = []

    def writer(tid: int):
        try:
            t = TableLog(root, store=mk())  # own handle + own store state
            for j in range(4):
                lo = (tid * 4 + j) * 100
                t.append(
                    spark.range(lo, lo + 100).select("id").coalesce(1)
                )
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    t = TableLog(root, store=mk())
    vs = t.versions()
    assert vs == list(range(16)), vs  # 16 commits, dense unique versions
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == list(range(1600)), (len(got), got[:5], got[-5:])


def test_coordinated_store_crash_recovery(spark, tmp_path):
    """CoordinatedPutLogStore crash windows: a writer dying after staging
    but before the commit PUT leaves a claimed version whose content is
    durably staged — the next TableLog open must finish the publish
    (version readable, no loss). A writer dying BEFORE staging leaves an
    empty claim — after the lease expires the version must become
    claimable again instead of wedging the log forever."""
    import json as _json
    import os

    from atlas_migration_repo_spark.sources.table_log import (
        CoordinatedPutLogStore,
        TableLog,
    )

    root = str(tmp_path / "t")
    t = TableLog(root, store=CoordinatedPutLogStore())
    t.append(spark.range(10).select("id").coalesce(1))

    # crash window A: claim + staged exist, commit object missing
    log_dir = t.log_dir
    claims = os.path.join(log_dir, "_claims")
    target_name = f"{1:020d}.json"
    actions = [{"commitInfo": {"operation": "APPEND"}}]  # content irrelevant
    staged = os.path.join(claims, target_name + ".staged")
    with open(staged, "w") as fh:
        for a in actions:
            fh.write(_json.dumps(a) + "\n")
    with open(os.path.join(claims, target_name + ".claim"), "w") as fh:
        _json.dump({"staged": target_name + ".staged", "complete": False,
                    "ts_ms": 0}, fh)
    t2 = TableLog(root, store=CoordinatedPutLogStore())  # triggers recover()
    assert 1 in t2.versions()  # half-published commit finished, not lost
    # and the log keeps accepting commits past the recovered version
    t2.append(spark.range(5).select("id").coalesce(1))
    assert t2.versions() == [0, 1, 2]

    # crash window B: claim only, nothing staged — expires after the lease
    dead = f"{3:020d}.json"
    with open(os.path.join(claims, dead + ".claim"), "w") as fh:
        _json.dump({"staged": dead + ".staged", "complete": False, "ts_ms": 0}, fh)
    t3 = TableLog(root, store=CoordinatedPutLogStore(lease_ms=0))
    t3.append(spark.range(5).select("id").coalesce(1))  # must not wedge
    assert t3.versions() == [0, 1, 2, 3]


def test_table_log_vacuum_keeps_all_committed_history(spark, tmp_path):
    """Default vacuum() must never delete a file referenced by ANY
    committed version — including files added and then superseded BEFORE
    a checkpoint (regression: the referenced set used to be built from a
    checkpoint-based replay, silently reclaiming pre-checkpoint history
    that was still committed and readable)."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    for lo in range(0, 600, 100):
        t.append(spark.range(lo, lo + 100).select("id").coalesce(1))
    t.compact(spark, target_files=1)  # supersedes all 6 original files
    t.checkpoint()  # checkpoint AFTER the churn: live set = 1 file
    assert t.vacuum() == []  # nothing reclaimed: v0..v5 still committed
    for v in range(6):  # every pre-compaction version still readable
        assert t.read(spark, version=v).count() == (v + 1) * 100


def test_table_log_merge_respects_constraints(spark, tmp_path):
    """CHECK constraints must gate MERGE exactly like APPEND: a violating
    CDC delta refuses to commit (no new version), a clean one merges."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    t.set_constraints("v >= 0")
    t.append(spark.range(10).select(F.col("id").alias("k"), F.lit(1.0).alias("v")))
    vs_before = t.versions()
    bad = spark.range(3).select(F.col("id").alias("k"), F.lit(-1.0).alias("v"))
    with _pytest.raises(ValueError, match="CHECK constraint violated"):
        t.merge(spark, bad, key="k")
    assert t.versions() == vs_before
    good = spark.range(3).select(F.col("id").alias("k"), F.lit(9.0).alias("v"))
    t.merge(spark, good, key="k")
    rows = {r["k"]: r["v"] for r in t.read(spark).collect()}
    assert rows[0] == 9.0 and rows[5] == 1.0


def test_table_log_conflicting_remove_raises(spark, tmp_path):
    """Logical-conflict detection: a remove-carrying commit that loses
    the version race to a writer who removed the SAME file must raise
    ConcurrentModificationError instead of blindly retrying (two merges /
    delete racing compact would double-apply). Blind appends still retry."""
    import json as _json
    import os

    import pytest as _pytest

    from atlas_migration_repo_spark.sources.table_log import (
        ConcurrentModificationError,
        TableLog,
    )

    t = TableLog(str(tmp_path / "t"))
    t.append(spark.range(10).select("id").coalesce(1), partition_by=None)
    victim = t.snapshot().files[0]["path"]

    real_publish = t.store.publish
    state = {"raced": False}

    def racing_publish(tmp, target):
        if not state["raced"]:
            state["raced"] = True
            # the concurrent winner removes the same file at this version
            with open(target, "w") as fh:
                fh.write(_json.dumps({"remove": {"path": victim}}) + "\n")
            return False
        return real_publish(tmp, target)

    t.store.publish = racing_publish
    with _pytest.raises(ConcurrentModificationError, match="already removed"):
        t.delete_where(lambda pv: True)
    # an APPEND racing the same winner is safe and must retry through
    state["raced"] = False
    v = t.append(spark.range(5).select("id").coalesce(1))
    assert v == t.versions()[-1]
    assert os.path.exists(os.path.join(t.log_dir, f"{v:020d}.json"))


def test_sim_ann_ivfpq_recall_ladder(spark):
    """IVF-PQ sits where the theory puts it: below the full-precision
    composed path (ADC is a lossy ranker) but well above chance, with
    every vector answered and the exact-rerank float policy intact
    (cosines bit-match sim_knn_join wherever the true NN was found)."""
    exact = {r["vec_id"]: r for r in QUERIES["sim_knn_join"].fn(spark, SF_DIR).collect()}
    pq = {r["vec_id"]: r for r in QUERIES["sim_ann_ivfpq"].fn(spark, SF_DIR).collect()}
    assert set(pq) == set(exact)
    hits = [v for v, r in exact.items() if pq[v]["nn_id"] == r["nn_id"]]
    recall = len(hits) / len(exact)
    assert recall >= 0.75, f"IVF-PQ recall {recall:.3f} below floor"
    for v in hits:
        assert pq[v]["cosine"] == exact[v]["cosine"], v
    ann = {r["vec_id"]: r for r in QUERIES["sim_knn_ann"].fn(spark, SF_DIR).collect()}
    ann_recall = sum(1 for v, r in exact.items() if ann[v]["nn_id"] == r["nn_id"]) / len(exact)
    assert ann_recall >= recall, "full-precision path must not lose to PQ"


def test_kafka_stream_options_surface():
    """Kafka connector boundary: valid configs serialize to the exact
    option keys the kafka source consumes; invalid ones fail loudly."""
    import json

    import pytest as _pytest

    from atlas_migration_repo_spark.sources.cloud import kafka_stream_options

    opts = kafka_stream_options(
        "broker1:9092,broker2:9092",
        "atlas.orders.cdc",
        starting_offsets={"atlas.orders.cdc": {"0": 100, "1": -2}},
        group_id_prefix="atlas-migration",
        max_offsets_per_trigger=500_000,
    )
    assert opts["kafka.bootstrap.servers"].startswith("broker1")
    assert opts["subscribe"] == "atlas.orders.cdc"
    assert json.loads(opts["startingOffsets"]) == {
        "atlas.orders.cdc": {"0": 100, "1": -2}
    }
    assert opts["maxOffsetsPerTrigger"] == "500000"
    assert opts["failOnDataLoss"] == "true"
    with _pytest.raises(ValueError):
        kafka_stream_options("", "t")
    with _pytest.raises(ValueError):
        kafka_stream_options("b:9092", "t", starting_offsets="yesterday")
    with _pytest.raises(ValueError):
        kafka_stream_options("b:9092", "t", max_offsets_per_trigger=0)
    # offsets below -2 must be rejected for STRING partition keys too —
    # the form Kafka's startingOffsets JSON actually uses (ADVICE r4)
    with _pytest.raises(ValueError, match="offsets must be >= -2"):
        kafka_stream_options("b:9092", "t", starting_offsets={"t": {"0": -5}})


def test_model_check_tablelog_commit_sequences(spark, tmp_path):
    """Model-check the TableLog protocol: a seeded random sequence of
    append / merge / compact / rename / widen / checkpoint / vacuum
    against a dict model — every recorded version must read back exactly
    its model state AND surface the schema as of that version (time
    travel across rename/widen boundaries), and the default vacuum must
    never break any committed version's read."""
    import random

    from atlas_migration_repo_spark.sources.table_log import TableLog

    rng = random.Random(11)
    t = TableLog(str(tmp_path / "t"))
    colname = "val"
    widened = False

    def df_of(rows, name, wide):
        return spark.createDataFrame(
            rows, f"k bigint, {name} {'bigint' if wide else 'int'}"
        )

    rows = [(i, i % 97) for i in range(200)]
    v = t.append(df_of(rows, colname, False))
    model = dict(rows)
    snaps = [(v, dict(model), colname)]
    next_key = 1000
    for _step in range(12):
        op = rng.choice(
            ["append", "merge", "compact", "rename", "widen", "checkpoint", "vacuum"]
        )
        if op == "append":
            new = [
                (next_key + i, rng.randint(0, 96))
                for i in range(rng.randint(1, 40))
            ]
            next_key += 100
            v = t.append(df_of(new, colname, widened))
            model.update(dict(new))
        elif op == "merge":
            keys = (
                rng.sample(sorted(model), min(len(model), rng.randint(1, 30)))
                if model
                else []
            )
            src = [(k, model[k] + 1) for k in keys] + [
                (next_key + i, i) for i in range(rng.randint(1, 10))
            ]
            next_key += 100
            v = t.merge(spark, df_of(src, colname, widened), key="k")
            model.update(dict(src))
        elif op == "compact":
            v = t.compact(spark, target_files=2)
        elif op == "rename":
            new_name = f"val{_step}"
            v = t.rename_column(colname, new_name)
            colname = new_name
        elif op == "widen":
            if widened:
                continue
            v = t.widen_column(colname, "bigint", from_type="int")
            widened = True
        elif op == "checkpoint":
            t.checkpoint()
            continue  # not a commit; state unchanged
        else:
            t.vacuum()  # default: every committed version stays readable
            continue
        snaps.append((v, dict(model), colname))
    for i, (sv, expect, cname) in enumerate(snaps):
        df = t.read(spark, version=sv)
        assert set(df.columns) == {"k", cname}, (
            f"version {sv}: schema {df.columns} != ['k', {cname!r}]"
        )
        got = {r["k"]: r[cname] for r in df.collect()}
        assert got == expect, f"snapshot {i} (version {sv}) diverged from model"


def test_vacuum_after_manual_checkpoint_keeps_history(spark, tmp_path):
    """Regression (ADVICE r4 #1): default vacuum() must derive the
    referenced-file set from EVERY committed commit file, not from a
    checkpoint-based replay. Scenario: 6 appends, compact (removes all
    six files), manual checkpoint(), then vacuum() — the pre-compaction
    files are absent from the checkpoint's resolved state but still
    referenced by committed versions v0..v5, so vacuum must keep them
    and every version must remain readable."""
    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    for i in range(6):
        t.append(spark.createDataFrame([(i, i * 10)], "k bigint, v bigint"))
    t.compact(spark, target_files=1)
    t.checkpoint()
    deleted = t.vacuum()
    assert deleted == [], f"vacuum deleted still-referenced files: {deleted}"
    for v in range(6):
        got = {r["k"] for r in t.read(spark, version=v).collect()}
        assert got == set(range(v + 1)), f"version {v} unreadable after vacuum"


def test_widen_validates_actual_type(spark, tmp_path):
    """Regression (second review): widen_column must validate the
    caller's from_type claim against a live file's actual footer type —
    a wrong claim would commit a widening that readers apply as a
    silent lossy cast (string 'widened' int→bigint → NULLs)."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    t.append(spark.createDataFrame([("abc",), ("7",)], "note string"))
    with _pytest.raises(ValueError, match="refusing"):
        t.widen_column("note", "bigint", from_type="int")
    # the honest chain still works
    t2 = TableLog(str(tmp_path / "t2"))
    t2.append(spark.createDataFrame([(1,)], "n int"))
    t2.widen_column("n", "bigint", from_type="int")
    assert dict(t2.read(spark).dtypes)["n"] == "bigint"


def test_table_log_stream_added_lists_exactly_the_appended_files(spark, tmp_path):
    """stream_table_log's callbacks, called without a stream: on an
    append-only history `_stream_added(root, lo, hi)` lists exactly the
    files versions (lo, hi] added (TableLog.added_files, the walk
    changes() uses); a compaction adds no data and lists nothing."""
    import os

    from atlas_migration_repo_spark.sources import table_log as TL

    root = str(tmp_path / "t")
    t = TL.TableLog(root)
    for i in range(3):
        t.append(spark.createDataFrame([(i, i * 10)], "k bigint, v bigint"))

    def live(v):
        return {os.path.join(t.data_dir, f["path"]) for f in t.snapshot(v).files}

    assert TL._stream_latest(root) == 2
    got = [p for p, c in TL._stream_added(root, 0, 2)]
    assert sorted(got) == sorted(live(2) - live(0))
    assert {p for p, _ in TL._stream_added(root, None, 0)} == live(0)
    t.compact(spark, target_files=1)
    assert TL._stream_added(root, 2, TL._stream_latest(root)) == []


def test_compact_is_invisible_to_change_feed(spark, tmp_path):
    """Regression (second review): compact() rearranges bytes without
    adding data — its adds carry dataChange=false and the change feed
    skips them, so a downstream incremental consumer (the ANN index
    sync is the in-repo example) never re-ingests the whole table after
    a compaction."""
    import pytest as _pytest

    from atlas_migration_repo_spark.sources.table_log import TableLog

    t = TableLog(str(tmp_path / "t"))
    for i in range(3):
        t.append(spark.createDataFrame([(i, float(i))], "k bigint, v double"))
    v_before = t.versions()[-1]
    t.compact(spark, target_files=1)
    with _pytest.raises(ValueError, match="no added files"):
        t.changes(spark, from_version=v_before)
    # real data after the compaction still flows
    t.append(spark.createDataFrame([(9, 9.0)], "k bigint, v double"))
    got = {r["k"] for r in t.changes(spark, from_version=v_before).collect()}
    assert got == {9}
    # and the table itself reads complete
    assert {r["k"] for r in t.read(spark).collect()} == {0, 1, 2, 9}


def test_ann_sync_skips_compaction(spark, tmp_path):
    """Regression (second review): an embeddings-log compaction is a
    content-identical rewrite — sync_ann_index must NOT re-ingest the
    whole table (the index would silently double); it advances its
    watermark with a metadata-only commit and indexes nothing."""
    import numpy as np

    from atlas_migration_repo_spark.llm.ann_index import (
        build_ann_index,
        indexed_version,
        sync_ann_index,
    )
    from atlas_migration_repo_spark.sources.table_log import TableLog

    rng = np.random.default_rng(5)
    em_log = TableLog(str(tmp_path / "em"))
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(120)
    ]
    em_log.append(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    )
    idx = str(tmp_path / "idx")
    build_ann_index(spark, em_log.read(spark), idx, em_log.versions()[-1])
    codes_log = TableLog(idx + "/codes")
    n_before = codes_log.read(spark).count()

    em_log.compact(spark, target_files=1)
    assert sync_ann_index(spark, em_log, idx) == 0
    assert codes_log.read(spark).count() == n_before, "index re-ingested"
    assert indexed_version(codes_log) == em_log.versions()[-1]
    # a real append after the compaction still syncs incrementally
    em_log.append(
        spark.createDataFrame(
            [(1000, [1.0] * 8)], "vec_id long, embedding array<float>"
        )
    )
    assert sync_ann_index(spark, em_log, idx) == 1
    assert codes_log.read(spark).count() == n_before + 1


def test_min_label_components_long_chain_and_cap(spark):
    """VERDICT r5 #7: the CC loop is capped and pointer-doubled. A
    300-node chain (diameter 299) must converge well inside 12 rounds —
    plain one-hop min propagation would need ~299 — and an insufficient
    cap must raise deterministically instead of returning a partial
    clustering."""
    import pytest as _pytest

    from atlas_migration_repo_spark.llm.dedup import min_label_components

    one_way = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "a INT, b INT"
    )
    edges = one_way.unionByName(
        one_way.selectExpr("b AS a", "a AS b")
    )
    lab = min_label_components(edges, "a", "b", max_rounds=12)
    rows = {r["id"]: r["lab"] for r in lab.collect()}
    assert len(rows) == 300 and set(rows.values()) == {0}

    with _pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(edges, "a", "b", max_rounds=1)


def test_ann_index_serve_prunes_codes_files(spark, tmp_path, monkeypatch):
    """VERDICT r5 #4: the codes log is partitioned by cell bucket and
    serve prunes non-probed buckets IN THE LOG (files drop from the
    add-action list before Spark lists anything). A small query batch
    with probes=1 must (a) pass a partition_filter that keeps a strict
    subset of the live code files, and (b) return exactly the same
    neighbors as an unpruned read — pruning is a scan optimization,
    never a semantics change."""
    import os

    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.llm.ann_index import (
        build_ann_index,
        serve_ann_index,
    )
    from atlas_migration_repo_spark.sources.table_log import TableLog

    em_all = load(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "idx")
    build_ann_index(spark, em_all, idx, source_version=0)
    queries = em_all.where(F.col("vec_id").isin(1, 2, 3))

    capture = {}
    orig = TableLog.read

    def spy(self, spark_, version=None, partition_filter=None):
        if os.path.basename(self.root) == "codes":
            capture["filter"] = partition_filter
        return orig(self, spark_, version=version, partition_filter=partition_filter)

    monkeypatch.setattr(TableLog, "read", spy)
    pruned = {
        r["vec_id"]: r["nn_id"]
        for r in serve_ann_index(spark, idx, queries, em_all, probes=1).collect()
    }
    assert capture.get("filter") is not None, "serve did not pass a filter"
    live = TableLog(os.path.join(idx, "codes")).snapshot().files
    kept = [f for f in live if capture["filter"](f.get("partitionValues", {}))]
    assert 0 < len(kept) < len(live), (len(kept), len(live))

    def noprune(self, spark_, version=None, partition_filter=None):
        return orig(self, spark_, version=version, partition_filter=None)

    monkeypatch.setattr(TableLog, "read", noprune)
    unpruned = {
        r["vec_id"]: r["nn_id"]
        for r in serve_ann_index(spark, idx, queries, em_all, probes=1).collect()
    }
    assert pruned == unpruned


def test_engine_facade_uniform_lifecycle(spark, tmp_path):
    """The AtlasEngine facade drives the full dual-format lifecycle:
    delta write → publish to iceberg → stale after append → sync →
    rename column → status stays readable through both doors."""
    from atlas_migration_repo_spark.api import AtlasEngine
    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.sources.iceberg_interop import read_iceberg

    eng = AtlasEngine(spark=spark, sf_dir=SF_DIR)
    root = str(tmp_path / "t")
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    eng.write_delta(orders.where("o_orderkey % 2 = 0"), root)
    eng.publish_uniform(root, direction="to_iceberg")
    assert eng.uniform_status(root)["in_sync"] is True
    eng.write_delta(
        orders.where("o_orderkey % 2 = 1"), root, mode="append"
    )
    assert eng.uniform_status(root)["in_sync"] is False
    eng.sync_uniform(root, direction="to_iceberg")
    assert eng.uniform_status(root)["in_sync"] is True
    assert read_iceberg(spark, root).count() == orders.count()
    eng.rename_delta_column(root, "o_totalprice", "price_usd")
    assert "price_usd" in eng.read_delta(root).columns


def test_semdedup_invariants(spark):
    """SemDeDup's kept set is a maximal independent set per cell under
    exact cosine: (a) no two KEPT same-cell vectors reach τ, (b) every
    DROPPED vector has a KEPT same-cell witness at ≥ τ, (c) the farthest
    -from-centroid member of each duplicate group survives (greedy
    preference order), and (d) the operator is deterministic."""
    import numpy as np

    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.llm.similarity import COSINE_TAU

    out1 = {
        (r["vec_id"]): (r["cell"], r["is_kept"])
        for r in QUERIES["sim_semdedup"].fn(spark, SF_DIR).collect()
    }
    out2 = {
        (r["vec_id"]): (r["cell"], r["is_kept"])
        for r in QUERIES["sim_semdedup"].fn(spark, SF_DIR).collect()
    }
    assert out1 == out2, "semdedup is not deterministic"
    emb = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in load(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    assert set(out1) == set(emb)

    def cos(a, b):
        return float(
            a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
        )

    by_cell: dict[int, list[int]] = {}
    for vid, (cell, _k) in out1.items():
        by_cell.setdefault(cell, []).append(vid)
    n_dropped = 0
    for cell, vids in by_cell.items():
        kept = [v for v in vids if out1[v][1]]
        dropped = [v for v in vids if not out1[v][1]]
        n_dropped += len(dropped)
        for i, a in enumerate(kept):
            for b in kept[i + 1 :]:
                assert cos(emb[a], emb[b]) < COSINE_TAU + 1e-9, (
                    f"kept pair ({a},{b}) in cell {cell} reaches tau"
                )
        for d in dropped:
            assert any(
                cos(emb[d], emb[k]) >= COSINE_TAU - 1e-9 for k in kept
            ), f"dropped {d} has no kept witness in cell {cell}"
    assert n_dropped > 0, "fixture has planted near-dups; none dropped"


def test_dag_spec_uniform_sync_task():
    """With uniform_sync=True on a Delta sink, the DAG grows a
    metadata-only maintenance task after the publish barrier carrying
    each object's table path; non-Delta sinks refuse."""
    import pytest as _pytest

    import atlas_migration_repo_spark.orchestration as orch

    acct = orch.ObjectSpec(
        name="Account",
        fields=(("Id", "id"), ("Name", "string")),
        watermark_field="SystemModstamp",
    )
    sink = orch.SinkSpec(root="s3a://example-bucket/atlas/", fmt="delta")
    spec = orch.dag_spec("m", [acct], sink, uniform_sync=True)
    t = next(x for x in spec["tasks"] if x["task_id"] == "uniform_sync")
    assert t["kind"] == "maintenance"
    assert t["depends_on"] == ["publish"]
    assert t["paths"] == [sink.path("Account")]
    import json as _json

    _json.dumps(spec)  # stays pure data

    with _pytest.raises(ValueError, match="DELTA or HUDI sink"):
        orch.dag_spec(
            "m2",
            [acct],
            orch.SinkSpec(root="s3a://example-bucket/x/", fmt="parquet"),
            uniform_sync=True,
        )

    # hudi sinks sync the grafted _delta_log and append table services
    hspec = orch.dag_spec(
        "m3",
        [acct],
        orch.SinkSpec(root="s3a://example-bucket/h/", fmt="hudi"),
        uniform_sync=True,
    )
    hs = next(x for x in hspec["tasks"] if x["task_id"] == "uniform_sync")
    assert hs["op"] == "sync_delta_log_from_hudi"
    svc = next(
        x for x in hspec["tasks"] if x["task_id"] == "hudi_table_services"
    )
    assert svc["op"] == "compact_then_clean"
    assert svc["depends_on"] == ["uniform_sync"]
    plain = orch.dag_spec(
        "m4", [acct], orch.SinkSpec(root="s3a://example-bucket/h2/", fmt="hudi")
    )
    svc2 = next(
        x for x in plain["tasks"] if x["task_id"] == "hudi_table_services"
    )
    assert svc2["depends_on"] == ["publish"]


def test_ann_index_topk_invariants(spark):
    """Top-k serving from the persisted index: dense ranks 1..k per
    query, rank-1 equals the 1-NN serving path on the same index, and
    recall@5 vs the exact brute-force top-5 clears the ladder floor."""
    import numpy as np

    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.llm.ann_index import serve_ann_index
    from atlas_migration_repo_spark.sources.files import scratch_path
    from atlas_migration_repo_spark.sources.table_log import TableLog

    rows = QUERIES["sim_ann_index_topk"].fn(spark, SF_DIR).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["vec_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True), (q, cosines)

    # rank-1 parity with the 1-NN path on the SAME persisted index
    idx_root = scratch_path(SF_DIR, "ann_index_topk")
    em = TableLog(scratch_path(SF_DIR, "embeddings_tlog_topk")).read(spark)
    queries = em.where(F.col("vec_id") % 100 < 4)
    nn1 = {
        r["vec_id"]: r["nn_id"]
        for r in serve_ann_index(
            spark, idx_root, queries.select("vec_id", "embedding"), em
        ).collect()
    }
    for q, rs in by_q.items():
        assert rs[0]["nn_id"] == nn1[q], (q, rs[0]["nn_id"], nn1[q])

    # recall@5 vs exact brute force
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in em.select("vec_id", "embedding").collect()
    }
    ids = sorted(vecs)
    M = np.stack([vecs[i] for i in ids])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    hits = total = 0
    for q in by_q:
        qi = ids.index(q)
        s = Mn @ Mn[qi]
        s[qi] = -np.inf
        exact5 = {ids[j] for j in np.argsort(-s)[:5]}
        got5 = {r["nn_id"] for r in by_q[q]}
        hits += len(exact5 & got5)
        total += 5
    recall = hits / total
    assert recall >= 0.6, f"recall@5 {recall:.3f} below floor"


def test_quantile_bottomk_error_bound_and_mergeability(spark, oracle_con):
    """The bottom-k priority sample's quantile estimates sit within the
    O(1/sqrt(k)) rank-error envelope of the exact quantiles, and the
    sketch is mergeable: bottom-k of the union equals bottom-k of the
    per-shard bottom-ks (the property that makes it a one-pass
    distributed sketch)."""
    import math

    from atlas_migration_repo_spark.operators.sketches import QSK_K

    est = {
        r["q"]: r["estimate"]
        for r in QUERIES["sketch_quantile_bottomk"].fn(spark, SF_DIR).collect()
    }
    rows = oracle_con.execute(
        "SELECT l_quantity FROM lineitem ORDER BY l_quantity"
    ).fetchall()
    vals = [r[0] for r in rows]
    n = len(vals)
    eps = 3.0 / math.sqrt(QSK_K)  # ~3 sigma of the sampling rank error
    for q, e in est.items():
        import bisect

        lo = bisect.bisect_left(vals, e) / n
        hi = bisect.bisect_right(vals, e) / n
        assert lo - eps <= q <= hi + eps, (q, e, lo, hi)

    # mergeability: bottom-k(bottom-k(A) ∪ bottom-k(B)) == bottom-k(A∪B)
    pri = "MD5(CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR))"
    direct = oracle_con.execute(
        f"SELECT {pri} AS p FROM lineitem ORDER BY p LIMIT {QSK_K}"
    ).fetchall()
    merged = oracle_con.execute(
        f"""
        WITH a AS (SELECT {pri} AS p FROM lineitem WHERE l_orderkey % 2 = 0
                   ORDER BY p LIMIT {QSK_K}),
             b AS (SELECT {pri} AS p FROM lineitem WHERE l_orderkey % 2 = 1
                   ORDER BY p LIMIT {QSK_K})
        SELECT p FROM (SELECT p FROM a UNION ALL SELECT p FROM b) u
        ORDER BY p LIMIT {QSK_K}
        """
    ).fetchall()
    assert direct == merged


def test_kmv_estimates_near_exact_counts(spark, oracle_con):
    """KMV distinct-count and intersection estimates land within the
    ~1/sqrt(k) relative-error envelope of the exact counts."""
    import math

    from atlas_migration_repo_spark.operators.sketches import KMV_K

    row = QUERIES["sketch_kmv_intersection"].fn(spark, SF_DIR).collect()[0]
    exact = {
        t: oracle_con.execute(
            f"SELECT COUNT(DISTINCT user_id) FROM events WHERE event_type = '{t}'"
        ).fetchone()[0]
        for t in ("view", "purchase")
    }
    exact_int = oracle_con.execute(
        """
        SELECT COUNT(*) FROM (
          SELECT user_id FROM events WHERE event_type = 'view'
          INTERSECT
          SELECT user_id FROM events WHERE event_type = 'purchase'
        )
        """
    ).fetchone()[0]
    tol = 5.0 / math.sqrt(KMV_K)
    assert abs(row["view_est"] - exact["view"]) <= tol * exact["view"]
    assert abs(row["purchase_est"] - exact["purchase"]) <= tol * exact["purchase"]
    assert abs(row["intersect_est"] - exact_int) <= 2 * tol * max(exact_int, 1)


def test_facade_read_table_register_and_migrate(spark, tmp_path):
    """read_table auto-detects all four formats, register_table exposes
    them to .sql(), and migrate_table round-trips content across
    formats including TableLog and plain parquet targets."""
    from atlas_migration_repo_spark.api import AtlasEngine
    from atlas_migration_repo_spark.sources.delta_interop import write_delta
    from atlas_migration_repo_spark.sources.hudi_interop import write_hudi
    from atlas_migration_repo_spark.sources.iceberg_interop import write_iceberg
    from atlas_migration_repo_spark.sources.table_log import TableLog

    eng = AtlasEngine(spark=spark, sf_dir=SF_DIR)
    df = spark.range(0, 50).selectExpr("id", "CAST(id AS DOUBLE) * 2 AS v")
    roots = {
        "delta": str(tmp_path / "t_delta"),
        "iceberg": str(tmp_path / "t_ice"),
        "hudi": str(tmp_path / "t_hudi"),
        "tablelog": str(tmp_path / "t_tl"),
    }
    write_delta(df, roots["delta"])
    write_iceberg(df, roots["iceberg"])
    write_hudi(df, roots["hudi"], record_key="id")
    TableLog(roots["tablelog"]).append(df)
    for fmt, root in roots.items():
        got = eng.read_table(root)
        assert got.count() == 50, fmt
        eng.register_table(f"t_{fmt}", root)
        n = eng.sql(f"SELECT COUNT(*) AS n FROM t_{fmt}").collect()[0]["n"]
        assert n == 50, fmt

    dst = str(tmp_path / "migrated_tl")
    eng.migrate_table(roots["hudi"], dst, "tablelog")
    assert eng.read_table(dst).count() == 50
    dst2 = str(tmp_path / "migrated_parquet")
    eng.migrate_table(dst, dst2, "parquet")
    assert spark.read.parquet(dst2).count() == 50
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dst_format"):
        eng.migrate_table(dst, str(tmp_path / "x"), "orc2")


def test_shortest_cost_iterative_converges_and_caps(spark):
    """VERDICT r6 #7: the Bellman-Ford loop is depth-parameterized with
    an exact early exit. On a weighted path graph 0-1-2-3-4: a cap ABOVE
    the diameter converges to the true shortest costs (early exit, not
    cap exhaustion), and a cap BELOW it returns exactly the min over
    <= cap-edge walks — the bounded-CTE contract."""
    from atlas_migration_repo_spark.operators.graph import (
        shortest_cost_iterative,
    )

    edges = [(i, i + 1, 10 * (i + 1)) for i in range(4)]  # 0-1-2-3-4
    e = spark.createDataFrame(edges, "a bigint, b bigint, w bigint")
    eu = e.selectExpr("a AS src", "b AS dst", "w").unionByName(
        e.selectExpr("b AS src", "a AS dst", "w")
    )
    full = {
        r["node"]: r["cost"]
        for r in shortest_cost_iterative(eu, 0, max_edges=50).collect()
    }
    assert full == {0: 0, 1: 10, 2: 30, 3: 60, 4: 100}
    capped = {
        r["node"]: r["cost"]
        for r in shortest_cost_iterative(eu, 0, max_edges=2).collect()
    }
    assert capped == {0: 0, 1: 10, 2: 30}  # nodes beyond 2 edges unreached
    # a shortcut edge that only pays off via MORE hops: 0-4 direct costs
    # 999, the 4-hop chain costs 100 — cap 1 picks the direct edge, the
    # converged run keeps the cheaper long path
    e2 = spark.createDataFrame(
        edges + [(0, 4, 999)], "a bigint, b bigint, w bigint"
    )
    eu2 = e2.selectExpr("a AS src", "b AS dst", "w").unionByName(
        e2.selectExpr("b AS src", "a AS dst", "w")
    )
    one = {
        r["node"]: r["cost"]
        for r in shortest_cost_iterative(eu2, 0, max_edges=1).collect()
    }
    assert one[4] == 999
    conv = {
        r["node"]: r["cost"]
        for r in shortest_cost_iterative(eu2, 0, max_edges=50).collect()
    }
    assert conv[4] == 100


def test_phash_invariants():
    """multimodal_phash is rows-only; the hash kernel carries the gate:
    (1) deterministic, (2) exactly invariant to brightness scaling (k=2 on
    a raster kept <= 127 so the scale is float-exact), (3) sensitive to a
    real content change, (4) never sets the dropped-DC width's worth of
    bits beyond the coefficient count."""
    import numpy as np

    from atlas_migration_repo_spark.llm.multimodal import (
        PPM_H,
        PPM_W,
        phash_bits,
        synth_ppm,
    )

    def build(px):
        header = f"P6\n{PPM_W} {PPM_H}\n255\n".encode()
        return header + bytes(px.ravel().tolist())

    rng = np.random.RandomState(7)
    base = rng.randint(0, 128, size=(PPM_H, PPM_W, 3)).astype(np.uint8)
    h0 = phash_bits(build(base))
    assert h0 == phash_bits(build(base))  # deterministic
    assert h0 == phash_bits(build((base * 2).astype(np.uint8)))  # scale-inv
    flipped = base.copy()
    flipped[0, 0, :] = 255 - flipped[0, 0, :]
    assert h0 != phash_bits(build(flipped))  # content-sensitive
    n_coef = PPM_H * PPM_W - 1
    assert 0 <= h0 < (1 << n_coef)
    # the synth corpus hashes are deterministic and mostly distinct
    hs = [phash_bits(synth_ppm(i)) for i in range(50)]
    assert hs == [phash_bits(synth_ppm(i)) for i in range(50)]
    assert len(set(hs)) > 40


def test_mv_refresh_idempotent_and_drops_empty_groups(spark, tmp_path):
    """The MV sync cursor rides the Delta txn action: replaying a refresh
    at an unchanged base version must be a protocol-level no-op (same MV
    version), and a group whose count folds to zero must leave the MV."""
    from pyspark.sql import functions as F

    from atlas_migration_repo_spark.operators.etl import refresh_delta_group_mv
    from atlas_migration_repo_spark.sources.delta_interop import (
        _replay,
        delete_delta_range,
        read_delta,
        write_delta,
    )

    base, mv = str(tmp_path / "b"), str(tmp_path / "m")
    rows = [(i, "g1" if i < 4 else "g2", float(i)) for i in range(8)]
    df = spark.createDataFrame(rows, "k long, g string, x double")
    write_delta(df, base, configuration={"delta.enableChangeDataFeed": "true"})
    refresh_delta_group_mv(spark, base, mv, "g", "x")
    v1 = _replay(mv)[0]
    # unchanged base: refresh is a no-op, not a new MV commit
    refresh_delta_group_mv(spark, base, mv, "g", "x")
    assert _replay(mv)[0] == v1
    # wipe g1 entirely; the incremental fold must drop the group
    delete_delta_range(spark, base, "k", 0, 3)
    refresh_delta_group_mv(spark, base, mv, "g", "x")
    out = {r["g"]: (r["n_rows"], float(r["total_dec"])) for r in read_delta(spark, mv).collect()}
    assert set(out) == {"g2"}
    assert out["g2"] == (4, 4.0 + 5.0 + 6.0 + 7.0)


def test_join_asof_forward_bruteforce(spark):
    """Forward as-of must pick the EARLIEST click at-or-after each
    purchase (inclusive >=), per user — verified against a per-row
    brute-force over the collected fixture."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    clicks = {}
    for r in ev.where("event_type = 'click'").collect():
        clicks.setdefault(r["user_id"], []).append((r["ts"], r["event_id"]))
    # dedupe to max event_id per (user, instant), like the operator
    for u, cs in clicks.items():
        best = {}
        for ts, eid in cs:
            best[ts] = max(best.get(ts, -1), eid)
        clicks[u] = sorted(best.items())
    purchases = ev.where("event_type = 'purchase'").collect()
    expected = {}
    for r in purchases:
        nxt = None
        for ts, eid in clicks.get(r["user_id"], []):
            if ts >= r["ts"]:
                nxt = eid
                break
        expected[r["event_id"]] = nxt
    got = {
        r["purchase_id"]: r["click_id"]
        for r in QUERIES["join_asof_forward"].fn(spark, SF_DIR).collect()
    }
    assert got == expected


def test_stream_stream_left_join_watermark_gate(spark):
    """The outer join's matched subset must equal the inner join's pair
    set, and null-padded rows must appear for exactly the unmatched views
    whose v_ts + 30min lies strictly below the final watermark
    (min-of-both-sides max event time − 1h) — no nulls for young views."""
    import datetime

    inner = {
        (r["view_id"], r["purchase_id"])
        for r in QUERIES["stream_stream_join"].fn(spark, SF_DIR).collect()
    }
    out = QUERIES["stream_stream_left_join"].fn(spark, SF_DIR).collect()
    matched = {(r["view_id"], r["purchase_id"]) for r in out if r["purchase_id"] is not None}
    assert matched == inner
    nulls = {r["view_id"] for r in out if r["purchase_id"] is None}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    mx = ev.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    mx = {r["event_type"]: r["m"] for r in mx}
    wm = min(mx["view"], mx["purchase"]) - datetime.timedelta(hours=1)
    horizon = wm - datetime.timedelta(minutes=30)
    matched_views = {v for v, _ in inner}
    expect_nulls = {
        r["event_id"]
        for r in ev.where("event_type = 'view'").collect()
        if r["event_id"] not in matched_views and r["ts"] < horizon
    }
    assert nulls == expect_nulls
    assert nulls.isdisjoint(matched_views)


def test_feature_target_encode_loo(spark):
    """Every LOO encoding must equal (segment sum − own price)/(n−1)
    recomputed from raw data, and must exclude the row's own target:
    for any segment with distinct prices, two orders with different
    prices get different encodings."""
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").collect()
    c = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in spark.read.parquet(f"{SF_DIR}/customer.parquet").collect()
    }
    seg_sum, seg_cnt, price_of = {}, {}, {}
    for r in o:
        seg = c[r["o_custkey"]]
        seg_sum[seg] = seg_sum.get(seg, 0.0) + r["o_totalprice"]
        seg_cnt[seg] = seg_cnt.get(seg, 0) + 1
        price_of[r["o_orderkey"]] = (seg, r["o_totalprice"])
    rows = QUERIES["feature_target_encode"].fn(spark, SF_DIR).collect()
    assert rows, "sampled output is empty"
    for r in rows[:500]:
        seg, price = price_of[r["o_orderkey"]]
        assert seg == r["segment"]
        exp = (seg_sum[seg] - price) / (seg_cnt[seg] - 1)
        assert abs(r["loo_enc"] - round(exp, 4)) < 1e-6, (r, exp)


def test_quality_confusion_micro_and_bounds(spark):
    """Confusion-matrix identities: Σn_pred == Σn_true == corpus size
    (every doc gets exactly one gold and one predicted class), tp ≤ both
    marginals, metrics within [0,1], and F1 is NULL exactly when
    precision+recall is 0/NULL."""
    rows = QUERIES["quality_confusion_matrix"].fn(spark, SF_DIR).collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert sum(r["n_true"] for r in rows) == n_docs
    assert sum(r["n_pred"] for r in rows) == n_docs
    for r in rows:
        assert r["tp"] <= r["n_true"] and r["tp"] <= r["n_pred"]
        for mcol in ("prec", "recall", "f1"):
            v = r[mcol]
            assert v is None or 0.0 <= v <= 1.0, (r["cls"], mcol, v)
        if r["prec"] in (None, 0.0) and r["recall"] in (None, 0.0):
            assert r["f1"] in (None, 0.0)


def test_udtf_analyze_dynamic_polymorphism(spark):
    """The analyze() UDTF's output schema must follow the literal arg:
    the same function called with n=5 yields columns w1..w5."""
    QUERIES["udtf_analyze_dynamic"].fn(spark, SF_DIR).collect()  # registers
    out = spark.sql("SELECT * FROM first_words('a b c', 5)")
    assert out.columns == ["w1", "w2", "w3", "w4", "w5"]
    row = out.collect()[0]
    assert tuple(row) == ("a", "b", "c", None, None)


def test_stream_stream_left_join_multibatch_equals_single(spark, tmp_path):
    """The outer join's final result must be BATCHING-INVARIANT when no
    data arrives late: splitting the source at the median event time into
    two files processed one per micro-batch (maxFilesPerTrigger=1, so the
    watermark genuinely advances mid-run and some null rows emit in batch
    1) must yield exactly the single-batch result set — same matches,
    same null-padded views, nothing duplicated by the restartable state."""
    import time

    from atlas_migration_repo_spark.streaming.harness import EVENTS_SCHEMA
    from atlas_migration_repo_spark.streaming.sinks import left_join_build

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cut = ev.select(
        F.percentile(epoch_us("ts"), F.lit(0.5)).alias("c")
    ).collect()[0]["c"]
    src = str(tmp_path / "src")
    # time-ordered split: batch-2 events are all newer than batch-1's
    # watermark, so nothing is dropped as late and the invariant is exact
    ev.where(epoch_us("ts") <= cut).coalesce(1).write.parquet(
        f"{src}/b1", mode="overwrite"
    )
    ev.where(epoch_us("ts") > cut).coalesce(1).write.parquet(
        f"{src}/b2", mode="overwrite"
    )
    # mtime order drives file-source batch order
    now = time.time()
    import os

    for sub, mt in (("b1", now - 60), ("b2", now)):
        for root, _, fs in os.walk(f"{src}/{sub}"):
            for f in fs:
                os.utime(os.path.join(root, f), (mt, mt))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            left_join_build(
                spark.readStream.schema(EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )
            .writeStream.format("memory")
            .queryName("lsj_multibatch")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    multi = {
        (r["view_id"], r["purchase_id"])
        for r in spark.table("lsj_multibatch").collect()
    }
    single = {
        (r["view_id"], r["purchase_id"])
        for r in QUERIES["stream_stream_left_join"].fn(spark, SF_DIR).collect()
    }
    assert multi == single
    # exactly-once: no view appears both matched and null-padded, and no
    # duplicate rows survived the two-batch state handoff
    rows = spark.table("lsj_multibatch").collect()
    assert len(rows) == len(multi)
    nulls = {v for v, p in multi if p is None}
    matched = {v for v, p in multi if p is not None}
    assert nulls.isdisjoint(matched)


def test_stream_stream_full_join_horizons(spark):
    """Full outer join invariants: the matched subset equals the inner
    join's pair set; the view-null rows equal the LEFT join's (same left
    horizon); and purchase-null rows appear for exactly the unmatched
    purchases with p_ts strictly below the final watermark — the
    asymmetric right horizon (p_ts < wm, not p_ts + 30min < wm, because
    a purchase only matches views at-or-before its own instant)."""
    import datetime

    inner = {
        (r["view_id"], r["purchase_id"])
        for r in QUERIES["stream_stream_join"].fn(spark, SF_DIR).collect()
    }
    left_nulls = {
        r["view_id"]
        for r in QUERIES["stream_stream_left_join"].fn(spark, SF_DIR).collect()
        if r["purchase_id"] is None
    }
    out = QUERIES["stream_stream_full_join"].fn(spark, SF_DIR).collect()
    matched = {
        (r["view_id"], r["purchase_id"])
        for r in out
        if r["view_id"] is not None and r["purchase_id"] is not None
    }
    assert matched == inner
    assert {r["view_id"] for r in out if r["purchase_id"] is None} == left_nulls
    p_nulls = {r["purchase_id"] for r in out if r["view_id"] is None}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    mx = {
        r["event_type"]: r["m"]
        for r in ev.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    }
    wm = min(mx["view"], mx["purchase"]) - datetime.timedelta(hours=1)
    matched_purchases = {p for _, p in inner}
    expect = {
        r["event_id"]
        for r in ev.where("event_type = 'purchase'").collect()
        if r["event_id"] not in matched_purchases and r["ts"] < wm
    }
    assert p_nulls == expect


def test_stream_stream_outer_join_boundary_inclusivity(spark, tmp_path):
    """Pin Spark's outer-join eviction inclusivity STRUCTURALLY (ADVICE
    r7): the left/full oracles encode null-emission as strict < (view:
    v_ts + 30min < wm; purchase: p_ts < wm). Hand-built events place one
    unmatched view and one unmatched purchase EXACTLY on their horizon
    and one each 1 s inside it; the on-boundary rows must stay in state
    (no null row), the inside rows must null-emit. If a Spark upgrade
    ever flips the boundary to <=, this fails before any fixture does."""
    import datetime
    import os
    import time

    from atlas_migration_repo_spark.streaming.harness import EVENTS_SCHEMA
    from atlas_migration_repo_spark.streaming.sinks import (
        full_join_build,
        left_join_build,
    )

    t = lambda s: datetime.datetime.fromisoformat(f"2024-01-01 {s}")
    # final watermark = min(max view ts, max purchase ts) - 1h = 12:00:00,
    # driven by the batch-2 sentinel pair at 13:00 on each side.
    rows = {
        "b1": [
            (1, t("11:30:00"), 101, "view", 1.0, "{}"),  # horizon: 12:00 == wm → hold
            (2, t("11:29:59"), 102, "view", 1.0, "{}"),  # 11:59:59 < wm → null-emit
            (3, t("12:00:00"), 103, "purchase", 1.0, "{}"),  # == wm → hold
            (4, t("11:59:59"), 104, "purchase", 1.0, "{}"),  # < wm → null-emit
        ],
        "b2": [
            (5, t("13:00:00"), 105, "view", 1.0, "{}"),
            (6, t("13:00:00"), 106, "purchase", 1.0, "{}"),
        ],
    }
    src = str(tmp_path / "src")
    now = time.time()
    for i, (sub, rs) in enumerate(rows.items()):
        spark.createDataFrame(rs, EVENTS_SCHEMA).coalesce(1).write.parquet(
            f"{src}/{sub}", mode="overwrite"
        )
        for root, _, fs in os.walk(f"{src}/{sub}"):
            for f in fs:
                os.utime(os.path.join(root, f), (now - 60 + i, now - 60 + i))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for sink, build in (
            ("boundary_full", full_join_build),
            ("boundary_left", left_join_build),
        ):
            q = (
                build(
                    spark.readStream.schema(EVENTS_SCHEMA)
                    .option("maxFilesPerTrigger", 1)
                    .option("recursiveFileLookup", "true")
                    .parquet(src)
                )
                .writeStream.format("memory")
                .queryName(sink)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    full = spark.table("boundary_full").collect()
    assert {r["view_id"] for r in full if r["purchase_id"] is None} == {2}, full
    assert {r["purchase_id"] for r in full if r["view_id"] is None} == {4}, full
    assert not [r for r in full if r["view_id"] and r["purchase_id"]]
    left = spark.table("boundary_left").collect()
    assert {r["view_id"] for r in left if r["purchase_id"] is None} == {2}, left
    assert len(left) == 1


def test_fuzzy_match_banded_equals_exact(spark):
    """The prefix-filtered fuzzy join must have ZERO misses: its pair set
    (with distances) must equal the exact within-block quadratic's. This
    checks the ED-Join soundness argument (k·q+1-prefix of occurrence-
    tagged q-grams must intersect for any pair within edit distance k) on
    real data rather than assuming it."""
    exact = {
        (r["ca"], r["cb"], r["dist"])
        for r in QUERIES["fuzzy_match_names"].fn(spark, SF_DIR).collect()
    }
    band = {
        (r["ca"], r["cb"], r["dist"])
        for r in QUERIES["fuzzy_match_banded"].fn(spark, SF_DIR).collect()
    }
    assert band == exact, (len(band), len(exact))
    assert exact, "fixture produced no fuzzy pairs — test is vacuous"


def test_fuzzy_banded_short_string_fallback(spark):
    """Names with fewer grams than the prefix (length ≤ 5) have no
    ED-Join intersection guarantee, so they route through the dedicated
    short-string block (ADVICE r8). Synthetic data mixing 1-8 char names
    — including the length-1 case whose Spark gram sequence used to turn
    DESCENDING — must reproduce the brute-force ≤k pair set exactly, and
    short×long pairs within the length band must not be lost."""
    import itertools

    from atlas_migration_repo_spark.operators.relational_ext import (
        _ED_K,
        _fuzzy_banded_pairs,
    )

    def ed(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    names = [
        "a", "b", "ab", "abc", "abcd", "abcde",  # all short (≤5)
        "abcdef", "abcdefg",  # 6-7: long side of short×long band pairs
        "abcdxf", "zbcdef",  # 6: within 2 edits of abcdef
        "completely-unrelated-name", "completely-unrelated-nome",
    ]
    # same-nation constraint: put everything in one nation to maximize pairs
    rows = [(i, n, 0) for i, n in enumerate(names)]
    df = spark.createDataFrame(
        rows, "c_custkey bigint, c_name string, c_nationkey bigint"
    )
    got = {
        (r["ca"], r["cb"], r["dist"])
        for r in _fuzzy_banded_pairs(df).collect()
    }
    want = {
        (i, j, ed(a, b))
        for (i, a), (j, b) in itertools.combinations(enumerate(names), 2)
        if ed(a, b) <= _ED_K
    }
    assert got == want, (sorted(got - want), sorted(want - got))
    # the fallback must actually fire: short-name pairs exist in `want`
    assert any(min(len(names[i]), len(names[j])) <= 5 for i, j, _ in want)


def test_distributed_global_order_primitives_exact(spark):
    """operators/distributed.py must be BIT-IDENTICAL to the single-window
    plans it replaces: global_rank vs ROW_NUMBER, global_ntile vs NTILE
    (several k, including k > n), and global_running_sum vs the running
    SUM window for integer and decimal values — on a relation with
    duplicate sort keys so the unique-tiebreak contract is exercised."""
    import random

    from atlas_migration_repo_spark.operators.distributed import (
        global_ntile,
        global_rank,
        global_running_sum,
    )

    from pyspark.sql import Window

    rng = random.Random(5)
    rows = [(i, rng.randint(0, 50), float(rng.randint(0, 100))) for i in range(2017)]
    df = spark.createDataFrame(rows, "id bigint, g int, v double")
    order = [F.col("g").asc(), F.col("id").asc()]
    got, n = global_rank(df, order, parts=7, out="rk")
    ref = df.withColumn(
        "rk", F.row_number().over(Window.orderBy(*order)).cast("bigint")
    )
    assert n == len(rows)
    assert {(r["id"], r["rk"]) for r in got.collect()} == {
        (r["id"], r["rk"]) for r in ref.collect()
    }
    for k in (4, 7, 160, 5000):  # 5000 > n: first n buckets get 1 row
        gt = global_ntile(df, order, k, parts=7, out="t")
        rf = df.withColumn(
            "t", F.ntile(k).over(Window.orderBy(*order)).cast("bigint")
        )
        assert {(r["id"], r["t"]) for r in gt.collect()} == {
            (r["id"], r["t"]) for r in rf.collect()
        }, f"ntile k={k}"
    dfd = df.withColumn("d", F.col("v").cast("decimal(20,4)"))
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    gs = global_running_sum(dfd, order, F.col("d"), parts=7, out="c")
    rs = dfd.withColumn("c", F.sum("d").over(w))
    assert {(r["id"], r["c"]) for r in gs.collect()} == {
        (r["id"], r["c"]) for r in rs.collect()
    }
    gi = global_running_sum(df, order, F.col("g").cast("bigint"), parts=7, out="c")
    ri = df.withColumn("c", F.sum(F.col("g").cast("bigint")).over(w))
    assert {(r["id"], r["c"]) for r in gi.collect()} == {
        (r["id"], r["c"]) for r in ri.collect()
    }


def test_refit_plans_have_no_ordered_global_window(spark):
    """The round-8 refits must keep their two-tier shape: none of these
    plans may contain an ordered-global (unpartitioned) window or a
    SinglePartition sort of a data-scale relation."""
    from atlas_migration_repo_spark.plans.inspect import physical_plan
    from atlas_migration_repo_spark.plans.report import _ordered_global_windows

    for key in (
        "corpus_curriculum_order",
        "pack_sequences",
        "sort_multi",
        "orders_rfm",
        "orders_gini_coefficient",
        "abc_classification",
        "events_peak_concurrency",
        "stat_mannwhitney",
        "dq_ks_drift",
    ):
        phys = physical_plan(QUERIES[key].fn(spark, SF_DIR))
        gw = _ordered_global_windows(phys)
        assert not gw, f"{key}: ordered-global window regressed: {gw[0]}"
    # the grouped refits: windows partitioned by a ~3-value column over
    # data-scale input are the same killer with a different spelling —
    # their plans may window only on (__pid, group) after the range
    # partition (win_exclude_current must carry no Window at all)
    import re

    for key in ("agg_percentile_disc", "agg_weighted_median"):
        phys = physical_plan(QUERIES[key].fn(spark, SF_DIR))
        for line in phys.splitlines():
            if re.search(r"\bWindow \[", line):
                assert "__pid" in line, f"{key}: non-two-tier window: {line[:120]}"
    phys = physical_plan(QUERIES["win_exclude_current"].fn(spark, SF_DIR))
    assert not re.search(r"\bWindow \[", phys), "win_exclude_current re-grew a window"


def test_grouped_distributed_primitives_exact(spark):
    """grouped_rank / grouped_running_sum must be bit-identical to the
    partitioned single-window plans they replace, on groups with
    duplicate order keys (ties exercise the arbitrary-but-valid
    permutation within peers the same way the window does)."""
    import random

    from pyspark.sql import Window

    from atlas_migration_repo_spark.operators.distributed import (
        grouped_rank,
        grouped_running_sum,
    )

    rng = random.Random(9)
    # None group: ADVICE r8 — concat_ws silently skipped null group
    # values while the driver-side key said "None"; both sides now
    # coalesce to one sentinel, so a null group ranks like any other.
    # Hostile STRING groups: ADVICE r9 #4 — a group value equal to the
    # "\x00" NULL sentinel, containing the "\x1f" separator, or
    # containing the "\x01" escape byte must key distinctly (both
    # encoders escape symmetrically, so the domain is arbitrary strings)
    groups = ["a", "b", "c", None, "\x00", "x\x1fy", "x\x01y", "x\x010y"]
    rows = [
        (
            i,
            rng.choice(groups),
            rng.randint(0, 40),
            rng.randint(1, 9),
        )
        for i in range(1777)
    ]
    df = spark.createDataFrame(rows, "id bigint, g string, v int, w int")
    order = [F.col("v").asc(), F.col("id").asc()]
    got, sizes = grouped_rank(df, ["g"], order, parts=6, out="rk")
    ref = df.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("g").orderBy(*order)).cast("bigint"),
    )
    assert {(r["id"], r["rk"]) for r in got.collect()} == {
        (r["id"], r["rk"]) for r in ref.collect()
    }
    assert sizes == {
        (g,): sum(1 for _i, gg, _v, _w in rows if gg == g) for g in groups
    }
    gs = grouped_running_sum(
        df, ["g"], order, F.col("w").cast("bigint"), parts=6, out="c"
    )
    rs = df.withColumn(
        "c",
        F.sum(F.col("w").cast("bigint")).over(
            Window.partitionBy("g")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert {(r["id"], r["c"]) for r in gs.collect()} == {
        (r["id"], r["c"]) for r in rs.collect()
    }


def test_driver_window_rotates_to_unseen_keys():
    """The rotation protocol (VERDICT r3 "next" #4, re-affirmed every
    round): the driver hash-verifies the first ~50 registry entries, so
    at least 30 of the first 50 must be keys NO committed
    CORRECTNESS_r*.json has ever sampled — otherwise a round burns its
    driver evidence re-verifying old keys. Computed from the committed
    artifacts, so the check updates itself every round."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    seen: set[str] = set()
    arts = sorted(repo.glob("CORRECTNESS_r*.json"))
    assert arts, "no driver correctness artifacts committed"
    for p in arts:
        seen |= set(json.loads(p.read_text()).keys())
    window = list(QUERIES)[:50]
    fresh = [k for k in window if k not in seen]
    assert len(fresh) >= 30, (
        f"driver window holds only {len(fresh)} never-sampled keys; "
        "see the ordering rule in registry.load_all_modules"
    )


def test_chunked_pair_materialization_exact(spark, oracle_con, monkeypatch):
    """VERDICT r9 "next" #4: the exact pair-LISTING dedup family must
    produce BYTE-IDENTICAL results when chunked pair materialization
    engages (est. candidate pairs > SPARK_GRAFT_PAIR_CHUNK_PAIRS → C
    da-hash chunks executed sequentially, verified per chunk, union read
    back from scratch). Forces C≈3 at gate scale by shrinking the
    per-chunk target to est/3, replays the driver's oracle gate for
    every family member, and pins that chunking actually engaged (≥2
    chunk dirs under scratch)."""
    import os

    import atlas_migration_repo_spark.llm.dedup as D
    from atlas_migration_repo_spark.catalog import load
    from atlas_migration_repo_spark.sources.files import scratch_path
    from conftest import assert_matches_oracle

    d = load(spark, SF_DIR, "documents")
    est = D._est_candidate_pairs(d)
    assert est > 0
    # the r10 footer gate skips the estimator (and thus chunking) below
    # 20k docs — force the exact-estimator path so chunking can engage
    # at gate scale
    monkeypatch.setenv("SPARK_GRAFT_PAIR_EST_SKIP_DOCS", "0")
    monkeypatch.setenv("SPARK_GRAFT_PAIR_CHUNK_PAIRS", str(max(1, est // 3)))
    for key in (
        "dedup_ngram_jaccard",
        "dedup_containment",
        "dedup_threshold_sweep",
        "corpus_dedup_stages",
        "dedup_clusters",
    ):
        assert_matches_oracle(spark, oracle_con, QUERIES[key])
    chunks = [
        p
        for p in os.listdir(scratch_path(SF_DIR, "chunkpairs_jaccard"))
        if p.startswith("c")
    ]
    assert len(chunks) >= 2, "chunked materialization never engaged"

    # the simhash band-join kernel chunks on its own (band-collision)
    # estimate — force it the same way and replay its oracle
    h = D.dedup_simhash(spark, SF_DIR).select(
        "doc_id", "chunk0", "chunk1", "chunk2", "chunk3"
    )
    estb = 0
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
        estb += int(row["p"] or 0)
    assert estb > 0
    monkeypatch.setenv("SPARK_GRAFT_PAIR_CHUNK_PAIRS", str(max(1, estb // 3)))
    assert_matches_oracle(spark, oracle_con, QUERIES["dedup_simhash_pairs"])
    schunks = [
        p
        for p in os.listdir(scratch_path(SF_DIR, "chunkpairs_simhash"))
        if p.startswith("c")
    ]
    assert len(schunks) >= 2, "simhash chunked materialization never engaged"
