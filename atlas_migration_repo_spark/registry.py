"""Named-query registry.

Every operator the engine claims (SURVEY.md §2) registers here exactly once:
a callable ``(spark, sf_dir) -> DataFrame`` plus, when SQL-expressible, the
equivalent DuckDB oracle SQL. ``__spark_entry__.queries()`` /
``oracle_sql()`` are direct views over this dict, and the pytest harness
replays the driver's gate (row-count + schema + order-insensitive values)
against DuckDB locally before any query is declared.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None = None
    # tags: free-form markers ("streaming", "udf", "llm") used by bench/tests
    tags: frozenset[str] = field(default_factory=frozenset)


QUERIES: dict[str, QueryDef] = {}

# Keys that scale replays (tools/parity_replay.py) may record as
# "skipped" at sf1+, each with the standing justification. CI audits
# every committed PARITY_*.jsonl skip line against this dict
# (tests/test_docs_freshness.py) — an ad-hoc skip with no registered
# reason fails the suite, so the lone declared skip stays a pinned
# decision rather than a convention (VERDICT r8 "next" #6).
_EXACT_PAIR_SF10 = (
    "exact near-dup pair LISTING: candidate volume grows ~df^2 per "
    "shingle below the stop-shingle cap, and the round-9 sf10 run "
    "(500k near-dup-dense docs) measured the pair shuffle spilling past "
    "the sandbox's ~77 GB disk budget (java.io.IOException: No space "
    "left on device — recorded as fail lines in PARITY_SF10_r9.jsonl "
    "before this declaration). A real cluster sizes shuffle space in "
    "TBs, and the plan itself is the standard bounded-posting-list "
    "prune-then-verify (zero cartesians; sf1 hash-green in the "
    "full-registry log); the sf10-green scale siblings covering the "
    "semantics are dedup_near (MinHash LSH, 311 s) and dedup_simhash "
    "(174 s). Chunked pair materialization (llm/dedup.py "
    "_chunked_pair_run: partition the posting lists and verify per "
    "chunk) exists to fit fixed-disk boxes, but no sf10 run has "
    "measured its bound yet"
)

DECLARED_PARITY_SKIPS: dict[str, str] = {
    "fuzzy_match_names": (
        "declared quadratic-exact baseline (within-block all-pairs "
        "Levenshtein, kept as the unit-test ground truth); its scale "
        "shape fuzzy_match_banded computes the SAME pair set — equality "
        "unit-asserted at fixture scale (test_fuzzy_match_banded_equals_"
        "exact) — and replays green at sf1"
    ),
    "dedup_ngram_jaccard": _EXACT_PAIR_SF10,
    "dedup_containment": _EXACT_PAIR_SF10,
    "dedup_threshold_sweep": _EXACT_PAIR_SF10,
    "dedup_simhash_pairs": _EXACT_PAIR_SF10,
    "dedup_clusters": _EXACT_PAIR_SF10 + " (CC over the same pair graph)",
    "corpus_dedup_stages": _EXACT_PAIR_SF10 + " (staged composite over it)",
    "pipeline_corpus_clean": _EXACT_PAIR_SF10
    + " (composite whose dedup stage IS dedup_clusters)",
}

# The correctness gate behind `__spark_entry__` hash-verifies a PREFIX of
# the registry (the first ~50 keys in iteration order). load_all_modules orders the registry by
# one rule: these fixed representatives of the core operator families
# first, then oracle-gated keys that no committed CORRECTNESS_r*.json
# has sampled yet (registration order), then the rest. The window so
# rotates to unseen keys each time a driver artifact lands.
_FAMILY_REPRESENTATIVES = (
    "scan_parquet",
    "filter_cmp",
    "agg_pricing_summary",
    "join_inner",
    "win_row_number",
    "topk_per_group",
    "sort_multi",
    "q3_shipping_priority",
    "pivot_status",
    "source_csv",
    "sink_parquet_partitioned",
    "scd2_history",
    "subq_correlated",
    "str_regexp",
    "udf_pandas",
    "stream_tumbling",
    "text_tfidf",
    "dedup_exact",
)


def _gate_sampled_keys() -> set[str]:
    """Keys any committed gate artifact (CORRECTNESS_r*.json at the
    checkout root) has hash-verified; empty outside a checkout."""
    root = Path(__file__).resolve().parent.parent
    seen: set[str] = set()
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        seen |= set(json.loads(p.read_text()))
    return seen


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Register a named query. Usage::

        @query("filter_cmp", oracle="SELECT ... FROM lineitem WHERE ...")
        def filter_cmp(spark, sf_dir):
            return load(spark, sf_dir, "lineitem").where(...)
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query key: {name}")
        QUERIES[name] = QueryDef(name=name, fn=fn, oracle=oracle, tags=frozenset(tags))
        return fn

    return deco


def load_all_modules() -> None:
    """Import every operator module so decorators populate QUERIES.

    Kept explicit (no pkgutil magic) so a broken module fails loudly and
    the import list is reviewable.
    """
    import importlib

    for mod in (
        "atlas_migration_repo_spark.operators.scans",
        "atlas_migration_repo_spark.operators.filters",
        "atlas_migration_repo_spark.operators.aggregates",
        "atlas_migration_repo_spark.operators.joins",
        "atlas_migration_repo_spark.operators.windows",
        "atlas_migration_repo_spark.operators.setops",
        "atlas_migration_repo_spark.operators.goldens",
        "atlas_migration_repo_spark.operators.goldens2",
        "atlas_migration_repo_spark.operators.pivots",
        "atlas_migration_repo_spark.operators.etl",
        "atlas_migration_repo_spark.operators.relational_ext",
        "atlas_migration_repo_spark.operators.analytics",
        "atlas_migration_repo_spark.operators.analytics2",
        "atlas_migration_repo_spark.operators.sketches",
        "atlas_migration_repo_spark.operators.graph",
        "atlas_migration_repo_spark.operators.geo",
        "atlas_migration_repo_spark.functions.scalars",
        "atlas_migration_repo_spark.functions.udfs",
        "atlas_migration_repo_spark.sources.files",
        "atlas_migration_repo_spark.sources.table_log",
        "atlas_migration_repo_spark.sources.kafka_shaped",
        "atlas_migration_repo_spark.sources.delta_interop",
        "atlas_migration_repo_spark.sources.iceberg_interop",
        "atlas_migration_repo_spark.sources.hudi_interop",
        "atlas_migration_repo_spark.sources.avro",
        "atlas_migration_repo_spark.streaming.windows",
        "atlas_migration_repo_spark.streaming.stateful",
        "atlas_migration_repo_spark.streaming.sinks",
        "atlas_migration_repo_spark.llm.text",
        "atlas_migration_repo_spark.llm.dedup",
        "atlas_migration_repo_spark.llm.pipeline",
        "atlas_migration_repo_spark.llm.similarity",
        "atlas_migration_repo_spark.llm.ann_index",
        "atlas_migration_repo_spark.llm.multimodal",
        "atlas_migration_repo_spark.llm.tokenizer",
        "atlas_migration_repo_spark.llm.quality_model",
    ):
        try:
            importlib.import_module(mod)
        except ModuleNotFoundError as e:
            # Modules land incrementally across milestones; only swallow
            # "THIS module doesn't exist yet". A typo'd internal import
            # inside an existing module (e.name != mod) must fail loudly,
            # or its whole query set silently vanishes from the registry.
            if e.name != mod:
                raise

    # tolerate absent names (modules land incrementally); a test asserts
    # every representative resolves once all modules are in
    seen = _gate_sampled_keys()
    ordered = {n: QUERIES[n] for n in _FAMILY_REPRESENTATIVES if n in QUERIES}
    for n, qd in QUERIES.items():
        if qd.oracle and n not in seen:
            ordered.setdefault(n, qd)
    for n, qd in QUERIES.items():
        ordered.setdefault(n, qd)
    QUERIES.clear()
    QUERIES.update(ordered)
