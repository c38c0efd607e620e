#!/usr/bin/env python
"""Run registry keys, then dump the normalized metadata of every Delta and
Iceberg table they leave under the scratch directory — the file-level
equivalence check for commits that must write the same tables. Usage:

    python tools/capture_tables.py OUT.json KEY[,KEY...] SF_DIR[,SF_DIR...]
    python tools/capture_tables.py --diff BASE.json [BASE2.json] NEW.json

Delta: per committed version, the live adds as sorted (rows,
partitionValues, minValues, maxValues, nullCount, deletion-vector
cardinality). Iceberg: per snapshot, the summary and, per manifest-list
row, its content, counts, sequence numbers and added snapshot, with the
manifest's entries (status, snapshot, sequence numbers, content, format,
record_count, partition, bounds, equality ids, first_row_id, referenced
file). Uuids, absolute paths and timestamps are dropped; a snapshot id
becomes its sequence number; a data file is named by its entry's
partition, row count and bounds, so the referenced file of a Puffin
deletion vector is the same name on every run.

`--diff` compares per table. With two base captures (two runs of one
commit) a table on which the bases differ is compared only on the leaf
values the bases agree on, and is listed under `unstable`.
"""

from __future__ import annotations

import collections
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def _hexmap(kvs):
    return {str(kv["key"]): kv["value"].hex() for kv in kvs or ()}


def _file_name(df: dict) -> str:
    return json.dumps(
        [
            df.get("partition") or {},
            df["record_count"],
            _hexmap(df.get("lower_bounds")),
            _hexmap(df.get("upper_bounds")),
        ],
        sort_keys=True,
    )


def iceberg_tables(root: str) -> dict:
    from atlas_migration_repo_spark.sources.avro import parse_container
    from atlas_migration_repo_spark.sources.iceberg_interop import _current_metadata

    _, meta = _current_metadata(root)
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    seq_of = {s["snapshot-id"]: s["sequence-number"] for s in snaps}
    rel = lambda sid: None if sid is None else f"@{seq_of.get(sid, '?')}"
    manifests = {}
    for s in snaps:
        for m in parse_container(open(s["manifest-list"], "rb").read())[1]:
            if m[0] not in manifests:
                manifests[m[0]] = parse_container(open(m[0], "rb").read())[1]
    names = {
        os.path.abspath(e[4]["file_path"]): _file_name(e[4])
        for es in manifests.values()
        for e in es
        if e[4].get("content", 0) == 0
    }

    def entry(e):
        df = e[4]
        ref = df.get("referenced_data_file")
        return {
            "status": e[0],
            "snapshot": rel(e[1]),
            "seq": e[2],
            "file_seq": e[3],
            "content": df.get("content", 0),
            "file_format": df["file_format"],
            "record_count": df["record_count"],
            "partition": df.get("partition") or {},
            "lower_bounds": _hexmap(df.get("lower_bounds")),
            "upper_bounds": _hexmap(df.get("upper_bounds")),
            "equality_ids": df.get("equality_ids"),
            "first_row_id": df.get("first_row_id"),
            "referenced": None if ref is None else names.get(os.path.abspath(ref), "?"),
        }

    out = []
    for s in snaps:
        rows = []
        for m in parse_container(open(s["manifest-list"], "rb").read())[1]:
            rows.append(
                {
                    "content": m[3],
                    "seq": m[4],
                    "min_seq": m[5],
                    "added_snapshot": rel(m[6]),
                    "files": list(m[7:10]),
                    "rows": list(m[10:13]),
                    "partitions": [
                        {k: (v.hex() if isinstance(v, bytes) else v) for k, v in p.items()}
                        for p in m[13] or ()
                    ],
                    "entries": sorted(
                        (entry(e) for e in manifests[m[0]]),
                        key=lambda d: json.dumps(d, sort_keys=True),
                    ),
                }
            )
        out.append(
            {
                "seq": s["sequence-number"],
                "summary": s.get("summary") or {},
                "schema_id": s.get("schema-id"),
                "first_row_id": s.get("first-row-id"),
                "manifests": rows,
            }
        )
    return {
        "format_version": meta["format-version"],
        "schemas": [sc["fields"] for sc in meta["schemas"]],
        "partition_spec": meta["partition-specs"][0]["fields"],
        "properties": meta.get("properties") or {},
        "next_row_id": meta.get("next-row-id"),
        "snapshots": out,
    }


def delta_versions(root: str) -> list:
    from atlas_migration_repo_spark.sources.delta_interop import (
        _committed_versions,
        _log_dir,
        _replay,
    )

    out = []
    for v in _committed_versions(_log_dir(root)):
        _, _, adds = _replay(root, v)
        files = []
        for a in adds:
            st = json.loads(a.get("stats") or "{}")
            dv = a.get("deletionVector") or {}
            files.append(
                json.dumps(
                    [
                        st.get("numRecords"),
                        a.get("partitionValues") or {},
                        st.get("minValues"),
                        st.get("maxValues"),
                        st.get("nullCount"),
                        dv.get("cardinality"),
                    ],
                    sort_keys=True,
                )
            )
        out.append({"version": v, "adds": sorted(files)})
    return out


def table_roots(top: str, since: float) -> list[str]:
    """Delta/Iceberg table roots under `top` holding a file written at or
    after `since`."""
    roots = []
    for dirpath, dirs, _files in os.walk(top):
        is_delta = "_delta_log" in dirs
        is_ice = os.path.exists(os.path.join(dirpath, "metadata", "version-hint.text"))
        if not (is_delta or is_ice):
            continue
        newest = max(
            os.path.getmtime(os.path.join(d, f))
            for d, _, fs in os.walk(dirpath)
            for f in fs
        )
        if newest >= since:
            roots.append(dirpath)
        dirs[:] = []  # tables do not nest
    return sorted(roots)


def capture(out_path: str, keys: list[str], sf_dirs: list[str]) -> None:
    from atlas_migration_repo_spark.registry import QUERIES, load_all_modules
    from atlas_migration_repo_spark.session import get_spark
    from atlas_migration_repo_spark.sources.files import _SCRATCH

    load_all_modules()
    spark = get_spark(app_name="capture-tables")
    out = {}
    for sf in sf_dirs:
        top = os.path.join(_SCRATCH, os.path.basename(sf.rstrip("/")))
        for k in keys:
            t0 = time.time()
            QUERIES[k].fn(spark, sf).collect()
            for root in table_roots(top, t0):
                name = os.path.relpath(root, _SCRATCH)
                rec = {"key": k}
                if os.path.isdir(os.path.join(root, "_delta_log")):
                    rec["delta"] = delta_versions(root)
                if os.path.exists(os.path.join(root, "metadata", "version-hint.text")):
                    rec["iceberg"] = iceberg_tables(root)
                out[name] = rec
            print(f"{k}@{sf}: {len(out)} tables", flush=True)
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


def _leaves(v, prefix=""):
    if isinstance(v, dict):
        for k, x in v.items():
            yield from _leaves(x, f"{prefix}/{k}")
    elif prefix.endswith(("/entries", "/adds")):
        # files as a multiset: a file whose rows vary between runs leaves
        # the others comparable
        items = collections.Counter(json.dumps(x, sort_keys=True) for x in v)
        yield f"{prefix}#len", len(v)
        for item, n in items.items():
            yield f"{prefix}/{item}", n
    elif isinstance(v, list):
        yield f"{prefix}#len", len(v)
        for i, x in enumerate(v):
            yield from _leaves(x, f"{prefix}/{i}")
    else:
        yield prefix, v


def _formats(rec: dict) -> dict:
    """A table's captured metadata without the key that left it."""
    return {k: v for k, v in rec.items() if k != "key"}


def diff(paths: list[str]) -> dict:
    caps = [json.load(open(p)) for p in paths]
    bases, new = caps[:-1], caps[-1]
    report = {"identical": [], "unstable": {}, "differ": {}, "missing": []}
    for name in sorted(set().union(*(c.keys() for c in caps))):
        if any(name not in c for c in caps):
            report["missing"].append(name)
            continue
        want = dict(_leaves(_formats(bases[0][name])))
        if len(bases) == 2:
            other = dict(_leaves(_formats(bases[1][name])))
            agreed = {p: x for p, x in want.items() if other.get(p, object()) == x}
            if len(agreed) != len(want) or len(other) != len(want):
                report["unstable"][name] = f"{len(agreed)} of {len(want)} leaves agree"
            want = agreed
        got = dict(_leaves(_formats(new[name])))
        bad = sorted(p for p, x in want.items() if got.get(p, object()) != x)
        if bad:
            report["differ"][name] = bad[:20]
        else:
            report["identical"].append(name)
    return report


if __name__ == "__main__":
    if sys.argv[1] == "--diff":
        print(json.dumps(diff(sys.argv[2:]), indent=1))
    else:
        capture(sys.argv[1], sys.argv[2].split(","), sys.argv[3].split(","))
