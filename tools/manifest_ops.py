"""Dump the manifest after each operation of a fixed sequence, and
compare two such dumps.

    python tools/manifest_ops.py TREE OUT [--retention N]
    python tools/manifest_ops.py --compare A B

The first form runs, in a subprocess with TREE (a checkout of this repo)
first on ``sys.path``, one fixed sequence of operations on a fresh table
under OUT (which must not exist yet): 3 partitions, a minmax index on
``score``, snapshot retention N. After each operation it copies
``manifest.json`` to ``OUT/NN_<op>.json``. The sequence: 3 INSERTs,
UPDATE, DELETE, row TTL (``expire``), column TTL (``expire_columns``),
a lightweight delete, ``materialize_deletes``, OPTIMIZE FINAL, an
INSERT, TTL rollup (``expire_rollup``), ATTACH PARTITION FROM, DROP
PARTITION and OPTIMIZE DEDUPLICATE.

``--compare`` reads the dumps of two such runs (say, of a parent commit
and of a change), drops every ``created_at``, reduces every path to its
basename and compares each operation's manifest. The version axis —
``version``, ``log``, the removal version of each tombstone and the
``version`` of each lightweight-delete entry — is reported for both
sides but not compared. Prints ``same`` or ``DIFF`` per operation and
exits 1 on any DIFF or when the two runs dumped different operations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile


def run_sequence(out: str, retention: int) -> None:
    """The fixed sequence; runs in the child, with the engine importable."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from clickhouse_mergetree_spark.engine import (MergeTreeConfig,
                                                   SparkMergeTree)

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    schema = T.StructType([
        T.StructField("key", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("score", T.LongType(), True),
    ])
    cfg = dict(memtable_flush_threshold=10**9, max_parts=100,
               key_col="key", ts_col="ts", partition_col="bucket",
               minmax_cols=("score",), snapshot_retention=retention)

    def rows(batch: int) -> list[tuple]:
        # 3 partitions x 20 rows; ts grows with the batch
        return [(100 * batch + 10 * b + k, 100 * batch + k, f"b{b}",
                 float(k), k % 4) for b in range(3) for k in range(20)]

    base = os.path.join(out, "table")
    src_base = tempfile.mkdtemp(prefix="manifest_ops_src_")
    t = SparkMergeTree(spark, base, schema=schema,
                       config=MergeTreeConfig(**cfg))
    src = SparkMergeTree(spark, src_base, schema=schema,
                         config=MergeTreeConfig(**cfg))
    src.insert_rows([(10_000 + r[0], *r[1:]) for r in rows(0)])
    src.flush()

    def insert(batch: int) -> None:
        t.insert_rows(rows(batch))
        t.flush()

    ops = [
        ("insert", lambda: insert(0)),
        ("insert", lambda: insert(1)),
        ("insert", lambda: insert(2)),
        ("update", lambda: t.update_where(F.col("key") % 2 == 0,
                                          {"value": F.lit(-1.0)})),
        ("delete", lambda: t.delete_where(F.col("key") % 5 == 0)),
        ("expire", lambda: t.expire(10)),
        ("expire_columns", lambda: t.expire_columns({"value": 110})),
        ("lightweight_delete", lambda: t.lightweight_delete("key % 7 = 0")),
        ("materialize_deletes", t.materialize_deletes),
        ("optimize_final", lambda: t.optimize(final=True)),
        ("insert", lambda: insert(3)),
        ("expire_rollup", lambda: t.expire_rollup(210, {"value": "sum"})),
        ("attach_partition_from", lambda: t.attach_partition_from(src,
                                                                  "b1")),
        ("drop_partition", lambda: t.drop_partition("b2")),
        ("optimize_deduplicate", t.optimize_deduplicate),
    ]
    try:
        for i, (name, op) in enumerate(ops, 1):
            op()
            shutil.copy(os.path.join(base, "manifest.json"),
                        os.path.join(out, f"{i:02d}_{name}.json"))
    finally:
        src.close()
        t.close()
        shutil.rmtree(src_base, ignore_errors=True)
        spark.stop()


def normalise(node):
    """Drop ``created_at``; reduce absolute paths to their basenames."""
    if isinstance(node, dict):
        return {k: normalise(v) for k, v in node.items()
                if k != "created_at"}
    if isinstance(node, list):
        return [normalise(v) for v in node]
    if isinstance(node, str) and os.path.isabs(node):
        return os.path.basename(node)
    return node


def split_versions(manifest: dict) -> tuple[dict, dict]:
    """(the manifest without its version axis, that axis)."""
    m = normalise(manifest)
    axis = {"version": m.pop("version", None), "log": m.pop("log", None)}
    # tombstones are saved as {part_id: [part, removal version]}
    tombstones = m.get("tombstones") or {}
    axis["tombstones"] = {pid: rv for pid, (_p, rv) in tombstones.items()}
    m["tombstones"] = {pid: p for pid, (p, _rv) in tombstones.items()}
    lw = (m.get("table_meta") or {}).get("lw_deletes") or []
    axis["lw_deletes"] = [e.pop("version", None) for e in lw]
    return m, axis


def describe(va, vb) -> str:
    """For two differing dicts (tombstones, table_meta): the keys only
    one side holds, and the shared keys whose values differ."""
    if not (isinstance(va, dict) and isinstance(vb, dict)):
        return ""
    changed = sorted(k for k in set(va) & set(vb) if va[k] != vb[k])
    return (f": only in A {sorted(set(va) - set(vb))}, only in B "
            f"{sorted(set(vb) - set(va))}, changed {changed}")


def compare(a: str, b: str) -> int:
    names_a = sorted(f for f in os.listdir(a) if f.endswith(".json"))
    names_b = sorted(f for f in os.listdir(b) if f.endswith(".json"))
    status = 0
    if names_a != names_b:
        print(f"DIFF operations: {names_a} vs {names_b}")
        status = 1
    for name in names_a:
        if name not in names_b:
            continue
        with open(os.path.join(a, name)) as fa, \
                open(os.path.join(b, name)) as fb:
            ma, va = split_versions(json.load(fa))
            mb, vb = split_versions(json.load(fb))
        same = ma == mb
        status |= not same
        print(f"{name}: {'same' if same else 'DIFF'}; "
              f"version {va['version']} vs {vb['version']}, "
              f"log {len(va['log'] or [])} vs {len(vb['log'] or [])} "
              f"entries, lw_delete versions {va['lw_deletes']} vs "
              f"{vb['lw_deletes']}")
        for key in sorted(set(ma) | set(mb)):
            if ma.get(key) != mb.get(key):
                print(f"  {key} differs{describe(ma.get(key), mb.get(key))}")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs=2, metavar="PATH",
                    help="TREE OUT, or with --compare the two dump dirs")
    ap.add_argument("--retention", type=int, default=0)
    ap.add_argument("--compare", action="store_true")
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.paths)
    tree, out = (os.path.abspath(p) for p in args.paths)
    if args.child:
        sys.path.insert(0, tree)
        run_sequence(out, args.retention)
        return 0
    os.makedirs(out)
    return subprocess.run(
        [sys.executable, os.path.abspath(__file__), tree, out,
         "--retention", str(args.retention), "--child"],
        cwd=out).returncode


if __name__ == "__main__":
    sys.exit(main())
